package graft.streaming

import java.nio.file.Files
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SparkTestSession

/** Fault-tolerance parity (SURVEY §2.2: Structured Streaming checkpointing
  * replaces Flink managed state): the local stage's keyed state
  * (maxSeenId, parked queries, local skyline) must survive a query restart
  * from the checkpoint — a trigger parked before the stop fires after the
  * restart once its barrier is crossed, without reprocessing old data.
  * [[TWSRecoverySpec]] covers the same restart through both stages. */
class CheckpointRecoverySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("parked trigger fires after restart from checkpoint") {
    import spark.implicits._
    val n = 2
    val dataDir = Files.createTempDirectory("ckpt-data").toString
    val trigDir = Files.createTempDirectory("ckpt-trig").toString
    val ckpt = Files.createTempDirectory("ckpt-state").toString
    val outDir = Files.createTempDirectory("ckpt-out").toString
    val pidOf = graft.operators.SkylineOps.pidFunction("mr-dim", 100.0, n)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

    def startQuery() = {
      val env = Sources.fileLines(spark, dataDir)
        .flatMap(l => SkylineStream.parseData(l, pidOf))
        .unionAll(Sources.fileLines(spark, trigDir)
          .flatMap(p => SkylineStream.broadcastTrigger(p, n, 1L)))
      SkylineStreamTWS.localStage(env)
        .writeStream.format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append).start()
    }

    try {
      // run 1: data in both slices (ids 0,1), trigger needing id >= 5 parks
      Files.writeString(java.nio.file.Paths.get(dataDir, "d1.csv"),
        "0,10.0,10.0\n1,80.0,80.0\n")
      val q1 = startQuery()
      q1.processAllAvailable()
      Files.writeString(java.nio.file.Paths.get(trigDir, "t1.txt"), "7,5\n")
      q1.processAllAvailable()
      assert(spark.read.parquet(outDir).count() == 0)   // parked on both slices
      q1.stop()

      // run 2 (fresh query instance, same checkpoint): barrier-crossing data
      val q2 = startQuery()
      Files.writeString(java.nio.file.Paths.get(dataDir, "d2.csv"),
        "5,5.0,5.0\n6,90.0,20.0\n")
      q2.processAllAvailable()
      val out = spark.read.parquet(outDir).collect()
      q2.stop()
      // both partitions answer the parked query exactly once; the restored
      // state interacts with run-2 data: (5,5) evicts run-1's (10,10) in
      // slice 0, while (90,20) and run-1's (80,80) are incomparable in slice 1
      assert(out.map(_.getAs[Int]("pid")).sorted.toSeq == Seq(0, 1))
      val skySizes = out.map(r =>
        r.getAs[Int]("pid") -> r.getAs[Seq[Any]]("skyline").size).toMap
      assert(skySizes(0) == 1)   // (5,5) dominated run-1's (10,10)
      assert(skySizes(1) == 2)   // (80,80) from run 1 + (90,20) from run 2
    } finally {
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }
}
