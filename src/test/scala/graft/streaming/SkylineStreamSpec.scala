package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Dominance
import graft.operators.SparkTestSession

/** End-to-end streaming protocol tests (reference A1/A2/A3 + B1 + C1):
  * barrier parking/firing across micro-batches (on the local
  * transformWithState stage), empty-partition immediate answers, duplicate
  * survival, and agreement with the batch skyline (the chained topology run
  * as a batch query). */
class SkylineStreamSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val N = 4
  private val DOMAIN = 100.0

  private def mkLines(pts: Seq[(Long, Double, Double)]): Seq[String] =
    pts.map { case (id, a, b) => s"$id,$a,$b" }

  /** Skyline size with duplicates counted individually (BNL semantics). */
  private def bruteSize(pts: Seq[(Long, Double, Double)]): Int = {
    val vs = pts.map { case (_, a, b) => Array(a, b) }
    vs.count(t => !vs.exists(u => Dominance.dominates(u, t)))
  }

  /** Runs `body` against the local stage of the topology on a streaming
    * query over two MemoryStreams (data lines, trigger payloads), with the
    * RocksDB provider transformWithState needs. */
  private def withLocalStage(name: String)(
      body: (MemoryStream[String], MemoryStream[String], StreamingQuery) => Unit): Unit = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val ckpt = java.nio.file.Files.createTempDirectory(name).toString
    val dataIn = MemoryStream[String]
    val trigIn = MemoryStream[String]
    val n = N; val dom = DOMAIN   // local copies: closures must not capture the spec
    val pidOf = graft.operators.SkylineOps.pidFunction("mr-dim", dom, n)
    val env = dataIn.toDS().flatMap(l => SkylineStream.parseData(l, pidOf))
      .unionAll(trigIn.toDS().flatMap(p =>
        SkylineStream.broadcastTrigger(p, n, 12345L)))
    val q = SkylineStreamTWS.localStage(env)
      .writeStream.format("memory").queryName(name)
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append).start()
    try body(dataIn, trigIn, q)
    finally {
      q.stop()
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("batch pipeline: trigger after data computes the global skyline + metrics") {
    import spark.implicits._
    val rng = new scala.util.Random(5)
    val pts = Seq.tabulate(500)(i =>
      (i.toLong, rng.nextInt(100).toDouble, rng.nextInt(100).toDouble))
    // barrier 400: with seeded data every mr-dim slice holds an id >= 400
    // (per-partition maxSeenId semantics — a barrier only one partition can
    // reach parks forever, exactly like the reference protocol)
    val res = SkylineStream.runBatch(spark,
      spark.createDataset(mkLines(pts)), Seq("1,400"), "mr-dim", DOMAIN, N)
    assert(res.length == 1)
    val r = res.head
    assert(r.queryId == "1" && r.recordCount == "400")
    assert(r.skylineSize == bruteSize(pts))  // duplicates counted individually
    assert(r.optimality >= 0.0 && r.optimality <= 1.0)
    assert(r.toJson.contains("\"skyline_size\""))
  }

  test("a result's JSON parses whatever the trigger payload holds") {
    import spark.implicits._
    import org.json4s.{JInt, JString}
    import org.json4s.jackson.JsonMethods.parse
    // every line in mr-dim partition 0, so the barrier at id 5 is reached
    val lines = spark.createDataset(Seq("10,1.0,2.0", "11,2.0,1.0"))
    val cases = Seq(("q\"1\\,5", "q\"1\\", JInt(5)),
      ("a\u0001\tb,7\"\\\n8", "a\u0001\tb", JString("7\"\\\n8")),
      ("q2,007", "q2", JString("007")))
    for ((payload, queryId, count) <- cases) {
      val res = SkylineStream.runBatch(spark, lines, Seq(payload), "mr-dim", DOMAIN, N)
      assert(res.length == 1, payload)
      val json = parse(res.head.toJson)
      assert(json \ "query_id" == JString(queryId), res.head.toJson)
      assert(json \ "record_count" == count, res.head.toJson)
      assert(json \ "skyline_size" == JInt(2), res.head.toJson)
    }
  }

  test("malformed lines are dropped, duplicates survive") {
    import spark.implicits._
    val lines = Seq("0,5.0,5.0", "1,0.0,0.0", "2,0.0,0.0", "garbage", "3", "4,1.0,xx",
      "5,0.0,0.0", "6,NaN,0.0")
    val res = SkylineStream.runBatch(spark,
      spark.createDataset(lines), Seq("7,5"), "mr-grid", DOMAIN, N)
    assert(res.length == 1)
    // three duplicates of (0,0) survive; (5,5) dominated; the NaN line is
    // malformed and dropped (kept, nothing would dominate it)
    assert(res.head.skylineSize == 3)
  }

  test("streaming: trigger parks until the barrier is reached in a later batch") {
    withLocalStage("local_out") { (dataIn, trigIn, q) =>
      // batch 1: a bit of data up to id 9 + a trigger requiring id >= 20
      dataIn.addData(mkLines(Seq((0L, 50.0, 50.0), (9L, 10.0, 90.0))))
      trigIn.addData("1,20")
      q.processAllAvailable()
      val afterB1 = spark.table("local_out").collect()
      // partitions that saw data parked the query; empty partitions answered
      val firedPids = afterB1.map(_.getAs[Int]("pid")).toSet
      assert(afterB1.forall(_.getAs[Seq[Any]]("skyline").isEmpty))
      assert(firedPids.size < N)
      // batch 2: data crosses the barrier in every parked slice → queries fire
      dataIn.addData(mkLines(Seq((20L, 5.0, 5.0), (21L, 90.0, 10.0), (22L, 60.0, 20.0))))
      q.processAllAvailable()
      val afterB2 = spark.table("local_out").collect()
      assert(afterB2.map(_.getAs[Int]("pid")).toSet.size == N)
      // every partition answered exactly once for this query
      assert(afterB2.map(r => (r.getAs[Int]("pid"), r.getAs[String]("payload")))
        .distinct.length == N)
      assert(afterB2.length == N)
    }
  }

  test("bare trigger payload (no comma) fires immediately; empty partitions answer") {
    withLocalStage("bare_out") { (_, trigIn, q) =>
      trigIn.addData("9")
      q.processAllAvailable()
      val rows = spark.table("bare_out").collect()
      assert(rows.length == N)               // all partitions answer immediately
      assert(rows.forall(_.getAs[Seq[Any]]("skyline").isEmpty))
    }
  }

  test("streaming result equals batch skyline across strategies") {
    import spark.implicits._
    val rng = new scala.util.Random(17)
    val pts = Seq.tabulate(800)(i =>
      (i.toLong, rng.nextInt(80).toDouble, rng.nextInt(80).toDouble))
    val expect = bruteSize(pts)
    for (strategy <- Seq("mr-dim", "mr-grid", "mr-angle")) {
      val res = SkylineStream.runBatch(spark, spark.createDataset(mkLines(pts)),
        Seq("q,700"), strategy, 80.0, N)
      assert(res.length == 1, strategy)
      // every strategy returns the exact skyline, duplicates included
      assert(res.head.skylineSize == expect, strategy)
    }
    // 3-D mr-grid has 2^3 cells whatever N is asked for: with N = 4 every
    // cell must still get a trigger, and the optimality mean (batch and
    // streaming) must cover all eight, so N = 4 and N = 8 agree
    val rng3 = new scala.util.Random(5)
    val pts3 = Seq.tabulate(600)(i => (i.toLong, Array.fill(3)(rng3.nextInt(100).toDouble)))
    val expect3 = pts3.count { case (_, t) =>
      !pts3.exists { case (_, u) => Dominance.dominates(u, t) } }
    val lines3 = spark.createDataset(pts3.map { case (id, v) => (id +: v.toSeq).mkString(",") })
    val grid = Seq(N, 8).map(n => SkylineStream.runBatch(spark, lines3, Seq("q,500"),
      "mr-grid", DOMAIN, n).head)
    assert(grid.map(_.skylineSize) == Seq(expect3, expect3))
    assert(math.abs(grid(0).optimality - grid(1).optimality) < 1e-9)
    val batchOpt = Seq(N, 8).map(n => graft.operators.SkylineOps.skylineWithMetrics(
      spark.createDataset(pts3.map { case (id, v) => graft.core.Point(id, v) }),
      "mr-grid", DOMAIN, n, "q", 600L).head().getAs[Double]("optimality"))
    assert(batchOpt(0) == batchOpt(1))
  }
}
