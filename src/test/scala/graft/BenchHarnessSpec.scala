package graft

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SparkTestSession

/** The streaming-entry runner's contract, on fixtures of a few dozen
  * documents: a lap leaves the session conf as it found it, its checkpoint
  * is deleted only after the lap, and the first lap's progress is what
  * gets published. */
class BenchHarnessSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import BenchHarness._

  private def streamConfs = StreamConfs.map { case (k, _) => k -> spark.conf.getOption(k) }

  test("a streaming entry whose build throws restores the conf and queues its checkpoint") {
    val laps = new Laps(spark)
    val before = streamConfs
    var storesInLap = ""
    val boom = StreamEntry("boom", Fixture(40L, 2, ts = false), Some(shingleIndex), 2,
      (_, _) => {
        storesInLap = spark.conf.get("spark.sql.shuffle.partitions")
        throw new IllegalStateException("boom")
      })
    val stats = mutable.Map[String, StreamStats]()
    var calls = 0
    runStreams(spark, laps, Seq(boom), 1L, stats) { (name, rows, lap) =>
      calls += 1
      assert(name == "boom" && rows == 40L)
      assert(intercept[IllegalStateException](lap()).getMessage == "boom")
      assert(storesInLap == StateStores.toString)
      assert(streamConfs == before)
      val queued = laps.pendingCleanup.toList
      assert(queued.map(_._1) == List("boom"))
      assert(Files.isDirectory(queued.head._2)) // not deleted inside the lap
      laps.drainCleanup()
      assert(!Files.exists(queued.head._2))
    }
    assert(calls == 1)
    assert(stats.isEmpty)
  }

  test("the first lap's progress is published and a rerun does not replace it") {
    val laps = new Laps(spark)
    val ids = StreamEntry("ids", Fixture(60L, 3, ts = false), None, 2,
      (src, _) => src.select(col("doc_id")))
    val stats = mutable.Map[String, StreamStats]()
    runStreams(spark, laps, Seq(ids), 1L, stats) { (name, _, lap) =>
      assert(laps.lap(name, lap).t >= 0, laps.errors)
      val first = stats(name)
      assert(first.batchSec.length == 3) // one micro-batch per fixture file
      assert(laps.lap(name, lap).t >= 0, laps.errors)
      assert(stats(name) eq first)
    }
    assert(laps.pendingCleanup.isEmpty && laps.cleanupErrors.isEmpty)
  }
}
