package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

import graft.core.Point
import graft.streaming.SkylineStream.LocalResult
import graft.streaming.SkylineStreamTWS.{GlobalMeta, barrier, emptyMeta, latch, requiredCount}

/** The streaming protocol's two rules as pure functions, without Spark:
  * the per-partition barrier (park/fire, A2) under adversarial arrival
  * orders, and the global countdown latch (A3). */
class BarrierLatchSpec extends AnyFunSuite {

  private def q(payload: String, dispatchMs: Long = 1L) = (payload, dispatchMs)

  test("trigger before any data fires at once and is not answered again") {
    val b1 = barrier(-1L, Nil, Nil, Seq(q("1,50")))
    assert(b1.maxSeenId == -1L)
    assert(b1.fireNow == Seq(q("1,50")) && b1.ready.isEmpty && b1.parked.isEmpty)
    // the data that follows finds nothing parked
    val b2 = barrier(b1.maxSeenId, b1.parked, Seq(10L, 60L), Nil)
    assert(b2.maxSeenId == 60L)
    assert(b2.ready.isEmpty && b2.fireNow.isEmpty && b2.parked.isEmpty)
  }

  test("a barrier never reached stays parked across batches") {
    val b1 = barrier(3L, Nil, Seq(4L), Seq(q("1,100")))
    assert(b1.parked == Seq(q("1,100")) && b1.fireNow.isEmpty)
    val b2 = barrier(b1.maxSeenId, b1.parked, Seq(50L, 99L), Nil)
    assert(b2.maxSeenId == 99L)
    assert(b2.parked == Seq(q("1,100")) && b2.ready.isEmpty)
    val b3 = barrier(b2.maxSeenId, b2.parked, Nil, Nil)
    assert(b3.parked == Seq(q("1,100")) && b3.ready.isEmpty)
    // crossing it releases the parked query, in order with later ones
    val b4 = barrier(b3.maxSeenId, b3.parked :+ q("2,200", 2L), Seq(100L), Nil)
    assert(b4.ready == Seq(q("1,100")) && b4.parked == Seq(q("2,200", 2L)))
  }

  test("an empty partition answers every trigger at once") {
    val b = barrier(-1L, Nil, Nil, Seq(q("1,0"), q("2,5"), q(s"3,${Long.MaxValue}")))
    assert(b.fireNow.map(_._1) == Seq("1,0", "2,5", s"3,${Long.MaxValue}"))
    assert(b.parked.isEmpty)
  }

  test("the same trigger twice is answered twice by the barrier") {
    // parked twice, released twice: de-duplication is the latch's job
    val b1 = barrier(5L, Nil, Nil, Seq(q("1,9"), q("1,9")))
    assert(b1.parked == Seq(q("1,9"), q("1,9")))
    val b2 = barrier(b1.maxSeenId, b1.parked, Seq(9L), Seq(q("1,9")))
    assert(b2.ready == Seq(q("1,9"), q("1,9")) && b2.fireNow == Seq(q("1,9")))
    assert(b2.parked.isEmpty)
  }

  test("an unparseable or missing count falls back to 0") {
    assert(requiredCount("1,abc") == 0L)
    assert(requiredCount("bare") == 0L)
    assert(requiredCount("1, 42 ") == 42L)
    val b = barrier(0L, Nil, Nil, Seq(q("1,abc"), q("bare")))
    assert(b.fireNow.map(_._1) == Seq("1,abc", "bare") && b.parked.isEmpty)
  }

  test("data and trigger in one batch: the data is applied first") {
    val b = barrier(2L, Nil, Seq(7L, 10L, 4L), Seq(q("1,10"), q("2,11")))
    assert(b.maxSeenId == 10L)
    assert(b.fireNow == Seq(q("1,10")) && b.parked == Seq(q("2,11")))
  }

  private def local(pid: Int, size: Int, startMs: Long = 100L, cpuMs: Long = 1L) =
    LocalResult(pid, "1,0", 7L, startMs,
      Seq.tabulate(size)(i => Point(i.toLong, Array(i.toDouble), pid)), cpuMs)

  /** Counts `rows` arriving at `nowMs` into `m`, as the global stage does. */
  private def arrive(m: GlobalMeta, rows: Seq[LocalResult], nowMs: Long) =
    rows.foldLeft(m)((acc, r) => latch(acc, r, nowMs).getOrElse(acc))

  test("latch: a partition answering twice is counted once") {
    val m1 = arrive(emptyMeta, Seq(local(0, 2), local(1, 3)), 500L)
    assert(m1.arrived == 2)
    // a duplicate trigger's second answer is not counted
    assert(latch(m1, local(0, 5), 600L).isEmpty)
    // ... whether it comes in a later batch or inside one batch
    val m2 = arrive(m1, Seq(local(0, 5), local(2, 1), local(2, 4)), 600L)
    assert(m2.arrived == 3)
    assert(m2.localSizes == Seq(0 -> 2, 1 -> 3, 2 -> 1))
    assert(m2.lastArrival == 600L)
  }

  test("latch tracks the earliest start and the largest local cpu") {
    val m = arrive(emptyMeta,
      Seq(local(0, 1, startMs = 300L, cpuMs = 4L), local(1, 0, startMs = 200L, cpuMs = 9L),
        local(2, 1, startMs = 250L, cpuMs = 2L)), 800L)
    assert(m.minStart == 200L && m.maxCpu == 9L && m.dispatchMs == 7L)
    assert(m.localSizes.toMap == Map(0 -> 1, 1 -> 0, 2 -> 1))
  }

  test("queryResult: optimality is the mean survivor share over all partitions") {
    val m = arrive(emptyMeta, Seq(local(0, 2, cpuMs = 30L), local(1, 4), local(2, 0)), 900L)
    // the merge keeps 1 of partition 0's 2 points and all 4 of partition
    // 1's; partition 2 is empty and partition 3 never answered
    val global = Point(0L, Array(0.0), 0) +:
      Seq.tabulate(4)(i => Point(i.toLong, Array(0.0), 1))
    val r = SkylineStreamTWS.queryResult("q,5", m, 950L, global, 4)
    assert(r.queryId == "q" && r.recordCount == "5" && r.skylineSize == 5)
    assert(r.optimality == (0.5 + 1.0) / 4)
    // local work started at 100 and the last answer arrived at 900
    assert(r.localProcessingTimeMs == 30L && r.ingestionTimeMs == 800L - 30L)
    assert(r.globalProcessingTimeMs == 50L && r.totalProcessingTimeMs == 850L)
    assert(SkylineStreamTWS.queryResult("bare", m, 950L, global, 4).recordCount == "unknown")
  }
}
