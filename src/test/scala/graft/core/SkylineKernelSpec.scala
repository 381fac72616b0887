package graft.core

import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

/** Kernel invariants, mirroring the reference semantics
  * (`java/org.main/ServiceTuple.java:67-77`, `FlinkSkyline.java:417-444`).
  * Property-style tests use a fixed seed for determinism.
  */
class SkylineKernelSpec extends AnyFunSuite {

  private def bruteForce(pts: Seq[Point]): Set[(Long, Seq[Double])] =
    pts.filter(t => !pts.exists(u => Dominance.dominates(u.values, t.values)))
      .map(p => (p.id, p.values.toSeq)).toSet

  private def asSet(pts: Seq[Point]): Set[(Long, Seq[Double])] =
    pts.map(p => (p.id, p.values.toSeq)).toSet

  private def randPoints(rng: Random, n: Int, dims: Int, card: Int): List[Point] =
    List.tabulate(n)(i => Point(i.toLong,
      Array.fill(dims)(rng.nextInt(card).toDouble)))

  test("dominance truth table (minimization, strict-in-one)") {
    assert(Dominance.dominates(Array(1.0, 2.0), Array(2.0, 2.0)))
    assert(Dominance.dominates(Array(1.0, 1.0), Array(2.0, 2.0)))
    assert(!Dominance.dominates(Array(2.0, 2.0), Array(1.0, 2.0)))
    assert(!Dominance.dominates(Array(1.0, 3.0), Array(3.0, 1.0))) // incomparable
    // exact duplicates never dominate each other
    assert(!Dominance.dominates(Array(5.0, 5.0), Array(5.0, 5.0)))
  }

  test("duplicates of a skyline point are all skyline members") {
    val pts = Seq(Point(1, Array(0.0, 0.0)), Point(2, Array(0.0, 0.0)),
      Point(3, Array(1.0, 1.0)), Point(4, Array(0.0, 0.0)))
    val sky = SkylineBuffer.of(pts.iterator).result
    assert(asSet(sky) == Set((1L, Seq(0.0, 0.0)), (2L, Seq(0.0, 0.0)), (4L, Seq(0.0, 0.0))))
  }

  test("a duplicate flood is handled at volume (the degenerate generator shape)") {
    // the reference's high-d anti-correlated generator clamps 22-40% of
    // points to the origin; all copies are skyline members (duplicates
    // never dominate). 200k copies through the buffer must (a) all
    // survive, (b) evict everything they dominate, and (c) finish in
    // near-linear time: equal vectors collapse to one kd index entry —
    // O(k²) duplicate rescans once cost a 657 s merge
    val rng = new Random(7)
    val flood = List.tabulate(200000)(i => Point(i.toLong, Array(0.0, 0.0, 0.0)))
    val rest = List.tabulate(5000)(i => Point(1000000L + i,
      Array.fill(3)((1 + rng.nextInt(9)).toDouble)))
    val sky = SkylineBuffer.of(rng.shuffle(flood ++ rest).iterator).result
    assert(sky.length == 200000)
    assert(sky.forall(p => p.values.forall(_ == 0.0)))
  }

  test("BNL matches brute force and is insertion-order insensitive") {
    val rng = new Random(42)
    for (_ <- 1 to 60) {
      val dims = 2 + rng.nextInt(3)
      val pts = randPoints(rng, rng.nextInt(80), dims, 10)
      val expect = bruteForce(pts)
      assert(asSet(SkylineBuffer.of(pts.iterator).result) == expect)
      val shuffled = rng.shuffle(pts)
      assert(asSet(SkylineBuffer.of(shuffled.iterator).result) == expect)
    }
  }

  test("presorted bulk build equals incremental build") {
    val rng = new Random(7)
    for (_ <- 1 to 60) {
      val pts = randPoints(rng, rng.nextInt(100), 3, 8)
      assert(asSet(SkylineBuffer.of(pts.iterator).result) ==
        asSet(SkylineBuffer.of(pts.iterator).result))
    }
  }

  test("skyline is an antichain") {
    val rng = new Random(11)
    for (_ <- 1 to 30) {
      val sky = SkylineBuffer.of(randPoints(rng, 120, 3, 6).iterator).result
      for (a <- sky; b <- sky)
        assert(!Dominance.dominates(a.values, b.values))
    }
  }

  test("distributivity: sky(A ∪ B) == sky(sky(A) ∪ sky(B))") {
    val rng = new Random(13)
    for (_ <- 1 to 40) {
      val a = randPoints(rng, rng.nextInt(60), 2, 12)
      val b = randPoints(rng, rng.nextInt(60), 2, 12)
      val whole = SkylineBuffer.of((a ++ b).iterator).result
      val merged = SkylineBuffer.of(
        (SkylineBuffer.of(a.iterator).result ++
          SkylineBuffer.of(b.iterator).result).iterator).result
      assert(asSet(whole) == asSet(merged))
    }
  }

  test("non-finite coordinates: dominated +Inf-sum points are evicted") {
    // points whose coordinate sums are both +Inf (or -Inf) still dominate
    // one another; the kd verdicts compare coordinates, never sums
    val b = SkylineBuffer.empty
    b.add(Point(2, Array(1.0, Double.PositiveInfinity)))
    b.add(Point(1, Array(0.0, Double.PositiveInfinity)))
    b.add(Point(3, Array(5.0, 5.0)))
    val ids = b.result.map(_.id).toSet
    assert(ids == Set(1L, 3L), s"got $ids")
    // -Inf sums: (-Inf, 1) dominates (-Inf, 2)
    val c = SkylineBuffer.empty
    c.add(Point(10, Array(Double.NegativeInfinity, 2.0)))
    c.add(Point(11, Array(Double.NegativeInfinity, 1.0)))
    val ids2 = c.result.map(_.id).toSet
    assert(ids2 == Set(11L), s"got $ids2")
  }

  test("multi-compaction: add in two orders, of and merge agree with brute force") {
    // more than 3 x StageLimit points, so every path crosses several
    // compaction boundaries, some with more survivors than StageLimit
    val rng = new Random(2025)
    val inf = Double.PositiveInfinity
    val pts = Array.tabulate(3 * SkylineBuffer.StageLimit + 1000) { i =>
      val vs = i % 5 match {
        case 0 | 1 => // an antichain on x + y + z = 300 with ties and repeats
          val x = rng.nextInt(301); val y = rng.nextInt(301 - x)
          Array(x, y, 300 - x - y).map(_.toDouble)
        case 2 => // sums >= 300: dominated by the plane or on top of it
          Array.fill(3)(100.0 + rng.nextInt(300))
        case 3 => // duplicate floods: a skyline vector and a dominated one
          if (rng.nextBoolean()) Array(0.0, 150.0, 150.0) else Array(200.0, 200.0, 200.0)
        case _ => // ±Inf, dominating only within their own rows
          if (rng.nextBoolean()) Array(inf, -1.0, rng.nextInt(3).toDouble)
          else Array(-inf, 301.0 + rng.nextInt(3), 301.0 + rng.nextInt(3))
      }
      Point(i.toLong, vs)
    }
    val expect = {
      val alive = pts.filter(t => !pts.exists(u => Dominance.dominates(u.values, t.values)))
      alive.map(_.id).sorted.toSeq
    }
    assert(expect.length > SkylineBuffer.StageLimit)
    def ids(b: SkylineBuffer): Seq[Long] = b.result.map(_.id).sorted
    assert(ids(SkylineBuffer.of(pts.iterator)) == expect, "add")
    assert(ids(SkylineBuffer.of(rng.shuffle(pts.toSeq).iterator)) == expect,
      "add, shuffled")
    assert(ids(SkylineBuffer.of(pts.reverseIterator)) == expect, "of")
    val (a, b) = pts.partition(_.id % 3 == 0)
    assert(ids(SkylineBuffer.of(a.iterator).merge(SkylineBuffer.of(b.iterator))) == expect,
      "merge")
  }

  test("admission: every order, ±Inf and floods equal brute force; no member is dropped") {
    // a first stage of FirstStage points, then stages that flip admission on
    // (mostly dominated arrivals) and off (antichain runs); offer must stage
    // every skyline member, from one scratch vector reused for every row
    val rng = new Random(77)
    val inf = Double.PositiveInfinity
    val n = 12 * SkylineBuffer.FirstStage
    val pts = Array.tabulate(n) { i =>
      val vs = (i / SkylineBuffer.FirstStage) % 4 match {
        case 0 => Array.fill(3)(rng.nextInt(50).toDouble) // mostly dominated
        case 1 => // an antichain run on x + y + z = 60
          val x = rng.nextInt(61); val y = rng.nextInt(61 - x)
          Array(x, y, 60 - x - y).map(_.toDouble)
        case 2 => // floods of one skyline vector and one dominated vector
          if (rng.nextBoolean()) Array(0.0, 30.0, 30.0) else Array(40.0, 40.0, 40.0)
        case _ => // ±Inf, dominating only within their own rows
          if (rng.nextBoolean()) Array(inf, -1.0, rng.nextInt(3).toDouble)
          else Array(-inf, 61.0 + rng.nextInt(3), 61.0 + rng.nextInt(3))
      }
      Point(i.toLong, vs)
    }
    val expect = bruteForce(pts.toSeq)
    val members = expect.map(_._1)
    val sum = (p: Point) => p.values.sum
    val orders = Seq(
      "input" -> pts.toSeq,
      "shuffled" -> rng.shuffle(pts.toSeq),
      "skyline first" -> pts.toSeq.sortBy(p => (!members(p.id), p.id)),
      "skyline last" -> pts.toSeq.sortBy(p => (members(p.id), p.id)),
      "sum ascending" -> pts.toSeq.sortBy(p => (sum(p), p.id)),
      "sum descending" -> pts.toSeq.sortBy(p => (-sum(p), p.id)))
    for ((name, order) <- orders) {
      assert(asSet(SkylineBuffer.of(order.iterator).result) == expect, s"add, $name")
      val b = SkylineBuffer.empty
      val vs = new Array[Double](3)
      val staged = order.filter { p =>
        System.arraycopy(p.values, 0, vs, 0, 3)
        b.offer(p.id, vs)
      }.map(_.id).toSet
      assert(members.subsetOf(staged), s"offer dropped a member, $name")
      assert(asSet(b.result) == expect, s"offer, $name")
    }
  }

  test("a buffer round-tripped through kryo mid-stream keeps admitting soundly") {
    // the index is transient: the copy rebuilds it from its survivors
    val ser = new org.apache.spark.serializer.KryoSerializer(new org.apache.spark.SparkConf())
      .newInstance()
    val rng = new Random(91)
    val pts = randPoints(rng, 10 * SkylineBuffer.FirstStage, 3, 40)
    val (head, tail) = pts.splitAt(pts.length / 2)
    val b = SkylineBuffer.of(head.iterator)
    val copy = ser.deserialize[SkylineBuffer](ser.serialize(b))
    tail.foreach(copy.add)
    assert(asSet(copy.result) == bruteForce(pts))
  }
}
