package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Dominance, PackedPoints, Point}

/** The kd-tree dominance index (Dominance.buildKd / dominatedByKd) must
  * return EXACTLY PackedPoints.dominatedByPacked's verdict on every input — box pruning
  * and containment exits are conservative shortcuts, never approximations.
  * Random-verified across the regimes that stress different paths:
  * uniform (containment exits), anti-correlated shells (staircase
  * pruning), duplicates, degenerate dimensions, and tiny chunks. */
class KdIndexProps extends AnyFunSuite {

  private def verify(points: Array[Point], probes: Array[Point],
      label: String): Unit = {
    val pk = PackedPoints.pack(points)
    val ix = Dominance.buildKd(points)
    probes.foreach { p =>
      val want = PackedPoints.dominatedByPacked(pk, p)
      val got = Dominance.dominatedByKd(ix, p.values)
      assert(got == want,
        s"$label: verdict mismatch for ${p.id}: indexed=$got packed=$want " +
          s"values=${p.values.mkString(",")}")
    }
  }

  test("uniform random: indexed verdicts == packed verdicts") {
    for (trial <- 0 until 20; d <- Seq(2, 3, 4, 5)) {
      val rnd = new scala.util.Random(trial * 31 + d)
      val pts = Array.tabulate(200)(i =>
        Point(i.toLong, Array.fill(d)(rnd.nextDouble() * 1000)))
      val probes = Array.tabulate(100)(i =>
        Point(1000L + i, Array.fill(d)(rnd.nextDouble() * 1200 - 100)))
      verify(pts, pts ++ probes, s"uniform d=$d trial=$trial")
    }
  }

  test("anti-correlated band: indexed verdicts == packed verdicts") {
    for (trial <- 0 until 20; d <- Seq(3, 4, 5)) {
      val rnd = new scala.util.Random(trial * 131 + d)
      def band(): Array[Double] = {
        val raw = Array.fill(d)(rnd.nextDouble())
        val s = raw.sum
        raw.map(v => v / s * 1000 + rnd.nextGaussian() * 20)
      }
      val pts = Array.tabulate(300)(i => Point(i.toLong, band()))
      verify(pts, pts ++ Array.tabulate(100)(i => Point(2000L + i, band())),
        s"anti d=$d trial=$trial")
    }
  }

  test("duplicates, degenerate dims, and tiny chunks") {
    val rnd = new scala.util.Random(7)
    // duplicates: a duplicated point never dominates its copy
    val dup = Array.tabulate(50)(i =>
      Point(i.toLong, Array((i % 5).toDouble, ((i / 5) % 5).toDouble)))
    verify(dup, dup, "duplicates")
    // a fully degenerate chunk (every point identical)
    val same = Array.tabulate(20)(i => Point(i.toLong, Array(3.0, 4.0, 5.0)))
    val probes = Array(Point(100L, Array(3.0, 4.0, 5.0)),
      Point(101L, Array(3.0, 4.0, 6.0)), Point(102L, Array(2.0, 4.0, 5.0)),
      Point(103L, Array(9.0, 9.0, 9.0)), Point(104L, Array(0.0, 0.0, 0.0)))
    verify(same, probes, "all-identical chunk")
    // one degenerate dimension among live ones
    val mixed = Array.tabulate(100)(i =>
      Point(i.toLong, Array(7.0, rnd.nextDouble() * 100, rnd.nextDouble() * 100)))
    val mprobes = Array.tabulate(100)(i =>
      Point(500L + i, Array(if (i % 2 == 0) 7.0 else rnd.nextDouble() * 14,
        rnd.nextDouble() * 120, rnd.nextDouble() * 120)))
    verify(mixed, mixed ++ mprobes, "degenerate dim")
    // empty and single-point chunks
    verify(Array.empty[Point], probes, "empty chunk")
    verify(Array(Point(0L, Array(1.0, 2.0))),
      Array(Point(1L, Array(2.0, 3.0)), Point(2L, Array(0.5, 1.0)),
        Point(3L, Array(1.0, 2.0))), "single point")
  }

  test("1-D and high-g edge: indexed == packed") {
    for (trial <- 0 until 10) {
      val rnd = new scala.util.Random(trial)
      val pts = Array.tabulate(100)(i =>
        Point(i.toLong, Array(rnd.nextDouble() * 50)))
      verify(pts, pts ++ Array.tabulate(50)(i =>
        Point(300L + i, Array(rnd.nextDouble() * 60 - 5))), s"1d trial=$trial")
    }
  }

  test("a box with an infinite coordinate is bounded by its real values") {
    // a +Inf-only dimension once left the box minimum at Double.MaxValue,
    // so a point read as "differing" from itself and dominated itself
    val inf = Double.PositiveInfinity
    val pts = Array(Point(0L, Array(inf, 0.0, 1.0)), Point(1L, Array(-inf, 1.0, 2.0)))
    val ix = Dominance.buildKd(Array(pts(0)))
    assert(!Dominance.dominatedByKd(ix, pts(0).values))
    val both = Dominance.buildKd(pts)
    assert(pts.forall(p => !Dominance.dominatedByKd(both, p.values)))
  }

  test("a reused scratch vector probes like the point it holds") {
    // the row readers copy each row into one array and probe that array
    for (trial <- 0 until 10; d <- Seq(2, 3, 4)) {
      val rnd = new scala.util.Random(trial * 17 + d)
      val pts = Array.tabulate(300)(i => Point(i.toLong, Array.fill(d)(rnd.nextInt(40).toDouble)))
      val pk = PackedPoints.pack(pts)
      val ix = Dominance.buildKd(pts)
      val vs = new Array[Double](d)
      val probes = pts ++ Array.tabulate(100)(i =>
        Point(1000L + i, Array.fill(d)(rnd.nextInt(50).toDouble - 5)))
      probes.foreach { p =>
        System.arraycopy(p.values, 0, vs, 0, d)
        assert(Dominance.dominatedByKd(ix, vs) == PackedPoints.dominatedByPacked(pk, p),
          s"d=$d trial=$trial values=${p.values.mkString(",")}")
      }
    }
  }
}
