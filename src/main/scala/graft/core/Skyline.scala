package graft.core

import scala.collection.mutable.ArrayBuffer

/** A d-dimensional data point in a QoS stream.
  *
  * Mirrors the reference's record model (`java/org.main/ServiceTuple.java:15-45`):
  * a monotonically-increasing id (doubles as the barrier-sync counter), the
  * d-dimensional attribute vector, and an `originPartition` tag stamped during the
  * local phase and consumed by the global phase for the Optimality metric.
  */
final case class Point(id: Long, values: Array[Double], originPartition: Int = -1)

/** Pareto-dominance kernel (minimization semantics).
  *
  * Semantics per reference `java/org.main/ServiceTuple.java:67-77`:
  * `a` dominates `b` iff a(i) <= b(i) for ALL i and a(i) < b(i) for AT LEAST one i.
  * Consequence: exact duplicates never dominate each other, so every duplicate of a
  * skyline point is itself a skyline member (observed in reference PDF §5.1).
  *
  * Dominance over a set of points is decided by one index, the kd tree of
  * [[buildKd]]; [[SkylineBuffer]] and every global merge query it.
  *
  * Arity: an index takes the arity of the first point it is built from and
  * leaves points of any other arity out, and a probe of another arity is
  * never dominated. So points of different arity never dominate each
  * other, and a point whose arity differs from an index's is kept
  * unchecked. Mixed arity is outside the contract.
  */
object Dominance {
  def dominates(a: Array[Double], b: Array[Double]): Boolean = {
    val n = a.length
    if (n != b.length) return false
    var better = false
    var i = 0
    while (i < n) {
      val av = a(i); val bv = b(i)
      if (av > bv) return false
      if (av < bv) better = true
      i += 1
    }
    better
  }

  /** Does the flat point at `base` dominate `vs`? */
  @inline private def dominatesAt(fl: Array[Double], base: Int, vs: Array[Double]): Boolean = {
    var better = false; var t = 0
    while (t < vs.length) {
      val av = fl(base + t); val bv = vs(t)
      if (av > bv) return false
      if (av < bv) better = true
      t += 1
    }
    better
  }

  /** Segments of at most this many points are kd leaves, scanned whole. */
  private final val KdLeaf = 8

  /** The kd tree of [[KdIndex]] over `points`; O(n log n). */
  private[graft] def buildKd(points: Array[Point]): KdIndex = {
    val d = if (points.isEmpty) 0 else points(0).values.length
    val kept = points.filter(_.values.length == d)
    val n = if (d == 0) 0 else kept.length
    val order = Array.range(0, n)
    val fl = new Array[Double](n * d)
    var k = 0
    while (k < n) { System.arraycopy(kept(k).values, 0, fl, k * d, d); k += 1 }
    // per-NODE bounding boxes, stored at the node's median slot (node =
    // segment [l, h), median m = (l + h) >>> 1)
    val boxLo = new Array[Double](n * d)
    val boxHi = new Array[Double](n * d)
    // quickselect: partition order[l, h) so that order(m) holds the median
    // by dimension t and smaller keys sit left of m; pivots come from a
    // xorshift stream seeded by m, so a build is deterministic
    def select(l0: Int, h0: Int, m: Int, t: Int): Unit = {
      var l = l0; var h = h0
      var r = m * 0x9E3779B97F4A7C15L + 1
      while (h - l > 1) {
        r ^= r << 13; r ^= r >>> 7; r ^= r << 17
        val pv = fl(order(l + ((r >>> 33) % (h - l)).toInt) * d + t)
        var i = l; var j = h - 1
        while (i <= j) {
          while (fl(order(i) * d + t) < pv) i += 1
          while (fl(order(j) * d + t) > pv) j -= 1
          if (i <= j) {
            val tmp = order(i); order(i) = order(j); order(j) = tmp
            i += 1; j -= 1
          }
        }
        // order[l, j] <= pv, order[i, h) >= pv, (j, i) == pv
        if (m <= j) h = j + 1
        else if (m >= i) l = i
        else return // m lands in the all-equal middle band: positioned
      }
    }
    def build(l: Int, h: Int): Unit = if (l < h) {
      val m = (l + h) >>> 1
      // segment bounding box → stored at m; ±Infinity starts keep a box
      // of infinite coordinates bounded by its real values
      var t = 0
      while (t < d) {
        var lo = Double.PositiveInfinity; var hi = Double.NegativeInfinity
        var i = l
        while (i < h) {
          val v = fl(order(i) * d + t)
          if (v < lo) lo = v
          if (v > hi) hi = v
          i += 1
        }
        boxLo(m * d + t) = lo; boxHi(m * d + t) = hi
        t += 1
      }
      if (h - l > KdLeaf) {
        // split on the widest dimension of THIS box
        var wt = 0; var wspan = -1.0
        t = 0
        while (t < d) {
          val span = boxHi(m * d + t) - boxLo(m * d + t)
          if (span > wspan) { wspan = span; wt = t }
          t += 1
        }
        select(l, h, m, wt)
        build(l, m)
        build(m + 1, h)
      }
    }
    build(0, n)
    // the points in tree order: node m's point sits at m * d
    val tree = new Array[Double](n * d)
    k = 0
    while (k < n) { System.arraycopy(fl, order(k) * d, tree, k * d, d); k += 1 }
    KdIndex(d, tree, boxLo, boxHi)
  }

  /** True iff some indexed point strictly dominates the vector `vs`, by the
    * kd tree's box-pruned range-emptiness search; see [[KdIndex]]. Reads
    * `vs` only and allocates nothing, so a caller can probe a reused
    * scratch vector before it builds a [[Point]]. */
  private[graft] def dominatedByKd(ix: KdIndex, vs: Array[Double]): Boolean = {
    val d = ix.d
    if (vs.length != d || ix.size == 0) return false
    def rec(l: Int, h: Int): Boolean = {
      if (l >= h) return false
      val m = (l + h) >>> 1
      val base = m * d
      var t = 0
      // prune: a dominator needs every coord <= c's; impossible if the
      // subtree's min corner pokes above c anywhere
      while (t < d) {
        if (ix.boxLo(base + t) > vs(t)) return false
        t += 1
      }
      // containment: the whole box is inside [-Inf, c], so any point that
      // differs from c dominates, and existence is readable off the box in
      // O(d): lo(t) < hi(t) means two points differ in dim t; lo(t) ==
      // hi(t) < c(t) means the box sits strictly below c in dim t. Neither
      // for any t ⟺ every point equals c ⟺ no dominator, so a duplicate
      // flood costs O(d) here.
      var contained = true
      t = 0
      while (contained && t < d) {
        if (ix.boxHi(base + t) > vs(t)) contained = false
        t += 1
      }
      if (contained) {
        t = 0
        while (t < d) {
          if (ix.boxLo(base + t) < ix.boxHi(base + t) ||
            ix.boxLo(base + t) < vs(t)) return true
          t += 1
        }
        return false // box degenerate to exactly c: equals never dominate
      }
      if (h - l <= KdLeaf) {
        var q = l
        while (q < h) { if (dominatesAt(ix.flat, q * d, vs)) return true; q += 1 }
        return false
      }
      if (dominatesAt(ix.flat, base, vs)) return true
      if (rec(l, m)) return true
      rec(m + 1, h)
    }
    rec(0, ix.size)
  }
}

/** A kd-tree dominance index over a point set (MBR pruning, as in "An
  * MBR-Oriented Approach for Efficient Skyline Query Processing", ICDE 2019).
  * `flat` holds the points in tree order: node `m` of segment [l, h) is the
  * point at `m * d`, `m = (l + h) >>> 1`, with its segment's bounding box at
  * the same slot of `boxLo`/`boxHi`.
  *
  * Certifying that a candidate c survives an antichain of s points by
  * scanning costs ~s/2 dominance tests, and on anti-correlated data no
  * dominator ever exists, so a pairwise merge is Θ(s²): 657 s for the
  * s = 2.22M union of 10M 4-D anti points on 32 cores.
  *
  * A dominator of c must lie in the corner box [-Inf, c]; for a survivor
  * that box is empty — an orthogonal range-emptiness query. Every node
  * stores its segment's bounding box:
  *   - a box whose min corner exceeds c in ANY dim holds no dominator — the
  *     subtree is pruned in d compares;
  *   - a box whose max corner is ≤ c in EVERY dim lies inside the corner
  *     box — any point ≠ c dominates, decided in O(d);
  *   - only boxes straddling c's staircase recurse, down to leaves of at
  *     most 8 points, which are scanned.
  * The split dimension is the box's widest. Verdicts are bit-identical to
  * a scan (KdIndexProps random-verifies them against the test reference
  * `PackedPoints.dominatedByPacked`).
  *
  * Memory: the boxes triple the flat footprint (3d doubles per point); at
  * the 4M-point broadcast bound in 5-D that is ~480 MB per executor. Past
  * the bound the cross-filter builds one index per chunk on the executors
  * instead. */
private[graft] case class KdIndex(d: Int, flat: Array[Double],
    boxLo: Array[Double], boxHi: Array[Double]) extends Serializable {
  def size: Int = if (d == 0) 0 else flat.length / d
}

/** Skyline maintenance: the reference's buffered BNL
  * (`java/org.main/FlinkSkyline.java:417-444`) computed through the kd index.
  *
  * A point survives iff no point added so far dominates it. The answer does
  * not depend on insert order, which is what makes the two-phase
  * (partial/merge) decomposition correct — skyline(A ∪ B) ==
  * skyline(skyline(A) ∪ skyline(B)).
  *
  * Admission: while it is on, an arriving point that the survivors' kd
  * index dominates is dropped at once. It is never staged, and through
  * [[offer]] it is never even allocated: the MBR-pruned dominance test of
  * "An MBR-Oriented Approach for Efficient Skyline Query Processing" (ICDE
  * 2019), applied before a row becomes an object. A dominated point is
  * never a skyline member, whatever dominates it, so admission never drops
  * one.
  *
  * Staging: points are staged, like the reference's 5000-record inputBuffer
  * (`FlinkSkyline.java:232,285-289`), and folded into the survivors once the
  * stage holds max(stage limit, survivors) points, so the total work on a
  * growing antichain stays O(n log n). The first stage holds
  * [[SkylineBuffer.FirstStage]] points and is not admitted: with no
  * survivors there is nothing to admit against. Each compaction then reads
  * what share of the points that arrived since the last one were dropped:
  *   - at least half: the input is mostly dominated, so admission is on and
  *     the next stage is FirstStage again, which keeps the index fresh;
  *   - less: the input is close to an antichain, where a probe rarely drops
  *     a point, so admission is off and the next stage is
  *     [[SkylineBuffer.StageLimit]].
  *
  * The survivors and the stage are plain buffers that kryo serializes
  * ([[graft.operators.SkylineAgg]]'s buffer encoder); the index is transient,
  * built from the survivors on the first probe after a compaction or a
  * round trip.
  */
final class SkylineBuffer extends Serializable {
  private var points = new ArrayBuffer[Point]() // the survivors, an antichain
  private var staged = new ArrayBuffer[Point]()
  private var admitting = false
  private var stageLimit = SkylineBuffer.FirstStage
  private var arrivals = 0 // points added since the last compaction
  @transient private var ix: KdIndex = _ // over the survivors; null: not built

  def size: Int = { compact(); points.length }
  def result: Seq[Point] = { compact(); points.toSeq }

  /** Stages `c` unless admission drops it. */
  def add(c: Point): Unit = if (admits(c.values)) stage(c)

  /** Stages `Point(id, a copy of vs)` unless admission drops `vs`; true
    * iff it was staged. `vs` is only read, so a row reader can pass one
    * scratch vector for every row. */
  def offer(id: Long, vs: Array[Double]): Boolean =
    admits(vs) && { stage(Point(id, vs.clone())); true }

  /** Every point held now, survivors and staged, without compacting. */
  def held: Iterator[Point] = points.iterator ++ staged.iterator

  /** Adds every point of `other` (survivors and staged). */
  def merge(other: SkylineBuffer): SkylineBuffer = {
    other.held.foreach(add)
    this
  }

  private def admits(vs: Array[Double]): Boolean = {
    arrivals += 1
    !admitting || {
      if (ix == null) ix = Dominance.buildKd(SkylineBuffer.collapse(points)._1)
      !Dominance.dominatedByKd(ix, vs)
    }
  }

  private def stage(c: Point): Unit = {
    staged += c
    if (staged.length >= math.max(stageLimit, points.length)) compact()
  }

  /** Folds the stage into the survivors:
    *  1. equal dimension vectors collapse to one index entry, since a
    *     verdict depends only on the vector (a duplicate flood is one);
    *  2. the stage's vectors are indexed — only those new in it when it was
    *     admitted (the survivors dominate none of them, and a copy of a
    *     survivor dominates nothing that survivor does not), every vector
    *     otherwise;
    *  3. each vector is kept, with every point that carries it, unless that
    *     index dominates it;
    *  4. the share of arrivals dropped sets admission and the next stage. */
  private def compact(): Unit = {
    if (staged.isEmpty) return
    val all = points ++ staged
    val (vecs, rep) = SkylineBuffer.collapse(all) // survivors' vectors first
    val firstNew =
      if (admitting) rep.iterator.take(points.length).foldLeft(-1)(math.max) + 1 else 0
    val index = Dominance.buildKd(vecs.drop(firstNew))
    val live = vecs.map(v => !Dominance.dominatedByKd(index, v.values))
    val next = new ArrayBuffer[Point]()
    var keptStaged = 0
    var i = 0
    while (i < all.length) {
      if (live(rep(i))) { next += all(i); if (i >= points.length) keptStaged += 1 }
      i += 1
    }
    admitting = 2 * (arrivals - keptStaged) >= arrivals
    stageLimit = if (admitting) SkylineBuffer.FirstStage else SkylineBuffer.StageLimit
    arrivals = 0
    points = next
    staged = new ArrayBuffer[Point]()
    ix = null
  }
}

object SkylineBuffer {
  /** The first stage, and the next one after a mostly dominated stage.
    * 128 timed no slower than 64 or 256 on the two shapes this kernel
    * serves: the uniform 4-D local phase, and the union of local antichains
    * that the per-id merge folds. */
  private[graft] final val FirstStage = 128
  /** The next stage after a mostly surviving one: the reference's buffer. */
  private[graft] final val StageLimit = 5000

  /** The first point of each distinct dimension vector of `pts`, and the
    * index of each point's vector among them. */
  private def collapse(pts: ArrayBuffer[Point]): (Array[Point], Array[Int]) = {
    val seen = new java.util.HashMap[Vec, Integer]()
    val reps = new ArrayBuffer[Point]()
    val rep = pts.iterator.map { p =>
      val r = seen.putIfAbsent(new Vec(p.values), reps.length)
      if (r != null) r.intValue else { reps += p; reps.length - 1 }
    }.toArray
    (reps.toArray, rep)
  }

  /** Bitwise equality of dimension vectors, as `java.util.Arrays.equals`. */
  private final class Vec(val vs: Array[Double]) {
    override val hashCode: Int = java.util.Arrays.hashCode(vs)
    override def equals(o: Any): Boolean = o match {
      case v: Vec => java.util.Arrays.equals(vs, v.vs)
      case _ => false
    }
  }

  def empty: SkylineBuffer = new SkylineBuffer

  /** Skyline of an iterator through [[SkylineBuffer.add]]: once a skyline
    * has formed, admission drops most points against the small index over
    * the survivors, where one index over the whole input would be built over
    * every row. */
  def of(it: Iterator[Point]): SkylineBuffer = {
    val buf = new SkylineBuffer
    it.foreach(buf.add)
    buf
  }
}
