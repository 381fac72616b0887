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
}

/** Block-Nested-Loop skyline maintenance.
  *
  * Same fixpoint as the reference's buffered BNL
  * (`java/org.main/FlinkSkyline.java:417-444`): a candidate dominated by any
  * current member is dropped; a candidate that dominates members evicts them;
  * otherwise it is inserted. Insert order does not change the final set (BNL is
  * confluent), which is what makes the two-phase (partial/merge) decomposition
  * correct — skyline(A ∪ B) == skyline(skyline(A) ∪ skyline(B)).
  *
  * Scale notes (this kernel runs per Spark partition / per agg buffer):
  *  - eviction uses swap-remove, so insert is O(s) with no shifting;
  *  - `sortedBySum` pre-ordering makes inserts eviction-free (a point can only be
  *    dominated by a point with a strictly smaller coordinate sum), roughly halving
  *    comparisons for bulk builds.
  */
final class SkylineBuffer extends Serializable {
  private[graft] var points = new ArrayBuffer[Point]()
  /** Staged candidates not yet BNL-checked (the reference's 5000-record
    * inputBuffer, `FlinkSkyline.java:232,285-289`): inserts are batched and
    * compacted with an ascending-sum presort, which makes each compaction
    * eviction-free and checks candidates against survivors only. */
  private[graft] var staged = new ArrayBuffer[Point]()
  private[graft] val StageLimit = 5000

  def size: Int = { compact(); points.length }
  def result: Seq[Point] = { compact(); points.toSeq }

  /** Batched insert: stage now, BNL on overflow. */
  def add(c: Point): Unit = {
    staged += c
    if (staged.length >= StageLimit) compact()
  }

  /** Fold all staged candidates into the skyline. Both the current skyline
    * (kept ascending-sum-sorted as an invariant) and the sorted staged batch
    * are merge-walked in sum order; in that order nothing can evict an
    * already-accepted survivor. Old skyline points are mutually
    * non-dominated, so they are only checked against staged-origin survivors
    * — the skyline never rescans itself.
    *
    * The survivor set is mirrored into one flat primitive double[] (packed
    * coords) so the hot dominance loop is a contiguous-memory scan with no
    * per-point pointer chasing — this is what keeps the high-dimensional
    * (curse-of-dimensionality) merges tractable. */
  def compact(): Unit = {
    if (staged.isEmpty) return
    val d = staged(0).values.length
    val st = staged.toArray
    val stSums = new Array[Double](st.length)
    var x = 0
    while (x < st.length) { stSums(x) = sumOf(st(x).values); x += 1 }
    val stIdx = Array.range(0, st.length).sortBy(stSums(_))
    val old = points
    val oldSums = new Array[Double](old.length)
    x = 0
    while (x < old.length) { oldSums(x) = sumOf(old(x).values); x += 1 }

    val out = new ArrayBuffer[Point](old.length + 16)
    var flat = new Array[Double](math.max(16, (old.length + 16) * d))
    var stagedBits = new Array[Long](((old.length + st.length) >> 6) + 1)
    var n = 0
    // per-block per-dim minima over survivors (block = BLK points): a block
    // where some dim's minimum exceeds the candidate's value cannot contain a
    // dominator, so the whole block is skipped — the lower-corner MBR prune
    // of MBR-oriented skyline processing (ICDE 2019), applied to a packed
    // array. (Measured: a wash on heavily anti-correlated data where block
    // minima straddle most candidates, a win on distributions with dominated
    // regions; always sound.)
    val BLK = 128
    var blockMins = Array.fill(math.max(16, (old.length / BLK + 2) * d))(
      Double.PositiveInfinity)

    @inline def ensure(): Unit = {
      if ((n + 1) * d > flat.length)
        flat = java.util.Arrays.copyOf(flat, flat.length * 2)
      if ((n >> 6) >= stagedBits.length)
        stagedBits = java.util.Arrays.copyOf(stagedBits, stagedBits.length * 2)
      val nb = (n / BLK + 1) * d
      if (nb > blockMins.length) {
        val grown = Array.fill(blockMins.length * 2)(Double.PositiveInfinity)
        System.arraycopy(blockMins, 0, grown, 0, blockMins.length)
        blockMins = grown
      }
    }
    // per-dim minimum over accepted survivors: a candidate strictly below any
    // of them cannot be dominated (quick accept — most skyline members of
    // anti-correlated data are extreme in some dim)
    val minPerDim = Array.fill(d)(Double.PositiveInfinity)
    var lastKiller = -1
    // EXACT-DUPLICATE fast path: a candidate identical to an already-
    // accepted survivor survives by confluence (any dominator of the copy
    // would have dominated the accepted twin first — impossible), so it is
    // accepted without scanning anyone. Duplicate floods are a real input:
    // the reference's own high-d anti-correlated generator clamps 22-40%
    // of points to the origin (4-D ε=0.9 / 5-D ε=2.5), and without this
    // path each origin copy rescans every prior copy — O(k²) over k
    // duplicates was 657 s of a 10M 4-D run's merge phase, measured.
    // The index is a PRIMITIVE chained hash (ADVICE r9): an open-addressed
    // int table keyed by the point hash (slot holds survivor-index + 1,
    // 0 = empty; equal-hash survivors chain through dupNext) — three int
    // writes per accept instead of a boxed Integer + HashMap node +
    // ArrayBuffer per survivor, so duplicate-free multi-million-point
    // merges no longer pay hundreds of MB of transient boxed allocations
    // per compact(). Survivor count is bounded by old+staged, so the
    // per-survivor arrays and the <=0.5-load table are allocated once.
    val dupBound = old.length + st.length
    val dupMask = (Integer.highestOneBit(math.max(64, dupBound * 2 + 1)) * 2) - 1
    val dupTable = new Array[Int](dupMask + 1)
    val dupHash = new Array[Int](math.max(1, dupBound))
    val dupNext = new Array[Int](math.max(1, dupBound))
    @inline def dupSlot(h: Int): Int = {
      var s = (h ^ (h >>> 16)) & dupMask
      while (dupTable(s) != 0 && dupHash(dupTable(s) - 1) != h)
        s = (s + 1) & dupMask
      s
    }
    def isDupOfAccepted(c: Array[Double]): Boolean = {
      var k = dupTable(dupSlot(java.util.Arrays.hashCode(c))) - 1
      while (k >= 0) {
        val base = k * d
        var t = 0; var eq = true
        while (eq && t < d) { if (flat(base + t) != c(t)) eq = false; t += 1 }
        if (eq) return true
        k = dupNext(k)
      }
      false
    }
    // dominance over the packed survivor array; stagedOnly skips old-origin
    // survivors (old points are mutually non-dominated by invariant)
    def dominated(c: Array[Double], stagedOnly: Boolean): Boolean = {
      var i = 0
      while (i < d) {
        if (c(i) < minPerDim(i)) return false
        i += 1
      }
      @inline def beats(k: Int): Boolean = {
        val base = k * d
        var better = false; var bad = false
        var t = 0
        while (!bad && t < d) {
          val av = flat(base + t); val bv = c(t)
          if (av > bv) bad = true
          else if (av < bv) better = true
          t += 1
        }
        !bad && better
      }
      // the point that last dominated something tends to dominate again
      if (lastKiller >= 0 && lastKiller < n &&
          (!stagedOnly || ((stagedBits(lastKiller >> 6) >>> (lastKiller & 63)) & 1L) == 1L) &&
          beats(lastKiller)) return true
      var b = 0
      val nBlocks = (n + BLK - 1) / BLK
      while (b < nBlocks) {
        // block-level prune: can any member have ALL dims <= c?
        var possible = true
        var t = 0
        val mBase = b * d
        while (possible && t < d) {
          if (blockMins(mBase + t) > c(t)) possible = false
          t += 1
        }
        if (possible) {
          var k = b * BLK
          val end = math.min(n, (b + 1) * BLK)
          while (k < end) {
            if (!stagedOnly || ((stagedBits(k >> 6) >>> (k & 63)) & 1L) == 1L) {
              if (beats(k)) { lastKiller = k; return true }
            }
            k += 1
          }
        }
        b += 1
      }
      false
    }
    @inline def accept(p: Point, fromStaged: Boolean): Unit = {
      ensure()
      if (p.values.length == d) {
        System.arraycopy(p.values, 0, flat, n * d, d)
        val mBase = (n / BLK) * d
        var t = 0
        while (t < d) {
          val v = p.values(t)
          if (v < minPerDim(t)) minPerDim(t) = v
          if (v < blockMins(mBase + t)) blockMins(mBase + t) = v
          t += 1
        }
        val h = java.util.Arrays.hashCode(p.values)
        dupHash(n) = h
        val s = dupSlot(h)
        dupNext(n) = dupTable(s) - 1
        dupTable(s) = n + 1
      } else // off-contract arity: NaN slots never dominate and are never dominated
        java.util.Arrays.fill(flat, n * d, (n + 1) * d, Double.NaN)
      if (fromStaged) stagedBits(n >> 6) |= (1L << (n & 63))
      out += p
      n += 1
    }
    var i = 0; var j = 0
    while (i < old.length || j < st.length) {
      val takeOld = j >= st.length ||
        (i < old.length && oldSums(i) <= stSums(stIdx(j)))
      if (takeOld) {
        if (old(i).values.length != d || isDupOfAccepted(old(i).values) ||
            !dominated(old(i).values, stagedOnly = true))
          accept(old(i), fromStaged = false)
        i += 1
      } else {
        val c = st(stIdx(j))
        if (c.values.length != d || isDupOfAccepted(c.values) ||
            !dominated(c.values, stagedOnly = false))
          accept(c, fromStaged = true)
        j += 1
      }
    }
    // The no-evict walk relies on "a dominator has a strictly smaller sum",
    // which holds for finite sums only: two points with sum +-Inf (or NaN)
    // can still dominate one another, and acceptance above is permanent.
    // Re-reduce the (normally empty) non-finite-sum group with the
    // order-insensitive pairwise check. Cross-group pairs are safe: a
    // dominator of a finite-sum point has only finite or -Inf coords, and
    // -Inf-sum points sort first so finite candidates were already checked
    // against them.
    var anyNonFinite = false
    var z = 0
    while (!anyNonFinite && z < out.length) {
      if (!java.lang.Double.isFinite(sumOf(out(z).values))) anyNonFinite = true
      z += 1
    }
    points = if (!anyNonFinite) out else {
      val res = new ArrayBuffer[Point](out.length)
      val nf = new ArrayBuffer[Point]()
      out.foreach(p =>
        if (java.lang.Double.isFinite(sumOf(p.values))) res += p else nf += p)
      val keep = new ArrayBuffer[Point]()
      nf.foreach { c =>
        if (!keep.exists(k => Dominance.dominates(k.values, c.values))) {
          val survivors = keep.filterNot(k => Dominance.dominates(c.values, k.values))
          keep.clear(); keep ++= survivors; keep += c
        }
      }
      res ++= keep
      res
    }
    staged = new ArrayBuffer[Point]()
  }

  @inline private def sumOf(vs: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < vs.length) { s += vs(i); i += 1 }
    s
  }

  /** Lazy merge: concatenate; the sorted bulk build happens at the next
    * compact()/result. Keeps the two-phase Aggregator's final merge a single
    * presorted pass instead of s² incremental BNL inserts. */
  def merge(other: SkylineBuffer): SkylineBuffer = {
    staged ++= other.points
    staged ++= other.staged
    // opportunistic compaction keeps memory bounded on wide merges
    if (staged.length >= StageLimit * 4) compact()
    this
  }
}

object SkylineBuffer {
  def empty: SkylineBuffer = new SkylineBuffer

  /** Skyline of an iterator (ascending-sum bulk build: a dominator always has
    * a strictly smaller coordinate sum, so in sorted order no insert can
    * evict — each point is checked against final survivors only). */
  def of(it: Iterator[Point]): SkylineBuffer = {
    val buf = new SkylineBuffer
    buf.staged ++= it
    buf.compact()
    buf
  }

  /** Row-at-a-time build (same fixpoint; staging still batches internally). */
  def ofIncremental(it: Iterator[Point]): SkylineBuffer = {
    val buf = new SkylineBuffer
    it.foreach(buf.add)
    buf
  }
}
