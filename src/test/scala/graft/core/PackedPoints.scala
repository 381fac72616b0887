package graft.core

/** The scan reference the kd index ([[Dominance.dominatedByKd]]) is tested
  * against: flat coordinates of the points of one arity `d` (see
  * [[Dominance]] for the arity rule) in ascending coordinate-sum order, with
  * those sums. */
final case class PackedPoints(flat: Array[Double], sums: Array[Double], d: Int)

object PackedPoints {

  private def sum(vs: Array[Double]): Double = vs.foldLeft(0.0)(_ + _)

  /** Flat coordinates of the points of the arity of the first point, in
    * ascending coordinate-sum order, with those sums. */
  def pack(points: Array[Point]): PackedPoints = {
    val d = if (points.isEmpty) 0 else points(0).values.length
    val sums = points.map(p => sum(p.values))
    val order = Array.range(0, points.length)
      .filter(points(_).values.length == d).sortBy(sums(_))
    PackedPoints(order.flatMap(points(_).values), order.map(sums), d)
  }

  /** True iff some packed point strictly dominates `p`, by a scan of the
    * strictly-smaller-sum prefix (a dominator has a strictly smaller sum). */
  def dominatedByPacked(pk: PackedPoints, p: Point): Boolean = {
    val vs = p.values
    if (vs.length != pk.d || pk.sums.isEmpty) return false
    val s = sum(vs)
    var lo = 0; var hi = pk.sums.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (pk.sums(mid) < s) lo = mid + 1 else hi = mid
    }
    (0 until lo).exists(q =>
      Dominance.dominates(pk.flat.slice(q * pk.d, (q + 1) * pk.d), vs))
  }
}
