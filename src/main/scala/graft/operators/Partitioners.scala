package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The three spatial partitioning strategies of the reference
  * (MR-Dim / MR-Grid / MR-Angle, `java/org.main/FlinkSkyline.java:686-876`),
  * re-expressed as Catalyst `Column` expressions so they stay inside
  * whole-stage codegen and can be used both as a repartitioning key and as a
  * plain derived column. Only MR-Angle needs a UDF (per-dimension loop with
  * `atan2`); Dim and Grid are pure built-in arithmetic.
  *
  * All strategies assume non-negative data in `[0, domain]` (minimization
  * space), like the reference (`FlinkSkyline.java:71-72` default domain 1000).
  */
object Partitioners {

  /** MR-Dim: range-partition on dimension 0 into `n` vertical slices.
    * `p = clamp((int)(v0 / (domain / n)), 0, n-1)` — fixed-domain slicing, not
    * sampled ranges (so it is NOT Spark's RangePartitioner on purpose:
    * `FlinkSkyline.java:706-712`).
    */
  def mrDim(v0: Column, domain: Double, n: Int): Column = {
    val width = domain / n
    least(greatest(floor(v0 / lit(width)).cast("int"), lit(0)), lit(n - 1))
  }

  /** MR-Grid: hyper-octant bitmask vs the domain midpoint — bit i is set iff
    * `values[i] >= domain/2` (`FlinkSkyline.java:779-790`). The mask is used
    * directly as the key (no modulo), so the key space is [0, 2^dims) — the
    * reference's documented quirk, replicated deliberately.
    *
    * `values` is an ARRAY<DOUBLE> column.
    */
  def mrGrid(values: Column, domain: Double): Column = {
    val mid = domain / 2.0
    aggregate(
      zip_with(values, sequence(lit(0), size(values) - 1),
        (v, i) => when(v >= lit(mid), pow(lit(2.0), i).cast("int")).otherwise(lit(0))),
      lit(0),
      (acc, bit) => acc.bitwiseOR(bit))
  }

  /** Exact hyperspherical partition id for one point (shared by the UDF and any
    * driver-side use). Mirrors `FlinkSkyline.java:823-876`:
    * for i in 0..d-2: phi_i = atan2(sqrt(sum_{j>i} v_j^2), v_i); normalize each
    * phi by pi/2, average, scale by n, truncate, clamp to [0, n-1]. 1-D edge
    * case returns 0.
    */
  def mrAngleScala(values: Array[Double], n: Int): Int = {
    val dims = values.length
    val numAngles = dims - 1
    if (numAngles < 1) return 0
    var normalizedSum = 0.0
    var i = 0
    while (i < numAngles) {
      var sumSqRest = 0.0
      var j = i + 1
      while (j < dims) { sumSqRest += values(j) * values(j); j += 1 }
      val angle = math.atan2(math.sqrt(sumSqRest), values(i))
      normalizedSum += angle / (math.Pi / 2.0)
      i += 1
    }
    val p = ((normalizedSum / numAngles) * n).toInt
    math.max(0, math.min(p, n - 1))
  }

  /** MR-Angle as a Column over an ARRAY<DOUBLE> — a codegen'd native
    * expression (`graft.functions.MrAngleExpr`), so the partitioner fuses
    * into the scan's whole-stage codegen instead of breaking it with a UDF. */
  def mrAngle(values: Column, n: Int): Column =
    graft.functions.AngleExpressions.mrAngleNative(values, n)

  /** Strategy dispatch by name, mirroring the reference CLI
    * (`--algo mr-dim|mr-grid|mr-angle`, `FlinkSkyline.java:112-134`). */
  def byName(name: String, values: Column, domain: Double, n: Int): Column =
    name match {
      case "mr-dim"   => mrDim(element_at(values, 1), domain, n)
      case "mr-grid"  => mrGrid(values, domain)
      case "mr-angle" => mrAngle(values, n)
      case other => throw new IllegalArgumentException(s"unknown strategy: $other")
    }

  /** The commented-out grid dominance pre-filter of the reference
    * (`FlinkSkyline.java:716-733`): drop points with every dimension >= mid —
    * such a point is dominated by the domain midpoint, which some point below
    * the midpoint... (the reference disabled it for streaming-deadlock safety;
    * here it is a plain safe batch predicate). Keeps a row iff at least one
    * dimension is strictly below domain/2.
    */
  def gridDominancePreFilter(values: Column, domain: Double): Column =
    exists(values, v => v < lit(domain / 2.0))
}
