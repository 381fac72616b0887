package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite
import scala.util.{Random, Try}

import graft.Graft
import graft.core.{Dominance, Point, SkylineBuffer}
import graft.plans.SkylinePlanApi

/** Every skyline path against brute force on hostile inputs: ±Inf
  * coordinates (including +Inf and -Inf in one point, whose sum is NaN),
  * ties, duplicate floods, and more partitions than rows. At the DataFrame
  * level null and NaN dimensions join in; those rows are malformed, so
  * brute force runs over the valid rows only. Each case has one arity, the
  * engine contract (see SkylineProps). Mixed arity stays outside it: every
  * path keeps a dominated point whose arity differs from its dominator's. */
class SkylineHostileInputSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private type Sky = Set[(Long, Seq[Double])]
  private val Partitions = 64   // more than any case has rows: empty partitions
  private val Domain = 4.0
  private val Strategies = Seq("mr-dim", "mr-grid", "mr-angle")

  private def brute(pts: Seq[Point]): Sky =
    pts.filter(t => !pts.exists(u => Dominance.dominates(u.values, t.values)))
      .map(p => (p.id, p.values.toSeq)).toSet

  private def asSky(pts: Iterable[Point]): Sky =
    pts.map(p => (p.id, p.values.toSeq)).toSet

  /** Values drawn from a tiny pool (ties) with ±Inf, then a flood of copies
    * of a few of them under fresh ids. */
  private def hostile(seed: Int, d: Int): Seq[Point] = {
    val rng = new Random(seed)
    val pool = Array(Double.NegativeInfinity, 0.0, 1.0, 2.0, 3.0,
      Double.PositiveInfinity)
    val base = Seq.fill(20)(Array.fill(d)(pool(rng.nextInt(pool.length))))
    val flood = Seq.fill(16)(base(rng.nextInt(3)).clone())
    (base ++ flood).zipWithIndex.map { case (vs, i) => Point(i.toLong, vs) }
  }

  /** Names the paths whose answer differs from `expect` (or that threw). */
  private def disagreeing(expect: Sky, got: Seq[(String, () => Sky)]): Seq[String] =
    got.flatMap { case (name, run) =>
      Try(run()).fold(e => Some(s"$name threw ${e.getClass.getSimpleName}"),
        s => if (s == expect) None else Some(s"$name: $s"))
    }

  private def rowsOf(df: DataFrame, idAt: Int, d: Int): Sky =
    df.collect().map(r => (r.getLong(idAt),
      (0 until d).map(i => r.getDouble(idAt + 1 + i)): Seq[Double])).toSet

  test("Point-level paths equal brute force on ±Inf, ties, floods, empty partitions") {
    import spark.implicits._
    for (d <- Seq(2, 3); seed <- 1 to 4) {
      val pts = hostile(seed * 10 + d, d)
      val ds = spark.createDataset(spark.sparkContext.parallelize(pts, Partitions))
      val bad = disagreeing(brute(pts), Seq(
        "SkylineBuffer.of" -> (() => asSky(SkylineBuffer.of(pts.iterator).result)),
        "skyline" -> (() => asSky(SkylineOps.skyline(ds).collect())),
        "skyline(max 3)" -> (() => asSky(
          SkylineOps.skyline(ds, maxBroadcastPoints = 3).collect()))) ++
        Strategies.map(st => s"skylineViaStrategy($st)" -> (() => asSky(
          SkylineOps.skylineViaStrategy(ds, st, Domain, 8).collect()))))
      val expectSize = brute(pts).size.toLong
      val badSizes = Strategies.flatMap { st =>
        val got = Try(SkylineOps.skylineWithMetrics(ds, st, Domain, 8, "q", pts.size)
          .collect().head.getAs[Long]("skyline_size"))
        if (got.toOption.contains(expectSize)) None
        else Some(s"skylineWithMetrics($st) skyline_size: $got, expected $expectSize")
      }
      assert(bad.isEmpty && badSizes.isEmpty,
        s"d=$d seed=$seed\n${(bad ++ badSizes).mkString("\n")}")
    }
  }

  test("Point-level paths drop a point whose vector holds NaN") {
    import spark.implicits._
    // the transitivity break of the DataFrame case below: kept, (NaN,-10)
    // would survive and (-5,2) would not
    val valid = Seq(Point(1L, Array(0.0, 0.0)), Point(3L, Array(-5.0, 2.0)))
    val pts = valid ++ Seq(Point(2L, Array(Double.NaN, 1.0)), Point(4L, Array(Double.NaN, -10.0)))
    for (slices <- Seq(1, Partitions)) {
      val ds = spark.createDataset(spark.sparkContext.parallelize(pts, slices))
      val bad = disagreeing(brute(valid), Seq(
        "skyline" -> (() => asSky(SkylineOps.skyline(ds).collect()))) ++
        Strategies.flatMap(st => Seq(
          s"skylineViaStrategy($st)" -> (() => asSky(
            SkylineOps.skylineViaStrategy(ds, st, Domain, 8).collect())),
          s"localSkylines($st)" -> (() => brute(
            SkylineOps.localSkylines(ds, st, Domain, 8).collect().toSeq.flatMap(_._2))))))
      assert(bad.isEmpty, s"slices=$slices\n${bad.mkString("\n")}")
    }
  }

  test("DataFrame paths equal brute force over the rows without null or NaN dims") {
    def frame(rows: Seq[(Long, Seq[Option[Double]])], d: Int): DataFrame = {
      val schema = StructType(StructField("id", LongType, nullable = false) +:
        (1 to d).map(i => StructField(s"v$i", DoubleType, nullable = true)) :+
        StructField("g", IntegerType, nullable = false))
      val data = rows.map { case (id, vs) =>
        Row.fromSeq(id +: vs.map(_.map(Double.box).orNull) :+ 0) }
      spark.createDataFrame(spark.sparkContext.parallelize(data, Partitions), schema)
    }
    // the transitivity break: (0,0) dominates (NaN,1), which "dominates"
    // (-5,2), but (0,0) does not dominate (-5,2); kept, (NaN,-10) would
    // "dominate" (0,0) and nothing would dominate it
    val nanChain = (Seq((1L, Seq(Some(0.0), Some(0.0))),
      (2L, Seq(Some(Double.NaN), Some(1.0))), (3L, Seq(Some(-5.0), Some(2.0))),
      (4L, Seq(Some(Double.NaN), Some(-10.0)))), 2)
    val seeded = for (d <- Seq(2, 3); seed <- 1 to 3) yield {
      val rng = new Random(seed * 100 + d)
      val valid = hostile(seed * 100 + d, d).map(p => (p.id, p.values.toSeq.map(Some(_))))
      // malformed rows that would sit low in every other dim
      val broken = (0 until 4).map { k =>
        val vs: Seq[Option[Double]] = Seq.tabulate(d)(i =>
          if (i == rng.nextInt(d)) (if (k % 2 == 0) None else Some(Double.NaN))
          else Some(-1.0))
        (1000L + k, vs)
      }
      (rng.shuffle(valid ++ broken), d)
    }
    for ((rows, d) <- nanChain +: seeded) {
      val df = frame(rows, d)
      val dims = (1 to d).map(i => s"v$i")
      val expect = brute(rows.collect { case (id, vs)
        if vs.forall(v => v.exists(x => !x.isNaN)) => Point(id, vs.flatten.toArray) })
      val bad = disagreeing(expect, Seq(
        "Catalyst node" -> (() => rowsOf(SkylinePlanApi.skyline(df, dims), 0, d)),
        "skylineDF" -> (() => rowsOf(SkylineOps.skylineDF(df, "id", dims), 0, d)),
        "skylineGroupedDF" -> (() =>
          rowsOf(SkylineOps.skylineGroupedDF(df, Seq("g"), "id", dims), 1, d)),
        "Graft.skyline" -> (() => rowsOf(Graft.skyline(df, dims), 0, d)),
        "Graft.skylineGrouped" -> (() =>
          rowsOf(Graft.skylineGrouped(df, Seq("g"), "id", dims), 1, d)),
        "skyline(pointsFrom)" -> (() => asSky(
          SkylineOps.skyline(SkylineOps.pointsFrom(df, "id", dims)).collect()))) ++
        Strategies.map(st => s"Graft.skylineVia($st)" -> (() =>
          rowsOf(Graft.skylineVia(df, "id", dims, st, Domain, 8), 0, d))))
      assert(bad.isEmpty, s"d=$d rows=${rows.size}\n${bad.mkString("\n")}")
    }
  }
}
