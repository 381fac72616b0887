package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Partitioners, SkylineOps}

/** Skyline-operator queries + DuckDB oracles (SURVEY.md §2: K1-K3, F2, A1-A3,
  * M1). The oracle form of skyline is the NOT EXISTS anti-join. */
object SkylineQueries {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    graft.sources.Fixtures.table(spark, dir, name)

  /** part lifted to a 2-D point set normalized to domain [0,1000]:
    * v1 = p_retailprice * 0.5, v2 = p_size * 20.0 (monotone transforms —
    * dominance/skyline membership is unchanged by them). */
  /** [[partPoints]] over a core-width scan — for the dominator-counting
    * entries whose per-cell partial aggregation is narrow work above the
    * single-split part scan (quiet A/B: sky_dominance_score 2.4→1.9 s). */
  def partPointsWide(spark: SparkSession, dir: String): DataFrame =
    pointsOf(graft.sources.Fixtures.tableWide(spark, dir, "part"))

  def partPoints(spark: SparkSession, dir: String): DataFrame =
    pointsOf(t(spark, dir, "part"))

  private def pointsOf(part: DataFrame): DataFrame =
    part.select(
      col("p_partkey").as("id"),
      (col("p_retailprice") * lit(0.5)).as("v1"),
      (col("p_size").cast("double") * lit(20.0)).as("v2"))

  val partPointsSql =
    """SELECT p_partkey AS id, p_retailprice * 0.5 AS v1,
      |CAST(p_size AS DOUBLE) * 20.0 AS v2 FROM part""".stripMargin.replace("\n", " ")

  /** The SQL skyline oracle: Pareto-minimal rows of (v1, v2), duplicates kept. */
  private def sky2dOracle(src: String): String =
    s"""WITH pts AS ($src)
       |SELECT t.id, t.v1, t.v2 FROM pts t WHERE NOT EXISTS (
       |  SELECT 1 FROM pts u
       |  WHERE u.v1 <= t.v1 AND u.v2 <= t.v2 AND (u.v1 < t.v1 OR u.v2 < t.v2))
       |ORDER BY t.id""".stripMargin.replace("\n", " ")

  val N = 8          // partitions, reference default 2*parallelism=8
  val DOMAIN = 1000.0

  private def skyVia(pts: DataFrame, strategy: String): DataFrame =
    SkylineOps.skylineDF(pts, "id", Seq("v1", "v2"),
      Some(graft.plans.ReferenceStrategy(strategy, DOMAIN, N))).orderBy("id")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // A1+A3: global two-phase skyline through the relational front door,
    // the Catalyst node: partial skyline per input partition, then the
    // parallel broadcast kd merge (chunked cross-filter past the bound)
    "sky2d_global" -> ((s, dir) =>
      SkylineOps.skylineDF(partPoints(s, dir), "id", Seq("v1", "v2"))
        .orderBy("id")),
    // the same query through SkylineOps.skyline, the spread broadcast kd
    // merge that skylineWithMetrics runs — kept so that merge stays oracled
    "sky2d_global_agg" -> ((s, dir) =>
      SkylineOps.skyline(SkylineOps.pointsFrom(partPoints(s, dir), "id", Seq("v1", "v2")))
        .select(col("id"), col("values")(0).as("v1"), col("values")(1).as("v2"))
        .orderBy("id")),
    // K1/K2/K3 + A1 + A3: the three reference topologies as the node's
    // partial-phase strategy; partition-invariant
    "sky2d_dim" -> ((s, dir) => skyVia(partPoints(s, dir), "mr-dim")),
    "sky2d_grid" -> ((s, dir) => skyVia(partPoints(s, dir), "mr-grid")),
    "sky2d_angle" -> ((s, dir) => skyVia(partPoints(s, dir), "mr-angle")),
    // 3-D skyline over a lineitem subset
    "sky3d_lineitem" -> ((s, dir) => {
      val pts = t(s, dir, "lineitem")
        .where(col("l_orderkey") % 20 === 0)
        .select((col("l_orderkey") * 10 + col("l_linenumber")).as("id"),
          col("l_quantity").cast("double").as("v1"),
          col("l_extendedprice").cast("double").as("v2"),
          col("l_discount").cast("double").as("v3"))
      // id carries duplicates in the synthetic lineitem ((orderkey, linenumber)
      // is not unique), so the deterministic order needs all columns
      SkylineOps.skylineDF(pts, "id", Seq("v1", "v2", "v3"))
        .orderBy("id", "v1", "v2", "v3")
    }),
    // 4-D skyline (the reference's curse-of-dimensionality dimensionality)
    "sky4d_lineitem" -> ((s, dir) => {
      val pts = t(s, dir, "lineitem")
        .where(col("l_orderkey") % 40 === 0)
        .select((col("l_orderkey") * 10 + col("l_linenumber")).as("id"),
          col("l_quantity").cast("double").as("v1"),
          col("l_extendedprice").cast("double").as("v2"),
          col("l_discount").cast("double").as("v3"),
          col("l_tax").cast("double").as("v4"))
      SkylineOps.skylineDF(pts, "id", Seq("v1", "v2", "v3", "v4"))
        .orderBy("id", "v1", "v2", "v3", "v4") // duplicate-id ties, as in 3-D
    }),
    // K1: MR-Dim partition-id assignment (pure Column arithmetic)
    "part_mrdim" -> ((s, dir) =>
      partPoints(s, dir).select(col("id"),
        Partitioners.mrDim(col("v1"), DOMAIN, N).cast("long").as("pid")).orderBy("id")),
    // K2: MR-Grid bitmask partition id
    "part_mrgrid" -> ((s, dir) =>
      partPoints(s, dir).select(col("id"),
        Partitioners.mrGrid(array(col("v1"), col("v2")), DOMAIN).cast("long").as("pid"))
        .orderBy("id")),
    // K3: MR-Angle hyperspherical partition id
    "part_mrangle" -> ((s, dir) =>
      partPoints(s, dir).select(col("id"),
        Partitioners.mrAngle(array(col("v1"), col("v2")), N).cast("long").as("pid"))
        .orderBy("id")),
    // The Catalyst node with every input column kept: logical Skyline ->
    // SkylinePartialExec -> SkylineMergeExec
    "sky2d_plan" -> ((s, dir) =>
      graft.plans.SkylinePlanApi.skyline(partPoints(s, dir), Seq("v1", "v2"))
        .orderBy("id")),
    // codegen'd dominance expression used as a relational predicate:
    // all (dominator, dominated) pairs within the id<=80 subset
    "sky_dominance_pairs" -> ((s, dir) => {
      val pts = partPoints(s, dir).where(col("id") <= 80)
      val a = pts.select(col("id").as("id_a"), array(col("v1"), col("v2")).as("va"))
      val b = pts.select(col("id").as("id_b"), array(col("v1"), col("v2")).as("vb"))
      a.crossJoin(b)
        .where(graft.functions.DominanceExpressions.dominates(col("va"), col("vb")))
        .select(col("id_a"), col("id_b")).orderBy("id_a", "id_b")
    }),
    // Pure SQL surface: the skyline as an anti-join written in Spark SQL
    // with the injected sky_dominates function (same NOT EXISTS shape as the
    // DuckDB oracle — proves the SQL-facing API end to end)
    "sky2d_sql" -> ((s, dir) => {
      graft.plans.SkylineExtensions.register(s)
      partPoints(s, dir).createOrReplaceTempView("pts_sql")
      s.sql(
        """SELECT t.id, t.v1, t.v2 FROM pts_sql t WHERE NOT EXISTS (
          |  SELECT 1 FROM pts_sql u
          |  WHERE sky_dominates(array(u.v1, u.v2), array(t.v1, t.v2)))
          |ORDER BY t.id""".stripMargin)
    }),
    // k-skyband generalization over the FULL part table: rows dominated by
    // fewer than k others (k = 1 is the skyline). Grid-cell-bounded dominator
    // counting — strictly-dominating cells contribute via a broadcast
    // prefix-sum table, only same-row/column border cells are checked
    // pairwise through a cell-keyed join (no crossJoin anywhere).
    "sky_skyband" -> ((s, dir) =>
      SkylineOps.dominatorCounts2D(partPointsWide(s, dir), "id", "v1", "v2",
          DOMAIN, g = 64)
        .where(col("n_dominators") < 3)
        .orderBy("id")),
    // dominance score over the FULL part table: how many points each point
    // dominates (the dual decomposition — suffix sums + upper border cells)
    "sky_dominance_score" -> ((s, dir) =>
      SkylineOps.dominatedCounts2D(partPointsWide(s, dir), "id", "v1", "v2",
          DOMAIN, g = 64)
        .orderBy(col("n_dominated").desc, col("id").asc)),
    // per-group skyline: one aggregation, every brand's own (size, price)
    // Pareto frontier; grouping shards the global merge across brands (the
    // per-tenant frontier shape — free merge parallelism at scale)
    "sky_grouped" -> ((s, dir) =>
      SkylineOps.skylineGroupedDF(
        t(s, dir, "part").select(col("p_brand").as("brand"),
          col("p_partkey").as("id"), col("p_size").cast("double").as("v1"),
          col("p_retailprice").as("v2")),
        Seq("brand"), "id", Seq("v1", "v2"))
        .orderBy("brand", "id")),
    // F2: grid dominance pre-filter (midpoint pruning)
    "grid_prefilter" -> ((s, dir) =>
      partPoints(s, dir)
        .where(Partitioners.gridDominancePreFilter(array(col("v1"), col("v2")), DOMAIN))
        .orderBy("id")),
    // A2 (batch analog): barrier — skyline over the id<=k prefix only
    "barrier_prefix_sky" -> ((s, dir) =>
      SkylineOps.skylineDF(partPoints(s, dir).where(col("id") <= 1000),
        "id", Seq("v1", "v2")).orderBy("id")),
    // M1: optimality metric per strategy (survivor-ratio avg over partitions)
    "sky_optimality" -> ((s, dir) => {
      import s.implicits._
      val pts = SkylineOps.pointsFrom(partPoints(s, dir), "id", Seq("v1", "v2"))
      Seq("mr-dim", "mr-grid", "mr-angle").map { strat =>
        (strat, SkylineOps.skylineWithMetrics(pts, strat, DOMAIN, N, strat, 0L)
          .head().getAs[Double]("optimality"))
      }.toDF("strategy", "optimality").orderBy("strategy")
    })
  )

  def oracleSql: Map[String, String] = Map(
    "sky2d_global" -> sky2dOracle(partPointsSql),
    "sky2d_global_agg" -> sky2dOracle(partPointsSql),
    "sky2d_dim" -> sky2dOracle(partPointsSql),
    "sky2d_grid" -> sky2dOracle(partPointsSql),
    "sky2d_angle" -> sky2dOracle(partPointsSql),
    "sky3d_lineitem" ->
      """WITH pts AS (SELECT l_orderkey * 10 + l_linenumber AS id,
        |CAST(l_quantity AS DOUBLE) AS v1, CAST(l_extendedprice AS DOUBLE) AS v2,
        |CAST(l_discount AS DOUBLE) AS v3 FROM lineitem WHERE l_orderkey % 20 = 0)
        |SELECT t.id, t.v1, t.v2, t.v3 FROM pts t WHERE NOT EXISTS (
        |SELECT 1 FROM pts u WHERE u.v1 <= t.v1 AND u.v2 <= t.v2 AND u.v3 <= t.v3
        |AND (u.v1 < t.v1 OR u.v2 < t.v2 OR u.v3 < t.v3))
        |ORDER BY t.id, t.v1, t.v2, t.v3""".stripMargin.replace("\n", " "),
    "sky4d_lineitem" ->
      """WITH pts AS (SELECT l_orderkey * 10 + l_linenumber AS id,
        |CAST(l_quantity AS DOUBLE) AS v1, CAST(l_extendedprice AS DOUBLE) AS v2,
        |CAST(l_discount AS DOUBLE) AS v3, CAST(l_tax AS DOUBLE) AS v4
        |FROM lineitem WHERE l_orderkey % 40 = 0)
        |SELECT t.id, t.v1, t.v2, t.v3, t.v4 FROM pts t WHERE NOT EXISTS (
        |SELECT 1 FROM pts u WHERE u.v1 <= t.v1 AND u.v2 <= t.v2
        |AND u.v3 <= t.v3 AND u.v4 <= t.v4
        |AND (u.v1 < t.v1 OR u.v2 < t.v2 OR u.v3 < t.v3 OR u.v4 < t.v4))
        |ORDER BY t.id, t.v1, t.v2, t.v3, t.v4""".stripMargin.replace("\n", " "),
    "part_mrdim" ->
      s"""WITH pts AS ($partPointsSql) SELECT id, CAST(LEAST(GREATEST(
         |CAST(FLOOR(v1 / ${DOMAIN / N}) AS INT), 0), ${N - 1}) AS BIGINT) AS pid
         |FROM pts ORDER BY id""".stripMargin.replace("\n", " "),
    "part_mrgrid" ->
      s"""WITH pts AS ($partPointsSql) SELECT id,
         |CAST((CASE WHEN v1 >= ${DOMAIN / 2} THEN 1 ELSE 0 END) +
         |(CASE WHEN v2 >= ${DOMAIN / 2} THEN 2 ELSE 0 END) AS BIGINT) AS pid
         |FROM pts ORDER BY id""".stripMargin.replace("\n", " "),
    "part_mrangle" ->
      s"""WITH pts AS ($partPointsSql) SELECT id, CAST(LEAST(GREATEST(
         |CAST(FLOOR(ATAN2(v2, v1) / (PI() / 2.0) * $N) AS INT), 0), ${N - 1})
         |AS BIGINT) AS pid FROM pts ORDER BY id""".stripMargin.replace("\n", " "),
    "sky2d_plan" -> sky2dOracle(partPointsSql),
    "sky2d_sql" -> sky2dOracle(partPointsSql),
    "sky_dominance_pairs" ->
      s"""WITH pts AS (SELECT * FROM ($partPointsSql) WHERE id <= 80)
         |SELECT a.id AS id_a, b.id AS id_b FROM pts a, pts b
         |WHERE a.v1 <= b.v1 AND a.v2 <= b.v2 AND (a.v1 < b.v1 OR a.v2 < b.v2)
         |ORDER BY id_a, id_b""".stripMargin.replace("\n", " "),
    // oracles stay the direct quadratic formulation — the grid decomposition
    // on the Spark side must reproduce them exactly
    "sky_dominance_score" ->
      s"""WITH pts AS ($partPointsSql)
         |SELECT t.id,
         |(SELECT COUNT(*) FROM pts u
         |  WHERE t.v1 <= u.v1 AND t.v2 <= u.v2 AND (t.v1 < u.v1 OR t.v2 < u.v2))
         |  AS n_dominated
         |FROM pts t
         |ORDER BY n_dominated DESC, t.id ASC""".stripMargin.replace("\n", " "),
    "sky_skyband" ->
      s"""WITH pts AS ($partPointsSql),
         |cnt AS (SELECT t.id, t.v1, t.v2,
         |  (SELECT COUNT(*) FROM pts u
         |    WHERE u.v1 <= t.v1 AND u.v2 <= t.v2 AND (u.v1 < t.v1 OR u.v2 < t.v2))
         |    AS n_dominators FROM pts t)
         |SELECT id, v1, v2, n_dominators FROM cnt
         |WHERE n_dominators < 3 ORDER BY id""".stripMargin.replace("\n", " "),
    "sky_grouped" ->
      """WITH pts AS (SELECT p_brand AS brand, p_partkey AS id,
        |CAST(p_size AS DOUBLE) AS v1, p_retailprice AS v2 FROM part)
        |SELECT t.brand, t.id, t.v1, t.v2 FROM pts t WHERE NOT EXISTS (
        |SELECT 1 FROM pts u WHERE u.brand = t.brand AND u.v1 <= t.v1
        |AND u.v2 <= t.v2 AND (u.v1 < t.v1 OR u.v2 < t.v2))
        |ORDER BY t.brand, t.id""".stripMargin.replace("\n", " "),
    "grid_prefilter" ->
      s"""WITH pts AS ($partPointsSql) SELECT id, v1, v2 FROM pts
         |WHERE v1 < ${DOMAIN / 2} OR v2 < ${DOMAIN / 2} ORDER BY id"""
        .stripMargin.replace("\n", " "),
    "barrier_prefix_sky" ->
      sky2dOracle(s"SELECT * FROM ($partPointsSql) WHERE id <= 1000"),
    "sky_optimality" -> {
      // local skyline per partition (pid computed in SQL per strategy),
      // survivors = local points also in the global skyline; optimality =
      // sum over non-empty partitions of survivors/localSize, divided by N.
      def pidExpr(strat: String): String = strat match {
        case "mr-dim" =>
          s"LEAST(GREATEST(CAST(FLOOR(v1 / ${DOMAIN / N}) AS INT), 0), ${N - 1})"
        case "mr-grid" =>
          s"(CASE WHEN v1 >= ${DOMAIN / 2} THEN 1 ELSE 0 END) + (CASE WHEN v2 >= ${DOMAIN / 2} THEN 2 ELSE 0 END)"
        case "mr-angle" =>
          s"LEAST(GREATEST(CAST(FLOOR(ATAN2(v2, v1) / (PI() / 2.0) * $N) AS INT), 0), ${N - 1})"
      }
      val parts = Seq("mr-dim", "mr-grid", "mr-angle").map { strat =>
        s"""SELECT '$strat' AS strategy, ROUND(SUM(ratio) / $N, 4) AS optimality
           |FROM (
           |  SELECT CAST(COUNT(g.id) AS DOUBLE) / COUNT(*) AS ratio
           |  FROM (
           |    SELECT t.id, ${pidExpr(strat)} AS pid, t.v1, t.v2
           |    FROM pts t WHERE NOT EXISTS (
           |      SELECT 1 FROM pts u
           |      WHERE ${pidExpr(strat).replace("v1", "u.v1").replace("v2", "u.v2")} =
           |            ${pidExpr(strat).replace("v1", "t.v1").replace("v2", "t.v2")}
           |      AND u.v1 <= t.v1 AND u.v2 <= t.v2
           |      AND (u.v1 < t.v1 OR u.v2 < t.v2))
           |  ) l LEFT JOIN gsky g ON g.id = l.id
           |  GROUP BY l.pid)""".stripMargin.replace("\n", " ")
      }
      s"""WITH pts AS ($partPointsSql),
         |gsky AS (SELECT t.id FROM pts t WHERE NOT EXISTS (
         |  SELECT 1 FROM pts u WHERE u.v1 <= t.v1 AND u.v2 <= t.v2
         |  AND (u.v1 < t.v1 OR u.v2 < t.v2)))
         |${parts.mkString(" UNION ALL ")}
         |ORDER BY strategy""".stripMargin.replace("\n", " ")
    }
  )
}
