package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** General analytics queries: aggregation, joins, window functions, the CSV
  * parse path (reference P1/F1) and the query-broadcast fan-out (B1).
  *
  * Float discipline for oracle parity: every SUM over doubles goes through
  * DECIMAL (exact, order-independent) and is cast back to DOUBLE at the end;
  * integer and string outputs are naturally exact.
  */
object RelationalQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    graft.sources.Fixtures.table(s, dir, name)

  /** Rule suite for validate_rules / validate_quarantine: (name, Spark
    * predicate, the SAME predicate in DuckDB SQL). One definition feeds
    * both catalog faces and both oracles so the semantics cannot drift;
    * the literals are bit-identical doubles on both engines. Suite order
    * (alphabetical) is also the `failed` column's join order. */
  private[graft] val lineitemRules
      : Seq[(String, org.apache.spark.sql.Column, String)] = Seq(
    ("disc_le_008", col("l_discount") <= 0.08, "l_discount <= 0.08"),
    ("flag_domain", col("l_returnflag").isin("A", "N", "R"),
      "l_returnflag IN ('A','N','R')"),
    ("price_positive", col("l_extendedprice") > 0, "l_extendedprice > 0"),
    ("qty_le_30", col("l_quantity") <= 30, "l_quantity <= 30"),
    ("qty_range", col("l_quantity").between(1, 50),
      "l_quantity BETWEEN 1 AND 50"),
    ("status_domain", col("l_linestatus").isin("O", "F"),
      "l_linestatus IN ('O','F')"))

  /** Histogram-sketch bin count, shared by hist_quantiles and its streaming
    * twin (stream_hist_quantiles) so the binning/readout arithmetic cannot
    * drift between them. */
  private[graft] val HistBins = 512

  /** Fixed-width histogram bin of `v` over [lo, hi] (lower-edge rule;
    * degenerate hi == lo maps everything to bin 0). */
  private[graft] def histBin(v: org.apache.spark.sql.Column,
      lo: org.apache.spark.sql.Column, hi: org.apache.spark.sql.Column,
      bins: Int): org.apache.spark.sql.Column =
    when(hi === lo, lit(0L)).otherwise(
      least(lit(bins - 1L),
        floor((v - lo) / ((hi - lo) / lit(bins.toDouble))).cast("long")))

  /** p50/p90/p99 readout over a (event_type, bin, c) histogram as lower bin
    * edges. `attachBounds` makes the lo/hi columns available to the final
    * projection (a broadcast bounds join for the batch query, identity for
    * the streaming twin whose bounds are literals). */
  private[graft] def histReadout(hist: DataFrame,
      attachBounds: DataFrame => DataFrame, lo: org.apache.spark.sql.Column,
      hi: org.apache.spark.sql.Column, bins: Int): DataFrame = {
    val wcum = Window.partitionBy("event_type").orderBy("bin")
    val wtot = Window.partitionBy("event_type")
    val cum = hist.withColumn("cum", sum("c").over(wcum))
      .withColumn("n", sum("c").over(wtot))
    def binAt(q: Double) =
      min(when(col("cum") >= ceil(lit(q) * col("n")), col("bin")))
    def edge(b: org.apache.spark.sql.Column) =
      when(hi === lo, lo).otherwise(
        lo + b.cast("double") * ((hi - lo) / lit(bins.toDouble)))
    val picked = cum.groupBy("event_type").agg(max(col("n")).as("n"),
      binAt(0.5).as("b50"), binAt(0.9).as("b90"), binAt(0.99).as("b99"))
    attachBounds(picked)
      .select(col("event_type"), col("n"), edge(col("b50")).as("p50_est"),
        edge(col("b90")).as("p90_est"), edge(col("b99")).as("p99_est"))
      .orderBy("event_type")
  }

  /** events.parquet's ts normalized to BIGINT nanoseconds (the integer
    * view the catalog and the epoch_ns oracles are written against) —
    * vintage handling lives in [[graft.sources.EventsFixture]]. */
  private def events(s: SparkSession, dir: String): DataFrame =
    graft.sources.EventsFixture.load(s, dir)

  /** The reference's CSV wire-format parser (`ServiceTuple.fromString`,
    * `java/org.main/ServiceTuple.java:89-104`): "id,v1,v2,..." → (id, dims);
    * malformed rows → dropped (P1 + F1). Implemented relationally with
    * try_cast semantics (PERMISSIVE-drop). */
  def parseCsvTuples(csv: DataFrame, col0: String, dims: Int): DataFrame = {
    val parts = split(col(col0), ",")
    val idC = get(parts, lit(0)).try_cast("long")
    val vs = (1 to dims).map(i => get(parts, lit(i)).try_cast("double"))
    csv.select(idC.as("id") +: vs.zipWithIndex.map { case (c, i) => c.as(s"v${i + 1}") }: _*)
      .where(col("id").isNotNull &&
        (1 to dims).map(i => col(s"v$i").isNotNull).reduce(_ && _))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // P1 + F1: CSV parse with malformed-row drop, round-tripped from lineitem
    "csv_roundtrip" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").where(col("l_orderkey") % 10 === 0)
      val csv = li.select(concat_ws(",",
        (col("l_orderkey") * 10 + col("l_linenumber")).cast("string"),
        col("l_quantity").cast("string"),
        col("l_extendedprice").cast("string")).as("line"))
      val malformed = s.createDataset(
        Seq("garbage", "1,notanumber,3", "42"))(
        org.apache.spark.sql.Encoders.STRING).toDF("line")
      // id alone is ambiguous — (orderkey, linenumber) duplicates exist in
      // the synthetic lineitem, so ties need the value columns to be
      // deterministic
      parseCsvTuples(csv.unionAll(malformed), "line", dims = 2)
        .orderBy("id", "v1", "v2")
    }),
    // B1: query trigger broadcast — one trigger becomes N copies, one per
    // target partition, like the reference flatMap (`FlinkSkyline.java:145-157`)
    "query_broadcast" -> ((s, dir) => {
      val triggers = t(s, dir, "orders").where(col("o_orderkey") <= 40)
        .select(col("o_orderkey").as("query_id"),
          (col("o_orderkey") * 1000).as("required_count"))
      triggers
        .select(col("query_id"), col("required_count"),
          explode(sequence(lit(0), lit(7))).as("target_partition"))
        .select(col("query_id"), col("required_count"),
          col("target_partition").cast("long").as("target_partition"))
        .orderBy("query_id", "target_partition")
    }),
    // TPC-H-style pricing summary (hash agg, decimal-exact sums)
    "q1_pricing" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .where(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_base_price"),
          sum((col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)"))))
            .cast("double").as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")),
    // join + agg + top-k (customer ⋈ orders ⋈ lineitem), broadcast dims
    "q3_top_orders" -> ((s, dir) => {
      val cust = t(s, dir, "customer").where(col("c_mktsegment") === "BUILDING")
      val ord = t(s, dir, "orders")
      val li = t(s, dir, "lineitem")
      li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .join(broadcast(cust), ord("o_custkey") === cust("c_custkey"))
        .groupBy(col("l_orderkey"))
        .agg(sum((col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)"))))
          .cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey").asc)
        .limit(10)
    }),
    // multi-join through the region→nation→customer→orders→lineitem chain
    "q5_nation_revenue" -> ((s, dir) => {
      val region = t(s, dir, "region").where(col("r_name") === "ASIA")
      val nation = t(s, dir, "nation")
      val cust = t(s, dir, "customer")
      val ord = t(s, dir, "orders")
      val li = t(s, dir, "lineitem")
      li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .join(cust, ord("o_custkey") === cust("c_custkey"))
        .join(broadcast(nation), cust("c_nationkey") === nation("n_nationkey"))
        .join(broadcast(region), nation("n_regionkey") === region("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(sum((col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)"))))
          .cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("n_name")
    }),
    // selective filter + aggregate (the classic scan-pushdown showcase)
    "q6_forecast" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .where(col("l_shipdate") >= lit("1994-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1995-01-01").cast("timestamp") &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(sum((col("l_extendedprice").cast("decimal(18,2)") *
          col("l_discount").cast("decimal(18,2)")))
          .cast("double").as("revenue"),
          count(lit(1)).as("n"))),
    // distinct aggregates (expand + two-phase distinct count)
    "q_distinct_counts" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_suppkey")).as("n_suppliers"),
          countDistinct(col("l_partkey")).as("n_parts"),
          count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag")),
    // column profiler (the data-validation summary a pipeline runs before
    // accepting a drop): per numeric column — row count, nulls, exact
    // distincts, min/max, decimal-exact sum — as a UNION of per-column
    // aggregates. One aggregate per column beats a single wide aggregate
    // here: N count(DISTINCT)s in one agg make Catalyst Expand every row
    // N-fold, while the union form scans each column in isolation (narrow
    // ReadSchema, one distinct pre-aggregate each) and the branches run
    // concurrently in one job.
    "table_profile" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      def prof(c: String): DataFrame =
        li.agg(
          count(lit(1)).as("n"),
          sum(when(col(c).isNull, lit(1L)).otherwise(lit(0L))).as("n_nulls"),
          countDistinct(col(c)).as("n_distinct"),
          min(col(c)).as("vmin"), max(col(c)).as("vmax"),
          sum(col(c).cast("decimal(18,4)")).cast("double").as("vsum"))
          .select(lit(c).as("column_name"), col("n"), col("n_nulls"),
            col("n_distinct"), col("vmin"), col("vmax"), col("vsum"))
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
        .map(prof).reduce(_ unionAll _).orderBy("column_name")
    }),
    // referential-integrity audit over the fact-dimension graph: orphan
    // counts per foreign-key edge as LEFT ANTI join aggregates — the
    // constraint check a pipeline runs on every ingest (all four edges are
    // key-hashed anti joins; dimension sides broadcast).
    "fk_integrity" -> ((s, dir) => {
      // lazy: each edge is (child count) × (anti-join count) as two 1-row
      // aggregates cross-joined — the whole 4-edge audit is ONE plan/action
      // and the branches run concurrently (no eager driver .count() per
      // edge at construction time)
      def edge(name: String, child: DataFrame, key: String,
               parent: DataFrame, pkey: String): DataFrame = {
        val orphans = child.join(parent.select(col(pkey).as(key)),
            Seq(key), "left_anti")
          .agg(count(lit(1)).as("n_orphans"))
        child.agg(lit(name).as("fk_edge"), count(lit(1)).as("n_child"))
          .crossJoin(orphans)
      }
      val e1 = edge("lineitem.orderkey->orders",
        t(s, dir, "lineitem").select(col("l_orderkey").as("k")), "k",
        t(s, dir, "orders"), "o_orderkey")
      val e2 = edge("orders.custkey->customer",
        t(s, dir, "orders").select(col("o_custkey").as("k")), "k",
        t(s, dir, "customer"), "c_custkey")
      val e3 = edge("customer.nationkey->nation",
        t(s, dir, "customer").select(col("c_nationkey").as("k")), "k",
        t(s, dir, "nation"), "n_nationkey")
      val e4 = edge("lineitem.partkey->part",
        t(s, dir, "lineitem").select(col("l_partkey").as("k")), "k",
        t(s, dir, "part"), "p_partkey")
      e1.unionAll(e2).unionAll(e3).unionAll(e4).orderBy("fk_edge")
    }),
    // declarative constraint suite (the Deequ shape): 6 rules over
    // lineitem in ONE conditional-aggregation scan — the per-ingest data
    // quality gate. NULL predicate = violation (unknown is not valid).
    "validate_rules" -> ((s, dir) =>
      operators.Validate.checkRules(t(s, dir, "lineitem"),
        lineitemRules.map { case (n, p, _) => (n, p) })),
    // k-anonymity audit over (nation, segment, 1k-account-balance bucket)
    // quasi-identifiers: equivalence classes smaller than k=5 are
    // re-identification risks — the release gate for user-adjacent data
    "kanon_risk" -> ((s, dir) =>
      operators.Validate.kAnonymityAudit(
          t(s, dir, "customer").withColumn("bal_bucket",
            floor(col("c_acctbal") / 1000).cast("long")),
          Seq("c_nationkey", "c_mktsegment", "bal_bucket"), k = 5)
        .orderBy("c_nationkey", "c_mktsegment", "bal_bucket")),
    // content-integrity manifest: per id-bucket row count + XOR-folded
    // row fingerprint (order-free, partial-aggregable) — the cheap
    // dataset-versioning audit after every materialization
    "dataset_manifest" -> ((s, dir) =>
      operators.Validate.contentManifest(t(s, dir, "documents"), "doc_id",
          concat(col("doc_id").cast("string"), lit(":"),
            coalesce(col("text"), lit(""))), buckets = 64)
        .orderBy("bucket")),
    // row-level complement of the suite: every violating row with the
    // comma-joined names of the rules it breaks (stateless filter+project;
    // the clean-path filter is this predicate negated)
    "validate_quarantine" -> ((s, dir) =>
      operators.Validate.quarantine(t(s, dir, "lineitem"),
          lineitemRules.map { case (n, p, _) => (n, p) },
          Seq("l_orderkey", "l_linenumber", "l_quantity", "l_discount",
            "l_returnflag"))
        .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_discount",
          "l_returnflag", "failed")),
    // fuzzy join via deletion-neighborhood blocking: probes are customer
    // names with ONE deterministically-deleted character; each canonical
    // name explodes into its |name| single-deletion variants and the match
    // is a plain hash equi-join on the variant string — the scalable
    // edit-distance-1 join (linear explode + hash join) instead of a
    // quadratic similarity cross join. Ambiguous probes resolve to the
    // smallest matching key.
    "fuzzy_join_del1" -> ((s, dir) => {
      val cust = t(s, dir, "customer")
        .select(col("c_custkey"), lower(trim(col("c_name"))).as("name"))
      val probes = cust.select(
        (col("c_custkey") + 1000000L).as("probe_id"),
        expr("concat(substring(name, 1, CAST(c_custkey % length(name) AS INT)), " +
          "substring(name, CAST(c_custkey % length(name) AS INT) + 2))")
          .as("probe_name"))
      val variants = cust.select(col("c_custkey"),
        explode(expr("transform(sequence(1, length(name)), " +
          "i -> concat(substring(name, 1, i - 1), substring(name, i + 1)))"))
          .as("variant"))
      probes.join(variants, probes("probe_name") === variants("variant"))
        .groupBy(col("probe_id"))
        .agg(min(col("c_custkey")).as("matched_key"),
          count(lit(1)).as("n_candidates"))
        .orderBy("probe_id")
    }),
    // ntile window coverage: quartile assignment per event type by value
    // (ties broken by event_id so the tile boundaries are deterministic)
    "events_ntile" -> ((s, dir) => {
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("value"), col("event_id"))
      events(s, dir)
        .select(col("event_id"), col("event_type"), col("value"))
        .withColumn("quartile", ntile(4).over(w).cast("long"))
        .select(col("event_id"), col("event_type"), col("quartile"))
        .orderBy("event_id")
    }),
    // semi/anti joins (EXISTS / NOT EXISTS as physical join types)
    "q_semi_anti" -> ((s, dir) => {
      val cust = t(s, dir, "customer")
      val ord = t(s, dir, "orders")
      val withOrders = cust.join(ord, cust("c_custkey") === ord("o_custkey"),
        "left_semi").select(col("c_custkey"), lit("has_orders").as("status"))
      val withoutOrders = cust.join(ord, cust("c_custkey") === ord("o_custkey"),
        "left_anti").select(col("c_custkey"), lit("no_orders").as("status"))
      withOrders.unionAll(withoutOrders).orderBy("c_custkey")
    }),
    // skew-resilient aggregation: salted two-phase min/count — partials on
    // (key, salt) spread a hot key over 8 reducers, finals re-merge; output
    // is identical to the unsalted group-by (same oracle as dedup_exact)
    "dedup_salted" -> ((s, dir) => {
      val fp = graft.functions.docFingerprint(col("text"))
      t(s, dir, "documents")
        .select(col("doc_id"), fp.as("fingerprint"),
          pmod(hash(col("doc_id")), lit(8)).as("_salt"))
        .groupBy(col("fingerprint"), col("_salt"))
        .agg(min(col("doc_id")).as("_pmin"), count(lit(1)).as("_pcnt"))
        .groupBy(col("fingerprint"))
        .agg(min(col("_pmin")).as("doc_id"), sum(col("_pcnt")).as("n_dups"))
        .select(col("fingerprint"), col("doc_id"), col("n_dups"))
        .orderBy("doc_id")
    }),
    // analytic functions: dense_rank within event type, ntile over users
    "events_ranks" -> ((s, dir) => {
      val byValue = Window.partitionBy(col("event_type"))
        .orderBy(col("value").desc, col("event_id").asc)
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      events(s, dir).select(col("event_id"), col("event_type"),
          dense_rank().over(byValue).cast("long").as("value_rank"),
          ntile(4).over(byUser).cast("long").as("session_quartile"))
        .orderBy("event_id")
    }),
    // JSON scalar functions over the props column
    "events_json" -> ((s, dir) =>
      events(s, dir).select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .where(col("k") >= 50)
        .orderBy("event_id")),
    // event-time tumbling window (hourly buckets; integer second arithmetic)
    "events_tumbling" -> ((s, dir) =>
      events(s, dir)
        .select(expr("(ts div 1000000000) div 3600 * 3600").as("bucket_start"),
          col("event_type"), col("value"))
        .groupBy(col("bucket_start"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,3)")).cast("double").as("sum_value"))
        .orderBy("bucket_start", "event_type")),
    // grouped skyline: one Pareto frontier per event-time hour — minimize
    // (value, props.k) within each bucket (windowed-skyline extension)
    "sky_windowed_events" -> ((s, dir) => {
      val ev = events(s, dir).select(
        expr("(ts div 1000000000) div 3600 * 3600").as("bucket_start"),
        col("event_id"), col("value").cast("double").as("v1"),
        get_json_object(col("props"), "$.k").cast("double").as("v2"))
      graft.operators.SkylineOps.skylineGroupedDF(ev, Seq("bucket_start"),
        "event_id", Seq("v1", "v2")).orderBy("bucket_start", "event_id")
    }),
    // as-of join: for each error event, the user's latest prior purchase
    "asof_purchase" -> ((s, dir) => {
      val ev = events(s, dir)
      val errors = ev.where(col("event_type") === "error")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.where(col("event_type") === "purchase")
      graft.operators.AsOfJoin.backward(errors, purchases,
          keyCols = Seq("user_id"), leftTime = "ts", rightTime = "ts",
          payload = Seq("value", "event_id"))
        .select(col("event_id"), col("user_id"),
          col("value_asof"), col("event_id_asof").as("prior_purchase_id"))
        .orderBy("event_id")
    }),
    // forward as-of join: for each purchase, the user's NEXT error event
    "asof_next_error" -> ((s, dir) => {
      val ev = events(s, dir)
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val errors = ev.where(col("event_type") === "error")
      graft.operators.AsOfJoin.forward(purchases, errors,
          keyCols = Seq("user_id"), leftTime = "ts", rightTime = "ts",
          payload = Seq("event_id", "value"))
        .select(col("event_id"), col("user_id"),
          col("event_id_asof").as("next_error_id"), col("value_asof"))
        .orderBy("event_id")
    }),
    // interval (range) join: every (error, purchase) pair for the same user
    // within ±10 minutes — bucketed equi-join, not a per-key cartesian.
    // Times are truncated to MICROSECONDS first (ts div 1000) because DuckDB
    // reads the ns-precision parquet timestamps at µs precision — filtering
    // and dt must derive from the same truncated values on both engines.
    "interval_join" -> ((s, dir) => {
      val ev = events(s, dir)
      val errors = ev.where(col("event_type") === "error")
        .select(col("event_id"), col("user_id"), expr("ts div 1000").as("tus"))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), expr("ts div 1000").as("tus"),
          col("value"))
      graft.operators.IntervalJoin.join(errors, purchases,
          keyCols = Seq("user_id"), leftTime = "tus", rightTime = "tus",
          delta = 600L * 1000000L, payload = Seq("event_id", "value"))
        .select(col("event_id").as("error_id"), col("user_id"),
          col("event_id_r").as("purchase_id"), col("value_r"),
          (col("tus") - col("tus_r")).as("dt_us"))
        .orderBy("error_id", "purchase_id")
    }),
    // hopping (sliding) event-time windows: 1h size, 30min slide — each
    // event lands in two windows (explode over the two candidate starts)
    "events_hopping" -> ((s, dir) => {
      val hopBase = expr("(ts div 1000000000) div 1800 * 1800")
      events(s, dir)
        .select(col("event_type"), col("value"),
          explode(array(hopBase - 1800L, hopBase)).as("window_start"))
        .groupBy(col("window_start"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,3)")).cast("double").as("sum_value"))
        .orderBy("window_start", "event_type")
    }),
    // explicit grouping sets (beyond rollup/cube)
    "q_grouping_sets" -> ((s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("li_gs")
      // pre-aggregate per (flag, status) BEFORE the grouping-set Expand:
      // Expand multiplies its input per grouping set, so at scale it must
      // run over the few-row partial, not the fact table (decimal partial
      // sums are exact and associative - byte-identical results)
      s.sql(
        """WITH base AS (
          |  SELECT l_returnflag, l_linestatus,
          |    SUM(CAST(l_quantity AS DECIMAL(18,2))) AS q, COUNT(*) AS n
          |  FROM li_gs GROUP BY 1, 2)
          |SELECT l_returnflag, l_linestatus,
          |CAST(SUM(q) AS DOUBLE) AS sum_qty,
          |SUM(n) AS n
          |FROM base
          |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
          |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST"""
          .stripMargin)
    }),
    // pivot: per user decile, one count column per event type
    "events_pivot" -> ((s, dir) =>
      events(s, dir)
        .select((col("user_id") % 10).as("user_decile"), col("event_type"))
        .groupBy(col("user_decile"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .count()
        .na.fill(0L)
        .orderBy("user_decile")),
    // unpivot (stack): the wide pivot frame back to long form — the
    // roundtrip law unpivot(pivot(x)) == groupBy(x) is exactly what the
    // oracle checks (the SQL side never pivots at all). stack() is pure
    // per-row expression work over the 10-row wide frame; zero-count cells
    // are dropped to match the groupBy image.
    "events_unpivot" -> ((s, dir) =>
      events(s, dir)
        .select((col("user_id") % 10).as("user_decile"), col("event_type"))
        .groupBy(col("user_decile"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .count()
        .na.fill(0L)
        .selectExpr("user_decile",
          "stack(5, 'click', click, 'error', error, 'purchase', purchase, " +
            "'signup', signup, 'view', view) AS (event_type, n)")
        .where(col("n") > 0)
        .orderBy("user_decile", "event_type")),
    // grouping sets: rollup with decimal-exact sums, over the per-group
    // partial (see q_grouping_sets note - Expand runs over 6 rows, not 600k)
    "q1_rollup" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("_q"),
          count(lit(1)).as("_n"))
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("_q")).cast("double").as("sum_qty"), sum(col("_n")).as("n"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)),
    // grouping sets: full cube with decimal-exact sums, same pre-aggregation
    "q_cube" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("_q"),
          sum(col("l_discount").cast("decimal(18,4)")).as("_d"),
          count(lit(1)).as("_n"))
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("_q")).cast("double").as("sum_qty"),
          sum(col("_d")).cast("double").as("sum_disc"),
          sum(col("_n")).as("n"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)),
    // exact distributed quantiles per group (integer-valued input + dyadic
    // quantiles keep the interpolation bit-exact across engines)
    "events_quantiles" -> ((s, dir) =>
      events(s, dir)
        .groupBy(col("event_type"))
        .agg(percentile(floor(col("value")), lit(0.25)).as("p25"),
          percentile(floor(col("value")), lit(0.5)).as("p50"),
          percentile(floor(col("value")), lit(0.75)).as("p75"),
          count(lit(1)).as("n"))
        .orderBy("event_type")),
    // mergeable quantile SKETCH: fixed-width histogram (512 bins over the
    // global [min, max]) + lower-bin-edge quantile estimates from the
    // cumulative counts. The scale path next to events_quantiles' exact
    // percentile: bucket counts are one partial+final aggregate with state
    // bounded at 512 rows per group (mergeable by addition across any
    // partitioning — no per-group sort of raw values), and the estimate is
    // off by at most one bin width. All arithmetic is a fixed IEEE fold
    // (bin width, edges) or exact integer logic (cumulative counts,
    // ceil(q·n) ranks) — hash-exact across engines.
    "hist_quantiles" -> ((s, dir) => {
      val B = HistBins
      val e = events(s, dir)
        .select(col("event_type"), col("value").cast("double").as("v"))
        // null values would land in a null bin here but are dropped by the
        // streaming twin's watermark projection — filter on both (and in
        // the oracle) so all three formulations agree on null handling
        .where(col("v").isNotNull)
      val bounds = e.agg(min("v").as("lo"), max("v").as("hi"))
      val binned = e.crossJoin(broadcast(bounds))
        .withColumn("bin", histBin(col("v"), col("lo"), col("hi"), B))
      val hist = binned.groupBy("event_type", "bin").agg(count(lit(1)).as("c"))
      histReadout(hist, _.crossJoin(broadcast(bounds)),
        col("lo"), col("hi"), B)
    }),
    // set operations: INTERSECT / EXCEPT over key sets
    "set_ops_building" -> ((s, dir) => {
      val building = t(s, dir, "customer")
        .where(col("c_mktsegment") === "BUILDING").select(col("c_custkey").as("k"))
      val withOrders = t(s, dir, "orders").select(col("o_custkey").as("k"))
      val highValue = t(s, dir, "orders")
        .where(col("o_totalprice") > 200000.0).select(col("o_custkey").as("k"))
      building.intersect(withOrders).except(highValue).orderBy("k")
    }),
    // window functions over the events stream table
    "events_window" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      events(s, dir).select(col("event_id"), col("user_id"),
          row_number().over(w).cast("long").as("rn"),
          count(lit(1)).over(w.rowsBetween(Window.unboundedPreceding, 0))
            .as("running_events"),
          lag(col("event_id"), 1, -1L).over(w).as("prev_event"))
        .orderBy("event_id")
    }),
    // sessionization: 30-minute inactivity gap splits sessions (all-integer
    // arithmetic: epoch seconds, cumulative sum over a window)
    "events_sessionize" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val secExpr = expr("ts div 1000000000")
      val withGap = events(s, dir).select(col("event_id"), col("user_id"),
        col("ts"), secExpr.as("sec"), lag(secExpr, 1).over(w).as("prev_sec"))
      withGap
        .withColumn("new_session",
          when(col("prev_sec").isNull || col("sec") - col("prev_sec") > 1800, 1L)
            .otherwise(0L))
        .withColumn("session_seq",
          sum(col("new_session")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .select(col("event_id"), col("user_id"), col("session_seq"))
        .orderBy("event_id")
    }),
    // funnel analysis: signup → view → click → purchase, each stage's event
    // strictly after the user's first event of the previous stage. Staged
    // conditional min-aggregation: every stage is a user_id-keyed groupBy
    // joined to the previous stage's (user_id, t) — all joins share the one
    // user_id hash partitioning and each stage frame only shrinks, so at
    // scale this is a single co-partitioned exchange chain, no windows.
    "events_funnel" -> ((s, dir) => {
      val ev = events(s, dir).select(col("user_id"), col("event_type"),
        expr("ts div 1000").as("tus"))
      def stage(typ: String, prev: DataFrame): DataFrame =
        ev.where(col("event_type") === typ)
          .join(prev, "user_id")
          .where(col("tus") > col("t"))
          .groupBy("user_id").agg(min(col("tus")).as("t"))
      val s1 = ev.where(col("event_type") === "signup")
        .groupBy("user_id").agg(min(col("tus")).as("t"))
      val s2 = stage("view", s1)
      val s3 = stage("click", s2)
      val s4 = stage("purchase", s3)
      Seq(("1_signup", s1), ("2_view", s2), ("3_click", s3), ("4_purchase", s4))
        .map { case (nm, df) => df.agg(count(lit(1)).as("n_users"))
          .select(lit(nm).as("stage"), col("n_users")) }
        .reduce(_ unionAll _)
        .orderBy("stage")
    }),
    // weekly cohort retention: cohort = week of a user's first active day,
    // cell = distinct users active at each week offset. Two shuffles total
    // (distinct day grid, then the user-keyed first-day join) — the classic
    // retention matrix without any window function.
    "events_retention" -> ((s, dir) => {
      val days = events(s, dir).select(col("user_id"),
        expr("(ts div 1000000000) div 86400").as("day")).distinct()
      val firsts = days.groupBy("user_id").agg(min(col("day")).as("first_day"))
      days.join(firsts, "user_id")
        .select(col("user_id"), expr("first_day div 7").as("cohort_week"),
          expr("(day - first_day) div 7").as("week_offset"))
        .distinct()
        .groupBy("cohort_week", "week_offset")
        .agg(count(lit(1)).as("n_users"))
        .orderBy("cohort_week", "week_offset")
    }),
    // latest-record-per-key compaction (the CDC / SCD "current snapshot"
    // primitive): one max_by aggregation with a composite (ts, event_id)
    // order key — a single partial-aggregating shuffle, no window sort, and
    // the map-side combine means only one row per (partition, user) moves.
    "events_latest" -> ((s, dir) =>
      events(s, dir)
        .groupBy(col("user_id"))
        .agg(max_by(
          struct(col("event_id"), col("event_type"), col("value")),
          struct(col("ts"), col("event_id"))).as("last"))
        .select(col("user_id"), col("last.event_id").as("last_event_id"),
          col("last.event_type").as("last_type"),
          col("last.value").as("last_value"))
        .orderBy("user_id")),
    // per-user anomaly flags: z-score against decimal-exact moments. The
    // sums (Σv, Σv²) accumulate in DECIMAL — exact, order-independent — and
    // the mean/variance/z arithmetic is a fixed-order IEEE-double expression.
    // z is quantized with floor(z·10⁶)/10⁶, NOT round(z, 6): every floor
    // input is the same IEEE double on both engines so the quantization is
    // deterministic by construction, whereas Spark's BigDecimal-HALF_UP
    // round() and DuckDB's round() disagree on .5-boundary doubles — and a
    // divergent z would change the flagged-row SET, not just a digit.
    // robust (median/MAD) outlier detection per event_type — the
    // heavy-tail-safe sibling of events_zscore. Both medians are the
    // DISCRETE lower median (row_number pick, never interpolation), so
    // med and mad are actual data values and the 3x-MAD comparison is
    // the same two IEEE ops on both engines — no float-sum oracle risk.
    // Scale: two per-group window sorts (the exact-median cost); the
    // approximate sibling at 100 TB is hist_quantiles' fixed-width bins.
    "events_mad_outliers" -> ((s, dir) => {
      val ev = events(s, dir)
        .select(col("event_id"), col("event_type"), col("value"))
      def lowerMedian(df: DataFrame, valueCol: String, out: String) = {
        val w = Window.partitionBy("event_type")
          .orderBy(col(valueCol), col("event_id"))
        df.withColumn("rn", row_number().over(w))
          .withColumn("cnt",
            count(lit(1)).over(Window.partitionBy("event_type")))
          .where(col("rn") === ((col("cnt") + 1) / 2).cast("long"))
          .select(col("event_type"), col(valueCol).as(out))
      }
      val med = lowerMedian(ev, "value", "med")
      val dev = ev.join(med, "event_type")
        .withColumn("dev", abs(col("value") - col("med")))
      val mad = lowerMedian(dev, "dev", "mad")
      dev.join(mad, "event_type")
        .where(col("mad") > lit(0.0) && col("dev") > lit(3.0) * col("mad"))
        .select(col("event_id"), col("event_type"), col("value"))
        .orderBy("event_id")
    }),
    "events_zscore" -> ((s, dir) => {
      val ev = events(s, dir).select(col("event_id"), col("user_id"),
        col("value").cast("decimal(18,6)").as("dv"))
      val stats = ev.groupBy("user_id").agg(
        count(lit(1)).cast("double").as("n"),
        sum(col("dv")).cast("double").as("sv"),
        sum(col("dv") * col("dv")).cast("double").as("svv"))
      val mean = col("sv") / col("n")
      val variance = col("svv") / col("n") - mean * mean
      val zRaw = (col("dv").cast("double") - mean) / sqrt(variance)
      ev.join(stats, "user_id")
        .where(variance > lit(0.0))
        .select(col("event_id"), col("user_id"),
          (floor(zRaw * lit(1000000.0)) / lit(1000000.0)).as("z"))
        .where(abs(col("z")) > lit(2.0))
        .orderBy("event_id")
    }),
    // market-basket co-occurrence mining: distinct items per order, then a
    // self-join on the order key. Pair fan-out is k²/2 per order where k is
    // the order size — bounded by the data model (≤7 here), NOT by corpus
    // size, so the join never goes quadratic in rows; the groupBy then
    // shuffles only the surviving pairs. (A pathological mega-basket would
    // need a per-key item cap first — same guard as the hot-shingle df-cap
    // in ngramJaccardPairs.)
    "basket_pairs" -> ((s, dir) => {
      // wide scan: the map-side partial of the (ok, pk) distinct is narrow
      // work above the single-split lineitem scan (quiet A/B 2.4→2.0 s)
      val items = graft.sources.Fixtures.tableWide(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      val a = items.select(col("ok"), col("pk").as("p1"))
      val b = items.select(col("ok"), col("pk").as("p2"))
      a.join(b, Seq("ok")).where(col("p1") < col("p2"))
        .groupBy("p1", "p2").agg(count(lit(1)).as("support"))
        .where(col("support") >= 2)
        .orderBy("p1", "p2")
    }),
    // triangle counting over the co-purchase graph (basket_pairs edges with
    // support >= 2, kept as a < b). Ordered-wedge enumeration: every
    // triangle a < b < c is found exactly once by joining
    // (a,b)⋈(b,c)⋈(a,c) — the id-based orientation avoids enumerating each
    // triangle 6 times (degree-based orientation would additionally give
    // the O(E^1.5) wedge-work bound; id order does not). The edge frame is
    // derived once and self-joined (broadcast at this size, hash-keyed
    // shuffles at scale). Per-node counts at the lowest vertex keep the
    // output compact.
    "graph_triangles" -> ((s, dir) => {
      val items = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      // materialized once: the support-filtered edge frame feeds three join
      // sites (both wedge sides + the closing join); unpinned, each site
      // re-runs the final support aggregation over the ~per-order pair
      // explosion (the exchange below it is runtime-reused, the reduce-side
      // agg + filter are not) — guide §2.4 duplicated subtrees. The frame
      // is small (support >= 2 survivors only), the safe side of the
      // round-7 "materialize only small/filtered frames" rule.
      val e = items.select(col("ok"), col("pk").as("p1"))
        .join(items.select(col("ok"), col("pk").as("p2")), Seq("ok"))
        .where(col("p1") < col("p2"))
        .groupBy("p1", "p2").agg(count(lit(1)).as("support"))
        .where(col("support") >= 2)
        .select(col("p1").as("a"), col("p2").as("b"))
        .localCheckpoint(true)
      // size-gated broadcast of the pinned edge frame (3.6k rows at sf0.1;
      // the pinned RDD carries no size estimate, so without the hint both
      // wedge joins sort-merge). The gate keeps the plan scale-safe: a
      // corpus whose co-purchase graph outgrows the bound falls back to
      // the shuffled joins. Counting pinned rows is one local scan, no
      // recompute. Strategy only — rows identical either way.
      val eJoin = if (e.count() <= 5000000L) (d: org.apache.spark.sql.DataFrame) => broadcast(d)
        else (d: org.apache.spark.sql.DataFrame) => d
      val wedges = e.join(eJoin(e.select(col("a").as("b"), col("b").as("c"))), Seq("b"))
      wedges.join(eJoin(e.select(col("a"), col("b").as("c"))), Seq("a", "c"))
        .groupBy(col("a")).agg(count(lit(1)).as("n_triangles"))
        .orderBy("a")
    }),
    // RANGE-interval window frame: per-user 7-day rolling sum/count keyed by
    // event-time VALUE (all equal-second rows enter the frame together —
    // the semantic rows-frames cannot express). Decimal-exact rolling sum.
    "events_rolling_7d" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("sec"))
        .rangeBetween(-604800L, 0L)
      events(s, dir)
        .select(col("event_id"), col("user_id"),
          expr("ts div 1000000000").as("sec"),
          col("value").cast("decimal(18,3)").as("dv"))
        .select(col("event_id"), col("user_id"),
          sum(col("dv")).over(w).cast("double").as("rolling_sum"),
          count(lit(1)).over(w).as("n_7d"))
        .orderBy("event_id")
    }),
    // decorrelated scalar subquery: parts priced above their brand average.
    // The per-brand average frame is |brands| rows — broadcast — so the
    // "correlated subquery" is a broadcast join + filter, not a re-executed
    // subquery per row (what Catalyst's decorrelation does for the SQL form).
    "part_above_brand_avg" -> ((s, dir) => {
      val part = t(s, dir, "part")
      val brandAvg = part.groupBy(col("p_brand"))
        .agg((sum(col("p_retailprice").cast("decimal(18,2)")).cast("double") /
          count(lit(1)).cast("double")).as("brand_avg"))
      part.join(broadcast(brandAvg), "p_brand")
        .where(col("p_retailprice") > col("brand_avg"))
        .select(col("p_partkey"), col("p_brand"), col("p_retailprice"),
          col("brand_avg"))
        .orderBy("p_partkey")
    }),
    // three-valued-logic parity: NOT IN over a subquery containing a NULL
    // matches nothing (the NULL poisons every comparison), while the
    // NOT EXISTS decorrelation keeps its row-by-row semantics — both
    // engines must agree on this classic SQL trap (nullif injects the NULL
    // since the fixture is null-free)
    "q_not_in_nulls" -> ((s, dir) => {
      t(s, dir, "customer").createOrReplaceTempView("customer_nin")
      t(s, dir, "orders").createOrReplaceTempView("orders_nin")
      s.sql(
        """SELECT 'not_in_with_null' AS variant, COUNT(*) AS n
          |FROM customer_nin
          |WHERE c_custkey NOT IN (SELECT nullif(o_custkey, 7) FROM orders_nin)
          |UNION ALL
          |SELECT 'not_exists' AS variant, COUNT(*) AS n FROM customer_nin c
          |WHERE NOT EXISTS (SELECT 1 FROM orders_nin o
          |  WHERE nullif(o.o_custkey, 7) = c.c_custkey)
          |ORDER BY variant""".stripMargin)
    }),
    // distribution-rank analytics: percent_rank / cume_dist plus
    // first_value / nth_value frames over a total (value, event_id) order —
    // the ratios are single IEEE divisions of identical integers on both
    // engines, so even these doubles hash exactly
    "events_dist_ranks" -> ((s, dir) => {
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("value"), col("event_id"))
      events(s, dir).select(col("event_id"), col("event_type"),
          percent_rank().over(w).as("pr"),
          cume_dist().over(w).as("cd"),
          first(col("event_id")).over(w).as("fv"),
          nth_value(col("event_id"), 2).over(w).as("nv2"))
        .orderBy("event_id")
    }),
    // linear-counting distinct sketch: per event type, occupied buckets of
    // hash60 % 256 next to the exact distinct count. The sketch state is m
    // bits per group regardless of cardinality (the mergeable-summary
    // contract); the -m·ln(empty/m) estimate is asserted accurate in the
    // spec — ln() stays OUT of the oracle (libm-dependent), so the gated
    // columns are all integers.
    "distinct_sketch" -> ((s, dir) =>
      events(s, dir).select(col("event_type"), col("user_id"),
          pmod(graft.functions.hash60(
            concat(lit("lc#"), col("user_id").cast("string"))), lit(256L))
            .as("bucket"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("user_id")).as("n_exact"),
          countDistinct(col("bucket")).as("n_occupied"))
        .orderBy("event_type")),
    // funnel conversion latency: per converting user, µs from first signup
    // to first subsequent purchase (through the full s1→s4 chain), then
    // exact percentiles over the integer latencies (same floor/percentile
    // discipline as events_quantiles — interpolation on integers is exact)
    "funnel_latency" -> ((s, dir) => {
      val ev = events(s, dir).select(col("user_id"), col("event_type"),
        expr("ts div 1000").as("tus"))
      def stage(typ: String, prev: DataFrame): DataFrame =
        ev.where(col("event_type") === typ)
          .join(prev.select(col("user_id"), col("t")), "user_id")
          .where(col("tus") > col("t"))
          .groupBy("user_id").agg(min(col("tus")).as("t"))
      val s1 = ev.where(col("event_type") === "signup")
        .groupBy("user_id").agg(min(col("tus")).as("t"))
      val s4 = stage("purchase", stage("click", stage("view", s1)))
      s4.select(col("user_id"), col("t").as("t4"))
        .join(s1.select(col("user_id"), col("t").as("t1")), "user_id")
        .select((col("t4") - col("t1")).as("lat_us"))
        .agg(count(lit(1)).as("n_converted"),
          percentile(col("lat_us"), lit(0.5)).as("p50_us"),
          percentile(col("lat_us"), lit(0.9)).as("p90_us"))
    }),
    // iterative graph analytics: 3 PageRank rounds over the undirected
    // customer–supplier bipartite graph (edges = distinct trade pairs via
    // orders ⋈ lineitem). Q30 fixed-point contributions make the rank
    // vector bit-identical to the unrolled SQL evaluation — an ITERATIVE
    // float computation under the exact-hash gate, no tolerance.
    "graph_pagerank" -> ((s, dir) => {
      // wide lineitem, same rationale as the digraph twin below: the
      // broadcast-join probe and the distinct's map-side partial sit above
      // the fixture's one-split scan and serialize on one core otherwise
      // (r14 probe: edge derivation alone is ~1.4 s of the ~2.8 s warm lap)
      val pairs = t(s, dir, "orders")
        .join(graft.sources.Fixtures.tableWide(s, dir, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey"), col("l_suppkey"))
      val edges = graft.operators.Graph.undirectedBipartite(
        pairs, "o_custkey", "l_suppkey")
      graft.operators.Graph.pageRank(edges, iterations = 3).orderBy("id")
    }),
    // general-DIGRAPH PageRank with dangling-mass redistribution: the
    // trade graph kept DIRECTED (customer → supplier), so every supplier
    // is a sink (absorbs rank, no out-edges) and every customer a pure
    // source (no in-edges) — the two shapes pageRank's undirected fast
    // path rejects. The per-round dangling sum is Q30-quantized like the
    // contributions, keeping the 3-round rank vector bit-identical to the
    // unrolled SQL under the exact-hash gate.
    "graph_pagerank_digraph" -> ((s, dir) => {
      // wide lineitem: the broadcast-join probe + distinct partial above
      // the single-split scan serialize otherwise (quiet A/B 5.4→4.4 s)
      val edges = t(s, dir, "orders")
        .join(graft.sources.Fixtures.tableWide(s, dir, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
        .distinct()
      graft.operators.Graph.pageRankDigraph(edges, iterations = 3)
        .orderBy("id")
    }),
    // MapType surface: parse the props JSON into a map column and explode it
    // to (event_id, key, val) rows — the schema-on-read path for ragged
    // metadata (keys unknown at write time). Pure per-row work, no shuffle.
    "events_props_map" -> ((s, dir) =>
      events(s, dir)
        .select(col("event_id"),
          from_json(col("props"),
            org.apache.spark.sql.types.DataType.fromDDL("map<string,bigint>"))
            .as("m"))
        .select(col("event_id"), explode(col("m")))
        .select(col("event_id"), col("key"), col("value").as("val"))
        .orderBy("event_id", "key")),
    // date-dimension aggregation with engine-portable weekday math: weekday
    // derived as (epoch_days + 4) % 7 (1970-01-01 was a Thursday) — Spark's
    // dayofweek() and DuckDB's dow() disagree on numbering, integer epoch
    // arithmetic cannot.
    "q_weekday_revenue" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .select(
          expr("((CAST(CAST(l_shipdate AS TIMESTAMP) AS LONG) div 86400) + 4) % 7")
            .as("weekday"),
          (col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1).cast("decimal(18,2)") -
              col("l_discount").cast("decimal(18,2)"))).as("rev_dec"))
        .groupBy("weekday")
        .agg(sum(col("rev_dec")).cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("weekday")),
    // percent-of-total: nation revenue share against the global total carried
    // as a broadcast 1-row frame (NOT a partition-less window, which would
    // funnel every row through one task). The division happens on the exact
    // decimal sums cast to double — bit-identical on both engines.
    "nation_revenue_share" -> ((s, dir) => {
      val revenue = sum((col("l_extendedprice").cast("decimal(18,2)") *
        (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)"))))
      val rev = t(s, dir, "lineitem")
        .join(t(s, dir, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name")).agg(revenue.as("rev_dec"))
      val total = rev.agg(sum(col("rev_dec")).as("total_dec"))
      rev.crossJoin(broadcast(total))
        .select(col("n_name"), col("rev_dec").cast("double").as("revenue"),
          (col("rev_dec").cast("double") / col("total_dec").cast("double"))
            .as("share"))
        .orderBy("n_name")
    }),
    // Bloom-filter runtime semi-join: prune the fact side against a bit set
    // built from a selective dimension predicate BEFORE any fact shuffle
    // (the explicit form of Spark's runtime bloom filter, made md5-portable
    // so the oracle reproduces the exact bit set — false positives and all).
    // m=64/k=2 is deliberately undersized so the FP path is exercised:
    // is_member separates true EUROPE suppliers from Bloom false positives.
    "bloom_semi_join" -> ((s, dir) => {
      val eu = t(s, dir, "supplier")
        .join(broadcast(t(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")),
          col("n_regionkey") === col("r_regionkey"))
        .where(col("r_name") === "EUROPE")
        .select(col("s_suppkey"))
      val bits = graft.operators.RuntimeFilters.bloomBits(eu, "s_suppkey",
        m = BloomM, k = BloomK)
      val probe = t(s, dir, "lineitem")
        .groupBy(col("l_suppkey")).agg(count(lit(1)).as("n_rows"))
      graft.operators.RuntimeFilters
        .bloomProbe(probe, "l_suppkey", bits, m = BloomM, k = BloomK)
        .join(broadcast(eu).withColumn("is_member", lit(1L)),
          col("l_suppkey") === col("s_suppkey"), "left")
        .select(col("l_suppkey"),
          coalesce(col("is_member"), lit(0L)).as("is_member"), col("n_rows"))
        .orderBy("l_suppkey")
    }),
    // HyperLogLog distinct estimate, m=64 registers: register = low 6 bits
    // of hash60, rank = leading-zero count of the remaining 54 bits + 1
    // (computed portably as 55 - length(bin(w)) — both engines' bin() is
    // minimal-width). The register-wise MAX is the mergeable-summary
    // contract (union = elementwise max). The harmonic mean is computed on
    // EXACT integers — sum of 2^(55-rank) as BIGINT — so the only float ops
    // are one literal product and one division, bit-identical across
    // engines; no tolerance needed even for the double estimate column.
    "hll_distinct" -> ((s, dir) => {
      val h = graft.functions.hash60(
        concat(lit("hll#"), col("o_custkey").cast("string")))
      val b = t(s, dir, "orders")
        .select(col("o_orderpriority"), col("o_custkey"), h.as("h"))
      val regs = b.select(col("o_orderpriority"),
          pmod(col("h"), lit(64L)).as("reg"),
          when(shiftright(col("h"), 6) === 0, lit(55))
            .otherwise(lit(55) - length(bin(shiftright(col("h"), 6))))
            .as("rank"))
        .groupBy("o_orderpriority", "reg").agg(max("rank").as("mr"))
      val sketch = regs.groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_occupied"),
          sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(55 - mr AS INT))"))
            .as("s"))
        .select(col("o_orderpriority"), col("n_occupied"),
          expr(HllEstSql).as("est_hll"))
      val exact = b.groupBy("o_orderpriority")
        .agg(countDistinct(col("o_custkey")).as("n_exact"))
      exact.join(sketch, "o_orderpriority")
        .select(col("o_orderpriority"), col("n_exact"), col("n_occupied"),
          col("est_hll"))
        .orderBy("o_orderpriority")
    }),
    // Z-order (Morton) data-layout clustering: interleave the customer and
    // order-day coordinates, bucket by the high z bits into "files", and
    // report per-file min/max of BOTH dimensions — the statistics a scan
    // planner would use for 2-D data skipping. A z-sorted layout bounds
    // both ranges per file; a 1-D sort would bound only one.
    "zorder_layout" -> ((s, dir) =>
      t(s, dir, "orders")
        .select(col("o_custkey"),
          expr("CAST(CAST(o_orderdate AS TIMESTAMP) AS LONG) div 86400")
            .as("day"))
        .select(col("o_custkey"), col("day"),
          graft.functions.zorder16(col("o_custkey"), col("day")).as("z"))
        .groupBy(shiftright(col("z"), 18).as("file_id"))
        .agg(count(lit(1)).as("n_rows"),
          min("o_custkey").as("min_cust"), max("o_custkey").as("max_cust"),
          min("day").as("min_day"), max("day").as("max_day"))
        .orderBy("file_id")),
    // Small-file compaction planner: the table-maintenance op every large
    // parquet table needs. The file inventory (one row per file: simulated
    // here as o_orderkey div 100 groups with a deterministic per-row byte
    // cost) is bin-packed IN file_id ORDER into target-size output files:
    // bin = exclusive-prefix-sum(size) div target — consecutive packing, so
    // an existing sort/z-order layout survives compaction. The inventory is
    // metadata-scale (one row per FILE: ~10^6 rows for a 100 TB table at
    // 128 MB files), so the single unpartitioned prefix-sum window is
    // deliberate — it runs on metadata, never on the data itself. All
    // integer math — hash-exact.
    "compaction_plan" -> ((s, dir) => {
      // 64 KB target: scaled to the synthetic inventory's byte costs so the
      // plan has multiple bins at every sf (a real planner would use 128 MB)
      val target = 64L * 1024
      val files = t(s, dir, "orders")
        .groupBy(expr("o_orderkey div 100").as("file_id"))
        .agg(count(lit(1)).as("n_rows"),
          sum(lit(32L) + length(col("o_orderstatus"))
            + length(col("o_orderpriority"))).cast("long").as("size_bytes"))
      val w = Window.orderBy("file_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      files
        .withColumn("start_off",
          coalesce(sum("size_bytes").over(w), lit(0L)))
        .withColumn("bin", expr(s"start_off div ${target}L"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n_files"),
          sum("size_bytes").cast("long").as("total_bytes"),
          min("file_id").as("first_file"), max("file_id").as("last_file"))
        .orderBy("bin")
    }),
    // Bucketed co-located join: both tables are first WRITTEN bucketBy the
    // join key (8 buckets, per-bucket sorted) into a scratch warehouse, and
    // the join then plans as a sort-merge join with ZERO Exchange and zero
    // per-query Sort on either side (BucketedJoinSpec asserts this on the
    // physical plan). This is the disk-resident sibling of zorder_layout:
    // at 100 TB the fact⋈fact shuffle is paid once at ingest, and every
    // later join/agg on the key is scan-speed. Result is materialized and
    // the scratch tables dropped before returning (a lazy frame would dangle
    // on the dropped tables). Revenue math is exact decimal → double.
    "bucketed_join" -> ((s, dir) => {
      val tag = java.lang.Long.toHexString(System.nanoTime())
      val base = java.nio.file.Files.createTempDirectory("graft_bucket").toString
      val liT = s"li_bkt_$tag"; val ordT = s"ord_bkt_$tag"
      try {
        graft.operators.Bucketing.writeBucketed(
          t(s, dir, "lineitem")
            .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount")),
          liT, s"$base/$liT", "l_orderkey", 8)
        graft.operators.Bucketing.writeBucketed(
          t(s, dir, "orders").select(col("o_orderkey"), col("o_orderpriority")),
          ordT, s"$base/$ordT", "o_orderkey", 8)
        val joined = s.table(liT)
          .join(s.table(ordT), col("l_orderkey") === col("o_orderkey"))
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"),
            sum(col("l_extendedprice").cast("decimal(18,2)") *
                (lit(BigDecimal(1)).cast("decimal(18,2)") -
                 col("l_discount").cast("decimal(18,2)")))
              .cast("double").as("revenue"))
          .orderBy("o_orderpriority")
        val rows = joined.collect()
        s.createDataFrame(java.util.Arrays.asList(rows: _*), joined.schema)
      } finally {
        s.sql(s"DROP TABLE IF EXISTS $liT")
        s.sql(s"DROP TABLE IF EXISTS $ordT")
        IoUtil.deleteRecursively(base)
      }
    }),
    // bounded top-k per group via a typed Aggregator: map-side partial
    // aggregation reduces each mapper's slice of a group to ≤ k entries
    // before the shuffle (O(k) state), where the row_number() window
    // formulation would shuffle and sort every row of the group. The
    // (n desc, user_id asc) total order makes the result unique → exact
    // hash gate vs. the window oracle.
    "events_topk_users" -> ((s, dir) => {
      val counts = events(s, dir)
        .groupBy(col("event_type"), col("user_id"))
        .agg(count(lit(1)).as("n"))
      val topk = udaf(new graft.operators.TopKAgg(5),
        graft.operators.TopK.inputEncoder)
      counts.groupBy("event_type")
        .agg(topk(col("n"), col("user_id")).as("top"))
        .select(col("event_type"), posexplode(col("top")))
        .select(col("event_type"), (col("pos") + 1).cast("long").as("rk"),
          col("col.id").as("user_id"), col("col.v").as("n"))
        .orderBy("event_type", "rk")
    }),
    // time-series gap filling: daily counts per event type, zero-filled over
    // the table's full [min_day, max_day] span. The day spine is generated
    // from a 1-row bounds aggregate (sequence+explode — no driver loop), the
    // (type × day) scaffold is a broadcast cross join of two tiny frames,
    // and the observed counts LEFT JOIN onto it. sequence() descends when
    // hi < lo, so the spine derives from one global min/max — never from
    // per-group bounds that could be empty.
    "events_gapfill" -> ((s, dir) => {
      val e = events(s, dir).select(col("event_type"),
        expr("ts div 86400000000000").as("day"))
      val counts = e.groupBy("event_type", "day").agg(count(lit(1)).as("n"))
      val days = e.agg(min("day").as("d0"), max("day").as("d1"))
        .select(explode(sequence(col("d0"), col("d1"))).as("day"))
      e.select("event_type").distinct()
        .crossJoin(broadcast(days))
        .join(counts, Seq("event_type", "day"), "left")
        .select(col("event_type"), col("day"),
          coalesce(col("n"), lit(0L)).as("n"))
        .orderBy("event_type", "day")
    }),
    // SCD-2 history build: turn a change log into validity intervals —
    // each user's event opens an interval that the NEXT event closes
    // (lead() over the per-user order; the final interval stays open as
    // NULL). The window is user-partitioned, so the sort is distributed.
    // Both the emitted bounds AND the window order use the µs-truncated
    // timestamp (DuckDB reads TIMESTAMP_NS parquet at µs precision, so
    // ordering by raw ns here could pair intervals differently on a
    // same-µs collision; event_id breaks ties identically on both engines).
    "events_scd2" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("valid_from_us"), col("event_id"))
      events(s, dir)
        .select(col("user_id"), col("event_id"), col("event_type"),
          expr("ts div 1000").as("valid_from_us"))
        .withColumn("valid_to_us",
          lead(col("valid_from_us"), 1).over(w))
        .orderBy("user_id", "valid_from_us", "event_id")
    }),
    // CDC MERGE: orders as a changelog over customer account balances —
    // latest-wins collapse per custkey (one partial-aggregating shuffle;
    // every 13th orderkey is a delete tombstone), then ONE full-outer join
    // onto the customer snapshot. Keys never ordered on → pass through as
    // 'base'; churned keys take the delta payload or vanish on tombstone.
    // The Delta/Hudi MERGE INTO shape with no per-row base rescan anywhere.
    "cdc_apply" -> ((s, dir) =>
      graft.operators.Cdc.applyChangelog(
        base = t(s, dir, "customer")
          .select(col("c_custkey").as("custkey"), col("c_acctbal").as("bal")),
        changelog = t(s, dir, "orders").select(
          col("o_custkey").as("custkey"),
          col("o_orderdate"), col("o_orderkey"),
          when(col("o_orderkey") % 13 === 0, lit("D")).otherwise(lit("U"))
            .as("op"),
          col("o_totalprice").as("bal")),
        keyCol = "custkey", seqCols = Seq("o_orderdate", "o_orderkey"),
        opCol = "op", payloadCols = Seq("bal"))
        .orderBy("custkey"))
  )

  // --- bloom geometry (single source of truth for bloom_semi_join and its
  // oracle — the bit positions must never drift between engines) ---
  private val BloomM = 64
  private val BloomK = 2
  private def bloomPosSql(keyRef: String, seed: Int): String =
    s"${TextQueries.hash60Sql(s"concat(CAST($keyRef AS VARCHAR), '#$seed')")} % $BloomM"

  /** HLL estimate from (n_occupied, s): alpha_64 * m^2 * 2^55 / scaled sum,
    * where empty registers contribute 2^55 each. The fragment is valid in
    * BOTH Spark SQL and DuckDB — literals are cast to DOUBLE explicitly
    * because both engines parse bare decimal literals as DECIMAL. */
  private val HllEstSql =
    "CAST(0.709 AS DOUBLE) * CAST(4096 AS DOUBLE) * " +
      "CAST(36028797018963968 AS DOUBLE) / " +
      "CAST(s + (64 - n_occupied) * 36028797018963968 AS DOUBLE)"

  /** The 32-term Morton interleave as portable SQL (mirror of
    * [[graft.functions.zorder16]]). */
  private def zorderSql(x: String, y: String): String =
    (0 until 16).flatMap(i => Seq(
      s"(((($x) & 65535) >> $i) & 1) << ${2 * i}",
      s"(((($y) & 65535) >> $i) & 1) << ${2 * i + 1}"))
      .map(t => s"($t)").mkString(" + ")

  def oracleSql: Map[String, String] = Map(
    "csv_roundtrip" ->
      """WITH raw AS (
        |  SELECT concat_ws(',', CAST(l_orderkey * 10 + l_linenumber AS VARCHAR),
        |    CAST(l_quantity AS VARCHAR), CAST(l_extendedprice AS VARCHAR)) AS line
        |  FROM lineitem WHERE l_orderkey % 10 = 0
        |  UNION ALL SELECT * FROM (VALUES ('garbage'), ('1,notanumber,3'), ('42')) v(line)),
        |parsed AS (SELECT
        |  TRY_CAST(string_split(line, ',')[1] AS BIGINT) AS id,
        |  TRY_CAST(string_split(line, ',')[2] AS DOUBLE) AS v1,
        |  TRY_CAST(string_split(line, ',')[3] AS DOUBLE) AS v2 FROM raw)
        |SELECT id, v1, v2 FROM parsed
        |WHERE id IS NOT NULL AND v1 IS NOT NULL AND v2 IS NOT NULL
        |ORDER BY id, v1, v2""".stripMargin.replace("\n", " "),
    "query_broadcast" ->
      """SELECT o_orderkey AS query_id, o_orderkey * 1000 AS required_count,
        |CAST(p AS BIGINT) AS target_partition
        |FROM orders, generate_series(0, 7) t(p) WHERE o_orderkey <= 40
        |ORDER BY query_id, target_partition""".stripMargin.replace("\n", " "),
    "q1_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        |CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |  (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
        |  AS sum_disc_price,
        |COUNT(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin.replace("\n", " "),
    "q3_top_orders" ->
      """SELECT l_orderkey,
        |CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |  (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
        |  AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY l_orderkey
        |ORDER BY revenue DESC, l_orderkey ASC LIMIT 10"""
        .stripMargin.replace("\n", " "),
    "q5_nation_revenue" ->
      """SELECT n_name,
        |CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |  (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
        |  AS revenue,
        |COUNT(*) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name ORDER BY n_name""".stripMargin.replace("\n", " "),
    "q6_forecast" ->
      """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue, COUNT(*) AS n
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1994-01-01 00:00:00'
        |AND l_shipdate < TIMESTAMP '1995-01-01 00:00:00'
        |AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24"""
        .stripMargin.replace("\n", " "),
    "table_profile" -> {
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      cols.map(c =>
        s"""SELECT '$c' AS column_name, COUNT(*) AS n,
           |  CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           |  COUNT(DISTINCT $c) AS n_distinct, MIN($c) AS vmin, MAX($c) AS vmax,
           |  CAST(SUM(CAST($c AS DECIMAL(18,4))) AS DOUBLE) AS vsum
           |FROM lineitem""".stripMargin.replace("\n", " "))
        .mkString("", " UNION ALL ", " ORDER BY column_name")
    },
    "fk_integrity" ->
      """SELECT * FROM (
        |SELECT 'lineitem.orderkey->orders' AS fk_edge, COUNT(*) AS n_child,
        |  (SELECT COUNT(*) FROM lineitem l WHERE NOT EXISTS
        |    (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS n_orphans
        |FROM lineitem
        |UNION ALL SELECT 'orders.custkey->customer', COUNT(*),
        |  (SELECT COUNT(*) FROM orders x WHERE NOT EXISTS
        |    (SELECT 1 FROM customer c WHERE c.c_custkey = x.o_custkey))
        |FROM orders
        |UNION ALL SELECT 'customer.nationkey->nation', COUNT(*),
        |  (SELECT COUNT(*) FROM customer x WHERE NOT EXISTS
        |    (SELECT 1 FROM nation n WHERE n.n_nationkey = x.c_nationkey))
        |FROM customer
        |UNION ALL SELECT 'lineitem.partkey->part', COUNT(*),
        |  (SELECT COUNT(*) FROM lineitem x WHERE NOT EXISTS
        |    (SELECT 1 FROM part p WHERE p.p_partkey = x.l_partkey))
        |FROM lineitem) ORDER BY fk_edge""".stripMargin.replace("\n", " "),
    "validate_rules" -> {
      val sums = lineitemRules.map { case (n, _, sql) =>
        s"CAST(SUM(CASE WHEN NOT COALESCE($sql, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS v_$n"
      }.mkString(", ")
      val arms = lineitemRules.map { case (n, _, _) =>
        s"SELECT '$n' AS rule, v_$n AS violations, n_rows FROM agg"
      }.mkString(" UNION ALL ")
      s"""WITH agg AS (SELECT COUNT(*) AS n_rows, $sums FROM lineitem)
         |SELECT rule, violations, n_rows, violations = 0 AS ok
         |FROM ($arms) ORDER BY rule""".stripMargin.replace("\n", " ")
    },
    "kanon_risk" ->
      """SELECT c_nationkey, c_mktsegment,
        |  CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS bal_bucket,
        |  COUNT(*) AS class_size, COUNT(*) < 5 AS at_risk
        |FROM customer GROUP BY 1, 2, 3
        |ORDER BY 1, 2, 3""".stripMargin.replace("\n", " "),
    "dataset_manifest" ->
      s"""SELECT doc_id % 64 AS bucket, COUNT(*) AS n_rows,
         |  CAST(bit_xor(${TextQueries.hash60Sql(
              "concat(CAST(doc_id AS VARCHAR), ':', coalesce(text, ''))")})
         |    AS BIGINT) AS xor_fp
         |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin.replace("\n", " "),
    "validate_quarantine" -> {
      val tags = lineitemRules.map { case (n, _, sql) =>
        s"CASE WHEN NOT COALESCE($sql, FALSE) THEN '$n' END"
      }.mkString("[", ", ", "]")
      s"""SELECT * FROM (
         |SELECT l_orderkey, l_linenumber, l_quantity, l_discount,
         |  l_returnflag,
         |  array_to_string(list_filter($tags, x -> x IS NOT NULL), ',')
         |    AS failed
         |FROM lineitem)
         |WHERE failed <> ''
         |ORDER BY l_orderkey, l_linenumber, l_quantity, l_discount,
         |  l_returnflag, failed""".stripMargin.replace("\n", " ")
    },
    "fuzzy_join_del1" ->
      """WITH cust AS (SELECT c_custkey, lower(trim(c_name)) AS name FROM customer),
        |probes AS (SELECT c_custkey + 1000000 AS probe_id,
        |  concat(substring(name, 1, CAST(c_custkey % length(name) AS INT)),
        |    substring(name, CAST(c_custkey % length(name) AS INT) + 2)) AS probe_name
        |  FROM cust),
        |vars AS (SELECT c_custkey,
        |  unnest([concat(substring(name, 1, i - 1), substring(name, i + 1))
        |    for i in range(1, length(name) + 1)]) AS variant FROM cust)
        |SELECT p.probe_id, MIN(v.c_custkey) AS matched_key,
        |  COUNT(*) AS n_candidates
        |FROM probes p JOIN vars v ON p.probe_name = v.variant
        |GROUP BY p.probe_id ORDER BY p.probe_id""".stripMargin.replace("\n", " "),
    "events_ntile" ->
      """SELECT event_id, event_type,
        |CAST(NTILE(4) OVER (PARTITION BY event_type
        |  ORDER BY value, event_id) AS BIGINT) AS quartile
        |FROM events ORDER BY event_id""".stripMargin.replace("\n", " "),
    "q_distinct_counts" ->
      """SELECT l_returnflag, COUNT(DISTINCT l_suppkey) AS n_suppliers,
        |COUNT(DISTINCT l_partkey) AS n_parts, COUNT(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""
        .stripMargin.replace("\n", " "),
    "q_semi_anti" ->
      """SELECT c_custkey, 'has_orders' AS status FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |UNION ALL
        |SELECT c_custkey, 'no_orders' AS status FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin.replace("\n", " "),
    "dedup_salted" ->
      s"""SELECT md5(${TextQueries.normSql})
         |AS fingerprint, MIN(doc_id) AS doc_id, COUNT(*) AS n_dups
         |FROM documents GROUP BY 1 ORDER BY doc_id"""
        .stripMargin.replace("\n", " "),
    "events_ranks" ->
      """SELECT event_id, event_type,
        |CAST(DENSE_RANK() OVER (PARTITION BY event_type
        |  ORDER BY value DESC, event_id ASC) AS BIGINT) AS value_rank,
        |CAST(NTILE(4) OVER (PARTITION BY user_id
        |  ORDER BY ts ASC, event_id ASC) AS BIGINT) AS session_quartile
        |FROM events ORDER BY event_id""".stripMargin.replace("\n", " "),
    "events_json" ->
      """SELECT event_id,
        |CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |FROM events WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) >= 50
        |ORDER BY event_id""".stripMargin.replace("\n", " "),
    "events_tumbling" ->
      """SELECT (epoch_ns(ts) // 1000000000) // 3600 * 3600 AS bucket_start,
        |event_type, COUNT(*) AS n,
        |CAST(SUM(CAST(value AS DECIMAL(18,3))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY bucket_start, event_type"""
        .stripMargin.replace("\n", " "),
    "sky_windowed_events" ->
      """WITH pts AS (SELECT (epoch_ns(ts) // 1000000000) // 3600 * 3600
        |AS bucket_start, event_id, CAST(value AS DOUBLE) AS v1,
        |CAST(json_extract_string(props, '$.k') AS DOUBLE) AS v2 FROM events)
        |SELECT t.bucket_start, t.event_id, t.v1, t.v2 FROM pts t
        |WHERE NOT EXISTS (SELECT 1 FROM pts u
        |  WHERE u.bucket_start = t.bucket_start
        |  AND u.v1 <= t.v1 AND u.v2 <= t.v2 AND (u.v1 < t.v1 OR u.v2 < t.v2))
        |ORDER BY t.bucket_start, t.event_id""".stripMargin.replace("\n", " "),
    "interval_join" ->
      """SELECT l.event_id AS error_id, l.user_id, r.event_id AS purchase_id,
        |r.value AS value_r, epoch_us(l.ts) - epoch_us(r.ts) AS dt_us
        |FROM (SELECT * FROM events WHERE event_type = 'error') l
        |JOIN (SELECT * FROM events WHERE event_type = 'purchase') r
        |ON l.user_id = r.user_id
        |AND abs(epoch_us(l.ts) - epoch_us(r.ts)) <= 600000000
        |ORDER BY error_id, purchase_id""".stripMargin.replace("\n", " "),
    "asof_purchase" ->
      """SELECT l.event_id, l.user_id, r.value AS value_asof,
        |r.event_id AS prior_purchase_id
        |FROM (SELECT * FROM events WHERE event_type = 'error') l
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') r
        |ON l.user_id = r.user_id AND l.ts >= r.ts
        |ORDER BY l.event_id""".stripMargin.replace("\n", " "),
    "asof_next_error" ->
      """SELECT p.event_id, p.user_id, n.next_error_id, n.value_asof
        |FROM (SELECT event_id, user_id, ts FROM events
        |      WHERE event_type = 'purchase') p
        |LEFT JOIN LATERAL (
        |  SELECT e.event_id AS next_error_id, e.value AS value_asof
        |  FROM events e
        |  WHERE e.event_type = 'error' AND e.user_id = p.user_id
        |    AND e.ts >= p.ts
        |  ORDER BY e.ts, e.event_id LIMIT 1) n ON TRUE
        |ORDER BY p.event_id""".stripMargin.replace("\n", " "),
    "events_hopping" ->
      """WITH e AS (SELECT event_type, value,
        |  epoch_ns(ts) // 1000000000 AS sec FROM events),
        |ex AS (SELECT event_type, value,
        |  unnest([(sec // 1800) * 1800 - 1800, (sec // 1800) * 1800])
        |    AS window_start FROM e)
        |SELECT window_start, event_type, COUNT(*) AS n,
        |CAST(SUM(CAST(value AS DECIMAL(18,3))) AS DOUBLE) AS sum_value
        |FROM ex GROUP BY 1, 2 ORDER BY window_start, event_type"""
        .stripMargin.replace("\n", " "),
    "q_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
        |CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |COUNT(*) AS n
        |FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST"""
        .stripMargin.replace("\n", " "),
    "events_unpivot" ->
      """SELECT user_id % 10 AS user_decile, event_type, COUNT(*) AS n
        |FROM events GROUP BY 1, 2
        |ORDER BY user_decile, event_type""".stripMargin.replace("\n", " "),
    "events_pivot" ->
      """SELECT user_id % 10 AS user_decile,
        |COUNT(*) FILTER (event_type = 'click') AS click,
        |COUNT(*) FILTER (event_type = 'error') AS error,
        |COUNT(*) FILTER (event_type = 'purchase') AS purchase,
        |COUNT(*) FILTER (event_type = 'signup') AS signup,
        |COUNT(*) FILTER (event_type = 'view') AS view
        |FROM events GROUP BY 1 ORDER BY user_decile"""
        .stripMargin.replace("\n", " "),
    "q1_rollup" ->
      """SELECT l_returnflag, l_linestatus,
        |CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |COUNT(*) AS n
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST"""
        .stripMargin.replace("\n", " "),
    "q_cube" ->
      """SELECT l_returnflag, l_linestatus,
        |CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc,
        |COUNT(*) AS n
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST"""
        .stripMargin.replace("\n", " "),
    "hist_quantiles" ->
      """WITH e AS (SELECT event_type, CAST(value AS DOUBLE) AS v FROM events
        |  WHERE value IS NOT NULL),
        |b AS (SELECT MIN(v) AS lo, MAX(v) AS hi FROM e),
        |binned AS (SELECT e.event_type,
        |  CASE WHEN b.hi = b.lo THEN CAST(0 AS BIGINT)
        |    ELSE least(CAST(511 AS BIGINT), CAST(floor((e.v - b.lo) /
        |      ((b.hi - b.lo) / CAST(512 AS DOUBLE))) AS BIGINT)) END AS bin
        |  FROM e CROSS JOIN b),
        |hist AS (SELECT event_type, bin, COUNT(*) AS c FROM binned GROUP BY 1, 2),
        |cum AS (SELECT event_type, bin,
        |  CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY bin) AS BIGINT) AS cum,
        |  CAST(SUM(c) OVER (PARTITION BY event_type) AS BIGINT) AS n FROM hist),
        |picked AS (SELECT event_type, CAST(MAX(n) AS BIGINT) AS n,
        |  MIN(CASE WHEN cum >= ceil(CAST(0.5 AS DOUBLE) * n) THEN bin END) AS b50,
        |  MIN(CASE WHEN cum >= ceil(CAST(0.9 AS DOUBLE) * n) THEN bin END) AS b90,
        |  MIN(CASE WHEN cum >= ceil(CAST(0.99 AS DOUBLE) * n) THEN bin END) AS b99
        |  FROM cum GROUP BY event_type)
        |SELECT p.event_type, p.n,
        |  CASE WHEN b.hi = b.lo THEN b.lo ELSE b.lo + CAST(p.b50 AS DOUBLE) *
        |    ((b.hi - b.lo) / CAST(512 AS DOUBLE)) END AS p50_est,
        |  CASE WHEN b.hi = b.lo THEN b.lo ELSE b.lo + CAST(p.b90 AS DOUBLE) *
        |    ((b.hi - b.lo) / CAST(512 AS DOUBLE)) END AS p90_est,
        |  CASE WHEN b.hi = b.lo THEN b.lo ELSE b.lo + CAST(p.b99 AS DOUBLE) *
        |    ((b.hi - b.lo) / CAST(512 AS DOUBLE)) END AS p99_est
        |FROM picked p CROSS JOIN b ORDER BY p.event_type"""
        .stripMargin.replace("\n", " "),
    "events_quantiles" ->
      """SELECT event_type,
        |quantile_cont(FLOOR(value), 0.25) AS p25,
        |quantile_cont(FLOOR(value), 0.5) AS p50,
        |quantile_cont(FLOOR(value), 0.75) AS p75,
        |COUNT(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type"""
        .stripMargin.replace("\n", " "),
    "set_ops_building" ->
      """SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
        |INTERSECT SELECT o_custkey AS k FROM orders
        |EXCEPT SELECT o_custkey AS k FROM orders WHERE o_totalprice > 200000.0
        |ORDER BY k""".stripMargin.replace("\n", " "),
    "events_window" ->
      """SELECT event_id, user_id,
        |CAST(ROW_NUMBER() OVER w AS BIGINT) AS rn,
        |CAST(COUNT(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |  AS running_events,
        |COALESCE(LAG(event_id, 1) OVER w, -1) AS prev_event
        |FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY event_id""".stripMargin.replace("\n", " "),
    "events_sessionize" ->
      """WITH g AS (SELECT event_id, user_id, ts,
        |  epoch_ns(ts) // 1000000000 AS sec,
        |  LAG(epoch_ns(ts) // 1000000000, 1)
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_sec
        |FROM events)
        |SELECT event_id, user_id,
        |CAST(SUM(CASE WHEN prev_sec IS NULL OR sec - prev_sec > 1800 THEN 1 ELSE 0 END)
        |  OVER (PARTITION BY user_id ORDER BY ts, event_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
        |FROM g ORDER BY event_id""".stripMargin.replace("\n", " "),
    "events_funnel" ->
      """WITH ev AS (SELECT user_id, event_type, epoch_ns(ts) // 1000 AS tus
        |  FROM events),
        |s1 AS (SELECT user_id, MIN(tus) AS t FROM ev
        |  WHERE event_type = 'signup' GROUP BY user_id),
        |s2 AS (SELECT e.user_id, MIN(e.tus) AS t FROM ev e
        |  JOIN s1 ON e.user_id = s1.user_id
        |  WHERE e.event_type = 'view' AND e.tus > s1.t GROUP BY e.user_id),
        |s3 AS (SELECT e.user_id, MIN(e.tus) AS t FROM ev e
        |  JOIN s2 ON e.user_id = s2.user_id
        |  WHERE e.event_type = 'click' AND e.tus > s2.t GROUP BY e.user_id),
        |s4 AS (SELECT e.user_id, MIN(e.tus) AS t FROM ev e
        |  JOIN s3 ON e.user_id = s3.user_id
        |  WHERE e.event_type = 'purchase' AND e.tus > s3.t GROUP BY e.user_id)
        |SELECT '1_signup' AS stage, COUNT(*) AS n_users FROM s1
        |UNION ALL SELECT '2_view', COUNT(*) FROM s2
        |UNION ALL SELECT '3_click', COUNT(*) FROM s3
        |UNION ALL SELECT '4_purchase', COUNT(*) FROM s4
        |ORDER BY stage""".stripMargin.replace("\n", " "),
    "events_retention" ->
      """WITH days AS (SELECT DISTINCT user_id,
        |  (epoch_ns(ts) // 1000000000) // 86400 AS day FROM events),
        |f AS (SELECT user_id, MIN(day) AS first_day FROM days GROUP BY user_id),
        |x AS (SELECT DISTINCT d.user_id, f.first_day // 7 AS cohort_week,
        |  (d.day - f.first_day) // 7 AS week_offset
        |  FROM days d JOIN f ON d.user_id = f.user_id)
        |SELECT cohort_week, week_offset, COUNT(*) AS n_users FROM x
        |GROUP BY cohort_week, week_offset
        |ORDER BY cohort_week, week_offset""".stripMargin.replace("\n", " "),
    "events_scd2" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |  epoch_ns(ts) // 1000 AS valid_from_us FROM events)
        |SELECT user_id, event_id, event_type, valid_from_us,
        |  LEAD(valid_from_us) OVER (PARTITION BY user_id
        |    ORDER BY valid_from_us, event_id) AS valid_to_us
        |FROM e ORDER BY user_id, valid_from_us, event_id""".stripMargin.replace("\n", " "),
    "cdc_apply" ->
      """WITH ch AS (SELECT o_custkey AS custkey,
        |  CASE WHEN o_orderkey % 13 = 0 THEN 'D' ELSE 'U' END AS op,
        |  o_totalprice AS bal,
        |  ROW_NUMBER() OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn FROM orders),
        |d AS (SELECT custkey, op, bal FROM ch WHERE rn = 1)
        |SELECT COALESCE(c.c_custkey, d.custkey) AS custkey,
        |  CASE WHEN d.custkey IS NULL THEN c.c_acctbal ELSE d.bal END AS bal,
        |  CASE WHEN d.custkey IS NULL THEN 'base' ELSE 'cdc' END AS src
        |FROM customer c FULL OUTER JOIN d ON c.c_custkey = d.custkey
        |WHERE d.op IS NULL OR d.op <> 'D'
        |ORDER BY custkey""".stripMargin.replace("\n", " "),
    "events_latest" ->
      """SELECT user_id, event_id AS last_event_id, event_type AS last_type,
        |value AS last_value FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
        |    ORDER BY ts DESC, event_id DESC) AS rn FROM events)
        |WHERE rn = 1 ORDER BY user_id""".stripMargin.replace("\n", " "),
    "events_mad_outliers" ->
      """WITH ev AS (SELECT event_id, event_type, value FROM events),
        |ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
        |    ORDER BY value, event_id) AS rn,
        |  COUNT(*) OVER (PARTITION BY event_type) AS cnt FROM ev),
        |med AS (SELECT event_type, value AS med FROM ranked
        |  WHERE rn = (cnt + 1) // 2),
        |dev AS (SELECT e.event_id, e.event_type, e.value,
        |  abs(e.value - m.med) AS dev FROM ev e JOIN med m USING (event_type)),
        |dranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
        |    ORDER BY dev, event_id) AS rn,
        |  COUNT(*) OVER (PARTITION BY event_type) AS cnt FROM dev),
        |mad AS (SELECT event_type, dev AS mad FROM dranked
        |  WHERE rn = (cnt + 1) // 2)
        |SELECT d.event_id, d.event_type, d.value
        |FROM dev d JOIN mad m USING (event_type)
        |WHERE m.mad > 0 AND d.dev > 3 * m.mad
        |ORDER BY d.event_id""".stripMargin.replace("\n", " "),
    "events_zscore" ->
      """WITH ev AS (SELECT event_id, user_id,
        |  CAST(value AS DECIMAL(18,6)) AS dv FROM events),
        |st AS (SELECT user_id, CAST(COUNT(*) AS DOUBLE) AS n,
        |  CAST(SUM(dv) AS DOUBLE) AS sv, CAST(SUM(dv * dv) AS DOUBLE) AS svv
        |  FROM ev GROUP BY user_id),
        |z AS (SELECT ev.event_id, ev.user_id,
        |  floor(((CAST(ev.dv AS DOUBLE) - st.sv / st.n) /
        |    sqrt(st.svv / st.n - (st.sv / st.n) * (st.sv / st.n)))
        |    * 1000000.0) / 1000000.0 AS z
        |  FROM ev JOIN st ON ev.user_id = st.user_id
        |  WHERE st.svv / st.n - (st.sv / st.n) * (st.sv / st.n) > 0.0)
        |SELECT event_id, user_id, z FROM z WHERE abs(z) > 2.0
        |ORDER BY event_id""".stripMargin.replace("\n", " "),
    "basket_pairs" ->
      """WITH items AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |  FROM lineitem)
        |SELECT a.pk AS p1, b.pk AS p2, COUNT(*) AS support
        |FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
        |GROUP BY a.pk, b.pk HAVING COUNT(*) >= 2
        |ORDER BY p1, p2""".stripMargin.replace("\n", " "),
    "graph_triangles" ->
      """WITH items AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |  FROM lineitem),
        |e AS (SELECT a.pk AS a, b.pk AS b
        |  FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY a.pk, b.pk HAVING COUNT(*) >= 2)
        |SELECT ab.a, COUNT(*) AS n_triangles
        |FROM e ab JOIN e bc ON ab.b = bc.a JOIN e ac
        |  ON ac.a = ab.a AND ac.b = bc.b
        |GROUP BY ab.a ORDER BY ab.a""".stripMargin.replace("\n", " "),
    "events_rolling_7d" ->
      """WITH e AS (SELECT event_id, user_id,
        |  epoch_ns(ts) // 1000000000 AS sec,
        |  CAST(value AS DECIMAL(18,3)) AS dv FROM events)
        |SELECT event_id, user_id,
        |CAST(SUM(dv) OVER w AS DOUBLE) AS rolling_sum,
        |COUNT(*) OVER w AS n_7d
        |FROM e WINDOW w AS (PARTITION BY user_id ORDER BY sec
        |  RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin.replace("\n", " "),
    "part_above_brand_avg" ->
      """WITH b AS (SELECT p_brand,
        |  CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) /
        |    CAST(COUNT(*) AS DOUBLE) AS brand_avg
        |  FROM part GROUP BY p_brand)
        |SELECT p_partkey, p.p_brand, p_retailprice, brand_avg
        |FROM part p JOIN b ON p.p_brand = b.p_brand
        |WHERE p_retailprice > brand_avg
        |ORDER BY p_partkey""".stripMargin.replace("\n", " "),
    "q_not_in_nulls" ->
      """SELECT 'not_in_with_null' AS variant, COUNT(*) AS n FROM customer
        |WHERE c_custkey NOT IN (SELECT nullif(o_custkey, 7) FROM orders)
        |UNION ALL
        |SELECT 'not_exists' AS variant, COUNT(*) AS n FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |  WHERE nullif(o.o_custkey, 7) = c.c_custkey)
        |ORDER BY variant""".stripMargin.replace("\n", " "),
    "events_dist_ranks" ->
      """SELECT event_id, event_type,
        |PERCENT_RANK() OVER w AS pr,
        |CUME_DIST() OVER w AS cd,
        |FIRST_VALUE(event_id) OVER w AS fv,
        |NTH_VALUE(event_id, 2) OVER w AS nv2
        |FROM events
        |WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
        |ORDER BY event_id""".stripMargin.replace("\n", " "),
    "distinct_sketch" ->
      s"""SELECT event_type, COUNT(*) AS n_rows,
         |COUNT(DISTINCT user_id) AS n_exact,
         |COUNT(DISTINCT
         |  ${TextQueries.hash60Sql("concat('lc#', CAST(user_id AS VARCHAR))")}
         |  % 256) AS n_occupied
         |FROM events GROUP BY event_type ORDER BY event_type"""
        .stripMargin.replace("\n", " "),
    "funnel_latency" ->
      """WITH ev AS (SELECT user_id, event_type, epoch_ns(ts) // 1000 AS tus
        |  FROM events),
        |s1 AS (SELECT user_id, MIN(tus) AS t FROM ev
        |  WHERE event_type = 'signup' GROUP BY user_id),
        |s2 AS (SELECT e.user_id, MIN(e.tus) AS t FROM ev e
        |  JOIN s1 ON e.user_id = s1.user_id
        |  WHERE e.event_type = 'view' AND e.tus > s1.t GROUP BY e.user_id),
        |s3 AS (SELECT e.user_id, MIN(e.tus) AS t FROM ev e
        |  JOIN s2 ON e.user_id = s2.user_id
        |  WHERE e.event_type = 'click' AND e.tus > s2.t GROUP BY e.user_id),
        |s4 AS (SELECT e.user_id, MIN(e.tus) AS t FROM ev e
        |  JOIN s3 ON e.user_id = s3.user_id
        |  WHERE e.event_type = 'purchase' AND e.tus > s3.t GROUP BY e.user_id),
        |lat AS (SELECT s4.t - s1.t AS lat_us FROM s4
        |  JOIN s1 ON s4.user_id = s1.user_id)
        |SELECT COUNT(*) AS n_converted,
        |quantile_cont(lat_us, 0.5) AS p50_us,
        |quantile_cont(lat_us, 0.9) AS p90_us FROM lat"""
        .stripMargin.replace("\n", " "),
    "graph_pagerank" -> {
      // one iteration = contribution CTE + rank CTE; generated from the same
      // template per round so the unrolled oracle cannot drift between rounds.
      // TRAP: DuckDB float literals are DECIMAL — a bare (1.0 - 0.85) is
      // exact decimal 0.15, while the JVM computes the IEEE double
      // 0.15000000000000002. Every literal that participates in double
      // arithmetic must be CAST(... AS DOUBLE) first.
      def iter(i: Int): String =
        s"""c$i AS (SELECT e.dst,
           |  CAST(floor(r.rank / d.deg * 1073741824.0) AS BIGINT) AS q
           |  FROM edges e JOIN r${i - 1} r ON e.src = r.id
           |  JOIN deg d ON e.src = d.src),
           |r$i AS (SELECT c.dst AS id,
           |  (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n +
           |    CAST(0.85 AS DOUBLE) *
           |    (CAST(SUM(c.q) AS DOUBLE) / 1073741824.0) AS rank
           |  FROM c$i c, nn GROUP BY c.dst, nn.n)"""
      s"""WITH p AS (SELECT DISTINCT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |edges AS (SELECT a AS src, b AS dst FROM p
         |  UNION ALL SELECT b, a FROM p),
         |deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
         |nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM deg),
         |r0 AS (SELECT d.src AS id, 1.0 / nn.n AS rank FROM deg d, nn),
         |${iter(1)},
         |${iter(2)},
         |${iter(3)}
         |SELECT r3.id, r3.rank, d.deg FROM r3 JOIN deg d ON r3.id = d.src
         |ORDER BY id""".stripMargin.replace("\n", " ")
    },
    "graph_pagerank_digraph" -> {
      // unrolled digraph rounds: dangling sum d_i (Q30-quantized over the
      // sinks), contributions c_i, per-dst sums s_i, then the LEFT-join
      // rank update over the full vertex frame. Same DECIMAL-literal trap
      // as graph_pagerank: every double-arithmetic literal CAST AS DOUBLE;
      // IEEE term order mirrors the Column expression left-to-right.
      def iter(i: Int): String =
        s"""d$i AS (SELECT COALESCE(SUM(CAST(floor(rank * 1073741824.0)
           |    AS BIGINT)), 0) AS dq FROM r${i - 1} WHERE deg = 0),
           |c$i AS (SELECT e.dst,
           |  CAST(floor(r.rank / r.deg * 1073741824.0) AS BIGINT) AS q
           |  FROM edges e JOIN r${i - 1} r ON e.src = r.id),
           |s$i AS (SELECT dst, SUM(q) AS sq FROM c$i GROUP BY dst),
           |r$i AS (SELECT v.id,
           |  (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n +
           |    CAST(0.85 AS DOUBLE) *
           |    (CAST(COALESCE(s.sq, 0) AS DOUBLE) / 1073741824.0) +
           |    CAST(0.85 AS DOUBLE) *
           |    (CAST(d.dq AS DOUBLE) / 1073741824.0) / nn.n AS rank,
           |  v.deg
           |  FROM vdeg v LEFT JOIN s$i s ON v.id = s.dst, d$i d, nn)"""
      s"""WITH edges AS (SELECT DISTINCT o_custkey * 2 AS src,
         |  l_suppkey * 2 + 1 AS dst
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |outdeg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
         |vdeg AS (SELECT v.id, COALESCE(o.deg, 0) AS deg FROM
         |  (SELECT DISTINCT id FROM (SELECT src AS id FROM edges
         |    UNION ALL SELECT dst FROM edges)) v
         |  LEFT JOIN outdeg o ON v.id = o.src),
         |nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM vdeg),
         |r0 AS (SELECT id, 1.0 / nn.n AS rank, deg FROM vdeg, nn),
         |${iter(1)},
         |${iter(2)},
         |${iter(3)}
         |SELECT id, rank, deg FROM r3 ORDER BY id"""
        .stripMargin.replace("\n", " ")
    },
    "events_props_map" ->
      """SELECT event_id, k.key AS key,
        |CAST(json_extract(props, '$."' || k.key || '"') AS BIGINT) AS val
        |FROM events, unnest(json_keys(props)) k(key)
        |ORDER BY event_id, key""".stripMargin.replace("\n", " "),
    "q_weekday_revenue" ->
      """SELECT ((CAST(epoch(l_shipdate) AS BIGINT) // 86400) + 4) % 7 AS weekday,
        |CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |  (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
        |  AS DOUBLE) AS revenue,
        |COUNT(*) AS n_items
        |FROM lineitem GROUP BY weekday ORDER BY weekday"""
        .stripMargin.replace("\n", " "),
    "nation_revenue_share" ->
      """WITH rev AS (SELECT n_name,
        |  SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |    (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
        |    AS rev_dec
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY n_name),
        |t AS (SELECT SUM(rev_dec) AS total_dec FROM rev)
        |SELECT n_name, CAST(rev_dec AS DOUBLE) AS revenue,
        |CAST(rev_dec AS DOUBLE) / CAST(total_dec AS DOUBLE) AS share
        |FROM rev CROSS JOIN t ORDER BY n_name""".stripMargin.replace("\n", " "),
    "bloom_semi_join" ->
      s"""WITH eu AS (SELECT s_suppkey FROM supplier
         |  JOIN nation ON s_nationkey = n_nationkey
         |  JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'EUROPE'),
         |bits AS (SELECT DISTINCT unnest([
         |  ${bloomPosSql("s_suppkey", 0)},
         |  ${bloomPosSql("s_suppkey", 1)}]) AS pos FROM eu),
         |probe AS (SELECT l_suppkey, COUNT(*) AS n_rows FROM lineitem
         |  GROUP BY l_suppkey)
         |SELECT p.l_suppkey,
         |CASE WHEN p.l_suppkey IN (SELECT s_suppkey FROM eu)
         |  THEN 1::BIGINT ELSE 0::BIGINT END AS is_member,
         |p.n_rows FROM probe p
         |WHERE ${bloomPosSql("p.l_suppkey", 0)} IN (SELECT pos FROM bits)
         |AND ${bloomPosSql("p.l_suppkey", 1)} IN (SELECT pos FROM bits)
         |ORDER BY l_suppkey""".stripMargin.replace("\n", " "),
    "hll_distinct" -> {
      val h = TextQueries.hash60Sql(
        "concat('hll#', CAST(o_custkey AS VARCHAR))")
      s"""WITH b AS (SELECT o_orderpriority, o_custkey, $h AS h FROM orders),
         |regs AS (SELECT o_orderpriority, h % 64 AS reg,
         |  MAX(CASE WHEN (h >> 6) = 0 THEN 55
         |    ELSE 55 - length(bin(h >> 6)) END) AS mr
         |  FROM b GROUP BY o_orderpriority, reg),
         |sk AS (SELECT o_orderpriority, COUNT(*) AS n_occupied,
         |  CAST(SUM(1::BIGINT << CAST(55 - mr AS INT)) AS BIGINT) AS s
         |  FROM regs GROUP BY o_orderpriority),
         |ex AS (SELECT o_orderpriority, COUNT(DISTINCT o_custkey) AS n_exact
         |  FROM b GROUP BY o_orderpriority)
         |SELECT ex.o_orderpriority, ex.n_exact, sk.n_occupied,
         |$HllEstSql AS est_hll
         |FROM ex JOIN sk ON ex.o_orderpriority = sk.o_orderpriority
         |ORDER BY ex.o_orderpriority""".stripMargin.replace("\n", " ")
    },
    "zorder_layout" ->
      s"""WITH pts AS (SELECT o_custkey,
         |  CAST(epoch(o_orderdate) AS BIGINT) // 86400 AS day FROM orders),
         |z AS (SELECT o_custkey, day,
         |  (${zorderSql("o_custkey", "day")}) AS z FROM pts)
         |SELECT z >> 18 AS file_id, COUNT(*) AS n_rows,
         |MIN(o_custkey) AS min_cust, MAX(o_custkey) AS max_cust,
         |MIN(day) AS min_day, MAX(day) AS max_day
         |FROM z GROUP BY file_id ORDER BY file_id"""
        .stripMargin.replace("\n", " "),
    "compaction_plan" ->
      """WITH files AS (SELECT o_orderkey // 100 AS file_id,
        |  COUNT(*) AS n_rows,
        |  CAST(SUM(32 + length(o_orderstatus) + length(o_orderpriority))
        |    AS BIGINT) AS size_bytes
        |  FROM orders GROUP BY 1),
        |offs AS (SELECT file_id, n_rows, size_bytes,
        |  CAST(COALESCE(SUM(size_bytes) OVER (ORDER BY file_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    AS BIGINT) AS start_off FROM files)
        |SELECT start_off // 65536 AS bin, COUNT(*) AS n_files,
        |  CAST(SUM(size_bytes) AS BIGINT) AS total_bytes,
        |  MIN(file_id) AS first_file, MAX(file_id) AS last_file
        |FROM offs GROUP BY bin ORDER BY bin""".stripMargin.replace("\n", " "),
    // same aggregate over the plain parquet tables — bucketing changes the
    // physical plan (no Exchange), never the result
    "bucketed_join" ->
      """SELECT o_orderpriority, COUNT(*) AS n,
        |CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |  (CAST(1.0 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
        |  AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority"""
        .stripMargin.replace("\n", " "),
    "events_topk_users" ->
      """WITH c AS (SELECT event_type, user_id, COUNT(*) AS n FROM events
        |  GROUP BY event_type, user_id),
        |r AS (SELECT event_type, user_id, n, ROW_NUMBER() OVER (
        |  PARTITION BY event_type ORDER BY n DESC, user_id) AS rk FROM c)
        |SELECT event_type, rk, user_id, n FROM r WHERE rk <= 5
        |ORDER BY event_type, rk""".stripMargin.replace("\n", " "),
    "events_gapfill" ->
      """WITH e AS (SELECT event_type,
        |  epoch_ns(ts) // 86400000000000 AS day FROM events),
        |c AS (SELECT event_type, day, COUNT(*) AS n FROM e
        |  GROUP BY event_type, day),
        |b AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM e),
        |days AS (SELECT unnest(generate_series(d0, d1)) AS day FROM b),
        |types AS (SELECT DISTINCT event_type FROM e)
        |SELECT t.event_type, d.day, COALESCE(c.n, 0) AS n
        |FROM types t CROSS JOIN days d
        |LEFT JOIN c ON c.event_type = t.event_type AND c.day = d.day
        |ORDER BY t.event_type, d.day""".stripMargin.replace("\n", " ")
  )
}
