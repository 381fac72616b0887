package graft

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.apache.spark.sql.types.StructType

import graft.operators.{Cdc, Dedup, Multimodal, Similarity, SkylineOps, TextAnalysis}
import graft.sources.Generators

/** What [[Bench]] and [[BenchScale]] share, so neither re-types the other:
  *
  *  - the scale family as data: [[entries]] (12 generated-point skylines and
  *    10 corpus/CDC/multimodal entries) and [[streams]] (the seven streaming
  *    entries), each sized at x1 and run at the caller's row multiplier —
  *    Bench runs them at x1, BenchScale at SPARK_GRAFT_SCALE_MULT x;
  *  - one lap primitive, [[Laps.lap]]: a timed attempt with its steal, GC,
  *    JIT, janino, code-cache and block-manager brackets. Each main keeps its
  *    own retry policy around it;
  *  - one streaming runner, [[runStreams]], which reads every streaming
  *    entry's `StreamingQueryProgress` the same way.
  */
object BenchHarness {

  def session(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Catalyst's generated-class cache holds 100 entries by default; the
      // ~240-entry sweep compiles far more than that between an entry's
      // first lap and its __rep lap (reps run AFTER the whole catalog), so
      // every rep re-janinos brand-new classes that HotSpot must re-profile
      // from zero — the r11 dedup_minhash_est __rep storm (53 janino
      // recompiles, +65%), which the 512 MB code cache cannot cover. 4096
      // keeps the whole sweep's generated classes cached; a rep lap then
      // reuses the first lap's warm classes. Static conf — must be set at
      // session build, not spark.conf.set.
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def seconds(f: => Unit): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  /** Fixed-work LOAD SENTINEL: every core runs the same integer-mix loop, so
    * the wall time on a quiet machine is one thread's quantum and ANY
    * external CPU load inflates it proportionally (sweep totals have
    * historically swung ~2x under machine load). Run at section boundaries
    * and written into the artifacts, a polluted run labels itself instead
    * of masquerading as a regression. */
  def loadSentinel(): Double = seconds {
    val ts = (1 to Runtime.getRuntime.availableProcessors()).map { t =>
      new Thread(() => {
        var acc = t.toLong; var i = 0L
        while (i < 150000000L) {
          acc = acc * 6364136223846793005L + 1442695040888963407L; i += 1
        }
        if (acc == 42L) print("") // defeat dead-code elimination
      })
    }
    ts.foreach(_.start()); ts.foreach(_.join())
  }

  /** Hypervisor CPU-steal ticks (/proc/stat col 8, USER_HZ = 10 ms units,
    * summed over all cores). The storms that crushed single sweep entries
    * 10-30x with quiet sentinels on both sides were host-level steal bursts
    * (one 85 s 32-core stall ≈ 272k ticks), so a spike in a near-zero-steal
    * lap is real and a spike in a high-steal lap is the host's fault. */
  def stealTicks(): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val line = try src.getLines().next() finally src.close()
      line.trim.split("\\s+").drop(1).lift(7).map(_.toLong).getOrElse(0L)
    } catch { case _: Throwable => 0L }

  // GC wall time and JIT compilation time: the two in-JVM causes of
  // first-run-only inflation that the steal bracket cannot see (r8: three
  // scale entries inflated 2-10x on first run with certified-low steal)
  def gcMillis(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
  def jitMillis(): Long = {
    val b = java.lang.management.ManagementFactory.getCompilationMXBean
    if (b != null && b.isCompilationTimeMonitoringSupported)
      b.getTotalCompilationTime else 0L
  }
  // Catalyst generated-class compilations (janino): a nonzero delta on a
  // REPEAT lap means its classes were evicted from the codegen cache by the
  // entries in between, so the lap runs brand-new classes HotSpot must
  // re-profile and re-JIT (the r10 dedup_substring_600k__rep mechanism)
  def janinoCount(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  // JVM code-cache occupancy (all CodeHeap segments, MB): near
  // ReservedCodeCacheSize, UseCodeCacheFlushing evicts cold nmethods and
  // re-warms them later — a sweep-wide re-JIT storm
  def codeHeapUsedMb(): Double =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.startsWith("CodeHeap") || p.getName == "CodeCache")
      .map(_.getUsage.getUsed).sum / 1e6

  /** An exception as an artifact string: EVERY control char plus quote and
    * backslash stripped, so it can never break a hand-assembled JSON line. */
  def errText(e: Throwable): String =
    (e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage))
      .replaceAll("[\\p{Cntrl}\"\\\\]", " ").take(200)

  /** Sets `confs` for the duration of `f`, then puts each key back to its
    * prior value (or unsets it), also when `f` throws. */
  def withConfs[T](spark: SparkSession, confs: Seq[(String, String)])(f: => T): T = {
    val prior = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** One timed attempt and the brackets taken across exactly it: wall
    * seconds (-1 on error), steal, GC and JIT seconds, block-manager MB
    * resident at its start, janino compilations, and code-cache MB after. */
  final case class Lap(t: Double, steal: Double, gc: Double, jit: Double,
                       cacheMb: Double, janino: Long, codeHeapMb: Double)

  /** The lap primitive with its per-lap bookkeeping: the error of a failed
    * lap, and the temp dirs a lap queues for deletion after it. */
  final class Laps(spark: SparkSession) {
    /** Why a lap recorded -1, keyed by lap name. */
    val errors = mutable.LinkedHashMap[String, String]()
    /** Temp dirs whose deletion still failed after bounded retries. */
    val cleanupErrors = mutable.LinkedHashMap[String, String]()
    // CLEANUP OUTSIDE THE TIMED REGION (r12). Checkpoint
    // teardown used to run inside the timed entry's finally, where
    // Files.walk(..).deleteIfExists races the RocksDB state-store
    // maintenance thread — which can repopulate a state subdirectory after
    // q.stop() returns — and the DirectoryNotEmptyException poisoned a
    // COMPLETED measurement to -1 (r12: stream_decontaminate_bloom_600k_ttl).
    // Laps queue their temp dirs here; the queue drains after the lap's
    // brackets are read, and a delete that still fails lands as a
    // "<name>__cleanup_err" key with the dir leaked.
    private[graft] val pendingCleanup = mutable.ArrayBuffer[(String, Path)]()

    def cleanupAfter(name: String, dir: Path): Unit = pendingCleanup += ((name, dir))

    def drainCleanup(): Unit = {
      val drained = pendingCleanup.toSeq
      pendingCleanup.clear()
      drained.foreach { case (n, p) => deleteTree(n, p) }
    }

    /** Best-effort recursive delete: records-and-leaks after three tries
      * rather than throwing, which would abort the rest of the sweep. */
    def deleteTree(name: String, root: Path): Unit = {
      var tries = 0
      var done = false
      def recordOrWait(e: Throwable): Unit =
        if (tries >= 3) cleanupErrors(name) = errText(e)
        else Thread.sleep(250L) // let the maintenance thread finish
      while (!done && tries < 3) {
        tries += 1
        try {
          if (Files.exists(root)) {
            val walk = Files.walk(root)
            try walk.iterator().asScala.toSeq.reverse.foreach(p => Files.deleteIfExists(p))
            finally walk.close()
          }
          done = true
        } catch {
          // the walk wraps mid-walk races in UncheckedIOException: an entry
          // the maintenance thread removed is fine (already gone), anything
          // else takes the retry path
          case e: java.io.UncheckedIOException =>
            if (e.getCause.isInstanceOf[java.nio.file.NoSuchFileException]) done = true
            else recordOrWait(e.getCause)
          case e: java.io.IOException => recordOrWait(e)
        }
      }
    }

    // Unpersist every RDD a lap left pinned — localCheckpoint pushdown
    // barriers and eager merge caches otherwise outlive their lap and tax
    // whatever runs later: the r9 "anti-warm-up", where
    // dedup_minhash_est_600k's REPEAT read 2-3x its first run, was
    // block-manager carryover from exactly these. Scoped by snapshot: only
    // RDDs created inside `f` are swept, so deliberately cross-lap fixtures
    // (the streaming entries' indexes, persisted outside the lap) are exempt.
    def withRddSweep(f: => Unit): Unit = {
      val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
      try f finally spark.sparkContext.getPersistentRDDs
        .filterNot { case (id, _) => before(id) }
        .values.foreach(_.unpersist(true))
    }

    // block-manager residency (MB) — the lap-start bracket that names
    // carryover when a lap still anti-warms
    def cachedMb(): Double = spark.sparkContext.getRDDStorageInfo
      .map(s => s.memSize + s.diskSize).sum / 1e6

    /** One timed attempt of `f`, recording its error under `name`. */
    def lap(name: String, f: () => Unit): Lap = {
      // reap the PREVIOUS lap's leavings before the brackets: a driver
      // System.gc() is what triggers Spark's ContextCleaner to release
      // unreachable broadcasts / shuffle files / RDDs, so a repeat lap
      // starts from the heap the first lap started from (r9:
      // sky_10m_5d_xfilter_nat rep 34.6 s vs 10.4 s first). Outside the
      // timed region and before the GC bracket, so neither counts it.
      System.gc()
      val c0 = cachedMb()
      val jan0 = janinoCount()
      val s0 = stealTicks(); val g0 = gcMillis(); val j0 = jitMillis()
      val t = try seconds(withRddSweep(f()))
        catch { case e: Throwable => errors(name) = errText(e); -1.0 }
      val res = Lap(t, (stealTicks() - s0) / 100.0, (gcMillis() - g0) / 1000.0,
        (jitMillis() - j0) / 1000.0, c0, janinoCount() - jan0, codeHeapUsedMb())
      // drain AFTER the brackets are read: teardown is part of neither the
      // timed region nor the lap's steal/GC window
      drainCleanup()
      res
    }
  }

  // ---------------------------------------------------------------- entries

  /** A timed batch entry: `rows` is its size at x1, and `body` runs it at
    * the row count it is given. `xfilter` entries publish the pairwise
    * merge's measured shape (`SkylineOps.lastXFilterStats`). */
  final case class Entry(name: String, rows: Long,
                         body: (SparkSession, Long) => Unit,
                         xfilter: Boolean = false)

  private def anti(spark: SparkSession, n: Long, dims: Int) =
    Generators.generate(spark, "anti-correlated", n, dims)

  // reference-workload skylines (anti-correlated, domain [0,10000])
  private def viaAngle(spark: SparkSession, n: Long, dims: Int): Unit =
    SkylineOps.skylineViaStrategy(anti(spark, n, dims), "mr-angle", 10000.0, 8).count()

  // the prefix-scan path reads its input twice (group pass + join pass);
  // cache the generated points so generation runs once, like an ingested
  // table would (materialization is inside the timed region)
  private def sort2d(spark: SparkSession, n: Long): Unit = {
    val pts = anti(spark, n, 2).toDF("id", "values", "op")
      .select(col("id"), col("values")(0).as("v1"), col("values")(1).as("v2"))
      .cache()
    try SkylineOps.skyline2DDFScalable(pts, "id", "v1", "v2").count()
    finally pts.unpersist()
  }

  private def bcast(dims: Int): (SparkSession, Long) => Unit =
    (spark, n) => SkylineOps.skylineBroadcastFilter(anti(spark, n, dims)).count()

  private def corpus(spark: SparkSession, n: Long) = Generators.syntheticCorpus(spark, n)

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** One lap of the retrieval-fusion chain at n docs: BM25 over the
    * translated corpus (the
    * tokenizer keeps [a-z]+ runs, so digits map to letters) plus the
    * single-query dense top-100 over hash-derived 64-d vectors
    * (TakeOrderedAndProject — no task sorts the corpus), fused by integer
    * RRF: no window ever sees more than 100 rows. */
  private def hybridRrfLap(spark: SparkSession, n: Long): Unit = {
    // materialized (as a real corpus would be — a parquet scan, not a
    // computed expression): bm25 + the dense side read the text/ids a
    // handful of times, and without this the bench times the synthetic
    // GENERATOR's re-evaluation instead of the operators
    val d = corpus(spark, n)
      .select(col("doc_id"),
        translate(col("text"), "0123456789", "abcdefghij").as("text"))
      .localCheckpoint(true)
    // each 100-row list is materialized once (a served pipeline would reuse
    // retrieved lists, and lazy frames would re-run both corpus scans
    // inside the fusion join)
    val lex = TextAnalysis.bm25(d, "doc_id", "text", Seq("wbcd", "whhh", "weca", "wjjj"))
      .orderBy(col("score_u6").desc, col("doc_id")).limit(100)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("score_u6").desc, col("doc_id"))).cast("long"))
      .select(col("doc_id"), col("rank"))
      .localCheckpoint(true)
    val embDf = d.select(col("doc_id"),
      transform(sequence(lit(0), lit(63)),
        i => pmod(hash(col("doc_id"), i), lit(1000)).cast("double") / 1000.0)
        .as("embedding"))
    val vec = Similarity.topKToQueryU6(embDf, "doc_id",
        "embedding", embDf.where(col("doc_id") === 0), "embedding", 100)
      .select(col("nbr_id").as("doc_id"), col("rank"))
      .localCheckpoint(true)
    Similarity.rrfFuse(Seq("lex" -> lex, "vec" -> vec), "doc_id")
      .orderBy(col("rrf_u9").desc, col("doc_id")).limit(20).count()
  }

  /** Multimodal codec path: n REAL container files built (even ids full BMPs
    * ~2-9 KB, odd ids PCM WAVs) and header-parsed back through the
    * partition-batched decode seam, reduced to per-format counts/frame sums
    * — zero shuffle until the 2-group aggregate. */
  private def multimodalLap(spark: SparkSession, n: Long): Unit = noop(
    Multimodal.decodeMeta(Multimodal.syntheticMedia(
        spark.range(n).select(col("id").as("doc_id")), "doc_id"))
      .toDF()
      .groupBy("format")
      .agg(count(lit(1)).as("n"), sum("n_frames").as("frames"),
        sum("n_bytes").as("bytes")))

  /** The BASELINE.md reference skylines and the scale-stress skylines. */
  val skylines: Seq[Entry] = Seq(
    Entry("sky_1m_2d_anti", 1000000L, viaAngle(_, _, 2)),
    Entry("sky_1m_2d_sort", 1000000L, sort2d),
    Entry("sky_1m_3d_anti", 1000000L, viaAngle(_, _, 3)),
    // scalability envelope: reference is "linear to 10M records, < 400 s"
    Entry("sky_10m_2d_sort", 10000000L, sort2d),
    // 4-D curse-of-dimensionality case (reference: ~717 s at 800k-1M
    // records). The broadcast cross-filter keeps the global phase parallel:
    // local antichains are broadcast sum-sorted and every candidate filters
    // against the union on its own core.
    Entry("sky_500k_4d_bcast", 500000L, bcast(4)),
    // the reference's own 4-D scale (1M records, ~717 s on Flink)
    Entry("sky_1m_4d_bcast", 1000000L, bcast(4)),
    // same workload through the too-big-to-broadcast fallback: a low bound
    // forces the distributed pairwise cross-filter (crossFilterChunks)
    Entry("sky_500k_4d_xfilter", 500000L, (spark, n) => SkylineOps.skylineBroadcastFilter(
      anti(spark, n, 4), maxBroadcastPoints = 20000).count()),
    // 3-D anti at 10M through the broadcast cross-filter: past the bound it
    // degrades into the pairwise path, so the entry exercises whichever
    // merge the union size dictates at this scale
    Entry("sky_10m_3d_bcast", 10000000L, bcast(3)),
    // the NATURAL too-big-to-broadcast case (r8): 10M 5-D anti's
    // local-antichain union is 4,001,241 points — past the 4M default bound
    // on its own — so this times crossFilterChunks at its real trigger.
    // In-sweep feasible only because of the round-9 merge fixes: the
    // generator's high-d shell clamps ~40% of 5-D points to the origin, and
    // the pre-fix merge paid O(k²) over those duplicates.
    Entry("sky_10m_5d_xfilter_nat", 10000000L, bcast(5), xfilter = true),
    // one notch past (r10): 20M 6-D anti, whose union lands
    // several times over the bound — the deepest natural crossFilterChunks
    // workout. Its stats re-assert the LINEAR shipping law
    // shipped == (n−1)·union that XFilterScalingSpec pins at small scale.
    Entry("sky_20m_6d_xfilter_nat", 20000000L, bcast(6), xfilter = true),
    // grid-parallel global merge vs the tree merge on the SAME uniform data:
    // tree wins at this size (the candidate union fits one thread);
    // gridpar's point is the per-merge memory bound at cluster scale
    Entry("sky_1m_3d_gridpar", 1000000L, (spark, n) => SkylineOps.skylineGridParallel(
      Generators.generate(spark, "uniform", n, 3), 3).count()),
    Entry("sky_1m_3d_tree_uni", 1000000L, (spark, n) => SkylineOps.skylineTreeViaStrategy(
      Generators.generate(spark, "uniform", n, 3), "mr-angle", 10000.0, 8).length))

  /** Pipeline scale-stress at 120x the documents fixture: a deterministic
    * 40-word/1000-vocab synthetic corpus with 2% planted near-duplicates
    * (39/40 words shared with the predecessor row) — the mostly-unique
    * web-crawl dup density, where random docs share almost no band, so
    * bucket fan-out stays linear and the join cost is the planted groups. */
  val corpusFamily: Seq[Entry] = Seq(
    Entry("dedup_minhash_600k_sig", 600000L, (spark, n) =>
      noop(Dedup.minhashSignatures(corpus(spark, n), "doc_id", "text"))),
    Entry("dedup_minhash_600k", 600000L, (spark, n) =>
      Dedup.minhashCandidates(corpus(spark, n), "doc_id", "text").count()),
    // simhash Hamming banding: 40-word docs spread the 15-bit block values
    // ~uniformly, so bucket fan-out is linear — the web-scale shape
    Entry("dedup_simhash_600k", 600000L, (spark, n) =>
      Dedup.simhashHammingPairs(corpus(spark, n), "doc_id", "text").count()),
    // the LM quality filter: ~23M bigram rows through the c12 groupBy and the
    // (w1,w2)-co-partitioned scoring join at 600k
    Entry("text_perplexity_600k", 600000L, (spark, n) => {
      val d = corpus(spark, n)
      val (c12, c1, vocab) = TextQueries.bigramLm(d.where(col("doc_id") % 2 === 0))
      TextQueries.scorePerplexity(
        TextQueries.bigramRows(d.where(col("doc_id") % 2 === 1)),
        c12, c1, vocab.head().getLong(0)).count()
    }),
    // ExactSubstr: planted dup rows repeat 39/40 words, so each contributes
    // 32 duplicated 8-token spans through the first-owner window-min
    // shuffle plus the excision projection. noop write (not count) so
    // Catalyst can't prune the covered/clean columns or drop the outer join.
    Entry("dedup_substring_600k", 600000L, (spark, n) =>
      noop(Dedup.exactSubstrStats(corpus(spark, n), "doc_id", "text", clean = true))),
    Entry("hybrid_rrf_600k", 600000L, hybridRrfLap),
    // Estimation audit WITH the sampling lever: 1/4 of the banded pairs
    // hash-sampled into the exact shingle verification
    Entry("dedup_minhash_est_600k", 600000L, (spark, n) => {
      // materialized: the audit reads the text column four times, and an
      // unpinned synthetic corpus would make this a generator benchmark
      val c = corpus(spark, n).localCheckpoint(true)
      try noop(Dedup.minhashEstimationAudit(c, "doc_id", "text", samplePairsMod = 4))
      finally c.unpersist()
    }),
    // the classifier gate: 24M tokens through the native one-pass
    // bucket-hash/weight-fold expression (one md5 per token, no shuffle)
    Entry("text_classifier_600k", 600000L, (spark, n) =>
      noop(TextAnalysis.linearClassifierScoreU6(corpus(spark, n), "doc_id", "text",
        TextQueries.classifierWeightsU6))),
    Entry("multimodal_600k", 600000L, multimodalLap),
    // CDC MERGE: an n-row changelog (distinct-date churn per key, 1/13
    // delete tombstones) collapsed latest-wins onto an n/5-key base with
    // n/10 inserted keys. The whole cost is ONE partial-agg shuffle of the
    // changelog + one co-partitioned full-outer join.
    Entry("cdc_apply_5m", 5000000L, (spark, n) => {
      val base = spark.range(n / 5)
        .select(col("id").as("k"), (col("id") % 997).cast("double").as("v"))
      val changelog = spark.range(n).select(
        (col("id") % (n * 3 / 10)).as("k"), col("id").as("seq"),
        when(col("id") % 13 === 0, lit("D")).otherwise(lit("U")).as("op"),
        (col("id") % 1009).cast("double").as("v"))
      noop(Cdc.applyChangelog(base, changelog, "k", Seq("seq"), "op", Seq("v")))
    }))

  /** Every batch entry of the scale family, in run order. */
  val entries: Seq[Entry] = skylines ++ corpusFamily

  /** Runs each entry at its paired multiplier through the caller's timing
    * policy `bench(name, rows, body)`, keeping the pairwise-merge stats of
    * every `xfilter` entry (cleared first, so an entry that errors or takes
    * the broadcast path never publishes an earlier entry's numbers). */
  def runEntries(spark: SparkSession, plan: Seq[(Entry, Long)],
                 xfilter: mutable.Map[String, SkylineOps.XFilterStats])(
                 bench: (String, Long, () => Unit) => Unit): Unit =
    plan.foreach { case (e, mult) =>
      val n = e.rows * mult
      SkylineOps.lastXFilterStats.set(null)
      bench(e.name, n, () => e.body(spark, n))
      if (e.xfilter) Option(SkylineOps.lastXFilterStats.get()).foreach(xfilter(e.name) = _)
    }

  /** The pairwise merge's measured shape per entry, plus the tail re-assert
    * of the shipping law shipped == (nChunks−1)·union — exact for a healthy
    * run; false means a pair task was lost or double-counted. */
  def xfilterJson(stats: collection.Map[String, SkylineOps.XFilterStats]): Seq[String] =
    stats.toSeq.flatMap { case (n, st) => Seq(
      s"""  "${n}__union_points": ${st.unionPoints}""",
      s"""  "${n}__n_chunks": ${st.nChunks}""",
      s"""  "${n}__pair_tasks": ${st.pairTasks}""",
      s"""  "${n}__shipped_points": ${st.shippedPoints}""",
      s"""  "${n}__ship_linear_ok": ${
        st.shippedPoints == (st.nChunks - 1).toLong * st.unionPoints}""")
    }

  /** Untimed pass through `entries` at 1/`divisor` of their rows (r8):
    * first laps of the 600k text family read
    * 2-10x their repeats with certified-low steal — one-time janino
    * compilation and JIT warm-up, which a small pass pays off the clock.
    * Running the entries' own bodies makes the warmed plan the measured plan
    * by construction (a look-alike warm chain once left the span-hash kernel
    * cold: 50.6 s on the r14 sweep's first lap). The lap brackets certify
    * whatever inflation remains. */
  def warm(spark: SparkSession, entries: Seq[Entry], divisor: Long): Unit =
    entries.foreach(e => e.body(spark, e.rows / divisor))

  // --------------------------------------------------------------- streams

  /** The corpus a streaming entry replays: `docs` documents of `words`
    * words at x1, written as `files` range-partitioned parquet files — one
    * per micro-batch under maxFilesPerTrigger = 1 — with event time
    * `ts` = doc_id seconds when `ts`. */
  final case class Fixture(docs: Long, files: Int, ts: Boolean, words: Int = 40)

  /** A streaming entry: its fixture, the benchmark-side index it screens
    * against (built from every 971st document, untimed), the width the raw
    * rows are shuffled to before the heavy derivation, and the query.
    * `build` gets the source stream and the index (empty without one).
    * The pre-shuffle exists because one file per trigger is ONE scan task,
    * and the narrow explode/hash/probe pipeline rides that task — the whole
    * batch's heavy derivation on a single core; shuffling the RAW rows first
    * (a few MB of text) spreads it across cores, measured 2.3-3.4x on the
    * decontamination gates. */
  final case class StreamEntry(name: String, fixture: Fixture,
                               index: Option[DataFrame => DataFrame],
                               preShuffle: Int,
                               build: (DataFrame, DataFrame) => DataFrame)

  // the eval-set indexes: doc_id % 971 ≈ 600 bench docs at 600k → ~140k
  // distinct 16-char shingles, the documented eval-set scale (~10^5)
  val shingleIndex: DataFrame => DataFrame =
    _.select(explode(graft.functions.charShingles(col("text"), 16)).as("shingle")).distinct()
  // winnow fingerprints (k=16, w=4): ~2/5 the probe and index volume, recall
  // exact for >= 19-char verbatim overlaps
  val winnowIndex: DataFrame => DataFrame =
    _.select(explode(graft.functions.MinhashExpressions.winnowNative(
        graft.functions.normText(col("text")), 16, 4)).as("f"))
      .select(col("f.fp").as("fp")).distinct()

  private val corpus600k = Fixture(600000L, 20, ts = true)
  private val longDocs = Fixture(150000L, 10, ts = true, words = 160)

  val streams: Seq[StreamEntry] = Seq(
    // The batch 600k family's streaming twin: the MinHash owner stage
    // ingests the corpus as 10 micro-batches against RocksDB — per-batch
    // work must stay FLAT as state accumulates, which is the whole claim of
    // the first-seen-owner design.
    StreamEntry("stream_dedup_600k", Fixture(600000L, 10, ts = false), None, 32,
      (src, _) => Dedup.streamingMinhashOwners(
        Dedup.minhashBandKeys(src, "doc_id", "text", k = 5, numHashes = 8, bands = 4))),
    // TTL-BOUNDED twin at 2x the batches (r7): each batch spans
    // 30,000 s of event time and buckets idle for 60,000 s are evicted, so
    // state rows must PLATEAU at the last ~3 batches' buckets instead of
    // growing linearly — __state_rows_per_batch is the claim. Compare it
    // with its unbounded twin per batch (__sec_per_batch), not per entry.
    StreamEntry("stream_dedup_600k_ttl", corpus600k, None, 32,
      (src, _) => Dedup.streamingMinhashOwnersTtl(src, "doc_id", "text", "ts",
        ttlMs = 60000L * 1000L, k = 5, numHashes = 8, bands = 4)),
    // TTL-bounded decontamination gate (r8): quarantine state
    // rows idle for ~2 batches of event time are evicted, so the state
    // PLATEAUS instead of keeping every contaminated id ever seen
    StreamEntry("stream_decontaminate_600k_ttl", corpus600k, Some(shingleIndex), 8,
      (src, idx) => TextAnalysis.decontaminationGateTtl(
        src, "doc_id", "text", "ts", "60000 seconds", idx)),
    // WINNOW-screened twin (r9): what the sub-density screen
    // buys at volume — the documented 100 TB ingest default
    StreamEntry("stream_decontaminate_winnow_600k_ttl", corpus600k, Some(winnowIndex), 8,
      (src, idx) => TextAnalysis.decontaminationGateWinnowTtl(
        src, "doc_id", "text", "ts", "60000 seconds", idx, k = 16, w = 4)),
    // BLOOM-screened gate (round 11) with a PRODUCTION-sized filter (m = 2^22
    // bits for ~114k shingles x 3 hashes, FP ~ 5e-4): 3 chained bit-probe
    // broadcasts per batch plus a shuffle confirm, where the exact face pays
    // one broadcast semi-join — it wins only when the set CANNOT broadcast
    StreamEntry("stream_decontaminate_bloom_600k_ttl", corpus600k, Some(shingleIndex), 8,
      (src, idx) => TextAnalysis.decontaminationGateBloomTtl(
        src, "doc_id", "text", "ts", "60000 seconds", idx, k = 16, m = 1 << 22,
        kHashes = 3)),
    // LONG-DOCUMENT pair (round 10): comparable total text (150k docs x 160
    // words = 24M words) but 4x longer documents, so shingle probes per
    // document — the term the winnow screen cuts — dominate: the crawl-page
    // story. TTL = ~2 batches of event time, 10 micro-batches.
    StreamEntry("stream_decontaminate_long_ttl", longDocs, Some(shingleIndex), 8,
      (src, idx) => TextAnalysis.decontaminationGateTtl(
        src, "doc_id", "text", "ts", "30000 seconds", idx)),
    StreamEntry("stream_decontaminate_winnow_long_ttl", longDocs, Some(winnowIndex), 8,
      (src, idx) => TextAnalysis.decontaminationGateWinnowTtl(
        src, "doc_id", "text", "ts", "30000 seconds", idx, k = 16, w = 4)))

  /** State-store instance count of every streaming entry. Shuffle
    * partitions at a query's first start fix its store count, and each store
    * pays RocksDB load/commit per micro-batch regardless of rows held; the
    * real states are small (67,732 owner buckets, ~39k TTL rows, a few
    * hundred verdict leases), so 8 won every interleaved probe pair against
    * 16 (r15: 30.1 -> 18.7 s on the owner stage, 22.9 -> 13.9 s on its TTL
    * face). The pre-state stages parallelize by input splits and are
    * unaffected. trackTotalNumberOfRows=false was measured too and rejected:
    * it zeroes numRowsTotal, and the state-row plateau is what the TTL
    * entries publish. */
  val StateStores = 8

  /** RocksDB with CHANGELOG checkpointing (r10): the default
    * checkpoint uploads a full SST snapshot per store per commit, almost all
    * of the store-commit overhead of a many-batch bounded feed; the
    * changelog mode writes per-commit deltas and snapshots in the
    * background. */
  val StreamConfs: Seq[(String, String)] = Seq(
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true",
    "spark.sql.shuffle.partitions" -> StateStores.toString)

  /** What a streaming entry's first lap reports through
    * StreamingQueryProgress, data batches only: trigger-execution seconds
    * per batch, state rows per batch, and mean seconds per durationMs phase
    * (addBatch = plan execution incl. the re-run static side and the RocksDB
    * state commit; queryPlanning; walCommit/commitOffsets = checkpoint
    * fsyncs) — which names the term that dominates the per-batch floor. */
  final case class StreamStats(batchSec: Seq[Double], stateRows: Seq[Long],
                               phaseMeanSec: Map[String, Double])

  def streamStats(progress: Seq[StreamingQueryProgress]): StreamStats = {
    val phases = progress.headOption.toSeq.flatMap(_.durationMs.keySet.asScala)
    StreamStats(
      progress.map(_.durationMs.get("triggerExecution").toDouble / 1000.0),
      progress.flatMap(_.stateOperators.headOption.map(_.numRowsTotal)),
      phases.map(k => k -> progress.map(p =>
        Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0))
        .sum / progress.length / 1000.0).toMap)
  }

  /** The artifact keys of each entry's stats (arrays and strings are skipped
    * by Bench's movers parser). `__sec_per_batch` is the cross-face unit:
    * the TTL faces deliberately run 2x the micro-batches of their unbounded
    * twins. */
  def streamJson(stats: collection.Map[String, StreamStats]): Seq[String] =
    stats.toSeq.filter(_._2.batchSec.nonEmpty).flatMap { case (n, s) => Seq(
      s"""  "${n}__batch_sec": [${s.batchSec.mkString(", ")}]""",
      s"""  "${n}__sec_per_batch": ${String.format(java.util.Locale.ROOT, "%.3f",
        Double.box(s.batchSec.sum / s.batchSec.length))}""",
      s"""  "${n}__state_rows_per_batch": [${s.stateRows.mkString(", ")}]""",
      s"""  "${n}__state_rows": ${s.stateRows.lastOption.getOrElse(-1L)}""",
      s"""  "${n}__phase_mean_sec": {${s.phaseMeanSec.toSeq.sortBy(-_._2)
        .map { case (p, v) => s""""$p": $v""" }.mkString(", ")}}""")
    }

  /** Writes a fixture at `mult`x its docs, its part files restamped so the
    * file source replays them in event-time order. */
  private def writeFixture(spark: SparkSession, f: Fixture, mult: Long): String = {
    val dir = Files.createTempDirectory("bench-stream").toString
    val docs = Generators.syntheticCorpusWords(spark, f.docs * mult, f.words)
    (if (f.ts) docs.withColumn("ts", col("doc_id")) else docs)
      .repartitionByRange(f.files, col("doc_id"))
      .write.mode("overwrite").parquet(dir)
    restampPartsInNameOrder(dir)
    dir
  }

  /** Restamp a fixture dir's part files with strictly increasing mtimes in
    * part-NAME order. FileStreamSource consumes files in MODIFICATION-TIME
    * order with ties unordered, and a one-job `repartitionByRange(...).write`
    * stamps every file within the same instant — an out-of-order batch would
    * rewind event time past a TTL face's watermark and silently drop rows
    * unscreened. Range partition i holds the i-th doc_id range, so name
    * order IS event-time order. */
  private def restampPartsInNameOrder(dir: String): Unit = {
    val parts = new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .sortBy(_.getName)
    val base = System.currentTimeMillis()
    parts.zipWithIndex.foreach { case (f, i) =>
      require(f.setLastModified(base + i * 2000L), s"could not restamp ${f.getName}")
    }
  }

  /** Runs each streaming entry through the caller's timing policy
    * `bench(name, rows, lap)`, with its documents at `mult`x. Untimed: each
    * fixture is written once and deleted after the last entry that reads
    * it, and each index is built and persisted before its entry — a
    * stream-static join re-executes an unpersisted static side every
    * micro-batch. Every lap runs [[streamLap]]; the first lap's progress
    * lands in `stats`. */
  def runStreams(spark: SparkSession, laps: Laps, entries: Seq[StreamEntry], mult: Long,
                 stats: mutable.Map[String, StreamStats])(
                 bench: (String, Long, () => Unit) => Unit): Unit = {
    val dirs = mutable.LinkedHashMap[Fixture, String]()
    entries.zipWithIndex.foreach { case (e, i) =>
      val dir = dirs.getOrElseUpdate(e.fixture, writeFixture(spark, e.fixture, mult))
      val docs = spark.read.parquet(dir)
      val index = e.index.map(_(docs.where(expr("doc_id % 971 = 0"))).persist())
      index.foreach(_.count())
      try bench(e.name, e.fixture.docs * mult, () => streamLap(spark, laps, e, dir,
        docs.schema, index.getOrElse(spark.emptyDataFrame), stats))
      finally index.foreach(_.unpersist())
      if (!entries.drop(i + 1).exists(_.fixture == e.fixture))
        laps.deleteTree("fixture_" + Paths.get(dir).getFileName, Paths.get(dir))
    }
  }

  /** One lap of a streaming entry: [[StreamConfs]] for its duration (prior
    * values restored, also on failure), a fresh checkpoint queued for
    * deletion after the lap, the file source at one file per trigger
    * shuffled to the entry's width, and the query run to completion.
    * First-lap-wins: a rerun never overwrites the published stats. */
  private def streamLap(spark: SparkSession, laps: Laps, e: StreamEntry, dir: String,
                        schema: StructType, index: DataFrame,
                        stats: mutable.Map[String, StreamStats]): Unit = {
    val ckpt = Files.createTempDirectory(e.name)
    laps.cleanupAfter(e.name, ckpt)
    withConfs(spark, StreamConfs) {
      val src = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(dir)
        .repartition(e.preShuffle)
      val q = e.build(src, index).writeStream.format("noop")
        .option("checkpointLocation", ckpt.toString)
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        if (!stats.contains(e.name))
          stats(e.name) = streamStats(q.recentProgress.filter(_.numInputRows > 0).toSeq)
      } finally q.stop()
    }
  }
}
