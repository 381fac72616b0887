package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

import graft.core.Point
import graft.operators._

/** Single-import facade: everything a user of the reference system needs to
  * switch to this library, plus the training-data pipeline extensions.
  *
  * {{{
  * import graft.Graft
  * Graft.install(spark)                       // sky_dominates + Skyline plan
  * val sky = Graft.skyline(df, Seq("latency", "cost"))
  * val stream = Graft.skylineStream(spark, lines, triggers, "mr-angle", 1000.0, 8)
  * }}}
  */
object Graft {

  /** Register the SQL function and planner strategy on an existing session. */
  def install(spark: SparkSession): Unit = plans.SkylineExtensions.register(spark)

  // --- skyline (reference surface) ---------------------------------------

  /** Global skyline of `df` over the given (minimized) dimension columns,
    * keyed by its first column: a lazy Catalyst skyline whose global merge
    * runs in parallel (see [[SkylineOps.skylineDF]]). */
  def skyline(df: DataFrame, dims: Seq[String]): DataFrame =
    SkylineOps.skylineDF(df, df.columns.head, dims)

  /** Skyline whose partial phase combines per reference partitioning
    * strategy id ("mr-dim" | "mr-grid" | "mr-angle"); same rows as
    * [[skyline]] for every strategy and partition count. */
  def skylineVia(df: DataFrame, idCol: String, dims: Seq[String],
                 strategy: String, domain: Double, partitions: Int): DataFrame =
    SkylineOps.skylineDF(df, idCol, dims,
      Some(plans.ReferenceStrategy(strategy, domain, partitions)))

  /** The reference's full query: skyline size + optimality + timing JSON. */
  def skylineWithMetrics(ds: Dataset[Point], strategy: String, domain: Double,
                         partitions: Int, queryId: String, records: Long): DataFrame =
    SkylineOps.skylineWithMetrics(ds, strategy, domain, partitions, queryId, records)

  /** Batch run of the streaming barrier protocol (CSV lines + triggers):
    * the [[skylineStreamTopology]] operators over a batch Dataset, one
    * result per query whose barrier every partition reached. */
  def skylineStream(spark: SparkSession, dataLines: Dataset[String],
                    triggers: Seq[String], strategy: String, domain: Double,
                    partitions: Int): Seq[streaming.SkylineStream.QueryResult] =
    streaming.SkylineStream.runBatch(spark, dataLines, triggers, strategy,
      domain, partitions)

  /** The chained two-stage streaming topology (Spark 4 transformWithState;
    * requires the RocksDB state store provider). */
  def skylineStreamTopology(env: Dataset[streaming.SkylineStream.Envelope],
                            partitions: Int): Dataset[streaming.SkylineStream.QueryResult] =
    streaming.SkylineStreamTWS.topology(env, partitions)

  // --- training-data pipeline --------------------------------------------

  def dedupExact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    Dedup.byFingerprint(df, idCol, textCol)

  def nearDupPairs(df: DataFrame, idCol: String, textCol: String,
                   threshold: Double = 0.8): DataFrame =
    Dedup.ngramJaccardPairs(df, idCol, textCol, k = 5, threshold = threshold)

  def minhashCandidates(df: DataFrame, idCol: String, textCol: String): DataFrame =
    Dedup.minhashCandidates(df, idCol, textCol)

  /** Incremental dedup of a new batch against an existing corpus's band-key
    * fingerprint index ([[Dedup.minhashBandKeys]] rows — persist it across
    * runs; the corpus itself is never re-read). Returns (doc_id, kept).
    * Uses [[Dedup]]'s default minhash geometry so an index built with
    * default-argument `minhashBandKeys` matches — band keys from DIFFERENT
    * (numHashes, bands) never collide and would silently report every
    * corpus duplicate as kept, so build index and probe with the same
    * facade (or identical explicit parameters). */
  def incrementalNearDups(corpusIndex: DataFrame, fresh: DataFrame,
                          idCol: String, textCol: String): DataFrame =
    Dedup.incrementalMinhashVerdict(corpusIndex, fresh, idCol, textCol)

  def annTopK(corpus: DataFrame, id: String, vec: String,
              queries: DataFrame, k: Int): DataFrame =
    Similarity.bruteForceTopK(corpus, id, vec, queries, id, vec, k)

  /** Winnowing fingerprints (MOSS selection): one (pos, fp) row per selected
    * k-gram — the substring-match primitive behind overlap detection. */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
                         k: Int = 8, w: Int = 4): DataFrame = {
    import org.apache.spark.sql.functions.{col, explode}
    df.select(col(idCol),
        explode(functions.MinhashExpressions
          .winnowNative(functions.normText(col(textCol)), k, w)).as("f"))
      .select(col(idCol), col("f.pos").as("pos"), col("f.fp").as("fp"))
  }

  /** Cross-batch STREAMING near-dup dedup: stateless per-row MinHash band
    * keys + a keyed first-owner stage; feed a streaming (id, text) frame,
    * get (doc_id, band, owner) per arrival. Owners are FIRST-SEEN ids:
    * "owner == doc_id on every band ⇔ keeper" equals the batch keep-first
    * (lowest-id) verdict when docs arrive in id order; under out-of-order
    * arrival the verdict is keep-first-SEEN — the deduplication is still
    * exact (one keeper per bucket-connected group, enforced by
    * MinhashStreamOrderSpec), but the surviving representative is the
    * earliest arrival, not the lowest id. */
  def streamingNearDupOwners(streamDf: DataFrame, idCol: String,
                             textCol: String): DataFrame =
    Dedup.streamingMinhashOwners(
      Dedup.minhashBandKeys(streamDf, idCol, textCol))

  /** [[streamingNearDupOwners]] WARM-STARTED from an existing corpus: pass
    * the corpus (id, text) frame and its distinct band buckets seed the
    * owner state as [[Dedup.CorpusOwner]] before the first micro-batch, so
    * streamed docs that near-dup the corpus are flagged on arrival — the
    * streaming face of [[incrementalNearDups]]'s index contract. */
  def streamingNearDupOwnersSeeded(streamDf: DataFrame, corpus: DataFrame,
                                   idCol: String, textCol: String): DataFrame =
    Dedup.streamingMinhashOwnersSeeded(
      Dedup.minhashBandKeys(streamDf, idCol, textCol),
      Dedup.minhashBandKeys(corpus, idCol, textCol))

  /** [[streamingNearDupOwners]] with BOUNDED state: each band bucket's
    * owner holds for `ttlMs` of EVENT time (watermarked on `tsCol`) past
    * its last arrival, then the state row is evicted — state is capped at
    * one TTL window of active buckets instead of growing with every bucket
    * ever seen. Trade: a duplicate arriving after its bucket expired is NOT
    * flagged (see [[Dedup.streamingMinhashOwnersTtl]]). */
  def streamingNearDupOwnersTtl(streamDf: DataFrame, idCol: String,
                                textCol: String, tsCol: String,
                                ttlMs: Long): DataFrame =
    Dedup.streamingMinhashOwnersTtl(streamDf, idCol, textCol, tsCol, ttlMs)

  /** Write a table bucketed+sorted on `key` so every later equi-join or
    * aggregation on it is shuffle-free (see [[Bucketing.writeBucketed]]). */
  def writeBucketed(df: DataFrame, table: String, path: String,
                    key: String, buckets: Int): Unit =
    Bucketing.writeBucketed(df, table, path, key, buckets)

  /** SemDeDup-style semantic dedup: exact cosine confined to deterministic
    * IVF centroid clusters; returns (id, cluster_id, kept). Eager — runs a
    * job to pin the cluster assignment. */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    nClusters: Int, threshold: Double = 0.9): DataFrame =
    Dedup.semanticDedup(df, idCol, vecCol, nClusters, threshold)

  /** CDC MERGE: apply a changelog of upserts/delete-tombstones (latest-wins
    * by `seqCols` per `keyCol`) onto a base snapshot — one partial-agg
    * shuffle + one equi-join, never a per-row base rescan. */
  def applyChangelog(base: DataFrame, changelog: DataFrame, keyCol: String,
                     seqCols: Seq[String], opCol: String,
                     payloadCols: Seq[String]): DataFrame =
    Cdc.applyChangelog(base, changelog, keyCol, seqCols, opCol, payloadCols)

  /** Collapse a changelog to current state per key (runs incrementally
    * under Structured Streaming too — state is one struct per key). */
  def changelogLatest(changelog: DataFrame, keyCol: String,
                      seqCols: Seq[String], opCol: String,
                      payloadCols: Seq[String]): DataFrame =
    Cdc.latestState(changelog, keyCol, seqCols, opCol, payloadCols)

  /** Per-group Pareto frontier (e.g. per brand/tenant) in one aggregation —
    * grouping shards the global merge across keys. */
  def skylineGrouped(df: DataFrame, groupCols: Seq[String], idCol: String,
                     dims: Seq[String]): DataFrame =
    SkylineOps.skylineGroupedDF(df, groupCols, idCol, dims)

  /** Deterministic fixed-rate sample (portable hash-mod filter). */
  def sampleRate(df: DataFrame, idCol: String, modulus: Int): DataFrame =
    Sampling.rateSample(df, idCol, modulus)

  /** Fixed-size uniform sample per stratum (bottom-k / KMV hash ranks). */
  def sampleBottomK(df: DataFrame, strataCol: String, idCol: String,
                    k: Int): DataFrame =
    Sampling.bottomK(df, strataCol, idCol, k)

  /** Weighted sample without replacement (sequential Poisson priorities):
    * inclusion probability ∝ `weightCol` — e.g. sample training documents
    * by token mass rather than per-doc. */
  def sampleWeighted(df: DataFrame, idCol: String, weightCol: String,
                     k: Int): DataFrame =
    Sampling.weightedBottomK(df, idCol, weightCol, k)

  /** Unicode NFC normalization / accent stripping as native codegen'd
    * columns — canonicalize text BEFORE fingerprinting or shingling so
    * decomposed and precomposed spellings dedup together. */
  def nfcNormalize(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    functions.UnicodeExpressions.nfcNormalize(c)
  def stripAccents(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    functions.UnicodeExpressions.stripAccents(c)

  def textQuality(df: DataFrame, textCol: String): DataFrame =
    TextAnalysis.withQualityScore(df, textCol)

  def languageId(df: DataFrame, textCol: String): DataFrame =
    TextAnalysis.withLanguageId(df, textCol)

  /** Per-stream contiguous token-offset assignment for context packing
    * (seqLen-token sequences; documents straddle boundaries). */
  def packSequences(df: DataFrame, idCol: String, textCol: String,
                    streamCol: String, seqLen: Int = 2048): DataFrame =
    TextAnalysis.packSequences(df, idCol, textCol, streamCol, seqLen)

  /** Hive-partitioned, size-capped, deterministically sharded parquet export
    * (training-data output layout). */
  def writeSharded(df: DataFrame, outDir: String, idCol: String,
                   partitionCols: Seq[String], nShards: Int,
                   maxRecordsPerFile: Long = 1000000L): Unit =
    OutputLayout.writeSharded(df, outDir, idCol, partitionCols, nShards,
      maxRecordsPerFile)

  /** Deequ-style rule-suite check: one aggregation pass, one row per rule. */
  def checkRules(df: DataFrame,
                 rules: Seq[(String, org.apache.spark.sql.Column)]): DataFrame =
    Validate.checkRules(df, rules)

  /** Rows violating >= 1 rule, tagged with the violated rule names. */
  def quarantine(df: DataFrame,
                 rules: Seq[(String, org.apache.spark.sql.Column)],
                 keep: Seq[String]): DataFrame =
    Validate.quarantine(df, rules, keep)

  /** k-anonymity audit over quasi-identifier columns. */
  def kAnonymityAudit(df: DataFrame, quasiCols: Seq[String],
                      k: Long): DataFrame =
    Validate.kAnonymityAudit(df, quasiCols, k)

  /** Per-bucket XOR-fold content-integrity manifest. */
  def contentManifest(df: DataFrame, idCol: String,
                      hashInput: org.apache.spark.sql.Column,
                      buckets: Int = 64): DataFrame =
    Validate.contentManifest(df, idCol, hashInput, buckets)

  /** SimHash near-dup pairs within a Hamming ball (pigeonhole banding). */
  def simhashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
                          maxHamming: Int = 3): DataFrame =
    Dedup.simhashHammingPairs(df, idCol, textCol, maxHamming)

  /** CCNet-style corpus-level boilerplate segment removal. */
  def removeBoilerplate(df: DataFrame, idCol: String, textCol: String,
                        segTokens: Int = 10, maxDf: Int = 2): DataFrame =
    TextAnalysis.removeBoilerplate(df, idCol, textCol, segTokens, maxDf)

  /** BPE merge learning (rounds of argmax pair + greedy merge). */
  def bpeLearnMerges(df: DataFrame, textCol: String, rounds: Int): DataFrame =
    TextAnalysis.bpeLearnMerges(df, textCol, rounds)

  /** Per-document BPE token counts under merges learned on the corpus. */
  def bpeEncodeCounts(df: DataFrame, idCol: String, textCol: String,
                      rounds: Int): DataFrame =
    TextAnalysis.bpeEncodeCounts(df, idCol, textCol, rounds)

  /** Global-sort-free percentile-rank blend of quality signals. */
  def blendQualityRanks(df: DataFrame, idCol: String,
                        signals: Seq[(String, org.apache.spark.sql.Column)],
                        bins: Int = 512): DataFrame =
    TextAnalysis.blendQualityRanks(df, idCol, signals, bins)

  /** Streaming ANN serving: stateless stream-static IVF candidate join. */
  def annServeStream(corpus: DataFrame, corpusId: String, corpusVec: String,
                     queryStream: DataFrame, queryId: String, queryVec: String,
                     nLists: Int, nProbe: Int): DataFrame =
    Similarity.ivfScoreStream(corpus, corpusId, corpusVec, queryStream,
      queryId, queryVec, nLists, nProbe)

  /** Single-query cosine top-k in the serving shape (TakeOrderedAndProject,
    * no corpus-wide sort). */
  def annTopKSingle(corpus: DataFrame, corpusId: String, corpusVec: String,
                    query: DataFrame, queryVec: String, k: Int): DataFrame =
    Similarity.topKToQuery(corpus, corpusId, corpusVec, query, queryVec, k)

  /** Reciprocal-rank fusion of named bounded candidate lists (exact
    * integer scores; absence from a list contributes 0). */
  def rrfFuse(lists: Seq[(String, DataFrame)], idCol: String,
              rankCol: String = "rank", rrfK: Int = 60): DataFrame =
    Similarity.rrfFuse(lists, idCol, rankCol, rrfK)

  /** Benchmark-contamination quarantine list: docs sharing any k-char
    * shingle with the (broadcast) benchmark shingle set. Batch or
    * streaming (the ingest-gate face). */
  def decontaminationGate(df: DataFrame, idCol: String, textCol: String,
                          benchShingles: DataFrame, k: Int = 16): DataFrame =
    operators.TextAnalysis.decontaminationGate(df, idCol, textCol,
      benchShingles, k)

  /** Streaming decontamination gate with TTL-BOUNDED state: verdict state
    * rows are leased for `ttl` of event time (watermarked on `tsCol`), so
    * state is capped by one TTL window of contaminated ids instead of
    * growing with contamination volume; a post-eviction re-arrival is
    * re-quarantined (duplicate verdict — safe). CAVEAT: the watermark also
    * bounds lateness — a row more than `ttl` behind the max event time is
    * dropped UNSCREENED (a silent miss); size `ttl` past the feed's
    * worst-case disorder or use [[decontaminationGateProcTtl]]. */
  def decontaminationGateTtl(df: DataFrame, idCol: String, textCol: String,
                             tsCol: String, ttl: String,
                             benchShingles: DataFrame, k: Int = 16): DataFrame =
    operators.TextAnalysis.decontaminationGateTtl(df, idCol, textCol, tsCol,
      ttl, benchShingles, k)

  /** Late-data-safe streaming decontamination gate: verdict state leased
    * for `ttlMs` of PROCESSING time (no watermark), so every row is
    * screened no matter how out-of-order the feed — eviction timing is
    * wall-clock-dependent, but degradation is always a duplicate verdict,
    * never a miss. */
  def decontaminationGateProcTtl(df: DataFrame, idCol: String,
                                 textCol: String, ttlMs: Long,
                                 benchShingles: DataFrame,
                                 k: Int = 16): DataFrame =
    operators.TextAnalysis.decontaminationGateProcTtl(df, idCol, textCol,
      ttlMs, benchShingles, k)

  /** Winnow-screened decontamination: both sides keep only winnow-selected
    * k-gram fingerprints (~2/(w+1) the index/probe volume; recall exact
    * for verbatim overlaps ≥ w+k−1 chars). `benchFps` = one-column (fp)
    * eval-set fingerprint frame. */
  def decontaminationGateWinnow(df: DataFrame, idCol: String, textCol: String,
                                benchFps: DataFrame, k: Int = 8,
                                w: Int = 4): DataFrame =
    operators.TextAnalysis.decontaminationGateWinnow(df, idCol, textCol,
      benchFps, k, w)

  /** The full production ingest gate: winnow-screened AND TTL-bounded
    * verdict state (streaming; event-time lease via
    * dropDuplicatesWithinWatermark). */
  def decontaminationGateWinnowTtl(df: DataFrame, idCol: String,
                                   textCol: String, tsCol: String,
                                   ttl: String, benchFps: DataFrame,
                                   k: Int = 8, w: Int = 4): DataFrame =
    operators.TextAnalysis.decontaminationGateWinnowTtl(df, idCol, textCol,
      tsCol, ttl, benchFps, k, w)

  /** Leakage-safe split: near-dup clusters hashed whole into
    * train/validation/test, so no cluster straddles train and eval.
    * Returns (id, cluster_id, split) per document. */
  def leakageSafeSplit(df: DataFrame, idCol: String, textCol: String,
                       cuts: Seq[(String, Int)] = Seq(("train", 90),
                         ("validation", 95), ("test", 100))): DataFrame =
    Dedup.leakageSafeSplit(df, idCol, textCol, cuts = cuts)

  /** Multi-probe LSH ANN: query probes its bucket + all Hamming-1 buckets
    * (recall ~3x single-probe on the fixture; query-side cost only). */
  def annTopKMultiProbe(corpus: DataFrame, corpusId: String, corpusVec: String,
                        query: DataFrame, queryId: String, queryVec: String,
                        k: Int, nPlanes: Int, dims: Int): DataFrame =
    Similarity.lshMultiProbeTopK(corpus, corpusId, corpusVec, query, queryId,
      queryVec, k, nPlanes, dims)

  /** fastText-style hashing-trick linear classifier scoring (micro-unit
    * weights; zero-shuffle scan-time projection). */
  def classifierScore(df: DataFrame, idCol: String, textCol: String,
                      weightsU6: Seq[Long], biasU6: Long = 0L,
                      thresholdU6: Long = 0L): DataFrame =
    TextAnalysis.linearClassifierScoreU6(df, idCol, textCol, weightsU6,
      biasU6, thresholdU6)

  /** Integer-exact audit of MinHash estimation quality: per candidate
    * pair, signature agreement vs exact shingle intersection/union. */
  def minhashEstimationAudit(df: DataFrame, idCol: String,
                             textCol: String): DataFrame =
    Dedup.minhashEstimationAudit(df, idCol, textCol)

  /** Weighted upsampling with replacement (epoch mixing materialized):
    * micro-unit weights, deterministic fractional copies. */
  def upsampleByWeight(df: DataFrame, strataCol: String, idCol: String,
                       weightsU6: Map[String, Long]): DataFrame =
    Sampling.upsampleByWeight(df, strataCol, idCol, weightsU6)

  /** Deterministic sharded training-order shuffle (reproducible epoch
    * permutation, no global sort; vary `seed` per epoch). */
  def shuffleOrder(df: DataFrame, idCol: String, nShards: Int,
                   seed: String = "shuf"): DataFrame =
    OutputLayout.shuffleOrder(df, idCol, nShards, seed)

  /** Parse BMP/WAV container headers from a (media_id, payload) binary
    * frame — pure-JVM metadata decode, batched per partition. */
  def decodeMediaMeta(bin: DataFrame): Dataset[operators.Multimodal.MediaMeta] =
    Multimodal.decodeMeta(bin)
}
