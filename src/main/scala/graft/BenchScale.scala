package graft

import graft.operators.{Dedup, SkylineOps}
import graft.sources.Generators

/** 10x scale certification of the frozenScale heavy family (judge r13
  * item 1). `Bench` measures the scale family at its sf0.1 sizes (600k-doc
  * corpora, 1M-20M-point skylines); the 100 TB claim rested on enforced
  * plan SHAPE (BroadcastAuditSpec, bounded-collect audits) plus those
  * timings. This main re-runs the SAME entry table ([[BenchHarness.entries]]
  * and the `stream_dedup_600k` twin, 23 entries defined once for both mains)
  * at `mult`x the rows (default 10: 6M-doc corpora, 10M-200M-point
  * skylines) on the same 32 cores, plus its four scale-only [[twins]], and
  * writes `BENCH_SCALE.json` with, per entry, the measured min-of-pair, the
  * sf0.1 quiet reference (`Bench.quietRef`, ledger-checked by QuietRefSpec),
  * and their ratio. The stream twin runs Bench's 8 state stores.
  *
  * Reading the ratio: same core count, `mult`x the work, so a perfectly
  * linear operator reads ratio ~ mult; fixed per-job overhead (trigger
  * mechanics, plan time, the ~0.3 s job floor) pulls it BELOW mult, and a
  * super-linear cost term pushes it above — the 6-D/5-D skyline merges are
  * the expected case, because anti-correlated SKYLINE OUTPUT grows faster
  * than n (the union the pairwise merge must cross-filter is itself a
  * growing fraction of the input; the xfilter stats land in the artifact so
  * the ratio decomposes into output growth vs merge cost).
  *
  * Environment knobs: SPARK_GRAFT_SCALE_MULT (default 10),
  * SPARK_GRAFT_SCALE_ONLY=a,b,c (diagnostic runs write
  * BENCH_SCALE_ONLY.json, mirroring Bench's full-vs-filtered guard),
  * SPARK_GRAFT_CPUS, and SPARK_DRIVER_MEM (build.sbt heap; the
  * certification runs at 96g — 10x the data in one JVM needs more than the
  * sweep's 24g default, and the artifact records the heap it ran with). */
object BenchScale {
  import BenchHarness._

  /** SCALE-PATH TWINS (round 14). The uncapped LSH faces are structurally
    * QUADRATIC on self-similar corpora — measured on this corpus: minhash
    * hot buckets grow linearly (max 1,245 members at 600k -> 12,623 at 6M),
    * candidate pairs 1.44M -> 145M (101x for 10x), and simhash's 15-bit band
    * space saturates at ~n/2^15 random members per bucket. The twins are the
    * linear designs: a 100-member bucket cap (hot buckets carry no
    * pair-level near-dup signal; same constant as ngramJaccardPairs/winnow)
    * and Manku-style 30-bit wide keys. Each twin also runs at x1 as
    * `<name>_base` IN THIS RUN, so the artifact carries a same-harness
    * scaling ratio (__ratio_over_mult_self) that needs no cross-file ref. */
  private[graft] val twins: Seq[Entry] = Seq(
    Entry("dedup_minhash_capped_600k", 600000L, (spark, n) => Dedup.minhashCandidates(
      Generators.syntheticCorpus(spark, n), "doc_id", "text", maxBucket = 100).count()),
    Entry("dedup_simhash_wide_600k", 600000L, (spark, n) => Dedup.simhashHammingPairsWide(
      Generators.syntheticCorpus(spark, n), "doc_id", "text").count()))

  /** Every batch entry this main runs, in order, with its multiplier. */
  private[graft] def batchPlan(mult: Long): Seq[(Entry, Long)] =
    entries.map(_ -> mult) ++
      twins.map(e => e.copy(name = s"${e.name}_base") -> 1L) ++ twins.map(_ -> mult)

  /** The streaming twin: the same 10 micro-batches at mult x rows per batch
    * (state volume grows mult x; the per-batch flatness claim is exactly
    * what a 10x run certifies). */
  private[graft] val streamTwins: Seq[StreamEntry] =
    streams.filter(_.name == "stream_dedup_600k")

  /** Names of every entry this main runs. */
  private[graft] def entryNames: Seq[String] =
    batchPlan(1L).map(_._1.name) ++ streamTwins.map(_.name)

  def main(args: Array[String]): Unit = {
    val mult = sys.env.getOrElse("SPARK_GRAFT_SCALE_MULT", "10").toLong
    require(mult >= 1L, "SPARK_GRAFT_SCALE_MULT must be >= 1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = session(cpus)
    val laps = new Laps(spark)

    val only = sys.env.get("SPARK_GRAFT_SCALE_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def wanted(name: String): Boolean = only.forall(_.contains(name))

    // per entry: first lap, repeat lap, best lap, storm re-laps, rows
    val measured = scala.collection.mutable.LinkedHashMap[String, (Lap, Lap, Option[Lap], Int, Long)]()

    /** Two laps (cold-ish + warm) + steal-gated storm re-laps, min over
      * all laps — Bench's timeQuiet adjudication adapted to multi-minute
      * laps: the gate is RELATIVE (5% of the lap, floored at Bench's 2 s
      * absolute) because at 10x a lap is minutes long and an absolute 2 s
      * would re-lap forever on this host's periodic steal storms. The
      * published headline is the best lap; its own steal/GC land as the
      * entry's brackets so the artifact self-adjudicates. Setup work
      * belongs OUTSIDE the thunk. */
    def bench(name: String, n: Long, f: () => Unit): Unit = {
      def stormed(l: Lap): Boolean = l.steal > math.max(2.0, l.t * 0.05)
      var all = List(laps.lap(name, f), laps.lap(s"${name}__rep", f))
      def best: Option[Lap] = all.filter(_.t >= 0).sortBy(_.t).headOption
      var tries = 0
      while (best.exists(stormed) && tries < 2) {
        tries += 1
        all = all :+ laps.lap(s"${name}__storm$tries", f)
      }
      measured(name) = (all.head, all(1), best, tries, n)
      if (best.nonEmpty) laps.errors.remove(name) // some lap succeeded
      println(f"BENCH_SCALE $name n=$n min=${best.fold(-1.0)(_.t)}%.2f " +
        f"(first=${all.head.t}%.2f rep=${all(1).t}%.2f extra=$tries " +
        f"best_steal=${best.fold(all.map(_.steal).sum)(_.steal)}%.1f)")
    }

    // Warm-up: small passes through the heaviest codegen chains so the
    // first laps measure the operators, not Janino/C2 (same policy as the
    // sweep's warm-up sections).
    laps.withRddSweep {
      SkylineOps.skylineBroadcastFilter(
        Generators.generate(spark, "anti-correlated", 20000, 5)).count()
      SkylineOps.skylineViaStrategy(
        Generators.generate(spark, "anti-correlated", 20000, 2),
        "mr-angle", 10000.0, 8).count()
      warm(spark, (corpusFamily ++ twins).filter(e => wanted(e.name)), 30L) // 20k docs per 600k
    }

    val sentinelPre = loadSentinel()
    val stealStart = stealTicks()

    val xfilter = scala.collection.mutable.LinkedHashMap[String, SkylineOps.XFilterStats]()
    runEntries(spark, batchPlan(mult).filter(p => wanted(p._1.name)), xfilter)(bench)
    val progress = scala.collection.mutable.LinkedHashMap[String, StreamStats]()
    runStreams(spark, laps, streamTwins.filter(e => wanted(e.name)), mult, progress)(bench)

    // ----- broadcast-audit the corpus shapes AT THE SCALED SIZE (the
    // Range-estimate trap is size-independent, but this is the committed
    // proof that no operator re-broadcasts at 6M rows)
    val corpusN = 600000L * mult
    val auditHits = if (only.isEmpty)
      withConfs(spark, Seq("spark.sql.adaptive.enabled" -> "false")) {
        graft.tools.BroadcastAudit.auditCorpusShapes(spark, corpusN)
          .filter(h => !h.resizable)
      }
    else Nil

    val stealTotal = (stealTicks() - stealStart) / 100.0
    val sentinelPost = loadSentinel()

    def j(d: Double): String = if (d.isNaN || d.isInfinite) "-1" else
      BigDecimal(d).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    val lines = scala.collection.mutable.ArrayBuffer[String]()
    lines += s"""  "mult": $mult"""
    // the 5-D/6-D entries' multiplier, a key artifact readers expect; = mult
    lines += s"""  "mult_hi": $mult"""
    lines += s"""  "cpus": $cpus"""
    lines += s"""  "heap": "${sys.env.getOrElse("SPARK_DRIVER_MEM", "24g")}""""
    lines += s"""  "sentinel_pre": ${j(sentinelPre)}"""
    lines += s"""  "sentinel_post": ${j(sentinelPost)}"""
    lines += s"""  "steal_sec": ${j(stealTotal)}"""
    var linTotal = 0.0; var linQuiet = 0.0
    measured.foreach { case (n, (first, rep, best, tries, rows)) =>
      val mop = best.fold(-1.0)(_.t)
      lines += s"""  "$n": ${j(mop)}"""
      lines += s"""  "${n}__first": ${j(first.t)}"""
      lines += s"""  "${n}__rep": ${j(rep.t)}"""
      lines += s"""  "${n}__storm_relaps": $tries"""
      lines += s"""  "${n}__n_rows": $rows"""
      lines += s"""  "${n}__steal_sec": ${j(best.fold(
        first.steal + rep.steal)(_.steal))}"""
      lines += s"""  "${n}__gc_sec": ${j(best.fold(0.0)(_.gc))}"""
      Bench.quietRef.get(n).foreach { q =>
        lines += s"""  "${n}__sf01_quiet_ref": ${j(q)}"""
        if (mop >= 0) {
          lines += s"""  "${n}__ratio_vs_quiet": ${j(mop / q)}"""
          lines += s"""  "${n}__ratio_over_mult": ${j(mop / q / mult)}"""
          linTotal += mop; linQuiet += q
        }
      }
    }
    if (linQuiet > 0)
      lines += s"""  "family_ratio_over_mult": ${j(
        linTotal / linQuiet / mult)}"""
    // same-run self-ratios for the scale-path twins (base measured in this
    // run at the sf0.1 size; ~1.0 reads as linear scaling)
    for (nm <- twins.map(_.name)) {
      def mop(k: String) = measured.get(k).flatMap(_._3).map(_.t)
      (mop(nm), mop(s"${nm}_base")) match {
        case (Some(s), Some(b)) if b > 0 =>
          lines += s"""  "${nm}__ratio_over_mult_self": ${j(s / b / mult)}"""
        case _ =>
      }
    }
    laps.errors.foreach { case (n, e) => lines += s"""  "${n}__err": "$e"""" }
    laps.cleanupErrors.foreach { case (n, e) => lines += s"""  "${n}__cleanup_err": "$e"""" }
    lines ++= xfilterJson(xfilter)
    lines ++= streamJson(progress)
    lines += s"""  "broadcast_audit_n": $corpusN"""
    lines += s"""  "broadcast_audit_nonresizable_hits": [${
      auditHits.map(h => s""""${h.entry}:${h.kind}"""").mkString(", ")}]"""
    val out = "{\n" + lines.mkString(",\n") + "\n}\n"
    val target = if (only.isEmpty) "BENCH_SCALE.json" else "BENCH_SCALE_ONLY.json"
    java.nio.file.Files.write(java.nio.file.Paths.get(target),
      out.getBytes("UTF-8"))
    println(s"wrote $target")
    spark.stop()
  }
}
