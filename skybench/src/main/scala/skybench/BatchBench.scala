package skybench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

import graft.Graft
import graft.operators.SkylineOps

/** The reference query as a one-shot batch job: generated tuples in a CSV
  * file are scanned, lifted with `SkylineOps.pointsFrom`, partitioned by the
  * strategy, reduced to local skylines and merged by
  * `Graft.skylineWithMetrics`, which returns one row with the skyline size
  * and optimality. One client runs queries back to back (closed loop).
  */
final class BatchBench(a: Args, report: Report) {
  private val dims = a.int("dims")
  private val n = a.int("records")
  private val cores = a.int("cores")
  private val partitions = a.int("partitions")
  private val strategy = a.str("strategy")
  private val domain = a.dbl("domain")
  private val dimCols = (1 to dims).map(d => s"v$d")
  private val schema = StructType(StructField("id", LongType) +:
    dimCols.map(StructField(_, DoubleType)))
  private val csv = a.workDir.resolve("input.csv")

  private var inputs: Inputs = _
  private val heap = new HeapSampler

  private def observed(r: Row): (Int, Double) =
    (r.getAs[Long]("skyline_size").toInt, r.getAs[Double]("optimality"))

  private def query(spark: SparkSession, qid: Int): Row = {
    val pts = SkylineOps.pointsFrom(spark.read.schema(schema).csv(csv.toString), "id", dimCols)
    Graft.skylineWithMetrics(pts, strategy, domain, partitions, qid.toString, n.toLong)
      .collect().head
  }

  def run(): Unit = {
    require(strategy == "mr-angle", s"the answer key computes MR-Angle partition ids only, not $strategy")
    val steal0 = Host.stealSeconds()
    inputs = Inputs.generate(a.str("distribution"), dims, n, a.seed)
    val t1 = Session.sinceLaunch(a)
    var spark = Session.start(a, cores, streaming = false)
    inputs.writeCsv(csv)
    val t2 = Session.sinceLaunch(a)
    (1 to a.int("warmup_laps")).foreach(i => query(spark, -i))
    val setupS = Session.sinceLaunch(a)
    report.details("setup_phases_s") = Map("generate" -> t1, "session_and_input" -> (t2 - t1),
      "warmup" -> (setupS - t2))
    report.details("host") = Host.describe(spark)
    val stealBefore = Host.stealSeconds()
    report.details("setup_steal_s") = stealBefore - steal0

    val rows = ArrayBuffer[Option[(Int, Double)]]()
    if (a.trace) spark = traced(spark, rows)
    else {
      val loop = Session.loop(a, a.int("min_queries"))
      val lat = ArrayBuffer[(Double, Double)]()
      heap.sample()
      while (loop.more) {
        val (row, dt, stolen) = loop.time(try Some(query(spark, rows.length)) catch {
          case NonFatal(e) => Session.log(s"query ${rows.length} failed: $e"); None
        })
        if (row.isDefined) lat += ((dt / 1e6, stolen))
        rows += row.map(observed)
        heap.sample()
      }
      val kept = loop.kept(lat.toSeq)
      report.details("latency_ms") = lat.map { case (ms, stolen) => Map("ms" -> ms, "steal_share" -> stolen) }
      val p50 = Stats.median(kept)
      report.put("latency_p50_ms", p50, "ms", kept.length)
      report.note("latency_p90_ms", if (kept.isEmpty) 0.0 else Stats.percentile(kept, 0.9), "ms", kept.length)
      report.note("disturbed_queries", loop.disturbed.toDouble, "count", loop.shares.length)
      report.put("ingest_records_per_s", n / (p50 / 1e3), "1/s", kept.length)
      report.put("setup_s", setupS, "s")
      report.put("retained_heap_mb", heap.maxMb, "MB", heap.samples)
    }
    report.details("steal_s") = Seq(stealBefore, Host.stealSeconds())
    Session.stop(spark)

    // the answer key is computed after every timed region and after set-up
    val o0 = System.nanoTime()
    val key = Oracle.strategyAnswer(inputs, n, partitions)
    report.oracleRan = true
    report.details("oracle") = Map("skyline_size" -> key.skylineSize,
      "optimality" -> key.optimality, "seconds" -> (System.nanoTime() - o0) / 1e9)
    def matches(size: Int, opt: Double) =
      size == key.skylineSize && math.abs(opt - key.optimality) < 1.5e-4
    rows.foreach { r =>
      report.check(r.exists { case (s, o) => matches(s, o) }, r.exists { case (s, o) => matches(s - 1, o) })
    }
  }

  /** Traced run: each round runs the real query once (its own timings and
    * engine counters are kept), then replays the query's sequence of public
    * calls -- pointsFrom, localSkylines, skyline over the union -- one span
    * per call, materialising each layer's output so its time is its own. A
    * last replay at local[1], after one untimed lap on that session, gives
    * each layer's 1 -> `cores` speed-up. */
  private def traced(spark: SparkSession, rows: ArrayBuffer[Option[(Int, Double)]]): SparkSession = {
    val engine = new EngineListener
    spark.sparkContext.addSparkListener(engine)
    val tracer = new Tracer(spark.sparkContext)
    val real = ArrayBuffer[Double]()
    val localMs = ArrayBuffer[Double]()
    val globalMs = ArrayBuffer[Double]()
    val optimality = ArrayBuffer[Double]()
    val sizes = ArrayBuffer[(Long, Int, Int)]()   // records in, local survivors, global survivors

    def replay(tr: Tracer, s: SparkSession, qid: Int): Unit = {
      import s.implicits._
      tr.span("query", qid) { root =>
        val pts = tr.span("ingest", qid, root) { _ =>
          val p = SkylineOps.pointsFrom(s.read.schema(schema).csv(csv.toString), "id", dimCols).persist()
          (p, p.count())
        }
        val local = tr.span("local", qid, root) { _ =>
          val l = SkylineOps.localSkylines(pts._1, strategy, domain, partitions).persist()
          (l, l.map(_._2.size).collect().sum)
        }
        val global = tr.span("merge", qid, root) { _ =>
          SkylineOps.skyline(local._1.flatMap(_._2)).collect().length
        }
        sizes += ((pts._2, local._2, global))
        local._1.unpersist(); pts._1.unpersist()
      }
    }

    heap.sample()
    val loopStart = System.nanoTime()
    var i = 0
    while (i < a.int("min_queries") || System.nanoTime() - loopStart < a.seconds * 1e9) {
      val q0 = System.nanoTime()
      val row = try {
        spark.sparkContext.setJobGroup(tracer.group(i, "real"), "real", interruptOnCancel = false)
        Some(query(spark, i))
      } catch { case NonFatal(e) => Session.log(s"query $i failed: $e"); None }
      finally spark.sparkContext.clearJobGroup()
      val dt = (System.nanoTime() - q0) / 1e6
      row.foreach { r =>
        real += dt
        localMs += r.getAs[Long]("local_processing_time_ms").toDouble
        globalMs += r.getAs[Long]("global_processing_time_ms").toDouble
        optimality += r.getAs[Double]("optimality")
      }
      heap.sample()
      val replayed = try { replay(tracer, spark, i); true } catch {
        case NonFatal(e) => Session.log(s"replay $i failed: $e"); false
      }
      rows += row.map(observed).filter(_ => replayed)
      heap.sample()
      i += 1
    }
    engine.drain()

    def selfMs(tr: Tracer, name: String): Seq[Double] = tr.byName(name).map(tr.selfMs)
    def self(name: String): Seq[Double] = selfMs(tracer, name)
    val roots = tracer.byName("query")
    def perQuery(f: Int => Double): Double = Stats.median((0 until i).map(f))
    def stats(q: Int, layer: String) = engine.select(tracer.group(q, layer))._2

    report.put("ingest.records_in", sizes.head._1.toDouble, "count")
    report.put("ingest.self_ms", Stats.median(self("ingest")), "ms", i)
    val counts = Array.fill(partitions)(0L)
    val pidOf = SkylineOps.pidFunction(strategy, domain, partitions)
    (0 until n).foreach { r => counts(pidOf(inputs.values.slice(r * dims, (r + 1) * dims))) += 1 }
    report.put("partition.max_over_median_records",
      counts.max / Stats.median(counts.toSeq.map(_.toDouble)), "ratio")
    report.put("partition.empty", counts.count(_ == 0).toDouble, "count")
    report.put("partition.optimality", Stats.median(optimality.toSeq), "ratio", optimality.length)
    report.put("local.self_ms", Stats.median(self("local")), "ms", i)
    report.put("local.survivors", sizes.head._2.toDouble, "count")
    report.put("local.max_task_ms", perQuery(q => stats(q, "local").map(_.ms).maxOption.getOrElse(0L).toDouble), "ms", i)
    report.put("local.median_task_ms",
      perQuery(q => Stats.median(stats(q, "local").map(_.ms.toDouble))), "ms", i)
    report.put("merge.self_ms", Stats.median(self("merge")), "ms", i)
    report.put("merge.union_points", sizes.head._2.toDouble, "count")
    report.put("merge.survivors", sizes.head._3.toDouble, "count")
    report.put("merge.tasks", perQuery(q => stats(q, "merge").length.toDouble), "count", i)
    report.put("merge.max_task_ms", perQuery(q => stats(q, "merge").map(_.ms).maxOption.getOrElse(0L).toDouble), "ms", i)
    engine.report(report, (0 until i).map(q => engine.select(tracer.group(q, "real"))))
    report.put("trace.uncovered_share", Stats.median(roots.map(tracer.uncoveredShare)), "ratio", i)
    report.put("trace.overhead_ms", Stats.median(roots.map(_.ms)) - Stats.median(real.toSeq), "ms", i)
    report.put("query.local_processing_time_ms", Stats.median(localMs.toSeq), "ms", localMs.length)
    report.put("query.global_processing_time_ms", Stats.median(globalMs.toSeq), "ms", globalMs.length)
    StreamBench.zeroStreamMetrics(report)
    report.details("spans") = tracer.spans.toSeq
    report.details("real_query_ms") = real.toSeq

    // one replay on a single core
    val fourCore = Map("ingest" -> Stats.median(self("ingest")), "local" -> Stats.median(self("local")),
      "merge" -> Stats.median(self("merge")), "query" -> Stats.median(roots.map(_.ms)))
    Session.stop(spark)
    val single = Session.start(a, 1, streaming = false)
    // an untimed lap first: the new session's first jobs plan and start cold
    replay(new Tracer(single.sparkContext), single, -1)
    val tracer1 = new Tracer(single.sparkContext)
    replay(tracer1, single, 0)
    Seq("ingest", "local", "merge").foreach { l =>
      report.put(s"speedup.$l", selfMs(tracer1, l).head / fourCore(l), "x")
    }
    report.put("speedup.query", tracer1.byName("query").head.ms / fourCore("query"), "x")
    report.details("spans_local1") = tracer1.spans.toSeq
    single
  }
}
