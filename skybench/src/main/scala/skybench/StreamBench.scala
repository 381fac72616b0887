package skybench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{Dataset, Encoders, SparkSession, SQLContext}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, StreamingQueryListener, StreamingQueryProgress}

import graft.operators.SkylineOps
import graft.streaming.{SkylineStream, SkylineStreamTWS}
import graft.streaming.SkylineStream.QueryResult

/** The reference's continuous topology, as `StreamMain` deploys it: CSV
  * lines and query triggers enter through two in-memory streams, are parsed
  * and tagged with their strategy partition, and run through
  * `SkylineStreamTWS.topology` (local skyline + barrier, then the per-query
  * merge with its countdown latch) on the RocksDB state store.
  *
  * One client, closed loop: each step appends `step_records` records and one
  * trigger, then waits for that trigger's `QueryResult` at the sink. The
  * trigger's barrier is the highest id appended in EARLIER steps. Every
  * partition's barrier is its own highest id seen, so a barrier taken from
  * the step's own records would hold the query until the next step's
  * records reach the partitions that missed the last ids.
  */
final class StreamBench(a: Args, report: Report) {
  private val dims = a.int("dims")
  private val step = a.int("step_records")
  private val cores = a.int("cores")
  private val partitions = a.int("partitions")
  private val strategy = a.str("strategy")
  private val domain = a.dbl("domain")
  private val maxSteps = a.int("max_steps")
  private val timeoutNs = a.int("step_timeout_ms") * 1000000L
  private val heap = new HeapSampler
  private var inputs: Inputs = _

  /** Results as they reach the sink, with their arrival time. */
  private final class Sink {
    private val arrived = new ConcurrentHashMap[String, (QueryResult, Long)]()

    def offer(r: QueryResult): Unit = {
      arrived.put(r.queryId, (r, System.nanoTime()))
      synchronized(notifyAll())
    }

    def await(qid: String, deadlineNs: Long): Option[(QueryResult, Long)] = synchronized {
      while (!arrived.containsKey(qid) && System.nanoTime() < deadlineNs)
        wait(math.max(1L, (deadlineNs - System.nanoTime()) / 1000000L))
      Option(arrived.get(qid))
    }
  }

  /** One started streaming query and its two input streams. */
  private final class Running(spark: SparkSession) {
    private implicit val sqlContext: SQLContext = spark.sqlContext
    private implicit val strEnc: org.apache.spark.sql.Encoder[String] = Encoders.STRING
    val dataIn: MemoryStream[String] = MemoryStream[String]
    val trigIn: MemoryStream[String] = MemoryStream[String]
    val sink = new Sink
    var steps = 0

    val query: StreamingQuery = {
      import spark.implicits._
      val n = partitions
      val pidOf = SkylineOps.pidFunction(strategy, domain, n)
      val env = dataIn.toDS().flatMap(l => SkylineStream.parseData(l, pidOf))
        .unionAll(trigIn.toDS().flatMap(p =>
          SkylineStream.broadcastTrigger(p, n, System.currentTimeMillis())))
      val s = sink
      SkylineStreamTWS.topology(env, n).writeStream
        .foreachBatch((ds: Dataset[QueryResult], _: Long) => ds.collect().foreach(s.offer))
        .option("checkpointLocation", a.workDir.resolve("checkpoint").toString)
        .outputMode(OutputMode.Append())
        .start()
    }

    def lines(k: Int): Seq[String] = ((k - 1) * step until k * step).map(inputs.line)

    /** Runs step k: its records, then its trigger; returns the result and
      * the trigger-to-sink latency in ms, or None on timeout. */
    def run(k: Int): Option[(QueryResult, Double)] = {
      if (!query.isActive) throw new IllegalStateException("the streaming query stopped", query.exception.orNull)
      dataIn.addData(lines(k))
      val barrier = if (k == 1) 0L else (k - 1).toLong * step - 1
      val t0 = System.nanoTime()
      trigIn.addData(s"$k,$barrier")
      steps = k
      sink.await(k.toString, t0 + timeoutNs).map { case (r, t) => (r, (t - t0) / 1e6) }
    }

    def stop(): Unit = query.stop()
  }

  def run(): Unit = {
    val steal0 = Host.stealSeconds()
    inputs = Inputs.generate("anti-correlated", dims, maxSteps * step, a.seed)
    val t1 = Session.sinceLaunch(a)
    val spark = Session.start(a, cores, streaming = true)
    val running = new Running(spark)
    val t2 = Session.sinceLaunch(a)
    (1 to a.int("warmup_steps")).foreach { k =>
      if (running.run(k).isEmpty) throw new IllegalStateException(s"warm-up step $k got no result")
    }
    val setupS = Session.sinceLaunch(a)
    report.details("setup_phases_s") = Map("generate" -> t1, "session_and_query" -> (t2 - t1),
      "warmup" -> (setupS - t2))
    report.details("host") = Host.describe(spark)
    val stealBefore = Host.stealSeconds()
    report.details("setup_steal_s") = stealBefore - steal0

    val pidOf = SkylineOps.pidFunction(strategy, domain, partitions)
    val tracing = if (a.trace) Some(new StreamTrace(spark, running.query.runId.toString, pidOf, partitions))
      else None
    val results = ArrayBuffer[(Int, Option[(QueryResult, Double)])]()
    val stepNs = ArrayBuffer[(Double, Double)]()
    val loop = Session.loop(a, a.int("min_queries"))
    heap.sample()
    var k = running.steps + 1
    while (k <= maxSteps && loop.more) {
      tracing.foreach(_.beforeStep(k, running.lines(k)))
      val (r, dt, stolen) = loop.time(try running.run(k) catch {
        case NonFatal(e) => Session.log(s"step $k failed: $e"); None
      })
      tracing.foreach(_.afterStep(k))
      results += k -> r
      stepNs += ((dt.toDouble, stolen))
      if (r.isEmpty) Session.log(s"step $k: no result within the timeout")
      k += 1
    }
    heap.sample()
    report.details("steal_s") = Seq(stealBefore, Host.stealSeconds())
    val steps = results.toSeq.zip(stepNs)
    val lat = loop.kept(steps.collect { case ((_, Some((_, ms))), (_, stolen)) => (ms, stolen) })
    val kept = loop.kept(stepNs.toSeq)
    report.details("steps") = steps.map { case ((k, x), (ns, stolen)) =>
      Map("step" -> k, "latency_ms" -> x.map(_._2).getOrElse(-1.0), "wall_ms" -> ns / 1e6, "steal_share" -> stolen) }
    if (a.trace) tracing.get.finish(report, results.toSeq, step, inputs, k - 1)
    else {
      report.put("latency_p50_ms", Stats.median(lat), "ms", lat.length)
      report.note("latency_p90_ms", if (lat.isEmpty) 0.0 else Stats.percentile(lat, 0.9), "ms", lat.length)
      report.note("disturbed_queries", loop.disturbed.toDouble, "count", loop.shares.length)
      report.put("ingest_records_per_s", kept.length.toDouble * step / (kept.sum / 1e9), "1/s", kept.length)
      report.put("setup_s", setupS, "s")
      report.put("retained_heap_mb", heap.maxMb, "MB", heap.samples)
    }
    running.stop()
    Session.stop(spark)

    // answer key: the 2-D skyline of every record appended through each step
    val o0 = System.nanoTime()
    val expected = Oracle.prefixSizes2D(inputs, results.map(_._1 * step).toArray)
    report.oracleRan = true
    report.details("oracle_seconds") = (System.nanoTime() - o0) / 1e9
    results.zip(expected).foreach { case ((_, r), want) =>
      report.check(r.exists(_._1.skylineSize == want), r.exists(_._1.skylineSize - 1 == want))
    }
  }
}

/** Per-layer view of the stream workload. Micro-batch phases and state
  * store figures come from `StreamingQueryProgress` for every step. Steps
  * alternate between traced (engine listener attached, the step's records
  * parsed once more in the client through `SkylineStream.parseData` /
  * `broadcastTrigger`) and untraced, so the run measures its own tracing
  * overhead. */
final class StreamTrace(spark: SparkSession, runId: String, pidOf: Array[Double] => Int,
                        partitions: Int) {
  private val engine = new EngineListener
  private val progress = ArrayBuffer[StreamingQueryProgress]()
  private val progressListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.synchronized(progress += e.progress)
  }
  spark.streams.addListener(progressListener)
  private val parseMs = ArrayBuffer[Double]()
  private val windows = ArrayBuffer[(Int, Long, Long, Boolean)]()   // step, epoch ms from, to, traced
  private var traced = false
  private var stepStartMs = 0L

  def beforeStep(k: Int, lines: Seq[String]): Unit = {
    traced = k % 2 == 0
    if (traced) {
      spark.sparkContext.addSparkListener(engine)
      val t0 = System.nanoTime()
      lines.foreach(SkylineStream.parseData(_, pidOf))
      SkylineStream.broadcastTrigger(s"$k,0", partitions, System.currentTimeMillis())
      parseMs += (System.nanoTime() - t0) / 1e6
    }
    stepStartMs = System.currentTimeMillis()
  }

  def afterStep(k: Int): Unit = {
    windows += ((k, stepStartMs, System.currentTimeMillis() + 1, traced))
    if (traced) {
      // the listener bus delivers the step's task events after its result
      engine.drain(quietMs = 100, maxMs = 2000)
      spark.sparkContext.removeSparkListener(engine)
    }
  }

  def finish(r: Report, results: Seq[(Int, Option[(QueryResult, Double)])], step: Int,
             inputs: Inputs, lastStep: Int): Unit = {
    Thread.sleep(500)   // progress of the last micro-batch follows its commit
    spark.streams.removeListener(progressListener)
    val tracedSteps = windows.collect { case (k, _, _, true) => k }.toSet
    val tracedLat = results.collect { case (k, Some((_, ms))) if tracedSteps(k) => ms }
    val plainLat = results.collect { case (k, Some((_, ms))) if !tracedSteps(k) => ms }
    val answers = results.flatMap(_._2.map(_._1))
    def startMs(p: StreamingQueryProgress): Long = java.time.Instant.parse(p.timestamp).toEpochMilli
    val loopStartMs = windows.head._2
    val batches = progress.synchronized(progress.toSeq)
      .filter(p => p.numInputRows > 0 && startMs(p) >= loopStartMs)
    def dur(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)
    def perBatch(f: StreamingQueryProgress => Double): Double = Stats.median(batches.map(f))
    // the local stage keeps state for every strategy partition; the global
    // stage clears a query's state once its latch fills
    val ops = batches.lastOption.map(_.stateOperators.toSeq).getOrElse(Nil)
    def opIndex(local: Boolean): Int =
      if (ops.length < 2) -1
      else if ((ops(0).numRowsTotal >= ops(1).numRowsTotal) == local) 0 else 1
    def opMetric(local: Boolean, f: org.apache.spark.sql.streaming.StateOperatorProgress => Double): Double = {
      val i = opIndex(local)
      if (i < 0) 0.0 else perBatch(p => if (p.stateOperators.length > i) f(p.stateOperators(i)) else 0.0)
    }

    r.put("ingest.records_in", results.length.toDouble * step, "count")
    r.put("ingest.self_ms", Stats.median(parseMs.toSeq), "ms", parseMs.length)
    val counts = Array.fill(partitions)(0L)
    (0 until lastStep * step).foreach { i => counts(pidOf(Array(inputs.value(i, 0), inputs.value(i, 1)))) += 1 }
    r.put("partition.max_over_median_records", counts.max / Stats.median(counts.toSeq.map(_.toDouble)), "ratio")
    r.put("partition.empty", counts.count(_ == 0).toDouble, "count")
    r.put("partition.optimality", Stats.median(answers.map(_.optimality)), "ratio", answers.length)
    r.put("local.self_ms", opMetric(local = true, _.allUpdatesTimeMs.toDouble), "ms", batches.length)
    r.put("local.survivors", 0.0, "count")
    r.put("local.max_task_ms", 0.0, "ms")
    r.put("local.median_task_ms", 0.0, "ms")
    r.put("merge.self_ms", opMetric(local = false, _.allUpdatesTimeMs.toDouble), "ms", batches.length)
    r.put("merge.union_points", 0.0, "count")
    r.put("merge.survivors", Stats.median(answers.map(_.skylineSize.toDouble)), "count", answers.length)
    r.put("merge.tasks", 0.0, "count")
    r.put("merge.max_task_ms", 0.0, "ms")
    engine.report(r, windows.toSeq.collect { case (_, from, to, true) => engine.select(runId, from, to) })
    r.put("stream.trigger_ms", perBatch(dur(_, "triggerExecution")), "ms", batches.length)
    r.put("stream.add_batch_ms", perBatch(dur(_, "addBatch")), "ms", batches.length)
    r.put("stream.planning_ms", perBatch(dur(_, "queryPlanning")), "ms", batches.length)
    r.put("stream.wal_commit_ms", perBatch(dur(_, "walCommit")), "ms", batches.length)
    r.put("stream.state_rows.local", opMetric(local = true, _.numRowsTotal.toDouble), "count", batches.length)
    r.put("stream.state_rows.global", opMetric(local = false, _.numRowsTotal.toDouble), "count", batches.length)
    r.put("stream.state_commit_ms", perBatch(_.stateOperators.map(_.commitTimeMs).sum.toDouble), "ms", batches.length)
    r.put("stream.state_memory_bytes", perBatch(_.stateOperators.map(_.memoryUsedBytes).sum.toDouble), "bytes", batches.length)
    // a step's wall time that no micro-batch covers is queueing and polling
    val spans = batches.map { p => (startMs(p), startMs(p) + dur(p, "triggerExecution").toLong) }
    val uncovered = windows.toSeq.map { case (_, from, to, _) =>
      val kids = spans.filter { case (s, e) => e > from && s < to }
        .map { case (s, e) => (math.max(s, from), math.min(e, to)) }.sortBy(_._1)
      var covered = 0L; var end = Long.MinValue
      kids.foreach { case (s, e) =>
        val f = math.max(s, end); if (e > f) covered += e - f; end = math.max(end, e) }
      1.0 - covered.toDouble / math.max(1L, to - from)
    }
    r.put("trace.uncovered_share", Stats.median(uncovered), "ratio", uncovered.length)
    r.put("trace.overhead_ms", Stats.median(tracedLat) - Stats.median(plainLat), "ms", tracedLat.length)
    r.put("query.local_processing_time_ms", Stats.median(answers.map(_.localProcessingTimeMs.toDouble)), "ms", answers.length)
    r.put("query.global_processing_time_ms", Stats.median(answers.map(_.globalProcessingTimeMs.toDouble)), "ms", answers.length)
    Seq("ingest", "local", "merge", "query").foreach(l => r.put(s"speedup.$l", 0.0, "x"))
    r.details("progress") = batches.map(p => org.json4s.jackson.JsonMethods.parse(p.json))
    r.details("traced_steps") = tracedSteps.toSeq.sorted
  }
}

object StreamBench {
  /** The stream layers do not run in a batch query: they read zero there. */
  def zeroStreamMetrics(r: Report): Unit =
    Seq("stream.trigger_ms" -> "ms", "stream.add_batch_ms" -> "ms", "stream.planning_ms" -> "ms",
      "stream.wal_commit_ms" -> "ms", "stream.state_rows.local" -> "count",
      "stream.state_rows.global" -> "count", "stream.state_commit_ms" -> "ms",
      "stream.state_memory_bytes" -> "bytes").foreach { case (k, u) => r.put(k, 0.0, u) }
}
