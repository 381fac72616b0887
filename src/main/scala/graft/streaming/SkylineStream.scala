package graft.streaming

import com.fasterxml.jackson.core.io.JsonStringEncoder
import org.apache.spark.sql.{Dataset, SparkSession}

import graft.core.Point
import graft.operators.SkylineOps

/** Structured Streaming shell reproducing the reference's continuous topology
  * (`java/org.main/FlinkSkyline.java:84-183`):
  *
  *   data stream (CSV strings)      trigger stream ("qid,requiredCount")
  *        parse → tag pid                broadcast to N partitions
  *             └────── tagged union (Spark's encoding of the 2-input
  *                      keyed co-process C1) ──────┘
  *                              │ envelopes
  *           [[SkylineStreamTWS.topology]]: two chained transformWithState
  *           stages — local skyline + barrier (A1+A2) keyed by
  *           partition, then global merge + countdown latch (A3) keyed by
  *           query, both through the kd-index `SkylineBuffer`
  *                              │ QueryResult (metrics JSON)
  *
  * This object holds the protocol's records and its input side (parse,
  * trigger broadcast); [[runBatch]] runs the same topology over a batch
  * `Dataset`.
  */
object SkylineStream {

  /** Tagged union envelope: kind 0 = data point, kind 1 = query trigger. */
  case class Envelope(pid: Int, kind: Int, id: Long, values: Array[Double],
                      payload: String, dispatchMs: Long)

  /** Local-phase output, mirroring the reference Tuple6
    * (`FlinkSkyline.java:201-213`). */
  case class LocalResult(pid: Int, payload: String, dispatchMs: Long,
                         startMs: Long, skyline: Seq[Point], cpuMs: Long)

  /** Completed query result (the reference's emitted JSON object,
    * `FlinkSkyline.java:631-648`). */
  case class QueryResult(queryId: String, recordCount: String, skylineSize: Int,
                         optimality: Double, ingestionTimeMs: Long,
                         localProcessingTimeMs: Long, globalProcessingTimeMs: Long,
                         totalProcessingTimeMs: Long) {
    def toJson: String =
      s"""{"query_id": ${quoted(queryId)}, "record_count": ${
        // the reference interpolates the payload's count verbatim; quote
        // anything that is not a JSON integer ("unknown", "007") so the
        // emitted JSON stays valid
        if (recordCount.matches("-?(0|[1-9]\\d*)")) recordCount else quoted(recordCount)}, """ +
        s""""skyline_size": $skylineSize, "optimality": ${
          // Locale.ROOT: JSON must use a dot decimal separator regardless of
          // the JVM default locale
          String.format(java.util.Locale.ROOT, "%.4f", Double.box(optimality))}, """ +
        s""""ingestion_time_ms": $ingestionTimeMs, """ +
        s""""local_processing_time_ms": $localProcessingTimeMs, """ +
        s""""global_processing_time_ms": $globalProcessingTimeMs, """ +
        s""""total_processing_time_ms": $totalProcessingTimeMs}"""

    /** `s` as a JSON string: the trigger payload is external input, so its
      * quotes, backslashes and control characters are escaped. */
    private def quoted(s: String): String =
      "\"" + new String(JsonStringEncoder.getInstance.quoteAsString(s)) + "\""
  }

  /** Parse a data CSV line "id,v1,...,vd" and stamp its partition id; None on
    * malformed input (reference P1/F1), which includes a NaN value: NaN
    * breaks dominance transitivity, so every skyline path drops it. */
  def parseData(line: String, pidOf: Array[Double] => Int): Option[Envelope] = {
    val p = line.split(",")
    if (p.length < 2) return None
    try {
      val id = p(0).trim.toLong
      val vs = Array.tabulate(p.length - 1)(i => p(i + 1).trim.toDouble)
      if (vs.exists(_.isNaN)) None else Some(Envelope(pidOf(vs), 0, id, vs, "", 0L))
    } catch { case _: NumberFormatException => None }
  }

  /** Broadcast one trigger payload to all N partitions (reference B1). */
  def broadcastTrigger(payload: String, n: Int, nowMs: Long): Seq[Envelope] =
    (0 until n).map(i => Envelope(i, 1, -1L, Array.empty, payload, nowMs))

  /** Runs `topology` over a batch: the parsed data lines plus every trigger
    * payload broadcast to all partitions, collected. The partition count is
    * [[SkylineOps.protocolPartitions]] of `requested` (for mr-grid that
    * costs one small job for the data's dimension count). Each of the two
    * stateful stages opens one state store per shuffle partition, empty or
    * not, so the run is planned with one shuffle partition per protocol
    * partition instead of the session's setting (200 by default: about 7x
    * slower on a small input). */
  private def runProtocol[T](spark: SparkSession, dataLines: Dataset[String],
                             triggerPayloads: Seq[String], strategy: String,
                             domain: Double, requested: Int)(
                             topology: (Dataset[Envelope], Int) => Dataset[T]): Seq[T] = {
    import spark.implicits._
    // batch transformWithState finds its state stores through the
    // StateStoreCoordinator, which the streams manager registers on creation
    spark.streams
    val n = SkylineOps.protocolPartitions(strategy, requested, dataLines
      .flatMap(l => parseData(l, _ => 0).map(_.values.length)).rdd.fold(0)(math.max))
    val pidOf = SkylineOps.pidFunction(strategy, domain, n)
    val now = System.currentTimeMillis()
    val env = dataLines.flatMap(l => parseData(l, pidOf)).unionAll(
      spark.createDataset(triggerPayloads.flatMap(p => broadcastTrigger(p, n, now))))
    val key = "spark.sql.shuffle.partitions"
    val prior = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try topology(env, n).collect().toSeq finally spark.conf.set(key, prior)
  }

  /** Full-protocol batch run that returns the merged global skyline points
    * (for oracle-checking the streaming path against the batch skyline SQL).
    * Uses a bare trigger (requiredCount 0 → fires after the batch's data,
    * `FlinkSkyline.java:334`). */
  def runBatchPoints(spark: SparkSession, dataLines: Dataset[String],
                     strategy: String, domain: Double,
                     numPartitions: Int): Seq[Point] =
    runProtocol(spark, dataLines, Seq("collect"), strategy, domain, numPartitions)(
      SkylineStreamTWS.topologyPoints(_, _))

  /** Batch-mode end-to-end pipeline: CSV lines + trigger payloads → completed
    * query results, through the same operators as the streaming topology. */
  def runBatch(spark: SparkSession, dataLines: Dataset[String],
               triggerPayloads: Seq[String], strategy: String, domain: Double,
               numPartitions: Int): Seq[QueryResult] =
    runProtocol(spark, dataLines, triggerPayloads, strategy, domain, numPartitions)(
      SkylineStreamTWS.topology(_, _))
}
