package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.streaming._

import graft.core.{Point, SkylineBuffer}
import graft.operators.SkylineOps
import graft.streaming.SkylineStream.{Envelope, LocalResult, QueryResult}

/** The reference's full two-hop streaming topology as ONE Structured
  * Streaming query, via Spark 4 `transformWithState` (RocksDB state store):
  *
  *   envelopes ─ groupByKey(pid) ─ [LocalProcessor: local skyline + barrier
  *   state machine, A1+A2] ─ groupByKey(queryPayload) ─ [GlobalProcessor:
  *   incremental skyline merge + countdown latch, A3] ─ QueryResult
  *
  * Both stages reduce through [[SkylineBuffer]], the kd-index form of the
  * reference's BNL.
  *
  * This is the chained keyed-stage shape of the reference
  * (`java/org.main/FlinkSkyline.java:138-183`); the global merge runs as a
  * distributed stateful operator, not a driver-side accumulator. The same
  * operators run on a batch `Dataset` (see [[SkylineStream.runBatch]]).
  *
  * The protocol rules live in two pure functions, [[barrier]] (park/fire)
  * and [[latch]] (distinct-partition countdown); the processors only move
  * state in and out of the store around them.
  */
object SkylineStreamTWS {

  /** Per-query global-phase bookkeeping (the reference's ValueState/MapState
    * set, `FlinkSkyline.java:472-512`). `localSizes` is an assoc list — the
    * Avro state encoder supports arrays of structs but not MapType — with
    * one entry per partition that has answered. */
  case class GlobalMeta(minStart: Long, lastArrival: Long, maxCpu: Long,
                        dispatchMs: Long, localSizes: Seq[(Int, Int)]) {
    def arrived: Int = localSizes.size
  }

  /** Scalar half of the local state — everything EXCEPT the antichain,
    * which lives in a [[ListState]] so per-batch appends never rewrite it.
    * `nUncompacted` counts points appended since the last compaction. */
  case class LocalScalars(maxSeenId: Long, pending: Seq[(String, Long)],
                          startMs: Long, cpuNanos: Long, nUncompacted: Int)

  private[streaming] def requiredCount(payload: String): Long = {
    val parts = payload.split(",")
    // triggers are external input like data lines: an unparseable count
    // degrades to the no-barrier default instead of failing every task
    // retry and killing the streaming query (the data path's F1 discipline
    // applied to the control stream)
    if (parts.length > 1)
      try parts(1).trim.toLong catch { case _: NumberFormatException => 0L }
    else 0L
  }

  /** One partition's barrier decision for one micro-batch: the new highest
    * id seen, parked queries the new data released (`ready`), new triggers
    * answered at once (`fireNow`) and the queries still parked. Queries are
    * (payload, dispatchMs) pairs. */
  case class BarrierStep(maxSeenId: Long, ready: Seq[(String, Long)],
                         fireNow: Seq[(String, Long)],
                         parked: Seq[(String, Long)])

  /** A2 (`FlinkSkyline.java:296-315, 330-356`). The batch's data ids are
    * applied before its triggers, so the barrier check observes every record
    * of the batch (a deterministic stand-in for the per-key FIFO the
    * reference gets from arrival order). A new trigger fires if the barrier
    * is reached or the partition has seen no data (`maxSeenId == -1`).
    * Reference parity (`FlinkSkyline.java:351`): that deliberately
    * conflates "no data yet" with "no data ever" — a trigger racing ahead of
    * a partition's first record contributes an empty local skyline. */
  def barrier(maxSeenId: Long, pending: Seq[(String, Long)], dataIds: Seq[Long],
              triggers: Seq[(String, Long)]): BarrierStep = {
    val maxId = dataIds.foldLeft(maxSeenId)(math.max)
    val (ready, parked) = pending.partition { case (pl, _) =>
      maxId >= requiredCount(pl) }
    val (fireNow, parkNew) = triggers.partition { case (pl, _) =>
      maxId >= requiredCount(pl) || maxId == -1L }
    BarrierStep(maxId, ready, fireNow, parked ++ parkNew)
  }

  /** Bookkeeping of a query no partition has answered yet. */
  val emptyMeta: GlobalMeta = GlobalMeta(Long.MaxValue, 0L, 0L, 0L, Nil)

  /** A3 countdown latch: counts one local result arriving at `nowMs` into a
    * query's bookkeeping, or returns None when its partition has already
    * answered. The latch counts DISTINCT partitions: a duplicated trigger
    * payload makes every partition answer twice, and a raw arrival counter
    * would both fill early (missing the slow partitions' skylines) and
    * merge duplicate antichains. */
  def latch(m: GlobalMeta, r: LocalResult, nowMs: Long): Option[GlobalMeta] =
    if (m.localSizes.exists(_._1 == r.pid)) None
    else Some(GlobalMeta(math.min(m.minStart, r.startMs), nowMs,
      math.max(m.maxCpu, r.cpuMs), r.dispatchMs,
      m.localSizes :+ (r.pid -> r.skyline.size)))

  /** A1+A2: local skyline + barrier/trigger state machine, keyed by
    * spatial partition id, with the antichain SPLIT OUT of the scalar value
    * state into a RocksDB ListState and maintained lazily:
    *
    *  - a data-only micro-batch APPENDS its points to the list (O(batch)
    *    writes) instead of restoring + re-inserting + rewriting the whole
    *    antichain (O(antichain) per batch — the r5 verdict's 4-D
    *    anti-correlated growth concern, SURVEY §7.4);
    *  - the full-list compaction runs only when a trigger fires (the
    *    emitted skyline must be exact) or when `compactLimit` raw points
    *    have piled up — so state size is bounded by |antichain| +
    *    compactLimit, and the O(list) rewrite is amortized over
    *    compactLimit appends. Deferral is semantics-preserving because the
    *    skyline does not depend on insert order. */
  class LocalProcessor(compactLimit: Int = 5000)
      extends StatefulProcessor[Int, Envelope, LocalResult] {
    @transient private var sky: ListState[Point] = _
    @transient private var sc: ValueState[LocalScalars] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      // fresh handle names ("local" held an earlier one-value state):
      // a pre-split checkpoint restarts with fresh state instead of
      // crashing on a state-schema mismatch. CAVEAT — "fresh" means the
      // old antichain/barrier state is silently DISCARDED, which for an
      // exact-skyline query is a wrong answer, not a recovery: do not
      // resume a pre-split checkpoint with this code; start a new
      // checkpoint and replay the source instead (the repo carries no
      // persistent checkpoints, so nothing in-tree can hit this)
      sky = getHandle.getListState[Point]("local_sky",
        Encoders.product[Point], TTLConfig.NONE)
      sc = getHandle.getValueState[LocalScalars]("local_scalars",
        Encoders.product[LocalScalars], TTLConfig.NONE)
    }

    override def handleInputRows(pid: Int, rows: Iterator[Envelope],
                                 tv: TimerValues): Iterator[LocalResult] = {
      val t0 = System.nanoTime()
      val st = if (sc.exists()) sc.get() else LocalScalars(-1L, Nil, 0L, 0L, 0)
      var startMs = st.startMs
      val (data, triggers) = rows.toSeq.partition(_.kind == 0)
      if (data.nonEmpty) {
        if (startMs == 0L) startMs = System.currentTimeMillis()
        sky.appendList(data.map(e => Point(e.id, e.values)).toArray)
      }
      val b = barrier(st.maxSeenId, st.pending, data.map(_.id),
        triggers.map(e => (e.payload, e.dispatchMs)))
      val fire = b.ready ++ b.fireNow
      val nUnc = st.nUncompacted + data.length
      val compact = fire.nonEmpty || nUnc >= compactLimit
      var compacted: Seq[Point] = Nil
      if (compact) {
        compacted = SkylineBuffer.of(sky.get()).result
        // ListState.put rejects empty arrays (Spark 4 contract)
        if (compacted.nonEmpty) sky.put(compacted.toArray) else sky.clear()
      }
      val cpu = st.cpuNanos + (System.nanoTime() - t0)
      sc.update(LocalScalars(b.maxSeenId, b.parked, startMs, cpu,
        if (compact) 0 else nUnc))
      if (fire.isEmpty) Iterator.empty
      else {
        val pts = compacted.map(_.copy(originPartition = pid))
        val start = if (startMs == 0L) System.currentTimeMillis() else startMs
        fire.iterator.map { case (pl, dm) =>
          LocalResult(pid, pl, dm, start, pts, cpu / 1000000L) }
      }
    }
  }

  /** A3: global skyline merge + countdown latch, keyed by query payload.
    * When all `totalPartitions` local results have arrived it emits
    * `emit(payload, meta, finishMs, globalSkyline)` and clears the per-query
    * state (`FlinkSkyline.java:573,653-657`). */
  class GlobalProcessor[O](totalPartitions: Int,
                           emit: (String, GlobalMeta, Long, Seq[Point]) => Iterator[O])
      extends StatefulProcessor[String, LocalResult, O] {
    @transient private var buf: ListState[Point] = _
    @transient private var meta: ValueState[GlobalMeta] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      buf = getHandle.getListState[Point]("buf",
        Encoders.product[Point], TTLConfig.NONE)
      meta = getHandle.getValueState[GlobalMeta]("meta",
        Encoders.product[GlobalMeta], TTLConfig.NONE)
    }

    override def handleInputRows(payload: String, rows: Iterator[LocalResult],
                                 tv: TimerValues): Iterator[O] = {
      var m = if (meta.exists()) meta.get() else emptyMeta
      val sky = SkylineBuffer.empty
      buf.get().foreach(sky.add)  // the merged antichain so far
      rows.foreach { r =>
        latch(m, r, System.currentTimeMillis()).foreach { counted =>
          m = counted
          r.skyline.foreach(sky.add)
        }
      }
      if (m.arrived >= totalPartitions) {
        val finish = System.currentTimeMillis()  // before sky.result compacts
        buf.clear(); meta.clear()
        emit(payload, m, finish, sky.result)
      } else {
        // ListState.put rejects empty arrays (Spark 4 contract): a latch
        // fed only empty-partition answers so far has nothing to store
        val merged = sky.result
        if (merged.nonEmpty) buf.put(merged.toArray) else buf.clear()
        meta.update(m)
        Iterator.empty
      }
    }
  }

  /** The reference's emitted metrics object for a completed query
    * (`FlinkSkyline.java:590-648`). */
  def queryResult(payload: String, m: GlobalMeta, finish: Long,
                  global: Seq[Point], totalPartitions: Int): QueryResult = {
    val survivors = global.groupBy(_.originPartition).view
      .mapValues(_.size.toLong).toMap
    val parts = payload.split(",")
    val mapWall = math.max(0L, m.lastArrival - m.minStart)
    QueryResult(parts(0), if (parts.length > 1) parts(1).trim else "unknown",
      global.size,
      SkylineOps.optimality(m.localSizes.toMap, survivors, totalPartitions),
      math.max(0L, mapWall - m.maxCpu), m.maxCpu,
      finish - m.lastArrival, finish - m.minStart)
  }

  /** The local stage alone: one [[LocalResult]] per partition and fired
    * query. */
  def localStage(env: Dataset[Envelope],
                 compactLimit: Int = 5000): Dataset[LocalResult] = {
    implicit val lrEnc: Encoder[LocalResult] = ExpressionEncoder[LocalResult]()
    implicit val intEnc: Encoder[Int] = Encoders.scalaInt
    env.groupByKey(_.pid)
      .transformWithState(new LocalProcessor(compactLimit), TimeMode.None(),
        OutputMode.Append())
  }

  /** The local stage chained into a [[GlobalProcessor]] that emits `emit`. */
  private def chained[O: Encoder](env: Dataset[Envelope], totalPartitions: Int,
                                  compactLimit: Int)(
      emit: (String, GlobalMeta, Long, Seq[Point]) => Iterator[O]): Dataset[O] = {
    implicit val strEnc: Encoder[String] = Encoders.STRING
    localStage(env, compactLimit).groupByKey(_.payload)
      .transformWithState(new GlobalProcessor(totalPartitions, emit),
        TimeMode.None(), OutputMode.Append())
  }

  /** [[topology]] variant emitting the merged global skyline points (for
    * oracle-checking against the batch skyline SQL; the reference's
    * suppressed-payload emission path, `FlinkSkyline.java:643-646`). */
  def topologyPoints(env: Dataset[Envelope], totalPartitions: Int,
                     compactLimit: Int = 5000): Dataset[Point] = {
    implicit val ptEnc: Encoder[Point] = ExpressionEncoder[Point]()
    chained(env, totalPartitions, compactLimit)((_, _, _, global) => global.iterator)
  }

  /** The full chained topology. A streaming run requires the RocksDB state
    * store provider (`spark.sql.streaming.stateStore.providerClass`). */
  def topology(env: Dataset[Envelope], totalPartitions: Int,
               compactLimit: Int = 5000): Dataset[QueryResult] = {
    implicit val qrEnc: Encoder[QueryResult] = ExpressionEncoder[QueryResult]()
    chained(env, totalPartitions, compactLimit)((payload, m, finish, global) =>
      Iterator.single(queryResult(payload, m, finish, global, totalPartitions)))
  }
}
