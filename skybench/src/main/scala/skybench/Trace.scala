package skybench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** A timed call into one layer. Spans of one query share `query`; `parent`
  * is the span that made the call (-1 for the query's root). */
final case class Span(id: Int, name: String, parent: Int, query: Int,
                      startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder; spans are written out when the run ends. Every
  * span also names the Spark job group of the jobs it starts, so the engine
  * listener can charge tasks to the layer that caused them. */
final class Tracer(sc: SparkContext) {
  val spans = mutable.ArrayBuffer[Span]()
  private var nextId = 0

  def group(query: Int, name: String): String = s"q$query.$name"

  def span[T](name: String, query: Int, parent: Int = -1)(body: Int => T): T = {
    val id = nextId; nextId += 1
    sc.setJobGroup(group(query, name), name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    try body(id)
    finally {
      spans += Span(id, name, parent, query, t0, System.nanoTime())
      sc.clearJobGroup()
    }
  }

  /** Duration minus the part of it that child spans cover, in ms. */
  def selfMs(s: Span): Double = s.ms - covered(s) / 1e6

  /** Share of a root span's wall time that no child span covers. */
  def uncoveredShare(root: Span): Double =
    if (root.endNs == root.startNs) 0.0
    else 1.0 - covered(root).toDouble / (root.endNs - root.startNs)

  private def covered(s: Span): Long = {
    val kids = spans.filter(_.parent == s.id).map(k =>
      (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs))).sortBy(_._1)
    var total = 0L; var end = Long.MinValue
    kids.foreach { case (a, b) =>
      val from = math.max(a, end)
      if (b > from) total += b - from
      end = math.max(end, b)
    }
    total
  }

  def byName(name: String): Seq[Span] = spans.filter(_.name == name).toSeq
}

/** Counters of one finished task. */
final case class TaskStat(group: String, endMs: Long, ms: Long, cpuMs: Double, gcMs: Long,
                          shuffleWrite: Long, shuffleRead: Long, spill: Long)

/** Task-level engine counters, charged to the job group that started them
  * and stamped with their end time. Registered only in traced runs. */
final class EngineListener extends SparkListener {
  private val stageGroup = mutable.HashMap[Int, String]()
  private val jobs = mutable.ArrayBuffer[(String, Long)]()
  private val tasks = mutable.ArrayBuffer[TaskStat]()
  @volatile private var lastEventNs = System.nanoTime()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    jobs += g -> e.time
    e.stageIds.foreach(stageGroup(_) = g)
    lastEventNs = System.nanoTime()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += TaskStat(stageGroup.getOrElse(e.stageId, ""), e.taskInfo.finishTime,
      e.taskInfo.duration, m.executorCpuTime / 1e6, m.jvmGCTime,
      m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
      m.diskBytesSpilled + m.memoryBytesSpilled)
    lastEventNs = System.nanoTime()
  }

  /** Waits until no event arrived for `quietMs` (the listener bus has
    * delivered the run's last task), at most `maxMs`. */
  def drain(quietMs: Long = 300, maxMs: Long = 5000): Unit = {
    val deadline = System.nanoTime() + maxMs * 1000000L
    Thread.sleep(quietMs)
    while (System.nanoTime() - lastEventNs < quietMs * 1000000L &&
           System.nanoTime() < deadline) Thread.sleep(50)
  }

  /** Jobs started and tasks ended in job group `group`, optionally only
    * within the epoch-ms window [fromMs, toMs). */
  def select(group: String, fromMs: Long = Long.MinValue,
             toMs: Long = Long.MaxValue): (Int, Seq[TaskStat]) = synchronized {
    (jobs.count { case (g, t) => g == group && t >= fromMs && t < toMs },
      tasks.filter(t => t.group == group && t.endMs >= fromMs && t.endMs < toMs).toSeq)
  }

  /** Engine metrics per query: the median over `perQuery`, one
    * (jobs, tasks) selection for each query of the run. */
  def report(r: Report, perQuery: Seq[(Int, Seq[TaskStat])]): Unit = {
    val n = perQuery.length
    def med(f: Seq[TaskStat] => Double): Double = Stats.median(perQuery.map(q => f(q._2)))
    r.put("exchange.shuffle_write_bytes", med(_.map(_.shuffleWrite).sum.toDouble), "bytes", n)
    r.put("exchange.shuffle_read_bytes", med(_.map(_.shuffleRead).sum.toDouble), "bytes", n)
    r.put("exchange.spill_bytes", med(_.map(_.spill).sum.toDouble), "bytes", n)
    r.put("engine.jobs", Stats.median(perQuery.map(_._1.toDouble)), "count", n)
    r.put("engine.tasks", med(_.length.toDouble), "count", n)
    r.put("engine.executor_cpu_ms", med(_.map(_.cpuMs).sum), "ms", n)
    r.put("engine.gc_ms", med(_.map(_.gcMs).sum.toDouble), "ms", n)
  }
}
