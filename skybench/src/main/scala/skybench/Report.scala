package skybench

import scala.collection.mutable

/** One measured figure: value, unit and the number of samples behind it. */
final case class Metric(value: Double, unit: String, samples: Int)

/** What one run measured and checked; `Main` prints it as the result line. */
final class Report {
  var attempted = 0
  var failed = 0
  /** Queries that would have failed had each answer lost one skyline point:
    * the proof that the answer key is not vacuous. */
  var plantedFailed = 0
  /** False when the answer key could not be computed at all. */
  var oracleRan = false
  val metrics = mutable.LinkedHashMap[String, Metric]()
  /** Figures printed for the reader but kept out of the result's metrics. */
  val notes = mutable.LinkedHashMap[String, Metric]()
  /** Extra facts written to the run's detail file, never to the result. */
  val details = mutable.LinkedHashMap[String, Any]()

  def put(name: String, value: Double, unit: String, samples: Int = 1): Unit =
    metrics(name) = Metric(value, unit, samples)

  def note(name: String, value: Double, unit: String, samples: Int = 1): Unit =
    notes(name) = Metric(value, unit, samples)

  /** Records one query's verdict: `ok` for the answer as reported,
    * `plantedOk` for the same answer with one skyline point dropped. */
  def check(ok: Boolean, plantedOk: Boolean): Unit = {
    attempted += 1
    if (!ok) failed += 1
    if (!plantedOk) plantedFailed += 1
  }
}

object Stats {
  /** Linear-interpolation percentile (q in [0, 1]) of a non-empty sample. */
  def percentile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else percentile(xs, 0.5)
}

/** Writes reports and the result line with json4s, which Spark already
  * ships. Case classes become objects; NaN and infinities, which JSON
  * cannot hold, become null. */
object Json {
  import org.json4s._
  import org.json4s.jackson.JsonMethods

  private implicit val formats: Formats = DefaultFormats

  def of(v: Any): String = JsonMethods.compact(JsonMethods.render(Extraction.decompose(v).map {
    case JDouble(d) if d.isNaN || d.isInfinite => JNull
    case x => x
  }))
}

/** The host a run measured on, so a result is never compared with one taken
  * on another machine, and CPU steal that makes a run noisy is visible. */
object Host {
  /** Cumulative CPU steal of the machine in seconds (from /proc/stat, in
    * USER_HZ = 1/100 s ticks); -1 where the kernel does not report it. */
  def stealSeconds(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        src.getLines().find(_.startsWith("cpu ")).map { l =>
          val f = l.trim.split("\\s+")
          if (f.length > 8) f(8).toLong / 100.0 else -1.0
        }.getOrElse(-1.0)
      } finally src.close()
    } catch { case _: java.io.IOException => -1.0 }

  def describe(spark: org.apache.spark.sql.SparkSession): Map[String, Any] = {
    val conf = spark.conf
    Map(
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory() / (1024 * 1024),
      "jvm" -> System.getProperty("java.version"),
      "spark" -> spark.version,
      "scala" -> scala.util.Properties.versionNumberString,
      "master" -> spark.sparkContext.master,
      "default_parallelism" -> spark.sparkContext.defaultParallelism,
      "shuffle_partitions" -> conf.get("spark.sql.shuffle.partitions"),
      "aqe" -> conf.get("spark.sql.adaptive.enabled"),
      "state_store" -> conf.getOption("spark.sql.streaming.stateStore.providerClass")
        .map(_.split('.').last).getOrElse("default"))
  }
}

/** The closed timed loop of every workload, screened for CPU steal. A
  * sample is disturbed when the CPU time stolen from the machine while it
  * ran exceeds `maxSteal` of the machine's CPU time over the sample's wall
  * time. The loop runs until it has `seconds` of undisturbed sample time
  * and `minSamples` undisturbed samples, and stops at `capSeconds` of wall
  * time once it has `minSamples` samples at all. */
final class TimedLoop(seconds: Double, minSamples: Int, maxSteal: Double, capSeconds: Double) {
  private val cpus = Runtime.getRuntime.availableProcessors()
  private val start = System.nanoTime()
  private var cleanNs = 0L
  private var clean = 0
  /** The stolen share of every sample, in order. */
  val shares = mutable.ArrayBuffer[Double]()

  def more: Boolean = shares.length < minSamples ||
    ((clean < minSamples || cleanNs < seconds * 1e9) && System.nanoTime() - start < capSeconds * 1e9)

  /** Runs one sample; returns its value, its wall time in ns and its
    * stolen share. */
  def time[T](body: => T): (T, Long, Double) = {
    val s0 = Host.stealSeconds()
    val t0 = System.nanoTime()
    val r = body
    val dt = System.nanoTime() - t0
    val share = if (s0 < 0) 0.0 else (Host.stealSeconds() - s0) / (cpus * dt / 1e9)
    shares += share
    if (share <= maxSteal) { clean += 1; cleanNs += dt }
    (r, dt, share)
  }

  def disturbed: Int = shares.count(_ > maxSteal)

  /** The figures to report, from (figure, stolen share) pairs: the
    * undisturbed ones, or the `minSamples` least disturbed when fewer than
    * that are undisturbed. */
  def kept(xs: Seq[(Double, Double)]): Seq[Double] = {
    val undisturbed = xs.filter(_._2 <= maxSteal)
    (if (undisturbed.length >= minSamples) undisturbed else xs.sortBy(_._2).take(minSamples)).map(_._1)
  }
}

/** Largest heap in use just after a full collection, sampled at query
  * boundaries outside every timed region: it shows state, caches or
  * broadcasts that stay behind in the session. */
final class HeapSampler {
  private var maxBytes = 0L
  var samples = 0

  def sample(): Unit = {
    System.gc()
    val used = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed
    maxBytes = math.max(maxBytes, used)
    samples += 1
  }

  def maxMb: Double = maxBytes / (1024.0 * 1024.0)
}
