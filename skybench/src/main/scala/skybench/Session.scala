package skybench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

/** Command-line settings of one run. `p` holds the workload's parameters
  * from `workloads.json`, passed through by `run.py`. */
final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      workDir: Path, launchEpochNs: Long,
                      p: Map[String, String]) {
  def str(k: String): String = p.getOrElse(k, throw new IllegalArgumentException(s"missing parameter $k"))
  def int(k: String): Int = str(k).toInt
  def dbl(k: String): Double = str(k).toDouble
}

object Session {
  /** Logs to stderr, so that stdout carries only the benchmark's lines. */
  def log(msg: String): Unit = System.err.println(s"[skybench] $msg")

  /** The session a user of the library starts: `local[cores]`, one shuffle
    * partition per strategy partition (as `StreamMain` sets it), adaptive
    * execution left at Spark's default, and the library's planner rules
    * installed. Temporary files stay inside the run's work directory. */
  def start(a: Args, cores: Int, streaming: Boolean): SparkSession = {
    val local = Files.createDirectories(a.workDir.resolve("spark-local"))
    var b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"skybench-${a.workload}")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", local.toString)
      .config("spark.sql.warehouse.dir", a.workDir.resolve("warehouse").toString)
      .config("spark.sql.shuffle.partitions", a.int("partitions").toString)
    if (streaming)
      b = b.config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.Graft.install(spark)
    spark
  }

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** The timed loop of a run. A sample during which more than 5% of the
    * machine's CPU time was stolen is measured again, not compared. The
    * loop may stretch to 1.5 x `seconds` for that, no further, so a run
    * keeps its time budget. */
  def loop(a: Args, minSamples: Int): TimedLoop =
    new TimedLoop(a.seconds, minSamples, maxSteal = 0.05, capSeconds = a.seconds * 1.5)

  /** Seconds since the benchmark launched the JVM: the first set-up pays
    * for starting the JVM too. */
  def sinceLaunch(a: Args): Double = {
    val now = java.time.Instant.now()
    (now.getEpochSecond * 1000000000L + now.getNano - a.launchEpochNs) / 1e9
  }
}
