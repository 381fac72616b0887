package skybench

import java.nio.file.{Files, Paths}

/** Entry point of one benchmark run (started by `run.py`):
  *
  * {{{
  * skybench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *               --work-dir <dir> --report <file> --launch-epoch-ns <ns>
  *               --p.<parameter> <value> ...
  * }}}
  *
  * Prints one line per metric, then the result object as the last line of
  * stdout. Spans, host facts and per-query figures go to the report file.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val a = Args(kv("workload"), kv("seed").toLong, kv("seconds").toDouble, kv("trace") == "1",
      Paths.get(kv("work-dir")), kv("launch-epoch-ns").toLong,
      kv.collect { case (k, v) if k.startsWith("p.") => k.drop(2) -> v })
    Files.createDirectories(a.workDir)
    val report = new Report
    a.str("mode") match {
      case "batch" => new BatchBench(a, report).run()
      case "stream" => new StreamBench(a, report).run()
      case other => throw new IllegalArgumentException(s"unknown mode $other")
    }
    report.note("failed_frac", report.failed.toDouble / math.max(1, report.attempted), "ratio",
      report.attempted)
    val host = report.details("host").asInstanceOf[Map[String, Any]]
    val steal = report.details("steal_s").asInstanceOf[Seq[Double]]
    println(host.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString("host ", " ", "") +
      f" cpu_steal_s=${steal.head}%.2f->${steal(1)}%.2f setup_steal_s=${report.details("setup_steal_s").asInstanceOf[Double]}%.2f")
    println(s"setup phases (s): ${report.details("setup_phases_s")}")
    report.metrics.foreach { case (k, m) =>
      println(f"metric $k%-36s ${m.value}%22s ${m.unit}%-6s samples=${m.samples}")
    }
    report.notes.foreach { case (k, m) =>
      println(f"note   $k%-36s ${m.value}%22s ${m.unit}%-6s samples=${m.samples}")
    }
    println(s"planted wrong answer (one skyline point dropped): ${report.plantedFailed} of " +
      s"${report.attempted} queries fail the answer key")
    report.details("attempted") = report.attempted
    report.details("failed") = report.failed
    report.details("planted_failed") = report.plantedFailed
    report.details("metrics") = report.metrics
    report.details("notes") = report.notes
    report.details("args") = Map("workload" -> a.workload, "seed" -> a.seed,
      "seconds" -> a.seconds, "trace" -> a.trace) ++ a.p
    Files.writeString(Paths.get(kv("report")), Json.of(report.details) + "\n")
    println(Json.of(Map("correct" -> (report.oracleRan && report.failed == 0),
      "attempted" -> report.attempted, "failed" -> report.failed,
      "metrics" -> report.metrics.map { case (k, m) => k -> Map("value" -> m.value, "unit" -> m.unit) })))
    System.out.flush()
  }
}
