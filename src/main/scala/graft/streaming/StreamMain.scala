package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}

import graft.operators.SkylineOps

/** Continuous deployment mode — the reference's `FlinkSkyline.main`
  * (`java/org.main/FlinkSkyline.java:61-186`) as a Structured Streaming app.
  *
  * Usage:
  *   runMain graft.streaming.StreamMain \
  *     --mode file --data-dir /tmp/in --trigger-dir /tmp/q \
  *     [--out /tmp/out] [--metrics-csv /tmp/metrics.csv] \
  *     [--trigger available-now]
  *   runMain graft.streaming.StreamMain \
  *     --mode kafka --bootstrap host:9092 \
  *     [--input-topic input-tuples --query-topic queries --output-topic output-skyline]
  *   common: --algo mr-dim|mr-grid|mr-angle (default mr-angle)
  *           --parallelism 4 (numPartitions = 2x, reference default)
  *           --domain 1000.0 --checkpoint /tmp/ckpt
  *
  * The pipeline is the fully distributed chained-`transformWithState`
  * topology ([[SkylineStreamTWS.topology]]): local BNL skylines keyed by
  * spatial partition, then the countdown-latch global merge keyed by query —
  * both phases scale with executors; the driver only routes completed
  * `QueryResult`s to the sink. (The reference funnels the global phase
  * through one keyed reducer, `FlinkSkyline.java:548-566`.)
  *
  * Kafka mode needs the spark-sql-kafka connector on the classpath (not
  * bundled here); file mode runs standalone.
  */
object StreamMain {

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val parallelism = opts.getOrElse("parallelism", "4").toInt
    val spark = SparkSession.builder()
      .appName("graft-skyline-stream")
      .master(opts.getOrElse("master", s"local[$parallelism]"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    run(spark, opts).awaitTermination()
  }

  /** Build and START the streaming query for `opts` on an existing session.
    * Mutates `spark.sql.shuffle.partitions` and the state-store provider on
    * the session conf (callers embedding an existing session should
    * save/restore). Returns the started query; the caller awaits it. */
  def run(spark: SparkSession, opts: Map[String, String]): StreamingQuery = {
    import spark.implicits._
    val algo = opts.getOrElse("algo", "mr-angle")
    val parallelism = opts.getOrElse("parallelism", "4").toInt
    val dims = opts.getOrElse("dims", "2").toInt
    // FlinkSkyline.java:76 (2x parallelism), widened for mr-grid so the
    // trigger broadcast and the latch cover every possible cell
    val numPartitions = SkylineOps.protocolPartitions(algo, 2 * parallelism, dims)
    val domain = opts.getOrElse("domain", "1000.0").toDouble
    val checkpoint = opts.getOrElse("checkpoint",
      java.nio.file.Files.createTempDirectory("graft-ckpt").toString)

    // transformWithState requires the RocksDB provider; state-store count
    // follows shuffle partitions, sized to the N-partition protocol
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    spark.conf.set("spark.sql.shuffle.partitions", numPartitions.toString)

    val (dataLines, triggerLines) = opts.getOrElse("mode", "file") match {
      case "kafka" =>
        val bs = opts("bootstrap")
        (Sources.kafkaData(spark, bs, opts.getOrElse("input-topic", "input-tuples")),
          Sources.kafkaTriggers(spark, bs, opts.getOrElse("query-topic", "queries")))
      case _ =>
        (Sources.fileLines(spark, opts("data-dir")),
          Sources.fileLines(spark, opts("trigger-dir")))
    }

    val pidOf = SkylineOps.pidFunction(algo, domain, numPartitions)
    val env = dataLines.flatMap(l => SkylineStream.parseData(l, pidOf))
      .unionAll(triggerLines.flatMap(p => SkylineStream.broadcastTrigger(
        p, numPartitions, System.currentTimeMillis())))
    val results = SkylineStreamTWS.topology(env, numPartitions)

    val trigger = opts.get("trigger") match {
      case Some("available-now") => Trigger.AvailableNow()
      case None | Some("processing-time") => Trigger.ProcessingTime("2 seconds")
      case Some(other) =>
        // fail fast: silently falling back to a continuous trigger would
        // make a scripted run (expecting termination) hang forever
        throw new IllegalArgumentException(
          s"unknown --trigger '$other' (expected available-now|processing-time)")
    }
    val writer = (opts.getOrElse("mode", "file"), opts.get("bootstrap")) match {
      case ("kafka", Some(bs)) =>
        Sources.kafkaSink(results.map(_.toJson),
          bs, opts.getOrElse("output-topic", "output-skyline"),
          checkpoint)
      case _ =>
        results.writeStream
          .foreachBatch {
            (batch: org.apache.spark.sql.Dataset[SkylineStream.QueryResult],
             _: Long) =>
              batch.collect().foreach { r =>
                opts.get("out") match {
                  case Some(dir) =>
                    val f = java.nio.file.Paths.get(dir, s"query_${r.queryId}.json")
                    java.nio.file.Files.createDirectories(f.getParent)
                    java.nio.file.Files.writeString(f, r.toJson + "\n")
                  case None => println(r.toJson)
                }
                opts.get("metrics-csv").foreach(p =>
                  MetricsCollector.append(java.nio.file.Paths.get(p), r))
              }
          }
    }
    writer
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()
  }
}
