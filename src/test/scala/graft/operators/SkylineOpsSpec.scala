package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

import graft.core.{Dominance, Point}

object SparkTestSession {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}

/** Distributed skyline operator: agrees with brute force, is invariant to
  * partitioning strategy and partition count (the cross-algorithm agreement
  * check the reference does visually — SURVEY §5.1), keeps duplicates. */
class SkylineOpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def bruteForce(pts: Seq[Point]): Set[(Long, Seq[Double])] =
    pts.filter(t => !pts.exists(u => Dominance.dominates(u.values, t.values)))
      .map(p => (p.id, p.values.toSeq)).toSet

  private def asSet(pts: Seq[Point]): Set[(Long, Seq[Double])] =
    pts.map(p => (p.id, p.values.toSeq)).toSet

  /** Windowed reference formulation of the 2-D sort skyline: one global
    * prefix-min window over the DISTINCT v1 values. The test oracle for
    * [[SkylineOps.skyline2DDFScalable]] — the `Window.orderBy` with no
    * partitioning funnels all distinct v1 values through one task, which is
    * exactly what the scalable path exists to avoid. */
  private def skyline2DDFWindowed(df: DataFrame, idCol: String,
                                  v1: String, v2: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, min}
    val gmin = df.groupBy(col(v1)).agg(min(col(v2)).as("_gmin"))
    val w = Window.orderBy(col(v1)).rowsBetween(Window.unboundedPreceding, -1)
    val pref = gmin.withColumn("_pmin", min(col("_gmin")).over(w))
    df.join(pref, v1)
      .where(col(v2) === col("_gmin") &&
        (col("_pmin").isNull || col("_pmin") > col(v2)))
      .select(col(idCol), col(v1), col(v2))
  }

  private def mkPts(n: Int, dims: Int, seed: Int, card: Int = 1000): Seq[Point] = {
    val rng = new Random(seed)
    Seq.tabulate(n)(i => Point(i.toLong, Array.fill(dims)(rng.nextInt(card).toDouble)))
  }

  test("aggregator skyline equals brute force") {
    import spark.implicits._
    val pts = mkPts(2000, 2, seed = 1)
    val got = SkylineOps.skyline(pts.toDS()).collect().toSeq
    assert(asSet(got) == bruteForce(pts))
  }

  test("strategy and partition-count invariance") {
    import spark.implicits._
    val pts = mkPts(1500, 3, seed = 2, card = 100)
    val expect = bruteForce(pts)
    for (strategy <- Seq("mr-dim", "mr-grid", "mr-angle"); n <- Seq(1, 4, 8)) {
      val got = SkylineOps.skylineViaStrategy(pts.toDS(), strategy, 100.0, n)
        .collect().toSeq
      assert(asSet(got) == expect, s"strategy=$strategy n=$n")
    }
  }

  test("duplicates all survive through the distributed path") {
    import spark.implicits._
    val dups = Seq.tabulate(5)(i => Point(100L + i, Array(0.0, 0.0)))
    val pts = mkPts(500, 2, seed = 3, card = 900).map(p =>
      p.copy(values = p.values.map(_ + 1.0))) ++ dups
    val got = SkylineOps.skyline(pts.toDS()).collect().toSeq
    assert(got.count(_.values.toSeq == Seq(0.0, 0.0)) == 5)
  }

  test("partitioner ids stay in range and match driver-side function") {
    import spark.implicits._
    val pts = mkPts(800, 2, seed = 4)
    val df = pts.map(p => (p.id, p.values(0), p.values(1))).toDF("id", "v1", "v2")
    import org.apache.spark.sql.functions._
    for (strategy <- Seq("mr-dim", "mr-grid", "mr-angle")) {
      val pidCol = Partitioners.byName(strategy, array(col("v1"), col("v2")), 1000.0, 8)
      val got = df.select(col("id"), pidCol.as("pid")).as[(Long, Int)].collect().toMap
      val f = SkylineOps.pidFunction(strategy, 1000.0, 8)
      pts.foreach { p =>
        val expected = f(p.values)
        assert(got(p.id) == expected, s"$strategy id=${p.id}")
        assert(got(p.id) >= 0 && got(p.id) < 8)
      }
    }
  }

  test("sort-based 2D skyline equals BNL skyline incl duplicates") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    for (seed <- Seq(6, 7, 8)) {
      val pts = mkPts(3000, 2, seed, card = 50)   // small domain => duplicates
      val df = pts.map(p => (p.id, p.values(0), p.values(1))).toDF("id", "v1", "v2")
      val fast = SkylineOps.skyline2DDFScalable(df, "id", "v1", "v2")
        .as[(Long, Double, Double)].collect().toSet
      val slow = bruteForce(pts).map { case (id, vs) => (id, vs(0), vs(1)) }
      assert(fast == slow, s"seed=$seed")
    }
  }

  test("scalable 2D sort path equals windowed 2D path") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    for (seed <- Seq(61, 62)) {
      val pts = mkPts(4000, 2, seed, card = 60)
      val df = pts.map(p => (p.id, p.values(0), p.values(1))).toDF("id", "v1", "v2")
      val a = skyline2DDFWindowed(df, "id", "v1", "v2")
        .as[(Long, Double, Double)].collect().toSet
      val b = SkylineOps.skyline2DDFScalable(df, "id", "v1", "v2", numRanges = 7)
        .as[(Long, Double, Double)].collect().toSet
      assert(a == b, s"seed=$seed")
    }
    // high key cardinality + repeated invocation: the range sampler draws
    // different boundaries per run, so any dependence on a recomputed
    // partitioning (vs the one the offsets were computed from) shows up as
    // run-to-run flicker here
    val big = mkPts(60000, 2, seed = 63, card = 50000)
    val bigDf = big.map(p => (p.id, p.values(0), p.values(1))).toDF("id", "v1", "v2")
    val expect = skyline2DDFWindowed(bigDf, "id", "v1", "v2")
      .as[(Long, Double, Double)].collect().toSet
    for (round <- 1 to 3) {
      val got = SkylineOps.skyline2DDFScalable(bigDf, "id", "v1", "v2", numRanges = 16)
        .as[(Long, Double, Double)].collect().toSet
      assert(got == expect, s"round=$round")
    }
  }

  test("grid-parallel skyline equals aggregator skyline across dims") {
    import spark.implicits._
    for ((dims, seed) <- Seq((2, 41), (3, 42), (4, 43))) {
      val pts = mkPts(3000, dims, seed, card = 40)
      val expect = bruteForce(pts)
      val got = asSet(SkylineOps.skylineGridParallel(pts.toDS(), dims).collect().toSeq)
      assert(got == expect, s"dims=$dims")
    }
    // duplicates preserved through the grid path
    val dups = Seq.tabulate(4)(i => graft.core.Point(500L + i, Array(0.0, 0.0))) ++
      mkPts(500, 2, 44, card = 40).map(p => p.copy(values = p.values.map(_ + 1.0)))
    val out = SkylineOps.skylineGridParallel(dups.toDS(), 2).collect()
    assert(out.count(_.values.toSeq == Seq(0.0, 0.0)) == 4)
  }

  test("broadcast-filter skyline equals aggregator skyline across dims") {
    import spark.implicits._
    for ((dims, seed) <- Seq((2, 51), (3, 52), (4, 53))) {
      val pts = mkPts(3000, dims, seed, card = 40)
      val expect = bruteForce(pts)
      val got = asSet(SkylineOps.skyline(
        pts.toDS().repartition(5)).collect().toSeq)
      assert(got == expect, s"dims=$dims")
    }
    // duplicates of a skyline point all survive (equal sums never dominate)
    val dups = Seq.tabulate(4)(i => graft.core.Point(500L + i, Array(0.0, 0.0))) ++
      mkPts(500, 2, 54, card = 40).map(p => p.copy(values = p.values.map(_ + 1.0)))
    val out = SkylineOps.skyline(dups.toDS().repartition(3)).collect()
    assert(out.count(_.values.toSeq == Seq(0.0, 0.0)) == 4)
    // oversized-union fallback path still exact
    val pts = mkPts(2000, 2, seed = 55, card = 1000)
    val viaFallback = asSet(SkylineOps.skyline(
      pts.toDS(), maxBroadcastPoints = 10).collect().toSeq)
    assert(viaFallback == bruteForce(pts))
  }

  test("metrics query emits reference JSON schema fields") {
    import spark.implicits._
    val pts = mkPts(1000, 2, seed = 5)
    val df = SkylineOps.skylineWithMetrics(pts.toDS(), "mr-angle", 1000.0, 8, "q1", 1000)
    val row = df.collect().head
    assert(df.columns.toSeq == Seq("query_id", "record_count", "skyline_size",
      "optimality", "ingestion_time_ms", "local_processing_time_ms",
      "global_processing_time_ms", "total_processing_time_ms"))
    // names, types and nullability as a tuple encoder types the fields
    val tupled = Seq(("", 0L, 0L, 0.0, 0L, 0L, 0L, 0L)).toDF(df.columns.toSeq: _*)
    assert(df.schema == tupled.schema, df.schema.treeString)
    val opt = row.getAs[Double]("optimality")
    assert(opt >= 0.0 && opt <= 1.0)
    assert(row.getAs[Long]("skyline_size") > 0)
  }

  test("metrics query equals a driver-side answer on spread and wide inputs") {
    import spark.implicits._
    val (domain, n) = (30.0, 4)
    val pts = mkPts(1200, 3, seed = 12, card = 30)   // small domain => duplicates
    val global = bruteForce(pts)
    for (strategy <- Seq("mr-dim", "mr-grid", "mr-angle")) {
      val pidOf = SkylineOps.pidFunction(strategy, domain, n)
      val shares = pts.groupBy(p => pidOf(p.values)).values.map { part =>
        val local = bruteForce(part)
        local.count(global.contains).toDouble / local.size
      }
      val expect = shares.sum / SkylineOps.protocolPartitions(strategy, n, 3)
      // one partition takes the spread path, 16 the wide one; a driver
      // bound of 0 forces the distributed probe
      for (slices <- Seq(1, 16); (side, bound) <- Seq("driver" -> SkylineOps.driverBoundOf _,
          "distributed" -> ((_: Int) => 0))) {
        val at = s"$strategy slices=$slices $side"
        val ds = spark.createDataset(spark.sparkContext.parallelize(pts, slices))
        val row = SkylineOps.skylineWithMetrics(ds, strategy, domain, n, "q", pts.size, bound)
          .collect().head
        assert(row.getAs[Long]("skyline_size") == global.size, at)
        // the query rounds optimality to 4 decimals
        assert(math.abs(row.getAs[Double]("optimality") - expect) <= 0.5e-4 + 1e-12, at)
      }
    }
  }

  test("metrics query runs one job and merges strategy ids on n tasks") {
    import spark.implicits._
    val n = 8
    val pts = mkPts(3000, 3, seed = 13, card = 100)
    val ds = spark.createDataset(spark.sparkContext.parallelize(pts, 16))
    val (row, rec) = new JobRecorder(spark).during(
      SkylineOps.skylineWithMetrics(ds, "mr-angle", 100.0, n, "q", pts.size).collect().head)
    assert(row.getAs[Long]("skyline_size") == bruteForce(pts).size)
    import scala.jdk.CollectionConverters._
    val jobs = rec.jobs.asScala.filter(_ != "marker")
    assert(jobs.size == 1, s"jobs: ${jobs.size}")
    // the stage after the 16 map tasks' partials merges them per strategy id
    // (in completion order: the query's stages run one after another)
    val stages = rec.stages.asScala.toSeq
    val shape = stages.map(s => s.name -> s.numTasks)
    val partials = stages.indexWhere(_.numTasks == 16)
    assert(partials >= 0 && partials + 1 < stages.size, shape)
    assert(stages(partials + 1).numTasks == n, shape)
  }

  test("metrics query spreads a one-partition input inside its one job") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val n = 8
    val cores = spark.sparkContext.defaultParallelism
    assert(cores > 1 && cores != n)
    val pts = mkPts(3000, 3, seed = 18, card = 100)
    val ds = spark.createDataset(spark.sparkContext.parallelize(pts, 1))
    val (row, rec) = new JobRecorder(spark).during(
      SkylineOps.skylineWithMetrics(ds, "mr-angle", 100.0, n, "q", pts.size).collect().head)
    assert(row.getAs[Long]("skyline_size") == bruteForce(pts).size)
    val jobs = rec.jobs.asScala.filter(_ != "marker")
    assert(jobs.size == 1, s"jobs: ${jobs.size}")
    // the marker job's one stage comes last
    val shape = rec.stages.asScala.toSeq.map(_.numTasks).dropRight(1)
    assert(shape == Seq(1, cores, n), shape)
  }

  test("a task whose blocks exceed its share of the driver bound is fetched in a second job") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val cores = spark.sparkContext.defaultParallelism
    assert(cores == 4)
    // partition 0 holds a 60-point antichain, every other one 2 points: a
    // bound of 20 per task sends partition 0's shape only, and the
    // 60 + 2 (cores - 1) points fit the bound, so one job fetches the rest
    val bound = 20 * cores
    val chain = Seq.tabulate(60)(i => Point(i, Array(i.toDouble, 60.0 - i)))
    val rest = (1 until cores).map(k => Seq.tabulate(2)(j =>
      Point(100L * k + j, Array(30.0 + k + j, 40.0 - k - j))))
    val pts = chain ++ rest.flatten
    val ds = spark.createDataset(spark.sparkContext.parallelize(chain +: rest, cores)
      .flatMap(identity))
    val (got, rec) = new JobRecorder(spark).during(
      SkylineOps.skyline(ds, maxBroadcastPoints = bound).collect().toSeq)
    assert(asSet(got) == bruteForce(pts))
    // the sizing collect on every task, then the fetch of partition 0 (the
    // marker job's one stage comes last)
    val stages = rec.stages.asScala.toSeq.map(_.numTasks).dropRight(1)
    assert(stages == Seq(cores, 1), stages)
  }

  test("a union of the driver bound is filtered on the driver, one more point is not") {
    for (d <- Seq(2, 5); extra <- Seq(0, 1)) {
      val size = SkylineOps.driverBoundOf(d) + extra
      // an antichain, made on the executors: distinct points on the plane
      // sum = 1 never dominate each other
      val blocks = spark.sparkContext.parallelize(0 until 4, 4).map { k =>
        val rng = new Random(d * 10 + k)
        (0, Array.tabulate(size / 4 + (if (k < size % 4) 1 else 0)) { i =>
          val raw = Array.fill(d)(rng.nextDouble() + 1e-9)
          Point(i * 4L + k, raw.map(_ / raw.sum))
        })
      }
      val at = s"d=$d union=$size"
      SkylineOps.mergeLocal(spark, blocks) match {
        case Left(kept) => assert(extra == 0 && kept.length == size, s"$at on the driver")
        case Right(kept) => assert(extra == 1 && kept.count() == size, s"$at distributed")
      }
    }
  }

  test("an adaptive wide input's shuffle runs once") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val pts = mkPts(3000, 3, seed = 19, card = 100)
    assert(16 >= spark.sparkContext.defaultParallelism)
    // an adaptive plan runs its exchange when its RDD is built; the width
    // check and the row read share that RDD
    val ds = pts.toDS().repartition(16)
    val (row, rec) = new JobRecorder(spark).during(
      SkylineOps.skylineWithMetrics(ds, "mr-angle", 100.0, 8, "q", pts.size).collect().head)
    assert(row.getAs[Long]("skyline_size") == bruteForce(pts).size)
    val stages = rec.stages.asScala.toSeq
    // the input's shuffle-map stage is the one that writes every input row
    val inputMaps = stages.filter(_.taskMetrics.shuffleWriteMetrics.recordsWritten == pts.size)
    assert(inputMaps.size == 1, stages.map(s => s.name -> s.numTasks))
  }

  test("the row read binds id and values by name and up-casts narrower types") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import spark.implicits._
    val (domain, n) = (30.0, 4)
    val pts = mkPts(900, 3, seed = 21, card = 30)   // small domain => duplicates
    val global = bruteForce(pts)
    val sc = spark.sparkContext
    def inputs(slices: Int): Seq[(String, org.apache.spark.sql.Dataset[Point])] = Seq(
      "columns reordered, one extra" -> spark.createDataFrame(
        sc.parallelize(pts.map(p => Row(p.values.toSeq, "x", p.originPartition, p.id)), slices),
        StructType(Seq(StructField("values", ArrayType(DoubleType)),
          StructField("extra", StringType), StructField("originPartition", IntegerType),
          StructField("id", LongType)))).as[Point],
      "int id, float values" -> spark.createDataFrame(
        sc.parallelize(pts.map(p => Row(p.id.toInt, p.values.map(_.toFloat).toSeq, -1)), slices),
        StructType(Seq(StructField("id", IntegerType), StructField("values", ArrayType(FloatType)),
          StructField("originPartition", IntegerType)))).as[Point],
      "rdd-backed" -> spark.createDataset(sc.parallelize(pts, slices)))
    for (strategy <- Seq("mr-dim", "mr-grid", "mr-angle")) {
      val pidOf = SkylineOps.pidFunction(strategy, domain, n)
      val byPid = pts.groupBy(p => pidOf(p.values)).map { case (pid, part) =>
        pid -> bruteForce(part) }
      val expect = byPid.values.map(local => local.count(global.contains).toDouble / local.size)
        .sum / SkylineOps.protocolPartitions(strategy, n, 3)
      for (slices <- Seq(1, 16); (name, ds) <- inputs(slices)) {
        val at = s"$strategy, $name, $slices partition(s)"
        val local = SkylineOps.localSkylines(ds, strategy, domain, n).collect()
        assert(local.map(_._1).sorted.toSeq == byPid.keys.toSeq.sorted, at)
        local.foreach { case (pid, sky) =>
          assert(asSet(sky) == byPid(pid) && sky.forall(_.originPartition == pid), s"$at pid=$pid")
        }
        val row = SkylineOps.skylineWithMetrics(ds, strategy, domain, n, "q", pts.size)
          .collect().head
        assert(row.getAs[Long]("skyline_size") == global.size, at)
        assert(math.abs(row.getAs[Double]("optimality") - expect) <= 0.5e-4 + 1e-12, at)
      }
    }
  }

  test("skyline merges a wide input where it sits and spreads a one-partition input") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val pts = mkPts(3000, 3, seed = 16, card = 100)
    val cores = spark.sparkContext.defaultParallelism
    // one partition per core or more: the pre-reduce runs on the input's own
    // partitions, so no shuffle stage runs before the merge
    val wide = spark.createDataset(spark.sparkContext.parallelize(pts, cores))
    val (wideSky, wideRec) = new JobRecorder(spark).during(SkylineOps.skyline(wide).collect())
    assert(asSet(wideSky.toSeq) == bruteForce(pts))
    def shuffles(s: org.apache.spark.scheduler.StageInfo) =
      s.taskMetrics.shuffleWriteMetrics.recordsWritten > 0
    val wideStages = wideRec.stages.asScala.toSeq
    assert(!wideStages.exists(shuffles),
      wideStages.map(s => s.name -> s.numTasks))
    // one partition: spread over the cores before the pre-reduce
    val narrow = spark.createDataset(spark.sparkContext.parallelize(pts, 1))
    val (narrowSky, narrowRec) = new JobRecorder(spark).during(SkylineOps.skyline(narrow).collect())
    assert(asSet(narrowSky.toSeq) == bruteForce(pts))
    val narrowStages = narrowRec.stages.asScala.toSeq
    val shape = narrowStages.map(s => s.name -> s.numTasks)
    val spread = narrowStages.find(shuffles)
    assert(spread.exists(_.numTasks == 1), shape)
    val preReduce = narrowStages.find(_.parentIds.contains(spread.get.stageId))
    assert(preReduce.exists(_.numTasks > 1), shape)
  }

  test("rows that each dominate the last keep few row copies and reach the right answer") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Cast}
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType}
    import spark.implicits._
    // each row dominates every row before it: admission keeps them all,
    // while the buffer's survivors stay at one point
    val n = 20000
    val pts = Seq.tabulate(n)(i => Point(i.toLong, Array.fill(3)((n - i).toDouble)))
    val input = Seq(AttributeReference("id", LongType)(),
      AttributeReference("values", ArrayType(DoubleType))())
    val c = new SkylineOps.RowCombiner(
      new graft.plans.DimsReader(Seq(Cast(input(1), ArrayType(DoubleType))), input), None)
    var most = 0
    pts.foreach { p =>
      c.add(InternalRow(p.id, ArrayData.toArrayData(p.values)))
      most = math.max(most, c.copies)
    }
    // the copies of evicted rows go at twice the points the buffer holds
    // (at most one stage of 128 plus the survivor)
    assert(most <= 2 * (graft.core.SkylineBuffer.FirstStage + 1), most)
    val got = c.result((_, _, r) => r.getLong(0)).toSeq
    assert(got.map(_._1) == Seq(0) && got.head._2.toSeq == Seq(n - 1L))
    val cores = spark.sparkContext.defaultParallelism
    val ds = spark.createDataset(spark.sparkContext.parallelize(pts, cores))
    assert(asSet(SkylineOps.skyline(ds).collect().toSeq) == Set((n - 1L, Seq(1.0, 1.0, 1.0))))
    val local = SkylineOps.localSkylines(ds, "mr-angle", n.toDouble, 8).collect()
    assert(local.flatMap(_._2).map(_.id).toSet == Set(n - 1L))
  }

  /** `lines` written to a one-file CSV (gzip-compressed when `gzip`) in a
    * new temporary directory, which is deleted after `body` reads it. */
  private def withCsv[T](lines: Seq[String], gzip: Boolean = false)(body: String => T): T = {
    val dir = java.nio.file.Files.createTempDirectory("skyline-csv")
    val file = dir.resolve(if (gzip) "in.csv.gz" else "in.csv")
    val raw = new java.io.FileOutputStream(file.toFile)
    val out = if (gzip) new java.util.zip.GZIPOutputStream(raw) else raw
    try out.write(lines.map(_ + "\n").mkString.getBytes("UTF-8")) finally out.close()
    try body(file.toString)
    finally { java.nio.file.Files.deleteIfExists(file); java.nio.file.Files.delete(dir) }
  }

  private def csvPoints(path: String, header: Boolean = false) = {
    import org.apache.spark.sql.types._
    val schema = StructType(StructField("id", LongType) +:
      (1 to 3).map(d => StructField(s"v$d", DoubleType)))
    SkylineOps.pointsFrom(spark.read.schema(schema).option("header", header).csv(path),
      "id", Seq("v1", "v2", "v3"))
  }

  /** The reference query's optimality over `pts`, by brute force. */
  private def expectedOptimality(pts: Seq[Point], strategy: String, domain: Double,
                                 n: Int): Double = {
    val global = bruteForce(pts)
    val pidOf = SkylineOps.pidFunction(strategy, domain, n)
    pts.groupBy(p => pidOf(p.values)).values.map { part =>
      val local = bruteForce(part)
      local.count(global.contains).toDouble / local.size
    }.sum / SkylineOps.protocolPartitions(strategy, n, 3)
  }

  /** The metrics query, `localSkylines` and `skyline` over `ds` equal brute
    * force over `pts`, for every strategy. */
  private def assertSkylines(at: String, ds: org.apache.spark.sql.Dataset[Point],
                             pts: Seq[Point], domain: Double, n: Int): Unit = {
    val global = bruteForce(pts)
    assert(asSet(SkylineOps.skyline(ds).collect().toSeq) == global, s"$at skyline")
    for (strategy <- Seq("mr-dim", "mr-grid", "mr-angle")) {
      val pidOf = SkylineOps.pidFunction(strategy, domain, n)
      val byPid = pts.groupBy(p => pidOf(p.values)).map { case (pid, part) =>
        pid -> bruteForce(part) }
      val local = SkylineOps.localSkylines(ds, strategy, domain, n).collect()
      assert(local.map(p => p._1 -> asSet(p._2)).toMap == byPid, s"$at $strategy local")
      val row = SkylineOps.skylineWithMetrics(ds, strategy, domain, n, "q", pts.size)
        .collect().head
      assert(row.getAs[Long]("skyline_size") == global.size, s"$at $strategy")
      assert(math.abs(row.getAs[Double]("optimality") -
        expectedOptimality(pts, strategy, domain, n)) <= 0.5e-4 + 1e-12, s"$at $strategy")
    }
  }

  test("a one-file CSV under the open cost scans on every core, session conf untouched") {
    import scala.jdk.CollectionConverters._
    val (domain, n) = (100.0, 8)
    val cores = spark.sparkContext.defaultParallelism
    assert(cores > 1)
    val pts = mkPts(6000, 3, seed = 22, card = 100)
    withCsv(pts.map(p => (p.id +: p.values.map(_.toLong)).mkString(","))) { path =>
      val before = spark.conf.getAll
      def shape(rec: JobRecorder) = rec.stages.asScala.toSeq.map(_.numTasks).dropRight(1)
      for (strategy <- Seq("mr-dim", "mr-grid", "mr-angle")) {
        val (row, rec) = new JobRecorder(spark).during(SkylineOps.skylineWithMetrics(
          csvPoints(path), strategy, domain, n, "q", pts.size).collect().head)
        assert(row.getAs[Long]("skyline_size") == bruteForce(pts).size, strategy)
        assert(math.abs(row.getAs[Double]("optimality") -
          expectedOptimality(pts, strategy, domain, n)) <= 0.5e-4 + 1e-12, strategy)
        assert(rec.jobs.asScala.count(_ != "marker") == 1, strategy)
        // the scan and the map-side combine run on every core: no serial
        // parse task and no spread (the marker job's one stage comes last)
        val tasks = shape(rec)
        assert(tasks.head >= cores && !tasks.contains(1), s"$strategy: $tasks")
      }
      // skyline plans its input the same way: no round-robin re-spread
      val (sky, rec) = new JobRecorder(spark).during(
        SkylineOps.skyline(csvPoints(path)).collect().toSeq)
      assert(asSet(sky) == bruteForce(pts))
      assert(shape(rec).head >= cores && !shape(rec).contains(1), shape(rec))
      assert(spark.conf.getAll == before)
    }
  }

  test("Graft.skyline and skylineVia scan a one-file CSV under the open cost on every core") {
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val (domain, n) = (100.0, 8)
    val cores = spark.sparkContext.defaultParallelism
    assert(cores > 1 && cores != n)
    val pts = mkPts(6000, 3, seed = 25, card = 100)
    val expect = bruteForce(pts)
    withCsv(pts.map(p => (p.id +: p.values.map(_.toLong)).mkString(","))) { path =>
      assert(java.nio.file.Files.size(java.nio.file.Paths.get(path)) < (4L << 20))
      val before = spark.conf.getAll
      val df = spark.read.schema(StructType(StructField("id", LongType) +:
        (1 to 3).map(d => StructField(s"v$d", DoubleType)))).csv(path)
      val dims = Seq("v1", "v2", "v3")
      val frames = (None -> graft.Graft.skyline(df, dims)) +:
        Seq("mr-dim", "mr-grid", "mr-angle").map(st =>
          Some(st) -> graft.Graft.skylineVia(df, "id", dims, st, domain, n))
      for ((via, frame) <- frames) {
        val at = via.getOrElse("no strategy")
        val (rows, rec) = new JobRecorder(spark).during(frame.collect())
        assert(rows.map(r => (r.getLong(0), (1 to 3).map(r.getDouble): Seq[Double])).toSet ==
          expect, at)
        // the scan and the partials run on every core, the per-id merge on
        // n tasks (the marker job's one stage comes last)
        val tasks = rec.stages.asScala.toSeq.map(_.numTasks).dropRight(1)
        assert(tasks.head >= cores && !tasks.contains(1), s"$at: $tasks")
        assert(via.isEmpty || tasks(1) == n, s"$at: $tasks")
      }
      assert(spark.conf.getAll == before)
    }
  }

  test("split CSV, gzip CSV and a persisted file input equal brute force and toDS()") {
    import spark.implicits._
    val (domain, n, cores) = (100.0, 4, spark.sparkContext.defaultParallelism)
    val rng = new Random(24)
    // fixed-width lines: a NaN or malformed variant of a line keeps its
    // length, so it can replace the line a split boundary falls in
    def line(id: Int, vs: Seq[String]) = f"$id%06d," + vs.mkString(",")
    def valid(id: Int) = line(id, Seq.fill(3)(f"${rng.nextInt(100)}%03d"))
    val variants = Seq((id: Int) => line(id, Seq("NaN", "001", "002")),
      (id: Int) => line(id, Seq("001", "abc", "002")), (id: Int) => "x" * 18)
    val body = scala.collection.mutable.ArrayBuffer[String]()
    (0 until 5000).foreach { id =>
      rng.nextInt(40) match {
        case 0 => body += ""                            // an empty line
        case 1 => body += f"$id%06d,001"                // too few fields
        case 2 => body += variants(id % 3)(id)
        case _ =>
      }
      body += valid(id)
    }
    val lines = "id,v1,v2,v3" +: body.toSeq
    // the line holding each split boundary (Spark's split size with a
    // 1-byte open cost) becomes a NaN or malformed line of the same length
    val starts = lines.scanLeft(0L)(_ + _.length + 1)
    val split = math.max(1L, (starts.last + 1) / cores)
    val atBoundary = (1L to starts.last / split).map(k =>
      starts.lastIndexWhere(_ <= k * split)).filter(i => i > 0 && i < lines.length)
    val csv = lines.zipWithIndex.map { case (l, i) =>
      if (atBoundary.contains(i) && l.length == 18 && l.head != 'x')
        variants(i % 3)(l.take(6).toInt) else l }
    assert(csv.zipWithIndex.count { case (l, i) => atBoundary.contains(i) && l.length == 18 &&
      !l.matches("\\d{6}(,\\d{3}){3}") } >= cores - 1)
    val pts = csv.tail.flatMap { l =>
      val f = l.split(",", -1)
      if (f.length == 4 && f.forall(_.matches("\\d+")))
        Some(Point(f(0).toLong, f.tail.map(_.toDouble))) else None
    }
    val seeded = pts.toDS()
    withCsv(csv) { path =>
      val ds = csvPoints(path, header = true)
      assert(ds.rdd.getNumPartitions == 1)
      assertSkylines("split CSV", ds, pts, domain, n)
      assertSkylines("toDS()", seeded, pts, domain, n)
    }
    withCsv(csv, gzip = true) { path =>
      // one split: the local phase spreads it
      import scala.jdk.CollectionConverters._
      val ds = csvPoints(path, header = true)
      val (_, rec) = new JobRecorder(spark).during(
        SkylineOps.skylineWithMetrics(ds, "mr-angle", domain, n, "q", pts.size).collect())
      assert(rec.stages.asScala.toSeq.map(_.numTasks).dropRight(1) == Seq(1, cores, n))
      assertSkylines("gzip CSV", ds, pts, domain, n)
    }
    withCsv(csv) { path =>
      val ds = csvPoints(path, header = true).persist()
      try {
        assert(ds.count() == pts.size)
        // a scan after this point would fail: the query reads the cache
        java.nio.file.Files.delete(java.nio.file.Paths.get(path))
        assertSkylines("persisted CSV", ds, pts, domain, n)
      } finally ds.unpersist()
    }
  }

  test("a partition count below 1 is rejected when the partitioner is built") {
    import spark.implicits._
    for (strategy <- Seq("mr-dim", "mr-grid", "mr-angle"); n <- Seq(0, -1)) {
      val e = intercept[IllegalArgumentException](SkylineOps.pidFunction(strategy, 100.0, n))
      assert(e.getMessage.contains(n.toString), e.getMessage)
      val viaNode = intercept[IllegalArgumentException](
        graft.plans.ReferenceStrategy(strategy, 100.0, n))
      assert(viaNode.getMessage.contains(n.toString), viaNode.getMessage)
    }
    val pts = mkPts(200, 2, seed = 17)
    val e = intercept[IllegalArgumentException](
      SkylineOps.skylineWithMetrics(pts.toDS(), "mr-angle", 1000.0, 0, "q", pts.size))
    assert(e.getMessage.contains("0"), e.getMessage)
  }

  test("mr-grid with more strategy ids than partitions: local skylines per id") {
    import spark.implicits._
    val (domain, n) = (30.0, 4)   // 3-D mr-grid: ids 0-7 on 4 partitions
    val pts = mkPts(1500, 3, seed = 14, card = 30)   // small domain => duplicates
    val pidOf = SkylineOps.pidFunction("mr-grid", domain, n)
    val expect = pts.groupBy(p => pidOf(p.values)).map { case (pid, part) =>
      pid -> bruteForce(part) }
    assert(expect.size == 8)
    for (slices <- Seq(1, 16)) {
      val ds = spark.createDataset(spark.sparkContext.parallelize(pts, slices))
      val got = SkylineOps.localSkylines(ds, "mr-grid", domain, n).collect()
      assert(got.map(_._1).sorted.toSeq == expect.keys.toSeq.sorted, s"slices=$slices")
      got.foreach { case (pid, local) =>
        assert(asSet(local) == expect(pid), s"pid=$pid slices=$slices")
        assert(local.size == expect(pid).size && local.forall(_.originPartition == pid))
      }
    }
  }

  test("a failing metrics query leaves no cached RDD behind") {
    import spark.implicits._
    val pts = mkPts(500, 2, seed = 15)
    // 16 partitions: wide, so the scan runs only once the query has cached
    val bad = spark.sparkContext.parallelize(pts, 16).map { p =>
      if (p.id == 250L) throw new IllegalStateException("malformed input") else p }
    val ds = spark.createDataset(bad)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    intercept[Exception](SkylineOps.skylineWithMetrics(ds, "mr-angle", 1000.0, 8, "q",
      pts.size))
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"cached RDDs left behind: $leaked")
  }

  test("grid-bounded dominator/dominated counts equal brute force") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // duplicates on purpose (card small); values deliberately exceed the
    // declared domain to exercise the clamped top/bottom cells
    for ((seed, domain, g) <- Seq((91, 100.0, 8), (92, 80.0, 5), (93, 100.0, 32))) {
      val rng = new scala.util.Random(seed)
      val rows = Seq.tabulate(1500)(i =>
        (i.toLong, rng.nextInt(120).toDouble - 5.0, rng.nextInt(120).toDouble - 5.0))
      val df = rows.toDF("id", "v1", "v2")
      val expDominators = rows.map { case (id, x, y) =>
        id -> rows.count { case (_, ux, uy) =>
          ux <= x && uy <= y && (ux < x || uy < y) }.toLong
      }.toMap
      val expDominated = rows.map { case (id, x, y) =>
        id -> rows.count { case (_, ux, uy) =>
          x <= ux && y <= uy && (x < ux || y < uy) }.toLong
      }.toMap
      val gotDominators = SkylineOps.dominatorCounts2D(df, "id", "v1", "v2", domain, g)
        .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
      assert(gotDominators == expDominators, s"dominators seed=$seed g=$g")
      val gotDominated = SkylineOps.dominatedCounts2D(df, "id", "v1", "v2", domain, g)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(gotDominated == expDominated, s"dominated seed=$seed g=$g")
    }
  }

  test("grouped skyline equals per-group brute force incl in-group duplicates") {
    import spark.implicits._
    val rng = new scala.util.Random(23)
    // small value range forces duplicate points WITHIN groups (all must
    // survive together) and 3 groups of very different sizes
    val rows = Seq.tabulate(900)(i =>
      (s"g${i % 3}", i.toLong, rng.nextInt(12).toDouble, rng.nextInt(12).toDouble))
    val df = rows.toDF("grp", "id", "v1", "v2")
    val got = SkylineOps.skylineGroupedDF(df, Seq("grp"), "id", Seq("v1", "v2"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val exp = rows.filter { case (g, _, x, y) =>
      !rows.exists { case (ug, _, ux, uy) =>
        ug == g && ux <= x && uy <= y && (ux < x || uy < y) }
    }.map(t => (t._1, t._2)).toSet
    assert(got === exp)
    // and the grouped result restricted to one group equals the ungrouped
    // skyline of that group's rows (grouping = independent frontiers)
    val g0 = SkylineOps.skylineDF(df.where($"grp" === "g0"), "id", Seq("v1", "v2"))
      .collect().map(_.getLong(0)).toSet
    assert(got.collect { case ("g0", id) => id } === g0)
  }
}
