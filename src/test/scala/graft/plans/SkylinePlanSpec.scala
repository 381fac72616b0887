package graft.plans

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, SinglePartition}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

import graft.core.{Dominance, Point}
import graft.operators.{JobRecorder, SkylineOps, SparkTestSession}

/** The custom Catalyst operator: agreement with the Dataset path, plan
  * shape (partial → parallel merge), laziness, and the sky_dominates
  * expression. */
class SkylinePlanSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("planned skyline equals aggregator skyline (duplicates preserved)") {
    import spark.implicits._
    val rng = new scala.util.Random(23)
    val pts = Seq.tabulate(4000)(i =>
      (i.toLong, rng.nextInt(60).toDouble, rng.nextInt(60).toDouble))
    val df = pts.toDF("id", "v1", "v2")
    val planned = SkylinePlanApi.skyline(df, Seq("v1", "v2"))
      .as[(Long, Double, Double)].collect().toSet
    val agg = SkylineOps.skyline(pts.map { case (id, a, b) =>
      Point(id, Array(a, b)) }.toDS())
      .collect().map(p => (p.id, p.values(0), p.values(1))).toSet
    assert(planned == agg)
  }

  test("physical plan is partial -> parallel merge (two-phase combiner)") {
    import spark.implicits._
    val df = Seq((1L, 2.0, 3.0), (2L, 1.0, 4.0)).toDF("id", "v1", "v2")
    val phys = SkylinePlanApi.skyline(df, Seq("v1", "v2"))
      .queryExecution.executedPlan.toString
    assert(phys.contains("SkylineMerge"))
    assert(phys.contains("SkylinePartial"))
    assert(!phys.contains("SkylineFinal"))
    // the combiner sits below the merge
    assert(phys.indexOf("SkylineMerge") < phys.indexOf("SkylinePartial"))
  }

  test("the merge stage runs on more than one task, with no SinglePartition") {
    val c = 4096.0
    val rows = (0 until 2048).map(i => Row(i.toLong, i.toDouble, c - i))
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("x", DoubleType), StructField("y", DoubleType)))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 16), schema)
    val sky = graft.Graft.skyline(df, Seq("x", "y"))
    val (n, rec) = new JobRecorder(spark).during(sky.collect().length)
    assert(n == 2048) // an antichain: every row survives
    val merge = rec.stages.asScala.filter(_.rddInfos.exists(_.scope.exists(s =>
      s.name.startsWith("Skyline") && s.name != "SkylinePartial"))).toSeq
    assert(merge.nonEmpty, "no stage ran the merge node")
    assert(merge.forall(_.numTasks > 1),
      s"single-task merge stage: ${merge.map(s => s.name -> s.numTasks)}")
    val plan = sky.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    assert(plan.collect { case p if p.outputPartitioning == SinglePartition ||
      p.requiredChildDistribution.contains(AllTuples) => p.nodeName }.isEmpty,
      plan.toString)
  }

  test("Graft.skyline and Graft.skylineVia run no job until an action") {
    val rows = (0 until 64).map(i => Row(i.toLong, (i % 8).toDouble, (i / 8).toDouble))
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("v1", DoubleType), StructField("v2", DoubleType)))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
    val (frames, built) = new JobRecorder(spark).during(
      graft.Graft.skyline(df, Seq("v1", "v2")) +:
        Seq("mr-dim", "mr-grid", "mr-angle").map(st =>
          graft.Graft.skylineVia(df, "id", Seq("v1", "v2"), st, 8.0, 4)))
    assert(built.jobs.asScala.toSeq == Seq("marker"),
      s"jobs while building: ${built.jobs.asScala.mkString(", ")}")
    val (_, ran) = new JobRecorder(spark).during(frames.foreach(f =>
      assert(f.collect().map(_.getLong(0)).toSeq == Seq(0L))))
    assert(ran.jobs.size > 1)
  }

  test("filters still push below the Skyline node") {
    import spark.implicits._
    val df = spark.createDataset(Seq((1L, 2.0, 3.0), (2L, 9.0, 9.0))).toDF("id", "v1", "v2")
    val out = SkylinePlanApi.skyline(df.where($"id" <= 1), Seq("v1", "v2")).collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L))
    // dim names resolve the way col(c) does (case-insensitive by default)
    val upper = graft.Graft.skyline(df.where($"id" <= 1), Seq("V1", "v2"))
    assert(upper.columns.toSeq == Seq("id", "V1", "v2"))
    assert(upper.collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("sky_dominates SQL function via runtime registration") {
    val s2 = spark
    SkylineExtensions.register(s2)
    locally {
      val r = s2.sql(
        """SELECT sky_dominates(array(1.0D, 2.0D), array(2.0D, 2.0D)) AS d1,
          |       sky_dominates(array(2.0D, 2.0D), array(2.0D, 2.0D)) AS d2,
          |       sky_dominates(array(3.0D, 1.0D), array(1.0D, 3.0D)) AS d3
          |""".stripMargin).collect().head
      assert(r.getBoolean(0))      // strictly better in one dim
      assert(!r.getBoolean(1))     // duplicates never dominate
      assert(!r.getBoolean(2))     // incomparable
    }
  }

  test("every SQL function names its info class (graft_hash60 is Md5)") {
    // DESCRIBE FUNCTION reads this class; graft_hash60 once named a dot product
    SkylineExtensions.register(spark)
    def infoClass(name: String) = spark.sessionState.catalog.lookupFunctionInfo(
      org.apache.spark.sql.catalyst.FunctionIdentifier(name)).getClassName
    assert(infoClass("graft_hash60") ==
      classOf[org.apache.spark.sql.catalyst.expressions.Md5].getName)
    SkylineExtensions.functions.foreach { case (name, cls, _) =>
      assert(infoClass(name) == cls.getName, name)
    }
  }

  test("extensions-class path injects the full function surface") {
    // the config-loaded path (spark.sql.extensions) must register the same
    // catalog as runtime register(); apply() on a fresh extensions object
    // exercises every injection site's builder wiring
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new SkylineExtensions().apply(ext)   // throws on any malformed triple
    // the composite builders shared by both paths evaluate correctly
    import org.apache.spark.sql.graftbridge.ColumnBridge.column
    import org.apache.spark.sql.catalyst.expressions.{CreateArray, Literal}
    def arr(xs: Double*) =
      CreateArray(xs.map(x => Literal(x): org.apache.spark.sql.catalyst.expressions.Expression))
    val r = spark.range(1).select(
      column(SkylineExtensions.cosineExpr(arr(1.0, 0.0), arr(1.0, 0.0))).as("c1"),
      column(SkylineExtensions.cosineExpr(arr(1.0, 0.0), arr(0.0, 1.0))).as("c0"),
      column(SkylineExtensions.hash60Expr(Literal("42"))).as("h"))
      .head()
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
    assert(math.abs(r.getDouble(1)) < 1e-12)
    // hash60("42") = first 15 hex chars of md5("42") as a long — recompute
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest("42".getBytes("UTF-8")).map("%02x".format(_)).mkString.take(15)
    assert(r.getLong(2) == java.lang.Long.parseLong(hex, 16))
  }

  test("dominance expression matches the kernel on random vectors") {
    import spark.implicits._
    val rng = new scala.util.Random(31)
    val rows = Seq.fill(500)(
      (Array.fill(3)(rng.nextInt(5).toDouble), Array.fill(3)(rng.nextInt(5).toDouble)))
    val df = rows.toDF("a", "b")
    val got = df.select(
      graft.functions.DominanceExpressions.dominates(
        org.apache.spark.sql.functions.col("a"),
        org.apache.spark.sql.functions.col("b"))).as[Boolean].collect()
    rows.zip(got).foreach { case ((a, b), g) =>
      assert(g == Dominance.dominates(a, b))
    }
  }
}
