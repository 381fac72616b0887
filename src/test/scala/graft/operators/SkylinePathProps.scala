package graft.operators

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.forAllNoShrink

import graft.core.{Dominance, Point}
import graft.plans.{ReferenceStrategy, SkylinePlanApi}

/** Generated hostile frames (±Inf, ties from a tiny value pool, duplicate
  * floods, null and NaN dims, more partitions than rows): every skyline path
  * equals brute force over the valid rows. The fixed-seed cases stay in
  * [[SkylineHostileInputSpec]]; each trial here runs thirteen Spark
  * queries, so the trial count is kept small. */
object SkylinePathProps extends Properties("SkylinePaths") {
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8)

  private lazy val spark = SparkTestSession.spark
  private val Domain = 4.0

  private val pool = Seq(Double.NegativeInfinity, 0.0, 1.0, 2.0, 3.0,
    Double.PositiveInfinity)
  private val genDim: Gen[Option[Double]] = Gen.frequency(
    12 -> Gen.oneOf(pool).map(Some(_)), 1 -> Gen.const(None),
    1 -> Gen.const(Some(Double.NaN)))
  /** (arity, rows, partitions > rows) */
  private val genCase: Gen[(Int, Seq[Seq[Option[Double]]], Int)] = for {
    d <- Gen.oneOf(2, 3)
    base <- Gen.choose(0, 24).flatMap(Gen.listOfN(_, Gen.listOfN(d, genDim)))
    flood <- if (base.isEmpty) Gen.const(Nil)
             else Gen.choose(0, 16).flatMap(Gen.listOfN(_, Gen.oneOf(base)))
    extra <- Gen.choose(1, 8)
  } yield (d, base ++ flood, base.size + flood.size + extra)

  private type Sky = Set[(Long, Seq[Double])]

  private def brute(pts: Seq[Point]): Sky =
    pts.filter(t => !pts.exists(u => Dominance.dominates(u.values, t.values)))
      .map(p => (p.id, p.values.toSeq)).toSet

  property("every skyline path equals brute force over the valid rows") =
    forAllNoShrink(genCase) { case (d, rows, parts) =>
      val dims = (1 to d).map(i => s"v$i")
      val schema = StructType(StructField("id", LongType, nullable = false) +:
        dims.map(StructField(_, DoubleType, nullable = true)))
      val data = rows.zipWithIndex.map { case (vs, i) =>
        Row.fromSeq(i.toLong +: vs.map(_.map(Double.box).orNull)) }
      val df = spark.createDataFrame(spark.sparkContext.parallelize(data, parts), schema)
      import spark.implicits._
      val expect = brute(rows.zipWithIndex.collect {
        case (vs, i) if vs.forall(_.exists(!_.isNaN)) => Point(i.toLong, vs.flatten.toArray) })
      def node(via: Option[ReferenceStrategy]): Sky =
        SkylinePlanApi.skyline(df, dims, via).collect()
          .map(r => (r.getLong(0), (1 to d).map(r.getDouble))).toSet
      def points(run: org.apache.spark.sql.Dataset[Point] => org.apache.spark.sql.Dataset[Point]): Sky =
        run(SkylineOps.pointsFrom(df, "id", dims)).collect()
          .map(p => (p.id, p.values.toSeq)).toSet
      val got = Seq(
        "node" -> node(None),
        "SkylineOps.skyline" -> points(SkylineOps.skyline),
        "skyline(max 3)" ->
          points(SkylineOps.skyline(_, maxBroadcastPoints = 3)),
        "skyline(driver bound 0)" ->
          points(SkylineOps.skyline(_, driverBound = _ => 0))) ++
        Seq("mr-dim", "mr-grid", "mr-angle").flatMap(st => Seq(
          s"node via $st" -> node(Some(ReferenceStrategy(st, Domain, 8))),
          s"skylineViaStrategy($st)" -> points(SkylineOps.skylineViaStrategy(_, st, Domain, 8)),
          s"skyline(localSkylines $st)" -> points(ds =>
            SkylineOps.skyline(SkylineOps.localSkylines(ds, st, Domain, 8).flatMap(_._2)))))
      val bad = got.collect { case (name, sky) if sky != expect => s"$name: $sky" }
      Prop(bad.isEmpty) :| s"d=$d rows=${rows.size} partitions=$parts expect=$expect\n" +
        bad.mkString("\n")
    }
}
