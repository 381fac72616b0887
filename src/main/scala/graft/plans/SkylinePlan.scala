package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, BindReferences, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, Distribution, Partitioning, SinglePartition}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}

import scala.collection.mutable.ArrayBuffer

import graft.core.{Point, SkylineBuffer}

/** Skyline as a first-class Catalyst operator.
  *
  * The reference hand-builds its two-phase topology (local BNL → shuffle →
  * global merge, `java/org.main/FlinkSkyline.java:138-174`); here the same
  * structure is PLANNED: `SkylinePartialExec` runs pipelined on each child
  * partition (a combiner — only non-dominated rows reach the exchange), and
  * `SkylineFinalExec` declares `AllTuples` distribution so Catalyst inserts
  * the exchange. Filters/projections still push below through the logical
  * node, and the operator composes with any child plan.
  *
  * `dims` are expressions over the child's output evaluating to DOUBLE
  * (minimization on every dim, duplicates preserved; a row with a null or
  * NaN dim is dropped).
  */
case class Skyline(dims: Seq[Expression], child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(c: LogicalPlan): Skyline = copy(child = c)
}

/** What both physical phases run on each input partition: every row is
  * copied and lifted to `Point(rowIndex, dims)`, [[SkylineBuffer]] (the one
  * BNL kernel) reduces them, and the rows at the surviving indices come out.
  * A row with a null or NaN dimension is malformed and dropped. */
private[plans] trait SkylineRowsExec extends UnaryExecNode {
  def dims: Seq[Expression]
  override def output: Seq[Attribute] = child.output
  override protected def doExecute(): RDD[InternalRow] = {
    val bound = dims.map(BindReferences.bindReference(_, child.output))
    child.execute().mapPartitions { it =>
      val rows = ArrayBuffer[InternalRow]()
      val pts = it.flatMap { r =>
        val vs = new Array[Double](bound.length)
        var ok = true
        var i = 0
        while (ok && i < bound.length) {
          val v = bound(i).eval(r)
          ok = v != null && !v.asInstanceOf[Double].isNaN
          if (ok) vs(i) = v.asInstanceOf[Double]
          i += 1
        }
        if (ok) { rows += r.copy(); Some(Point(rows.length - 1L, vs)) } else None
      }
      SkylineBuffer.of(pts).result.iterator.map(p => rows(p.id.toInt))
    }
  }
}

/** Map-side phase: local skyline per child partition, fully pipelined. */
case class SkylinePartialExec(dims: Seq[Expression], child: SparkPlan)
    extends SkylineRowsExec {
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override protected def withNewChildInternal(c: SparkPlan) = copy(child = c)
}

/** Final phase: global merge; `AllTuples` makes Catalyst plan the exchange. */
case class SkylineFinalExec(dims: Seq[Expression], child: SparkPlan)
    extends SkylineRowsExec {
  override def requiredChildDistribution: Seq[Distribution] = AllTuples :: Nil
  override def outputPartitioning: Partitioning = SinglePartition
  override protected def withNewChildInternal(c: SparkPlan) = copy(child = c)
}

/** Plans logical Skyline → partial + final (the two-phase MR structure). */
object SkylineStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case Skyline(dims, child) =>
      SkylineFinalExec(dims,
        SkylinePartialExec(dims, planLater(child))) :: Nil
    case _ => Nil
  }
}

/** Session extension wiring: `spark.withExtensions(new SkylineExtensions)` or
  * `spark.sql.extensions=graft.plans.SkylineExtensions`. Injects the planner
  * strategy and the same SQL function surface as
  * [[SkylineExtensions.register]] (a config-loaded session must not see a
  * poorer catalog than a programmatic one). */
class SkylineExtensions extends (SparkSessionExtensions => Unit) {
  private def inject(e: SparkSessionExtensions, name: String,
                     cls: Class[_], b: Seq[Expression] => Expression): Unit =
    e.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier(name),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        cls.getName, name),
      b))

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectPlannerStrategy(_ => SkylineStrategy)
    inject(e, "sky_dominates", classOf[graft.functions.DominatesExpr],
      exprs => graft.functions.DominatesExpr(exprs(0), exprs(1)))
    inject(e, "graft_dot", classOf[graft.functions.DotProductExpr],
      exprs => graft.functions.DotProductExpr(exprs(0), exprs(1)))
    inject(e, "graft_sqnorm", classOf[graft.functions.SqNormExpr],
      exprs => graft.functions.SqNormExpr(exprs(0)))
    inject(e, "graft_shingles", classOf[graft.functions.CharShinglesExpr],
      exprs => graft.functions.CharShinglesExpr(exprs(0),
        SkylineExtensions.intArgPublic(exprs(1), "graft_shingles(k)")))
    inject(e, "graft_mrangle", classOf[graft.functions.MrAngleExpr],
      exprs => graft.functions.MrAngleExpr(exprs(0),
        SkylineExtensions.intArgPublic(exprs(1), "graft_mrangle(n)")))
    inject(e, "graft_nfc", classOf[graft.functions.NfcNormalizeExpr],
      exprs => graft.functions.NfcNormalizeExpr(exprs(0)))
    inject(e, "graft_strip_accents", classOf[graft.functions.StripAccentsExpr],
      exprs => graft.functions.StripAccentsExpr(exprs(0)))
    inject(e, "graft_simhash", classOf[graft.functions.SimhashExpr],
      exprs => graft.functions.SimhashExpr(exprs(0)))
    inject(e, "graft_minhash_sig", classOf[graft.functions.MinhashSigExpr],
      exprs => graft.functions.MinhashSigExpr(exprs(0),
        SkylineExtensions.intArgPublic(exprs(1), "graft_minhash_sig(k)"),
        SkylineExtensions.intArgPublic(exprs(2), "graft_minhash_sig(numHashes)")))
    inject(e, "graft_classifier_sum", classOf[graft.functions.ClassifierSumExpr],
      exprs => graft.functions.ClassifierSumExpr(exprs(0),
        SkylineExtensions.longArrayArgPublic(exprs(1),
          "graft_classifier_sum(weights)")))
    // composite trees (no single expression class backs them; the info
    // class is the dominant sub-expression)
    inject(e, "graft_cosine", classOf[graft.functions.DotProductExpr],
      exprs => SkylineExtensions.cosineExpr(exprs(0), exprs(1)))
    inject(e, "graft_hash60", classOf[graft.functions.DotProductExpr],
      exprs => SkylineExtensions.hash60ExprPublic(exprs(0)))
  }
}

object SkylineExtensions {
  import org.apache.spark.sql.catalyst.expressions._
  import org.apache.spark.sql.types.{BinaryType, LongType}

  private def intArg(e: Expression, name: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$name expects a literal int, got $other")
  }

  /** [[intArg]] for the extensions-class injection sites. */
  private[plans] def intArgPublic(e: Expression, name: String): Int =
    intArg(e, name)

  /** A foldable ARRAY<integral> argument (e.g. `array(1, 2, 3)`) evaluated
    * to its Long values at registration time — the weight-table argument
    * form for graft_classifier_sum. */
  private[plans] def longArrayArgPublic(e: Expression, name: String): Seq[Long] =
    e match {
      case a if a.foldable && a.dataType.isInstanceOf[
          org.apache.spark.sql.types.ArrayType] =>
        val et = a.dataType.asInstanceOf[org.apache.spark.sql.types.ArrayType]
          .elementType
        val arr = a.eval().asInstanceOf[
          org.apache.spark.sql.catalyst.util.ArrayData]
        (0 until arr.numElements()).map(i => et match {
          case LongType => arr.getLong(i)
          case org.apache.spark.sql.types.IntegerType => arr.getInt(i).toLong
          case other => throw new IllegalArgumentException(
            s"$name expects integral weights, got element type $other")
        })
      case other => throw new IllegalArgumentException(
        s"$name expects a foldable array literal, got $other")
    }

  private[plans] def hash60ExprPublic(c: Expression): Expression =
    hash60Expr(c)

  /** Clamped cosine as a Catalyst tree (shared by both injection paths). */
  private[plans] def cosineExpr(a: Expression, b: Expression): Expression = {
    val dot = graft.functions.DotProductExpr(a, b)
    val denom = Multiply(Sqrt(graft.functions.SqNormExpr(a)),
      Sqrt(graft.functions.SqNormExpr(b)))
    Least(Seq(Greatest(Seq(Divide(dot, denom), Literal(-1.0))), Literal(1.0)))
  }

  /** md5-derived portable 60-bit hash as a Catalyst tree (the SQL-function
    * form of [[graft.functions.hash60]]). */
  private def hash60Expr(c: Expression): Expression =
    Cast(Conv(Substring(Md5(Cast(c, BinaryType)), Literal(1), Literal(15)),
      Literal(16), Literal(10)), LongType)

  /** Runtime registration on an existing session (extensions classes only
    * apply at session build; driver-owned sessions need this path). Exposes
    * the skyline planner strategy plus the engine's SQL function surface:
    * sky_dominates, graft_dot, graft_sqnorm, graft_cosine, graft_hash60,
    * graft_shingles, graft_mrangle, graft_nfc, graft_strip_accents. */
  def register(spark: SparkSession): Unit = {
    if (!spark.experimental.extraStrategies.contains(SkylineStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ SkylineStrategy
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("sky_dominates",
      exprs => graft.functions.DominatesExpr(exprs(0), exprs(1)), "built-in")
    reg.createOrReplaceTempFunction("graft_dot",
      exprs => graft.functions.DotProductExpr(exprs(0), exprs(1)), "built-in")
    reg.createOrReplaceTempFunction("graft_sqnorm",
      exprs => graft.functions.SqNormExpr(exprs(0)), "built-in")
    reg.createOrReplaceTempFunction("graft_cosine",
      exprs => cosineExpr(exprs(0), exprs(1)), "built-in")
    reg.createOrReplaceTempFunction("graft_hash60",
      exprs => hash60Expr(exprs(0)), "built-in")
    reg.createOrReplaceTempFunction("graft_shingles",
      exprs => graft.functions.CharShinglesExpr(exprs(0),
        intArg(exprs(1), "graft_shingles(k)")), "built-in")
    reg.createOrReplaceTempFunction("graft_mrangle",
      exprs => graft.functions.MrAngleExpr(exprs(0),
        intArg(exprs(1), "graft_mrangle(n)")), "built-in")
    reg.createOrReplaceTempFunction("graft_nfc",
      exprs => graft.functions.NfcNormalizeExpr(exprs(0)), "built-in")
    reg.createOrReplaceTempFunction("graft_strip_accents",
      exprs => graft.functions.StripAccentsExpr(exprs(0)), "built-in")
    reg.createOrReplaceTempFunction("graft_simhash",
      exprs => graft.functions.SimhashExpr(exprs(0)), "built-in")
    reg.createOrReplaceTempFunction("graft_minhash_sig",
      exprs => graft.functions.MinhashSigExpr(exprs(0),
        intArg(exprs(1), "graft_minhash_sig(k)"),
        intArg(exprs(2), "graft_minhash_sig(numHashes)")), "built-in")
    reg.createOrReplaceTempFunction("graft_classifier_sum",
      exprs => graft.functions.ClassifierSumExpr(exprs(0),
        longArrayArgPublic(exprs(1), "graft_classifier_sum(weights)")),
      "built-in")
  }
}

object SkylinePlanApi {
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.graftbridge.ColumnBridge

  /** Skyline of `df` over `dimCols` through the custom operator. Registers
    * the planner strategy on the session (idempotent) so no extension config
    * is needed for programmatic use. */
  def skyline(df: DataFrame, dimCols: Seq[String]): DataFrame = {
    val spark = df.sparkSession
    if (!spark.experimental.extraStrategies.contains(SkylineStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ SkylineStrategy
    val plan = ColumnBridge.planOf(df)
    val dims = dimCols.map { c =>
      val attr = plan.output.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(s"no column $c"))
      org.apache.spark.sql.catalyst.expressions.Cast(attr,
        org.apache.spark.sql.types.DoubleType)
    }
    ColumnBridge.ofRows(spark, Skyline(dims, plan))
  }
}
