package graft.plans

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, BindReferences, Cast, Expression,
  SpecializedGetters, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.types.{ArrayType, DoubleType}
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}

import graft.core.Point
import graft.operators.SkylineOps

/** A reference partitioning strategy ("mr-dim" | "mr-grid" | "mr-angle")
  * over `domain` with `partitions` ids; an unknown name fails here, when
  * the frame is built. */
case class ReferenceStrategy(name: String, domain: Double, partitions: Int) {
  private[graft] val pidOf: Array[Double] => Int =
    SkylineOps.pidFunction(name, domain, partitions)
}

/** Skyline as a first-class Catalyst operator, the one relational skyline.
  *
  * The reference hand-builds its two-phase topology (local BNL → shuffle →
  * global merge, `java/org.main/FlinkSkyline.java:138-174`); here the same
  * structure is PLANNED: `SkylinePartialExec` runs the local phase of every
  * skyline path ([[SkylineOps.localPhase]]: one local skyline per child
  * partition, or per strategy id merged on the strategy's `partitions`
  * tasks when `via` is set), and `SkylineMergeExec` runs the global merge
  * of [[SkylineOps.skyline]] over the partial survivors on every core. The
  * child's file relations are scanned in core-width splits. Filters and
  * projections still push below through the logical node, and the
  * operator composes with any child plan.
  *
  * `dims` are expressions over the child's output evaluating to DOUBLE
  * (minimization on every dim, duplicates preserved; a row with a null or
  * NaN dim is dropped).
  */
case class Skyline(dims: Seq[Expression], via: Option[ReferenceStrategy],
                   child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(c: LogicalPlan): Skyline = copy(child = c)
}

/** Both physical phases: the child's rows come out unchanged, and a row's
  * dims are read by a [[DimsReader]]. */
private[plans] trait SkylineRowsExec extends UnaryExecNode {
  def dims: Seq[Expression]
  override def output: Seq[Attribute] = child.output

  protected def reader: DimsReader = new DimsReader(dims, child.output)
}

/** Reads the dims of a row of `input` into one scratch vector (a task
  * reads through its own copy): one DOUBLE expression per dim, through a
  * projection generated per task, or one ARRAY<DOUBLE> of the row's arity,
  * evaluated as it is (its cast is a no-op on an array of doubles). */
private[graft] final class DimsReader(exprs: Seq[Expression], input: Seq[Attribute])
    extends Serializable {
  private val vector = exprs.size == 1 && exprs.head.dataType.isInstanceOf[ArrayType]
  @transient private lazy val proj = UnsafeProjection.create(exprs, input)
  @transient private lazy val array = BindReferences.bindReference(exprs.head, input)
  @transient private var vs: Array[Double] = _

  /** The number of fields of a row of `input`. */
  def width: Int = input.length

  /** The dims of `r` in the scratch vector, which the next call refills;
    * null when a dim (or the vector) is null or NaN: a malformed row,
    * dropped. */
  def apply(r: InternalRow): Array[Double] = {
    val from: SpecializedGetters = if (!vector) proj(r) else array.eval(r) match {
      case null => return null
      case a: ArrayData => a
    }
    val n = from match { case a: ArrayData => a.numElements(); case _ => exprs.length }
    if (vs == null || vs.length != n) vs = new Array[Double](n)
    var i = 0
    while (i < n) {
      if (from.isNullAt(i) || from.getDouble(i).isNaN) return null
      vs(i) = from.getDouble(i)
      i += 1
    }
    vs
  }
}

/** Map-side phase: [[SkylineOps.localPhase]] over the child's rows (spread
  * first when the child is narrower than the cores; one local skyline per
  * partition, or per strategy id merged on the strategy's `partitions`
  * tasks when `via` is set). The surviving rows come out. */
case class SkylinePartialExec(dims: Seq[Expression], via: Option[ReferenceStrategy],
                              child: SparkPlan) extends SkylineRowsExec {
  override protected def withNewChildInternal(c: SparkPlan) = copy(child = c)

  override protected def doExecute(): RDD[InternalRow] =
    SkylineOps.localPhase(child.execute(), reader, via)((_, _, r) => r).flatMap(_._2)
}

/** Global phase: the partial survivors of child partition `i` are cached,
  * lifted to `Point(i, dims)` and merged by [[SkylineOps.mergeLocal]], the
  * merge behind [[SkylineOps.skyline]] (one job collects a small union and
  * filters it on the driver; a larger one takes the broadcast kd filter, or
  * the chunked cross-filter past its bound). Partition `i` then keeps its
  * rows whose dimension vector survived: survivors on the driver ride the
  * closure, distributed ones are routed back to partition `i`. Whether a
  * row survives depends only on that vector (equal vectors never dominate
  * each other), so a cached partition that is evicted and recomputed in
  * another row order keeps the same rows. The ContextCleaner frees the
  * cache with the returned RDD. */
case class SkylineMergeExec(dims: Seq[Expression], child: SparkPlan)
    extends SkylineRowsExec {
  override protected def withNewChildInternal(c: SparkPlan) = copy(child = c)

  override protected def doExecute(): RDD[InternalRow] = {
    val read = reader
    val rows = child.execute().mapPartitions(_.map(_.copy())).cache()
    val local = rows.mapPartitionsWithIndex { (i, it) =>
      val pts = it.flatMap(r => Option(read(r)).map(vs => Point(i, vs.clone()))).toArray
      if (pts.isEmpty) Iterator.empty else Iterator.single((i, pts))
    }
    val keep = (it: Iterator[InternalRow], live: Set[Seq[Double]]) =>
      if (live.isEmpty) Iterator.empty
      else it.filter { r => val vs = read(r); vs != null && live(vs.toSeq) }
    SkylineOps.mergeLocal(session, local) match {
      case Left(survivors) =>
        val live = survivors.groupMap(_.id.toInt)(_.values.toSeq).view.mapValues(_.toSet).toMap
        rows.mapPartitionsWithIndex((i, it) => keep(it, live.getOrElse(i, Set.empty)))
      case Right(survivors) =>
        val kept = survivors.map(p => (p.id.toInt, p.values))
          .partitionBy(new HashPartitioner(rows.getNumPartitions))
        rows.zipPartitions(kept)((it, live) => keep(it, live.map(_._2.toSeq).toSet))
    }
  }
}

/** Plans logical Skyline → partial + merge (the two-phase MR structure),
  * with the child's file relations scanned in core-width splits
  * ([[SkylineOps.coreWidth]]). */
object SkylineStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case Skyline(dims, via, child) =>
      SkylineMergeExec(dims,
        SkylinePartialExec(dims, via, planLater(SkylineOps.coreWidth(child)))) :: Nil
    case _ => Nil
  }
}

/** Session extension wiring: `spark.withExtensions(new SkylineExtensions)` or
  * `spark.sql.extensions=graft.plans.SkylineExtensions`. Injects the planner
  * strategy and [[SkylineExtensions.functions]], the same SQL function
  * surface as [[SkylineExtensions.register]]. */
class SkylineExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectPlannerStrategy(_ => SkylineStrategy)
    SkylineExtensions.described.foreach(e.injectFunction)
  }
}

object SkylineExtensions {
  import org.apache.spark.sql.catalyst.expressions._
  import org.apache.spark.sql.types.{BinaryType, LongType}
  import graft.functions._

  /** The engine's SQL functions: (name, info class, builder). Composite
    * trees have no single expression class; their info class is the
    * dominant sub-expression. */
  private[plans] val functions: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("sky_dominates", classOf[DominatesExpr], e => DominatesExpr(e(0), e(1))),
    ("graft_dot", classOf[DotProductExpr], e => DotProductExpr(e(0), e(1))),
    ("graft_sqnorm", classOf[SqNormExpr], e => SqNormExpr(e(0))),
    ("graft_cosine", classOf[DotProductExpr], e => cosineExpr(e(0), e(1))),
    ("graft_hash60", classOf[Md5], e => hash60Expr(e(0))),
    ("graft_shingles", classOf[CharShinglesExpr],
      e => CharShinglesExpr(e(0), intArg(e(1), "graft_shingles(k)"))),
    ("graft_mrangle", classOf[MrAngleExpr],
      e => MrAngleExpr(e(0), intArg(e(1), "graft_mrangle(n)"))),
    ("graft_nfc", classOf[NfcNormalizeExpr], e => NfcNormalizeExpr(e(0))),
    ("graft_strip_accents", classOf[StripAccentsExpr], e => StripAccentsExpr(e(0))),
    ("graft_simhash", classOf[SimhashExpr], e => SimhashExpr(e(0))),
    ("graft_minhash_sig", classOf[MinhashSigExpr],
      e => MinhashSigExpr(e(0), intArg(e(1), "graft_minhash_sig(k)"),
        intArg(e(2), "graft_minhash_sig(numHashes)"))),
    ("graft_classifier_sum", classOf[ClassifierSumExpr],
      e => ClassifierSumExpr(e(0),
        longArrayArg(e(1), "graft_classifier_sum(weights)"))))

  /** [[functions]] as (identifier, info naming the info class, builder). */
  private[plans] val described =
    functions.map { case (name, cls, builder) =>
      (org.apache.spark.sql.catalyst.FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, null, name, null, "", "", "", "", "", "", "built-in"),
        builder)
    }

  private def intArg(e: Expression, name: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$name expects a literal int, got $other")
  }

  /** A foldable ARRAY<integral> argument (e.g. `array(1, 2, 3)`) evaluated
    * to its Long values at registration time — the weight-table argument
    * form for graft_classifier_sum. */
  private def longArrayArg(e: Expression, name: String): Seq[Long] =
    e match {
      case a if a.foldable && a.dataType.isInstanceOf[ArrayType] =>
        val et = a.dataType.asInstanceOf[ArrayType].elementType
        val arr = a.eval().asInstanceOf[ArrayData]
        (0 until arr.numElements()).map(i => et match {
          case LongType => arr.getLong(i)
          case org.apache.spark.sql.types.IntegerType => arr.getInt(i).toLong
          case other => throw new IllegalArgumentException(
            s"$name expects integral weights, got element type $other")
        })
      case other => throw new IllegalArgumentException(
        s"$name expects a foldable array literal, got $other")
    }

  /** Clamped cosine as a Catalyst tree. */
  private[plans] def cosineExpr(a: Expression, b: Expression): Expression = {
    val dot = DotProductExpr(a, b)
    val denom = Multiply(Sqrt(SqNormExpr(a)), Sqrt(SqNormExpr(b)))
    Least(Seq(Greatest(Seq(Divide(dot, denom), Literal(-1.0))), Literal(1.0)))
  }

  /** md5-derived portable 60-bit hash as a Catalyst tree (the SQL-function
    * form of [[graft.functions.hash60]]). */
  private[plans] def hash60Expr(c: Expression): Expression =
    Cast(Conv(Substring(Md5(Cast(c, BinaryType)), Literal(1), Literal(15)),
      Literal(16), Literal(10)), LongType)

  /** Adds the skyline planner strategy to the session (idempotent). */
  private[plans] def installStrategy(spark: SparkSession): Unit =
    if (!spark.experimental.extraStrategies.contains(SkylineStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ SkylineStrategy

  /** Runtime registration on an existing session (extensions classes only
    * apply at session build; driver-owned sessions need this path): the
    * skyline planner strategy plus every function in [[functions]]. */
  def register(spark: SparkSession): Unit = {
    installStrategy(spark)
    val reg = spark.sessionState.functionRegistry
    described.foreach { case (id, info, builder) => reg.registerFunction(id, info, builder) }
  }
}

object SkylinePlanApi {
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
  import org.apache.spark.sql.graftbridge.ColumnBridge

  /** Skyline of `df` over `dimCols` (each cast to double, resolved by the
    * session's resolver the way `col(c)` is) as a lazy logical [[Skyline]]
    * node: every column of `df` is kept, and building the frame runs no
    * job. `via` sets the partial phase's reference strategy. Installs the
    * planner strategy on the session, so no extension config is needed. */
  def skyline(df: DataFrame, dimCols: Seq[String],
              via: Option[ReferenceStrategy] = None): DataFrame = {
    val spark = df.sparkSession
    SkylineExtensions.installStrategy(spark)
    val plan = ColumnBridge.planOf(df)
    val dims = dimCols.map(c => Cast(plan.resolve(
      UnresolvedAttribute.quotedString(c).nameParts, spark.sessionState.conf.resolver)
      .getOrElse(throw new IllegalArgumentException(
        s"no column $c among ${plan.output.map(_.name).mkString(", ")}")), DoubleType))
    ColumnBridge.ofRows(spark, Skyline(dims, via, plan))
  }
}
