package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
import org.apache.spark.sql.types.{DataType, IntegerType}

/** MR-Angle partition id as a codegen'd Catalyst expression (replaces the
  * Scala UDF so the partitioner stays inside whole-stage codegen with the
  * rest of the scan pipeline). Exact reference arithmetic
  * (`java/org.main/FlinkSkyline.java:823-876`): for i in 0..d-2,
  * phi_i = atan2(sqrt(sum_{j>i} v_j^2), v_i); normalize by pi/2, average,
  * scale by n, truncate, clamp to [0, n-1]; 1-D returns 0.
  */
case class MrAngleExpr(child: Expression, n: Int) extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def checkInputDataTypes() =
    org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess

  override def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val d = a.numElements()
    val vs = new Array[Double](d)
    var i = 0
    while (i < d) { vs(i) = a.getDouble(i); i += 1 }
    graft.operators.Partitioners.mrAngleScala(vs, n)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val d = ctx.freshName("d"); val i = ctx.freshName("i")
      val j = ctx.freshName("j"); val rest = ctx.freshName("rest")
      val norm = ctx.freshName("norm"); val p = ctx.freshName("p")
      val numAngles = ctx.freshName("numAngles")
      val v = ctx.freshName("v")
      s"""
         |int $d = $a.numElements();
         |int $numAngles = $d - 1;
         |if ($numAngles < 1) { ${ev.value} = 0; } else {
         |  double $norm = 0.0;
         |  for (int $i = 0; $i < $numAngles; $i++) {
         |    double $rest = 0.0;
         |    for (int $j = $i + 1; $j < $d; $j++) {
         |      double $v = $a.getDouble($j);
         |      $rest += $v * $v;
         |    }
         |    $norm += java.lang.Math.atan2(java.lang.Math.sqrt($rest),
         |      $a.getDouble($i)) / (java.lang.Math.PI / 2.0);
         |  }
         |  int $p = (int) (($norm / $numAngles) * $n);
         |  ${ev.value} = java.lang.Math.max(0, java.lang.Math.min($p, ${n - 1}));
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

object AngleExpressions {
  def mrAngleNative(values: Column, n: Int): Column =
    column(MrAngleExpr(expression(values), n))
}
