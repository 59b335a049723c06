package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression for the float-vector dot product — the
  * hot loop of every similarity/dedup operator over embeddings.
  *
  * The SQL-composable form (`aggregate(zip_with(a, b, (p,q) -> p*q),
  * 0d, (acc,v) -> acc+v)`) allocates an intermediate array per row and
  * evaluates two interpreted lambdas per element (Spark higher-order
  * functions have no codegen). This expression generates a tight
  * primitive loop via doGenCode instead — same arithmetic (float
  * multiply, double accumulate, array order), so results are
  * bit-identical to the composed form and the DuckDB oracles.
  */
case class FloatDotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"float_dot expects array<float> inputs, got ${left.dataType} / ${right.dataType}")
  }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = left.nullable || right.nullable

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0d
    var i = 0
    while (i < n) {
      // float multiply THEN double accumulate — matches zip_with(p*q)
      // folded into aggregate(acc + v)
      acc += x.getFloat(i) * y.getFloat(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |double $acc = 0.0d;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $x.getFloat($i) * $y.getFloat($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FloatDotProduct =
    copy(left = newLeft, right = newRight)
}

object VectorFunctions {
  /** Column API: dot(a, b) over array<float> columns. */
  def float_dot(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.call_function("graft_float_dot", a, b)
}
