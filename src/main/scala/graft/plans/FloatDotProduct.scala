package graft.plans

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expression: dot product of two `array<float>` columns,
  * accumulated in double, left to right.
  *
  * Why a custom Expression (SURVEY §7.3 policy — custom Catalyst only where
  * built-ins genuinely can't): the built-in formulation
  * `aggregate(zip_with(a, b, (x, y) -> x*y), 0d, (acc, x) -> acc + x)` is
  * semantically identical but runs interpreted — higher-order lambdas are
  * excluded from whole-stage codegen and allocate an intermediate array per
  * row. This kernel is the inner loop of every similarity-search operator
  * (O(corpus × queries × dim) evaluations), so it gets `doGenCode`: a tight
  * primitive loop over the unsafe array data with zero allocation.
  *
  * Accumulation order matches the HOF formulation exactly (per-element
  * float→double cast, sequential sum), so results are bit-identical and
  * remain hash-comparable against the DuckDB oracle.
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
      s"float_dot requires two array<float> arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "float_dot"

  // Length mismatch yields NULL — same as the HOF spec formulation, where
  // zip_with pads with nulls and the sum propagates NULL. A silent
  // common-prefix dot product would rank corrupt/mixed-dimension vectors
  // as if they were valid.
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) null
    else {
      val n = x.numElements()
      var sum = 0.0
      var i = 0
      while (i < n) {
        sum += x.getFloat(i).toDouble * y.getFloat(i).toDouble
        i += 1
      }
      sum
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val sum = ctx.freshName("sum")
      s"""
         |if ($x.numElements() != $y.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $x.numElements();
         |  double $sum = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $sum += (double)$x.getFloat($i) * (double)$y.getFloat($i);
         |  }
         |  ${ev.value} = $sum;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FloatDotProduct =
    copy(left = newLeft, right = newRight)
}

object FloatDotProduct {
  val info: ExpressionInfo = new ExpressionInfo(
    classOf[FloatDotProduct].getName, null, "float_dot",
    "_FUNC_(a, b) - dot product of two float arrays, accumulated in double.",
    "")
}
