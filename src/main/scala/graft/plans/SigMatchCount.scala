package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expression: number of equal positions in two
  * `array<bigint>` MinHash signatures.
  *
  * Why a custom Expression (SURVEY §7.3 policy, same rationale as
  * [[FloatDotProduct]]): the built-in formulation
  * `size(filter(zip_with(a, b, (x, y) -> x = y), p -> p))` is semantically
  * identical but runs interpreted (higher-order lambdas are excluded from
  * whole-stage codegen) and allocates two intermediate arrays per row. The
  * estimate-verification stage of `Dedup.minhashLshPairsManaged` evaluates this
  * once per CANDIDATE pair — on a self-similar corpus that is O(n²) pairs
  * (measured: 10.8M candidates for 5 000 documents clustered at shingle-
  * Jaccard ≈ 0.5), making this the flood hot loop. `doGenCode` emits a
  * primitive loop over the unsafe array data with zero allocation.
  *
  * Bit-identical to the HOF form (asserted in SigMatchCountSpec); NULL on
  * length mismatch, like [[FloatDotProduct]].
  */
case class SigMatchCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"sig_match_count requires two array<bigint> arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }
  override def dataType: DataType = IntegerType
  override def prettyName: String = "sig_match_count"
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) null
    else {
      val n = x.numElements()
      var matches = 0
      var i = 0
      while (i < n) {
        if (x.getLong(i) == y.getLong(i)) matches += 1
        i += 1
      }
      matches
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val m = ctx.freshName("m")
      s"""
         |if ($x.numElements() != $y.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $x.numElements();
         |  int $m = 0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($x.getLong($i) == $y.getLong($i)) $m++;
         |  }
         |  ${ev.value} = $m;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SigMatchCount =
    copy(left = newLeft, right = newRight)
}

object SigMatchCount {
  val info: ExpressionInfo = new ExpressionInfo(
    classOf[SigMatchCount].getName, null, "sig_match_count",
    "_FUNC_(a, b) - number of equal positions in two bigint arrays.",
    "")
}
