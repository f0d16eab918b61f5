package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

/** The engine's one install path: `--conf spark.sql.extensions=graft.plans.GraftExtensions`
  * (set by [[graft.GraftSession.tune]]). Injects the native functions of
  * [[GraftExtensions.functions]], the [[FuseSetJaccard]] rewrite and the
  * [[TopKStrategy]] planner into every session of the cluster
  * (SparkSessionExtensions — the supported extension point). Query code
  * never registers anything itself; [[graft.GraftSession.requireExtensions]]
  * checks the same table once, at entry. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    ext.injectOptimizerRule(_ => FuseSetJaccard)
    ext.injectPlannerStrategy(_ => TopKStrategy)
  }
}

object GraftExtensions {

  type FunctionDescription = (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  private def function(info: ExpressionInfo,
                       builder: String => Seq[Expression] => Expression): FunctionDescription =
    (FunctionIdentifier(info.getName), info, builder(info.getName))

  /** Every SQL function the engine's query code calls by name.
    *
    * `bloom_agg` / `bloom_might_contain` are Spark's OWN Bloom-filter
    * expressions — `BloomFilterAggregate` (a commutative OR-merge aggregate
    * producing one serialized filter) and `BloomFilterMightContain` (the
    * probe) — which Catalyst ships for runtime row-level filtering but
    * leaves out of the public registry. Surfacing them keeps the zero-UDF
    * discipline and inherits the codegen-aware implementations. Usage
    * contract: both sides hash with `xxhash64(col)` (LongType, default
    * seed), the builder's items/bits arguments are literals, and the
    * probe's filter argument is the collected filter as a literal byte
    * array (numBits/8 bytes, riding into the plan like a broadcast). */
  val functions: Seq[FunctionDescription] = Seq(
    function(FloatDotProduct.info, Builders.binary(_)(FloatDotProduct(_, _))),
    function(SigMatchCount.info, Builders.binary(_)(SigMatchCount(_, _))),
    function(SetJaccard.info, Builders.binary(_)(new SetJaccard(_, _))),
    function(NgramHashes.info, Builders.binary(_)(NgramHashes(_, _))),
    function(new ExpressionInfo(classOf[BloomFilterAggregate].getName, "bloom_agg"),
      Builders.ternary(_)(new BloomFilterAggregate(_, _, _))),
    function(new ExpressionInfo(classOf[BloomFilterMightContain].getName,
      "bloom_might_contain"), Builders.binary(_)(BloomFilterMightContain(_, _))))
}
