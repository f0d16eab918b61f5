package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Minimal bridge into the `private[sql]` Dataset constructor so graft can
  * wrap a custom LogicalPlan ([[graft.plans.TopKPerKey]]) as a DataFrame.
  * Lives in org.apache.spark.sql purely for access; no Spark internals are
  * modified — the same pattern third-party Spark extensions use. */
object GraftSqlBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(
      spark.asInstanceOf[classic.SparkSession], plan)

  /** A new session sharing `spark`'s SparkContext and cache manager, with
    * a copy of its runtime conf, temp views and functions —
    * `cloneSession` is `private[sql]`, hence the forwarder. */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()

  /** The exact error the ANSI `Divide` raises on /0 —
    * `QueryExecutionErrors` is `private[sql]`, hence the forwarder. Used by
    * [[graft.plans.SetJaccard]]'s interpreted path so the fused expression's
    * failure is indistinguishable from the unfused one (codegen references
    * the bytecode-public method directly). */
  def divideByZeroError(ctx: org.apache.spark.QueryContext): ArithmeticException =
    org.apache.spark.sql.errors.QueryExecutionErrors.divideByZeroError(ctx)

  /** Block until every event posted so far reached the context's
    * listeners — `listenerBus` is `private[spark]`, hence the forwarder.
    * A listener's counts for a finished action are complete only after
    * this returns. */
  def drainListeners(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** Read a key the caller already `config()`ed on a builder —
    * `SparkSessionBuilder.options` is protected, and builders expose no
    * getter. Reflection on our pinned Spark version; `None` on any shape
    * change (callers fall back to their default). */
  def builderOption(b: SparkSession.Builder, key: String): Option[String] =
    try {
      val m = classOf[SparkSessionBuilder].getDeclaredMethod("options")
      m.setAccessible(true)
      m.invoke(b).asInstanceOf[scala.collection.mutable.HashMap[String, String]]
        .get(key)
    } catch { case scala.util.control.NonFatal(_) => None }
}
