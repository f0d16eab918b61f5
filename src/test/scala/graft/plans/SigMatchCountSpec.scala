package graft.plans

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.functions.TextFunctions

class SigMatchCountSpec extends SparkSpec {
  import sqlImplicits._

  private lazy val sigs = {
    Seq(
      (Seq(1L, 2L, 3L, 4L), Seq(1L, 9L, 3L, 7L)), // 2 matches
      (Seq(5L, 5L), Seq(5L, 5L)),                 // all match
      (Seq(1L, 2L), Seq(3L, 4L))                  // none
    ).toDF("a", "b")
  }

  test("bit-identical to the HOF minhashEstimate formulation") {
    val rows = sigs
      .withColumn("native", call_function("sig_match_count", $"a", $"b")
        .cast("double") / size($"a"))
      .withColumn("hof", TextFunctions.minhashEstimate($"a", $"b"))
      .collect()
    rows.foreach(r => assert(r.getAs[Double]("native") === r.getAs[Double]("hof")))
  }

  test("NULL on length mismatch, like float_dot") {
    val r = Seq((Seq(1L, 2L, 3L), Seq(1L, 2L))).toDF("a", "b")
      .select(call_function("sig_match_count", $"a", $"b")).head()
    assert(r.isNullAt(0))
  }

  test("sig_match_count participates in whole-stage codegen") {
    // a literal Seq collapses to LocalTableScan (no codegen stage at all),
    // so derive the arrays from range to get a real codegen'd pipeline
    val p = spark.range(10)
      .select(array(col("id"), col("id") + 1).as("a"),
              array(col("id"), col("id") + 2).as("b"))
      .select(call_function("sig_match_count", $"a", $"b").as("m"))
      .queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("codegen"))
    assert(p.contains("WholeStageCodegen"), p.take(400))
    assert(!p.contains("Found 0 WholeStageCodegen subtrees"), p.take(400))
  }
}
