package graft.plans

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.io.Tables
import graft.operators.Similarity

class FloatDotProductSpec extends SparkSpec {
  import sqlImplicits._

  test("float_dot equals the interpreted HOF formulation bit-for-bit") {
    val e = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val both = e.select(
      call_function("float_dot", col("embedding"), col("embedding")).as("native"),
      Similarity.dotHof(
        transform(col("embedding"), x => x.cast("double")),
        transform(col("embedding"), x => x.cast("double"))).as("hof"))
    assert(both.filter(col("native") =!= col("hof")).count() === 0)
  }

  test("float_dot participates in whole-stage codegen") {
    val e = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val p = e.select(call_function("float_dot", col("embedding"), col("embedding")))
      .queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("codegen"))
    assert(p.contains("WholeStageCodegen"), p.take(400))
    assert(p.contains("float_dot") || p.contains("getFloat"), p.take(400))
  }

  test("float_dot handles nulls and known values") {
    val df = Seq(
      (Some(Array(1f, 2f, 3f)), Some(Array(4f, 5f, 6f))),
      (None, Some(Array(1f, 1f)))
    ).toDF("a", "b")
    val out = df.select(call_function("float_dot", col("a"), col("b"))).collect()
    assert(out(0).getDouble(0) === 32.0)
    assert(out(1).isNullAt(0))
  }

  test("SQL resolves float_dot (registry + extensions path)") {
    val r = spark.sql("SELECT float_dot(array(1.0f, 2.0f), array(3.0f, 4.0f)) AS d")
      .head().getDouble(0)
    assert(r === 11.0)
  }
}
