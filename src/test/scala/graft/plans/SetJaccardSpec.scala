package graft.plans

import org.apache.spark.sql.functions._
import graft.SparkSpec

class SetJaccardSpec extends SparkSpec {
  import sqlImplicits._

  private def declarative = (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b))

  test("matches the array_intersect/array_union form on varied inputs") {
    val data = Seq(
      (Seq("a", "b", "c"), Seq("b", "c", "d")),
      (Seq("x"), Seq("x")),
      (Seq("a", "a", "b", "b"), Seq("b", "b", "a")), // duplicates
      (Seq("πλ", "δ", "a"), Seq("a", "ζ", "πλ")),     // non-ASCII
      (Seq("q", "r"), Seq("s", "t")),                 // disjoint
      (Seq("long " * 40 + "tail", "x"), Seq("x"))
    ).toDF("a", "b")
    val rows = data
      .withColumn("fused",
        call_function("set_jaccard", array_sort($"a"), array_sort($"b")))
      .withColumn("hof", declarative($"a", $"b"))
      .collect()
    rows.foreach(r => assert(r.getAs[Double]("fused") === r.getAs[Double]("hof")))
  }

  test("matches on seeded random multisets incl. duplicates") {
    val rnd = new scala.util.Random(7)
    val data = Seq.fill(300)(
      (Seq.fill(rnd.nextInt(20))(s"w${rnd.nextInt(12)}"),
       Seq.fill(rnd.nextInt(20) + 1)(s"w${rnd.nextInt(12)}")))
      .filter(_._1.nonEmpty)
    val rows = data.toDF("a", "b")
      .withColumn("fused",
        call_function("set_jaccard", array_sort($"a"), array_sort($"b")))
      .withColumn("hof", declarative($"a", $"b"))
      .collect()
    rows.foreach(r => assert(r.getAs[Double]("fused") === r.getAs[Double]("hof")))
  }

  test("NULL array propagates, empty union raises under ANSI") {
    val r = Seq((Seq("a"), Option.empty[Seq[String]])).toDF("a", "b")
      .select(call_function("set_jaccard", $"a", $"b")).head()
    assert(r.isNullAt(0))
    // both-empty → |union| = 0 → the SAME error class the unfused ANSI
    // Divide raises (SparkArithmeticException / DIVIDE_BY_ZERO), not a bare
    // java.lang.ArithmeticException — FuseSetJaccard must not change the
    // user-visible failure (round-4 advice)
    val ex = intercept[Exception] {
      Seq((Seq.empty[String], Seq.empty[String])).toDF("a", "b")
        .select(call_function("set_jaccard", $"a", $"b")).collect()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    val arith = causes(ex).collectFirst {
      case e: ArithmeticException with org.apache.spark.SparkThrowable => e
    }
    assert(arith.isDefined,
      s"expected SparkThrowable ArithmeticException in cause chain, got $ex")
    assert(arith.get.getCondition === "DIVIDE_BY_ZERO", arith.get.toString)
  }

  /** The error condition of the SparkThrowable ArithmeticException that
    * `body` raises somewhere in its cause chain. */
  private def condition(body: => Unit): String = {
    val ex = intercept[Exception](body)
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    causes(ex).collectFirst {
      case e: ArithmeticException with org.apache.spark.SparkThrowable =>
        e.getCondition
    }.getOrElse(s"no SparkThrowable ArithmeticException: $ex")
  }

  test("fused empty-union error is indistinguishable from the unfused one") {
    val empty = spark.range(1)
      .select(array_remove(array(lit("x")), "x").as("a"),
              array_remove(array(lit("y")), "y").as("b"))
    val fused = condition(
      empty.select(declarative($"a", $"b").as("j")).collect())
    val unfused = condition(
      empty.withColumn("one", lit(1.0))
        .select((col("one") / size(array_remove(array(lit("z")), "z"))).as("j"))
        .collect())
    assert(fused === unfused)
    assert(fused === "DIVIDE_BY_ZERO")
  }

  test("fused plan raises DIVIDE_BY_ZERO under ANSI on arrays that cannot " +
       "constant-fold") {
    // empty arrays computed from a column: the rewrite sees the division,
    // not a folded literal, so the fused expression itself must honour the
    // Divide's ANSI eval mode
    val empty = spark.range(1)
      .select(array_repeat(lit("x"), col("id").cast("int")).as("a"),
              array_repeat(lit("y"), col("id").cast("int")).as("b"))
    val q = empty.select(declarative($"a", $"b").as("j"))
    assert(q.queryExecution.optimizedPlan.toString.contains("set_jaccard"),
      q.queryExecution.optimizedPlan.toString)
    assert(condition(q.collect()) === "DIVIDE_BY_ZERO")
  }

  test("sortedUtf8 agrees with array_sort element order") {
    val in = Array("zebra", "Ant", "πλ", "apple", "Ant", "éclair", "1")
    val jvm = SetJaccard.sortedUtf8(in).toSeq
    val sql = Seq(Tuple1(in.toSeq)).toDF("a")
      .select(array_sort($"a")).head().getSeq[String](0)
    assert(jvm === sql)
  }

  test("FuseSetJaccard rewrites the declarative plan and preserves results") {
    // range-derived, not a literal Seq: ConvertToLocalRelation would eval a
    // literal projection eagerly and leave no plan to inspect.
    val df = spark.range(4)
      .select(array(concat(lit("w"), col("id")), lit("a"), lit("b")).as("a"),
              array(concat(lit("w"), col("id")), lit("b"), lit("c")).as("b"))
      .withColumn("j", declarative($"a", $"b"))
    val optimized = df.queryExecution.optimizedPlan
    val fused = optimized.expressions.exists(
      _.exists(_.isInstanceOf[SetJaccard]))
    assert(fused, s"FuseSetJaccard did not fire:\n$optimized")
    // {w_i,a,b} vs {w_i,b,c}: |∩| = 2, |∪| = 4 for every row
    val got = df.select("j").collect().map(_.getDouble(0))
    assert(got === Array.fill(4)(0.5))
  }

  test("rule leaves non-matching divisions alone") {
    val df = Seq((Seq("a"), Seq("b", "a"), 4)).toDF("a", "b", "n")
      .withColumn("x", size(array_intersect($"a", $"b")).cast("double") / $"n")
    val optimized = df.queryExecution.optimizedPlan
    assert(!optimized.expressions.exists(_.exists(_.isInstanceOf[SetJaccard])))
    assert(df.select("x").head().getDouble(0) === 0.25)
  }

  test("set_jaccard participates in whole-stage codegen") {
    val p = spark.range(10)
      .select(array(concat(lit("a"), col("id")), lit("b")).as("a"),
              array(concat(lit("a"), col("id")), lit("c")).as("b"))
      .select(call_function("set_jaccard", array_sort($"a"), array_sort($"b")).as("j"))
      .queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("codegen"))
    assert(p.contains("WholeStageCodegen"), p.take(400))
    assert(!p.contains("Found 0 WholeStageCodegen subtrees"), p.take(400))
  }
}
