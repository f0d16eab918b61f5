package graft.plans

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** ngram_hashes must be COUNT-equivalent to the HOF formulation it replaced
  * (t25's correctness rides on the distinct-window SET, not hash values):
  * same tokenization (split on single space, empties dropped), same window
  * set, same distinctness — for every corpus shape that matters. */
class NgramHashesSpec extends SparkSpec {

  private def hofDistinctCount(text: String, w: Int): Int = {
    val tk = text.split(" ", -1).filter(_.nonEmpty)
    if (tk.length < w) 0
    else tk.sliding(w).map(_.mkString(" ")).toSet.size
  }

  private def kernelCount(text: String, w: Int): Int = {
    val df = spark.range(1).select(
      size(call_function("ngram_hashes", lit(text), lit(w))).as("n"))
    df.collect()(0).getInt(0)
  }

  test("window set matches the reference formulation across corpus shapes") {
    val cases = Seq(
      "a b c d e f g h",                        // exactly w tokens -> 1
      "a b c d e f g h i j",                    // 3 windows
      "a b c",                                  // short -> 0
      "",                                       // empty -> 0
      "  a   b  c d e f g h  ",                 // multi-space runs + edges
      "a a a a a a a a a a a a",                // degenerate: 1 distinct
      "x y x y x y x y x y x y",                // period-2: 2 distinct
      "héllo wörld ünïcode tøkens ß µ Ω √ ∂ ƒ", // multi-byte UTF-8
      "a b c d e f g h a b c d e f g h"         // repeated block
    )
    for (t <- cases) {
      assert(kernelCount(t, 8) == hofDistinctCount(t, 8), s"text=[$t]")
      assert(kernelCount(t, 2) == hofDistinctCount(t, 2), s"w=2 text=[$t]")
    }
  }

  test("distinct hashes really are per-distinct-window (no dedup collisions)") {
    // 200 distinct windows of similar shape: count must be exactly 200
    val text = (0 until 203).map(i => s"tok$i").mkString(" ")
    assert(kernelCount(text, 4) == 200)
  }

  test("null text yields null (not a crash), non-null via column path") {
    val df = spark.sql(
      "SELECT ngram_hashes(CAST(NULL AS STRING), 3) AS a, " +
        "ngram_hashes('x y z', 3) AS b")
    val r = df.collect()(0)
    assert(r.isNullAt(0) && r.getSeq[Long](1).length == 1)
  }
}
