package graft.tools

import graft.SparkSpec

/** [[RollScale]] at fixture scale, one case per family: 300 rows as three
  * batches at `majorEvery = 2`. Each run's own convergence check must
  * pass (it throws otherwise), and the JSON carries the per-batch outcome
  * sequence and the checked counts. */
class RollScaleSpec extends SparkSpec {

  private val nonBootstrapping = Seq("Minor", "Major(1)", "Minor")

  // (family, per-batch outcomes, checked JSON fields)
  private val cases = Seq(
    ("copurchase", nonBootstrapping, Nil),
    // planted pairs: ids ≡ 2 (mod 5) in [2, 300) → 60
    ("signature", nonBootstrapping, Seq("sig_rows" -> 300L, "total_pairs" -> 60L)),
    // planted pairs: ids ≡ 3 (mod 7) in [3, 300) → 43; ids ≡ 4 (mod 9)
    // tombstoned → 33 dead
    ("media", nonBootstrapping,
      Seq("hash_rows" -> 300L, "total_pairs" -> 43L, "survivors" -> 267L)),
    ("vector", Seq("Bootstrapped", "Minor", "Major(1)"), Seq("rows" -> 300L)))

  for ((family, outcomes, fields) <- cases)
    test(s"$family: three batches fold in order and the roll converges") {
      val json = RollScale.run(spark, family, 300L, 3, 2)
      assert("\"outcome\":\"([^\"]+)\"".r.findAllMatchIn(json).map(_.group(1)).toSeq
        === outcomes, json)
      fields.foreach { case (k, v) => assert(json.contains(s""""$k":$v,"""), json) }
      if (family == "copurchase")
        assert(""""merged_edges":(\d+)""".r.findFirstMatchIn(json).exists(_.group(1).toLong > 0),
          json)
    }
}
