package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for the LLM-data-pipeline surface.
  *
  * Everything here is a composition of built-in Catalyst expressions
  * (codegen-friendly, no UDFs — SURVEY.md §2.10 policy). Higher-order
  * array functions run on Tungsten rows without serialization, and all
  * of it is embarrassingly parallel per-row: no shuffle, scales linearly
  * with input splits.
  */
object TextFunctions {

  /** Whitespace tokens of a text column. */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** Distinct token set (for Jaccard-style set similarity). Same
    * tokenization as [[tokens]] — the two MUST agree or set-based and
    * sequence-based similarity see different token streams for the same
    * document (and repeated whitespace would inject empty-string tokens
    * shared across unrelated documents, inflating Jaccard). */
  def tokenSet(text: Column): Column = array_distinct(tokens(text))

  /** n-word shingles: ["a b c", "b c d", ...]. Empty if fewer than n tokens. */
  def wordShingles(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
      .otherwise(array())

  /** Ratio of tokens that are members of `stop` (language-ID / quality signal). */
  def stopwordRatio(toks: Column, stop: Seq[String]): Column =
    size(filter(toks, t => t.isInCollection(stop))).cast("double") / size(toks)

  /** Type-token ratio: distinct tokens / tokens. */
  def distinctRatio(toks: Column): Column =
    size(array_distinct(toks)).cast("double") / size(toks)

  /** Prime fields for the SQL-expressible token hashes: two independent
    * Horner hashes per token plus a 2³¹−1 mixing field for SimHash bits.
    * Everything stays below 2³¹, so ANSI-mode long arithmetic can never
    * overflow — in Spark expressions, in the JVM kernels, AND in the DuckDB
    * oracle, which reproduces the exact same closed-form polynomial sums
    * (the reason these replaced xxhash64: 64-bit wrapping multiplies are
    * inexpressible under ANSI overflow checks and in 128-bit-capped SQL
    * arithmetic, while prime-field polynomials are exact everywhere). */
  private[graft] val HashP1 = 1000000007L // token hash 1: base 31
  private[graft] val HashP2 = 998244353L  // token hash 2: base 131
  private[graft] val HashP3 = 2147483647L // simhash bit-mixing field

  /** Prime-field Horner hash of a token's code points: base 31 mod
    * [[HashP1]]. The per-character form of the classic polynomial string
    * hash; `ascii()` yields the full code point of a `split(t, "")`
    * single-character string. */
  def tokenHash31(t: Column): Column =
    aggregate(filter(split(t, ""), c => c =!= ""), lit(0L),
      (acc, c) => pmod(acc * 31 + ascii(c), lit(HashP1)))

  /** Companion hash: base 131 mod [[HashP2]] — independent of
    * [[tokenHash31]] so the pair double-hashes into 64 SimHash bits. */
  def tokenHash131(t: Column): Column =
    aggregate(filter(split(t, ""), c => c =!= ""), lit(0L),
      (acc, c) => pmod(acc * 131 + ascii(c), lit(HashP2)))

  /** Per-bit mixers for SimHash: bit i of a token is
    * `parity((h1·r_i + h2·s_i) mod HashP3)` — with random 31-bit (r, s)
    * pairs this is a universal-hash family, so bits are pairwise
    * independent. (The simpler `h1 + (i+1)·h2` stepping was measured to
    * produce correlated bits: unrelated docs fell within Hamming 3,
    * inflating d04 from 17 to 257 pairs.) Deterministic seed; the DuckDB
    * oracle embeds the same 64 pairs as a literal table. Products stay
    * below 2⁶² — ANSI-safe. */
  private[graft] val simhashBitMixers: IndexedSeq[(Long, Long)] = {
    val rng = new scala.util.Random(2024L)
    IndexedSeq.fill(64)(
      ((1 + rng.nextInt(Int.MaxValue - 1)).toLong,
       (1 + rng.nextInt(Int.MaxValue - 1)).toLong))
  }

  /** JVM twin of ([[tokenHash31]], [[tokenHash131]]) over code points. */
  def tokenHashPairJvm(t: String): (Long, Long) = {
    var h1 = 0L
    var h2 = 0L
    val it = t.codePoints().iterator()
    while (it.hasNext) {
      val cp = it.next().toLong
      h1 = (h1 * 31 + cp) % HashP1
      h2 = (h2 * 131 + cp) % HashP2
    }
    (h1, h2)
  }

  /** Deterministic document fingerprint: polynomial rolling hash of the
    * token stream in a prime field (< 2^31, see [[HashP1]]). Order-
    * sensitive — reordered tokens change the fingerprint, unlike the
    * set-based signatures below. Fully reproducible by the DuckDB oracle
    * as a closed-form double polynomial sum (chars within token, tokens
    * within doc). */
  def fingerprint(toks: Column): Column =
    aggregate(toks, lit(0L),
      (acc, t) => pmod(acc * 31 + tokenHash31(t), lit(HashP1)))

  /** MinHash signature: k independent hash functions (xxhash64 salted by
    * position), min over the shingle set per function. Similar shingle sets
    * → equal signature positions with probability = Jaccard similarity. */
  def minhashSignature(shingles: Column, k: Int): Column =
    transform(sequence(lit(0), lit(k - 1)),
      seed => array_min(transform(shingles, sh => xxhash64(sh, seed))))

  /** Estimated Jaccard from two equal-length MinHash signatures. */
  def minhashEstimate(sigA: Column, sigB: Column): Column =
    size(filter(zip_with(sigA, sigB, (a, b) => a === b), x => x)).cast("double") /
      size(sigA)

  /** JVM twin of [[minhashSignature]] over [[wordShingles]] — same
    * tokenization, same hash chain as the expression form
    * (`xxhash64(shingle, seedIdx)` = XxHash64 of the shingle string at
    * seed 42, then of the int seed index chained on that), bit-identical
    * output; used by the mapPartitions hot path in Dedup.minhashLshPairsManaged
    * and asserted equal to the expression form in DedupSpec. Hashing the
    * shingle once and chaining k cheap int-hashes is also why the kernel
    * beats re-hashing the string k times. Returns None if the text has
    * fewer than `shingleWidth` tokens. */
  def minhashSignatureJvm(text: String, k: Int, shingleWidth: Int): Option[Array[Long]] = {
    import org.apache.spark.sql.catalyst.expressions.XxHash64Function
    import org.apache.spark.sql.types.{IntegerType, StringType}
    import org.apache.spark.unsafe.types.UTF8String
    val toks = text.trim.split("\\s+")
    val nSh = toks.length - shingleWidth + 1
    if (nSh <= 0) None
    else {
      val sig = Array.fill(k)(Long.MaxValue)
      val sb = new StringBuilder
      var i = 0
      while (i < nSh) {
        sb.setLength(0)
        var w = 0
        while (w < shingleWidth) {
          if (w > 0) sb.append(' ')
          sb.append(toks(i + w)); w += 1
        }
        val base = XxHash64Function.hash(
          UTF8String.fromString(sb.toString), StringType, 42L)
        var f = 0
        while (f < k) {
          val h = XxHash64Function.hash(f, IntegerType, base)
          if (h < sig(f)) sig(f) = h
          f += 1
        }
        i += 1
      }
      Some(sig)
    }
  }

  /** JVM twin of `array_distinct(wordShingles(tokens(text), w))` — the
    * distinct shingle SET of a document, first-occurrence order. Built in
    * a tight loop because the expression form (transform + slice +
    * concat_ws per shingle) runs interpreted and allocates per element —
    * measured ~40 s for 5 000 long documents where this kernel takes ~2 s.
    * Same tokenization as [[minhashSignatureJvm]]; asserted equal to the
    * expression form (via the brute-force exactPairs test) in DedupSpec.
    * Returns None if the text has fewer than `w` tokens (the expression
    * form's empty array → the doc can never pair). */
  def shingleSetJvm(text: String, w: Int): Option[Array[String]] = {
    val toks = text.trim.split("\\s+")
    val n = toks.length - w + 1
    if (n <= 0) None
    else {
      val seen = new java.util.LinkedHashSet[String]()
      val sb = new StringBuilder
      var i = 0
      while (i < n) {
        sb.setLength(0)
        var k = 0
        while (k < w) {
          if (k > 0) sb.append(' ')
          sb.append(toks(i + k)); k += 1
        }
        seen.add(sb.toString); i += 1
      }
      Some(seen.toArray(new Array[String](seen.size())))
    }
  }

  /** 64-bit SimHash of a token-array column (referenced by name): per bit
    * position, each token votes +1/-1 with its hash's bit; the sign of the
    * vote total becomes that bit of the result. Near-identical texts land
    * within a small Hamming distance.
    *
    * Bit i of a token's hash is `parity((h1·r_i + h2·s_i) mod (2³¹−1))` —
    * a universal double-hashing derivation of 64 pairwise-independent bits
    * from two prime-field hashes ([[tokenHash31]], [[tokenHash131]]) and
    * the [[simhashBitMixers]] constants, chosen over a single 64-bit hash
    * so the arithmetic is ANSI-safe and exactly reproducible by the DuckDB
    * oracle (see d04 in TextQueries). Built as a SQL expression because
    * shiftleft needs a column-valued shift amount, which the Scala DSL
    * doesn't expose. */
  def simhashExpr(toksCol: String): Column = {
    val rArr = simhashBitMixers.map(_._1).mkString("array(", "L, ", "L)")
    val sArr = simhashBitMixers.map(_._2).mkString("array(", "L, ", "L)")
    expr(
      s"""aggregate(
         |  sequence(0, 63),
         |  named_struct('votes',
         |    aggregate(
         |      transform($toksCol, t -> named_struct(
         |        'h1', aggregate(filter(split(t, ''), c -> c != ''), 0L,
         |                (a, c) -> pmod(a * 31 + ascii(c), ${HashP1}L)),
         |        'h2', aggregate(filter(split(t, ''), c -> c != ''), 0L,
         |                (a, c) -> pmod(a * 131 + ascii(c), ${HashP2}L)))),
         |      array_repeat(0L, 64),
         |      (acc, h) -> zip_with(acc,
         |        transform(sequence(0, 63),
         |          i -> IF(pmod(h.h1 * element_at($rArr, i + 1)
         |                       + h.h2 * element_at($sArr, i + 1),
         |                 ${HashP3}L) % 2 = 1, 1L, -1L)),
         |        (a, b) -> a + b)),
         |    'h', 0L),
         |  (st, i) -> named_struct('votes', st.votes,
         |    'h', IF(st.votes[i] > 0, st.h | shiftleft(1L, i), st.h)),
         |  st -> st.h)""".stripMargin)
  }

  /** Hamming distance between two 64-bit SimHashes. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** JVM twin of [[simhashExpr]] — same tokenization, same double-hash bit
    * derivation, bit-identical output; used by the mapPartitions hot path
    * in Dedup.simhashPairsManaged and asserted equal to the expression form in
    * TextFunctionsSpec. Returns None for token-less text. */
  def simhash64Jvm(text: String): Option[Long] = {
    val toks = text.trim.split("\\s+").filter(_.nonEmpty)
    if (toks.isEmpty) None
    else {
      val votes = new Array[Long](64)
      toks.foreach { t =>
        val (h1, h2) = tokenHashPairJvm(t)
        var i = 0
        while (i < 64) {
          val (r, s) = simhashBitMixers(i)
          votes(i) += (if (((h1 * r + h2 * s) % HashP3) % 2 == 1L) 1L else -1L)
          i += 1
        }
      }
      var sh = 0L
      var i = 0
      while (i < 64) { if (votes(i) > 0) sh |= (1L << i); i += 1 }
      Some(sh)
    }
  }
}
