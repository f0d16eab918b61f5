package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: the DISTINCT 64-bit hashes of a document's
  * sliding w-token windows, in one pass over the raw text bytes.
  *
  * `ngram_hashes(text, w)` ≡ the HOF formulation
  * `array_distinct(transform(sequence(0, size(tk)-w), i ->
  *    xxhash64(concat_ws(" ", slice(tk, i+1, w)))))` over
  * `tk = filter(split(text, " "), t -> t != "")` — same tokenization
  * (maximal runs of non-space bytes), same window set, same distinctness.
  * Hash VALUES differ from the HOF form (we hash the window's raw bytes
  * directly rather than xxhash64's struct serialization), which is fine for
  * every consumer: the hashes are join/group keys whose identity, not value,
  * carries the semantics (the oracle groups by the gram STRING).
  *
  * Why a custom Expression (SURVEY §7.3 policy — custom Catalyst only where
  * built-ins genuinely can't):
  *  1. The HOF form materializes, PER ROW, a token array, a lambda-driven
  *     window array, and one sliced array + concat string per window. This
  *     kernel hashes windows straight out of one byte buffer — the only
  *     allocations are one bounded scratch buffer and the result array.
  *  2. Lambda-bearing subtrees (`NamedLambdaVariable` carries a fresh
  *     expression id) defeat plan canonicalization, so two consumers of the
  *     same gram frame could never share an exchange (`ReusedExchange x0`
  *     was the measured result — the whole subplan ran twice). A plain
  *     expression canonicalizes structurally and exchange reuse works.
  *
  * Tokenization note: scanning raw UTF-8 for 0x20 is exact — in UTF-8 no
  * continuation byte of a multi-byte code point can equal the space byte.
  */
case class NgramHashes(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == IntegerType &&
        right.foldable)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "ngram_hashes requires (string, int literal), got " +
        s"${left.dataType.simpleString}, ${right.dataType.simpleString}")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "ngram_hashes"

  override def nullSafeEval(text: Any, w: Any): Any =
    NgramHashes.compute(text.asInstanceOf[UTF8String], w.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, w) =>
      s"${ev.value} = graft.plans.NgramHashes.compute($t, $w);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): NgramHashes =
    copy(left = newLeft, right = newRight)
}

object NgramHashes {

  /** One pass: find token extents, then hash each w-token window (tokens
    * joined by a single 0x20) from a reusable scratch buffer; sort + unique
    * the hashes. Seed 42L = Spark's xxhash64 default, cosmetic only. */
  def compute(text: UTF8String, w: Int): ArrayData = {
    require(w >= 1, s"ngram_hashes window must be >= 1, got $w")
    val bytes = text.getBytes
    val n = bytes.length
    // token extents as (start, end) pairs packed into two growing arrays
    var cap = 16
    var starts = new Array[Int](cap)
    var ends = new Array[Int](cap)
    var nTok = 0
    var i = 0
    while (i < n) {
      while (i < n && bytes(i) == ' ') i += 1
      if (i < n) {
        val s = i
        while (i < n && bytes(i) != ' ') i += 1
        if (nTok == cap) {
          cap *= 2
          starts = java.util.Arrays.copyOf(starts, cap)
          ends = java.util.Arrays.copyOf(ends, cap)
        }
        starts(nTok) = s
        ends(nTok) = i
        nTok += 1
      }
    }
    if (nTok < w) return new GenericArrayData(Array.emptyLongArray)
    val k = nTok - w + 1
    // scratch sized to the longest window (token bytes + w-1 separators)
    var maxWin = 0
    i = 0
    while (i < k) {
      val len = ends(i + w - 1) - starts(i) // superset bound incl. orig gaps
      if (len > maxWin) maxWin = len
      i += 1
    }
    val scratch = new Array[Byte](maxWin + w)
    val hashes = new Array[Long](k)
    i = 0
    while (i < k) {
      var pos = 0
      var j = i
      while (j < i + w) {
        if (j > i) { scratch(pos) = ' '; pos += 1 }
        val tl = ends(j) - starts(j)
        System.arraycopy(bytes, starts(j), scratch, pos, tl)
        pos += tl
        j += 1
      }
      hashes(i) = XXH64.hashUnsafeBytes(scratch, Platform.BYTE_ARRAY_OFFSET, pos, 42L)
      i += 1
    }
    java.util.Arrays.sort(hashes)
    var out = 1
    i = 1
    while (i < k) {
      if (hashes(i) != hashes(i - 1)) { hashes(out) = hashes(i); out += 1 }
      i += 1
    }
    new GenericArrayData(
      if (out == k) hashes else java.util.Arrays.copyOf(hashes, out))
  }

  val info: ExpressionInfo = new ExpressionInfo(
    classOf[NgramHashes].getName, null, "ngram_hashes",
    "_FUNC_(text, w) - distinct 64-bit hashes of the text's sliding w-token windows.",
    "")
}
