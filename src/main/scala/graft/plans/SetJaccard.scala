package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: Jaccard similarity |A∩B| / |A∪B| of two
  * `array<string>` columns in one merge scan (set semantics — duplicates
  * and null elements handled exactly like `array_intersect`/`array_union`).
  *
  * Why a custom Expression (SURVEY §7.3 policy): the declarative form
  * `size(array_intersect(a, b)) / size(array_union(a, b))` builds hash sets
  * AND materializes two intermediate arrays per evaluation — and the
  * exact-verification stage of [[graft.operators.Dedup.minhashExactPairsManaged]]
  * evaluates it once per surviving candidate pair, each carrying two
  * multi-KB shingle arrays. The merge scan reads the unsafe array data in
  * place and allocates nothing (sorted path), inside whole-stage codegen.
  *
  * Two modes:
  *  - `assumeSorted = true` (the `set_jaccard` SQL function): inputs must
  *    be sorted ascending in Spark's binary UTF8String order, nulls last —
  *    what `array_sort(e)` and [[SetJaccard.sortedUtf8]] produce. The
  *    Dedup kernel sorts each document's shingle set ONCE at construction,
  *    so the per-pair cost is the pure zero-allocation merge. Unsorted
  *    input yields undefined counts — that is the documented contract.
  *  - `assumeSorted = false` (what [[FuseSetJaccard]] rewrites to): the
  *    kernel hash-probes both sides per row (two sets, one pass each) —
  *    the same set-building work the intersect/union chain does, minus
  *    its two materialized result arrays — safe for arbitrary input.
  *
  * Empty union (both arrays empty): ANSI raises the SAME error the unfused
  * `Divide` would raise — `SparkArithmeticException` with error class
  * DIVIDE_BY_ZERO, query context and the try_divide hint, via
  * [[SupportQueryContext]] exactly like `DivModLike` — so [[FuseSetJaccard]]
  * never changes the user-visible failure. Non-ANSI/TRY yields NULL.
  */
case class SetJaccard(left: Expression, right: Expression,
                      assumeSorted: Boolean, failOnError: Boolean)
    extends BinaryExpression with SupportQueryContext {

  def this(left: Expression, right: Expression) =
    this(left, right, assumeSorted = true, failOnError = SQLConf.get.ansiEnabled)

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(StringType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"set_jaccard requires two array<string> arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "set_jaccard"
  override def nullable: Boolean = true

  override def initQueryContext(): Option[org.apache.spark.QueryContext] =
    if (failOnError) Some(origin.context) else None

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]; val b = r.asInstanceOf[ArrayData]
    val v = if (assumeSorted) SetJaccardKernel.sortedMerge(a, b)
            else SetJaccardKernel.unsorted(a, b)
    if (v < 0.0) {
      if (failOnError) {
        throw org.apache.spark.sql.GraftSqlBridge
          .divideByZeroError(getContextOrNull())
      } else null
    } else v
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val m = if (assumeSorted) "sortedMerge" else "unsorted"
      val v = ctx.freshName("jac")
      val onEmpty =
        if (failOnError) {
          val errCtx = getContextOrNullCode(ctx, failOnError)
          "throw org.apache.spark.sql.errors.QueryExecutionErrors" +
            s".divideByZeroError($errCtx);"
        } else s"${ev.isNull} = true;"
      s"""
         |double $v = graft.plans.SetJaccardKernel.$m($x, $y);
         |if ($v < 0.0) {
         |  $onEmpty
         |} else {
         |  ${ev.value} = $v;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SetJaccard =
    copy(left = newLeft, right = newRight)
}

/** The merge kernel, as a top-level object so codegen calls its static
  * forwarders directly (JIT-inlined; no codegen-time source stitching). */
object SetJaccardKernel {

  /** Element compare consistent with array_sort: nulls last, binary UTF8. */
  private def cmp(a: ArrayData, i: Int, b: ArrayData, j: Int): Int = {
    val an = a.isNullAt(i); val bn = b.isNullAt(j)
    if (an && bn) 0
    else if (an) 1
    else if (bn) -1
    else a.getUTF8String(i).compareTo(b.getUTF8String(j))
  }
  private def advance(a: ArrayData, n: Int, i0: Int): Int = {
    var i = i0 + 1
    while (i < n && cmp(a, i, a, i0) == 0) i += 1
    i
  }

  /** Jaccard of two SORTED arrays; -1.0 signals the empty union. */
  def sortedMerge(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements(); val nb = b.numElements()
    var i = 0; var j = 0; var inter = 0L; var uni = 0L
    while (i < na || j < nb) {
      val c = if (i >= na) 1 else if (j >= nb) -1 else cmp(a, i, b, j)
      if (c < 0) { uni += 1; i = advance(a, na, i) }
      else if (c > 0) { uni += 1; j = advance(b, nb, j) }
      else { inter += 1; uni += 1; i = advance(a, na, i); j = advance(b, nb, j) }
    }
    if (uni == 0L) -1.0 else inter.toDouble / uni
  }

  /** Jaccard of two UNSORTED arrays; -1.0 = empty union. Hash-based (two
    * probe sets, single pass per side, null = a distinct element — the
    * array_intersect/array_union null semantics): no sort, and unlike the
    * declarative intersect/union chain, no result arrays materialized. */
  def unsorted(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements(); val nb = b.numElements()
    val setA = new java.util.HashSet[UTF8String](na * 2)
    var i = 0
    while (i < na) {
      setA.add(if (a.isNullAt(i)) null else a.getUTF8String(i))
      i += 1
    }
    val setB = new java.util.HashSet[UTF8String](nb * 2)
    var inter = 0L
    var j = 0
    while (j < nb) {
      val e = if (b.isNullAt(j)) null else b.getUTF8String(j)
      if (setB.add(e) && setA.contains(e)) inter += 1
      j += 1
    }
    val uni = setA.size.toLong + setB.size.toLong - inter
    if (uni == 0L) -1.0 else inter.toDouble / uni
  }
}

object SetJaccard {
  val info: ExpressionInfo = new ExpressionInfo(
    classOf[SetJaccard].getName, null, "set_jaccard",
    "_FUNC_(a, b) - Jaccard similarity of two SORTED string arrays " +
      "(set semantics; sort with array_sort first).",
    "")

  /** JVM-side sort in exactly the expression's element order (binary UTF-8
    * ascending, nulls LAST — the same order `array_sort` uses for strings)
    * — for kernels that build per-document sets once and compare them
    * per-pair many times. Null-safe, matching the merge kernel's contract. */
  def sortedUtf8(a: Array[String]): Array[String] = {
    val u = a.map(UTF8String.fromString) // fromString(null) == null
    java.util.Arrays.sort(u, new java.util.Comparator[UTF8String] {
      override def compare(x: UTF8String, y: UTF8String): Int =
        if (x == null && y == null) 0
        else if (x == null) 1
        else if (y == null) -1
        else x.compareTo(y)
    })
    u.map(s => if (s == null) null else s.toString)
  }
}

/** Optimizer rule: fuse `size(array_intersect(a, b)) / size(array_union(a, b))`
  * into `set_jaccard` (self-sorting mode) — one merge scan, no intermediate
  * intersect/union arrays, whole-stage-codegen'd.
  *
  * Fires only when the rewrite is semantics-preserving bit for bit:
  *  - both `size` calls are non-legacy (legacySizeOfNull would turn a NULL
  *    array into -1/-1 = 1.0; the fused form propagates NULL);
  *  - element type is string (the only merge order implemented);
  *  - the intersect/union argument pairs are semantically the same two
  *    arrays (either orientation — ∩ and ∪ are commutative);
  *  - the division's evalMode transfers to the fused empty-union behavior
  *    (ANSI → division-by-zero error, LEGACY/TRY → NULL).
  * Set cardinalities (dup-skipping merge) match array_intersect/
  * array_union's distinct semantics for any input, including duplicate and
  * null elements (nulls compare equal; position follows array_sort's
  * nulls-last order).
  */
object FuseSetJaccard extends Rule[LogicalPlan] {

  private def stripToDouble(e: Expression): Expression = e match {
    case c: Cast if c.dataType == DoubleType => c.child
    case _ => e
  }
  private def isStringArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(StringType, _) => true
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case d @ Divide(l, r, mode) =>
      (stripToDouble(l), stripToDouble(r)) match {
        case (Size(ArrayIntersect(a1, b1), false), Size(ArrayUnion(a2, b2), false))
            if isStringArray(a1) && isStringArray(b1) &&
              ((a1.semanticEquals(a2) && b1.semanticEquals(b2)) ||
                (a1.semanticEquals(b2) && b1.semanticEquals(a2))) =>
          SetJaccard(a1, b1, assumeSorted = false,
            failOnError = mode.evalMode == EvalMode.ANSI)
        case _ => d
      }
  }
}
