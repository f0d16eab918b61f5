package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

/** Whole-operator custom plan (SURVEY §7.3 ladder rung (c)): per-key top-k
  * via bounded heaps — logical node + planner Strategy + physical exec,
  * injected through `SparkSessionExtensions` ([[graft.plans.GraftExtensions]]).
  *
  * Why a custom operator where (a)-compose fails: the declarative form
  * `row_number().over(Window.partitionBy(key).orderBy(ord)) <= k` must SORT
  * every key group in full — at 100 TB that is a total sort of the fact
  * table just to discard all but k rows per key. This operator keeps one
  * k-bounded binary heap per key per partition in the PARTIAL pass:
  * O(n log k) compares, no sort of the input, and — because the final
  * [[TopKPerKeyExec]] declares `requiredChildDistribution =
  * ClusteredDistribution(key)` — exactly the one hash shuffle the
  * aggregation would have needed anyway. [[TopKStrategy]] plants the
  * PARTIAL exec below the exchange (top-k of per-partition top-k = global
  * top-k, the partial-aggregation identity), so the shuffle carries at most
  * k × distinct-keys rows per input partition instead of the whole fact
  * table — at 100 TB the shuffle, not the compare count, is the bill.
  *
  * MEMORY (the 100-TB failure mode this design closes): a per-key heap map
  * is O(k × distinct-keys-per-partition) — on a skewed or near-unique key
  * that degenerates to "most of the partition in a HashMap", outside
  * Spark's TaskMemoryManager and un-spillable. Two containment measures:
  *  - The PARTIAL pass tracks retained rows AND retained UnsafeRow bytes;
  *    when either crosses its bound (`spark.graft.topk.partialFlushRows`,
  *    default 4M rows / `spark.graft.topk.partialFlushBytes`, default
  *    256 MiB) it FLUSHES: emits every current heap downstream and resets.
  *    Correctness is unaffected — each flushed segment contributes its own
  *    per-key top-k, any row in the partition's true top-k is in the top-k
  *    of whichever segment contains it, and the final pass re-merges — the
  *    flush only costs shuffle volume (bounded by one extra k rows per key
  *    per flush), never answers.
  *  - The FINAL pass holds no map at all: it declares
  *    `requiredChildOrdering = key ++ order`, so EnsureRequirements plants
  *    a spill-capable [[org.apache.spark.sql.execution.SortExec]] above the
  *    exchange (sorting only the ≤ k × keys surviving rows, not the fact
  *    table), and the exec streams each key group taking the first k —
  *    O(k) working memory regardless of key cardinality.
  *
  * DETERMINISM: callers must supply a TOTAL order (tie columns included) or
  * ties at the k-boundary are partition-order dependent — same contract as
  * every pinned-winner operator in this engine (SURVEY §2.4 A4/A7).
  */
final case class TopKPerKey(k: Int, key: Seq[Expression], order: Seq[SortOrder],
                            child: LogicalPlan) extends UnaryNode {
  require(k > 0, s"k must be positive, got $k")
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKey =
    copy(child = newChild)
}

final case class TopKPerKeyExec(k: Int, key: Seq[Expression], order: Seq[SortOrder],
                                child: SparkPlan, partial: Boolean = false)
    extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  // the partial pass runs on whatever partitioning the child has (its
  // output is a superset of the per-key winners); only the final pass
  // needs key-clustering
  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) super.requiredChildDistribution
    else ClusteredDistribution(key) :: Nil
  private def keyOrders: Seq[SortOrder] = key.map(SortOrder(_, Ascending))
  // final pass streams sorted key groups (O(k) memory); the sort it asks
  // for is over the partial pass's ≤ k×keys survivors and spills via
  // SortExec if even that exceeds task memory
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    if (partial) Seq(Nil) else Seq(keyOrders ++ order)
  override def outputOrdering: Seq[SortOrder] =
    if (partial) Nil else keyOrders ++ order
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def nodeName: String =
    if (partial) "TopKPerKeyPartial" else "TopKPerKey"

  private def rowBytes(r: InternalRow): Long = r match {
    case u: UnsafeRow => u.getSizeInBytes.toLong
    case _ => 64L // conservative fallback; child.execute() emits UnsafeRows
  }

  override protected def doExecute(): RDD[InternalRow] = {
    val kLocal = k
    val keyExprs = key
    val sortOrder = order
    val childOutput = child.output
    if (partial) {
      val flushRows = math.max(kLocal.toLong,
        conf.getConfString("spark.graft.topk.partialFlushRows", "4194304").toLong)
      val flushBytes = math.max(1024L,
        conf.getConfString("spark.graft.topk.partialFlushBytes",
          (256L * 1024 * 1024).toString).toLong)
      child.execute().mapPartitions { iter =>
        val keyProj = UnsafeProjection.create(keyExprs, childOutput)
        val ord = RowOrdering.create(sortOrder, childOutput)
        // max-heap on the sort order: the head is the WORST kept row,
        // evicted when a better one arrives. Rows/keys are copied on
        // retention only (the iterator reuses its row object).
        val heapCmp = ord.reversed()
        new Iterator[InternalRow] {
          private val heaps =
            new java.util.HashMap[UnsafeRow, java.util.PriorityQueue[InternalRow]]()
          private var retainedRows = 0L
          private var retainedBytes = 0L
          private var out: java.util.Iterator[InternalRow] =
            java.util.Collections.emptyIterator()

          private def drain(): Unit = {
            val all = new java.util.ArrayList[InternalRow](
              math.min(retainedRows, (Int.MaxValue >> 1).toLong).toInt)
            val it = heaps.values().iterator()
            while (it.hasNext) all.addAll(it.next())
            heaps.clear(); retainedRows = 0L; retainedBytes = 0L
            out = all.iterator()
          }

          // fill heaps until the input is exhausted or a memory bound trips,
          // then hand the current winners downstream and reset
          private def consume(): Unit = {
            while (iter.hasNext && retainedRows < flushRows &&
                retainedBytes < flushBytes) {
              val row = iter.next()
              val kRow = keyProj(row)
              var heap = heaps.get(kRow)
              if (heap == null) {
                heap = new java.util.PriorityQueue[InternalRow](kLocal + 1, heapCmp)
                val kCopy = kRow.copy()
                heaps.put(kCopy, heap)
                retainedBytes += kCopy.getSizeInBytes.toLong
              }
              if (heap.size < kLocal) {
                val c = row.copy()
                heap.add(c); retainedRows += 1; retainedBytes += rowBytes(c)
              } else if (ord.compare(row, heap.peek()) < 0) {
                retainedBytes -= rowBytes(heap.poll())
                val c = row.copy()
                heap.add(c); retainedBytes += rowBytes(c)
              }
            }
            drain()
          }

          override def hasNext: Boolean = {
            while (!out.hasNext && iter.hasNext) consume()
            out.hasNext
          }
          override def next(): InternalRow = {
            if (!hasNext) throw new NoSuchElementException("empty iterator")
            out.next()
          }
        }
      }
    } else {
      // input is key-clustered AND (key ++ order)-sorted: each key group is
      // contiguous and already in rank order — emit the first k per group
      child.execute().mapPartitions { iter =>
        val keyProj = UnsafeProjection.create(keyExprs, childOutput)
        var curKey: UnsafeRow = null
        var taken = 0
        iter.filter { row =>
          val kRow = keyProj(row)
          if (curKey == null || kRow != curKey) { curKey = kRow.copy(); taken = 0 }
          taken += 1
          taken <= kLocal
        }
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyExec =
    copy(child = newChild)
}

/** Plans [[TopKPerKey]] to [[TopKPerKeyExec]]; matches nothing else, so it
  * cannot perturb any other query's planning. */
object TopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKey(k, key, order, child) =>
      // partial below the exchange, final above — the exchange (inserted by
      // EnsureRequirements for the final's distribution) then moves at most
      // k rows per key per input partition
      TopKPerKeyExec(k, key, order,
        TopKPerKeyExec(k, key, order, planLater(child), partial = true)) :: Nil
    case _ => Nil
  }
}

/** Public API: `TopK.perKey(df, keys, orderBy, k)` — column names resolved
  * against the analyzed child so the wrapped plan needs no further
  * analysis. `orderBy` entries are (column, ascending). */
object TopK {
  def perKey(df: DataFrame, keys: Seq[String], orderBy: Seq[(String, Boolean)],
             k: Int): DataFrame = {
    val spark = df.sparkSession
    val analyzed = df.queryExecution.analyzed
    def attr(name: String): Attribute =
      analyzed.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(
          s"column $name not in ${analyzed.output.map(_.name).mkString(", ")}"))
    // Normalize float/double keys (-0.0 == 0.0, canonical NaN) exactly as
    // Spark does for join/window/agg keys — otherwise the heap grouping and
    // the hash shuffle would treat 0.0 and -0.0 as distinct keys and break
    // parity with the window formulation. (NormalizeFloatingNumbers.
    // normalize is private[sql]; same construction, top-level types only.)
    val keyExprs: Seq[Expression] = keys.map(attr).map { a =>
      a.dataType match {
        case org.apache.spark.sql.types.DoubleType |
             org.apache.spark.sql.types.FloatType =>
          KnownFloatingPointNormalized(
            org.apache.spark.sql.catalyst.optimizer.NormalizeNaNAndZero(a))
        case _ => a
      }
    }
    val sortOrders = orderBy.map { case (name, asc) =>
      SortOrder(attr(name), if (asc) Ascending else Descending)
    }
    GraftSqlBridge.ofRows(spark, TopKPerKey(k, keyExprs, sortOrders, analyzed))
  }

  /** Convenience: the declarative window formulation of the same result —
    * used by specs to assert exact parity. */
  def perKeyWindow(df: DataFrame, keys: Seq[String],
                   orderBy: Seq[(String, Boolean)], k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val ordCols: Seq[Column] = orderBy.map { case (n, asc) =>
      if (asc) col(n).asc else col(n).desc }
    val w = Window.partitionBy(keys.map(col): _*).orderBy(ordCols: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k).drop("__rn")
  }
}
