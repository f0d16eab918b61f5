package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Physical-layout operators: the write-side half of scan pruning.
  *
  * At 100 TB the scan cost of a query is decided before it runs, by how
  * the table was laid out: a table range-sorted on one key prunes on that
  * key only, while a Z-ORDERED table (interleaved bits of two keys) gives
  * every file a small bounding box in BOTH dimensions, so min/max row-group
  * stats prune two-dimensional predicates (the Delta/Iceberg OPTIMIZE
  * ZORDER discipline). And a table written as thousands of tiny files pays
  * per-file open/footer/listing cost on every scan — COMPACTION to
  * target-sized files is routine table maintenance, not an optimization.
  */
object Layout {

  /** Morton (Z-order) value of two non-negative keys, `bits` bits each,
    * interleaved x-low: closed-form shift/mask arithmetic — a plain
    * codegen'd map expression, no UDF. Keys are masked to `bits` (callers
    * hash or offset keys that can exceed the range; 21+21 bits keeps the
    * result well under 2⁶³). */
  def zValue(x: Column, y: Column, bits: Int = 21): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1,31], got $bits")
    val terms = (0 until bits).flatMap { i =>
      Seq(
        shiftleft(shiftright(x.cast("long"), i).bitwiseAND(lit(1L)), 2 * i),
        shiftleft(shiftright(y.cast("long"), i).bitwiseAND(lit(1L)), 2 * i + 1))
    }
    terms.reduce(_ + _)
  }

  /** SQL twin of [[zValue]] for oracle replay: the identical shift/mask
    * sum, rendered as one expression over column expressions `x` and `y`. */
  def zValueSql(x: String, y: String, bits: Int = 21): String =
    (0 until bits).flatMap { i =>
      Seq(s"(((($x) >> $i) & 1) << ${2 * i})",
        s"(((($y) >> $i) & 1) << ${2 * i + 1})")
    }.mkString(" + ")

  /** Sort `df` by the Z-value of two dimension columns — range partition +
    * in-partition sort, so each output partition (→ file, when written)
    * covers a contiguous Z range = a small bounding box in both dims. */
  def zorderBy(df: DataFrame, x: Column, y: Column, bits: Int = 21): DataFrame =
    df.orderBy(zValue(x, y, bits))

  /** Compact a parquet directory to ~`targetFileBytes` files: list actual
    * bytes (driver-side FS metadata only — never the data), round-robin
    * repartition to the file count that hits the target, rewrite, swap.
    * Round-robin (not coalesce) so output files are EVEN — coalesce glues
    * neighbors and preserves skew. Swap via rename keeps the window where
    * `path` is missing to milliseconds; readers mid-scan hold open handles
    * (posix) or retry (object stores version the prefix).
    *
    * `sortBy`: clustering-preserving mode. Round-robin SCATTERS rows, so
    * compacting a z-ordered (or range-sorted) table with the default would
    * silently destroy the min/max pruning layout the table paid a full
    * rewrite for. Pass the table's cluster expression (e.g.
    * `Seq(zValue($"x", $"y"))`) and compaction range-partitions + sorts on
    * it instead — every output file again covers a contiguous cluster
    * range. The trade: range partitioning samples the sort key, so file
    * sizes are even only as far as the key is unskewed.
    *
    * Returns (filesBefore, filesAfter). */
  def compact(spark: SparkSession, path: String, targetFileBytes: Long = 128L << 20,
              sortBy: Seq[Column] = Nil): (Int, Int) = {
    require(targetFileBytes > 0)
    val hadoopPath = new Path(path) // normalizes trailing '/'
    val fs = hadoopPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // crash recovery from a previous compact() of this table
    healParked(fs, hadoopPath, "._precompact", "compact")
    val parts = fs.listStatus(hadoopPath)
      .filter(f => f.isFile && f.getPath.getName.startsWith("part-"))
    // A hive-partitioned table has NO top-level part files — rewriting it
    // flat would silently destroy the very pruning layout this module is
    // for. Compact each leaf partition directory instead.
    require(parts.nonEmpty,
      s"compact: no part files directly under $path — for a partitioned " +
        "table, compact each leaf partition directory")
    val totalBytes = parts.map(_.getLen).sum
    val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
    // siblings via Path suffix (never string concat: a trailing slash in
    // `path` would nest the staging dirs inside the table)
    val tmp = hadoopPath.suffix("._compacting")
    val rows = spark.read.parquet(path)
    val shaped =
      if (sortBy.isEmpty) rows.repartition(nOut)
      else rows.repartitionByRange(nOut, sortBy: _*).sortWithinPartitions(sortBy: _*)
    shaped.write.mode("overwrite").parquet(tmp.toString)
    swapIn(fs, tmp, hadoopPath, "._precompact", "compact")
    (parts.length, nOut)
  }

  /** Compact every leaf partition directory of a hive-partitioned table —
    * the orchestration [[compact]] itself refuses (rewriting a partitioned
    * root flat would destroy the `col=value` directory pruning). Walks the
    * directory tree driver-side (FS metadata only), finds each leaf (a
    * directory holding `part-*` files), and runs [[compact]] on it, so each
    * leaf gets compact's full crash-recovery contract. A leaf whose
    * PREVIOUS compaction died mid-swap (its data parked under
    * `leaf._precompact`, the leaf itself possibly missing) is detected
    * during the walk and handed to [[compact]], which restores before
    * rewriting — a crashed run never hides a partition from the next one.
    *
    * An unpartitioned root (part files at top level) degenerates to a
    * single-leaf walk = plain [[compact]]. `sortBy` is applied per leaf
    * (partition columns are constant within a leaf, so cluster expressions
    * over data columns mean the same thing they meant at write time).
    *
    * Returns one `(leafPath, filesBefore, filesAfter)` per leaf, sorted by
    * path for deterministic reporting. Driver-side listing cost is one
    * `listStatus` per directory — at 100 TB the rewrite jobs dominate;
    * leaves are compacted sequentially so each rewrite gets the whole
    * cluster (parallelizing leaves would just slice the same executors). */
  def compactPartitioned(spark: SparkSession, root: String,
                         targetFileBytes: Long = 128L << 20,
                         sortBy: Seq[Column] = Nil): Seq[(String, Int, Int)] = {
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the crashed leaf can be the ROOT itself (unpartitioned table, crash
    // between compact's two renames): its ._precompact marker is a SIBLING
    // of root, outside the walk — restore it here or the table stays
    // hidden from every future call
    healParked(fs, rootPath, "._precompact", "compactPartitioned")
    require(fs.exists(rootPath), s"compactPartitioned: $root does not exist")
    def leaves(p: Path): Seq[Path] = {
      val st = fs.listStatus(p)
      // a `<leaf>._precompact` sibling marks a leaf whose compaction
      // crashed mid-swap: surface the ORIGINAL leaf path (it may not exist
      // right now) — compact()'s recovery preamble restores it. Stale
      // `._compacting` staging dirs are skipped; compact overwrites them.
      val crashed = st.filter(s => s.isDirectory &&
          s.getPath.getName.endsWith("._precompact"))
        .map(s => new Path(p,
          s.getPath.getName.stripSuffix("._precompact")))
      val visible = st.filter { s =>
        val n = s.getPath.getName
        !n.startsWith("_") && !n.startsWith(".") &&
          !n.endsWith("._precompact") && !n.endsWith("._compacting")
      }
      val isLeaf = visible.exists(s => s.isFile && s.getPath.getName.startsWith("part-"))
      val here =
        if (isLeaf) Seq(p)
        else visible.filter(_.isDirectory).flatMap(d => leaves(d.getPath)).toSeq
      (here ++ crashed).distinct
    }
    val ls = leaves(rootPath).sortBy(_.toString)
    require(ls.nonEmpty, s"compactPartitioned: no parquet leaves under $root")
    ls.map { l =>
      val (before, after) = compact(spark, l.toString, targetFileBytes, sortBy)
      (l.toString, before, after)
    }
  }

  /** Swap the directory `staged` in at `live` by rename: park `live`
    * under its `suffix` sibling, rename `staged` into its place, drop the
    * parked copy. A failed swap-in renames the parked copy back before it
    * fails, so `live` is never left missing; a crash between the renames
    * is healed by [[healParked]]. `what` names the caller in errors. */
  private[graft] def swapIn(fs: FileSystem, staged: Path, live: Path,
                            suffix: String, what: String): Unit = {
    val parked = live.suffix(suffix)
    if (fs.exists(live) && !fs.rename(live, parked))
      sys.error(s"$what: cannot park $live")
    if (!fs.rename(staged, live)) {
      fs.rename(parked, live)
      sys.error(s"$what: cannot swap in $staged")
    }
    fs.delete(parked, true)
  }

  /** Heal a [[swapIn]] that crashed: a parked `suffix` sibling of `live`
    * is restored when `live` is missing (the crash hit between the two
    * renames) and dropped when `live` is present (it hit after the swap).
    * Either way a leftover never wedges the next swap. */
  private[graft] def healParked(fs: FileSystem, live: Path, suffix: String,
                                what: String): Unit = {
    val parked = live.suffix(suffix)
    if (fs.exists(parked)) {
      if (!fs.exists(live)) {
        if (!fs.rename(parked, live))
          sys.error(s"$what: cannot restore $parked after crashed swap")
      } else fs.delete(parked, true)
    }
  }
}
