package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}
import graft.operators.Layout

/** The on-disk protocol under both keyed streaming sinks
  * ([[ExactlyOnceSink]], [[IncrementalAggSink]]): each sink supplies only
  * its merge, and this store makes every micro-batch apply exactly once.
  *
  * Layout under `root`:
  *  - `state/_bucket=<i>`: hash-bucketed parquet state,
  *    `_bucket = pmod(xxhash64(keys), nBuckets)`. A batch reads and
  *    rewrites only the buckets its keys touch, so work per batch follows
  *    the batch's key spread, not the accumulated state.
  *  - `_commits/<appId>-<batchId>`: the batch ledger, written after every
  *    touched bucket is swapped in. A ledgered batch is skipped whole.
  *  - `state._staging`: the merged content of one batch's touched buckets,
  *    written before the swap and deleted after it.
  *
  * Each staged bucket carries an `_applied-<appId>-<batchId>` marker file
  * that moves with the directory rename. A re-apply after a crash between
  * "some buckets swapped" and "ledger written" skips the buckets that
  * already carry the batch's marker and merges only the rest, so a merge
  * that is not idempotent (a metric fold) still converges. Buckets swap
  * by [[Layout.swapIn]] (stage → park under `._old` → rename → drop), and
  * the next call heals a swap that crashed half-way ([[Layout.healParked]])
  * before anything else. Spark ignores `_`-prefixed files in a parquet
  * directory, and serializes foreachBatch calls, so one marker generation
  * is live per bucket.
  *
  * @param appId ledger namespace, the Delta `txnAppId` discipline:
  *              batchIds are only unique within one streaming query's
  *              checkpoint lineage, and a stream restarted from a fresh
  *              checkpoint restarts them at 0. New checkpoint ⇒ new appId
  *              (or new root); the ledger and the markers key on
  *              (appId, batchId).
  */
private[streaming] final case class BucketedState(root: String, keys: Seq[String],
                                                  nBuckets: Int, appId: String) {
  require(keys.nonEmpty, "a keyed sink needs at least one key column")
  require(nBuckets >= 1, s"nBuckets must be positive, got $nBuckets")
  require(appId.nonEmpty && !appId.contains("/"),
    s"appId must be a plain token, got '$appId'")

  private val Parked = "._old"
  private val statePath = new Path(root, "state")
  private val commitsPath = new Path(root, "_commits")
  private def bucketDir(i: Long) = new Path(statePath, s"_bucket=$i")
  private def markerName(batchId: Long) = s"_applied-$appId-$batchId"
  private def fs(spark: SparkSession) =
    statePath.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** True iff (appId, batchId) has fully applied (ledger entry on disk). */
  def committed(spark: SparkSession, batchId: Long): Boolean =
    fs(spark).exists(new Path(commitsPath, s"$appId-$batchId"))

  /** The stored rows, `_bucket` dropped. Live buckets only: a parked
    * `._old` directory from a mid-swap crash is never read, so a reader
    * between the crash and the healing next batch sees each row at most
    * once. A bucket holding only its marker (every key retracted) is
    * skipped, and with no data on disk this is the zero-column empty
    * frame, not a schema-inference error. */
  def read(spark: SparkSession): DataFrame = {
    val f = fs(spark)
    val live =
      if (!f.exists(statePath)) Array.empty[Path]
      else f.listStatus(statePath).map(_.getPath).filter { p =>
        p.getName.startsWith("_bucket=") && !p.getName.endsWith(Parked) &&
          hasDataFiles(f, p)
      }
    if (live.isEmpty) spark.emptyDataFrame
    else spark.read.option("basePath", statePath.toString)
      .parquet(live.map(_.toString).toSeq: _*).drop("_bucket")
  }

  /** Apply one micro-batch. `parts`, built only for an unledgered batch,
    * are the batch's keyed frames: each gets its `_bucket` column and
    * stays persisted for the call. `merge(current, parts)` builds the new
    * content of the buckets left to apply, from their stored rows (None
    * when none holds data) and `parts` restricted to those buckets.
    * Returns false, doing nothing, on a post-commit replay. */
  def apply(spark: SparkSession, batchId: Long)(parts: => Seq[DataFrame])(
      merge: (Option[DataFrame], Seq[DataFrame]) => DataFrame): Boolean = {
    val f = fs(spark)
    f.mkdirs(commitsPath); f.mkdirs(statePath)
    healParkedBuckets(f)
    if (committed(spark, batchId)) return false

    val bucketed = parts.map(_.withColumn("_bucket",
      pmod(xxhash64(keys.map(col): _*), lit(nBuckets.toLong))).persist())
    try {
      val touched = bucketed.map(_.select("_bucket")).reduce(_ unionByName _)
        .distinct().collect().map(_.getLong(0)).sorted
      // buckets this batch already swapped in (a pre-ledger crash re-apply)
      val remaining = touched.filterNot { i =>
        f.exists(new Path(bucketDir(i), markerName(batchId)))
      }
      if (remaining.nonEmpty) {
        val existing = remaining.filter(i => hasDataFiles(f, bucketDir(i)))
        val current =
          if (existing.isEmpty) None
          else Some(spark.read.option("basePath", statePath.toString)
            .parquet(existing.map(bucketDir(_).toString).toSeq: _*))
        val left = col("_bucket").isin(remaining.toSeq: _*)
        val staging = new Path(root, "state._staging")
        merge(current, bucketed.map(_.filter(left)))
          .write.mode("overwrite").partitionBy("_bucket")
          .parquet(staging.toString)
        remaining.foreach { i =>
          val staged = new Path(staging, s"_bucket=$i")
          // a bucket can lose every key (full retraction): no staged data
          f.mkdirs(staged)
          f.create(new Path(staged, markerName(batchId)), true).close()
          Layout.swapIn(f, staged, bucketDir(i), Parked, "sink")
        }
        f.delete(staging, true)
      }
      markCommitted(f, batchId)
      true
    } finally bucketed.foreach(_.unpersist())
  }

  /** Wire `apply` onto a streaming frame: foreachBatch with a checkpoint,
    * the replayable-source half of the contract (Spark redelivers the
    * same batchId with the same rows after a failure; the ledger and the
    * markers absorb the redelivery). */
  def start(stream: DataFrame, checkpointDir: String, mode: OutputMode)(
      apply: (DataFrame, Long) => Boolean): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(mode)
      .foreachBatch((b: Dataset[Row], id: Long) => { apply(b, id); () })
      .start()

  /** True iff `dir` exists and holds at least one parquet data file
    * (markers and hidden files don't count). */
  private def hasDataFiles(f: FileSystem, dir: Path): Boolean =
    f.exists(dir) && f.listStatus(dir).exists { c =>
      val n = c.getPath.getName
      c.isFile && n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
    }

  /** Heal a swap that crashed in a previous call: each parked bucket is
    * restored or dropped, and the unledgered batch then re-applies. */
  private def healParkedBuckets(f: FileSystem): Unit =
    f.listStatus(statePath).filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.endsWith(Parked)).foreach { n =>
        Layout.healParked(f, new Path(statePath, n.stripSuffix(Parked)),
          Parked, "sink")
      }

  private def markCommitted(f: FileSystem, batchId: Long): Unit =
    f.create(new Path(commitsPath, s"$appId-$batchId"), true).close()
}
