package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface over the `events` schema (SURVEY §7.4: the
  * reference is pure batch; this is the incremental facade the testdata
  * `events` table implies).
  *
  * Each transform takes any events-shaped DataFrame — batch or streaming —
  * so the same logic is testable in batch and runs incrementally with
  * watermarked state when the input is a stream (the Dataset API's
  * batch/stream unification).
  */
object EventStreams {

  /** Tumbling-window counts + value sums per event type, 10-minute
    * watermark: late events beyond it are dropped and state is evicted —
    * bounded state at any scale. */
  def windowedTypeCounts(events: DataFrame, windowLen: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"),
              col("window.end").as("window_end"),
              col("event_type"), col("n"), col("sum_value"))

  /** Per-user session windows (gap-based). */
  def userSessions(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("session_value"))
      .select(col("session_window.start").as("session_start"),
              col("session_window.end").as("session_end"),
              col("user_id"), col("n_events"), col("session_value"))

  /** Wire a streaming source of the events schema from a directory of
    * parquet files (one-file-per-trigger for deterministic replay).
    * Normalizes `ts` to Spark's microsecond TimestampType whatever the
    * files' physical encoding, same as the batch loader: the footer of the
    * first file present decides the read schema (a landing directory's
    * files share one producer schema; a MIXED-encoding directory is a
    * producer bug the batch canary catches). An EMPTY landing directory —
    * the normal state before the producer's first drop — wires with the
    * current-producer (micros) schema rather than failing: a stream must
    * be startable before data exists. */
  def readEventStream(spark: SparkSession, dir: String): DataFrame = {
    import graft.io.Tables.TsEncoding
    import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
    // Empty AND missing landing directories both wire with the
    // current-producer (micros, unadjusted) schema: "startable before data
    // exists" must hold whether the producer has created the directory yet
    // or not (a missing dir surfaces as FileNotFoundException from the
    // footer probe, not IllegalArgumentException — r8 advice). Spark's file
    // source itself refuses a missing path even with an explicit schema, so
    // the missing case also CREATES the landing dir — the consumer claiming
    // the mailbox before the producer's first drop, on whatever Hadoop
    // filesystem the path names.
    (try graft.io.Tables.tsEncoding(spark, dir)
     catch {
       case e @ (_: IllegalArgumentException | _: java.io.FileNotFoundException) =>
         if (e.isInstanceOf[java.io.FileNotFoundException]) {
           val p = new org.apache.hadoop.fs.Path(dir)
           p.getFileSystem(spark.sessionState.newHadoopConf()).mkdirs(p)
         }
         TsEncoding(TimeUnit.MICROS, false)
     }) match {
      case TsEncoding(TimeUnit.NANOS, _) =>
        graft.io.Tables.requireNanosAsLong(spark)
        spark.readStream
          .schema(graft.schema.Schemas.eventsWithTs(org.apache.spark.sql.types.LongType))
          .option("maxFilesPerTrigger", "1")
          .parquet(dir)
          .withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TsEncoding(_, true) =>
        spark.readStream
          .schema(graft.schema.Schemas.eventsWithTs(org.apache.spark.sql.types.TimestampType))
          .option("maxFilesPerTrigger", "1")
          .parquet(dir)
      case _ =>
        spark.readStream
          .schema(graft.schema.Schemas.eventsWithTs(org.apache.spark.sql.types.TimestampNTZType))
          .option("maxFilesPerTrigger", "1")
          .parquet(dir)
          .withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
    }
  }

  // ---- streaming as-of enrichment ------------------------------------

  /** Tagged union row for [[streamingAsOf]]: side 0 = query (left),
    * side 1 = reference (right). */
  final case class AsOfTagged(user_id: Long, ts: java.sql.Timestamp,
                              side: Int, event_id: Long, value: Double)
  final case class AsOfRightRow(tsUs: Long, eventId: Long, value: Double)
  final case class AsOfPendingLeft(tsUs: Long, eventId: Long)
  /** Per-key state: `latest` = the single newest reference at-or-before
    * the watermark (all a future query can ever need from that region),
    * `newer` = references still ahead of the watermark, `pending` =
    * queries held until the watermark passes their event time. */
  final case class AsOfState(latest: Option[AsOfRightRow],
                             newer: List[AsOfRightRow],
                             pending: List[AsOfPendingLeft])
  final case class AsOfEnriched(user_id: Long, event_id: Long,
                                ts: java.sql.Timestamp,
                                asof_event_id: Option[Long],
                                asof_ts: Option[java.sql.Timestamp],
                                asof_value: Option[Double])

  private def tsUs(t: java.sql.Timestamp): Long =
    t.getTime / 1000 * 1000000L + t.getNanos / 1000
  private def usTs(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(us / 1000000L * 1000L)
    t.setNanos((us % 1000000L).toInt * 1000); t
  }

  /** Streaming twin of [[graft.operators.AsOfJoin]] (backward,
    * non-strict): enrich each query event with the LATEST reference event
    * at-or-before its time, per user, ties to the highest reference
    * event_id — the batch operator's exact pick order.
    *
    * Why this can't be a stream-stream join: Spark's interval join emits
    * EVERY in-range pair; as-of wants the newest one, a ranking the join
    * operator cannot express. And a naive "enrich on arrival" breaks on
    * reordering — a reference delivered after a query it precedes in
    * event time would be missed. The correct-under-reordering shape is
    * watermark-deferred emission: queries are HELD in state and emitted
    * only once the watermark passes their event time, at which point
    * every reference at-or-before them has either arrived or is late
    * (and late rows are dropped by the watermark for both sides — the
    * documented streaming trade; the batch operator remains the exact
    * backfill). Output latency is therefore the watermark `delay`.
    *
    * State PER KEY is bounded by the watermark horizon: after each
    * trigger the references compact to the single newest one at-or-before
    * the watermark (sufficient for every future query, which must carry a
    * later event time) plus those still ahead of it; held queries drain
    * by event-time timeout even if the key never sees traffic again.
    * TOTAL state is keyspace-linear — as-of enrichment is dimension
    * state, one latest-reference row per key ever seen, like any keyed
    * enrichment. For churning keyspaces pass `idleTtlMs`: a key idle
    * (nothing pending) for that much EVENT time past the watermark is
    * dropped whole, trading enrichment of queries that arrive for it
    * later (they emit unmatched, as if the key were new).
    *
    * Input contract: `queries` has (user_id, ts, event_id); `refs` has
    * (user_id, ts, event_id, value). `event_id` is the join-back handle
    * for wider left payloads (join the enriched frame back on it).
    * Batch parity is asserted in EventStreamsSpec against
    * `AsOfJoin.asOf(..., strict = false)`. */
  def streamingAsOf(queries: DataFrame, refs: DataFrame,
                    delay: String = "10 minutes",
                    idleTtlMs: Option[Long] = None): Dataset[AsOfEnriched] = {
    idleTtlMs.foreach(t => require(t > 0, s"idleTtlMs must be positive, got $t"))
    val spark = queries.sparkSession
    import spark.implicits._
    val l = queries.select(col("user_id").cast("long").as("user_id"), col("ts"),
      lit(0).as("side"), col("event_id").cast("long").as("event_id"),
      lit(0.0).as("value"))
    val r = refs.select(col("user_id").cast("long").as("user_id"), col("ts"),
      lit(1).as("side"), col("event_id").cast("long").as("event_id"),
      col("value").cast("double").as("value"))
    l.unionByName(r).as[AsOfTagged]
      .withWatermark("ts", delay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[AsOfState, AsOfEnriched](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, rows: Iterator[AsOfTagged], state: GroupState[AsOfState]) =>
          val st = state.getOption.getOrElse(AsOfState(None, Nil, Nil))
          val (ls, rs) = rows.toSeq.partition(_.side == 0)
          val rights = st.latest.toList ++ st.newer ++
            rs.map(t => AsOfRightRow(tsUs(t.ts), t.event_id, t.value))
          val pending = st.pending ++
            ls.map(t => AsOfPendingLeft(tsUs(t.ts), t.event_id))
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          // STRICTLY below the watermark: the engine admits rows AT the
          // watermark (only ts < watermark is late), so a reference with
          // ts equal to a pending query's ts can still arrive after the
          // watermark reaches that instant — emitting at == would miss it
          // (same boundary as GapAnomaly; reference compaction below may
          // keep <=, since a later-arriving equal-ts higher-id reference
          // coexists with the compacted one and still wins the pick)
          val (emit, hold) = pending.partition(_.tsUs < wmUs)
          val out = emit.sortBy(p => (p.tsUs, p.eventId)).map { p =>
            val m = rights.filter(_.tsUs <= p.tsUs)
              .sortBy(r => (r.tsUs, r.eventId)).lastOption
            AsOfEnriched(uid, p.eventId, usTs(p.tsUs), m.map(_.eventId),
              m.map(r => usTs(r.tsUs)), m.map(_.value))
          }
          // compact: one reference at-or-before the watermark survives
          val (older, ahead) = rights.partition(_.tsUs <= wmUs)
          val latest = older.sortBy(r => (r.tsUs, r.eventId)).lastOption
          // a timeout that delivered no data, emitted nothing, holds
          // nothing, and has no reference still ahead of the watermark is
          // a pure idle-TTL expiry: drop the key whole (a ref ahead of
          // the watermark means recent activity — re-arm instead)
          val ttlExpiry = idleTtlMs.isDefined && state.hasTimedOut &&
            ls.isEmpty && rs.isEmpty && emit.isEmpty && hold.isEmpty &&
            ahead.isEmpty
          if ((hold.isEmpty && latest.isEmpty && ahead.isEmpty) || ttlExpiry)
            state.remove()
          else {
            state.update(AsOfState(latest,
              ahead.sortBy(r => (r.tsUs, r.eventId)).toList, hold.toList))
            // drain held queries by timeout even on an idle key; the
            // target must sit beyond the current watermark, and +1ms does
            // it: held queries satisfy tsUs >= wmUs (the strict drain
            // keeps ==), so tsMs+1 > wmMs in every case — do NOT drop the
            // +1, the == case would throw from setTimeoutTimestamp. With
            // no holds, an idle TTL (when configured) arms expiry instead.
            if (hold.nonEmpty)
              state.setTimeoutTimestamp(hold.map(_.tsUs).min / 1000L + 1L)
            else idleTtlMs.foreach(ttl =>
              state.setTimeoutTimestamp(wmUs / 1000L + math.max(ttl, 1L)))
          }
          out.iterator
      }
  }
}
