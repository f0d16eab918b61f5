package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** One epoch-id namespace, two writers (the tiers that have MAINTENANCE
  * majors — vector, PQ, IVFADC, media, signature, graph): data epochs land at
  * `batchId × MaintenanceSlots`, maintenance majors (compaction, retrain)
  * at `standing-epoch-id + 1` — strictly between the last data epoch and
  * the next, so a maintenance commit can never collide with the NEXT
  * streaming batch's id and silently swallow that batch via the
  * replay-skip marker (review catch: at stride 1, a compaction after
  * batch N committed L1@N+1 and the real batch N+1 then replayed as
  * Skipped — durable data loss). Readers keep ordering epochs by a plain
  * Long sort. Up to MaintenanceSlots − 1 maintenance commits fit between
  * two data batches. Strided families: vector, PQ, IVFADC, media,
  * signature, and (since the round-16 retraction work gave it a
  * compaction writer) graph. The lex tier alone keeps raw batch ids — its
  * deletes ride tombstone-row shadowing inside data epochs, so it has no
  * out-of-band writer. */
private[graft] object TierIds {
  val MaintenanceSlots: Long = 1L << 20
  def dataEpoch(batchId: Long): Long = {
    require(batchId >= 0 && batchId < Long.MaxValue / MaintenanceSlots,
      s"batchId $batchId out of the data-epoch range")
    batchId * MaintenanceSlots
  }

  /** Root-level layout stamp for the strided-id tiers. */
  private val LayoutMarker = "_tier_layout"
  private val LayoutStamp = s"maintenance_slots=$MaintenanceSlots"

  /** Refuse to fold into a PRE-STRIDE root (ADVICE r15): legacy roots
    * (epoch ids = raw batchIds) are indistinguishable from strided roots
    * by id value alone — legacy id 3 looks exactly like maintenance id
    * 0 + 3 — so the stride scheme stamps a version marker at the tier
    * root on first fold and every later fold requires it. A root that
    * already has epoch dirs but NO marker was written by the pre-stride
    * scheme: folding into it would look up commit markers at the strided
    * id, miss the legacy commit, and re-apply already-committed rows as a
    * duplicate epoch (breaking the disjoint-id cross-tier union) — fail
    * loudly instead; legacy roots must be rebuilt before upgrading.
    * Single-writer contract (the folds'), so no marker race. */
  def ensureStrideLayout(spark: SparkSession, root: String): Unit = {
    val marker = new Path(root, LayoutMarker)
    val fs = marker.getFileSystem(spark.sessionState.newHadoopConf())
    def stamp(overwrite: Boolean): Unit = {
      val out = fs.create(marker, overwrite)
      try out.write(LayoutStamp.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
    if (fs.exists(marker)) {
      val in = fs.open(marker)
      val content =
        try new String(in.readAllBytes,
          java.nio.charset.StandardCharsets.UTF_8).trim
        finally in.close()
      // torn marker (crash mid-create): rewrite in place — the marker is
      // stamped BEFORE the first epoch commit, so a torn one can only
      // belong to this scheme
      if (content.isEmpty) stamp(overwrite = true)
      else require(content == LayoutStamp,
        s"tier root $root carries layout '$content', this build expects " +
          s"'$LayoutStamp' — rebuild the root before folding into it")
    } else {
      val hasEpochs = Seq("l0", "l1").exists(t =>
        EpochDirs.rawIds(spark, s"$root/$t").nonEmpty)
      require(!hasEpochs,
        s"tier root $root has committed epochs but no $LayoutMarker " +
          "marker — it was written by the pre-stride id scheme (raw " +
          "batchId epochs); folding into it under strided ids would " +
          "re-apply committed batches as duplicate epochs. Rebuild the " +
          "root (or serve it read-only) before upgrading.")
      stamp(overwrite = false)
    }
  }
}

/** Epoch-directory layout of each [[TieredRoll]] tier: `<tier>/epoch=<id>`
  * children, listed and pruned with filesystem metadata only. Validity
  * (commit marker + parameter match) stays with the roll's IndexStore meta
  * peek — this object never reads a marker. */
private[streaming] object EpochDirs {

  def dir(root: String, id: Long): String = s"$root/epoch=$id"

  /** Every `<prefix><id>` child directory id (`epoch=<id>` by default),
    * in no particular order, valid or torn. Listing only — no Spark jobs. */
  def rawIds(spark: SparkSession, root: String,
             prefix: String = "epoch="): Seq[Long] = {
    val p = new Path(root)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.flatMap { st =>
      val n = st.getPath.getName
      if (st.isDirectory && n.startsWith(prefix))
        scala.util.Try(n.stripPrefix(prefix).toLong).toOption
      else None
    }
  }

  /** Delete every epoch directory OLDER than the whole kept set, torn or
    * valid. An id ABOVE any kept id is left alone — a torn head must
    * survive retention so its replayed batch can overwrite it in place. */
  def prune(spark: SparkSession, root: String, keep: Set[Long]): Unit = {
    val fs = new Path(root).getFileSystem(spark.sessionState.newHadoopConf())
    rawIds(spark, root).filter(i => !keep.contains(i) && keep.forall(i < _))
      .foreach { id => fs.delete(new Path(dir(root, id)), true); () }
  }
}
