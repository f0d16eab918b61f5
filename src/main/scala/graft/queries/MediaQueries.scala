package graft.queries

import java.awt.image.BufferedImage

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{AudioCodec, ImageCodec, Multimodal, VideoCodec}

/** Oracle-checkable queries over the multimodal operators — the m-family.
  *
  * Every other operator family earns CORRECTNESS rows against the driver's
  * DuckDB oracle; media decode cannot be replayed in SQL (DuckDB has no
  * PNG/WAV/MJPEG codec), so these queries split the certification into the
  * two halves that CAN each be pinned:
  *
  *  - The CODEC half is deterministic pure-JVM code, pinned bit-for-bit by
  *    MultimodalSpec (decode == header parse == generation formula on real
  *    container bytes).
  *  - The DISTRIBUTED half — partition-batched decode fan-out, the banded
  *    Hamming self-join, groupBys, blob-pruned projections — is what these
  *    oracles check: every fixture below is generated by a deterministic
  *    formula of the row id, so the DuckDB twin replays the EXPECTED facts
  *    (dimensions, sample counts, frame counts) from the formula alone and
  *    any drift in the encode→decode→aggregate chain hash-mismatches.
  *
  * m01 is the one exception that needs data the formula can't express (the
  * 64-bit aHash values): its oracle embeds the hashes as a VALUES literal
  * computed at oracle-build time by the SAME single-threaded pinned codec
  * chain, then replays candidate generation as a brute-force all-pairs
  * Hamming join in SQL. That makes the oracle a completeness check of the
  * pigeonhole banding (`Multimodal.imageNearDupPairsFromHashes`): banding
  * admits no false negatives within the distance budget, so the banded
  * equi-join and the all-pairs scan must return IDENTICAL pairs — a lost
  * band, a wrong mask, or a dropped candidate bucket diverges immediately.
  *
  * Fixtures are generated DISTRIBUTED (spark.range → map in executors) and
  * kept small (hundreds of rows): the point is plan-shape + exactness, not
  * volume; volume behavior is the operators' own contract (blob-pruned
  * scans, banded joins — see Multimodal's scaladoc).
  */
object MediaQueries {

  /** Rows in the shared deterministic media table (image/audio/video by
    * `media_id % 3`). */
  val MediaN = 240

  /** Rows in the near-dup image fixture. */
  val NearDupN = 120

  /** Rows in m06's DELTA batch (ids NearDupN until NearDupN + DeltaN —
    * one id authority across standing corpus and batch, the d06
    * contract). The same `nearDupImage` formula generates them, so some
    * planted dups land entirely inside the delta (e.g. 129 → 126) and at
    * least one CROSSES the boundary (122 → 119): the fold must find
    * both kinds. */
  val NearDupDeltaN = 60

  /** Hamming budget for m01/m06 (≤ 15 per the banding contract). */
  val NearDupMaxHamming = 6

  // ---- deterministic fixture formulas (shared by Spark side + oracle) ----

  /** splitmix-style block color: diverse, deterministic, seed-keyed. */
  private def blockColor(seed: Long, bx: Int, by: Int): Int = {
    var x = seed * 1103515245L + by * 7919L + bx * 104729L + 12345L
    x ^= (x >>> 33); x *= 0xff51afd7ed558ccdL; x ^= (x >>> 33)
    (x & 0xffffff).toInt
  }

  /** A 64×64 grid of 8×8 seed-keyed random-color blocks, block `flip`
    * (−1 = none) color-inverted — the shared content formula behind the
    * image fixture AND the per-frame video fixture. */
  private def blockImage(seed: Long, flip: Int): BufferedImage = {
    val im = new BufferedImage(64, 64, BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < 64) {
      var x = 0
      while (x < 64) {
        val b = (y / 8) * 8 + (x / 8)
        var c = blockColor(seed, x / 8, y / 8)
        if (b == flip) c ^= 0xffffff
        im.setRGB(x, y, c)
        x += 1
      }
      y += 1
    }
    im
  }

  /** Near-dup fixture image i: a 64×64 grid of 8×8 random-color blocks.
    * Ids with `i % 7 == 3` reuse the content seed of `i - 3` with ONE block
    * color-inverted — a planted near-duplicate whose aHash lands 0–4 bits
    * from its original (measured; threshold 6 gives margin both ways:
    * planted pairs are well inside, distinct seeds sit near 32). */
  private[queries] def nearDupImage(i: Long): BufferedImage = {
    val seed = if (i % 7 == 3 && i >= 3) i - 3 else i
    val flip = if (i % 7 == 3) ((i * 31) % 64).toInt else -1
    blockImage(seed, flip)
  }

  /** Shared media-table payload for row i — kind by `i % 3`, every
    * size/count fact a pure formula of i so the DuckDB oracle can replay
    * it without a codec:
    *  - image: PNG, width `48 + 8*((i/3) % 5)`, height `40 + 8*((i/3) % 3)`
    *  - audio: 16-bit mono WAV at 8000 Hz, `600 + 100*((i/3) % 5)` frames
    *  - video: MJPEG of `6 + (i/3) % 4` JPEG frames, 32×24 */
  private[queries] def mediaRow(i: Long): Multimodal.MediaRow = (i % 3) match {
    case 0 =>
      val w = 48 + 8 * ((i / 3) % 5).toInt
      val h = 40 + 8 * ((i / 3) % 3).toInt
      val im = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) { im.setRGB(x, y, blockColor(i, x / 8, y / 8)); x += 1 }
        y += 1
      }
      Multimodal.MediaRow(i, "image", ImageCodec.encodePng(im), w, h, 0)
    case 1 =>
      val rate = 8000
      val n = 600 + 100 * ((i / 3) % 5).toInt
      val freq = 200.0 + (i % 10) * 50.0
      val samples = Array.tabulate[Short](n) { t =>
        (math.sin(2 * math.Pi * freq * t / rate) * 16384).toShort
      }
      Multimodal.MediaRow(i, "audio", AudioCodec.encodeWav(samples, rate), 0, 0, rate)
    case _ =>
      val nf = 6 + ((i / 3) % 4).toInt
      val mjpeg = VideoCodec.encodeMjpeg(Iterator.range(0, nf).map { f =>
        val im = new BufferedImage(32, 24, BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < 24) {
          var x = 0
          while (x < 32) { im.setRGB(x, y, blockColor(i + f * 31, x / 8, y / 8)); x += 1 }
          y += 1
        }
        im
      })
      Multimodal.MediaRow(i, "video", mjpeg, 32, 24, 0)
  }

  /** The shared media table, generated distributed (one task per range
    * split — blobs are born in executors, never on the driver). */
  private def mediaTable(s: SparkSession): DataFrame = {
    import s.implicits._
    s.range(MediaN).map(i => mediaRow(i)).toDF()
  }

  /** A (media_id, media) slice of the near-dup fixture — the one formula
    * behind the m01 standing set, the m06 delta, and m07's roll batches. */
  private def nearDupRange(s: SparkSession, from: Long, until: Long): DataFrame = {
    import s.implicits._
    s.range(from, until)
      .map(i => (i, ImageCodec.encodePng(nearDupImage(i))))
      .toDF("media_id", "media")
  }

  /** The near-dup image fixture as (media_id, media). */
  private def nearDupImages(s: SparkSession): DataFrame =
    nearDupRange(s, 0, NearDupN)

  /** m06's delta batch: the SAME formula, the next id range. */
  private def nearDupDelta(s: SparkSession): DataFrame =
    nearDupRange(s, NearDupN, NearDupN + NearDupDeltaN)

  /** m07's tombstone rule (shared with the oracle): ids ≡ 4 (mod 9) are
    * deleted before the post-roll compaction — ~11% dead, above the 5%
    * threshold, and it kills some planted pairs (31 → 28 dies with 31). */
  private val M07DeadMod = 9L
  private val M07DeadRem = 4L

  // ---- m08/m09: audio + video near-dup fixtures (round 16 — the two
  // modalities the near-dup leg didn't cover; same planted-pair rule) ----

  /** Rows in the near-dup audio fixture (m08). */
  val AudioNearDupN = 120

  /** Hamming budget for the audio energy fingerprint (m08). */
  val AudioNearDupMaxHamming = 6

  /** Clips in the near-dup video fixture (m09), frames per clip, the
    * per-frame Hamming budget, and the clip-level vote: a pair stands
    * when ≥ `VideoMinClose` of its 8 aligned frames are within budget. */
  val VideoNearDupN = 60
  val VideoFrames = 8
  val VideoFrameMaxHamming = 6
  val VideoMinClose = 6

  /** Unit value in [0, 1) from the splitmix mix — the audio envelope's
    * per-window amplitude source. */
  private def unitVal(seed: Long, w: Int): Double = {
    var x = seed * 6364136223846793005L + w * 104729L + 1442695040888963407L
    x ^= (x >>> 33); x *= 0xff51afd7ed558ccdL; x ^= (x >>> 33)
    (x >>> 11).toDouble / (1L << 53).toDouble
  }

  /** Near-dup fixture audio i: 64 windows × 125 samples of a 440 Hz sine,
    * each window amplitude-modulated by a seed-keyed envelope in
    * [0.15, 0.95] — so the energy fingerprint
    * ([[graft.operators.AudioCodec.energyFingerprint]]) is the envelope's
    * above/below-mean pattern. Ids with `i % 7 == 3` reuse the envelope of
    * `i − 3` with ONE window's amplitude reflected about the envelope
    * midpoint — a planted near-duplicate whose fingerprint lands 0–3 bits
    * from its original (measured in MultimodalSpec; threshold 6 gives
    * margin both ways: distinct seeds sit near 32). */
  private[queries] def nearDupAudioBytes(i: Long): Array[Byte] = {
    val seed = if (i % 7 == 3 && i >= 3) i - 3 else i
    val flip = if (i % 7 == 3) ((i * 31) % 64).toInt else -1
    val rate = 8000
    val perW = 125
    val amp = Array.tabulate(64) { w =>
      val a = 0.15 + 0.8 * unitVal(seed, w)
      if (w == flip) 1.1 - a else a
    }
    val samples = Array.tabulate[Short](64 * perW) { t =>
      (math.sin(2 * math.Pi * 440.0 * t / rate) * amp(t / perW) * 16384).toShort
    }
    AudioCodec.encodeWav(samples, rate)
  }

  /** Near-dup fixture video i: 8 MJPEG frames of the shared 64×64 block
    * formula, content seed advanced per frame. Ids with `i % 7 == 3`
    * reuse clip `i − 3`'s frame seeds with ONE block color-inverted per
    * frame — every aligned frame pair lands a few aHash bits apart
    * (through the lossy JPEG round-trip), so the planted pair votes
    * 8-for-8 while unrelated clips share no close frame. */
  private[queries] def nearDupVideoBytes(i: Long): Array[Byte] = {
    val seed = if (i % 7 == 3 && i >= 3) i - 3 else i
    VideoCodec.encodeMjpeg(Iterator.range(0, VideoFrames).map { f =>
      val flip = if (i % 7 == 3) ((i * 31 + f * 17) % 64).toInt else -1
      blockImage(seed * 1000003L + f, flip)
    })
  }

  /** The audio fixture as (media_id, media), generated distributed. */
  private def nearDupAudio(s: SparkSession): DataFrame = {
    import s.implicits._
    s.range(AudioNearDupN).map(i => (i, nearDupAudioBytes(i)))
      .toDF("media_id", "media")
  }

  /** The video fixture as (media_id, media), generated distributed. */
  private def nearDupVideos(s: SparkSession): DataFrame = {
    import s.implicits._
    s.range(VideoNearDupN).map(i => (i, nearDupVideoBytes(i)))
      .toDF("media_id", "media")
  }

  // m05 round-trips the media table through parquet so the blob-pruned
  // metadata scan is real (ReadSchema without the binary column — asserted
  // by MediaQueriesSpec). One write per session, held in the registry's
  // "media" family; its release deletes the temp dir.
  private def mediaParquet(s: SparkSession): String =
    SessionIndexes.hold(s, "media", "m05") {
      val root = java.nio.file.Files.createTempDirectory("graft_media").toString
      mediaTable(s).write.mode("overwrite").parquet(s"$root/media")
      root
    }(graft.io.TempRoots.delete) + "/media"

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Near-dup image pairs: distributed decode → aHash → banded Hamming
    // self-join → popcount verify. The oracle replays all-pairs from the
    // same pinned hashes — a banding completeness check (see object doc).
    "m01_image_neardup" -> { (s, _) =>
      Multimodal.imageNearDupPairsFromHashes(
          Multimodal.imageHashes(nearDupImages(s)), NearDupMaxHamming)
        .orderBy(col("id_a"), col("id_b"))
    },

    // Header-parse tier: real PNG header bytes → dimensions/channels,
    // no decompression; the oracle replays the generation formula.
    "m02_image_headers" -> { (s, _) =>
      Multimodal.imageHeaders(mediaTable(s).filter(col("kind") === "image"))
        .orderBy(col("media_id"))
    },

    // Full audio decode: WAV container facts (rms stays spec-pinned —
    // float replay across JVM/DuckDB libm is not hash-stable).
    "m03_audio_decode" -> { (s, _) =>
      Multimodal.decodeAudio(mediaTable(s).filter(col("kind") === "audio"))
        .select(col("media_id"), col("format"), col("sample_rate"),
          col("channels"), col("n_frames"))
        .orderBy(col("media_id"))
    },

    // MJPEG frame sampling: the structure-aware splitter must find exactly
    // the encoded frame count, and every-3rd sampling exactly ceil(nf/3).
    "m04_video_frames" -> { (s, _) =>
      import s.implicits._
      val rows = mediaTable(s).filter(col("kind") === "video")
        .as[Multimodal.MediaRow]
      Multimodal.sampleFrames(rows, every = 3)
        .groupBy(col("media_id"))
        .agg(count(lit(1)).as("n_sampled"), max(col("frame_idx")).as("max_idx"))
        .orderBy(col("media_id"))
    },

    // Blob-pruned metadata projection over a real parquet round-trip: the
    // scan's ReadSchema excludes the binary column (spec-asserted).
    "m05_media_metadata" -> { (s, _) =>
      Multimodal.metadata(s.read.parquet(mediaParquet(s)))
        .drop("n_bytes") // blob length is codec output, not formula-replayable
        .orderBy(col("media_id"))
    },

    // INCREMENTAL near-dup fold into a standing aHash index (r14 verdict
    // #5 — the d06 pattern for the media family): the m01 fixture's
    // hashes commit to a DURABLE store, the store is loaded back (a
    // zero-job stage read — blobs are never re-decoded), and a 60-image
    // delta folds in: |Δ| decode work, band-probe vs standing ∪ delta,
    // broadcast from the batch side. Output = the NEW pairs only. The
    // oracle replays the FULL 180-image brute-force all-pairs Hamming
    // join restricted to batch-involved pairs (delta ids are all above
    // standing ids, so id_b ≥ NearDupN ⟺ ≥ 1 batch side), so hash
    // equality certifies fold ≡ rebuild INCLUDING the cross-boundary
    // planted dup (122 → 119) and the delta-internal ones (129 → 126).
    "m06_image_neardup_fold" -> { (s, _) =>
      val root = java.nio.file.Files
        .createTempDirectory("m06_ahash").toString
      try {
        Multimodal.saveAHashIndex(s,
          Multimodal.imageHashes(nearDupImages(s)), root, "m01 fixture")
        val standing = Multimodal.loadAHashIndex(s, root)
          .getOrElse(sys.error("aHash index store round-trip failed"))
        val out = Multimodal.incrementalImageNearDupPairs(standing,
            nearDupDelta(s), NearDupMaxHamming)
          .orderBy(col("id_a"), col("id_b"))
        val (rows, schema) = (out.collect().toSeq, out.schema)
        s.createDataFrame(s.sparkContext.parallelize(rows, 1), schema)
      } finally graft.io.TempRoots.delete(root)
    },

    // TIERED L0/L1 aHash roll + physical tombstone compaction — the media
    // family's full LSM lifecycle as ONE oracle row: all 180 fixture
    // images arrive as six 30-image batches (|Δ| decode per batch, O(|Δ|)
    // minor commits, two mid-roll majors at majorEvery=3), then ids
    // ≡ 4 (mod 9) are tombstoned and compactMajor physically drops them
    // into a new L1 generation. Output = the full near-dup pair set over
    // the post-compaction view. The oracle replays the 180-image
    // brute-force all-pairs Hamming join with both sides live, so hash
    // equality certifies tiered fold ≡ rebuild (banding completeness,
    // cross-tier merge, major fold, physical compaction) in one row.
    "m07_image_neardup_tiered" -> { (s, _) =>
      import graft.streaming.MediaTieredStream
      val root = java.nio.file.Files
        .createTempDirectory("m07_tiers").toString
      try {
        val total = NearDupN + NearDupDeltaN
        // the whole lifecycle is |corpus|-bounded (180 synthetic images):
        // it runs in the measured-width session the corpus ids bind to
        // (r17; total IS the corpus size), so the folds, the compaction
        // and the view read all plan under it
        val ids = graft.operators.Checkpoints.sized(s.range(total).toDF(), total)
        val ms = ids.sparkSession
        (0 until 6).foreach { b =>
          MediaTieredStream.foldBatch(
            nearDupRange(ms, b * total / 6L, (b + 1) * total / 6L),
            root, b.toLong, majorEvery = 3)
        }
        val dead = ids
          .filter(col("id") % M07DeadMod === M07DeadRem)
          .select(col("id").as("media_id"))
        MediaTieredStream.compactMajor(ms, root, dead, "media_id",
            threshold = 0.05)
          .getOrElse(sys.error("m07 compaction must fire at ~11% dead"))
        val view = MediaTieredStream.loadCurrent(ms, root)
          .getOrElse(sys.error("no tiered view after the roll"))
        val out = view.nearDupPairs(NearDupMaxHamming)
          .orderBy(col("id_a"), col("id_b"))
        val (rows, schema) = (out.collect().toSeq, out.schema)
        s.createDataFrame(s.sparkContext.parallelize(rows, 1), schema)
      } finally graft.io.TempRoots.delete(root)
    },

    // AUDIO near-dup (round 16 — the near-dup leg's second modality):
    // distributed WAV decode → 64-bit energy-envelope fingerprint →
    // the SAME banded Hamming machinery as images (the banding is
    // modality-agnostic). The oracle replays brute-force all-pairs from
    // the pinned fingerprints — m01's banding-completeness check on the
    // audio hash.
    "m08_audio_neardup" -> { (s, _) =>
      Multimodal.nearDupPairsFromHashes(
          Multimodal.audioFingerprints(nearDupAudio(s)),
          AudioNearDupMaxHamming)
        .orderBy(col("id_a"), col("id_b"))
    },

    // VIDEO near-dup (the third modality): distributed MJPEG frame split
    // → per-frame aHash → per-frame banded Hamming (keyed on frame_idx,
    // so candidates only form between aligned frames) → clip-level vote
    // (≥ 6 of 8 aligned frames within budget). The oracle replays the
    // aligned all-pairs frame join + vote from the pinned per-frame
    // hashes — banding completeness AND the vote in one row.
    "m09_video_neardup" -> { (s, _) =>
      Multimodal.videoNearDupPairs(
          Multimodal.videoFrameHashes(nearDupVideos(s)),
          VideoFrameMaxHamming, VideoMinClose)
        .orderBy(col("id_a"), col("id_b"))
    }
  )

  /** DuckDB twin of m01: the pinned-codec hashes as literals + brute-force
    * all-pairs Hamming — computed lazily ONCE (the VALUES list needs
    * NearDupN local encode/decode round-trips). */
  private lazy val m01Oracle: String = {
    val values = (0L until NearDupN).map { i =>
      val h = ImageCodec.aHash(
        ImageCodec.decode(ImageCodec.encodePng(nearDupImage(i))).get)
      s"($i::BIGINT, $h::BIGINT)"
    }.mkString(", ")
    s"""WITH h(media_id, phash) AS (VALUES $values)
       |SELECT a.media_id AS id_a, b.media_id AS id_b,
       |  bit_count(xor(a.phash, b.phash))::INTEGER AS hamming
       |FROM h a JOIN h b ON a.media_id < b.media_id
       |WHERE bit_count(xor(a.phash, b.phash)) <= $NearDupMaxHamming
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** All 180 pinned-codec hashes as a VALUES list — shared by the m06 and
    * m07 oracles (the NearDupN local encode/decode round-trips run once). */
  private lazy val hashValues180: String =
    (0L until (NearDupN + NearDupDeltaN)).map { i =>
      val h = ImageCodec.aHash(
        ImageCodec.decode(ImageCodec.encodePng(nearDupImage(i))).get)
      s"($i::BIGINT, $h::BIGINT)"
    }.mkString(", ")

  /** DuckDB twin of m06: all 180 pinned-codec hashes as literals +
    * brute-force all-pairs Hamming, restricted to pairs with ≥ 1 delta
    * side (id_b ≥ NearDupN — delta ids sit above every standing id) —
    * the rebuild replay the fold must equal. */
  private lazy val m06Oracle: String =
    s"""WITH h(media_id, phash) AS (VALUES $hashValues180)
       |SELECT a.media_id AS id_a, b.media_id AS id_b,
       |  bit_count(xor(a.phash, b.phash))::INTEGER AS hamming
       |FROM h a JOIN h b ON a.media_id < b.media_id
       |WHERE bit_count(xor(a.phash, b.phash)) <= $NearDupMaxHamming
       |  AND b.media_id >= $NearDupN
       |ORDER BY id_a, id_b""".stripMargin

  /** DuckDB twin of m07: the same 180 hashes, brute-force all-pairs with
    * BOTH sides live under the tombstone rule — the rebuild-without-dead
    * replay the tiered roll + compaction must equal. */
  private lazy val m07Oracle: String =
    s"""WITH h(media_id, phash) AS (VALUES $hashValues180)
       |SELECT a.media_id AS id_a, b.media_id AS id_b,
       |  bit_count(xor(a.phash, b.phash))::INTEGER AS hamming
       |FROM h a JOIN h b ON a.media_id < b.media_id
       |WHERE bit_count(xor(a.phash, b.phash)) <= $NearDupMaxHamming
       |  AND a.media_id % $M07DeadMod <> $M07DeadRem
       |  AND b.media_id % $M07DeadMod <> $M07DeadRem
       |ORDER BY id_a, id_b""".stripMargin

  /** DuckDB twin of m08: the pinned-codec audio fingerprints (the same
    * single-threaded encode → decode → fingerprint chain the executors
    * run) as literals + brute-force all-pairs Hamming — the banding
    * completeness check on the audio hash. */
  private lazy val m08Oracle: String = {
    val values = (0L until AudioNearDupN).map { i =>
      val h = graft.operators.AudioCodec
        .energyFingerprint(nearDupAudioBytes(i))
        .getOrElse(sys.error(s"audio fixture row $i must fingerprint"))
      s"($i::BIGINT, $h::BIGINT)"
    }.mkString(", ")
    s"""WITH h(media_id, phash) AS (VALUES $values)
       |SELECT a.media_id AS id_a, b.media_id AS id_b,
       |  bit_count(xor(a.phash, b.phash))::INTEGER AS hamming
       |FROM h a JOIN h b ON a.media_id < b.media_id
       |WHERE bit_count(xor(a.phash, b.phash)) <= $AudioNearDupMaxHamming
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** DuckDB twin of m09: the pinned per-frame aHashes (through the SAME
    * lossy MJPEG encode → split → decode → aHash chain) as literals +
    * the aligned all-pairs frame join and the ≥ VideoMinClose clip vote. */
  private lazy val m09Oracle: String = {
    val values = (0L until VideoNearDupN).flatMap { i =>
      VideoCodec.splitFrames(nearDupVideoBytes(i)).zipWithIndex.map {
        case (fr, idx) =>
          val h = ImageCodec.aHash(ImageCodec.decode(fr)
            .getOrElse(sys.error(s"video fixture row $i frame $idx must decode")))
          s"($i::BIGINT, $idx::INTEGER, $h::BIGINT)"
      }
    }.mkString(", ")
    s"""WITH h(media_id, frame_idx, phash) AS (VALUES $values),
       |  fm AS (SELECT a.media_id AS id_a, b.media_id AS id_b,
       |           count(*)::BIGINT AS n_close
       |         FROM h a JOIN h b
       |           ON a.frame_idx = b.frame_idx AND a.media_id < b.media_id
       |         WHERE bit_count(xor(a.phash, b.phash)) <= $VideoFrameMaxHamming
       |         GROUP BY 1, 2)
       |SELECT id_a, id_b, n_close FROM fm
       |WHERE n_close >= $VideoMinClose
       |ORDER BY id_a, id_b""".stripMargin
  }

  def oracle: Map[String, String] = Map(
    "m01_image_neardup" -> m01Oracle,
    "m06_image_neardup_fold" -> m06Oracle,
    "m07_image_neardup_tiered" -> m07Oracle,
    "m08_audio_neardup" -> m08Oracle,
    "m09_video_neardup" -> m09Oracle,

    "m02_image_headers" ->
      s"""SELECT i AS media_id, 'png' AS format,
         |  (48 + 8 * ((i // 3) % 5))::INTEGER AS width,
         |  (40 + 8 * ((i // 3) % 3))::INTEGER AS height,
         |  3::INTEGER AS channels
         |FROM range(0, $MediaN) t(i) WHERE i % 3 = 0
         |ORDER BY media_id""".stripMargin,

    "m03_audio_decode" ->
      s"""SELECT i AS media_id, 'wav' AS format, 8000::INTEGER AS sample_rate,
         |  1::INTEGER AS channels,
         |  (600 + 100 * ((i // 3) % 5))::BIGINT AS n_frames
         |FROM range(0, $MediaN) t(i) WHERE i % 3 = 1
         |ORDER BY media_id""".stripMargin,

    "m04_video_frames" ->
      s"""SELECT i AS media_id,
         |  ((6 + (i // 3) % 4) + 2) // 3 AS n_sampled,
         |  ((6 + (i // 3) % 4) + 2) // 3 - 1 AS max_idx
         |FROM range(0, $MediaN) t(i) WHERE i % 3 = 2
         |ORDER BY media_id""".stripMargin,

    "m05_media_metadata" ->
      s"""SELECT i AS media_id,
         |  CASE i % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
         |    ELSE 'video' END AS kind,
         |  CASE i % 3 WHEN 0 THEN (48 + 8 * ((i // 3) % 5))::INTEGER
         |    WHEN 2 THEN 32 ELSE 0 END::INTEGER AS width,
         |  CASE i % 3 WHEN 0 THEN (40 + 8 * ((i // 3) % 3))::INTEGER
         |    WHEN 2 THEN 24 ELSE 0 END::INTEGER AS height,
         |  CASE i % 3 WHEN 1 THEN 8000 ELSE 0 END::INTEGER AS sample_rate
         |FROM range(0, $MediaN) t(i)
         |ORDER BY media_id""".stripMargin
  )
}
