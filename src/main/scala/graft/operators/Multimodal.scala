package graft.operators

import java.awt.image.BufferedImage

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column handling: media (image/audio/video) as opaque BINARY
  * columns plus typed metadata, with decode / feature-extraction / resize /
  * frame-sampling implemented as batched per-partition transforms.
  *
  * ALL THREE modalities decode for real with JDK-native codecs, no
  * external dependency: images (PNG/JPEG/GIF/BMP) via [[ImageCodec]],
  * audio (WAV/AIFF) via [[AudioCodec]], video via [[VideoCodec]] — raw
  * MJPEG, i.e. concatenated JPEG frames, the one video container the JDK
  * can handle end-to-end (general video codecs like H.264 remain out of
  * scope: no in-JDK decoder exists, and this library takes real decode
  * over a pretend one). The Spark-side shape is the same for all three:
  * the schema contract, the binary column flow, the partition-batched
  * processing (the Scala analog of `mapInPandas`: one iterator per
  * partition, amortized per-partition codec init, bounded memory), and
  * the size-aware repartitioning that keeps huge blobs from skewing
  * tasks.
  *
  * At 100 TB: media rows are orders of magnitude wider than text rows, so
  * every transform here (a) never shuffles the binary payload unless the
  * operation requires it, (b) exposes `repartitionBySize` so downstream
  * stages get even task sizes, (c) projects metadata-only outputs
  * where the payload isn't needed (column pruning drops the blob read
  * entirely when `media` is untouched), and (d) offers a header-parse
  * tier ([[imageHeaders]]) that answers dimension/format queries without
  * paying pixel-decode CPU.
  */
object Multimodal {

  /** Typed media row: the schema contract for a multimodal table. */
  final case class MediaRow(
      media_id: Long, kind: String, media: Array[Byte],
      width: Int, height: Int, sample_rate: Int)

  final case class MediaFeatures(
      media_id: Long, kind: String, n_bytes: Long,
      mean_byte: Double, byte_entropy: Double, frames_sampled: Int)

  implicit val mediaRowEnc: Encoder[MediaRow] = Encoders.product[MediaRow]
  implicit val mediaFeatEnc: Encoder[MediaFeatures] = Encoders.product[MediaFeatures]

  /** REAL image decode over a binary column: one row per decodable blob
    * with container format, true pixel dimensions, channel count, and mean
    * luminance. Per-partition codec init (`ImageIO.setUseCache(false)` —
    * otherwise every blob round-trips a temp file), malformed blobs are
    * skipped, never thrown (one corrupt file in 100 TB must not kill a
    * stage). Input needs (media_id, media). */
  def decodeImages(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("media_id").cast("long"), col("media"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        javax.imageio.ImageIO.setUseCache(false)
        rows.flatMap { case (id, bytes) =>
          val fmt = ImageCodec.parseHeader(bytes).map(_.format).getOrElse("unknown")
          ImageCodec.decode(bytes).map { img =>
            (id, fmt, img.getWidth, img.getHeight,
              img.getColorModel.getNumComponents,
              ImageCodec.meanLuma(img))
          }
        }
      }
      .toDF("media_id", "format", "width", "height", "channels", "mean_luma")
  }

  /** Header-parse tier: dimensions/format/channels WITHOUT decompression —
    * a few hundred bytes touched per blob. The 100-TB default for
    * filter-by-dimensions passes; [[MultimodalSpec]] asserts it agrees
    * with the full decode on real bytes. */
  def imageHeaders(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("media_id").cast("long"), col("media"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, bytes) =>
          ImageCodec.parseHeader(bytes).map(h =>
            (id, h.format, h.width, h.height, h.channels))
        }
      }
      .toDF("media_id", "format", "width", "height", "channels")
  }

  /** REAL image resize: decode → bilinear resample → re-encode PNG. The
    * classic thumbnail/normalize-resolution stage of a multimodal training
    * pipeline. Output payload stays columnar binary; no driver involvement. */
  def resizeImages(df: DataFrame, w: Int, h: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("media_id").cast("long"), col("media"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        javax.imageio.ImageIO.setUseCache(false)
        rows.flatMap { case (id, bytes) =>
          ImageCodec.decode(bytes).map { img =>
            (id, ImageCodec.encodePng(ImageCodec.resize(img, w, h)))
          }
        }
      }
      .toDF("media_id", "thumb")
  }

  /** REAL audio decode over a binary column: WAV/AIFF container facts plus
    * PCM RMS level. Same skip-don't-throw policy as images. */
  def decodeAudio(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("media_id").cast("long"), col("media"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, bytes) =>
          AudioCodec.decode(bytes).map(a =>
            (id, a.format, a.sampleRate, a.channels, a.nFrames, a.rms))
        }
      }
      .toDF("media_id", "format", "sample_rate", "channels", "n_frames", "rms")
  }

  /** Perceptual hash per image: decode → 8×8 average-hash ([[ImageCodec.aHash]]).
    * The 100-TB shape: this runs ONCE at ingest and the 8-byte hash is
    * stored beside the blob; everything downstream (near-dup, clustering)
    * touches only the hash column. Undecodable blobs are skipped. */
  def imageHashes(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("media_id").cast("long"), col("media"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        javax.imageio.ImageIO.setUseCache(false)
        rows.flatMap { case (id, bytes) =>
          ImageCodec.decode(bytes).map(img => (id, ImageCodec.aHash(img)))
        }
      }
      .toDF("media_id", "phash")
  }

  /** Near-duplicate image pairs at aHash Hamming distance ≤ `maxHamming`,
    * via pigeonhole banding — the SimHash discipline applied to images:
    * the 64-bit hash splits into `maxHamming + 1` bands, and any pair
    * within the distance budget matches EXACTLY in at least one band
    * (≤ maxHamming differing bits cannot touch all maxHamming + 1 bands),
    * so candidates come from a hash equi-join on (band, band_value) —
    * never an all-pairs comparison — and one popcount(XOR) verifies each.
    * Input needs (media_id, media); only (id, hash) rows ever shuffle.
    * Complete: banding admits no false negatives within the budget. */
  def imageNearDupPairs(df: DataFrame, maxHamming: Int = 3): DataFrame =
    imageNearDupPairsManaged(df, maxHamming).pairs

  /** [[imageNearDupPairs]] with an explicit cache-release handle, mirroring
    * [[Dedup.minhashExactPairsManaged]]: the internal (media_id, phash)
    * frame is persisted because BOTH sides of the band self-join read it —
    * without the cache every blob would decode + aHash twice, the dominant
    * cost. 16 bytes/row, but a long-lived session calling the convenience
    * form repeatedly would otherwise accumulate unreleasable cached frames
    * (r8 advice). Consume `pairs`, then `release()`. The production path
    * stores the hash as a column and uses
    * [[imageNearDupPairsFromHashes]] directly — no cache to manage. */
  def imageNearDupPairsManaged(df: DataFrame, maxHamming: Int = 3): ManagedImagePairs = {
    val hashes = imageHashes(df)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    ManagedImagePairs(imageNearDupPairsFromHashes(hashes, maxHamming),
      () => { hashes.unpersist(); () })
  }

  /** A lazy pair frame plus the handle that frees its internal hash cache. */
  final case class ManagedImagePairs(pairs: DataFrame, release: () => Unit)

  /** The pigeonhole band projection shared by the full self-join and the
    * incremental fold: 64-bit aHash → `maxHamming + 1` (band, bv) rows
    * per id (≤ maxHamming differing bits cannot touch every band, so any
    * in-budget pair matches exactly in ≥ 1 band). `keep` = the key
    * columns carried beside (band, bv) — (media_id, phash) for whole-item
    * hashes, plus frame_idx for per-frame video hashes. */
  private def banded(hashes: DataFrame, maxHamming: Int,
                     keep: Seq[String]): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 15,
      s"maxHamming=$maxHamming: banding needs maxHamming+1 bands of >= 4 bits")
    val bands = maxHamming + 1
    val width = 64 / bands
    val bandCols = (0 until bands).map { i =>
      val lo = i * width
      val len = if (i == bands - 1) 64 - lo else width
      val mask = if (len >= 64) -1L else (1L << len) - 1
      struct(lit(i).as("band"),
        shiftrightunsigned(col("phash"), lo).bitwiseAND(lit(mask)).as("bv"))
    }
    hashes.select(keep.map(col) :+ explode(array(bandCols: _*)).as("b"): _*)
      .select(keep.map(col) :+ col("b.band") :+ col("b.bv"): _*)
  }

  private def bandedHashes(hashes: DataFrame, maxHamming: Int): DataFrame =
    banded(hashes, maxHamming, Seq("media_id", "phash"))

  /** Modality-agnostic near-dup pairs over any 64-bit perceptual-hash
    * frame `(media_id, phash)` — the banding neither knows nor cares
    * which codec produced the hash, so audio fingerprints
    * ([[audioFingerprints]]) ride the same machinery as image aHashes. */
  def nearDupPairsFromHashes(hashes: DataFrame, maxHamming: Int = 3): DataFrame =
    imageNearDupPairsFromHashes(hashes, maxHamming)

  /** [[imageNearDupPairs]] over an already-computed (media_id, phash)
    * frame — the stored-hash-column production path. */
  def imageNearDupPairsFromHashes(hashes: DataFrame, maxHamming: Int = 3): DataFrame = {
    val banded = bandedHashes(hashes, maxHamming)
    val a = banded.toDF("id_a", "ph_a", "band", "bv")
    val b = banded.toDF("id_b", "ph_b", "band_b", "bv_b")
    a.join(b, col("band") === col("band_b") && col("bv") === col("bv_b") &&
        col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("ph_a"), col("ph_b"))
      .distinct() // a pair can share several bands
      .withColumn("hamming",
        bit_count(col("ph_a").bitwiseXOR(col("ph_b"))).cast("int"))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Incremental near-dup fold into a STANDING aHash index — the d06
    * pattern for the media family (r14 verdict #5: every other index
    * family had fold-≡-rebuild incremental maintenance; images were
    * batch-only). `standing` is the stored (media_id, phash) frame (the
    * ingest-time hash column — blobs are NEVER re-decoded); the batch
    * pays |Δ| decode + aHash work only, and candidates come from the
    * SAME pigeonhole band equi-join as the full rebuild, probed from the
    * batch side — broadcast when small, so the standing side never
    * shuffles. Returns exactly the NEW pairs (≥ 1 batch side):
    *
    *   pairs(standing ∪ batch) = pairs(standing) ∪ newPairs   (disjoint)
    *
    * — the fold ≡ rebuild identity, certified by m06's oracle (a
    * brute-force all-pairs replay over the folded corpus restricted to
    * batch-involved pairs) and MultimodalSpec. Id sets must be disjoint
    * (one id authority across corpus and batch, the d06 contract). */
  def incrementalImageNearDupPairs(standing: DataFrame, batch: DataFrame,
                                   maxHamming: Int = 3): DataFrame =
    incrementalNearDupPairsFromHashes(standing, imageHashes(batch), maxHamming)

  /** [[incrementalImageNearDupPairs]] over already-computed batch hashes
    * (both sides stored-hash-column). */
  def incrementalNearDupPairsFromHashes(standing: DataFrame,
                                        batchHashes: DataFrame,
                                        maxHamming: Int = 3): DataFrame = {
    val probe = bandedHashes(batchHashes, maxHamming)
      .toDF("id_a", "ph_a", "band", "bv")
    // the probed side is the FOLDED view (standing ∪ batch): batch×batch
    // pairs must surface too — a planted dup arriving with its original
    // in the same delta is still a new pair
    val all = bandedHashes(standing.unionByName(batchHashes), maxHamming)
      .toDF("id_b", "ph_b", "band_b", "bv_b")
    broadcast(probe)
      .join(all, col("band") === col("band_b") && col("bv") === col("bv_b") &&
        col("id_a") =!= col("id_b"))
      // batch×batch candidates are found from both ends — normalize to
      // (min, max) BEFORE the distinct so they collapse; XOR is symmetric
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"),
        bit_count(col("ph_a").bitwiseXOR(col("ph_b"))).cast("int")
          .as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Audio fingerprint per blob: decode → 64-bit energy-envelope hash
    * ([[AudioCodec.energyFingerprint]]) — the audio modality's
    * [[imageHashes]]: runs ONCE at ingest, the 8-byte fingerprint is
    * stored beside the blob, and near-dup detection downstream
    * ([[nearDupPairsFromHashes]]) touches only the hash column.
    * Undecodable/unsupported blobs are skipped. Input needs
    * (media_id, media). */
  def audioFingerprints(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("media_id").cast("long"), col("media"))
      .as[(Long, Array[Byte])]
      .mapPartitions(rows => rows.flatMap { case (id, bytes) =>
        AudioCodec.energyFingerprint(bytes).map(h => (id, h))
      })
      .toDF("media_id", "phash")
  }

  /** Per-frame aHash over MJPEG video blobs: every `every`-th frame is
    * decoded ([[VideoCodec.decodeFrames]]'s sampling) and aHashed —
    * (media_id, frame_idx, phash), frame_idx over the SAMPLED sequence.
    * The ingest-once column for video near-dup; undecodable frames and
    * non-MJPEG blobs contribute nothing (skip-don't-throw). */
  def videoFrameHashes(df: DataFrame, every: Int = 1): DataFrame = {
    require(every >= 1, s"every must be >= 1, got $every")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("media_id").cast("long"), col("media"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        javax.imageio.ImageIO.setUseCache(false)
        rows.flatMap { case (id, bytes) =>
          VideoCodec.sampleFrames(bytes, every).zipWithIndex.flatMap {
            case (frame, idx) =>
              ImageCodec.decode(frame).map(img =>
                (id, idx, ImageCodec.aHash(img)))
          }
        }
      }
      .toDF("media_id", "frame_idx", "phash")
  }

  /** Clip-level video near-dup by ALIGNED-FRAME vote: two clips pair when
    * ≥ `minClose` of their equal-index frames are within `maxHamming`
    * aHash bits — the per-frame banding ([[banded]], keyed on frame_idx
    * too, so candidates only ever form between same-index frames) finds
    * every close frame pair with no false negatives, one popcount
    * verifies each, and the clip vote is a per-pair count. Near-identical
    * clips (re-encodes, noise, a few edited frames) keep most frames
    * aligned-close; unrelated clips contribute nothing to the count.
    * Trimmed/shifted variants need an alignment-free vote (each frame vs
    * SOME frame of the other clip) — same banding minus the frame_idx
    * join key, quadratic in matching frames; out of scope until a
    * workload needs it. Input = a [[videoFrameHashes]] frame; output
    * (id_a, id_b, n_close). */
  def videoNearDupPairs(frameHashes: DataFrame, maxHamming: Int = 3,
                        minClose: Int = 1): DataFrame = {
    require(minClose >= 1, s"minClose must be >= 1, got $minClose")
    val b = banded(frameHashes, maxHamming,
      Seq("media_id", "frame_idx", "phash"))
    val a = b.toDF("id_a", "frame_idx", "ph_a", "band", "bv")
    val c = b.toDF("id_b", "frame_idx_b", "ph_b", "band_b", "bv_b")
    a.join(c, col("frame_idx") === col("frame_idx_b") &&
        col("band") === col("band_b") && col("bv") === col("bv_b") &&
        col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("frame_idx"), col("ph_a"),
        col("ph_b"))
      .distinct() // a frame pair can share several bands
      .filter(bit_count(col("ph_a").bitwiseXOR(col("ph_b"))) <= maxHamming)
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).cast("long").as("n_close"))
      .filter(col("n_close") >= minClose)
  }

  /** Near-dup matches of PROBE images against a STANDING hash index only
    * — the serving shape (no probe×probe pairs; ingest folds use
    * [[incrementalNearDupPairsFromHashes]], which emits them): one row
    * `(qid, media_id, hamming)` per standing image within the budget of
    * each probe, orientation kept. Same pigeonhole banding, probe side
    * broadcast. Probe ids should come from a namespace disjoint from the
    * corpus (the serve contract shared with Similarity.pqTopK); a probe
    * that IS a corpus member is guarded from matching itself by id. */
  def nearDupProbeFromHashes(standing: DataFrame, probeHashes: DataFrame,
                             maxHamming: Int = 3): DataFrame = {
    val p = bandedHashes(probeHashes, maxHamming)
      .toDF("qid", "ph_q", "band", "bv")
    val s = bandedHashes(standing, maxHamming)
      .toDF("media_id", "ph_s", "band_b", "bv_b")
    broadcast(p)
      .join(s, col("band") === col("band_b") && col("bv") === col("bv_b") &&
        col("qid") =!= col("media_id"))
      .select(col("qid"), col("media_id"),
        bit_count(col("ph_q").bitwiseXOR(col("ph_s"))).cast("int")
          .as("hamming"))
      .distinct() // a match can share several bands
      .filter(col("hamming") <= maxHamming)
  }

  /** Persist a (media_id, phash) frame as a DURABLE aHash index (the
    * ingest-time hash column's store): [[graft.operators.IndexStore]]
    * stage semantics — commit marker, params echo, zero-job lazy load.
    * The standing side of [[incrementalNearDupPairsFromHashes]] loads
    * from here across sessions, so re-ingest never re-decodes blobs. */
  def saveAHashIndex(spark: SparkSession, hashes: DataFrame, dir: String,
                     note: String): Unit =
    IndexStore.save(spark, IndexStore.stage, hashes, dir, note,
      Map("index_kind" -> "ahash")) // "kind" is the stage meta's own key

  /** Load a durable aHash index committed by [[saveAHashIndex]]; `None`
    * when absent/torn/param-mismatched. */
  def loadAHashIndex(spark: SparkSession, dir: String): Option[DataFrame] =
    IndexStore.load(spark, IndexStore.stage, dir, None, Map("index_kind" -> "ahash"))

  /** Size the partition COUNT by payload bytes: media blobs are wildly
    * variable, so a row-count-derived partition count under- or
    * over-shoots executor memory. One column scan (length only — the blob
    * itself isn't shuffled until the repartition moves it). Rows are then
    * hash-distributed by media_id, which evens bytes out in EXPECTATION —
    * one blob far larger than `targetBytesPerPartition` still lands whole
    * in one partition (a single row is unsplittable); for hard per-task
    * byte bounds, pack by cumulative size upstream
    * ([[Splits.packByBudget]]) and repartition on the bin id. */
  def repartitionBySize(df: DataFrame, targetBytesPerPartition: Long): DataFrame = {
    require(targetBytesPerPartition > 0,
      s"targetBytesPerPartition must be positive, got $targetBytesPerPartition")
    val totalBytes = Option(df.select(sum(length(col("media")))).head().get(0))
      .map(_.asInstanceOf[Long]).getOrElse(0L) // sum over zero rows is NULL
    val parts = math.max(1, (totalBytes / targetBytesPerPartition).toInt)
    df.repartition(parts, col("media_id"))
  }

  /** Metadata-only projection: never touches the blob — the parquet scan
    * prunes the binary column entirely (assert via ReadSchema). */
  def metadata(df: DataFrame): DataFrame =
    df.select(col("media_id"), col("kind"), col("width"), col("height"),
      col("sample_rate"), length(col("media")).as("n_bytes"))

  /** Partition-batched feature extraction — the mapInPandas shape: per
    * partition, one-time codec init, then stream rows through it.
    * Per-row state is O(frame), never O(partition). `frames_sampled`
    * counts REAL MJPEG frames (every `frameEvery`-th) for video rows and
    * is 0 for other kinds — a non-video blob has no frames to sample. */
  def extractFeatures(ds: Dataset[MediaRow], frameEvery: Int = 4): Dataset[MediaFeatures] = {
    require(frameEvery >= 1, s"frameEvery must be >= 1, got $frameEvery")
    ds.mapPartitions { rows =>
      javax.imageio.ImageIO.setUseCache(false) // per-partition codec init
      rows.map { r =>
        val counts = new Array[Long](256)
        var i = 0
        while (i < r.media.length) { counts(r.media(i) & 0xff) += 1; i += 1 }
        val n = r.media.length.toDouble
        var mean = 0.0
        var entropy = 0.0
        var b = 0
        while (b < 256) {
          mean += (counts(b) * b) / n
          if (counts(b) > 0) {
            val p = counts(b) / n
            entropy -= p * math.log(p) / math.log(2)
          }
          b += 1
        }
        val frames =
          if (r.kind == "video") VideoCodec.sampleFrames(r.media, frameEvery).size
          else 0
        MediaFeatures(r.media_id, r.kind, r.media.length.toLong,
          mean, entropy, frames)
      }
    }
  }

  /** REAL frame sampling as a generator: one output row per sampled MJPEG
    * frame (raw JPEG bytes, individually decodable by [[ImageCodec]]),
    * payload sliced executor-side (no driver involvement). Non-video rows
    * and non-MJPEG bytes contribute nothing — skip-don't-throw. */
  def sampleFrames(ds: Dataset[MediaRow], every: Int = 4): DataFrame = {
    require(every >= 1, s"every must be >= 1, got $every")
    import ds.sparkSession.implicits._
    ds.flatMap { r =>
      if (r.kind != "video") Iterator.empty
      else VideoCodec.sampleFrames(r.media, every).zipWithIndex.map {
        case (frame, idx) => (r.media_id, idx, frame)
      }
    }.toDF("media_id", "frame_idx", "frame")
  }

  /** Deterministic gradient test image (shared by the image and video
    * generators below). */
  private def gradientImage(w: Int, h: Int, salt: Long): BufferedImage = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val r = (x * 255 / w) & 0xff
        val g = (y * 255 / h) & 0xff
        val b = ((x + y + salt) % 256).toInt & 0xff
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
        x += 1
      }
      y += 1
    }
    img
  }

  /** Deterministic synthetic media table with REAL container payloads for
    * all three kinds: image rows are genuine PNGs (deterministic gradient
    * pixels, varying dimensions), audio rows are genuine WAVs (16-bit PCM
    * sine, varying frequency), video rows are genuine MJPEG streams (8
    * concatenated JPEG frames of evolving gradients). Generated
    * distributed (one task per range split), decoded back by the
    * real-codec operators above. */
  def syntheticReal(spark: SparkSession, n: Int): Dataset[MediaRow] = {
    import spark.implicits._
    spark.range(n).map { i =>
      (i % 3).toInt match {
        case 0 =>
          val w = 64 + (i % 16).toInt
          val h = 48 + (i % 8).toInt
          MediaRow(i, "image", ImageCodec.encodePng(gradientImage(w, h, i)), w, h, 0)
        case 1 =>
          val rate = 8000
          val freq = 200.0 + (i % 10) * 50.0
          val samples = Array.tabulate[Short](800) { t =>
            (math.sin(2 * math.Pi * freq * t / rate) * 16384).toShort
          }
          MediaRow(i, "audio", AudioCodec.encodeWav(samples, rate), 0, 0, rate)
        case _ =>
          val (w, h) = (32, 24)
          val mjpeg = VideoCodec.encodeMjpeg(
            Iterator.range(0, 8).map(f => gradientImage(w, h, i + f * 31)))
          MediaRow(i, "video", mjpeg, w, h, 0)
      }
    }
  }

  /** Deterministic synthetic media table (test/demo source — stands in for
    * an object-store-backed binary column). */
  def synthetic(spark: SparkSession, n: Int, bytesPerRow: Int = 4096): Dataset[MediaRow] = {
    import spark.implicits._
    spark.range(n).map { i =>
      val rng = new scala.util.Random(i) // per-row seed: deterministic
      val bytes = new Array[Byte](bytesPerRow + (i % 7).toInt * 512)
      rng.nextBytes(bytes)
      val kind = Seq("image", "audio", "video")((i % 3).toInt)
      MediaRow(i, kind, bytes, 640, 480, 16000)
    }
  }
}
