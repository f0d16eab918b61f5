package graft.operators

import java.awt.RenderingHints
import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.sound.sampled.{AudioFileFormat, AudioInputStream, UnsupportedAudioFileException}
import javax.sound.sampled.spi.AudioFileReader
import scala.jdk.CollectionConverters._

/** Real (JDK-native, zero-dependency) media codecs for the multimodal
  * column operators: PNG/JPEG/GIF/BMP via `javax.imageio`, WAV/AIFF via
  * `javax.sound.sampled`. Two tiers, chosen by what the query needs:
  *
  *  - HEADER PARSE ([[ImageCodec.parseHeader]]): reads dimensions/channels
  *    straight from the container bytes without decompressing — a few
  *    hundred bytes touched per blob. At 100 TB this is the default tier:
  *    a dimensions/filtering pass must not pay pixel-decode CPU.
  *  - FULL DECODE ([[ImageCodec.decode]] / [[AudioCodec.decode]]): real
  *    pixel/sample access for feature extraction and resizing.
  *
  * Only video has no in-JDK codec; that single kind keeps an explicitly
  * marked stub (see [[Multimodal]]).
  */
object ImageCodec {

  /** Container-level image facts, readable without decompression. */
  final case class ImageInfo(format: String, width: Int, height: Int, channels: Int)

  private def beInt(b: Array[Byte], off: Int): Int =
    ((b(off) & 0xff) << 24) | ((b(off + 1) & 0xff) << 16) |
      ((b(off + 2) & 0xff) << 8) | (b(off + 3) & 0xff)

  private def beShort(b: Array[Byte], off: Int): Int =
    ((b(off) & 0xff) << 8) | (b(off + 1) & 0xff)

  /** Header-only parse of PNG / JPEG / GIF — no decompression, no ImageIO
    * reader allocation. Returns None for anything unrecognized or
    * truncated (malformed-input policy: skip, never throw — one corrupt
    * blob in 100 TB must not kill a stage). */
  def parseHeader(bytes: Array[Byte]): Option[ImageInfo] = {
    if (bytes == null || bytes.length < 16) None
    // PNG: 8-byte signature, then IHDR chunk: len(4) 'IHDR' w(4) h(4)
    // bitdepth(1) colortype(1)
    else if ((bytes(0) & 0xff) == 0x89 && bytes(1) == 'P' && bytes(2) == 'N' &&
             bytes(3) == 'G' && bytes.length >= 26) {
      val colorType = bytes(25) & 0xff
      val channels = colorType match {
        case 0 => 1; case 2 => 3; case 3 => 1; case 4 => 2; case 6 => 4
        case _ => return None
      }
      Some(ImageInfo("png", beInt(bytes, 16), beInt(bytes, 20), channels))
    }
    // JPEG: FF D8, then marker segments; SOFn carries precision h w ncomp.
    // The scan stops (None) at SOS (FF DA) or EOI (FF D9): past SOS lies
    // entropy-coded data that is NOT marker-structured — walking it could
    // hallucinate dimensions from a spurious FF Cn pair, and skip-don't-
    // throw means "skip", not "confidently wrong". FF fill bytes before a
    // marker and the length-less TEM (FF 01) are skipped per spec.
    else if ((bytes(0) & 0xff) == 0xff && (bytes(1) & 0xff) == 0xd8) {
      var p = 2
      while (p + 1 < bytes.length) {
        if ((bytes(p) & 0xff) != 0xff) return None
        var q = p + 1 // skip FF fill bytes: FF FF ... FF <marker>
        while (q < bytes.length && (bytes(q) & 0xff) == 0xff) q += 1
        if (q >= bytes.length) return None
        val marker = bytes(q) & 0xff
        if (marker == 0xd8 || marker == 0x01 ||
            (marker >= 0xd0 && marker <= 0xd7)) p = q + 1 // standalone markers
        else if (marker == 0xda || marker == 0xd9) return None // SOS/EOI: no SOF seen
        else {
          if (q + 2 >= bytes.length) return None
          val segLen = beShort(bytes, q + 1)
          val isSof = marker >= 0xc0 && marker <= 0xcf &&
            marker != 0xc4 && marker != 0xc8 && marker != 0xcc
          if (isSof) {
            if (q + 8 >= bytes.length) return None
            return Some(ImageInfo("jpeg", beShort(bytes, q + 6),
              beShort(bytes, q + 4), bytes(q + 8) & 0xff))
          }
          if (segLen < 2) return None
          p = q + 1 + segLen
        }
      }
      None
    }
    // GIF: 'GIF8xa', logical screen w/h as LE u16; channels depend on
    // whether a Graphics Control Extension declares a transparent index
    // (ImageIO reports 4 components for transparent GIFs, 3 otherwise —
    // the header tier must agree with the decode tier).
    else if (bytes(0) == 'G' && bytes(1) == 'I' && bytes(2) == 'F') {
      val w = (bytes(6) & 0xff) | ((bytes(7) & 0xff) << 8)
      val h = (bytes(8) & 0xff) | ((bytes(9) & 0xff) << 8)
      Some(ImageInfo("gif", w, h, if (gifHasTransparency(bytes)) 4 else 3))
    }
    else None
  }

  /** Walk GIF blocks (after the 13-byte header + optional global color
    * table) up to the first image descriptor, looking for a Graphics
    * Control Extension with the transparency flag set. Conservative on
    * malformed structure: false (opaque). */
  private def gifHasTransparency(b: Array[Byte]): Boolean = {
    if (b.length < 13) return false
    val flags = b(10) & 0xff
    var p = 13 + (if ((flags & 0x80) != 0) 3 * (1 << ((flags & 7) + 1)) else 0)
    while (p < b.length) {
      (b(p) & 0xff) match {
        case 0x21 => // extension block: label, then length-prefixed sub-blocks
          if (p + 2 >= b.length) return false
          val label = b(p + 1) & 0xff
          if (label == 0xf9 && p + 3 < b.length && (b(p + 2) & 0xff) >= 4)
            return (b(p + 3) & 1) == 1
          var q = p + 2
          while (q < b.length && (b(q) & 0xff) != 0) q += 1 + (b(q) & 0xff)
          p = q + 1
        case 0x2c => return false // image data reached without a GCE
        case _ => return false    // trailer (0x3b) or junk: bail opaque
      }
    }
    false
  }

  /** Full pixel decode via the JDK's ImageIO (PNG/JPEG/GIF/BMP readers are
    * part of Java SE). None on unrecognized/corrupt bytes. Call
    * `ImageIO.setUseCache(false)` once per partition before streaming rows
    * through this — otherwise every blob round-trips a temp file. */
  def decode(bytes: Array[Byte]): Option[BufferedImage] =
    try Option(javax.imageio.ImageIO.read(new ByteArrayInputStream(bytes)))
    catch { case _: Exception => None }

  /** Mean luminance (ITU-R BT.601 weights) over all pixels, in [0, 255]. */
  def meanLuma(img: BufferedImage): Double = {
    var acc = 0.0
    var y = 0
    while (y < img.getHeight) {
      var x = 0
      while (x < img.getWidth) {
        val rgb = img.getRGB(x, y)
        acc += 0.299 * ((rgb >> 16) & 0xff) + 0.587 * ((rgb >> 8) & 0xff) +
          0.114 * (rgb & 0xff)
        x += 1
      }
      y += 1
    }
    acc / (img.getWidth.toLong * img.getHeight)
  }

  /** 64-bit average hash (aHash): bilinear-resize to 8×8, per-pixel
    * BT.601 luma, bit p set iff pixel p's luma ≥ the 64-pixel mean.
    * Survives re-encoding, resizing, and mild noise — Hamming distance
    * between aHashes tracks perceptual difference, which makes near-dup
    * image detection a 64-bit integer problem instead of a pixel one. */
  def aHash(img: BufferedImage): Long = {
    val small = resize(img, 8, 8)
    val lumas = new Array[Double](64)
    var i = 0
    while (i < 64) {
      val rgb = small.getRGB(i % 8, i / 8)
      lumas(i) = 0.299 * ((rgb >> 16) & 0xff) + 0.587 * ((rgb >> 8) & 0xff) +
        0.114 * (rgb & 0xff)
      i += 1
    }
    var mean = 0.0
    i = 0
    while (i < 64) { mean += lumas(i); i += 1 }
    mean /= 64
    var h = 0L
    i = 0
    while (i < 64) { if (lumas(i) >= mean) h |= (1L << i); i += 1 }
    h
  }

  /** Bilinear resize (JDK Graphics2D). */
  def resize(img: BufferedImage, w: Int, h: Int): BufferedImage = {
    val out = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    val g = out.createGraphics()
    try {
      g.setRenderingHint(RenderingHints.KEY_INTERPOLATION,
        RenderingHints.VALUE_INTERPOLATION_BILINEAR)
      g.drawImage(img, 0, 0, w, h, null)
    } finally g.dispose()
    out
  }

  def encodePng(img: BufferedImage): Array[Byte] = {
    val baos = new ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    baos.toByteArray
  }
}

/** REAL video codec for the one container the JDK can handle end-to-end:
  * raw MJPEG — a stream of concatenated JPEG images, the actual wire
  * format of motion-JPEG cameras and many capture pipelines. Frame
  * splitting is exact AND structure-aware: marker segments are skipped by
  * their declared lengths (an EXIF APP1 thumbnail is itself a complete
  * JPEG containing FF D9, so a naive byte scan would cut frames at the
  * thumbnail), and only inside entropy-coded scan data — where every 0xFF
  * is zero-stuffed or a restart marker — does a bare FF D9 mean
  * end-of-image. Progressive JPEGs (multiple SOS scans) are handled: a
  * non-restart marker inside scan data resumes segment parsing. Per-frame
  * pixel decode reuses [[ImageCodec]]. This replaces the former FakeCodec
  * stub: no code path pretends random bytes are frames anymore. */
object VideoCodec {

  /** End offset (exclusive) of the JPEG starting at `s` (bytes(s..s+1) =
    * FF D8), or -1 if truncated/malformed. Walks marker segments by
    * declared length; inside scan data, skips stuffed FF 00 and restart
    * markers until the next true marker. */
  private def frameEnd(b: Array[Byte], s: Int): Int = {
    var p = s + 2
    var inScan = false
    while (p < b.length) {
      if (!inScan) {
        // expect a marker, tolerating FF fill bytes
        if ((b(p) & 0xff) != 0xff) return -1
        var q = p + 1
        while (q < b.length && (b(q) & 0xff) == 0xff) q += 1
        if (q >= b.length) return -1
        val marker = b(q) & 0xff
        if (marker == 0xd9) return q + 1 // EOI
        else if (marker == 0x01 || (marker >= 0xd0 && marker <= 0xd7)) p = q + 1
        else if (marker == 0xda) { // SOS header, then entropy-coded data
          if (q + 2 >= b.length) return -1
          val segLen = ((b(q + 1) & 0xff) << 8) | (b(q + 2) & 0xff)
          if (segLen < 2) return -1
          p = q + 1 + segLen
          inScan = true
        } else {
          if (q + 2 >= b.length) return -1
          val segLen = ((b(q + 1) & 0xff) << 8) | (b(q + 2) & 0xff)
          if (segLen < 2) return -1
          p = q + 1 + segLen
        }
      } else {
        // entropy-coded data: FF 00 is stuffing, FF D0-D7 are restarts;
        // any other FF-marker ends the scan (EOI, or the next segment of
        // a progressive JPEG)
        if ((b(p) & 0xff) != 0xff) p += 1
        else if (p + 1 >= b.length) return -1
        else {
          val m = b(p + 1) & 0xff
          if (m == 0xff) p += 1 // fill byte: re-examine from the second FF
          else if (m == 0x00 || (m >= 0xd0 && m <= 0xd7)) p += 2
          else if (m == 0xd9) return p + 2 // EOI
          else inScan = false // progressive: next marker segment
        }
      }
    }
    -1
  }

  /** Split an MJPEG stream into its JPEG frame byte ranges. Bytes outside
    * frames (padding, garbage) are skipped; a truncated or structurally
    * broken frame is dropped — skip-don't-throw, like the other codecs. */
  def splitFrames(bytes: Array[Byte]): Iterator[Array[Byte]] = {
    if (bytes == null) return Iterator.empty
    new Iterator[Array[Byte]] {
      private var p = 0
      private var nextFrame: Array[Byte] = advance()
      private def advance(): Array[Byte] = {
        while (true) {
          // find FF D8 (start of image)
          var s = p
          while (s + 1 < bytes.length &&
                 !((bytes(s) & 0xff) == 0xff && (bytes(s + 1) & 0xff) == 0xd8)) s += 1
          if (s + 1 >= bytes.length) return null
          val e = frameEnd(bytes, s)
          if (e < 0) { p = s + 2 } // broken frame: resume search past its SOI
          else {
            p = e
            return java.util.Arrays.copyOfRange(bytes, s, e)
          }
        }
        null // unreachable
      }
      override def hasNext: Boolean = nextFrame != null
      override def next(): Array[Byte] = {
        val f = nextFrame; nextFrame = advance(); f
      }
    }
  }

  /** Every `every`-th frame's raw JPEG bytes (frame sampling without
    * decode — the cheap tier). */
  def sampleFrames(bytes: Array[Byte], every: Int): Iterator[Array[Byte]] = {
    require(every >= 1, s"every must be >= 1, got $every")
    splitFrames(bytes).grouped(every).map(_.head)
  }

  /** Encode frames as an MJPEG stream (concatenated JPEGs). */
  def encodeMjpeg(frames: Iterator[BufferedImage]): Array[Byte] = {
    val baos = new ByteArrayOutputStream()
    frames.foreach(f => javax.imageio.ImageIO.write(f, "jpg", baos))
    baos.toByteArray
  }
}

object AudioCodec {

  /** The installed container readers, looked up once per JVM, less the
    * MIDI reader. `AudioSystem.getAudioInputStream` rediscovers every
    * reader on each call, and its MIDI reader (ordered ahead of the WAV
    * one) runs a MIDI-provider lookup on every blob it is handed: per-row
    * work on each task thread for a format this codec does not decode. */
  private lazy val readers: List[AudioFileReader] =
    java.util.ServiceLoader.load(classOf[AudioFileReader], ClassLoader.getSystemClassLoader)
      .asScala.filterNot(_.getClass.getSimpleName.contains("Midi")).toList

  /** The first reader that recognizes `bytes`: its container format and
    * its sample stream. Throws, as AudioSystem does, when none does. */
  private def open(bytes: Array[Byte]): (AudioFileFormat, AudioInputStream) =
    readers.iterator.flatMap { r =>
      try Some((r.getAudioFileFormat(new ByteArrayInputStream(bytes)),
        r.getAudioInputStream(new ByteArrayInputStream(bytes))))
      catch { case _: UnsupportedAudioFileException => None }
    }.nextOption().getOrElse(
      throw new UnsupportedAudioFileException("unrecognized audio container"))

  /** Decoded audio facts + sample stats. `rms` is over 16-bit PCM samples
    * normalized to [-1, 1]. */
  final case class AudioInfo(format: String, sampleRate: Int, channels: Int,
                             nFrames: Long, rms: Double)

  /** Full decode of a WAV/AIFF container via javax.sound.sampled: format
    * facts from the header, RMS from the PCM payload. None on
    * unrecognized/corrupt bytes (skip-don't-throw, as with images) AND on
    * sample encodings other than 16-bit PCM — an unsupported encoding is
    * skipped like a corrupt blob, never reported as rms = 0 "silence". */
  def decode(bytes: Array[Byte]): Option[AudioInfo] =
    try {
      val (fileFormat, ais) = open(bytes)
      try {
        val fmt = ais.getFormat
        if (fmt.getSampleSizeInBits != 16) None
        else {
          val data = ais.readAllBytes()
          var acc = 0.0
          var n = 0
          var i = 0
          while (i + 1 < data.length) {
            val s =
              if (fmt.isBigEndian) ((data(i) << 8) | (data(i + 1) & 0xff)).toShort
              else ((data(i + 1) << 8) | (data(i) & 0xff)).toShort
            val x = s / 32768.0
            acc += x * x
            n += 1
            i += 2
          }
          Some(AudioInfo(fileFormat.getType.getExtension,
            fmt.getSampleRate.toInt, fmt.getChannels, ais.getFrameLength,
            if (n == 0) 0.0 else math.sqrt(acc / n)))
        }
      } finally ais.close()
    } catch { case _: Exception => None }

  /** 64-bit audio fingerprint — the aHash discipline on the ENERGY
    * ENVELOPE: the 16-bit PCM payload splits into 64 equal time windows,
    * per-window RMS is computed, and bit w is set iff window w's RMS ≥
    * the 64-window mean. Invariant under global gain (both sides of the
    * comparison scale together) and robust to small local edits (one
    * window's bit flips, the rest stand), so Hamming distance between
    * fingerprints tracks envelope similarity — near-dup audio detection
    * becomes the same 64-bit banded-join problem as images. None on
    * undecodable bytes, non-16-bit encodings, and payloads shorter than
    * 64 samples (no meaningful envelope). Channels are not deinterleaved:
    * windows cut across the interleaved stream, which preserves the
    * envelope shape for any fixed channel count. */
  def energyFingerprint(bytes: Array[Byte]): Option[Long] =
    try {
      val (_, ais) = open(bytes)
      try {
        val fmt = ais.getFormat
        if (fmt.getSampleSizeInBits != 16) None
        else {
          val data = ais.readAllBytes()
          val n = data.length / 2
          if (n < 64) None
          else {
            val acc = new Array[Double](64)
            val cnt = new Array[Int](64)
            var i = 0
            while (i + 1 < data.length) {
              val s =
                if (fmt.isBigEndian) ((data(i) << 8) | (data(i + 1) & 0xff)).toShort
                else ((data(i + 1) << 8) | (data(i) & 0xff)).toShort
              val x = s / 32768.0
              // sample index → window by integer division (n ≥ 64, so
              // every window gets ≥ 1 sample)
              val w = math.min(63, (i / 2) * 64L / n).toInt
              acc(w) += x * x
              cnt(w) += 1
              i += 2
            }
            // per-window RMS over the window's TRUE sample count (windows
            // differ by ±1 sample when 64 ∤ n)
            val rms = new Array[Double](64)
            var w = 0
            while (w < 64) {
              rms(w) = math.sqrt(acc(w) / math.max(1, cnt(w)))
              w += 1
            }
            var mean = 0.0
            w = 0
            while (w < 64) { mean += rms(w); w += 1 }
            mean /= 64
            var h = 0L
            w = 0
            while (w < 64) { if (rms(w) >= mean) h |= (1L << w); w += 1 }
            Some(h)
          }
        }
      } finally ais.close()
    } catch { case _: Exception => None }

  /** Encode 16-bit mono PCM samples as a WAV container. */
  def encodeWav(samples: Array[Short], sampleRate: Int): Array[Byte] = {
    val pcm = new Array[Byte](samples.length * 2)
    var i = 0
    while (i < samples.length) {
      pcm(2 * i) = (samples(i) & 0xff).toByte
      pcm(2 * i + 1) = ((samples(i) >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(sampleRate.toFloat, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new ByteArrayInputStream(pcm), fmt, samples.length.toLong)
    val baos = new ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, baos)
    baos.toByteArray
  }
}
