package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing (driver prompt): media payloads are opaque
  * `binary` columns with typed metadata; decode / feature-extraction runs
  * batch-wise over partitions.
  *
  * IMAGE decode is REAL as of r16: payloads whose magic bytes identify a
  * format `javax.imageio` ships with in every standard JDK (PNG, JPEG,
  * BMP, GIF — no external media libraries needed) are decoded to actual
  * pixel rasters, and dimensions/channels/mean intensity come from the
  * decoded image. Payloads that are not decodable images (this corpus's
  * text-derived payloads, truncated files, audio) fall back to the
  * deterministic byte-sum arithmetic — which is also what keeps the
  * registered query DuckDB-replayable on the text corpus. Resize
  * ([[resizePayload]]) follows the same tier split: real box-average
  * resampling for decodable images, the bit-replayable fallback
  * otherwise. Frame
  * sampling ([[frameSamplePayload]]) decodes REAL frames for animated
  * GIFs and for AVI video containers (RIFF chunk walk to true frame
  * boundaries; MJPEG frames decode to pixels via the JDK's JPEG codec),
  * falling back to deterministic byte-block checksums for raw codec
  * bitstreams the JDK cannot parse. Audio ([[decodeAudioPayload]])
  * decodes linear PCM and G.711 µ-law/A-law from WAV/AIFF/AU containers.
  *
  * The test corpus has no binary column, so the payload is derived from
  * `documents.text` via a UTF-8 binary cast; on a real corpus the payload
  * column would come straight from parquet.
  */
object Multimodal {

  /** Typed record produced by the (stubbed) decoder. */
  case class DecodedMedia(
      doc_id: Long,
      n_bytes: Int,
      width: Int,
      height: Int,
      channels: Int,
      mean_intensity: Double)

  /** Typed record produced by the resize step. `resized_mean_intensity` is
    * the mean over the RESAMPLED raster: computed from real box-averaged
    * pixels for image payloads, and equal to the decode mean for the
    * uniform synthetic fallback raster (a box-average of a uniform raster
    * is the uniform value — exactly, not approximately).
    */
  case class ResizedMedia(
      doc_id: Long,
      src_width: Int,
      src_height: Int,
      dst_width: Int,
      dst_height: Int,
      scale: Double,
      resized_mean_intensity: Double)

  /** One sampled frame of a motion payload ([[frameSamplePayload]]):
    * decoded-raster checksums for animated GIFs, byte-block checksums for
    * the fallback.
    */
  case class SampledFrame(
      doc_id: Long,
      frame_idx: Int,
      frame_checksum: Long)

  /** Typed record produced by the audio decoder ([[decodeAudioPayload]]). */
  case class DecodedAudio(
      doc_id: Long,
      n_bytes: Int,
      channels: Int,
      sample_rate_hz: Double,
      n_frames: Long,
      duration_sec: Double,
      mean_abs_amplitude: Double)

  /** Pixel budget for any single decoded raster (64 M px ≈ a 256 MB ARGB
    * buffer) — a hostile header declaring 65535×65535 must take the cheap
    * byte-arithmetic fallback, not allocate multi-GB before failing.
    */
  private[graft] val MaxDecodePixels: Long = 1L << 26

  /** Decode one still image with the declared dimensions checked against
    * [[MaxDecodePixels]] BEFORE any raster is allocated (header metadata
    * only — `ImageReader.getWidth/getHeight` read the header, not pixels).
    * None when no installed codec claims the bytes, the image is
    * over-budget, or the decode fails — every caller's fallback path.
    * NonFatal only: a genuine VM error must fail (and retry) the task.
    */
  private def readImageGuarded(bytes: Array[Byte]): Option[java.awt.image.BufferedImage] =
    readImageGuarded(bytes, 0, bytes.length)

  private def readImageGuarded(
      bytes: Array[Byte], off: Int, len: Int): Option[java.awt.image.BufferedImage] =
    try {
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(bytes, off, len))
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        if (!readers.hasNext) None
        else {
          val reader = readers.next()
          try {
            reader.setInput(iis, true, true)
            if (reader.getWidth(0).toLong * reader.getHeight(0) > MaxDecodePixels) None
            else Option(reader.read(0))
          } finally reader.dispose()
        }
      } finally iis.close()
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Attach the opaque payload + cheap metadata (size, content hash). */
  def withPayload(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      col("text").cast("binary").as("payload"),
      length(col("text").cast("binary")).as("n_bytes"),
      sha2(col("text").cast("binary"), 256).as("sha256_hex"))

  /** Batch resize to a max-`maxSide`-px bounding box (aspect preserved).
    * REAL for image payloads (r16, same tier split as [[decodePayload]]):
    * the decoded raster is box-average resampled — each destination cell
    * is the mean of its source-pixel bin across all channels, pure integer
    * bin sums and one double division per cell, fixed iteration order, so
    * the output is deterministic on any JVM — and `resized_mean_intensity`
    * is the mean over those resampled cells. Non-image payloads take the
    * deterministic fallback dimensions, whose synthetic raster is uniform
    * at the decode mean — and a box-average of a uniform raster is exactly
    * the uniform value, so the fallback's resized mean is the decode mean
    * with no approximation (what keeps the registered query
    * DuckDB-replayable on the text corpus). Partition-wise, no shuffle
    * anywhere in the media pipeline.
    *
    * Target sides use integer arithmetic (`src * maxSide div longest`) and
    * the reported scale is a single IEEE division, so the output is exactly
    * replayable by an independent engine (no float round-to-nearest step
    * whose tie-breaking could differ across implementations).
    */
  def resize(docs: DataFrame, maxSide: Int = 256): Dataset[ResizedMedia] =
    resizePayload(
      docs.select(col("doc_id"), col("text").cast("binary").as("payload")), maxSide)

  /** [[resize]] over an (doc_id, payload binary) frame. */
  def resizePayload(media: DataFrame, maxSide: Int = 256): Dataset[ResizedMedia] = {
    require(maxSide >= 1, s"maxSide must be >= 1, got $maxSide")
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { batch =>
        javax.imageio.ImageIO.setUseCache(false)
        batch.map { case (id, bytes) =>
          val img = if (!sniffImage(bytes)) None else readImageGuarded(bytes)
          img match {
            case Some(im) => resampleImage(id, im, maxSide)
            case None =>
              val d = decodeFallback(id, bytes)
              val longest = math.max(d.width, d.height)
              if (longest <= maxSide)
                ResizedMedia(id, d.width, d.height, d.width, d.height, 1.0,
                  d.mean_intensity)
              else
                ResizedMedia(id, d.width, d.height,
                  math.max(1, d.width * maxSide / longest),
                  math.max(1, d.height * maxSide / longest),
                  maxSide.toDouble / longest,
                  d.mean_intensity)
          }
        }
      }
  }

  /** Box-average resample of one decoded image: destination cell (cx, cy)
    * bins the source pixels with `x * dw / sw == cx && y * dh / sh == cy`
    * (the integer binning every cell-average here uses), its value is the
    * bin's sample mean over all channels, and the resized mean is the mean
    * of the cells. When the image already fits the bounding box nothing is
    * resampled and the mean is the exact raster mean (one division of the
    * integer sample sum, [[decodeImage]]'s convention).
    */
  private def resampleImage(
      id: Long, img: java.awt.image.BufferedImage, maxSide: Int): ResizedMedia = {
    val raster = img.getRaster
    val (sw, sh, c) = (img.getWidth, img.getHeight, raster.getNumBands)
    val longest = math.max(sw, sh)
    if (longest <= maxSide) {
      var sum = 0L
      var y = 0
      while (y < sh) {
        var x = 0
        while (x < sw) {
          var b = 0
          while (b < c) { sum += raster.getSample(x, y, b); b += 1 }
          x += 1
        }
        y += 1
      }
      ResizedMedia(id, sw, sh, sw, sh, 1.0, sum.toDouble / (sw.toLong * sh * c))
    } else {
      val dw = math.max(1, sw * maxSide / longest)
      val dh = math.max(1, sh * maxSide / longest)
      val sums = new Array[Long](dw * dh)
      val counts = new Array[Long](dw * dh)
      var y = 0
      while (y < sh) {
        // long bin math: x * dw overflows Int past ~2^23 px sides
        val cy = (y.toLong * dh / sh).toInt
        var x = 0
        while (x < sw) {
          val cell = cy * dw + (x.toLong * dw / sw).toInt
          var b = 0
          while (b < c) { sums(cell) += raster.getSample(x, y, b); b += 1 }
          counts(cell) += c.toLong
          x += 1
        }
        y += 1
      }
      var cellSum = 0.0
      var i = 0
      while (i < dw * dh) {
        if (counts(i) > 0) cellSum += sums(i).toDouble / counts(i)
        i += 1
      }
      ResizedMedia(id, sw, sh, dw, dh, maxSide.toDouble / longest,
        cellSum / (dw * dh))
    }
  }

  /** Frame sampling — REAL for animated GIF payloads (r16): GIF is the one
    * multi-frame motion format a standard JDK decodes, so a "GIF8" payload
    * samples up to `maxFrames` frames spread evenly across the animation
    * (first and last always included via `i·(n−1)/(k−1)` source indices,
    * strictly increasing since n ≥ k) and checksums each DECODED frame's
    * ARGB raster row-major with FNV-1a — pure-integer, deterministic on any
    * JVM. AVI payloads go through [[aviFrames]] — a real RIFF container
    * walk that recovers true frame boundaries, decoding MJPEG frames to
    * pixels. Every other payload (this corpus's text payloads; codec
    * bitstreams outside a container) takes the deterministic byte-block
    * fallback —
    * one frame per 1000 payload bytes, capped — which keeps the registered
    * query engine-replayable. `frame_idx` is the SOURCE frame index for
    * GIFs, the block index for the fallback. flatMap — the row-explosion
    * shape a real decoder produces, partition-wise, no shuffle.
    */
  def frameSample(docs: DataFrame): Dataset[SampledFrame] =
    frameSamplePayload(docs.select(col("doc_id"), col("text").cast("binary").as("payload")))

  /** [[frameSample]] over an (doc_id, payload binary) frame. */
  def frameSamplePayload(media: DataFrame, maxFrames: Int = 5): Dataset[SampledFrame] = {
    require(maxFrames >= 1, s"maxFrames must be >= 1, got $maxFrames")
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { batch =>
        javax.imageio.ImageIO.setUseCache(false)
        batch.flatMap { case (id, bytes) =>
          val real =
            if (sniffGif(bytes)) gifFrames(id, bytes, maxFrames)
            else if (sniffAvi(bytes)) aviFrames(id, bytes, maxFrames)
            else None
          real.getOrElse {
            val n = math.min(bytes.length / 1000 + 1, maxFrames)
            (0 until n).map { i =>
              val start = i * 1000
              val end = math.min(start + 1000, bytes.length)
              SampledFrame(id, i, bytesFnv(bytes, start, end - start, i.toLong))
            }
          }
        }
      }
  }

  /** FNV-1a over a decoded image's ARGB raster, row-major, channel order
    * B,G,R,A — the ONE frame-checksum convention every motion tier (GIF,
    * AVI) shares; a tweak here applies to all of them at once.
    */
  private def rasterFnv(img: java.awt.image.BufferedImage, seed: Long): Long = {
    var acc = 0xcbf29ce484222325L ^ seed
    var y = 0
    while (y < img.getHeight) {
      var x = 0
      while (x < img.getWidth) {
        val p = img.getRGB(x, y)
        acc = (acc ^ (p & 0xffL)) * 0x100000001b3L
        acc = (acc ^ ((p >> 8) & 0xffL)) * 0x100000001b3L
        acc = (acc ^ ((p >> 16) & 0xffL)) * 0x100000001b3L
        acc = (acc ^ ((p >>> 24) & 0xffL)) * 0x100000001b3L
        x += 1
      }
      y += 1
    }
    acc
  }

  /** FNV-1a over `len` raw bytes at `off` — the frame/byte-block checksum
    * for payloads no JDK codec decodes.
    */
  private def bytesFnv(bytes: Array[Byte], off: Int, len: Int, seed: Long): Long = {
    var acc = 0xcbf29ce484222325L ^ seed
    var j = off
    while (j < off + len) { acc = (acc ^ (bytes(j) & 0xffL)) * 0x100000001b3L; j += 1 }
    acc
  }

  /** "GIF8" magic at offset 0. A sniff hit only routes to the GIF reader —
    * text that merely starts "GIF8" fails the decode and falls back.
    */
  private[graft] def sniffGif(bytes: Array[Byte]): Boolean =
    bytes.length >= 4 &&
      bytes(0) == 'G' && bytes(1) == 'I' && bytes(2) == 'F' && bytes(3) == '8'

  /** Decode and checksum up to `maxFrames` evenly-spread frames of an
    * animated GIF, or None when the bytes do not decode as one.
    */
  private def gifFrames(
      id: Long, bytes: Array[Byte], maxFrames: Int): Option[Seq[SampledFrame]] =
    try {
      val readers = javax.imageio.ImageIO.getImageReadersByFormatName("gif")
      if (!readers.hasNext) None
      else {
        val reader = readers.next()
        val iis = javax.imageio.ImageIO.createImageInputStream(
          new java.io.ByteArrayInputStream(bytes))
        try {
          reader.setInput(iis, false, true)
          val n = reader.getNumImages(true)
          if (n <= 0) None
          else {
            val k = math.min(n, maxFrames)
            val idxs = if (k == 1) Seq(0) else (0 until k).map(i => i * (n - 1) / (k - 1))
            // header-declared dimensions checked per sampled frame BEFORE
            // decoding — a hostile GIF declaring a 65535×65535 screen must
            // fall back cheaply, not allocate a multi-GB raster per frame
            if (idxs.exists(i =>
                reader.getWidth(i).toLong * reader.getHeight(i) > MaxDecodePixels)) None
            else Some(idxs.map { i =>
              SampledFrame(id, i, rasterFnv(reader.read(i), i.toLong))
            })
          }
        } finally { reader.dispose(); iis.close() }
      }
      // NonFatal: truncated/hostile bytes → fallback; VM errors propagate
    } catch { case scala.util.control.NonFatal(_) => None }

  /** "RIFF….AVI " magic — the AVI video container. A sniff hit only routes
    * to the RIFF walker; payloads that fail to parse fall back.
    */
  private[graft] def sniffAvi(bytes: Array[Byte]): Boolean =
    bytes.length >= 12 &&
      bytes(0) == 'R' && bytes(1) == 'I' && bytes(2) == 'F' && bytes(3) == 'F' &&
      bytes(8) == 'A' && bytes(9) == 'V' && bytes(10) == 'I' && bytes(11) == ' '

  /** TRUE-VIDEO frame sampling for AVI payloads (r16): AVI is a RIFF
    * container, so a ~40-line chunk walker recovers the REAL frame
    * boundaries — video-stream chunks carry fourccs `##dc` (compressed) /
    * `##db` (uncompressed DIB), nested inside `LIST` chunks (`movi` /
    * `rec `). Up to `maxFrames` frames spread evenly across the stream
    * (first and last included, [[gifFrames]]' index rule) then decode:
    * an MJPEG frame is a complete JPEG stream (`FF D8` magic) that
    * `javax.imageio` decodes to pixels — its checksum is the FNV-1a of
    * the DECODED ARGB raster, byte-parity with the GIF tier. Frames in
    * codecs the JDK cannot decode checksum their exact frame BYTES
    * (boundaries still real — that is what the container parse buys).
    * `frame_idx` is the source frame index. Returns None when the movi
    * walk finds no video chunks (hostile/truncated bytes → fallback).
    */
  private def aviFrames(
      id: Long, bytes: Array[Byte], maxFrames: Int): Option[Seq[SampledFrame]] =
    try {
      // (offset, length) of each ##dc/##db chunk, in stream order
      val frames = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
      def u32(off: Int): Long =
        (bytes(off) & 0xffL) | ((bytes(off + 1) & 0xffL) << 8) |
          ((bytes(off + 2) & 0xffL) << 16) | ((bytes(off + 3) & 0xffL) << 24)
      def isDigit(b: Byte): Boolean = b >= '0' && b <= '9'
      // ITERATIVE depth-first in-order chunk walk (r17, was recursive): a
      // hostile payload nesting LIST chunks thousands deep must not blow
      // the JVM stack. `pending` holds one heap entry per LIST that still
      // has trailing siblings (a pure nesting chain pushes nothing at
      // all), capped so a pathological sibling fan-out cannot grow the
      // deque unboundedly — at the cap a list body is skipped and the
      // walk continues with its siblings.
      val pending = scala.collection.mutable.ArrayDeque.empty[(Int, Int)]
      pending.append((12, bytes.length))
      val maxDepth = 4096
      while (pending.nonEmpty) {
        var (p, end) = pending.removeLast()
        var walking = true
        while (walking && p + 8 <= end) {
          val size = u32(p + 4)
          val body = p + 8
          if (size < 0 || body + size > end) walking = false // corrupt size → stop segment
          else {
            val next = body + size.toInt + (size.toInt & 1) // chunks pad to even
            val isList =
              (bytes(p) == 'L' && bytes(p + 1) == 'I' && bytes(p + 2) == 'S' &&
                bytes(p + 3) == 'T') ||
              (bytes(p) == 'R' && bytes(p + 1) == 'I' && bytes(p + 2) == 'F' &&
                bytes(p + 3) == 'F')
            if (isList && size >= 4 && pending.length < maxDepth) {
              if (next < end) pending.append((next, end)) // resume siblings after the list
              p = body + 4
              end = body + size.toInt
            } else {
              if (!isList && isDigit(bytes(p)) && isDigit(bytes(p + 1)) &&
                  (bytes(p + 3) == 'c' || bytes(p + 3) == 'b') && bytes(p + 2) == 'd')
                frames += ((body, size.toInt))
              p = next
            }
          }
        }
      }
      val n = frames.length
      if (n == 0) None
      else {
        val k = math.min(n, maxFrames)
        val idxs = if (k == 1) Seq(0) else (0 until k).map(i => i * (n - 1) / (k - 1))
        Some(idxs.map { i =>
          val (off, len) = frames(i)
          val jpeg =
            if (len >= 2 && bytes(off) == 0xff.toByte && bytes(off + 1) == 0xd8.toByte)
              readImageGuarded(bytes, off, len) // zero-copy frame window
            else None
          val h = jpeg match {
            case Some(img) => rasterFnv(img, i.toLong) // decoded-raster, the gifFrames convention
            case None      => bytesFnv(bytes, off, len, i.toLong) // undecodable codec: exact frame bytes
          }
          SampledFrame(id, i, h)
        })
      }
      // NonFatal: truncated/hostile bytes → fallback; VM errors propagate
    } catch { case scala.util.control.NonFatal(_) => None }

  /** 60-bit perceptual hash of each payload — STUBBED feature extraction:
    * a real pHash DCTs the decoded pixel grid; with no codec in this
    * container, the "features" are the payload's md5 (first 15 hex chars →
    * a 60-bit key both engines can derive), which preserves the one
    * property the downstream join needs for verification: identical
    * payloads collide exactly. The banding/verification machinery in
    * [[phashNearDupPairs]] is the real, production-shaped part — swap this
    * one projection for a real pHash and nothing downstream changes.
    */
  def pHashStub(media: DataFrame): DataFrame =
    media.select(col("doc_id"),
      conv(substring(md5(col("payload")), 1, 15), 16, 10).cast("long").as("phash"))

  /** The (id, phash, band, bits) band explode of [[phashNearDupPairs]] —
    * one struct per pigeonhole band of the 60-bit hash, map-side.
    */
  private def phashBands(
      phashes: DataFrame,
      maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 59,
      s"maxHamming must be in [0, 59], got $maxHamming")
    val nBands = maxHamming + 1
    val widths = Array.tabulate(nBands)(b => 60 / nBands + (if (b < 60 % nBands) 1 else 0))
    val offsets = widths.scanLeft(0)(_ + _)
    val bandCols = (0 until nBands).map { b =>
      struct(lit(b).as("band"),
        shiftrightunsigned(col("phash"), offsets(b))
          .bitwiseAND(lit((1L << widths(b)) - 1)).as("bits"))
    }
    phashes
      .select(col("doc_id").as("id"), col("phash"),
        explode(array(bandCols: _*)).as("bd"))
      .select(col("id"), col("phash"),
        col("bd.band").as("band"), col("bd.bits").as("bits"))
  }

  /** Near-duplicate media pairs at Hamming distance ≤ `maxHamming` over the
    * 60-bit perceptual hash — the image-dedup step of a multimodal
    * pipeline. Pigeonhole banding: the 60 bits split into `maxHamming + 1`
    * contiguous bands, so any pair within distance k agrees on at least
    * one whole band; candidates equi-join on (band, bits) — map-side band
    * explode, signature-not-pixels over the shuffle, buckets capped like
    * every other dedup join here (`graft_cap_*` observes shed rows) — and
    * the exact `bit_count(xor)` decides. Exact over the capped candidate
    * set; returns (id_a < id_b, hamming).
    */
  def phashNearDupPairs(
      phashes: DataFrame,
      maxHamming: Int = 5): DataFrame = {
    val banded = phashBands(phashes, maxHamming)
    val capped = Dedup.capBuckets(banded, Dedup.defaultBucketCap, "band", "bits")
    capped.as("a").join(capped.as("b"),
        col("a.band") === col("b.band") && col("a.bits") === col("b.bits") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.phash").as("__ha"), col("b.phash").as("__hb"))
      .distinct()
      .select(col("id_a"), col("id_b"),
        bit_count(col("__ha").bitwiseXOR(col("__hb"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Magic-byte sniff for the formats a standard JDK's `javax.imageio`
    * decodes: PNG (\x89PNG), JPEG (FF D8), BMP ("BM"), GIF ("GIF8"), and
    * TIFF ("II*\0" little- / "MM\0*" big-endian — the TIFF plugin ships
    * in every JDK since 9; scan/scientific corpora arrive in it). A sniff
    * hit only routes the payload to the codec — a payload that merely
    * STARTS like an image (e.g. text beginning "BM") fails the actual
    * decode and falls back deterministically.
    */
  private[graft] def sniffImage(bytes: Array[Byte]): Boolean =
    bytes.length >= 4 && (
      (bytes(0) == 0x89.toByte && bytes(1) == 'P' && bytes(2) == 'N' && bytes(3) == 'G') ||
      (bytes(0) == 0xff.toByte && bytes(1) == 0xd8.toByte) ||
      (bytes(0) == 'B' && bytes(1) == 'M') ||
      (bytes(0) == 'G' && bytes(1) == 'I' && bytes(2) == 'F' && bytes(3) == '8') ||
      (bytes(0) == 'I' && bytes(1) == 'I' && bytes(2) == 42 && bytes(3) == 0) ||
      (bytes(0) == 'M' && bytes(1) == 'M' && bytes(2) == 0 && bytes(3) == 42))

  /** Real image decode of one payload, or None when the bytes are not a
    * decodable image. Mean intensity is the average over every raster
    * sample (all channels), as ONE division of a long sample sum — for the
    * lossless formats (PNG/BMP/GIF) this is exactly reproducible anywhere.
    */
  private def decodeImage(bytes: Array[Byte]): Option[(Int, Int, Int, Double)] =
    readImageGuarded(bytes).map { img =>
      {
        val raster = img.getRaster
        val (w, h, c) = (img.getWidth, img.getHeight, raster.getNumBands)
        var sum = 0L
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            var b = 0
            while (b < c) { sum += raster.getSample(x, y, b); b += 1 }
            x += 1
          }
          y += 1
        }
        (w, h, c, sum.toDouble / (w.toLong * h * c))
      }
    }

  /** The non-image fallback: every output derived from the payload byte
    * sum and length so an independent engine can replay it exactly and
    * hash-compare the result (the r1-r3 FNV-derived dimensions were
    * deterministic but only this JVM could compute them — rows-only
    * checkable):
    *
    *   - width  = 64 + byte_sum mod 1024
    *   - height = 64 + (byte_sum div 7 + n_bytes) mod 1024
    *   - mean_intensity = byte_sum / n_bytes as ONE IEEE-754 division of two
    *     exactly-representable integers — bitwise identical in any engine,
    *     no rounding step to diverge on.
    *
    * The per-byte loop is still a real pass over the payload (the shape a
    * codec call has).
    */
  private def decodeFallback(id: Long, bytes: Array[Byte]): DecodedMedia = {
    var sum = 0L
    var i = 0
    while (i < bytes.length) {
      sum += bytes(i) & 0xffL
      i += 1
    }
    val width = 64 + (sum % 1024L).toInt
    val height = 64 + ((sum / 7L + bytes.length) % 1024L).toInt
    val mean = if (bytes.isEmpty) 0.0 else sum.toDouble / bytes.length
    DecodedMedia(id, bytes.length, width, height, 3, mean)
  }

  /** Batch decode over an (id, payload binary) frame: partition-wise
    * iteration, one typed record per media item, fully distributed. Image
    * payloads decode for real via `javax.imageio` (PNG/JPEG/BMP/GIF in
    * every standard JDK); everything else takes the deterministic
    * fallback. `ImageIO`'s disk-backed stream cache is disabled once per
    * executor JVM — payloads are already in memory and a tmp-file per
    * decode would put a filesystem write on the hot path.
    */
  def decodePayload(media: DataFrame): Dataset[DecodedMedia] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { batch =>
        javax.imageio.ImageIO.setUseCache(false)
        batch.map { case (id, bytes) =>
          val img = if (sniffImage(bytes)) decodeImage(bytes) else None
          img match {
            case Some((w, h, c, mean)) => DecodedMedia(id, bytes.length, w, h, c, mean)
            case None                  => decodeFallback(id, bytes)
          }
        }
      }
  }

  /** [[decodePayload]] over the text-derived payload of the test corpus. */
  def decode(docs: DataFrame): Dataset[DecodedMedia] =
    decodePayload(docs.select(col("doc_id"), col("text").cast("binary").as("payload")))

  /** Magic bytes of the PCM audio containers a standard JDK's
    * `javax.sound.sampled` parses: WAV (RIFF/WAVE), AIFF/AIFF-C
    * (FORM/AIF*), and AU (".snd"). A sniff hit only routes to the decoder;
    * payloads it cannot parse as linear PCM fall back deterministically.
    */
  private[graft] def sniffWav(bytes: Array[Byte]): Boolean =
    bytes.length >= 12 &&
      bytes(0) == 'R' && bytes(1) == 'I' && bytes(2) == 'F' && bytes(3) == 'F' &&
      bytes(8) == 'W' && bytes(9) == 'A' && bytes(10) == 'V' && bytes(11) == 'E'

  private[graft] def sniffAudio(bytes: Array[Byte]): Boolean =
    sniffWav(bytes) ||
      (bytes.length >= 12 &&
        bytes(0) == 'F' && bytes(1) == 'O' && bytes(2) == 'R' && bytes(3) == 'M' &&
        bytes(8) == 'A' && bytes(9) == 'I' && bytes(10) == 'F') || // AIFF / AIFC
      (bytes.length >= 4 &&
        bytes(0) == '.' && bytes(1) == 's' && bytes(2) == 'n' && bytes(3) == 'd')

  /** Real audio decode of one payload via `javax.sound.sampled` (in every
    * standard JDK — WAV, AIFF/AIFF-C, AU containers), or None when the
    * bytes are not decodable audio. Linear PCM reads directly; G.711
    * µ-law/A-law COMPRESSED payloads (the telephony encodings the JDK
    * ships a codec for) are first expanded to 16-bit signed PCM through
    * `AudioSystem`'s conversion chain — the G.711 expansion tables are
    * fixed by the ITU spec, so the decoded samples are deterministic.
    * Mean absolute amplitude is normalized to [0, 1] (16-bit signed big-
    * or little-endian / 8-bit signed or unsigned PCM) as ONE division of
    * an exact integer sum — reproducible anywhere for these containers.
    */
  private def decodeWav(bytes: Array[Byte]): Option[(Int, Double, Long, Double)] =
    try {
      val raw = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      val rawEnc = raw.getFormat.getEncoding
      val compressed = rawEnc == javax.sound.sampled.AudioFormat.Encoding.ULAW ||
        rawEnc == javax.sound.sampled.AudioFormat.Encoding.ALAW
      val ais =
        if (!compressed) raw
        else {
          val g = raw.getFormat
          javax.sound.sampled.AudioSystem.getAudioInputStream(
            new javax.sound.sampled.AudioFormat(
              javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
              g.getSampleRate, 16, g.getChannels, g.getChannels * 2,
              g.getSampleRate, false),
            raw)
        }
      try {
        val f = ais.getFormat
        val enc = f.getEncoding
        val bits = f.getSampleSizeInBits
        val pcmSigned = enc == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED
        val pcmUnsigned = enc == javax.sound.sampled.AudioFormat.Encoding.PCM_UNSIGNED
        if (!(pcmSigned && bits == 16) && !((pcmSigned || pcmUnsigned) && bits == 8)) None
        else {
          val data = ais.readAllBytes()
          val channels = f.getChannels
          var sumAbs = 0L
          var nSamples = 0L
          if (bits == 16) {
            val big = f.isBigEndian
            var i = 0
            while (i + 1 < data.length) {
              val s =
                if (big) ((data(i) << 8) | (data(i + 1) & 0xff)).toShort
                else ((data(i + 1) << 8) | (data(i) & 0xff)).toShort
              sumAbs += math.abs(s.toLong)
              nSamples += 1
              i += 2
            }
          } else {
            var i = 0
            while (i < data.length) {
              val s = if (pcmUnsigned) (data(i) & 0xff) - 128 else data(i).toInt
              sumAbs += math.abs(s.toLong)
              nSamples += 1
              i += 1
            }
          }
          val scale = if (bits == 16) 32768.0 else 128.0
          val nFrames = if (channels > 0) nSamples / channels else 0L
          val mean = if (nSamples == 0) 0.0 else sumAbs.toDouble / nSamples / scale
          Some((channels, f.getSampleRate.toDouble, nFrames, mean))
        }
      } finally ais.close()
      // NonFatal: truncated/hostile bytes → fallback; VM errors propagate
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Batch audio decode over an (id, payload binary) frame — the audio leg
    * of the multimodal pipeline, same partition-wise shape as
    * [[decodePayload]]: WAV / AIFF / AU payloads decode for REAL (linear
    * PCM plus G.711 µ-law/A-law compressed frames via
    * `javax.sound.sampled`; channels/sample-rate/frame-count from the
    * container, mean |amplitude| from the decoded samples),
    * everything else takes a deterministic replayable fallback (nominal 16 kHz mono:
    * one "frame" per payload byte, amplitude = byte mean / 255 — exact
    * integer IEEE divisions an independent engine reproduces bitwise).
    */
  def decodeAudioPayload(media: DataFrame): Dataset[DecodedAudio] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { batch =>
        batch.map { case (id, bytes) =>
          val wav = if (sniffAudio(bytes)) decodeWav(bytes) else None
          wav match {
            case Some((ch, rate, frames, mean)) =>
              val dur = if (rate > 0) frames.toDouble / rate else 0.0
              DecodedAudio(id, bytes.length, ch, rate, frames, dur, mean)
            case None =>
              var sum = 0L
              var i = 0
              while (i < bytes.length) { sum += bytes(i) & 0xffL; i += 1 }
              val mean =
                if (bytes.isEmpty) 0.0 else sum.toDouble / bytes.length / 255.0
              DecodedAudio(id, bytes.length, 1, 16000.0, bytes.length.toLong,
                bytes.length.toDouble / 16000.0, mean)
          }
        }
      }
  }

  /** [[decodeAudioPayload]] over the text-derived payload of the test
    * corpus.
    */
  def decodeAudio(docs: DataFrame): Dataset[DecodedAudio] =
    decodeAudioPayload(docs.select(col("doc_id"), col("text").cast("binary").as("payload")))
}
