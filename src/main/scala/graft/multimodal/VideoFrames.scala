package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import graft.multimodal.Multimodal.MediaRow

/** REAL video frame decode — AVI (RIFF 'AVI '), two codecs: 24-bit
  * BI_RGB DIB frames in '00db' chunks (uncompressed; the RIFF walk is
  * [[AudioFeatures.decodeWavPcm]]'s, the frame pixel layout is
  * [[ImageDedup.decodeBmpPixels]]'s — bottom-up BGR rows, 4-byte row
  * padding), and — r13 — MJPEG ('MJPG' biCompression, one complete
  * JPEG stream per '00dc' chunk) decoded frame-by-frame through
  * [[Jpeg.decodePixels]]: the first COMPRESSED-video pixels, obtained
  * almost entirely by composition of the shipped RIFF walker and the
  * T.81 decoder. This closes the video leg of the real-decode story:
  * QOI images and PCM WAV audio already decode for real; H.264-class
  * codec video (the MP4 rows) keeps its honest header-only boundary.
  *
  * Gate story (`mm_video_frames`): the gate corpus' real AVI rows
  * ([[MediaSynth.avi]]) have closed-form frame pixels
  * ([[MediaSynth.aviGray]]), so DuckDB re-derives frame COUNT,
  * dimensions, the container's exact byte length, and the sum over
  * every pixel of every frame from doc_id alone — the
  * `mm_resize`/`mm_resample` strongest-oracle shape extended to the
  * time axis.
  *
  * Scale: decode is map-only; per-row memory is one frame set bounded
  * by [[MaxFramePixels]] · [[MaxFrames]].
  */
object VideoFrames {

  /** Per-frame pixel ceiling (shared rationale with
    * [[ImageDedup.MaxPixels]]) and frame-count ceiling. */
  private[multimodal] val MaxFramePixels = 4L * 1024 * 1024
  private[multimodal] val MaxFrames = 4096

  /** Decode an uncompressed AVI payload to (width, height, frames) —
    * each frame ARGB in top-down row order. None on anything
    * malformed, compressed, truncated, or over the ceilings. */
  private[multimodal] def decodeAviFrames(
      b: Array[Byte]): Option[(Int, Int, Array[Array[Int]])] = {
    def tag(p: Int): String =
      if (p < 0 || b.length < p + 4) "" else new String(b, p, 4, "US-ASCII")
    def le32(p: Int): Long =
      if (p < 0 || b.length < p + 4) -1L
      else java.nio.ByteBuffer.wrap(b, p, 4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt.toLong & 0xffffffffL
    if (tag(0) != "RIFF" || tag(8) != "AVI ") return None
    val riffEnd = math.min(b.length.toLong, 8L + le32(4)).toInt

    var w = -1; var h = -1
    var bppOk = false
    var mjpeg = false // biCompression == 'MJPG' on the latched stream
    // the strf/frame filter is bound to the FIRST 'vids' STREAM, not
    // to whatever strf appears last in the RIFF: a multi-stream AVI
    // (video + audio, or two video streams) carries one strl LIST per
    // stream, and stream i's movi chunks are tagged '{i:02d}db'. We
    // track which strl we are in, latch the first 'vids' stream's
    // index off its strh, accept ONLY that strl's strf as the format,
    // and ONLY that stream's '..db' (raw DIB) chunks as frames —
    // '..dc' (codec-compressed) chunks are never raw pixels and are
    // skipped, so a fully compressed stream decodes no frames and
    // falls back to the stub.
    var strlCount = 0
    var currentStrl = -1
    var vidsStream = -1
    val frames = scala.collection.mutable.ArrayBuffer.empty[Int] // offsets
    val sizes = scala.collection.mutable.ArrayBuffer.empty[Int]
    def frameTag: String =
      if (mjpeg) f"$vidsStream%02ddc" else f"$vidsStream%02ddb"

    // walk chunks within [from, to); recurse into LISTs we care about
    def walk(from: Int, to: Int, inMovi: Boolean): Boolean = {
      var p = from
      while (p + 8 <= to) {
        val id = tag(p)
        val size = le32(p + 4)
        if (size < 0 || p + 8 + size > to) return false
        val body = p + 8
        id match {
          case "LIST" =>
            val four = tag(body)
            if (four == "hdrl" || four == "strl" || four == "movi" || four == "rec ") {
              if (four == "strl") { currentStrl = strlCount; strlCount += 1 }
              if (!walk(body + 4, body + size.toInt, inMovi || four == "movi"))
                return false
              if (four == "strl") currentStrl = -1
            }
          case "avih" =>
            if (size < 40) return false
            w = le32(body + 32).toInt; h = le32(body + 36).toInt
          case "strh" =>
            // fccType at +0: latch the first video stream's index
            if (size >= 4 && vidsStream < 0 && currentStrl >= 0 &&
              tag(body) == "vids") vidsStream = currentStrl
          case "strf" =>
            // BITMAPINFOHEADER: bpp at +14, compression at +16 — only
            // the latched video stream's format counts. BI_RGB 24bpp
            // is the raw-DIB path; fourcc 'MJPG' (0x47504A4D LE) is
            // one complete JPEG per '..dc' chunk
            if (size >= 20 && currentStrl >= 0 && currentStrl == vidsStream) {
              val bpp = ((b(body + 14) & 0xff) | ((b(body + 15) & 0xff) << 8))
              val comp = le32(body + 16)
              mjpeg = comp == 0x47504a4dL
              bppOk = (bpp == 24 && comp == 0) || mjpeg
            }
          case fid if inMovi && vidsStream >= 0 && fid == frameTag =>
            frames += body; sizes += size.toInt
          case _ => ()
        }
        p = body + size.toInt + (size.toInt & 1) // word alignment
      }
      true
    }
    if (!walk(12, riffEnd, inMovi = false)) return None
    if (!bppOk || w <= 0 || h <= 0 || w > MaxFramePixels || h > MaxFramePixels ||
      w.toLong * h > MaxFramePixels) return None
    if (frames.isEmpty || frames.length > MaxFrames) return None
    if (mjpeg) {
      // composition: each '..dc' chunk is a complete JPEG stream;
      // every frame must decode and match the container dims (an
      // MJPEG stream whose frames disagree with avih is malformed)
      val out = new Array[Array[Int]](frames.length)
      var f = 0
      while (f < frames.length) {
        val sub = java.util.Arrays.copyOfRange(b, frames(f),
          frames(f) + sizes(f))
        Jpeg.decodePixels(sub) match {
          case Some((fw, fh, px)) if fw == w && fh == h => out(f) = px
          case _ => return None
        }
        f += 1
      }
      return Some((w, h, out))
    }
    val rowSize = ((24 * w + 31) / 32) * 4
    if (rowSize.toLong * h > Int.MaxValue) return None
    val out = new Array[Array[Int]](frames.length)
    var f = 0
    while (f < frames.length) {
      if (sizes(f) < rowSize * h) return None
      val base = frames(f)
      val px = new Array[Int](w * h)
      var row = 0
      while (row < h) {
        val srcRow = h - 1 - row // bottom-up, normalized to top-down
        val rp = base + srcRow * rowSize
        var x = 0
        while (x < w) {
          val p = rp + x * 3
          val bl = b(p) & 0xff; val g = b(p + 1) & 0xff; val r = b(p + 2) & 0xff
          px(row * w + x) = (0xff << 24) | (r << 16) | (g << 8) | bl
          x += 1
        }
        row += 1
      }
      out(f) = px
      f += 1
    }
    Some((w, h, out))
  }

  /** The video media table: real rows (the [[MediaSynth.isReal]]
    * convention) carry genuine uncompressed AVI payloads with
    * closed-form frame pixels; fakes carry the text bytes (stub
    * fallback). Independent of [[Multimodal.mediaTable]], so the
    * MP4-header gates are untouched. */
  def aviTable(spark: SparkSession, sfDir: String): Dataset[MediaRow] = {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
      .filter(col("doc_id") % 3 === 2)
      .as[(Long, String)]
      .map { case (id, text) =>
        val payload =
          if (MediaSynth.isReal(id)) MediaSynth.avi(id)
          else text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        MediaRow(id, "video", payload, "video/avi", payload.length.toLong)
      }
  }

  def dumpPath(base: String): String =
    graft.core.SideDump.path("vidhash_sigs", base)

  /** 64-bit TEMPORAL MAJORITY fingerprint: each decodable frame's 8×8
    * aHash, folded bitwise — bit b is set iff at least half the frames
    * set it. Robust to a minority of edited/inserted frames and to
    * per-frame noise the aHash already absorbs; frame ORDER does not
    * matter (a reversal is the same video to this signature, which is
    * the useful notion for near-dup dedup, not for alignment).
    * Frames smaller than 8×8 contribute nothing; None when no frame
    * hashes (callers fall back to the byte hash). */
  private[multimodal] def videoHash(w: Int, h: Int,
      frames: Array[Array[Int]]): Option[Long] = {
    val counts = new Array[Int](64)
    var used = 0
    var f = 0
    while (f < frames.length) {
      ImageDedup.aHash64(w, h, frames(f)) match {
        case Some(hash) =>
          used += 1
          var b = 0
          while (b < 64) {
            if (((hash >>> b) & 1L) == 1L) counts(b) += 1
            b += 1
          }
        case None => ()
      }
      f += 1
    }
    if (used == 0) return None
    var sig = 0L
    var b = 0
    while (b < 64) {
      // majority: 2·count >= frames-used (ties set the bit, matching
      // aHash's deterministic strict-> convention being asymmetric)
      if (2 * counts(b) >= used) sig |= 1L << b
      b += 1
    }
    Some(sig)
  }

  /** The per-video fingerprint: real frame decode + temporal majority
    * when possible, the byte-region hash otherwise. */
  private[multimodal] def clipHash(bytes: Array[Byte]): Long =
    decodeAviFrames(bytes)
      .flatMap { case (w, h, frames) => videoHash(w, h, frames) }
      .getOrElse(ImageDedup.stubImageHash(bytes))

  /** Near-dup pairs among `media`'s video rows — the multi-probe
    * banded-Hamming machinery shared with the text, image and audio
    * families. */
  def videoDedupOf(media: Dataset[MediaRow], maxHamming: Int = 15,
      maxBucket: Int = 1000): org.apache.spark.sql.DataFrame = {
    import media.sparkSession.implicits._
    val sigs = media.filter(_.kind == "video")
      .map(m => (m.media_id, clipHash(m.media)))
      .toDF("doc_id", "sig")
    graft.dedup.Dedup.simhashPairsMultiProbeOf(sigs, maxHamming, maxBucket)
  }

  /** Gate surface (`mm_video_dedup`): fingerprints side-dumped (the
    * frame decode is the faith), banding/cap/Hamming re-derived by
    * DuckDB — the mm_image_dedup oracle over the video dump. */
  def videoDedup(spark: SparkSession, sfDir: String, maxHamming: Int = 15,
      maxBucket: Int = 1000): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val sigs = aviTable(spark, sfDir)
      .map(m => (m.media_id, clipHash(m.media)))
      .toDF("doc_id", "sig")
    SigDump.dumpAndPair(sigs, "vidhash_sigs", sfDir, maxHamming, maxBucket)
  }

  /** Video THUMBNAIL extraction — the decode → frame-sample → resize
    * composition a video corpus runs to build preview/embedding
    * inputs: the MIDDLE frame (index n/2 — deterministic, never the
    * fade-in first frame) box-averaged to (tw × th) by
    * [[ImageResize.resizePixels]] and re-encoded as a QOI payload.
    * Gate surface (`mm_video_thumbs`) digests the DE-CODED thumbnail
    * (so video decode, frame choice, resize, image encode and image
    * decode all sit inside one oracle); undecodable rows report
    * frame_idx = -1 and the passthrough length. */
  def thumbnailReport(spark: SparkSession, sfDir: String, tw: Int = 4,
      th: Int = 4): DataFrame = {
    val media = aviTable(spark, sfDir)
    import media.sparkSession.implicits._
    media.map { m =>
      decodeAviFrames(m.media) match {
        case Some((w, h, frames)) =>
          val f = frames.length / 2
          val enc = ImageResize.qoiEncode(tw, th,
            ImageResize.resizePixels(w, h, frames(f), tw, th))
          val ps = ImageDedup.decodeQoiPixels(enc).map { case (_, _, px) =>
            var s = 0L; var i = 0
            while (i < px.length) {
              val p = px(i)
              s += ((p >>> 16) & 0xff) + ((p >>> 8) & 0xff) + (p & 0xff)
              i += 1
            }
            s
          }.getOrElse(-2L)
          (m.media_id, f.toLong, enc.length.toLong, ps)
        case None =>
          (m.media_id, -1L, m.media.length.toLong, -1L)
      }
    }.toDF("media_id", "frame_idx", "out_bytes", "px_sum")
  }

  /** The MJPEG video table: real rows carry [[MediaSynth.aviMjpeg]]
    * payloads (one complete JPEG per frame chunk), fakes the text
    * bytes. Independent of [[aviTable]], so the raw-DIB gates are
    * untouched. */
  def mjpegTable(spark: SparkSession, sfDir: String): Dataset[MediaRow] = {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
      .filter(col("doc_id") % 3 === 2)
      .as[(Long, String)]
      .map { case (id, text) =>
        val payload =
          if (MediaSynth.isReal(id)) MediaSynth.aviMjpeg(id)
          else text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        MediaRow(id, "video", payload, "video/avi", payload.length.toLong)
      }
  }

  /** Gate surface (`mm_video_frames_mjpeg`): the COMPRESSED-video
    * pixel path — every real row's frames are full T.81 decodes, and
    * the oracle recomputes both sums from doc_id closed forms
    * ([[MediaSynth.mjpegGray]]): px_sum = Σ red over every pixel of
    * every frame, and px_wsum = Σ red · (1 + bx + nbx·by) · (1 + f) —
    * the block-position weight of `mm_jpeg_decode` with a frame-index
    * factor on top, so a dropped, duplicated or reordered frame (and
    * any misplaced block within one) breaks the hash. Undecodable
    * rows report (0, 0, 0, -1, -1). */
  def videoFrameReportMjpeg(spark: SparkSession, sfDir: String): DataFrame = {
    val media = mjpegTable(spark, sfDir)
    import media.sparkSession.implicits._
    media.map { m =>
      decodeAviFrames(m.media) match {
        case Some((w, h, frames)) =>
          val nbx = w / 8
          var s = 0L; var ws = 0L
          var f = 0
          while (f < frames.length) {
            val px = frames(f)
            var i = 0
            while (i < px.length) {
              val r = (px(i) >>> 16) & 0xff
              val bx = (i % w) / 8; val by = (i / w) / 8
              s += r
              ws += r.toLong * (1L + bx + nbx.toLong * by) * (1L + f)
              i += 1
            }
            f += 1
          }
          (m.media_id, w.toLong, h.toLong, frames.length.toLong, s, ws)
        case None => (m.media_id, 0L, 0L, 0L, -1L, -1L)
      }
    }.toDF("media_id", "width", "height", "n_frames", "px_sum", "px_wsum")
  }

  def mjpegDumpPath(base: String): String =
    graft.core.SideDump.path("vidmjpeghash_sigs", base)

  /** The MJPEG near-dup fixture payload (PngSpec-twin convention):
    * odd docs re-encode their even neighbor's frames with ONE block
    * of frame 0 brightened by +8 (the temporal-majority fold absorbs
    * a single edited frame, so the fingerprint moves at most a few
    * bits while the byte stream — every frame re-Huffman-coded —
    * differs completely); id % 7 == 5 docs carry a truncated stream
    * (stub fallback in-gate). */
  private[multimodal] def mjpegDedupPayload(id: Long): Array[Byte] =
    if (id % 7 == 5) MediaSynth.aviMjpeg(id).take(32) // undecodable -> stub
    else if (id % 2 == 0) MediaSynth.aviMjpeg(id)
    else {
      val twin = id - 1
      MediaSynth.aviMjpegOf(MediaSynth.mjpegNbx(twin),
        MediaSynth.mjpegNby(twin), MediaSynth.aviFrames(twin),
        (f, bx, by) => {
          val g = MediaSynth.mjpegGray(twin, f, bx, by)
          if (f == 0 && bx == 0 && by == 0) math.min(255, g + 8) else g
        })
    }

  /** Gate surface (`mm_video_dedup_mjpeg`) — compressed video in the
    * perceptual near-dup family: everything through the REAL
    * per-frame JPEG decode → aHash → temporal-majority fold →
    * multi-probe banded Hamming. Fingerprints side-dumped; DuckDB
    * re-derives banding/caps/probes/verify (the shared mediaHashPairs
    * oracle). */
  def videoDedupMjpeg(spark: SparkSession, sfDir: String,
      maxHamming: Int = 15, maxBucket: Int = 1000): DataFrame = {
    import spark.implicits._
    // widened when narrow (graft.core.Widen): per-row MJPEG synth +
    // frame decode is the gate's entire cost (r17 stage audit)
    val sigs = graft.core.Widen.ifNarrow(
        spark.read.parquet(s"$sfDir/documents.parquet")
          .select(org.apache.spark.sql.functions.col("doc_id")))
      .as[Long]
      .map(id => (id, clipHash(mjpegDedupPayload(id))))
      .toDF("doc_id", "sig")
    SigDump.dumpAndPair(sigs, "vidmjpeghash_sigs", sfDir, maxHamming,
      maxBucket)
  }

  /** Gate surface (`mm_video_frames`): per video row, the decoded
    * frame digests — dimensions, frame count, the container's byte
    * length, and `px_sum` = Σ over every pixel of every frame of the
    * red channel (channels are equal on the gray gate corpus; the
    * column pins full frame CONTENT, not just headers). Undecodable
    * rows report zeros, the passthrough length and px_sum = -1. */
  def videoFrameReport(spark: SparkSession, sfDir: String): DataFrame = {
    val media = aviTable(spark, sfDir)
    import media.sparkSession.implicits._
    media.map { m =>
      decodeAviFrames(m.media) match {
        case Some((w, h, frames)) =>
          var s = 0L
          var f = 0
          while (f < frames.length) {
            val px = frames(f)
            var i = 0
            while (i < px.length) { s += (px(i) >>> 16) & 0xff; i += 1 }
            f += 1
          }
          (m.media_id, w.toLong, h.toLong, frames.length.toLong,
            m.media.length.toLong, s)
        case None =>
          (m.media_id, 0L, 0L, 0L, m.media.length.toLong, -1L)
      }
    }.toDF("media_id", "width", "height", "n_frames", "byte_len", "px_sum")
  }
}
