package graft.multimodal

import graft.core.DumpSink
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.multimodal.Multimodal.MediaRow

/** Perceptual image near-duplicate detection — the visual twin of the
  * text SimHash family: decode pixels, fold an 8×8 average hash
  * (aHash: each cell's mean gray vs the global mean — robust to
  * resize/noise/compression, the classic pHash-lite), then find pairs
  * by the SAME multi-probe banded-Hamming machinery text SimHash
  * uses ([[graft.dedup.Dedup.simhashPairsMultiProbeOf]]: 8 bands ×
  * 8 bits with radius-1 band perturbations — pigeonhole-complete to
  * Hamming ≤ 15 — bucket-capped, exact bit_count verify).
  *
  * Pixel decode is REAL pure-JVM for the formats whose payloads need
  * no media library: QOI (the full op set — RUN/INDEX/DIFF/LUMA/
  * RGB/RGBA are a dozen lines of public spec, qoiformat.org) and
  * uncompressed 24-bit BMP. Everything else takes the documented
  * stub hash (a deterministic strided byte sample — the same honesty
  * contract as [[Multimodal.decodeStub]]). The gate corpus carries
  * REAL QOI payloads on half its image rows ([[MediaSynth]]), so the
  * hash gate crosses the full pixel decode + aHash path AND the
  * byte-aHash fallback in one run; ImageDedupSpec additionally pins
  * the decode on hand-assembled op streams.
  *
  * Scale design: hashing is map-only over the media table (one
  * narrow pass, binary column read once); the pair stage shuffles
  * 8 fixed-size band keys per image — identical posture to
  * `dedup_simhash`, which survives the same analysis at 100 TB.
  * Oracle story: the per-image hashes are side-dumped (the decode is
  * the faith, exactly as for `mm_features`); banding, the bucket
  * cap, and the Hamming verify are re-derived by DuckDB as 64-bit
  * arithmetic — the `dedup_simhash_multiprobe` oracle verbatim over
  * the image dump.
  */
object ImageDedup {


  // ── QOI full pixel decode (public spec, qoiformat.org) ────────────

  /** Decode a QOI payload to (width, height, ARGB pixels). None on
    * anything malformed, truncated, or larger than [[MaxPixels]]. */
  private[multimodal] def decodeQoiPixels(b: Array[Byte]): Option[(Int, Int, Array[Int])] = {
    if (b.length < 14 + 8) return None
    if (!(b(0) == 'q' && b(1) == 'o' && b(2) == 'i' && b(3) == 'f')) return None
    def be32(p: Int): Long =
      ((b(p) & 0xffL) << 24) | ((b(p + 1) & 0xffL) << 16) |
        ((b(p + 2) & 0xffL) << 8) | (b(p + 3) & 0xffL)
    val w = be32(4); val h = be32(8)
    val channels = b(12) & 0xff
    // bound each unsigned-32 dimension BEFORE multiplying: w·h on two
    // ~2³² values can wrap past 2⁶³ and sneak under a product-only
    // guard (negative or small-positive), crashing the array alloc on
    // a crafted 'qoif'-magic payload instead of falling back
    if (w <= 0 || h <= 0 || w > MaxPixels || h > MaxPixels ||
      w * h > MaxPixels) return None
    if (channels != 3 && channels != 4) return None
    val n = (w * h).toInt
    val out = new Array[Int](n)
    val index = new Array[Int](64) // ARGB, zero-initialized (a=0)
    var r = 0; var g = 0; var bl = 0; var a = 255
    var p = 14
    var i = 0
    def store(): Unit = {
      val px = (a << 24) | (r << 16) | (g << 8) | bl
      out(i) = px
      index((r * 3 + g * 5 + bl * 7 + a * 11) % 64) = px
      i += 1
    }
    while (i < n) {
      if (p >= b.length) return None
      val op = b(p) & 0xff
      p += 1
      if (op == 0xfe) { // QOI_OP_RGB
        if (p + 3 > b.length) return None
        r = b(p) & 0xff; g = b(p + 1) & 0xff; bl = b(p + 2) & 0xff
        p += 3; store()
      } else if (op == 0xff) { // QOI_OP_RGBA
        if (p + 4 > b.length) return None
        r = b(p) & 0xff; g = b(p + 1) & 0xff; bl = b(p + 2) & 0xff
        a = b(p + 3) & 0xff
        p += 4; store()
      } else (op >> 6) match {
        case 0 => // QOI_OP_INDEX
          val px = index(op & 0x3f)
          a = (px >>> 24) & 0xff; r = (px >>> 16) & 0xff
          g = (px >>> 8) & 0xff; bl = px & 0xff
          store()
        case 1 => // QOI_OP_DIFF (wrapping, alpha unchanged)
          r = (r + ((op >> 4) & 3) - 2) & 0xff
          g = (g + ((op >> 2) & 3) - 2) & 0xff
          bl = (bl + (op & 3) - 2) & 0xff
          store()
        case 2 => // QOI_OP_LUMA
          if (p >= b.length) return None
          val dg = (op & 0x3f) - 32
          val b2 = b(p) & 0xff
          p += 1
          r = (r + dg + ((b2 >> 4) & 0xf) - 8) & 0xff
          g = (g + dg) & 0xff
          bl = (bl + dg + (b2 & 0xf) - 8) & 0xff
          store()
        case _ => // QOI_OP_RUN
          var run = (op & 0x3f) + 1
          if (i + run > n) return None
          while (run > 0) { store(); run -= 1 }
      }
    }
    Some((w.toInt, h.toInt, out))
  }

  /** Pixel-count ceiling for driver/executor safety (16 MB ARGB). */
  private[multimodal] val MaxPixels = 4L * 1024 * 1024

  // ── BMP 24-bit uncompressed pixel decode ──────────────────────────

  /** Decode an uncompressed (BI_RGB) 24-bit BMP payload to (width,
    * |height|, ARGB pixels), normalizing bottom-up storage to
    * top-down row order. None for any other BMP flavor. */
  private[multimodal] def decodeBmpPixels(b: Array[Byte]): Option[(Int, Int, Array[Int])] = {
    if (b.length < 54) return None
    if (!(b(0) == 'B' && b(1) == 'M')) return None
    def le32(p: Int): Int =
      (b(p) & 0xff) | ((b(p + 1) & 0xff) << 8) |
        ((b(p + 2) & 0xff) << 16) | ((b(p + 3) & 0xff) << 24)
    def le16(p: Int): Int = (b(p) & 0xff) | ((b(p + 1) & 0xff) << 8)
    val dataOff = le32(10)
    val w = le32(18)
    val hRaw = le32(22)
    val bpp = le16(28)
    val compression = le32(30)
    if (bpp != 24 || compression != 0) return None
    val topDown = hRaw < 0
    val h = math.abs(hRaw)
    if (w <= 0 || h <= 0 || w.toLong * h > MaxPixels) return None
    val rowSize = ((24 * w + 31) / 32) * 4
    if (dataOff < 0 || dataOff.toLong + rowSize.toLong * h > b.length) return None
    val out = new Array[Int](w * h)
    var row = 0
    while (row < h) {
      val srcRow = if (topDown) row else h - 1 - row
      val base = dataOff + srcRow * rowSize
      var x = 0
      while (x < w) {
        val p = base + x * 3
        val bl = b(p) & 0xff; val g = b(p + 1) & 0xff; val r = b(p + 2) & 0xff
        out(row * w + x) = (0xff << 24) | (r << 16) | (g << 8) | bl
        x += 1
      }
      row += 1
    }
    Some((w, h, out))
  }

  // ── 8×8 average hash ──────────────────────────────────────────────

  /** aHash over ARGB pixels: integer gray (299r+587g+114b), 8×8 cell
    * means vs the global mean — all comparisons via cross-multiplied
    * Long sums, so the hash is exactly reproducible (no division,
    * no floats). Bit i = cell (row-major) i; strict > (ties → 0).
    * Needs w ≥ 8 and h ≥ 8 (callers fall back to the stub hash). */
  private[multimodal] def aHash64(w: Int, h: Int, argb: Array[Int]): Option[Long] = {
    if (w < 8 || h < 8) return None
    val gray = new Array[Long](argb.length)
    var total = 0L
    var i = 0
    while (i < argb.length) {
      val px = argb(i)
      val g = 299L * ((px >>> 16) & 0xff) + 587L * ((px >>> 8) & 0xff) +
        114L * (px & 0xff)
      gray(i) = g
      total += g
      i += 1
    }
    var hash = 0L
    var cy = 0
    while (cy < 8) {
      val y0 = cy * h / 8; val y1 = (cy + 1) * h / 8
      var cx = 0
      while (cx < 8) {
        val x0 = cx * w / 8; val x1 = (cx + 1) * w / 8
        var sum = 0L; var cnt = 0L
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) { sum += gray(y * w + x); cnt += 1; x += 1 }
          y += 1
        }
        // cellMean > globalMean  ⟺  sum · N > total · cnt
        if (cnt > 0 && sum * argb.length > total * cnt)
          hash |= 1L << (cy * 8 + cx)
        cx += 1
      }
      cy += 1
    }
    Some(hash)
  }

  /** FALLBACK hash for payloads the pure-JVM decoders cannot read
    * (the gate corpus' fake bytes, and any compressed format): the
    * SAME aHash construction applied to the raw byte stream as a
    * 64-region 1-D signal — region mean vs global mean, cross-
    * multiplied (no division). Not a fake: two byte streams with
    * similar content produce nearby hashes (region means are robust
    * to small local edits), so the banded pair machinery finds
    * near-dup payloads even where pixel decode is impossible —
    * degraded-but-honest, and documented as byte-level rather than
    * pixel-level similarity. */
  private[multimodal] def stubImageHash(bytes: Array[Byte]): Long = {
    val n = bytes.length
    if (n == 0) return 0L
    var total = 0L
    var i = 0
    while (i < n) { total += (bytes(i) & 0xff); i += 1 }
    var hash = 0L
    var r = 0
    while (r < 64) {
      val lo = ((r.toLong * n) / 64).toInt
      val hi = (((r + 1).toLong * n) / 64).toInt
      var sum = 0L
      var p = lo
      while (p < hi) { sum += (bytes(p) & 0xff); p += 1 }
      val cnt = hi - lo
      // regionMean > globalMean  ⟺  sum · n > total · cnt
      if (cnt > 0 && sum * n > total * cnt) hash |= 1L << r
      r += 1
    }
    hash
  }

  /** The per-image hash: real pixel decode (QOI, then BMP, then
    * PNG — [[Png.decodePixels]], r13 — then baseline+progressive
    * JPEG — [[Jpeg.decodePixels]], r12/r13 — then VP8L WebP and
    * baseline TIFF — [[Webp.decodePixels]]/[[Tiff.decodePixels]],
    * r14) + aHash when possible, stub otherwise. Order is magic-byte
    * disjoint, so it's a sniff chain, not a preference. */
  private[graft] def imageHash(bytes: Array[Byte]): Long =
    decodeQoiPixels(bytes).orElse(decodeBmpPixels(bytes))
      .orElse(Png.decodePixels(bytes))
      .orElse(Gif.decodePixels(bytes))
      .orElse(Jpeg.decodePixels(bytes))
      .orElse(Webp.decodePixels(bytes))
      .orElse(Tiff.decodePixels(bytes))
      .flatMap { case (w, h, px) => aHash64(w, h, px) }
      .getOrElse(stubImageHash(bytes))

  /** Near-dup pairs (i, j) among `media`'s image rows at Hamming ≤
    * `maxHamming` — MULTI-PROBE banding (radius-1 band perturbations,
    * [[graft.dedup.Dedup.simhashPairsMultiProbeOf]]), so the
    * pigeonhole guarantee covers Hamming ≤ 15 over 8×8-bit bands:
    * perceptual hashes of near-dup images land well inside that, and
    * the byte-level fallback hash needs the headroom (region means of
    * similar payloads differ by more bits than pixel aHashes do). */
  def imageDedupOf(media: Dataset[MediaRow], maxHamming: Int = 15,
      maxBucket: Int = 1000): DataFrame =
    graft.dedup.Dedup.simhashPairsMultiProbeOf(hashFrame(media),
      maxHamming, maxBucket)

  /** (doc_id, sig) hash frame — doc_id-named so the SimHash band CTE
    * and pair machinery apply verbatim. */
  private def hashFrame(media: Dataset[MediaRow]): DataFrame = {
    import media.sparkSession.implicits._
    media.filter(_.kind == "image")
      .map(m => (m.media_id, imageHash(m.media)))
      .toDF("doc_id", "sig")
  }

  /** Gate surface: hashes go to `sigsDump` (the decode is the faith);
    * multi-probe banding, cap and Hamming verify re-derived by
    * DuckDB (the dedup_simhash_multiprobe oracle over the image
    * dump). */
  def imageDedup(spark: SparkSession, sfDir: String, maxHamming: Int = 15,
      maxBucket: Int = 1000, sigsDump: DumpSink = DumpSink.discard): DataFrame =
    SigDump.dumpAndPair(hashFrame(Multimodal.mediaTable(spark, sfDir)),
      maxHamming, maxBucket, sigsDump)
}
