package graft.multimodal

/** GIF pixel decode — pure JVM, public spec (GIF87a/89a, the W3C
  * GIF89a specification): the third web image format onto the REAL
  * pixel path. Scope: the logical-screen/image-descriptor walk,
  * global AND local color tables, the full GIF-variant LZW
  * decompressor (variable code width from `minCodeSize+1` to 12 bits,
  * LSB-first packing across data sub-blocks, CLEAR/END codes,
  * the `code == next` self-referential case), the optional GIF89a
  * graphic-control transparent index (alpha 0), and the 4-pass ROW
  * interlace. Animations decode their FIRST frame (the perceptual
  * near-dup family fingerprints videos through [[VideoFrames]];
  * a GIF's first frame is the right single-image proxy). A frame
  * smaller than the logical screen decodes at the FRAME's dimensions
  * (the compressed payload's own geometry) — offsets are not
  * composited. Total on arbitrary bytes, never a throw
  * (DecoderFuzzSpec). */
object Gif {

  private val MaxPixels = 16L * 1024 * 1024

  /** Gate surface (`mm_gif_decode`): synthesize a real GIF per
    * document ([[MediaSynth.gif]] — closed-form grays indexed into a
    * 256-entry palette carrying the shared channel derivation
    * (g, (g+85)%256, (g+170)%256); doc_id % 6 == 2 rows are ROW-
    * INTERLACED, a lossless reordering under the same closed forms),
    * decode through the full production path (block walk, LZW,
    * palette, de-interlace), and report the same pixel statistics as
    * the PNG gate: pix_sum = Σ (r+g+b) and pix_wsum =
    * Σ (r+g+b)·(1 + x + w·y). Rows with doc_id % 5 == 3 get a
    * TRUNCATED stream and must report the (-1,-1,-1,-1) fallback.
    * Map-only over documents. */
  def decodeReport(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id").as[Long]
      .map { id =>
        val full = MediaSynth.gif(id)
        val payload = if (id % 5 == 3) full.take(16) else full
        decodePixels(payload) match {
          case Some((w, h, px)) =>
            var sum = 0L; var wsum = 0L
            var i = 0
            while (i < px.length) {
              val rgb = ((px(i) >> 16) & 0xff) + ((px(i) >> 8) & 0xff) +
                (px(i) & 0xff)
              val x = i % w; val y = i / w
              sum += rgb
              wsum += rgb.toLong * (1L + x + w.toLong * y)
              i += 1
            }
            (id, w.toLong, h.toLong, sum, wsum)
          case None => (id, -1L, -1L, -1L, -1L)
        }
      }
      .toDF("doc_id", "w", "h", "pix_sum", "pix_wsum")
  }

  def dedupDumpPath(base: String): String =
    graft.core.SideDump.path("gifhash_sigs", base)

  /** Gate surface (`mm_image_dedup_gif`) — GIF in the perceptual
    * near-dup family (the JPEG/PNG twins' shape): odd docs carry
    * their even neighbor's frame with the top-left 8×8 region
    * brightened by +8, re-LZW-coded (byte streams differ completely,
    * the aHash moves a few bits); id % 7 == 5 docs carry a truncated
    * stream (stub fallback in-gate). Hashes side-dumped; DuckDB
    * re-derives banding/caps/probes/verify. */
  def imageDedupGif(spark: org.apache.spark.sql.SparkSession,
      sfDir: String, maxHamming: Int = 15,
      maxBucket: Int = 1000): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    // widened when narrow (graft.core.Widen): the per-row synth +
    // full pixel/sample decode below is the gate's entire cost, and
    // the single-file scan would run it 1-wide (r17 stage audit)
    val sigs = graft.core.Widen.ifNarrow(
        spark.read.parquet(s"$sfDir/documents.parquet").select("doc_id"))
      .as[Long]
      .map(id => (id, ImageDedup.imageHash(dedupPayload(id))))
      .toDF("doc_id", "sig")
    SigDump.dumpAndPair(sigs, "gifhash_sigs", sfDir, maxHamming,
      maxBucket)
  }

  /** The near-dup fixture payload (shared with GifSpec). */
  private[multimodal] def dedupPayload(id: Long): Array[Byte] =
    if (id % 7 == 5) MediaSynth.gif(id).take(20) // undecodable -> stub
    else if (id % 2 == 0) MediaSynth.gif(id)
    else {
      val twin = id - 1
      MediaSynth.gifOf(MediaSynth.gifW(twin), MediaSynth.gifH(twin),
        (x, y) => {
          val g = MediaSynth.gifGray(twin, x, y)
          if (x < 8 && y < 8) math.min(255, g + 8) else g
        })
    }

  /** Decode a GIF's first frame to (width, height, ARGB pixels).
    * None on anything malformed, truncated, or over the pixel
    * ceiling — never a throw. */
  def decodePixels(b: Array[Byte]): Option[(Int, Int, Array[Int])] = {
    try decode0(b)
    catch { case _: RuntimeException | _: ArrayIndexOutOfBoundsException |
      _: NegativeArraySizeException => None }
  }

  private def decode0(b: Array[Byte]): Option[(Int, Int, Array[Int])] = {
    if (b.length < 14) return None
    val magic = new String(b, 0, 6, "US-ASCII")
    if (magic != "GIF87a" && magic != "GIF89a") return None
    def u8(p: Int): Int = b(p) & 0xff
    def le16(p: Int): Int = u8(p) | (u8(p + 1) << 8)

    // logical screen descriptor + optional global color table
    val packed = u8(10)
    var p = 13
    var globalPal: Array[Int] = null
    if ((packed & 0x80) != 0) {
      val n = 2 << (packed & 7)
      if (p + 3 * n > b.length) return None
      globalPal = readPalette(b, p, n)
      p += 3 * n
    }

    var transparent = -1
    while (p < b.length) {
      u8(p) match {
        case 0x21 => // extension: label + sub-blocks
          if (p + 2 > b.length) return None
          val label = u8(p + 1)
          p += 2
          // graphic control: latch the transparent index for the
          // NEXT image (GIF89a §23)
          if (label == 0xf9 && p + 6 <= b.length && u8(p) == 4)
            transparent = if ((u8(p + 1) & 1) != 0) u8(p + 4) else -1
          var sz = if (p < b.length) u8(p) else return None
          while (sz != 0) {
            p += 1 + sz
            if (p >= b.length) return None
            sz = u8(p)
          }
          p += 1 // block terminator
        case 0x2c => // image descriptor: decode this (first) frame
          if (p + 10 > b.length) return None
          val w = le16(p + 5); val h = le16(p + 7)
          val ipacked = u8(p + 9)
          p += 10
          if (w <= 0 || h <= 0 || w.toLong * h > MaxPixels) return None
          var pal = globalPal
          if ((ipacked & 0x80) != 0) { // local color table wins
            val n = 2 << (ipacked & 7)
            if (p + 3 * n > b.length) return None
            pal = readPalette(b, p, n)
            p += 3 * n
          }
          if (pal == null) return None
          if (transparent >= 0 && transparent < pal.length)
            pal = pal.updated(transparent, pal(transparent) & 0x00ffffff)
          val interlaced = (ipacked & 0x40) != 0
          return decodeFrame(b, p, w, h, pal, interlaced).flatMap {
            case (res, after) =>
              // a well-formed container still owes its remaining
              // blocks and the 0x3B trailer — a truncated file falls
              // to the stub instead of passing off a partial decode
              if (walkToTrailer(b, after)) Some(res) else None
          }
        case 0x3b => return None // trailer before any image
        case _ => return None
      }
    }
    None
  }

  /** Skip the blocks after the first frame (further frames of an
    * animation, extensions) and require the 0x3B trailer. */
  private def walkToTrailer(b: Array[Byte], start: Int): Boolean = {
    def u8(q: Int): Int = b(q) & 0xff
    def skipSubBlocks(q0: Int): Int = { // -1 on truncation
      var q = q0
      while (q < b.length && u8(q) != 0) q += 1 + u8(q)
      if (q < b.length) q + 1 else -1
    }
    var p = start
    while (p < b.length) {
      u8(p) match {
        case 0x3b => return true
        case 0x21 =>
          p = skipSubBlocks(p + 2)
          if (p < 0) return false
        case 0x2c =>
          if (p + 10 > b.length) return false
          val ipacked = u8(p + 9)
          p += 10
          if ((ipacked & 0x80) != 0) p += 3 * (2 << (ipacked & 7))
          p = skipSubBlocks(p + 1) // min code size + data sub-blocks
          if (p < 0) return false
        case _ => return false
      }
    }
    false
  }

  private def readPalette(b: Array[Byte], p: Int, n: Int): Array[Int] =
    Array.tabulate(n)(i => 0xff000000 | ((b(p + 3 * i) & 0xff) << 16) |
      ((b(p + 3 * i + 1) & 0xff) << 8) | (b(p + 3 * i + 2) & 0xff))

  /** LZW-decode one frame's index stream and compose ARGB; also
    * returns the position just past the data's block terminator. */
  private def decodeFrame(b: Array[Byte], start: Int, w: Int, h: Int,
      pal: Array[Int], interlaced: Boolean)
      : Option[((Int, Int, Array[Int]), Int)] = {
    def u8(p: Int): Int = b(p) & 0xff
    if (start >= b.length) return None
    val minCode = u8(start)
    if (minCode < 1 || minCode > 11) return None
    // concatenate the data sub-blocks
    val data = new java.io.ByteArrayOutputStream(256)
    var p = start + 1
    var sz = if (p < b.length) u8(p) else return None
    while (sz != 0) {
      if (p + 1 + sz > b.length) return None
      data.write(b, p + 1, sz)
      p += 1 + sz
      if (p >= b.length) return None
      sz = u8(p)
    }
    val d = data.toByteArray

    // GIF-variant LZW: codes packed LSB-first; dictionary as
    // (prefix code, suffix byte) arrays, 12-bit ceiling
    val clear = 1 << minCode
    val end = clear + 1
    val prefix = new Array[Int](4096)
    val suffix = new Array[Byte](4096)
    var next = end + 1
    var width = minCode + 1
    var prev = -1
    val out = new Array[Int](w * h) // frame indices, row-major raster
    var outN = 0
    var acc = 0L; var nbits = 0; var dp = 0
    val seq = new Array[Byte](4096)

    def emit(code0: Int): Boolean = { // expand a code to out
      var n = 0
      var c = code0
      while (c >= clear) { // walk the chain (codes > end are table entries)
        if (n >= seq.length) return false
        seq(n) = suffix(c); n += 1
        c = prefix(c)
      }
      // c is now a root (< clear); palette range is checked at compose
      if (outN + n + 1 > out.length) return false
      out(outN) = c; outN += 1
      var i = n - 1
      while (i >= 0) { out(outN) = seq(i) & 0xff; outN += 1; i -= 1 }
      true
    }
    def firstByte(code0: Int): Int = {
      var c = code0
      while (c >= clear) c = prefix(c)
      c
    }

    var done = false
    while (!done && outN < w * h) {
      while (nbits < width && dp < d.length) {
        acc |= (d(dp) & 0xffL) << nbits
        nbits += 8; dp += 1
      }
      if (nbits < width) return None // truncated stream
      val code = (acc & ((1L << width) - 1)).toInt
      acc >>>= width; nbits -= width
      if (code == clear) {
        next = end + 1; width = minCode + 1; prev = -1
      } else if (code == end) {
        done = true
      } else if (prev < 0) {
        if (code >= next || code >= clear) return None // first must be a root
        if (!emit(code)) return None
        prev = code
      } else {
        if (code > next) return None
        val cur = if (code == next) { // the self-referential case
          if (next >= 4096) return None
          prefix(next) = prev; suffix(next) = firstByte(prev).toByte
          next += 1
          code
        } else {
          if (next < 4096) {
            prefix(next) = prev; suffix(next) = firstByte(code).toByte
            next += 1
          }
          code
        }
        if (!emit(cur)) return None
        prev = cur
        if (next == (1 << width) && width < 12) width += 1
      }
    }
    if (outN != w * h) return None

    // indices -> ARGB, de-interlacing the 4-pass row order
    val px = new Array[Int](w * h)
    val rowOrder: Array[Int] =
      if (!interlaced) Array.tabulate(h)(identity)
      else ((0 until h by 8) ++ (4 until h by 8) ++ (2 until h by 4) ++
        (1 until h by 2)).toArray
    var ry = 0
    while (ry < h) {
      val y = rowOrder(ry)
      var x = 0
      while (x < w) {
        val idx = out(ry * w + x)
        if (idx >= pal.length) return None
        px(y * w + x) = pal(idx)
        x += 1
      }
      ry += 1
    }
    Some(((w, h, px), p + 1))
  }
}
