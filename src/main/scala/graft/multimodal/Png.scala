package graft.multimodal

/** PNG pixel decode — pure JVM, public spec (RFC 2083 / ISO 15948):
  * the web's second image format onto the REAL pixel path (r12
  * "What's missing #2" — header-only before this; every PNG fell to
  * the byte-stub hash). Scope: 8-bit samples, color types 0
  * (grayscale), 2 (truecolor), 4 (gray+alpha) and 6 (RGBA),
  * PLUS 3 (indexed, PLTE/tRNS), SEQUENTIAL and ADAM7-INTERLACED —
  * i.e. the CRC-checked chunk
  * walk, multi-IDAT zlib stream inflated with
  * `java.util.zip.Inflater` (a JVM builtin — DEFLATE is the one
  * entropy codec we don't hand-roll), all five scanline filters
  * (None/Sub/Up/Average/Paeth) unfiltered at the color type's
  * byte-per-pixel stride, and the seven Adam7 passes decoded as
  * independent sub-images (own scanline widths, own filter history)
  * then scattered to frame positions (RFC 2083 §2.6); indexed rows
  * look up a CRC'd PLTE (per-entry tRNS alpha honored; the types-0/2
  * single-transparent-sample tRNS form is REJECTED rather than
  * silently skipped). ALL legal bit depths decode (r14, closing r13
  * "What's missing #4"): 16-bit samples scale to 8-bit by
  * round(s·255/65535); 1/2/4-bit grayscale (MSB-first packed,
  * row-padded) scales by 255/(2^d−1); 1/2/4-bit indexed samples are
  * palette indices. Same totality contract as every decoder here: a
  * value or None on arbitrary bytes, never a throw (DecoderFuzzSpec).
  *
  * Output is ARGB (alpha 255 for the alpha-less color types) — the
  * same shape [[Jpeg.decodePixels]] and the QOI/BMP decoders emit,
  * so [[ImageDedup.imageHash]]'s aHash consumes it unchanged. */
object Png {

  private val MaxPixels = 16L * 1024 * 1024

  private val Sig: Array[Byte] =
    Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

  /** Gate surface (`mm_png_decode`): synthesize a real PNG per
    * document ([[MediaSynth.png]] — closed-form grays, the color type
    * cycling gray/truecolor/RGBA/gray+alpha by doc_id % 4, the filter
    * type cycling through ALL FIVE filters by row, doc_id % 9 == 7
    * rows ADAM7 INTERLACED — a lossless reordering, so the same
    * closed forms pin the seven-pass path), decode through
    * the full production path (chunk walk, CRC, inflate, unfilter),
    * and report per-image pixel statistics the oracle recomputes from
    * doc_id closed forms: pix_sum = Σ (r+g+b) and the
    * position-weighted pix_wsum = Σ (r+g+b)·(1 + x + w·y), which a
    * misfiltered or shifted scanline cannot fake. The doc_id % 13
    * classes route through the sub-byte depths (4/2/1-bit gray,
    * 4-bit indexed — decoded grays are the quantized closed form
    * (gray >> (8−d))·255/(2^d−1), which the oracle recomputes);
    * doc_id % 11 == 6 rows are 16-bit (stored s·257, so proper
    * scaling returns the closed form verbatim). Rows with
    * doc_id % 5 == 3 get a TRUNCATED stream and must report the
    * (-1,-1,-1,-1) fallback. Map-only over documents. */
  def decodeReport(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id").as[Long]
      .map { id =>
        val full = MediaSynth.png(id)
        val payload = if (id % 5 == 3) full.take(24) else full
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
    graft.core.SideDump.path("pnghash_sigs", base)

  /** Gate surface (`mm_image_dedup_png`) — the PNG path in the
    * perceptual near-dup family, the [[Jpeg.imageDedupJpeg]] twin:
    * odd docs carry their even neighbor's image with one pixel-block
    * region brightened by +8 (aHash moves a few bits, the byte stream
    * completely), id % 7 == 5 docs carry a truncated stream (stub
    * fallback in-gate), everything through decode → aHash →
    * multi-probe banded Hamming. Hashes side-dumped; DuckDB
    * re-derives banding/caps/probes/verify (the shared mediaHashPairs
    * oracle). */
  def imageDedupPng(spark: org.apache.spark.sql.SparkSession,
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
    SigDump.dumpAndPair(sigs, "pnghash_sigs", sfDir, maxHamming,
      maxBucket)
  }

  /** The near-dup fixture payload (shared with PngSpec's planted-twin
    * assertions): the twin re-renders the even neighbor's frame with
    * the top-left 8×8 region brightened by +8 — a real re-encoded
    * near-dup, filtered and deflated independently. */
  private[multimodal] def dedupPayload(id: Long): Array[Byte] =
    if (id % 7 == 5) MediaSynth.png(id).take(24) // undecodable -> stub
    else if (id % 2 == 0) MediaSynth.png(id)
    else {
      val twin = id - 1
      // re-render at the NEIGHBOR's depth class (quantizing the
      // perturbed gray the same way), so the twin is a true re-encode
      // of the same image family, not a depth-8 re-render whose
      // quantization alone moves aHash bits
      val shift = 8 - math.min(8, MediaSynth.pngDepth(twin))
      MediaSynth.pngOf(MediaSynth.pngW(twin), MediaSynth.pngH(twin),
        MediaSynth.pngColorType(twin),
        (x, y) => {
          val g = MediaSynth.pngGray(twin, x, y)
          (if (x < 8 && y < 8) math.min(255, g + 8) else g) >> shift
        },
        y => ((twin + y) % 5).toInt,
        depth = MediaSynth.pngDepth(twin))
    }

  /** Decode a PNG to (width, height, ARGB pixels). None on anything
    * outside the supported profile, malformed, truncated, or over the
    * pixel ceiling — never a throw. */
  def decodePixels(b: Array[Byte]): Option[(Int, Int, Array[Int])] = {
    try decode0(b)
    catch { case _: RuntimeException | _: ArrayIndexOutOfBoundsException |
      _: NegativeArraySizeException |
      _: java.util.zip.DataFormatException => None }
  }

  private def decode0(b: Array[Byte]): Option[(Int, Int, Array[Int])] = {
    if (b.length < Sig.length + 25) return None
    var i = 0
    while (i < Sig.length) { if (b(i) != Sig(i)) return None; i += 1 }
    def beInt(p: Int): Long =
      ((b(p) & 0xffL) << 24) | ((b(p + 1) & 0xffL) << 16) |
        ((b(p + 2) & 0xffL) << 8) | (b(p + 3) & 0xffL)

    var width = 0; var height = 0
    var colorType = -1
    var interlaced = false
    var depth = 8 // bit depth (1/2/4/8/16)
    var bpp = 0 // filter stride: bytes per pixel, min 1 (RFC 2083 §6)
    var bps = 1 // bytes per sample (1 for <= 8-bit, 2 for 16-bit)
    var palette: Array[Int] = null // ARGB entries (type 3)
    val idat = new java.io.ByteArrayOutputStream(256)
    var sawEnd = false
    var p = Sig.length
    while (!sawEnd) {
      if (p + 12 > b.length) return None
      val len = beInt(p)
      if (len < 0 || len > Int.MaxValue - 12 || p + 12 + len > b.length)
        return None
      val tpe = new String(b, p + 4, 4, "US-ASCII")
      // CRC32 over type + data (RFC 2083 §3.4)
      val crc = new java.util.zip.CRC32
      crc.update(b, p + 4, 4 + len.toInt)
      if (crc.getValue != beInt(p + 8 + len.toInt)) return None
      tpe match {
        case "IHDR" =>
          if (len != 13 || colorType >= 0) return None
          width = beInt(p + 8).toInt; height = beInt(p + 12).toInt
          depth = b(p + 16) & 0xff
          colorType = b(p + 17) & 0xff
          val (compression, filter, interlace) =
            (b(p + 18) & 0xff, b(p + 19) & 0xff, b(p + 20) & 0xff)
          if (width <= 0 || height <= 0 ||
            width.toLong * height > MaxPixels) return None
          // legal depth x color-type combos (RFC 2083 §4.1.1):
          // sub-byte (1/2/4) only for grayscale and indexed; 16-bit
          // for everything EXCEPT indexed. 16-bit samples scale to
          // 8-bit by round(s·255/65535); sub-byte grays scale by
          // 255/(2^d−1); indexed samples are palette INDICES (never
          // scaled).
          val depthOk = depth match {
            case 8 => true
            case 16 => colorType != 3
            case 1 | 2 | 4 => colorType == 0 || colorType == 3
            case _ => false
          }
          if (!depthOk || compression != 0 || filter != 0 ||
            interlace > 1) return None
          interlaced = interlace == 1
          bps = math.max(1, depth / 8)
          val channels = colorType match {
            case 0 => 1; case 2 => 3; case 3 => 1; case 4 => 2
            case 6 => 4
            case _ => return None
          }
          bpp = math.max(1, channels * depth / 8)
        case "PLTE" =>
          if (colorType < 0 || len == 0 || len % 3 != 0 || len > 768)
            return None
          palette = Array.tabulate(len.toInt / 3) { i =>
            0xff000000 | ((b(p + 8 + 3 * i) & 0xff) << 16) |
              ((b(p + 9 + 3 * i) & 0xff) << 8) | (b(p + 10 + 3 * i) & 0xff)
          }
        case "tRNS" =>
          // per-entry palette alpha for indexed color; the single-
          // transparent-sample form for types 0/2 would silently
          // change pixels if skipped, so it is REJECTED, not ignored
          if (colorType != 3) return None
          if (palette == null || len > palette.length) return None
          var ti = 0
          while (ti < len.toInt) {
            palette(ti) = (palette(ti) & 0x00ffffff) |
              ((b(p + 8 + ti) & 0xff) << 24)
            ti += 1
          }
        case "IDAT" =>
          if (colorType < 0) return None
          if (colorType == 3 && palette == null) return None // PLTE first
          idat.write(b, p + 8, len.toInt)
        case "IEND" => sawEnd = true
        case _ => // other ancillary chunks skipped
      }
      p += 12 + len.toInt
    }
    if (colorType < 0) return None

    // pass layout: one full-frame pass for sequential, the seven
    // Adam7 sub-images for interlaced (RFC 2083 §2.6 — (x0, y0,
    // dx, dy) per pass; passes whose sub-image is empty contribute
    // no scanlines at all). Each pass is an independent sub-image:
    // its own scanline lengths, its own filter history.
    val layout = (if (!interlaced) Seq((0, 0, 1, 1))
      else Seq((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
        (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2)))
      .map { case (x0, y0, dx, dy) =>
        (x0, y0, dx, dy,
          if (width > x0) (width - x0 + dx - 1) / dx else 0,
          if (height > y0) (height - y0 + dy - 1) / dy else 0)
      }
      .filter(t => t._5 > 0 && t._6 > 0)

    // inflate the one zlib stream to exactly the passes' scanlines;
    // sub-byte rows pack ceil(wp·depth/8) bytes (channels == 1 for
    // every sub-byte color type, so bits-per-pixel == depth)
    def passRowBytes(wp: Int): Int =
      if (depth >= 8) wp * bpp else (wp * depth + 7) / 8
    val raw =
      new Array[Byte](layout.map(t => t._6 * (1 + passRowBytes(t._5))).sum)
    // try/finally: inflate THROWS DataFormatException on any
    // malformed zlib stream — a hot path on fuzz/crawl input — and
    // Inflater holds native zlib memory that must not wait for GC
    // finalization on executors decoding millions of bad payloads
    // (ADVICE r13)
    val inf = new java.util.zip.Inflater()
    var got = 0
    try {
      inf.setInput(idat.toByteArray)
      while (got < raw.length && !inf.finished()) {
        val n = inf.inflate(raw, got, raw.length - got)
        if (n == 0 && (inf.needsInput() || inf.needsDictionary()))
          return None // truncated / preset-dictionary stream
        got += n
      }
    } finally inf.end()
    if (got < raw.length) return None

    val out = new Array[Int](width * height)
    var off = 0
    layout.foreach { case (x0, y0, dx, dy, wp, hp) =>
      val rowBytes = 1 + passRowBytes(wp)
      // unfilter the pass in place (RFC 2083 §6): a = left, bb = up,
      // c = up-left — all within THIS pass's sub-image
      var y = 0
      while (y < hp) {
        val row = off + y * rowBytes
        val ft = raw(row) & 0xff
        if (ft > 4) return None
        var x = 1
        while (x < rowBytes) {
          val a = if (x > bpp) raw(row + x - bpp) & 0xff else 0
          val bb = if (y > 0) raw(row - rowBytes + x) & 0xff else 0
          val c = if (y > 0 && x > bpp) raw(row - rowBytes + x - bpp) & 0xff
            else 0
          val add = ft match {
            case 0 => 0
            case 1 => a
            case 2 => bb
            case 3 => (a + bb) >> 1
            case 4 => // Paeth predictor
              val pp = a + bb - c
              val pa = math.abs(pp - a); val pb = math.abs(pp - bb)
              val pc = math.abs(pp - c)
              if (pa <= pb && pa <= pc) a else if (pb <= pc) bb else c
          }
          raw(row + x) = (((raw(row + x) & 0xff) + add) & 0xff).toByte
          x += 1
        }
        y += 1
      }
      // scatter the pass's ARGB pixels to their frame positions
      y = 0
      while (y < hp) {
        val row = off + y * rowBytes + 1
        var x = 0
        while (x < wp) {
          val q = row + x * bpp
          // sample k of the pixel, scaled to 8-bit: 16-bit scales by
          // round(s·255/65535) (exact integer form), 8-bit verbatim
          def smp(k: Int): Int =
            if (bps == 2) {
              val s16 = ((raw(q + 2 * k) & 0xff) << 8) |
                (raw(q + 2 * k + 1) & 0xff)
              (s16 * 255 + 32767) / 65535
            } else raw(q + k) & 0xff
          // sub-byte sample of pixel x, MSB-first packed, UNSCALED
          def sub(): Int = {
            val bit = x * depth
            ((raw(row + bit / 8) & 0xff) >> (8 - depth - bit % 8)) &
              ((1 << depth) - 1)
          }
          val px = colorType match {
            case 0 =>
              // gray scales by 255/(2^d−1) (an integer for d=1/2/4)
              val g = if (depth < 8) sub() * (255 / ((1 << depth) - 1))
                else smp(0)
              0xff000000 | (g << 16) | (g << 8) | g
            case 2 =>
              0xff000000 | (smp(0) << 16) | (smp(1) << 8) | smp(2)
            case 3 =>
              val idx = if (depth < 8) sub() else raw(q) & 0xff
              if (idx >= palette.length) return None
              palette(idx)
            case 4 =>
              val g = smp(0)
              (smp(1) << 24) | (g << 16) | (g << 8) | g
            case _ => // 6
              (smp(3) << 24) | (smp(0) << 16) | (smp(1) << 8) | smp(2)
          }
          out((y0 + y * dy) * width + (x0 + x * dx)) = px
          x += 1
        }
        y += 1
      }
      off += hp * rowBytes
    }
    Some((width, height, out))
  }
}
