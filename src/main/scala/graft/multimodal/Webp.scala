package graft.multimodal

/** WebP (VP8L lossless) pixel decode — pure JVM, public spec
  * (RFC 9649 / the WebP lossless bitstream specification): the web's
  * next-biggest image format onto the REAL pixel path (r13 "What's
  * missing #1" — every WebP fell to the byte-stub hash before this,
  * exactly as JPEGs did pre-r12). Scope:
  *
  *  - the RIFF container walk (even-padded chunks) to the `VP8L`
  *    chunk; `VP8 ` (lossy VP8) and `ANIM`-only payloads return None
  *    — the documented boundary (lossy VP8 is a full DCT video
  *    intra-frame codec; MJPEG-in-AVI already covers the
  *    compressed-video decode path);
  *  - the complete VP8L entropy layer: LSB-first bit reading, SIMPLE
  *    (1/2-symbol) and NORMAL prefix codes (3-bit code-length-code
  *    lengths in the spec's 19-symbol order, repeat codes 16/17/18,
  *    the max_symbol read cap, the degenerate single-symbol 0-bit
  *    code), canonical code reconstruction with completeness
  *    checking;
  *  - color cache (1..11 bits, the 0x1e35a7bd multiplicative hash),
  *    LZ77 backward references (24 length / 40 distance prefix
  *    symbols with extra bits, overlapping copies), and the 2D
  *    distance mapping: plane codes 1..120 are the neighborhood
  *    offsets {y 0..7, x -7..8, linear distance >= 1} sorted by
  *    (x^2+y^2, y desc, x desc) — derived generatively here and
  *    pinned against the spec's published first entries in WebpSpec;
  *  - meta prefix codes (the entropy image, recursively decoded;
  *    group index = (argb >> 8) & 0xffff at (x >> bits, y >> bits));
  *  - all four transforms, inverse-applied in reverse read order:
  *    PREDICTOR (14 modes incl. Select and the clamped add/subtract
  *    pair, block modes from a recursively decoded sub-image, the
  *    linear-addressing top-right rule at the right edge), COLOR
  *    (signed 3.5 fixed-point cross-channel deltas, green applied to
  *    red before red feeds blue), SUBTRACT-GREEN, and COLOR-INDEXING
  *    (delta-coded palette, sub-byte pixel BUNDLING for palettes of
  *    <= 16 entries: 1/2/4-bit indices packed LSB-first in the green
  *    channel).
  *
  * Output is ARGB ints — the shape [[Jpeg.decodePixels]] /
  * [[Png.decodePixels]] emit, so [[ImageDedup.imageHash]]'s aHash
  * consumes it unchanged. Same totality contract as every decoder
  * here: a value or None on arbitrary bytes, never a throw
  * (DecoderFuzzSpec). */
object Webp {

  private val MaxPixels = 16L * 1024 * 1024

  /** Code-length-code symbol order (spec §"Normal Code Length Code"). */
  private[multimodal] val ClOrder: Array[Int] =
    Array(17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15)

  /** The 120 two-dimensional distance codes: every (dx, dy) offset
    * with dy in [0,7], dx in [-7,8] and a positive linear distance,
    * ordered by squared Euclidean distance, nearer rows first, then
    * rightward offsets first. WebpSpec pins the published prefix
    * ((0,1),(1,0),(1,1),(-1,1),(0,2),(2,0),(1,2),(-1,2),(2,1),
    * (-2,1),...) so a rule drift cannot pass silently. */
  private[multimodal] val PlaneCodes: Array[(Int, Int)] = {
    val all = for {
      y <- 0 to 7; x <- -7 to 8
      if y > 0 || x > 0
    } yield (x, y)
    all.sortBy { case (x, y) => (x * x + y * y, -y, -x) }.toArray
  }

  /** dist_code -> linear pixel distance (clamped to >= 1). */
  private def planeToDistance(code: Int, xsize: Int): Int =
    if (code > 120) code - 120
    else {
      val (dx, dy) = PlaneCodes(code - 1)
      math.max(1, dy * xsize + dx)
    }

  // ── bit reader (LSB-first within little-endian bytes) ─────────────

  private final class Br(b: Array[Byte], var pos: Int, val end: Int) {
    private var bit = 0
    def readBit(): Int = {
      if (pos >= end) throw new MalformedWebp
      val r = (b(pos) >> bit) & 1
      bit += 1
      if (bit == 8) { bit = 0; pos += 1 }
      r
    }
    def bits(n: Int): Int = {
      var v = 0; var i = 0
      while (i < n) { v |= readBit() << i; i += 1 }
      v
    }
  }

  private final class MalformedWebp extends RuntimeException(null, null, false, false)

  // ── canonical prefix code ─────────────────────────────────────────

  /** Canonical prefix code over `lens` (0 = unused). Degenerate
    * single-symbol codes read ZERO bits (spec §"Simple Code Length
    * Code" note); anything incomplete or over-subscribed is rejected. */
  private final class Huff(lens: Array[Int]) {
    private val MaxLen = 15
    private var single = -1
    private val count = new Array[Int](MaxLen + 1)
    private val first = new Array[Int](MaxLen + 2)
    private val offs = new Array[Int](MaxLen + 2)
    private var sorted: Array[Int] = null
    locally {
      var used = 0; var lastSym = -1
      var i = 0
      while (i < lens.length) {
        val l = lens(i)
        if (l < 0 || l > MaxLen) throw new MalformedWebp
        if (l > 0) { used += 1; lastSym = i; count(l) += 1 }
        i += 1
      }
      if (used == 0) throw new MalformedWebp
      if (used == 1) single = lastSym
      else {
        // canonical first-code per length + Kraft completeness
        var code = 0; var l = 1
        var o = 0
        while (l <= MaxLen) {
          first(l) = code
          offs(l) = o
          code = (code + count(l)) << 1
          o += count(l)
          l += 1
        }
        if (code != (1 << (MaxLen + 1))) throw new MalformedWebp
        sorted = new Array[Int](used)
        val next = offs.clone()
        i = 0
        while (i < lens.length) {
          if (lens(i) > 0) { sorted(next(lens(i))) = i; next(lens(i)) += 1 }
          i += 1
        }
      }
    }
    def read(br: Br): Int = {
      if (single >= 0) return single
      var code = 0; var l = 1
      while (l <= MaxLen) {
        code = (code << 1) | br.readBit()
        val idx = code - first(l)
        if (idx >= 0 && idx < count(l)) return sorted(offs(l) + idx)
        l += 1
      }
      throw new MalformedWebp
    }
  }

  /** Read one prefix code (spec §"Decoding of Meta Prefix Codes"):
    * the simple 1/2-symbol form or the normal code-length-coded form. */
  private def readCode(br: Br, alphabet: Int): Huff = {
    val lens = new Array[Int](alphabet)
    if (br.readBit() == 1) { // simple
      val n = br.readBit() + 1
      val s0 = if (br.readBit() == 1) br.bits(8) else br.bits(1)
      if (s0 >= alphabet) throw new MalformedWebp
      lens(s0) = 1
      if (n == 2) {
        val s1 = br.bits(8)
        if (s1 >= alphabet || s1 == s0) throw new MalformedWebp
        lens(s1) = 1
      }
    } else {
      val clLens = new Array[Int](19)
      val n = 4 + br.bits(4)
      var i = 0
      while (i < n) { clLens(ClOrder(i)) = br.bits(3); i += 1 }
      val cl = new Huff(clLens)
      var maxSymbol =
        if (br.readBit() == 1) {
          val nbits = 2 + 2 * br.bits(3)
          2 + br.bits(nbits)
        } else alphabet
      var symbol = 0
      var prev = 8
      while (symbol < alphabet && maxSymbol > 0) {
        maxSymbol -= 1
        val cLen = cl.read(br)
        if (cLen < 16) {
          lens(symbol) = cLen; symbol += 1
          if (cLen != 0) prev = cLen
        } else {
          val (repeat, value) = cLen match {
            case 16 => (3 + br.bits(2), prev)
            case 17 => (3 + br.bits(3), 0)
            case _ => (11 + br.bits(7), 0)
          }
          // a repeat run that would write past the alphabet is a
          // malformed stream (libwebp rejects it), not a clamp
          if (symbol + repeat > alphabet) throw new MalformedWebp
          var r = repeat
          while (r > 0) {
            lens(symbol) = value; symbol += 1; r -= 1
          }
        }
      }
    }
    new Huff(lens)
  }

  /** LZ77 length/distance prefix decode (spec §"LZ77 Backward
    * Reference"): symbols 0..3 are the values 1..4; beyond that each
    * pair of symbols doubles the range with (sym-2)>>1 extra bits. */
  private def prefixValue(sym: Int, br: Br): Int =
    if (sym < 4) sym + 1
    else {
      val eb = (sym - 2) >> 1
      val offset = (2 + (sym & 1)) << eb
      offset + br.bits(eb) + 1
    }

  // ── entropy-coded ARGB image (shared by main + sub-images) ────────

  /** One prefix-code group: green (+length +cache), red, blue, alpha,
    * distance. */
  private final class Group(br: Br, cacheSize: Int) {
    val green = readCode(br, 256 + 24 + cacheSize)
    val red = readCode(br, 256)
    val blue = readCode(br, 256)
    val alpha = readCode(br, 256)
    val dist = readCode(br, 40)
  }

  /** Decode one entropy-coded image (spec DecodeImageStream with
    * is_level0 = false): color cache allowed, meta prefix codes and
    * transforms NOT (those exist only at level 0). Used for entropy
    * images, predictor/color sub-images and palettes. */
  private def decodeEntropyImage(br: Br, w: Int, h: Int): Array[Int] =
    decodeImageData(br, w, h, allowMeta = false)

  private def decodeImageData(br: Br, w: Int, h: Int,
      allowMeta: Boolean): Array[Int] = {
    if (w <= 0 || h <= 0 || w.toLong * h > MaxPixels) throw new MalformedWebp
    val cacheBits = if (br.readBit() == 1) br.bits(4) else 0
    if (cacheBits > 11) throw new MalformedWebp
    val cacheSize = if (cacheBits > 0) 1 << cacheBits else 0
    val cache = if (cacheSize > 0) new Array[Int](cacheSize) else null

    // meta prefix codes: group index per (x >> bits, y >> bits) block
    // from a recursively decoded entropy image
    var metaBits = 0
    var meta: Array[Int] = null
    var metaW = 0
    var nGroups = 1
    if (allowMeta && br.readBit() == 1) {
      metaBits = 2 + br.bits(3)
      metaW = (w + (1 << metaBits) - 1) >> metaBits
      val metaH = (h + (1 << metaBits) - 1) >> metaBits
      meta = decodeEntropyImage(br, metaW, metaH)
      var i = 0
      while (i < meta.length) {
        val g = (meta(i) >> 8) & 0xffff
        if (g + 1 > nGroups) nGroups = g + 1
        i += 1
      }
      if (nGroups > 1024) throw new MalformedWebp // sanity ceiling
    }
    val groups = Array.fill(nGroups)(new Group(br, cacheSize))

    val out = new Array[Int](w * h)
    var x = 0; var y = 0; var p = 0
    def insert(px: Int): Unit =
      if (cache != null)
        cache(((0x1e35a7bd * px) >>> (32 - cacheBits))) = px
    while (p < out.length) {
      val grp =
        if (meta == null) groups(0)
        else {
          val g = (meta((y >> metaBits) * metaW + (x >> metaBits)) >> 8) & 0xffff
          groups(g)
        }
      val s = grp.green.read(br)
      if (s < 256) {
        val r = grp.red.read(br)
        val b = grp.blue.read(br)
        val a = grp.alpha.read(br)
        val px = (a << 24) | (r << 16) | (s << 8) | b
        out(p) = px; insert(px)
        p += 1; x += 1; if (x == w) { x = 0; y += 1 }
      } else if (s < 256 + 24) {
        val len = prefixValue(s - 256, br)
        val distCode = prefixValue(grp.dist.read(br), br)
        val dist = planeToDistance(distCode, w)
        if (dist > p || len > out.length - p) throw new MalformedWebp
        var i = 0
        while (i < len) {
          val px = out(p - dist)
          out(p) = px; insert(px)
          p += 1; x += 1; if (x == w) { x = 0; y += 1 }
          i += 1
        }
      } else {
        val idx = s - 256 - 24
        if (cache == null || idx >= cacheSize) throw new MalformedWebp
        val px = cache(idx)
        out(p) = px
        p += 1; x += 1; if (x == w) { x = 0; y += 1 }
      }
    }
    out
  }

  // ── transforms (inverse, applied in reverse read order) ───────────

  private sealed trait Transform { def apply(px: Array[Int], w: Int, h: Int): (Array[Int], Int) }

  // ── the 14 spatial predictors (shared with MediaSynth's writer) ──

  private def avg2(a: Int, b: Int): Int =
    (((a ^ b) & 0xfefefefe) >>> 1) + (a & b)

  /** Componentwise pixel add (mod 256 per channel). */
  private[multimodal] def addPixels(a: Int, b: Int): Int = {
    val ag = (a & 0xff00ff00) >>> 8; val bg = (b & 0xff00ff00) >>> 8
    val rb = (a & 0x00ff00ff) + (b & 0x00ff00ff)
    val gAlpha = (ag + bg) & 0x00ff00ff
    (gAlpha << 8) | (rb & 0x00ff00ff)
  }

  private def clamp(v: Int): Int = if (v < 0) 0 else if (v > 255) 255 else v

  private def casFull(l: Int, t: Int, tl: Int): Int = {
    var out = 0; var sh = 0
    while (sh < 32) {
      val c = clamp(((l >>> sh) & 0xff) + ((t >>> sh) & 0xff) -
        ((tl >>> sh) & 0xff))
      out |= c << sh; sh += 8
    }
    out
  }

  private def casHalf(l: Int, t: Int, tl: Int): Int = {
    val ave = avg2(l, t)
    var out = 0; var sh = 0
    while (sh < 32) {
      val a = (ave >>> sh) & 0xff
      // C-style truncating division (rounds toward zero)
      val c = clamp(a + (a - ((tl >>> sh) & 0xff)) / 2)
      out |= c << sh; sh += 8
    }
    out
  }

  private def select(l: Int, t: Int, tl: Int): Int = {
    var pl = 0; var pt = 0; var sh = 0
    while (sh < 32) {
      val lc = (l >>> sh) & 0xff; val tc = (t >>> sh) & 0xff
      val est = lc + tc - ((tl >>> sh) & 0xff)
      pl += math.abs(est - lc); pt += math.abs(est - tc)
      sh += 8
    }
    if (pl <= pt) l else t
  }

  /** Predictor `mode` over the four already-reconstructed neighbors
    * (spec §"Predictor Transform"). MediaSynth's writer computes
    * residuals with the same function, so a drift here fails the
    * closed-form gate, not just the round-trip spec. */
  private[multimodal] def predict(mode: Int, l: Int, t: Int, tl: Int,
      tr: Int): Int = mode match {
    case 0 => 0xff000000
    case 1 => l
    case 2 => t
    case 3 => tr
    case 4 => tl
    case 5 => avg2(avg2(l, tr), t)
    case 6 => avg2(l, tl)
    case 7 => avg2(l, t)
    case 8 => avg2(tl, t)
    case 9 => avg2(t, tr)
    case 10 => avg2(avg2(l, tl), avg2(t, tr))
    case 11 => select(l, t, tl)
    case 12 => casFull(l, t, tl)
    case 13 => casHalf(l, t, tl)
    case _ => throw new MalformedWebp
  }

  /** PREDICTOR: per-block mode from the sub-image's green channel;
    * (0,0) predicts black, the top row predicts L, the left column
    * predicts T; the top-right neighbor is linear-addressed, so the
    * rightmost column's TR is the current row's first pixel. */
  private final class PredictorT(bits: Int, modes: Array[Int], modesW: Int)
      extends Transform {
    def apply(px: Array[Int], w: Int, h: Int): (Array[Int], Int) = {
      var p = 0; var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val pred =
            if (p == 0) 0xff000000
            else if (y == 0) px(p - 1) // top row: L
            else if (x == 0) px(p - w) // left column: T
            else {
              val mode = (modes((y >> bits) * modesW + (x >> bits)) >> 8) & 0xff
              // linear addressing: at x == w-1 the top-right is the
              // current row's first pixel (already reconstructed)
              predict(mode, px(p - 1), px(p - w), px(p - w - 1),
                px(p - w + 1))
            }
          px(p) = addPixels(px(p), pred)
          p += 1; x += 1
        }
        y += 1
      }
      (px, w)
    }
  }

  /** COLOR: signed 3.5 fixed-point cross-channel deltas from the
    * sub-image (green_to_red in blue, green_to_blue in green,
    * red_to_blue in red); green feeds red, then green and the UPDATED
    * red feed blue. */
  private final class ColorT(bits: Int, elems: Array[Int], elemsW: Int)
      extends Transform {
    private def delta(t: Int, c: Int): Int = (t.toByte * c.toByte) >> 5
    def apply(px: Array[Int], w: Int, h: Int): (Array[Int], Int) = {
      var p = 0; var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val e = elems((y >> bits) * elemsW + (x >> bits))
          val g2r = e & 0xff
          val g2b = (e >> 8) & 0xff
          val r2b = (e >> 16) & 0xff
          val v = px(p)
          val g = (v >> 8) & 0xff
          val r = (((v >> 16) & 0xff) + delta(g2r, g)) & 0xff
          val b = ((v & 0xff) + delta(g2b, g) + delta(r2b, r)) & 0xff
          px(p) = (v & 0xff00ff00) | (r << 16) | b
          p += 1; x += 1
        }
        y += 1
      }
      (px, w)
    }
  }

  /** SUBTRACT-GREEN: green added back to red and blue. */
  private object SubtractGreenT extends Transform {
    def apply(px: Array[Int], w: Int, h: Int): (Array[Int], Int) = {
      var p = 0
      while (p < px.length) {
        val v = px(p)
        val g = (v >> 8) & 0xff
        val r = (((v >> 16) & 0xff) + g) & 0xff
        val b = ((v & 0xff) + g) & 0xff
        px(p) = (v & 0xff00ff00) | (r << 16) | b
        p += 1
      }
      (px, w)
    }
  }

  /** COLOR-INDEXING: delta-decoded palette lookup by the green
    * channel; palettes of <= 16 entries BUNDLE 2/4/8 sub-byte indices
    * LSB-first per green byte, widening the image back to `origW`. */
  private final class IndexT(origW: Int, palette: Array[Int], xbits: Int)
      extends Transform {
    def apply(px: Array[Int], w: Int, h: Int): (Array[Int], Int) = {
      val out = new Array[Int](origW * h)
      val perByte = 1 << xbits
      val bitsPer = 8 >> xbits
      val mask = (1 << bitsPer) - 1
      var y = 0
      while (y < h) {
        var x = 0
        while (x < origW) {
          val packed = (px(y * w + (x >> xbits)) >> 8) & 0xff
          val idx = (packed >> (bitsPer * (x & (perByte - 1)))) & mask
          if (idx >= palette.length) throw new MalformedWebp
          out(y * origW + x) = palette(idx)
          x += 1
        }
        y += 1
      }
      (out, origW)
    }
  }

  // ── gate surface ──────────────────────────────────────────────────

  /** Gate surface (`mm_webp_decode`): synthesize a real VP8L WebP per
    * document ([[MediaSynth.webp]] — closed-form pixels, the variant
    * cycling the WHOLE spec surface by doc_id % 7: plain literals,
    * subtract-green, a 32-entry palette, color cache + LZ77 runs,
    * predictor transform (all 14 modes across the corpus), color
    * transform, meta prefix codes), decode through the full
    * production path, and report per-image pixel statistics the
    * oracle recomputes from doc_id closed forms (VP8L is lossless,
    * so every variant decodes to the same closed-form pixels).
    * Rows with doc_id % 5 == 3 get a TRUNCATED stream and must
    * report the (-1,-1,-1,-1) fallback. Map-only over documents. */
  def decodeReport(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id").as[Long]
      .map { id =>
        val full = MediaSynth.webp(id)
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
    graft.core.SideDump.path("webphash_sigs", base)

  /** Gate surface (`mm_image_dedup_webp`) — the WebP path in the
    * perceptual near-dup family, the [[Png.imageDedupPng]] twin: odd
    * docs carry their even neighbor's image re-encoded (same VP8L
    * variant) with the top-left 8×8 region brightened by +8,
    * id % 9 == 5 docs carry a truncated stream (stub fallback
    * in-gate), everything through decode → aHash → multi-probe
    * banded Hamming. Hashes side-dumped; DuckDB re-derives banding/
    * caps/probes/verify (the shared mediaHashPairs oracle). */
  def imageDedupWebp(spark: org.apache.spark.sql.SparkSession,
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
    SigDump.dumpAndPair(sigs, "webphash_sigs", sfDir, maxHamming,
      maxBucket)
  }

  /** The near-dup fixture payload (shared with WebpSpec's
    * planted-twin assertions): the twin re-encodes the even
    * neighbor's frame — same dims, same VP8L variant — with the
    * top-left 8×8 region brightened by +8 (the palette variant
    * quantizes the perturbed gray the same way, so the twin is a
    * true re-encode, not a quantization-shifted render). */
  private[multimodal] def dedupPayload(id: Long): Array[Byte] =
    if (id % 9 == 5) MediaSynth.webp(id).take(16) // undecodable -> stub
    else if (id % 2 == 0) MediaSynth.webp(id)
    else {
      val twin = id - 1
      val v = MediaSynth.webpVariant(twin)
      MediaSynth.webpOf(MediaSynth.webpW(twin), MediaSynth.webpH(twin),
        v, twin.toInt,
        (x, y) => {
          // the neighbor's variant-aware gray (plateaued for the
          // cache+LZ77 class, quantized for the palette class) with
          // the brighten applied between the two — a uniform +8 over
          // an 8x8 region keeps variant-3 plateaus constant, so the
          // twin is a true re-encode of a near-identical image
          val g0 = if (v == 3) MediaSynth.webpGray(twin, x - x % 4, y % 3)
            else MediaSynth.webpGray(twin, x, y)
          val g1 = if (x < 8 && y < 8) math.min(255, g0 + 8) else g0
          val g = if (v == 2) (g1 >> 3) * 8 else g1
          0xff000000 | (g << 16) | (((g + 85) % 256) << 8) | ((g + 170) % 256)
        })
    }

  // ── entry points ──────────────────────────────────────────────────

  /** Decode a WebP to (width, height, ARGB pixels). None on lossy
    * VP8, malformed, truncated, or over the pixel ceiling — never a
    * throw. */
  def decodePixels(b: Array[Byte]): Option[(Int, Int, Array[Int])] =
    try decode0(b)
    catch { case _: MalformedWebp | _: ArrayIndexOutOfBoundsException |
      _: NegativeArraySizeException | _: MatchError => None }

  private def tag(b: Array[Byte], p: Int): String =
    if (p + 4 > b.length) "" else new String(b, p, 4, "US-ASCII")

  private def le32(b: Array[Byte], p: Int): Long =
    (b(p) & 0xffL) | ((b(p + 1) & 0xffL) << 8) |
      ((b(p + 2) & 0xffL) << 16) | ((b(p + 3) & 0xffL) << 24)

  private def decode0(b: Array[Byte]): Option[(Int, Int, Array[Int])] = {
    if (b.length < 20 || tag(b, 0) != "RIFF" || tag(b, 8) != "WEBP")
      return None
    // chunk walk (chunks are even-padded); VP8X just wraps more
    // chunks at the same level, so a flat walk finds VP8L inside it
    var p = 12
    while (p + 8 <= b.length) {
      val fourcc = tag(b, p)
      val len = le32(b, p + 4)
      if (len < 0 || p + 8 + len > b.length) return None
      if (fourcc == "VP8L") return decodeVp8l(b, p + 8, (p + 8 + len).toInt)
      if (fourcc == "VP8 ") return None // lossy boundary (documented)
      p += 8 + len.toInt + (len.toInt & 1)
    }
    None
  }

  private def decodeVp8l(b: Array[Byte], off: Int,
      end: Int): Option[(Int, Int, Array[Int])] = {
    if (off >= end || (b(off) & 0xff) != 0x2f) return None
    val br = new Br(b, off + 1, end)
    val width = br.bits(14) + 1
    val height = br.bits(14) + 1
    br.readBit() // alpha-is-used hint
    if (br.bits(3) != 0) return None // version must be 0
    if (width.toLong * height > MaxPixels) return None

    // transforms: read order recorded; inverses applied in REVERSE
    var w = width // coding width (color-indexing may shrink it)
    var transforms = List.empty[Transform]
    var seen = 0
    while (br.readBit() == 1) {
      val t = br.bits(2)
      if ((seen & (1 << t)) != 0) throw new MalformedWebp // each once
      seen |= 1 << t
      t match {
        case 0 | 1 =>
          // RFC 9649 §4.1/§4.2: size_bits field carries (bits - 2), so
          // the block granularity is 2 + ReadBits(3) (NOT 3 + …, which is
          // the LZ77 repeat bias at code 17 — a distinct field).
          val bits = 2 + br.bits(3)
          val subW = (w + (1 << bits) - 1) >> bits
          val subH = (height + (1 << bits) - 1) >> bits
          val sub = decodeEntropyImage(br, subW, subH)
          transforms ::= (if (t == 0) new PredictorT(bits, sub, subW)
            else new ColorT(bits, sub, subW))
        case 2 =>
          transforms ::= SubtractGreenT
        case _ =>
          val n = br.bits(8) + 1
          val raw = decodeEntropyImage(br, n, 1)
          // palette entries are component-wise delta-coded
          val palette = new Array[Int](n)
          var prev = 0
          var i = 0
          while (i < n) {
            prev = {
              val ag = ((prev >>> 8) & 0x00ff00ff) + ((raw(i) >>> 8) & 0x00ff00ff)
              val rb = (prev & 0x00ff00ff) + (raw(i) & 0x00ff00ff)
              ((ag & 0x00ff00ff) << 8) | (rb & 0x00ff00ff)
            }
            palette(i) = prev
            i += 1
          }
          val xbits = if (n <= 2) 3 else if (n <= 4) 2 else if (n <= 16) 1 else 0
          val packedW = (w + (1 << xbits) - 1) >> xbits
          transforms ::= new IndexT(w, palette, xbits)
          w = packedW
      }
    }

    var px = decodeImageData(br, w, height, allowMeta = true)
    var curW = w
    // `transforms` is already reverse-read-order (list prepend)
    transforms.foreach { t =>
      val (np, nw) = t.apply(px, curW, height)
      px = np; curW = nw
    }
    if (curW != width) throw new MalformedWebp
    Some((width, height, px))
  }
}
