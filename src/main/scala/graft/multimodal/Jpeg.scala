package graft.multimodal

/** JPEG pixel decode — pure JVM, public spec (ITU-T T.81 /
  * ISO 10918-1): the format the first real image corpus a user brings
  * actually arrives in, closing the r11 "compressed formats stay
  * header-only" residue. Scope is the BASELINE SEQUENTIAL DCT process
  * (SOF0, 8-bit, Huffman): marker walk, DQT (8/16-bit precisions),
  * DHT canonical-code tables, interleaved single-scan MCUs with
  * sampling factors up to 2×2 (4:4:4 / 4:2:2 / 4:2:0), byte-stuffed
  * entropy reader, DRI/RSTn restart intervals with DC-predictor
  * resets, dequantization in zigzag order, a full 2-D IDCT, and
  * greyscale (Nf=1) or JFIF YCbCr→RGB (Nf=3) output with replication
  * upsampling (T.81 leaves the upsampling filter to the decoder;
  * replication is the deterministic choice — every pixel is then a
  * pure function of the coefficients, which is what lets the
  * `mm_jpeg_decode` oracle recompute pixels from closed forms) —
  * PLUS the PROGRESSIVE DCT process (SOF2, T.81 §G): multi-scan
  * spectral selection (Ss..Se bands, interleaved DC / non-interleaved
  * AC scans) and successive approximation (Ah/Al point transforms:
  * DC first/refine, AC first with EOB-run coding, AC refinement with
  * correction bits and ±1 coefficient births, §G.1.2), accumulated
  * into per-component coefficient buffers and rendered at EOI through
  * the SAME dequant/IDCT/upsample path as baseline — majority of
  * web-crawled JPEGs are progressive, so this is the difference
  * between hashing real pixels and falling to the byte stub on a real
  * corpus (r12 "What's missing #1"). Arithmetic coding, 12-bit
  * precision and hierarchical processes return None — the documented
  * honesty boundary, same contract as every decoder here: total on
  * arbitrary bytes, never a throw (DecoderFuzzSpec).
  *
  * The IDCT is the textbook O(64²)-per-block double-precision sum
  * with a precomputed cosine table — deterministic on the JVM (the
  * oracle relies on block-constant fixtures whose only nonzero
  * coefficient is the DC, where rounding is exact by a margin of
  * ~1e-13; JpegSpec separately pins general-AC blocks against an
  * independent reference IDCT). A production hot path would swap in
  * AAN; the arithmetic contract would not change. */
object Jpeg {

  private val MaxPixels = 16L * 1024 * 1024

  /** Gate surface (`mm_jpeg_decode`): synthesize a real JPEG per
    * document ([[MediaSynth.jpeg]] — block-constant grays whose
    * DC-only spectra survive the lossy pipeline exactly; docs with
    * doc_id % 5 ∈ {2, 4} get the PROGRESSIVE encoding of the same
    * pixels, [[MediaSynth.jpegProgressive]], so the §G multi-scan
    * path is hash-pinned by the same closed-form oracle), decode it
    * through the FULL production path (marker walk, DHT, entropy
    * scan, dequant, the general 2-D IDCT — no DC fast path exists to
    * hide behind), and report per-image pixel statistics the oracle
    * recomputes from doc_id closed forms: pix_sum = Σ gray and the
    * block-position-weighted pix_wsum = Σ gray·(1 + bx + nbx·by),
    * which a transposed/misplaced block cannot fake. Rows with
    * doc_id % 5 == 3 get a TRUNCATED stream instead (alternating
    * baseline/progressive by doc_id % 10) and must report the
    * (-1,-1,-1,-1) fallback — totality and the undecodable branch
    * pinned in the same gate. Map-only over documents. */
  def decodeReport(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id").as[Long]
      .map { id =>
        val full = if (id % 5 == 2 || id % 5 == 4) MediaSynth.jpegProgressive(id)
          else MediaSynth.jpeg(id)
        // truncated class alternates baseline/progressive streams, so
        // BOTH decoders' fallback branches are pinned
        val payload = if (id % 5 == 3) {
          (if (id % 10 == 3) MediaSynth.jpeg(id)
           else MediaSynth.jpegProgressive(id)).take(20)
        } else full
        decodePixels(payload) match {
          case Some((w, h, px)) =>
            val nbx = w / 8
            var sum = 0L; var wsum = 0L
            var i = 0
            while (i < px.length) {
              val g = (px(i) & 0xff).toLong
              val x = i % w; val y = i / w
              sum += g
              wsum += g * (1L + (x / 8) + nbx.toLong * (y / 8))
              i += 1
            }
            (id, w.toLong, h.toLong, sum, wsum)
          case None => (id, -1L, -1L, -1L, -1L)
        }
      }
      .toDF("doc_id", "w", "h", "pix_sum", "pix_wsum")
  }

  def dedupDumpPath(base: String): String =
    graft.core.SideDump.path("jpeghash_sigs", base)

  /** Gate surface (`mm_image_dedup_jpeg`) — the JPEG path as a
    * first-class member of the perceptual near-dup family: every odd
    * doc carries its even neighbor's image with ONE block's gray
    * perturbed by +8 (a real recompressed-thumbnail-style near-dup —
    * the aHash moves by at most a few bits, never the byte stream),
    * docs with id % 7 == 5 carry a truncated stream (the stub-hash
    * fallback inside the same gate), and everything goes through the
    * REAL decode → aHash → multi-probe banded-Hamming machinery
    * ([[ImageDedup.imageHash]], the `mm_image_dedup` pipeline). The
    * per-image hashes are side-dumped (the decode is the faith);
    * DuckDB re-derives banding, caps, probes and the Hamming verify —
    * the shared mediaHashPairs oracle. */
  def imageDedupJpeg(spark: org.apache.spark.sql.SparkSession,
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
    SigDump.dumpAndPair(sigs, "jpeghash_sigs", sfDir, maxHamming,
      maxBucket)
  }

  def wideDumpPath(base: String): String =
    graft.core.SideDump.path("jpegwidehash_sigs", base)

  /** Gate surface (`mm_image_dedup_wide`) — the SCALE PATH of the
    * media near-dup family over the same JPEG fixture: exact-sig
    * collapse + 4×16-bit wide bands + radius-3 probes
    * ([[graft.dedup.Dedup.simhashPairsWideCollapsedOf]]), hash-pinned
    * by the all-pairs Hamming ≤ 15 ground truth over the dumped sigs
    * — the gate passes only if collapse expansion AND wide-band
    * pigeonhole achieve FULL recall, the `dedup_simhash_wide`
    * treatment applied to perceptual hashes (where the
    * identical-sig-clique channel the rehearsal exposed actually
    * exists: truncated stub rows share one signature). */
  def imageDedupWide(spark: org.apache.spark.sql.SparkSession,
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
    SigDump.dumpAndPairWide(sigs, "jpegwidehash_sigs", sfDir, maxHamming,
      maxBucket)
  }

  /** The near-dup fixture payload (shared with JpegSpec's planted-twin
    * assertions). Every third even doc arrives PROGRESSIVE — the
    * decoded pixels (and so the aHash and the pair set) are identical,
    * which is exactly the point: a real corpus mixes the two processes
    * and the near-dup machinery must not care. */
  private[graft] def dedupPayload(id: Long): Array[Byte] =
    if (id % 7 == 5) MediaSynth.jpeg(id).take(24) // undecodable -> stub
    else if (id % 2 == 0) {
      if (id % 3 == 0) MediaSynth.jpegProgressive(id) else MediaSynth.jpeg(id)
    } else {
      val twin = id - 1
      MediaSynth.jpegOf(MediaSynth.jpegNbx(twin), MediaSynth.jpegNby(twin),
        (bx, by) => {
          val g = MediaSynth.jpegGray(twin, bx, by)
          if (bx == 0 && by == 0) math.min(255, g + 8) else g
        })
    }

  /** cos((2x+1)·u·π/16) premultiplied by the C(u)/2 normalization —
    * idct(x) = Σ_u tab(x)(u)·F(u) per axis. */
  private val CosTab: Array[Array[Double]] = Array.tabulate(8, 8) { (x, u) =>
    val c = if (u == 0) 1.0 / math.sqrt(2.0) else 1.0
    0.5 * c * math.cos((2 * x + 1) * u * math.Pi / 16.0)
  }

  private final class Tables {
    // quant tables in ZIGZAG order, 4 slots
    val quant = new Array[Array[Int]](4)
    // huffman tables: (mincode, maxcode, valptr, values) per class/slot
    val huffDc = new Array[Huff](4)
    val huffAc = new Array[Huff](4)
  }

  private final class Huff(counts: Array[Int], val values: Array[Byte]) {
    val minCode = new Array[Int](17)
    val maxCode = new Array[Int](17)
    val valPtr = new Array[Int](17)
    locally {
      var code = 0
      var k = 0
      var l = 1
      while (l <= 16) {
        valPtr(l) = k
        minCode(l) = code
        code += counts(l - 1)
        k += counts(l - 1)
        maxCode(l) = if (counts(l - 1) > 0) code - 1 else -1
        code <<= 1
        l += 1
      }
    }
  }

  /** Zigzag index → natural (row-major) index. */
  private val Zigzag: Array[Int] = {
    val zz = new Array[Int](64)
    var i = 0; var x = 0; var y = 0; var up = true
    while (i < 64) {
      zz(i) = y * 8 + x
      if (up) {
        if (x == 7) { y += 1; up = false }
        else if (y == 0) { x += 1; up = false }
        else { x += 1; y -= 1 }
      } else {
        if (y == 7) { x += 1; up = true }
        else if (x == 0) { y += 1; up = true }
        else { x -= 1; y += 1 }
      }
      i += 1
    }
    zz
  }

  /** Entropy-coded-segment bit reader: MSB-first, 0xFF00 stuffing
    * unwrapped, stops (returns -1) at any other marker. */
  private final class BitReader(b: Array[Byte], var p: Int) {
    private var cur = 0
    private var nbits = 0
    var badly = false // truncated / marker-in-data
    def bit(): Int = {
      if (nbits == 0) {
        if (p >= b.length) { badly = true; return 0 }
        var v = b(p) & 0xff
        p += 1
        if (v == 0xff) {
          if (p >= b.length) { badly = true; return 0 }
          val m = b(p) & 0xff
          if (m == 0x00) p += 1 // stuffed 0xFF data byte
          else { badly = true; p -= 1; v = 0 } // real marker: stop
        }
        cur = v; nbits = 8
      }
      nbits -= 1
      (cur >> nbits) & 1
    }
    def receive(n: Int): Int = {
      var v = 0; var i = 0
      while (i < n) { v = (v << 1) | bit(); i += 1 }
      v
    }
    /** Align to the next byte boundary and consume an RSTn marker.
      * A padding byte of all 1-bits is itself 0xFF and arrives
      * STUFFED (0xFF00) — skip any such pairs before the marker. */
    def restart(): Boolean = {
      nbits = 0
      while (p + 1 < b.length && (b(p) & 0xff) == 0xff &&
        (b(p + 1) & 0xff) == 0x00) p += 2
      if (p + 1 >= b.length) return false
      if ((b(p) & 0xff) != 0xff) return false
      val m = b(p + 1) & 0xff
      if (m < 0xd0 || m > 0xd7) return false
      p += 2
      true
    }
  }

  private def huffDecode(r: BitReader, h: Huff): Int = {
    var code = r.bit()
    var l = 1
    while (l <= 16) {
      if (code <= h.maxCode(l)) {
        val idx = h.valPtr(l) + code - h.minCode(l)
        if (idx < 0 || idx >= h.values.length) return -1
        return h.values(idx) & 0xff
      }
      code = (code << 1) | r.bit()
      l += 1
    }
    -1
  }

  /** T.81 F.12 EXTEND: map an SSSS-bit magnitude to its signed value. */
  private def extend(v: Int, t: Int): Int =
    if (t == 0) 0 else if (v < (1 << (t - 1))) v - (1 << t) + 1 else v

  private final case class Comp(id: Int, h: Int, v: Int, tq: Int,
    var td: Int = 0, var ta: Int = 0)

  /** Decode a baseline JPEG to (width, height, ARGB pixels). None on
    * anything non-baseline, malformed, truncated, or over the pixel
    * ceiling — never a throw. */
  def decodePixels(b: Array[Byte]): Option[(Int, Int, Array[Int])] = {
    try decode0(b)
    catch { case _: RuntimeException | _: ArrayIndexOutOfBoundsException |
      _: NegativeArraySizeException => None }
  }

  private def decode0(b: Array[Byte]): Option[(Int, Int, Array[Int])] = {
    if (b.length < 4) return None
    if ((b(0) & 0xff) != 0xff || (b(1) & 0xff) != 0xd8) return None
    def u8(p: Int): Int = b(p) & 0xff
    def u16(p: Int): Int = ((b(p) & 0xff) << 8) | (b(p + 1) & 0xff)

    val tables = new Tables
    var comps: Array[Comp] = null
    var width = 0; var height = 0
    var restartInterval = 0
    var progressive = false
    var sawScan = false
    // progressive coefficient state, allocated at SOF2: per component,
    // the full padded block grid with 64 QUANTIZED coefficients per
    // block in ZIGZAG order (scans address the zigzag band directly;
    // dequant + reorder happen once at render)
    var progCoef: Array[Array[Int]] = null
    var blocksW: Array[Int] = null
    var blocksH: Array[Int] = null
    var nbW: Array[Int] = null // non-interleaved per-comp block dims
    var nbH: Array[Int] = null
    var mcusX = 0; var mcusY = 0
    var p = 2
    // a segment length truncated off the end of the buffer reads as
    // -1 and fails every case's minimum-length check
    def segLen(q: Int): Int = if (q + 2 <= b.length) u16(q) else -1
    while (p + 2 <= b.length) {
      if (u8(p) != 0xff) return None
      var m = u8(p + 1)
      // optional fill bytes before a marker
      while (m == 0xff && p + 2 < b.length) { p += 1; m = u8(p + 1) }
      p += 2
      m match {
        case 0xd8 => // stray SOI
        case 0xd9 => // EOI: renders an accumulated progressive frame
          return if (progressive && sawScan)
            renderProgressive(comps, tables, progCoef, blocksW, blocksH,
              width, height)
          else None
        case 0xc0 | 0xc2 => // SOF0 baseline sequential / SOF2 progressive
          val len = segLen(p)
          if (p + len > b.length || len < 8 || comps != null) return None
          if (u8(p + 2) != 8) return None // 12-bit precision: out of scope
          height = u16(p + 3); width = u16(p + 5)
          val nf = u8(p + 7)
          if (width <= 0 || height <= 0 ||
            width.toLong * height > MaxPixels) return None
          if (nf != 1 && nf != 3) return None
          if (len != 8 + 3 * nf) return None
          comps = Array.tabulate(nf) { i =>
            val q = p + 8 + 3 * i
            val hv = u8(q + 1)
            Comp(u8(q), hv >> 4, hv & 15, u8(q + 2))
          }
          if (comps.exists(c => c.h < 1 || c.h > 2 || c.v < 1 || c.v > 2 ||
            c.tq > 3)) return None
          progressive = m == 0xc2
          val hmax = comps.map(_.h).max
          val vmax = comps.map(_.v).max
          mcusX = (width + 8 * hmax - 1) / (8 * hmax)
          mcusY = (height + 8 * vmax - 1) / (8 * vmax)
          if (progressive) {
            blocksW = comps.map(c => mcusX * c.h)
            blocksH = comps.map(c => mcusY * c.v)
            // T.81 §G: non-interleaved (single-component) scans cover
            // ceil(ceil(X·h/hmax)/8) × ceil(ceil(Y·v/vmax)/8) blocks —
            // the interleaved grid's padding blocks are NOT coded there
            nbW = comps.map(c => ((width * c.h + hmax - 1) / hmax + 7) / 8)
            nbH = comps.map(c => ((height * c.v + vmax - 1) / vmax + 7) / 8)
            progCoef = comps.indices.map(i =>
              new Array[Int](blocksW(i) * blocksH(i) * 64)).toArray
          }
          p += len
        case 0xc1 | 0xc3 | 0xc5 | 0xc6 | 0xc7 | 0xc9 | 0xca |
            0xcb | 0xcd | 0xce | 0xcf =>
          return None // extended/lossless/arithmetic: out of scope
        case 0xc4 => // DHT (possibly several tables in one segment)
          val len = segLen(p)
          if (p + len > b.length || len < 2) return None
          var q = p + 2
          while (q < p + len) {
            if (q + 17 > p + len) return None
            val tcth = u8(q)
            val tc = tcth >> 4; val th = tcth & 15
            if (tc > 1 || th > 3) return None
            val counts = Array.tabulate(16)(i => u8(q + 1 + i))
            val total = counts.sum
            if (total > 256 || q + 17 + total > p + len) return None
            val values = java.util.Arrays.copyOfRange(b, q + 17, q + 17 + total)
            val huff = new Huff(counts, values)
            if (tc == 0) tables.huffDc(th) = huff else tables.huffAc(th) = huff
            q += 17 + total
          }
          p += len
        case 0xdb => // DQT (possibly several tables)
          val len = segLen(p)
          if (p + len > b.length || len < 2) return None
          var q = p + 2
          while (q < p + len) {
            val pqtq = u8(q)
            val pq = pqtq >> 4; val tq = pqtq & 15
            if (pq > 1 || tq > 3) return None
            val n = if (pq == 0) 64 else 128
            if (q + 1 + n > p + len) return None
            tables.quant(tq) = Array.tabulate(64)(i =>
              if (pq == 0) u8(q + 1 + i) else u16(q + 1 + 2 * i))
            q += 1 + n
          }
          p += len
        case 0xdd => // DRI
          val len = segLen(p)
          if (len != 4 || p + len > b.length) return None
          restartInterval = u16(p + 2)
          p += len
        case 0xda => // SOS
          val len = segLen(p)
          if (len < 8 || p + len > b.length || comps == null) return None
          val ns = u8(p + 2)
          if (ns < 1 || ns > comps.length || len != 6 + 2 * ns) return None
          val scanIdx = new Array[Int](ns)
          var i = 0
          while (i < ns) {
            val cid = u8(p + 3 + 2 * i)
            val tdta = u8(p + 4 + 2 * i)
            val ci = comps.indexWhere(_.id == cid)
            if (ci < 0 || scanIdx.take(i).contains(ci)) return None
            comps(ci).td = tdta >> 4; comps(ci).ta = tdta & 15
            scanIdx(i) = ci
            i += 1
          }
          val ss = u8(p + 3 + 2 * ns)
          val se = u8(p + 4 + 2 * ns)
          val ahal = u8(p + 5 + 2 * ns)
          if (!progressive) {
            // baseline: one full interleaved scan, Ss=0 Se=63 Ah=Al=0
            if (ns != comps.length || ss != 0 || se != 63 || ahal != 0)
              return None
            return decodeScan(b, p + len, comps, tables, width, height,
              restartInterval)
          }
          // progressive: accumulate this scan's band into the
          // coefficient buffers, then resume the marker walk
          progScan(b, p + len, comps, scanIdx, tables, progCoef,
            blocksW, nbW, nbH, mcusX, mcusY, ss, se,
            ahal >> 4, ahal & 15, restartInterval) match {
            case Some(np) => sawScan = true; p = np
            case None => return None
          }
        case x if x >= 0xd0 && x <= 0xd7 => // RSTn outside a scan
          return None
        case 0x01 => // TEM: standalone, carries no length segment
          ()
        case _ => // APPn / COM / anything else: skip by length
          val len = segLen(p)
          if (len < 2 || p + len > b.length) return None
          p += len
      }
    }
    None
  }

  private def decodeScan(b: Array[Byte], scanStart: Int, comps: Array[Comp],
      tables: Tables, width: Int, height: Int,
      restartInterval: Int): Option[(Int, Int, Array[Int])] = {
    val hmax = comps.map(_.h).max
    val vmax = comps.map(_.v).max
    val mcusX = (width + 8 * hmax - 1) / (8 * hmax)
    val mcusY = (height + 8 * vmax - 1) / (8 * vmax)
    // per-component planes at the component's own resolution grid
    val planeW = comps.map(c => mcusX * c.h * 8)
    val planeH = comps.map(c => mcusY * c.v * 8)
    val planes = comps.indices.map(i =>
      new Array[Int](planeW(i) * planeH(i))).toArray
    for (c <- comps)
      if (tables.quant(c.tq) == null || tables.huffDc(c.td) == null ||
        tables.huffAc(c.ta) == null) return None

    val r = new BitReader(b, scanStart)
    val pred = new Array[Int](comps.length)
    val coef = new Array[Int](64)
    val block = new Array[Int](64)
    var mcu = 0
    val nMcus = mcusX * mcusY
    while (mcu < nMcus) {
      if (restartInterval > 0 && mcu > 0 && mcu % restartInterval == 0) {
        if (!r.restart()) return None
        java.util.Arrays.fill(pred, 0)
      }
      val mx = mcu % mcusX; val my = mcu / mcusX
      var ci = 0
      while (ci < comps.length) {
        val c = comps(ci)
        val q = tables.quant(c.tq)
        var bv = 0
        while (bv < c.v) {
          var bh = 0
          while (bh < c.h) {
            java.util.Arrays.fill(coef, 0)
            // DC
            val t = huffDecode(r, tables.huffDc(c.td))
            if (t < 0 || t > 15 || r.badly) return None
            val diff = extend(r.receive(t), t)
            pred(ci) += diff
            coef(0) = pred(ci) * q(0)
            // AC
            var k = 1
            var eob = false
            while (k < 64 && !eob) {
              val rs = huffDecode(r, tables.huffAc(c.ta))
              if (rs < 0 || r.badly) return None
              val run = rs >> 4; val size = rs & 15
              if (size == 0) {
                if (run == 15) k += 16 else eob = true
              } else {
                k += run
                if (k > 63) return None
                coef(Zigzag(k)) = extend(r.receive(size), size) * q(k)
                k += 1
              }
            }
            if (r.badly) return None
            idct(coef, block)
            // place into the component plane
            val bx0 = (mx * c.h + bh) * 8
            val by0 = (my * c.v + bv) * 8
            val pw = planeW(ci)
            var y = 0
            while (y < 8) {
              var x = 0
              val rowBase = (by0 + y) * pw + bx0
              while (x < 8) {
                planes(ci)(rowBase + x) = block(y * 8 + x)
                x += 1
              }
              y += 1
            }
            bh += 1
          }
          bv += 1
        }
        ci += 1
      }
      mcu += 1
    }

    Some((width, height,
      composePlanes(comps, planes, planeW, width, height, hmax, vmax)))
  }

  /** Compose output pixels from the per-component sample planes:
    * replication upsampling for subsampled components, greyscale or
    * JFIF YCbCr→RGB, clamped 0..255 per sample. Shared by the
    * baseline scan and the progressive render. */
  private def composePlanes(comps: Array[Comp], planes: Array[Array[Int]],
      planeW: Array[Int], width: Int, height: Int,
      hmax: Int, vmax: Int): Array[Int] = {
    val out = new Array[Int](width * height)
    if (comps.length == 1) {
      val pw = planeW(0)
      var y = 0
      while (y < height) {
        var x = 0
        while (x < width) {
          val g = planes(0)(y * pw + x)
          out(y * width + x) = 0xff000000 | (g << 16) | (g << 8) | g
          x += 1
        }
        y += 1
      }
    } else {
      var y = 0
      while (y < height) {
        var x = 0
        while (x < width) {
          def sample(ci: Int): Int = {
            val c = comps(ci)
            val sx = x * c.h / hmax; val sy = y * c.v / vmax
            planes(ci)(sy * planeW(ci) + sx)
          }
          val yy = sample(0).toDouble
          val cb = sample(1) - 128.0
          val cr = sample(2) - 128.0
          def cl(d: Double): Int = {
            val v = math.round(d).toInt
            if (v < 0) 0 else if (v > 255) 255 else v
          }
          val rr = cl(yy + 1.402 * cr)
          val gg = cl(yy - 0.344136 * cb - 0.714136 * cr)
          val bb = cl(yy + 1.772 * cb)
          out(y * width + x) = 0xff000000 | (rr << 16) | (gg << 8) | bb
          x += 1
        }
        y += 1
      }
    }
    out
  }

  /** One progressive scan (T.81 §G.1.2): decode the (Ss..Se, Ah/Al)
    * band for the scan's components into the zigzag coefficient
    * buffers and return the stream position of the next marker.
    * Interleaved (ns > 1, DC only) scans walk the MCU grid; single-
    * component scans walk the component's own ceil-block grid.
    * Restart intervals reset DC predictors AND the EOB run. */
  private def progScan(b: Array[Byte], scanStart: Int, comps: Array[Comp],
      scanIdx: Array[Int], tables: Tables, coefs: Array[Array[Int]],
      blocksW: Array[Int], nbW: Array[Int], nbH: Array[Int],
      mcusX: Int, mcusY: Int, ss: Int, se: Int, ah: Int, al: Int,
      restartInterval: Int): Option[Int] = {
    val ns = scanIdx.length
    val dcScan = ss == 0
    // scan-header legality (T.81 §G.1.1.1): a DC scan is the 0..0
    // band and may be interleaved; an AC scan is a 1..63 sub-band of
    // ONE component; point transforms are bounded
    if (dcScan) { if (se != 0) return None }
    else if (se < ss || se > 63 || ns != 1) return None
    if (ah > 13 || al > 13 || (ah != 0 && ah != al + 1)) return None
    if (dcScan && ah == 0)
      for (si <- scanIdx)
        if (tables.huffDc(comps(si).td) == null) return None
    if (!dcScan && tables.huffAc(comps(scanIdx(0)).ta) == null) return None

    val r = new BitReader(b, scanStart)
    val pred = new Array[Int](comps.length)
    var eobrun = 0

    // ── per-block band decoders (cz = the block's 64 zigzag coefs
    //    at offset off) ──────────────────────────────────────────
    def dcFirst(ci: Int, cz: Array[Int], off: Int): Boolean = {
      val t = huffDecode(r, tables.huffDc(comps(ci).td))
      if (t < 0 || t > 15 || r.badly) return false
      pred(ci) += extend(r.receive(t), t)
      cz(off) = pred(ci) << al
      !r.badly
    }
    // refinement DC scan: one raw bit per block at position Al
    // (bit Al is zero from the previous scan's coarser point
    // transform, so OR == add in two's complement)
    def dcRefine(cz: Array[Int], off: Int): Boolean = {
      if (r.bit() == 1) cz(off) |= (1 << al)
      !r.badly
    }
    def acFirst(ci: Int, cz: Array[Int], off: Int): Boolean = {
      if (eobrun > 0) { eobrun -= 1; return true }
      var k = ss
      while (k <= se) {
        val rs = huffDecode(r, tables.huffAc(comps(ci).ta))
        if (rs < 0 || r.badly) return false
        val run = rs >> 4; val size = rs & 15
        if (size == 0) {
          if (run != 15) { // EOBn: this block ends, 2^r−1+bits more follow
            eobrun = (1 << run) - 1
            if (run > 0) eobrun += r.receive(run)
            k = 64
          } else k += 16 // ZRL
        } else {
          k += run
          if (k > se) return false
          cz(off + k) = extend(r.receive(size), size) << al
          k += 1
        }
      }
      !r.badly
    }
    // refinement AC scan (§G.1.2.3): ±1 births at zero-history
    // positions, one correction bit for every nonzero-history
    // coefficient passed, EOB run covering whole blocks' remainders
    def acRefine(ci: Int, cz: Array[Int], off: Int): Boolean = {
      val p1 = 1 << al; val m1 = -1 << al
      def correct(k: Int): Unit = {
        val cur = cz(off + k)
        if (r.bit() == 1 && (cur & p1) == 0)
          cz(off + k) = if (cur >= 0) cur + p1 else cur + m1
      }
      var k = ss
      if (eobrun == 0) {
        var eob = false
        while (k <= se && !eob) {
          val rs = huffDecode(r, tables.huffAc(comps(ci).ta))
          if (rs < 0 || r.badly) return false
          var run = rs >> 4; val size = rs & 15
          var born = 0
          if (size != 0) {
            if (size != 1) return false // births are ±2^Al only
            born = if (r.bit() == 1) p1 else m1
          } else if (run != 15) { // EOBn: includes THIS block's remainder
            eobrun = (1 << run)
            if (run > 0) eobrun += r.receive(run)
            eob = true
          } // else ZRL: run==15 skips 16 zero-history positions
          if (!eob) {
            // advance past `run` zero-history positions (corrections
            // for every nonzero-history coefficient on the way), then
            // place the birth at the stopping position
            var stop = false
            while (k <= se && !stop) {
              if (cz(off + k) != 0) { correct(k); k += 1 }
              else if (run == 0) stop = true
              else { run -= 1; k += 1 }
            }
            if (born != 0) {
              if (!stop) return false // birth claimed beyond the band
              cz(off + k) = born
            }
            k += 1
          }
          if (r.badly) return false
        }
      }
      if (eobrun > 0) {
        while (k <= se) {
          if (cz(off + k) != 0) correct(k)
          k += 1
        }
        eobrun -= 1
      }
      !r.badly
    }

    // ── the unit walk: interleaved MCUs or single-component blocks ──
    val nUnits =
      if (ns > 1) mcusX * mcusY
      else nbW(scanIdx(0)) * nbH(scanIdx(0))
    var unit = 0
    while (unit < nUnits) {
      if (restartInterval > 0 && unit > 0 && unit % restartInterval == 0) {
        if (!r.restart()) return None
        java.util.Arrays.fill(pred, 0)
        eobrun = 0
      }
      if (ns > 1) { // interleaved DC scan
        val mx = unit % mcusX; val my = unit / mcusX
        var si = 0
        while (si < ns) {
          val ci = scanIdx(si); val c = comps(ci)
          var bv = 0
          while (bv < c.v) {
            var bh = 0
            while (bh < c.h) {
              val off = ((my * c.v + bv) * blocksW(ci) + (mx * c.h + bh)) * 64
              val ok = if (ah == 0) dcFirst(ci, coefs(ci), off)
                else dcRefine(coefs(ci), off)
              if (!ok) return None
              bh += 1
            }
            bv += 1
          }
          si += 1
        }
      } else {
        val ci = scanIdx(0)
        val bx = unit % nbW(ci); val by = unit / nbW(ci)
        val off = (by * blocksW(ci) + bx) * 64
        val ok =
          if (dcScan && ah == 0) dcFirst(ci, coefs(ci), off)
          else if (dcScan) dcRefine(coefs(ci), off)
          else if (ah == 0) acFirst(ci, coefs(ci), off)
          else acRefine(ci, coefs(ci), off)
        if (!ok) return None
      }
      unit += 1
    }
    if (r.badly) return None
    // resume the marker walk at the next marker after the entropy
    // segment (the final byte may carry padding bits; stuffed FF00
    // pairs are data, not markers)
    var q = r.p
    while (q + 1 < b.length &&
      !((b(q) & 0xff) == 0xff && (b(q + 1) & 0xff) != 0x00)) q += 1
    if (q + 1 >= b.length) None else Some(q)
  }

  /** Render an accumulated progressive frame: dequantize each block's
    * zigzag coefficients, IDCT, place into the component planes, and
    * compose — the same arithmetic the baseline scan runs inline. */
  private def renderProgressive(comps: Array[Comp], tables: Tables,
      coefs: Array[Array[Int]], blocksW: Array[Int], blocksH: Array[Int],
      width: Int, height: Int): Option[(Int, Int, Array[Int])] = {
    for (c <- comps)
      if (tables.quant(c.tq) == null) return None
    val hmax = comps.map(_.h).max
    val vmax = comps.map(_.v).max
    val planeW = blocksW.map(_ * 8)
    val planes = comps.indices.map(i =>
      new Array[Int](blocksW(i) * 8 * blocksH(i) * 8)).toArray
    val coefNat = new Array[Int](64)
    val block = new Array[Int](64)
    var ci = 0
    while (ci < comps.length) {
      val q = tables.quant(comps(ci).tq)
      val cz = coefs(ci)
      val bw = blocksW(ci); val bh = blocksH(ci)
      var bi = 0
      while (bi < bw * bh) {
        val off = bi * 64
        java.util.Arrays.fill(coefNat, 0)
        var k = 0
        while (k < 64) {
          val v = cz(off + k)
          if (v != 0) coefNat(Zigzag(k)) = v * q(k)
          k += 1
        }
        idct(coefNat, block)
        val bx0 = (bi % bw) * 8; val by0 = (bi / bw) * 8
        val pw = planeW(ci)
        var y = 0
        while (y < 8) {
          var x = 0
          val rowBase = (by0 + y) * pw + bx0
          while (x < 8) {
            planes(ci)(rowBase + x) = block(y * 8 + x)
            x += 1
          }
          y += 1
        }
        bi += 1
      }
      ci += 1
    }
    Some((width, height,
      composePlanes(comps, planes, planeW, width, height, hmax, vmax)))
  }

  /** Full 2-D IDCT (T.81 A.3.3) + level shift + clamp: coef (natural
    * order, dequantized) → 8×8 samples in [0, 255]. */
  private def idct(coef: Array[Int], out: Array[Int]): Unit = {
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        var s = 0.0
        var v = 0
        while (v < 8) {
          val cy = CosTab(y)(v)
          if (cy != 0.0) {
            var u = 0
            val row = v * 8
            while (u < 8) {
              val f = coef(row + u)
              if (f != 0) s += cy * CosTab(x)(u) * f
              u += 1
            }
          }
          v += 1
        }
        val px = math.round(s).toInt + 128
        out(y * 8 + x) = if (px < 0) 0 else if (px > 255) 255 else px
        x += 1
      }
      y += 1
    }
  }
}
