package graft.multimodal

/** FLAC sample decode — pure JVM, public spec (RFC 9639 / the FLAC
  * format specification): compressed audio onto the REAL sample path
  * (r13 "What's missing #2" — every non-WAV audio payload fell to the
  * byte-stub hash). FLAC is LOSSLESS, so the closed-form oracle trick
  * works exactly: MediaSynth encodes closed-form PCM, the decoder
  * must return the identical samples. Scope:
  *
  *  - the `fLaC` marker + metadata-block walk (STREAMINFO's 20-bit
  *    sample rate / 3-bit channels / 5-bit sample size / 36-bit total
  *    samples; other blocks skipped by length);
  *  - frame headers: the 14-bit sync, blocking strategies (frame- and
  *    sample-number forms of the extended UTF-8 coded number), all
  *    blocksize codes (fixed table, 8- and 16-bit from-end), the
  *    sample-rate table, CRC-8 (poly 0x07) verification;
  *  - channel assignments: independent, left/side, right/side,
  *    mid/side (side subframes carry one extra bit per the spec);
  *  - subframes: CONSTANT, VERBATIM, FIXED orders 0-4, LPC (4-bit
  *    precision, signed 5-bit shift, signed coefficients), wasted
  *    bits (unary-coded, samples shifted back up);
  *  - residuals: Rice and Rice2 partitions (4/5-bit parameters),
  *    partition orders, the escape code (raw signed n-bit residuals);
  *  - the frame CRC-16 (poly 0x8005) over the byte-aligned frame.
  *
  * Output is (sampleRate, channels, mean-downmixed 16-bit samples) —
  * the exact shape [[AudioFeatures.decodeWavPcm]] emits, so the
  * fingerprint chains ([[AudioDedup.clipHash]]) consume it unchanged.
  * Sample sizes of 17-24 bits (20- and 24-bit are common in archival
  * audio) decode at full depth and are then EXPLICITLY projected into
  * the 16-bit fingerprint domain — each reconstructed channel sample
  * is floor-shifted `>> (bps - 16)` BEFORE the mean downmix, a
  * documented projection (the fingerprint arithmetic is 16-bit), not
  * a silent truncation. Sample sizes over 24 bits return None (the
  * remaining documented boundary). Same
  * totality contract as every decoder here: a value or None on
  * arbitrary bytes, never a throw (DecoderFuzzSpec). */
object Flac {

  private val MaxFrames = 4 * 1024 * 1024

  private final class Malformed extends RuntimeException(null, null, false, false)

  /** MSB-first bit reader (FLAC bit order — the opposite of VP8L's). */
  private final class BitR(b: Array[Byte], var pos: Int, val end: Int) {
    private var bit = 0 // consumed bits of b(pos), from the MSB
    def readBit(): Int = {
      if (pos >= end) throw new Malformed
      val r = (b(pos) >> (7 - bit)) & 1
      bit += 1
      if (bit == 8) { bit = 0; pos += 1 }
      r
    }
    def read(n: Int): Int = {
      var v = 0; var i = 0
      while (i < n) { v = (v << 1) | readBit(); i += 1 }
      v
    }
    def readLong(n: Int): Long = {
      var v = 0L; var i = 0
      while (i < n) { v = (v << 1) | readBit(); i += 1 }
      v
    }
    /** Two's-complement signed n-bit field. */
    def signed(n: Int): Int = {
      if (n == 0) return 0
      val v = read(n)
      if ((v & (1 << (n - 1))) != 0) v - (1 << n) else v
    }
    /** FLAC unary: count of 0 bits before the terminating 1. */
    def unary(): Int = {
      var q = 0
      while (readBit() == 0) { q += 1; if (q > (1 << 20)) throw new Malformed }
      q
    }
    def aligned: Boolean = bit == 0
    def align(): Unit = if (bit != 0) { bit = 0; pos += 1 }
  }

  private[multimodal] def crc8(b: Array[Byte], from: Int, until: Int): Int = {
    var crc = 0
    var i = from
    while (i < until) {
      crc ^= b(i) & 0xff
      var k = 0
      while (k < 8) {
        crc = if ((crc & 0x80) != 0) ((crc << 1) ^ 0x07) & 0xff
          else (crc << 1) & 0xff
        k += 1
      }
      i += 1
    }
    crc
  }

  private[multimodal] def crc16(b: Array[Byte], from: Int, until: Int): Int = {
    var crc = 0
    var i = from
    while (i < until) {
      crc ^= (b(i) & 0xff) << 8
      var k = 0
      while (k < 8) {
        crc = if ((crc & 0x8000) != 0) ((crc << 1) ^ 0x8005) & 0xffff
          else (crc << 1) & 0xffff
        k += 1
      }
      i += 1
    }
    crc
  }

  /** The frame-header sample-rate table (code 1-11); 0 defers to
    * STREAMINFO, 12-14 read trailing fields, 15 is invalid. */
  private val RateTable = Array(0, 88200, 176400, 192000, 8000, 16000,
    22050, 24000, 32000, 44100, 48000, 96000)

  /** Gate surface (`mm_flac_decode`): synthesize a real FLAC per
    * document ([[MediaSynth.flac]] — closed-form samples; the encode
    * choices cycle subframe types, channel assignments, residual
    * methods, blocksize/rate/size codes and blocking strategies),
    * decode through the full production path (marker walk, frame
    * headers + CRC-8, subframes, Rice/escape residuals, channel
    * reconstruction, CRC-16), and report the integer-exact features
    * of the mean-downmixed stream — FLAC is lossless, so the oracle
    * re-synthesizes the exact samples from doc_id closed forms and
    * refolds in SQL. Rows with doc_id % 5 == 3 get a TRUNCATED
    * stream and owe the all-(-1) fallback. Map-only over documents. */
  def decodeReport(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id").as[Long]
      .map { id =>
        val full = MediaSynth.flac(id)
        val payload = if (id % 5 == 3) full.take(30) else full
        decodePcm(payload) match {
          case Some((rate, ch, samples)) =>
            val (n, peak, zc, energy) = AudioFeatures.featuresOf(samples)
            (id, rate.toLong, ch.toLong, n, peak, zc, energy)
          case None => (id, -1L, -1L, -1L, -1L, -1L, -1L)
        }
      }
      .toDF("doc_id", "rate", "channels", "n_samples", "peak_abs",
        "zero_crossings", "energy")
  }

  def dedupDumpPath(base: String): String =
    graft.core.SideDump.path("flachash_sigs", base)

  /** Gate surface (`mm_audio_dedup_flac`) — compressed audio in the
    * fingerprint near-dup family: odd docs carry a LOSSLESS RE-ENCODE
    * of their even neighbor (same samples, a shifted encode seed —
    * different subframe types / assignments / residual layouts, so
    * the byte streams differ completely while the fingerprints must
    * land at Hamming 0); id % 9 == 5 docs carry a truncated stream
    * (stub fallback in-gate). Everything through decode →
    * energy-delta fingerprint → multi-probe banded Hamming; hashes
    * side-dumped, DuckDB re-derives banding/caps/probes/verify. */
  def audioDedupFlac(spark: org.apache.spark.sql.SparkSession,
      sfDir: String, maxHamming: Int = 15,
      maxBucket: Int = 1000): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    // widened when narrow (graft.core.Widen): the per-row synth +
    // full pixel/sample decode below is the gate's entire cost, and
    // the single-file scan would run it 1-wide (r17 stage audit)
    val sigs = graft.core.Widen.ifNarrow(
        spark.read.parquet(s"$sfDir/documents.parquet").select("doc_id"))
      .as[Long]
      .map(id => (id, AudioDedup.clipHash(dedupPayload(id))))
      .toDF("doc_id", "sig")
    SigDump.dumpAndPair(sigs, "flachash_sigs", sfDir, maxHamming,
      maxBucket)
  }

  /** The near-dup fixture payload (shared with FlacSpec): the twin is
    * the same audio re-encoded under a different seed. */
  private[multimodal] def dedupPayload(id: Long): Array[Byte] =
    if (id % 9 == 5) MediaSynth.flac(id).take(30) // undecodable -> stub
    else if (id % 2 == 0) MediaSynth.flac(id)
    else MediaSynth.flacOf(id - 1, (id - 1).toInt + 3)

  /** Decode a FLAC payload to (sampleRate, channels, mean-downmixed
    * samples) — None on malformed, truncated, unsupported sample
    * size, or CRC mismatch; never a throw. */
  private[graft] def decodePcm(b: Array[Byte]): Option[(Int, Int, Array[Short])] = {
    try decode0(b)
    catch { case _: Malformed | _: ArrayIndexOutOfBoundsException |
      _: NegativeArraySizeException => None }
  }

  private def decode0(b: Array[Byte]): Option[(Int, Int, Array[Short])] = {
    if (b.length < 42 || b(0) != 'f' || b(1) != 'L' || b(2) != 'a' ||
      b(3) != 'C') return None
    // metadata blocks
    var p = 4
    var sawStreamInfo = false
    var rate = 0; var channels = 0; var bps = 0
    var totalSamples = 0L
    var last = false
    while (!last) {
      if (p + 4 > b.length) return None
      last = (b(p) & 0x80) != 0
      val tpe = b(p) & 0x7f
      val len = ((b(p + 1) & 0xff) << 16) | ((b(p + 2) & 0xff) << 8) |
        (b(p + 3) & 0xff)
      if (p + 4 + len > b.length) return None
      if (tpe == 0) { // STREAMINFO
        if (len != 34 || sawStreamInfo) return None
        sawStreamInfo = true
        val r = new BitR(b, p + 4, p + 4 + len)
        r.read(16); r.read(16) // min/max blocksize
        r.read(24); r.read(24) // min/max framesize
        rate = r.read(20)
        channels = r.read(3) + 1
        bps = r.read(5) + 1
        totalSamples = r.readLong(36)
      }
      p += 4 + len
    }
    if (!sawStreamInfo || rate <= 0) return None
    if (bps > 24) return None // documented boundary (>24-bit)
    // explicit projection into the 16-bit fingerprint domain: each
    // reconstructed channel sample floor-shifts by (bps - 16) before
    // the mean downmix (exact for streams whose low bits ride a
    // 16-bit signal; a documented projection otherwise)
    val shift = if (bps > 16) bps - 16 else 0
    if (totalSamples > MaxFrames) return None

    val out = new Array[Short](
      if (totalSamples > 0) totalSamples.toInt else 0)
    val grow = scala.collection.mutable.ArrayBuffer.empty[Short]
    var got = 0
    val r = new BitR(b, p, b.length)
    while (r.pos < b.length) {
      val frameStart = r.pos
      // ── frame header ──
      if (r.read(14) != 0x3ffe || r.readBit() != 0) return None
      val variableBlocking = r.readBit() == 1
      val bsCode = r.read(4)
      val rateCode = r.read(4)
      val chAssign = r.read(4)
      val ssCode = r.read(3)
      if (r.readBit() != 0) return None
      // extended UTF-8 coded frame/sample number
      val first = r.read(8)
      var ones = 0
      while (ones < 8 && ((first << ones) & 0x80) != 0) ones += 1
      if (ones == 1 || ones > (if (variableBlocking) 7 else 6)) return None
      var i = 1
      while (i < ones) {
        if ((r.read(8) & 0xc0) != 0x80) return None
        i += 1
      }
      val blockSize = bsCode match {
        case 0 => return None
        case 1 => 192
        case c if c <= 5 => 576 << (c - 2)
        case 6 => r.read(8) + 1
        case 7 => r.read(16) + 1
        case c => 256 << (c - 8)
      }
      rateCode match {
        case 0 => // STREAMINFO
        case c if c <= 11 => if (RateTable(c) != rate) return None
        case 12 => r.read(8)
        case 13 | 14 => r.read(16)
        case _ => return None
      }
      val nCh = if (chAssign < 8) chAssign + 1
        else if (chAssign <= 10) 2
        else return None
      if (nCh != channels) return None
      val frameBps = ssCode match {
        case 0 => bps
        case 1 => 8; case 2 => 12; case 4 => 16; case 5 => 20; case 6 => 24
        case _ => return None
      }
      if (frameBps != bps) return None
      if (!r.aligned) return None
      if (crc8(b, frameStart, r.pos) != r.read(8)) return None

      // ── subframes ──
      if (got + blockSize > MaxFrames) return None
      val chans = Array.ofDim[Int](nCh, blockSize)
      var c = 0
      while (c < nCh) {
        // side subframes carry one extra bit
        val extra = chAssign match {
          case 8 => if (c == 1) 1 else 0 // left/side
          case 9 => if (c == 0) 1 else 0 // side/right
          case 10 => if (c == 1) 1 else 0 // mid/side
          case _ => 0
        }
        decodeSubframe(r, chans(c), blockSize, bps + extra)
        c += 1
      }
      r.align()
      if (crc16(b, frameStart, r.pos) != r.read(16)) return None

      // ── channel reconstruction + mean downmix ──
      var f = 0
      while (f < blockSize) {
        // reconstruct each channel at full depth, project to the
        // 16-bit domain, THEN mean-downmix — so >16-bit streams fold
        // identically to their 16-bit projections
        val sum: Int = chAssign match {
          case 8 => // left, side: right = left - side
            val l = chans(0)(f); val rr = l - chans(1)(f)
            (l >> shift) + (rr >> shift)
          case 9 => // side, right: left = right + side
            val rr = chans(1)(f); val l = rr + chans(0)(f)
            (l >> shift) + (rr >> shift)
          case 10 => // mid, side
            val mid2 = (chans(0)(f) << 1) | (chans(1)(f) & 1)
            val l = (mid2 + chans(1)(f)) >> 1
            val rr = (mid2 - chans(1)(f)) >> 1
            (l >> shift) + (rr >> shift)
          case _ =>
            var s = 0; var cc = 0
            while (cc < nCh) { s += chans(cc)(f) >> shift; cc += 1 }
            s
        }
        val m = (sum / nCh).toShort
        if (got < out.length) out(got) = m else grow += m
        got += 1
        f += 1
      }
      if (totalSamples > 0 && got >= totalSamples) {
        // stop at the STREAMINFO-declared sample count; trailing bytes
        // (ID3v1 tags, padding junk) are common in wild files and do
        // not invalidate the decoded audio
        return finish(rate, channels, out, grow, got, totalSamples)
      }
    }
    finish(rate, channels, out, grow, got, totalSamples)
  }

  private def finish(rate: Int, channels: Int, out: Array[Short],
      grow: scala.collection.mutable.ArrayBuffer[Short], got: Int,
      total: Long): Option[(Int, Int, Array[Short])] = {
    if (got == 0) return None
    if (total > 0) {
      // STREAMINFO declared a count: it must match exactly
      if (got != total) None else Some((rate, channels, out))
    } else Some((rate, channels, grow.toArray))
  }

  private def decodeSubframe(r: BitR, dst: Array[Int], n: Int,
      bps: Int): Unit = {
    if (r.readBit() != 0) throw new Malformed // zero pad bit
    val tpe = r.read(6)
    val wasted =
      if (r.readBit() == 1) 1 + r.unary()
      else 0
    val eb = bps - wasted
    if (eb <= 0 || eb > 25) throw new Malformed // 24-bit + 1 side bit
    tpe match {
      case 0 => // CONSTANT
        val v = r.signed(eb)
        java.util.Arrays.fill(dst, 0, n, v)
      case 1 => // VERBATIM
        var i = 0
        while (i < n) { dst(i) = r.signed(eb); i += 1 }
      case t if t >= 8 && t <= 12 => // FIXED, order 0-4
        fixed(r, dst, n, eb, t - 8)
      case t if t >= 32 => // LPC, order 1-32
        val order = t - 31
        if (order > n) throw new Malformed
        var i = 0
        while (i < order) { dst(i) = r.signed(eb); i += 1 }
        val precision = r.read(4) + 1
        if (precision == 16) throw new Malformed // 0b1111 invalid
        val shift = r.signed(5)
        if (shift < 0) throw new Malformed
        val coefs = Array.fill(order)(r.signed(precision))
        residuals(r, dst, n, order)
        i = order
        while (i < n) {
          var acc = 0L
          var j = 0
          while (j < order) { acc += coefs(j).toLong * dst(i - 1 - j); j += 1 }
          dst(i) += (acc >> shift).toInt
          i += 1
        }
      case _ => throw new Malformed
    }
    if (wasted > 0) {
      var i = 0
      while (i < n) { dst(i) <<= wasted; i += 1 }
    }
  }

  /** FIXED warmup + residual + reconstruction (the four polynomial
    * predictors). */
  private def fixed(r: BitR, dst: Array[Int], n: Int, eb: Int,
      order: Int): Unit = {
    if (order > n) throw new Malformed
    var i = 0
    while (i < order) { dst(i) = r.signed(eb); i += 1 }
    residuals(r, dst, n, order)
    i = order
    while (i < n) {
      val pred = order match {
        case 0 => 0
        case 1 => dst(i - 1)
        case 2 => 2 * dst(i - 1) - dst(i - 2)
        case 3 => 3 * dst(i - 1) - 3 * dst(i - 2) + dst(i - 3)
        case _ => 4 * dst(i - 1) - 6 * dst(i - 2) + 4 * dst(i - 3) -
          dst(i - 4)
      }
      dst(i) += pred
      i += 1
    }
  }

  /** Rice/Rice2-partitioned residuals into dst(order until n); dst's
    * warmup prefix is already filled. */
  private def residuals(r: BitR, dst: Array[Int], n: Int,
      order: Int): Unit = {
    val method = r.read(2)
    if (method > 1) throw new Malformed
    val paramBits = if (method == 0) 4 else 5
    val escape = (1 << paramBits) - 1
    val po = r.read(4)
    val partitions = 1 << po
    if (n % partitions != 0) throw new Malformed
    val per = n >> po
    var i = order
    var part = 0
    while (part < partitions) {
      val count = if (part == 0) per - order else per
      if (count < 0) throw new Malformed
      val param = r.read(paramBits)
      if (param == escape) {
        val raw = r.read(5)
        var k = 0
        while (k < count) { dst(i) = if (raw == 0) 0 else r.signed(raw); i += 1; k += 1 }
      } else {
        var k = 0
        while (k < count) {
          val q = r.unary()
          // q << param must not overflow Int: a hostile stream can
          // drive unary q arbitrarily high; decode-or-reject, never
          // silently wrap into garbage samples
          if (param > 0 && q >= (1 << (31 - param))) throw new Malformed
          if (q > 0x3fffffff) throw new Malformed
          val v = (q << param) | r.read(param)
          dst(i) = (v >>> 1) ^ -(v & 1) // zigzag
          i += 1; k += 1
        }
      }
      part += 1
    }
  }
}
