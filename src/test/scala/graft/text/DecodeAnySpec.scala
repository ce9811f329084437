package graft.text

import org.scalatest.funsuite.AnyFunSuite

/** The magic-sniffing dispatcher with the raw-snappy fallback (r15
  * verdict #6): routing per format, and the FALSE-ACCEPT ANALYSIS
  * the fallback demanded — raw snappy has no magic, so it runs last,
  * after every magic'd format and both deflate flavors decline, and
  * its acceptance of non-snappy bytes is measured here (the r14
  * inflate-plausibility-floor treatment). */
class DecodeAnySpec extends AnyFunSuite {

  private def s(x: String): Array[Byte] = x.getBytes("UTF-8")

  test("every magic'd format routes; raw snappy now decodes as the fallback") {
    val text = "the quick brown fox decodes transparently " * 10
    val raw = s(text)
    val cases = Seq(
      "gzip" -> CompressedIngest.gzip(raw),
      "zlib" -> CompressedIngest.zlib(raw),
      "raw-deflate" -> CompressedIngest.rawDeflate(raw),
      "zstd" -> Zstd.compress(raw),
      "lz4" -> Lz4.compress(raw),
      "snappy-framed" -> Snappy.compressFramed(raw),
      "snappy-raw" -> Snappy.compress(raw)) // NEW: reachable without magic
    for ((name, enc) <- cases)
      assert(CompressedIngest.decodeAny(enc).map(new String(_, "UTF-8"))
        === Some(text), name)
  }

  test("contentDecode: named HTTP content-codings route, unknown declines") {
    val text = "content coded body " * 20
    val raw = s(text)
    val cases = Seq(
      ("identity", raw), ("gzip", CompressedIngest.gzip(raw)),
      ("x-gzip", CompressedIngest.gzip(raw)),
      ("deflate", CompressedIngest.zlib(raw)),
      ("deflate", CompressedIngest.rawDeflate(raw)), // the wild flavor
      ("zstd", Zstd.compress(raw)), ("lz4", Lz4.compress(raw)),
      ("snappy", Snappy.compress(raw)), ("GZIP", CompressedIngest.gzip(raw)))
    for ((enc, payload) <- cases)
      assert(CompressedIngest.contentDecode(enc, payload)
        .map(new String(_, "UTF-8")) === Some(text), enc)
    // an explicit label is TRUSTED: wrong bytes under it decline
    // rather than falling through to a sniff
    assert(CompressedIngest.contentDecode("gzip", raw) === None)
    // unknown codings decline honestly
    assert(CompressedIngest.contentDecode("br", raw) === None)
    assert(CompressedIngest.contentDecode("compress", raw) === None)
  }

  test("the raw-snappy fallback keeps the non-empty requirement") {
    // a lone 0x00 is a VALID empty raw block — as a fallback reading
    // of unknown bytes it is meaningless and must decline
    assert(Snappy.decompress(Array[Byte](0)).exists(_.isEmpty),
      "fixture sanity: 0x00 is empty raw snappy")
    assert(CompressedIngest.decodeAny(Array[Byte](0, 0)) === None)
  }

  test("false-accept analysis: random bytes (seeded, deterministic)") {
    // the fallback's risk: random bytes that parse as a complete raw
    // snappy block. The grammar demands the varint preamble, a tag
    // stream consuming the input EXACTLY, and output of EXACTLY the
    // declared length — measure the survival rate. Deterministic
    // seed: this is a measurement pinned as a regression bound, not
    // a flaky sample.
    val rnd = new scala.util.Random(0x5eed16)
    var snappyAccepts = 0
    var trials = 0
    for (len <- 4 to 64; _ <- 0 until 400) {
      val b = new Array[Byte](len)
      rnd.nextBytes(b)
      trials += 1
      if (CompressedIngest.inflate(b).isEmpty &&
        Snappy.decompress(b).exists(_.nonEmpty)) snappyAccepts += 1
    }
    for (_ <- 0 until 2000) {
      val b = new Array[Byte](65 + rnd.nextInt(4032))
      rnd.nextBytes(b)
      trials += 1
      if (CompressedIngest.inflate(b).isEmpty &&
        Snappy.decompress(b).exists(_.nonEmpty)) snappyAccepts += 1
    }
    // measured at this seed: ZERO accepts over 26,400 random inputs;
    // the strict-consumption + exact-length grammar is the filter
    assert(trials === 26400)
    assert(snappyAccepts === 0,
      s"raw-snappy false-accepted $snappyAccepts/$trials random inputs")
  }

  test("false-accept analysis: cross-format and plain-text corpora") {
    // the REAL failure shape on a crawl: truncated/corrupted members
    // of the OTHER formats reaching the fallback, and plain text
    val text = ("lorem ipsum dolor sit amet " * 40).getBytes("UTF-8")
    val others = Seq(
      CompressedIngest.gzip(text), Zstd.compress(text),
      Lz4.compress(text), Snappy.compressFramed(text),
      CompressedIngest.zlib(text))
    var accepts = 0
    for (enc <- others; cut <- Seq(3, enc.length / 2, enc.length - 1)) {
      val t = java.util.Arrays.copyOf(enc, cut)
      // strip any surviving magic so the bytes actually reach the
      // fallback the way a corrupted mid-stream slice would
      val noMagic = java.util.Arrays.copyOfRange(t, math.min(4, t.length), t.length)
      if (noMagic.length >= 4 && CompressedIngest.inflate(noMagic).isEmpty &&
        Snappy.decompress(noMagic).exists(_.nonEmpty)) accepts += 1
    }
    for (line <- Seq("hello world", "GET / HTTP/1.1", "plain ascii text here",
      "{\"json\": true}", "<!DOCTYPE html><p>x</p>")) {
      if (CompressedIngest.inflate(s(line)).isEmpty &&
        Snappy.decompress(s(line)).exists(_.nonEmpty)) accepts += 1
    }
    assert(accepts === 0, s"cross-format false-accepts: $accepts")
  }

  test("the raw-snappy fallback is gated at the measured 4-byte floor") {
    // 2-3 byte junk CAN parse as a tiny raw-snappy literal (01 00 41
    // → "A"); below the floor decodeAny must keep the pre-fallback
    // None instead of inventing text (r16 advice)
    assert(Snappy.decompress(Array[Byte](0x01, 0x00, 0x41))
      .exists(_.nonEmpty)) // the hazard is real...
    assert(CompressedIngest.decodeAny(Array[Byte](0x01, 0x00, 0x41))
      .isEmpty) // ...and the gate closes it
    assert(CompressedIngest.decodeAny(Array[Byte](0x01, 0x00)).isEmpty)
    // at >= 4 bytes raw snappy still reaches the fallback (provided
    // the deflate sniff ahead of it declines — dispatch order is
    // deflate first, so pick an input where it does)
    val tiny = Snappy.compress("abcd".getBytes)
    assert(tiny.length >= 4)
    assert(CompressedIngest.inflate(tiny).isEmpty, "fixture: deflate declines")
    assert(CompressedIngest.decodeAny(tiny).map(new String(_))
      === Some("abcd"))
  }

  test("declared-size bombs decline without allocating the size") {
    // a header declaring far more than maxLen over a tiny payload: the
    // decoder must refuse on the declaration, not allocate it or decode
    // up to the ceiling first
    def le(v: Long, n: Int): Array[Byte] = Array.tabulate(n)(i => (v >>> (8 * i)).toByte)
    val zstd = Array[Byte](0x28, 0xb5.toByte, 0x2f, 0xfd.toByte, 0xe0.toByte) ++ // single segment, 8-byte size
      le(1L << 40, 8) ++ Array[Byte](0x01, 0x00, 0x00) // Frame_Content_Size 2^40, last raw block of 0
    val snappy = Array[Byte](0xff.toByte, 0xff.toByte, 0xff.toByte, 0xff.toByte, 0x07, // varint 2^31-1
      0x00, 0x41) // one literal byte
    val lz4Header = Array[Byte](0x68, 0x40) ++ le(CompressedIngest.MaxBytes + 1L, 8) // v01, content size
    val lz4 = le(0x184d2204L, 4) ++ lz4Header ++ Array((net.jpountz.xxhash.XXHashFactory
      .safeInstance().hash32().hash(lz4Header, 0, lz4Header.length, 0) >>> 8).toByte) ++
      le(0x80000002L, 4) ++ "hi".getBytes ++ le(0L, 4) // one stored block, EndMark
    val threads = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    for ((name, decode) <- Seq[(String, () => Option[Array[Byte]])](
      "zstd" -> (() => Zstd.decompress(zstd)),
      "snappy" -> (() => Snappy.decompress(snappy)),
      "lz4" -> (() => Lz4.decompress(lz4)))) {
      decode() // load the codec's classes before measuring
      val before = threads.getCurrentThreadAllocatedBytes
      assert(decode().isEmpty, name)
      val allocated = threads.getCurrentThreadAllocatedBytes - before
      assert(allocated < (4L << 20), s"$name allocated $allocated bytes")
    }
  }
}
