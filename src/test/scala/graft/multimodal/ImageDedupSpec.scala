package graft.multimodal

import graft.SparkSpec
import graft.multimodal.Multimodal.MediaRow

class ImageDedupSpec extends SparkSpec {

  // ── QOI encoding helpers (spec-side encoder: plain RGB ops — a
  // valid QOI stream; op-specific streams are hand-assembled) ───────
  private def beInt(v: Int): Array[Byte] =
    Array(((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
      ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)

  private def qoiHeader(w: Int, h: Int): Array[Byte] =
    "qoif".getBytes ++ beInt(w) ++ beInt(h) ++ Array[Byte](3, 0)

  private val qoiEnd: Array[Byte] =
    Array[Byte](0, 0, 0, 0, 0, 0, 0, 1)

  private def qoiRgb(pixels: Seq[(Int, Int, Int)], w: Int, h: Int): Array[Byte] =
    qoiHeader(w, h) ++ pixels.flatMap { case (r, g, b) =>
      Seq(0xfe.toByte, r.toByte, g.toByte, b.toByte)
    } ++ qoiEnd

  test("QOI decode: RGB, RUN, INDEX, DIFF and LUMA ops produce the spec'd pixels") {
    // 4 pixels via RGB ops
    val rgb = qoiRgb(Seq((10, 20, 30), (40, 50, 60), (10, 20, 30), (0, 0, 0)), 2, 2)
    val Some((w1, h1, px1)) = ImageDedup.decodeQoiPixels(rgb)
    assert((w1, h1) === ((2, 2)))
    assert(px1(0) === ((0xff << 24) | (10 << 16) | (20 << 8) | 30))
    assert(px1(1) === ((0xff << 24) | (40 << 16) | (50 << 8) | 60))

    // RGB + RUN(3): four identical pixels
    val run = qoiHeader(2, 2) ++
      Array(0xfe.toByte, 7.toByte, 8.toByte, 9.toByte) ++
      Array((0xc0 | 2).toByte) ++ // run of 3 more
      qoiEnd
    val Some((_, _, px2)) = ImageDedup.decodeQoiPixels(run)
    assert(px2.toSeq === Seq.fill(4)((0xff << 24) | (7 << 16) | (8 << 8) | 9))

    // RGB a, RGB b, INDEX back to a (hash slot of a), 1 more via DIFF
    val a = (100, 110, 120)
    val idxOfA = (100 * 3 + 110 * 5 + 120 * 7 + 255 * 11) % 64
    val indexed = qoiHeader(2, 2) ++
      Array(0xfe.toByte, a._1.toByte, a._2.toByte, a._3.toByte) ++
      Array(0xfe.toByte, 1.toByte, 2.toByte, 3.toByte) ++
      Array((0x00 | idxOfA).toByte) ++            // INDEX → a
      Array((0x40 | (3 << 4) | (2 << 2) | 1).toByte) ++ // DIFF +1,0,-1
      qoiEnd
    val Some((_, _, px3)) = ImageDedup.decodeQoiPixels(indexed)
    assert(px3(2) === ((0xff << 24) | (100 << 16) | (110 << 8) | 120), "INDEX")
    assert(px3(3) === ((0xff << 24) | (101 << 16) | (110 << 8) | 119), "DIFF")

    // LUMA: dg=+5; dr-dg=+2, db-dg=-3 → (+7, +5, +2)
    val luma = qoiHeader(2, 1) ++
      Array(0xfe.toByte, 50.toByte, 60.toByte, 70.toByte) ++
      Array((0x80 | (5 + 32)).toByte, (((2 + 8) << 4) | (-3 + 8)).toByte) ++
      qoiEnd
    val Some((_, _, px4)) = ImageDedup.decodeQoiPixels(luma)
    assert(px4(1) === ((0xff << 24) | (57 << 16) | (65 << 8) | 72), "LUMA")

    // malformed: truncated stream → None
    assert(ImageDedup.decodeQoiPixels(rgb.dropRight(9)).isEmpty)
  }

  test("BMP 24bpp decode: bottom-up and top-down, row padding") {
    def bmp(w: Int, h: Int, topDown: Boolean,
        rows: Seq[Seq[(Int, Int, Int)]]): Array[Byte] = {
      val rowSize = ((24 * w + 31) / 32) * 4
      val data = new Array[Byte](rowSize * h)
      rows.zipWithIndex.foreach { case (row, y) =>
        row.zipWithIndex.foreach { case ((r, g, b), x) =>
          val p = y * rowSize + x * 3
          data(p) = b.toByte; data(p + 1) = g.toByte; data(p + 2) = r.toByte
        }
      }
      def le32(v: Int) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
        ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
      def le16(v: Int) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
      "BM".getBytes ++ le32(54 + data.length) ++ le32(0) ++ le32(54) ++
        le32(40) ++ le32(w) ++ le32(if (topDown) -h else h) ++ le16(1) ++
        le16(24) ++ le32(0) ++ le32(data.length) ++ le32(2835) ++
        le32(2835) ++ le32(0) ++ le32(0) ++ data
    }
    // 2×2: storage rows bottom-up — first stored row is the BOTTOM
    val stored = Seq(
      Seq((1, 2, 3), (4, 5, 6)),     // bottom row
      Seq((7, 8, 9), (10, 11, 12)))  // top row
    val Some((w, h, px)) = ImageDedup.decodeBmpPixels(bmp(2, 2, topDown = false, stored))
    assert((w, h) === ((2, 2)))
    // normalized top-down: first output pixel is the TOP-left
    assert(px(0) === ((0xff << 24) | (7 << 16) | (8 << 8) | 9))
    assert(px(3) === ((0xff << 24) | (4 << 16) | (5 << 8) | 6))
    val Some((_, _, pxT)) = ImageDedup.decodeBmpPixels(bmp(2, 2, topDown = true, stored))
    assert(pxT(0) === ((0xff << 24) | (1 << 16) | (2 << 8) | 3))
    // non-24bpp rejected
    val bad = bmp(2, 2, topDown = false, stored)
    bad(28) = 32
    assert(ImageDedup.decodeBmpPixels(bad).isEmpty)
  }

  test("aHash: half-bright pattern sets exactly the bright cells; tiny noise is invisible") {
    val w = 16; val h = 16
    def img(noiseAt: Option[Int]): Array[Int] = {
      val px = Array.tabulate(w * h) { i =>
        val x = i % w
        if (x < w / 2) (0xff << 24) | 0x000000 else (0xff << 24) | 0xffffff
      }
      noiseAt.foreach(i => px(i) = (0xff << 24) | 0xf0f0f0) // one pixel dimmed
      px
    }
    val Some(base) = ImageDedup.aHash64(w, h, img(None))
    // left 4 cell-columns dark (bit 0), right 4 bright (bit 1)
    for (cy <- 0 until 8; cx <- 0 until 8) {
      val bit = (base >> (cy * 8 + cx)) & 1L
      assert(bit === (if (cx < 4) 0L else 1L), s"cell ($cy,$cx)")
    }
    val Some(noisy) = ImageDedup.aHash64(w, h, img(Some(w - 1)))
    assert(java.lang.Long.bitCount(base ^ noisy) === 0,
      "one dimmed pixel must not flip any 2x2-cell mean")
  }

  test("planted near-identical QOI images pair up through the distributed pipeline") {
    import spark.implicits._
    val w = 16; val h = 16
    def pattern(bright: Set[Int], jitterSeed: Int): Seq[(Int, Int, Int)] =
      (0 until w * h).map { i =>
        val base = if (bright.contains(i % w / 2)) 220 else 30
        val j = (jitterSeed * 31 + i * 7) % 5 // ±2 gray jitter
        val v = base + j - 2
        (v, v, v)
      }
    val brightA = Set(4, 5, 6, 7) // right half bright
    val brightB = Set(0, 1, 2, 3) // left half bright — the opposite
    val rows = Seq(
      MediaRow(0L, "image", qoiRgb(pattern(brightA, 1), w, h), "image/qoi", 0L),
      MediaRow(1L, "image", qoiRgb(pattern(brightA, 2), w, h), "image/qoi", 0L),
      MediaRow(2L, "image", qoiRgb(pattern(brightB, 3), w, h), "image/qoi", 0L),
      MediaRow(3L, "audio", Array[Byte](1, 2, 3), "audio/wav", 3L))
    val pairs = ImageDedup.imageDedupOf(rows.toDS()).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((0L, 1L)),
      "jittered twins must pair; the inverted image and the audio row must not")
    // and the real decode actually ran: hashes of the twins are equal,
    // the inverted image is (near-)complementary
    val hA = ImageDedup.imageHash(rows(0).media)
    val hA2 = ImageDedup.imageHash(rows(1).media)
    val hB = ImageDedup.imageHash(rows(2).media)
    assert(java.lang.Long.bitCount(hA ^ hA2) <= 7)
    assert(java.lang.Long.bitCount(hA ^ hB) > 32)
  }

  test("gate corpus: every image row hashed and dumped; real rows cross the pixel decode") {
    val out = ImageDedup.imageDedup(spark, sf(),
      sigsDump = graft.gates.MediaGates.ImgSigs.sink(sf()))
    out.collect() // force + dump
    val dumped = spark.read.parquet(graft.gates.MediaGates.ImgSigs.glob(sf()))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val images = Multimodal.mediaTable(spark, sf()).filter(_.kind == "image").collect()
    assert(dumped.size === images.length)
    var nReal = 0; var nFake = 0
    images.foreach { m =>
      if (MediaSynth.isReal(m.media_id)) {
        nReal += 1
        // the dumped signature must be the REAL pixel decode's aHash
        val Some((w, h, px)) = ImageDedup.decodeQoiPixels(m.media)
        assert((w, h) === ((MediaSynth.qoiWidth(m.media_id),
          MediaSynth.qoiHeight(m.media_id))))
        assert(dumped(m.media_id) === ImageDedup.aHash64(w, h, px).get)
      } else {
        nFake += 1
        // fake payloads (text bytes) must take the stub hash
        assert(dumped(m.media_id) === ImageDedup.stubImageHash(m.media))
      }
    }
    assert(nReal >= nFake && nFake > 0,
      s"gate must cross both hash paths: real=$nReal fake=$nFake")
  }

  test("media pair regime switches on MEASURED bucket occupancy, not doc count") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // high-entropy gate-scale frame: every band bucket far under the
    // cap -> the multi-probe plan (and so the registered multi-probe
    // oracles) — the sf0.01 gate corpora all measure maxOcc <= 215
    val small = (0L until 100L).map(i => (i, i * 0x9E3779B97F4A7C15L))
      .toDF("doc_id", "sig")
    assert(!SigDump.pickWide(small, 1000))
    SigDump.dumpAndPair(small, 15, 1000).count()
  }

  test("low-entropy SUB-100k frame takes the wide path with full twin recall (r13 What's wrong #1)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // the r13 rehearsal shape at spec scale: 5k docs whose sigs
    // collapse onto 4 base values (identical-sig cliques of ~1250 —
    // every band bucket holding one is OVER the 1000 cap, so the
    // 8-bit multi-probe scheme would silently drop it and lose the
    // planted twins); the old doc-count switch (>= 100k) kept this
    // frame on the measured-bad path
    val bases = Array(0L, -1L, 0x00000000ffffffffL, 0x5a5a5a5aa5a5a5a5L)
    val lowEntropy = (0L until 5000L).map { i =>
      val base = bases((i % 4).toInt)
      // odd docs: the even neighbor's sig with one bit flipped — an
      // in-contract (Hamming 1) planted twin
      (i, if (i % 2 == 1) bases(((i - 1) % 4).toInt) ^ (1L << (i % 63).toInt)
          else base)
    }.toDF("doc_id", "sig")
    assert(SigDump.pickWide(lowEntropy, 1000),
      "measured over-cap occupancy must route a sub-100k frame wide")
    val pairs = SigDump.dumpAndPair(lowEntropy, 15, 1000).localCheckpoint()
    // full twin recall through the AUTO-ROUTED path (not the explicit
    // wide entry): every (even, even+1) twin is Hamming 1 <= 15
    val twins = pairs.filter(col("j") === col("i") + 1 &&
      col("i") % 2 === 0).count()
    assert(twins === 2500L,
      s"auto-routed wide path must find every planted twin: $twins / 2500")
  }

  test("media pair tail also switches wide above the MediaWideAbove cost stop") {
    import org.apache.spark.sql.functions._
    // high-entropy-enough that occupancy alone might not trip at this
    // size, but the row count is in the multi-probe OOM regime
    // (bucket lists measured to kill executors at 500k, BENCH_NOTES
    // r13) — the cost stop routes it wide regardless
    val big = spark.range(SigDump.MediaWideAbove)
      .select(col("id").as("doc_id"),
        (col("id") % 97 * lit(0x0101010101010101L)).as("sig"))
    assert(SigDump.pickWide(big, 1000),
      "at MediaWideAbove the tail must pick the collapse+wide path")
  }
}
