package graft.multimodal

import graft.SparkSpec
import java.io.File

class VideoFramesSpec extends SparkSpec {

  test("AVI roundtrip: dims, frame count and every frame pixel match the closed forms") {
    for (id <- Seq(2L, 8L, 14L, 26L)) {
      val bytes = MediaSynth.avi(id)
      val Some((w, h, frames)) = VideoFrames.decodeAviFrames(bytes)
      assert(w === MediaSynth.aviWidth(id))
      assert(h === MediaSynth.aviHeight(id))
      assert(frames.length === MediaSynth.aviFrames(id))
      for (f <- frames.indices; y <- 0 until h; x <- 0 until w) {
        val px = frames(f)(y * w + x)
        val g = MediaSynth.aviGray(id, f, x, y)
        assert(px === ((0xff << 24) | (g << 16) | (g << 8) | g),
          s"id=$id f=$f ($x,$y)")
      }
      // and the writer's layout formula the oracle re-derives
      val rsz = ((3 * w + 3) / 4) * 4
      assert(bytes.length === 224 + frames.length * (8 + rsz * h))
    }
  }

  test("MJPEG roundtrip: every frame decodes through the T.81 path to the closed forms") {
    for (id <- Seq(2L, 5L, 8L, 11L, 14L, 26L)) {
      val bytes = MediaSynth.aviMjpeg(id)
      val Some((w, h, frames)) = VideoFrames.decodeAviFrames(bytes)
      assert(w === 8 * MediaSynth.mjpegNbx(id))
      assert(h === 8 * MediaSynth.mjpegNby(id))
      assert(frames.length === MediaSynth.aviFrames(id))
      for (f <- frames.indices; y <- 0 until h; x <- 0 until w) {
        val px = frames(f)(y * w + x)
        val g = MediaSynth.mjpegGray(id, f, x / 8, y / 8)
        assert(px === ((0xff << 24) | (g << 16) | (g << 8) | g),
          s"id=$id f=$f ($x,$y)")
      }
    }
  }

  test("MJPEG with PROGRESSIVE frames: the codec composition is frame-format-agnostic") {
    for (id <- Seq(2L, 11L)) {
      val base = VideoFrames.decodeAviFrames(MediaSynth.aviMjpeg(id))
        .map { case (w, h, fr) => (w, h, fr.map(_.toSeq).toSeq) }
      val prog = VideoFrames.decodeAviFrames(
        MediaSynth.aviMjpegOf(MediaSynth.mjpegNbx(id), MediaSynth.mjpegNby(id),
          MediaSynth.aviFrames(id),
          (f, bx, by) => MediaSynth.mjpegGray(id, f, bx, by),
          progressiveFrames = true))
        .map { case (w, h, fr) => (w, h, fr.map(_.toSeq).toSeq) }
      assert(prog.isDefined && prog === base, s"id=$id")
    }
  }

  test("MJPEG malformed: truncation and a corrupted frame chunk decline whole") {
    val good = MediaSynth.aviMjpeg(7L)
    assert(VideoFrames.decodeAviFrames(good).isDefined)
    assert(VideoFrames.decodeAviFrames(good.take(80)).isEmpty)
    assert(VideoFrames.decodeAviFrames(good.dropRight(6)).isEmpty,
      "a short final JPEG chunk must decline, not mis-decode")
    // corrupt the first frame's SOI: the frame fails T.81 decode and
    // the whole clip declines to the stub path
    val dcAt = good.sliding(4).indexWhere(_.sameElements("00dc".getBytes))
    assert(dcAt > 0)
    val m = good.clone(); m(dcAt + 8) = 0x00
    assert(VideoFrames.decodeAviFrames(m).isEmpty)
  }

  test("MJPEG near-dup fixture: twins fold within the probe radius; truncated rows stub") {
    for (even <- Seq(0L, 2L, 8L, 16L)) {
      val he = VideoFrames.clipHash(VideoFrames.mjpegDedupPayload(even))
      val ho = VideoFrames.clipHash(VideoFrames.mjpegDedupPayload(even + 1))
      assert(java.lang.Long.bitCount(he ^ ho) <= 15, s"pair ($even,${even + 1})")
    }
    assert(VideoFrames.decodeAviFrames(
      VideoFrames.mjpegDedupPayload(5L)).isEmpty) // 5 % 7 == 5 -> stub
  }

  test("malformed AVIs decline: truncation, compression, wrong bpp") {
    val good = MediaSynth.avi(5L)
    assert(VideoFrames.decodeAviFrames(good).isDefined)
    // truncations (the fuzz spec walks every stride; spot-check here)
    assert(VideoFrames.decodeAviFrames(good.take(100)).isEmpty)
    assert(VideoFrames.decodeAviFrames(good.dropRight(10)).isEmpty,
      "a short final frame chunk must decline, not mis-decode")
    // flip the strf compression field (BI_RGB -> nonzero)
    def patch(at: Int): Array[Byte] = {
      val m = good.clone(); m(at) = 1; m
    }
    // locate strf body: find the 'strf' tag
    val strfAt = good.sliding(4).indexWhere(_.sameElements("strf".getBytes))
    assert(strfAt > 0)
    assert(VideoFrames.decodeAviFrames(patch(strfAt + 8 + 16)).isEmpty,
      "compressed streams must fall to the stub")
    assert(VideoFrames.decodeAviFrames(patch(strfAt + 8 + 14)).isEmpty,
      "non-24bpp must decline")
    // not an AVI at all
    assert(VideoFrames.decodeAviFrames("RIFFxxxxWAVE".getBytes).isEmpty)
  }

  test("multi-stream AVI: the vids strl's strf governs, whatever the stream order") {
    def le32(v: Int): Array[Byte] = Array((v & 0xff).toByte,
      ((v >> 8) & 0xff).toByte, ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def chunk(id: String, body: Array[Byte]): Array[Byte] =
      id.getBytes ++ le32(body.length) ++ body ++
        (if ((body.length & 1) == 1) Array(0.toByte) else Array.empty[Byte])
    def list(kind: String, four: String, body: Array[Byte]): Array[Byte] =
      kind.getBytes ++ le32(body.length + 4) ++ four.getBytes ++ body
    val w = 8; val h = 8; val n = 2
    val rowSize = ((24 * w + 31) / 32) * 4
    def gray(f: Int, x: Int, y: Int): Int = (f * 40 + y * 8 + x) % 256
    def frame(f: Int): Array[Byte] = {
      val fr = new Array[Byte](rowSize * h)
      for (row <- 0 until h; x <- 0 until w) {
        val v = gray(f, x, h - 1 - row).toByte // bottom-up storage
        val p = row * rowSize + x * 3
        fr(p) = v; fr(p + 1) = v; fr(p + 2) = v
      }
      fr
    }
    val avih = le32(100000) ++ le32(rowSize * h * 10) ++ le32(0) ++ le32(0) ++
      le32(n) ++ le32(0) ++ le32(2) ++ le32(rowSize * h) ++ le32(w) ++ le32(h) ++
      Array.fill[Byte](16)(0)
    def strh(fcc: String): Array[Byte] =
      fcc.getBytes ++ "xxxx".getBytes ++ le32(0) ++ le32(0) ++ le32(0) ++
        le32(1) ++ le32(10) ++ le32(0) ++ le32(n) ++ le32(rowSize * h) ++
        le32(-1) ++ le32(0) ++ le32(0) ++ le32((h << 16) | w)
    // audio strf bytes are garbage AS a BITMAPINFOHEADER (bpp field
    // 0x5555): binding it as the video format is exactly the bug
    val strlAud = list("LIST", "strl",
      chunk("strh", strh("auds")) ++ chunk("strf", Array.fill[Byte](20)(0x55)))
    val strfVid = le32(40) ++ le32(w) ++ le32(h) ++ Array[Byte](1, 0, 24, 0) ++
      le32(0) ++ le32(rowSize * h) ++ le32(0) ++ le32(0) ++ le32(0) ++ le32(0)
    val strlVid = list("LIST", "strl",
      chunk("strh", strh("vids")) ++ chunk("strf", strfVid))
    for (videoFirst <- Seq(true, false)) {
      val vidStream = if (videoFirst) 0 else 1
      val hdrl = list("LIST", "hdrl", chunk("avih", avih) ++
        (if (videoFirst) strlVid ++ strlAud else strlAud ++ strlVid))
      val db = f"$vidStream%02ddb"
      val movi = list("LIST", "movi",
        chunk(f"${1 - vidStream}%02dwb", Array.fill[Byte](6)(1)) ++
          chunk(db, frame(0)) ++ chunk(db, frame(1)))
      val payload = list("RIFF", "AVI ", hdrl ++ movi)
      val Some((dw, dh, frames)) = VideoFrames.decodeAviFrames(payload)
      assert((dw, dh, frames.length) === (w, h, 2), s"videoFirst=$videoFirst")
      for (f <- 0 until 2; y <- Seq(0, 3, 7); x <- Seq(0, 2, 7))
        assert(((frames(f)(y * w + x) >>> 16) & 0xff) === gray(f, x, y),
          s"videoFirst=$videoFirst f=$f ($x,$y)")
      // codec-compressed chunks ('..dc') are never raw pixels: a
      // compressed-only stream decodes no frames and falls to the stub
      val moviDc = list("LIST", "movi", chunk(f"$vidStream%02ddc", frame(0)))
      assert(VideoFrames.decodeAviFrames(
        list("RIFF", "AVI ", hdrl ++ moviDc)).isEmpty,
        s"videoFirst=$videoFirst: compressed stream must decline")
    }
  }

  test("thumbnails: the middle frame resized, digests match a driver composition") {
    val rep = VideoFrames.thumbnailReport(spark, sf()).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val vids = VideoFrames.aviTable(spark, sf()).collect()
    vids.foreach { m =>
      val (fi, ob, ps) = rep(m.media_id)
      if (MediaSynth.isReal(m.media_id)) {
        val Some((w, h, frames)) = VideoFrames.decodeAviFrames(m.media)
        assert(fi === (frames.length / 2).toLong)
        assert(ob === 86L)
        // driver re-derivation of the same middle-frame 4x4 digest
        val rz = ImageResize.resizePixels(w, h, frames(frames.length / 2), 4, 4)
        val want = rz.foldLeft(0L)((a, p) =>
          a + ((p >>> 16) & 0xff) + ((p >>> 8) & 0xff) + (p & 0xff))
        assert(ps === want)
      } else {
        assert((fi, ps) === ((-1L, -1L)))
        assert(ob === m.media.length.toLong)
      }
    }
  }

  test("temporal majority fingerprint: majority wins, order is irrelevant") {
    val w = 16; val h = 16
    def pattern(leftDark: Boolean): Array[Int] = Array.tabulate(w * h) { i =>
      val dark = (i % w < w / 2) == leftDark
      if (dark) (0xff << 24) else (0xff << 24) | 0xffffff
    }
    val a = pattern(leftDark = true); val b = pattern(leftDark = false)
    val Some(hashA) = ImageDedup.aHash64(w, h, a)
    // 2-of-3 majority takes A's hash; a permutation folds identically
    val Some(maj) = VideoFrames.videoHash(w, h, Array(a, a, b))
    assert(maj === hashA)
    val Some(maj2) = VideoFrames.videoHash(w, h, Array(b, a, a))
    assert(maj2 === maj)
    // single frame = its own aHash; no 8x8-capable frames = None
    assert(VideoFrames.videoHash(w, h, Array(b)) === ImageDedup.aHash64(w, h, b))
    assert(VideoFrames.videoHash(4, 4, Array(Array.fill(16)(0xff000000))).isEmpty)
  }

  test("clip fingerprint: real AVIs fold their frame aHashes, fakes take the byte hash") {
    for (id <- Seq(2L, 8L, 20L)) {
      val bytes = MediaSynth.avi(id)
      val Some((w, h, frames)) = VideoFrames.decodeAviFrames(bytes)
      assert(VideoFrames.clipHash(bytes) ===
        VideoFrames.videoHash(w, h, frames).get)
    }
    val fake = "not a video at all".getBytes
    assert(VideoFrames.clipHash(fake) === ImageDedup.stubImageHash(fake))
  }

  test("gate dump: every video row fingerprinted, both hash paths crossed") {
    VideoFrames.videoDedup(spark, sf()).collect() // force + dump
    val dumped = spark.read.parquet(VideoFrames.dumpPath(new File(sf()).getName))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val vids = VideoFrames.aviTable(spark, sf()).collect()
    assert(dumped.size === vids.length)
    var nReal = 0; var nFake = 0
    vids.foreach { m =>
      assert(dumped(m.media_id) === VideoFrames.clipHash(m.media))
      if (MediaSynth.isReal(m.media_id)) nReal += 1 else nFake += 1
    }
    assert(nReal >= nFake && nFake > 0)
  }

  test("gate surface: real rows cross the frame decode, fakes report passthrough") {
    val rep = VideoFrames.videoFrameReport(spark, sf()).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    val vids = VideoFrames.aviTable(spark, sf()).collect()
    assert(rep.size === vids.length)
    var nReal = 0; var nFake = 0
    vids.foreach { m =>
      val (w, nf, bl, ps) = rep(m.media_id)
      assert(bl === m.media.length.toLong)
      if (MediaSynth.isReal(m.media_id)) {
        nReal += 1
        assert(w === MediaSynth.aviWidth(m.media_id).toLong)
        assert(nf === MediaSynth.aviFrames(m.media_id).toLong)
        assert(ps >= 0L)
      } else {
        nFake += 1
        assert((w, nf, ps) === ((0L, 0L, -1L)))
      }
    }
    assert(nReal >= nFake && nFake > 0,
      s"gate must cross both paths: real=$nReal fake=$nFake")
  }
}
