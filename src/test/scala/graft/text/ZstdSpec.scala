package graft.text

import org.scalatest.funsuite.AnyFunSuite

/** Zstd decoder vs the REAL zstd CLI (v1.5.7): the committed
  * `zstd_vectors/` frames were produced by the reference
  * implementation over seven payload shapes at levels 1/3/19
  * (different match finders, table modes, block layouts) — a foreign
  * encoder a mirrored convention cannot fool. Payloads are
  * re-derived here so only the compressed bytes are committed.
  * Plus: skippable frames, multi-frame concatenation, checksum
  * rejection, truncation/mutation totality. */
class ZstdSpec extends AnyFunSuite {

  private def lcg(n: Int, seed0: Long = 12345L): Array[Byte] = {
    var x = seed0
    Array.fill(n) {
      x = x * 6364136223846793005L + 1442695040888963407L
      ((x >>> 33) & 0xff).toByte
    }
  }

  /** The exact payloads the vectors were generated from. */
  private val payloads: Map[String, Array[Byte]] = Map(
    "empty" -> Array.emptyByteArray,
    "hello" -> "hello zstd\n".getBytes("UTF-8"),
    "fox" -> ("the quick brown fox jumps over the lazy dog. " * 100)
      .getBytes("UTF-8"),
    "rand10k" -> lcg(10000),
    "period" -> Array.tabulate(20000)(i => ((i * 7) % 26 + 97).toByte),
    "big" -> ("abcdefgh" * 40000).getBytes("UTF-8"),
    "words" -> (0 until 5000).map(i => "w" + (i % 37) + " ").mkString
      .getBytes("UTF-8"))

  private def vector(name: String): Array[Byte] = {
    val in = getClass.getResourceAsStream(s"/zstd_vectors/$name")
    assert(in != null, s"missing vector $name")
    try in.readAllBytes() finally in.close()
  }

  test("foreign vectors: every CLI-produced frame decodes byte-exact") {
    for (name <- payloads.keys; suffix <- Seq("l1", "l3", "l19", "l3nc")) {
      val z = vector(s"${name}_$suffix.zst")
      val got = Zstd.decompress(z)
      assert(got.isDefined, s"$name $suffix must decode")
      assert(java.util.Arrays.equals(got.get, payloads(name)),
        s"$name $suffix content")
    }
  }

  test("multi-frame concatenation decodes as the concatenated payload") {
    val got = Zstd.decompress(vector("multiframe.zst"))
    assert(got.isDefined)
    assert(java.util.Arrays.equals(got.get,
      payloads("fox") ++ payloads("hello")))
  }

  test("skippable frames are skipped wherever they sit") {
    def skippable(n: Int): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      def le32(v: Long): Unit =
        for (i <- 0 until 4) out.write(((v >> (8 * i)) & 0xff).toInt)
      le32(0x184d2a53L); le32(n)
      for (i <- 0 until n) out.write(i & 0xff)
      out.toByteArray
    }
    val z = vector("hello_l3.zst")
    for (bytes <- Seq(skippable(0) ++ z, z ++ skippable(17),
      skippable(5) ++ z ++ skippable(9))) {
      val got = Zstd.decompress(bytes)
      assert(got.isDefined)
      assert(java.util.Arrays.equals(got.get, payloads("hello")))
    }
  }

  test("content checksum: a corrupted payload byte is caught") {
    // flip one byte INSIDE the compressed body of a checksummed frame;
    // every outcome must be None or a wrong-but-caught decode — with
    // the xxh64 check, a silent wrong answer means the checksum path
    // is broken. Use the rand10k vector (incompressible -> raw-ish
    // blocks -> flips often still parse structurally).
    val z = vector("rand10k_l3.zst")
    var caught = 0; var total = 0
    for (p <- 12 until math.min(z.length - 4, 200)) {
      val m = z.clone(); m(p) = (m(p) ^ 0x41).toByte
      total += 1
      Zstd.decompress(m) match {
        case None => caught += 1
        case Some(out) =>
          assert(java.util.Arrays.equals(out, payloads("rand10k")),
            s"flip@$p decoded to a WRONG payload the checksum missed")
      }
    }
    assert(caught > total / 2, s"checksum/structure must catch most flips: $caught/$total")
  }

  test("truncation at every prefix length returns None, never throws") {
    for (name <- Seq("fox_l3.zst", "words_l19.zst", "hello_l1.zst")) {
      val z = vector(name)
      for (n <- 0 until z.length)
        assert(Zstd.decompress(java.util.Arrays.copyOf(z, n)).isEmpty,
          s"$name prefix $n")
    }
    // two frames: only the cut on the frame boundary is a complete stream
    val multi = vector("multiframe.zst")
    val boundary = multi.length - vector("hello_l3.zst").length
    assert(multi.length === 94 && boundary === 70, "fixture: fox then hello")
    for (n <- 0 until multi.length) {
      val got = Zstd.decompress(java.util.Arrays.copyOf(multi, n))
      if (n == boundary) assert(got.map(_.toSeq) === Some(payloads("fox").toSeq))
      else assert(got.isEmpty, s"multiframe.zst prefix $n")
    }
  }

  test("single-byte corruptions decode or decline, never throw") {
    for (name <- Seq("fox_l3.zst", "period_l19.zst", "big_l1.zst")) {
      val z = vector(name)
      val stride = math.max(1, z.length / 257)
      var p = 0
      while (p < z.length) {
        val m = z.clone(); m(p) = (m(p) ^ 0x40).toByte
        Zstd.decompress(m) // totality
        p += stride
      }
    }
  }

  test("random blobs and magic-prefixed garbage are total") {
    val magic = Array[Byte](0x28, 0xb5.toByte, 0x2f, 0xfd.toByte)
    for (i <- 0 until 200) {
      val blob = lcg(1 + (i * 37) % 512, i + 7L)
      assert(Zstd.decompress(blob).isEmpty || blob.length >= 4)
      Zstd.decompress(magic ++ blob) // totality
    }
  }

  test("compress: roundtrip through our decoder across every payload shape") {
    for ((name, data) <- payloads) {
      val z = Zstd.compress(data)
      val got = Zstd.decompress(z)
      assert(got.isDefined, s"compress($name) must decode")
      assert(java.util.Arrays.equals(got.get, data), s"$name roundtrip")
    }
    // multi-block frames: content crossing the 64 KiB chunk boundary
    // with cross-chunk matches and threaded repcodes
    val big = ("xyzw" * 40000).getBytes // 160 KB, 3 blocks
    assert(java.util.Arrays.equals(
      Zstd.decompress(Zstd.compress(big)).get, big))
  }

  test("compress: frames verify under the REFERENCE CLI when present (foreign differential)") {
    val cli = new java.io.File("/root/miniconda/bin/zstd")
    assume(cli.canExecute, "reference zstd CLI not on this box")
    for ((name, data) <- payloads if data.nonEmpty) {
      val zf = java.io.File.createTempFile(s"graft_$name", ".zst")
      try {
        val fos = new java.io.FileOutputStream(zf)
        try fos.write(Zstd.compress(data)) finally fos.close()
        val proc = new ProcessBuilder(cli.getPath, "-d", "-c", zf.getPath)
          .redirectErrorStream(false).start()
        val out = proc.getInputStream.readAllBytes()
        assert(proc.waitFor() === 0, s"$name: reference CLI rejected our frame")
        assert(java.util.Arrays.equals(out, data), s"$name: CLI decode differs")
      } finally { zf.delete(); () }
    }
  }

  test("zstd-jni decodes our frames: 30 randomized payload shapes") {
    // structured/random/repetitive payloads through our encoder, decoded
    // by the reference library on the Spark classpath
    for (i <- 0 until 30) {
      val payload = (i % 3) match {
        case 0 => lcg(1 + (i * 173) % 6000, i + 1L) // incompressible
        case 1 => // repetitive with period drift
          Array.tabulate(200 + i * 97)(k => ((k * (2 + i % 7)) % 26 + 97).toByte)
        case _ => // word soup
          (0 until 300 + i * 13).map(k => "t" + ((k * 31 + i) % 53) + " ")
            .mkString.getBytes("UTF-8")
      }
      val back = com.github.luben.zstd.Zstd.decompress(Zstd.compress(payload),
        payload.length max 1)
      assert(java.util.Arrays.equals(back, payload),
        s"i=$i: zstd-jni rejected or mis-decoded our frame")
    }
  }

  test("bomb guard: output past the ceiling declines instead of allocating") {
    // big payload with a tiny maxLen cap
    assert(Zstd.decompress(vector("big_l3.zst"), maxLen = 1024).isEmpty)
  }

  test("dictionaries decline (documented boundary)") {
    // hand-build a frame header with Dictionary_ID_flag = 1, DID = 7
    val b = Array[Byte](0x28, 0xb5.toByte, 0x2f, 0xfd.toByte,
      0x01, // FHD: did flag 1
      0x00, // window descriptor
      0x07, // dictionary id 7
      0x01, 0x00, 0x00) // last raw block, size 0
    assert(Zstd.decompress(b).isEmpty)
  }
}
