package graft.text

import org.scalatest.funsuite.AnyFunSuite

/** Zstd DICTIONARY frames (RFC 8878 §5) — foreign-pinned BOTH
  * directions against the reference CLI (v1.5.7):
  *
  *  - `zstd_vectors/dict/graft.dict` was trained by the REAL CLI
  *    (`zstd --train`, 24 samples, 16 KiB) and the committed
  *    `s*.zst` frames were compressed by it with `-D` — our
  *    [[Zstd.parseDictionary]] + dictionary decode must reproduce
  *    every payload byte-exactly (levels 3 and 19);
  *  - our [[Zstd.buildDictionary]] output and
  *    [[Zstd.compress(content,dict)*]] frames must decode under the
  *    reference CLI with `-D` (run live when the CLI is present).
  *
  * Plus decline-paths: unresolvable dictionary IDs, corrupted
  * dictionaries, truncation totality. */
class ZstdDictSpec extends AnyFunSuite {

  private def vec(name: String): Array[Byte] = {
    val in = getClass.getResourceAsStream(s"/zstd_vectors/dict/$name")
    assert(in != null, s"missing vector $name")
    try in.readAllBytes() finally in.close()
  }

  private lazy val cliDictBytes = vec("graft.dict")
  private lazy val cliDict = {
    val d = Zstd.parseDictionary(cliDictBytes)
    assert(d.isDefined, "CLI-trained dictionary must parse")
    d.get
  }

  test("the CLI-trained dictionary parses: id, entropy tables, content") {
    assert(cliDict.dictId === 0x738134aaL) // bytes 4-8 of graft.dict, LE
    assert(cliDict.contentSize > 0 && cliDict.contentSize < 16384)
  }

  test("FOREIGN VECTORS: CLI dict-compressed frames decode byte-exact") {
    val dicts = Map(cliDict.dictId -> cliDict)
    val cases = Seq("s00", "s03", "s07", "s11", "s15", "s19", "s23")
      .map(n => (s"$n.zst", s"$n.txt")) :+ (("s01_l19.zst", "s01.txt"))
    for ((zName, tName) <- cases) {
      val got = Zstd.decompress(vec(zName), 64 * 1024 * 1024, dicts)
      assert(got.isDefined, s"$zName must decode with the dictionary")
      assert(java.util.Arrays.equals(got.get, vec(tName)), s"$zName payload")
    }
  }

  test("a dictionary frame DECLINES without its dictionary (no guessing)") {
    assert(Zstd.decompress(vec("s00.zst")) === None)
    // and with the WRONG dictionary id in the map
    val wrong = Map(999L -> cliDict)
    assert(Zstd.decompress(vec("s00.zst"), 64 * 1024 * 1024, wrong) === None)
  }

  test("one Decoder over many inputs answers as one-shot decompress does") {
    // a held context must not carry a dictionary, a failed frame or a
    // short output buffer from one input into the next
    val dicts = Map(cliDict.dictId -> cliDict)
    val plain = Zstd.compress(("plain text " * 500).getBytes("UTF-8"))
    val inputs = Seq(
      (vec("s00.zst"), dicts), (plain, dicts), (vec("s00.zst"), Map.empty[Long, Zstd.Dict]),
      (java.util.Arrays.copyOf(plain, plain.length / 2), dicts), (plain, Map.empty[Long, Zstd.Dict]),
      (vec("s07.zst"), dicts), (Array.empty[Byte], dicts), (vec("s01_l19.zst"), dicts))
    val d = new Zstd.Decoder
    try for (((b, ds), i) <- inputs.zipWithIndex) {
      val want = Zstd.decompress(b, 64 * 1024 * 1024, ds).map(_.toSeq)
      assert(d.decompress(b, 64 * 1024 * 1024, ds).map(_.toSeq) === want, s"input $i")
    } finally d.close()
  }

  test("built dictionary: parse roundtrip, then compress/decompress with it") {
    val samples = (0 until 8).map(i =>
      (s"sample $i " + "spark window merge query " * 40).getBytes("UTF-8"))
    val dictBytes = Zstd.buildDictionary(samples, id = 0x47524654L) // "GRFT"
    val d = Zstd.parseDictionary(dictBytes)
    assert(d.isDefined)
    assert(d.get.dictId === 0x47524654L)
    val dicts = Map(d.get.dictId -> d.get)
    for (text <- Seq("", "spark window merge query spark window",
      "completely novel content the dictionary never saw",
      ("spark window merge query " * 5000))) { // multi-block
      val raw = text.getBytes("UTF-8")
      val z = Zstd.compress(raw, d.get)
      // the frame references the dictionary: plain decode declines …
      if (raw.length > 0) assert(Zstd.decompress(z) === None, "must require dict")
      // … and dictionary decode reproduces the content
      val got = Zstd.decompress(z, 64 * 1024 * 1024, dicts)
      assert(got.isDefined, s"len=${raw.length}")
      assert(java.util.Arrays.equals(got.get, raw))
    }
  }

  test("dictionary matches actually reach into the content prefix") {
    // content that exists ONLY in the dictionary: a correct encoder
    // finds the cross-boundary match and a correct decoder resolves
    // it from the virtual past; sizes prove the match fired
    val shared = ("unique dictionary phrase alpha beta gamma delta " * 20).getBytes
    val dictBytes = Zstd.buildDictionary(Seq(shared), id = 7L)
    val d = Zstd.parseDictionary(dictBytes).get
    val z = Zstd.compress(shared, d)
    val plain = Zstd.compress(shared)
    assert(z.length < plain.length,
      s"dict frame (${z.length}) should beat plain (${plain.length}) " +
        "on dictionary-resident content")
    assert(java.util.Arrays.equals(
      Zstd.decompress(z, 64 * 1024 * 1024, Map(7L -> d)).get, shared))
  }

  test("REFERENCE CLI decodes our dictionary frames (both-directions pin)") {
    val cli = new java.io.File("/root/miniconda/bin/zstd")
    assume(cli.canExecute, "reference zstd CLI not on this box")
    val samples = (0 until 8).map(i =>
      (s"sample $i " + "spark window merge query " * 40).getBytes("UTF-8"))
    val dictBytes = Zstd.buildDictionary(samples, id = 0x47524654L)
    val d = Zstd.parseDictionary(dictBytes).get
    val dictFile = java.io.File.createTempFile("graft_built", ".dict")
    try {
      val fos = new java.io.FileOutputStream(dictFile)
      try fos.write(dictBytes) finally fos.close()
      for (text <- Seq("spark window merge query spark window merge",
        "novel text with dictionary words spark query window",
        ("spark window merge query " * 3000))) {
        val raw = text.getBytes("UTF-8")
        val zf = java.io.File.createTempFile("graft_dictframe", ".zst")
        try {
          val zfos = new java.io.FileOutputStream(zf)
          try zfos.write(Zstd.compress(raw, d)) finally zfos.close()
          val proc = new ProcessBuilder(cli.getPath, "-d", "-c",
            "-D", dictFile.getPath, zf.getPath)
            .redirectErrorStream(false).start()
          val out = proc.getInputStream.readAllBytes()
          assert(proc.waitFor() === 0, "reference CLI rejected our dict frame")
          assert(java.util.Arrays.equals(out, raw), "CLI decode differs")
        } finally { zf.delete(); () }
      }
    } finally { dictFile.delete(); () }
  }

  test("corrupted dictionaries decline: magic, id 0, truncation, repcodes") {
    assert(Zstd.parseDictionary(Array.empty[Byte]) === None)
    val m = cliDictBytes.clone(); m(0) = 0x38
    assert(Zstd.parseDictionary(m) === None)
    val z = cliDictBytes.clone()
    z(4) = 0; z(5) = 0; z(6) = 0; z(7) = 0 // dictionary ID 0
    assert(Zstd.parseDictionary(z) === None)
    for (n <- 0 until cliDictBytes.length by 7)
      Zstd.parseDictionary(java.util.Arrays.copyOf(cliDictBytes, n)) // totality
  }

  test("ncount roundtrip: the dictionary writer's FSE headers re-parse") {
    // buildDictionary serializes the predefined distributions as
    // explicit NCount tables; parseDictionary must read back the
    // exact counts (the CLI pin above proves the bit layout is the
    // reference one — this pins the pair against each other too)
    val dictBytes = Zstd.buildDictionary(
      Seq(("the lazy dog " * 100).getBytes), id = 3L)
    assert(Zstd.parseDictionary(dictBytes).isDefined)
  }
}
