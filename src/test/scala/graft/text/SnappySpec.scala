package graft.text

import org.scalatest.funsuite.AnyFunSuite

/** Snappy codec vs the REFERENCE implementation (snappy-java, on the
  * Spark classpath): their raw blocks through our decoder byte-exact,
  * ours through their `Snappy.uncompress` — plus the framing format's
  * chunk walk, CRC rejection and totality. */
class SnappySpec extends AnyFunSuite {

  private def lcg(n: Int, seed0: Long = 991L): Array[Byte] = {
    var x = seed0
    Array.fill(n) {
      x = x * 6364136223846793005L + 1442695040888963407L
      ((x >>> 33) & 0xff).toByte
    }
  }

  private def payloads: Seq[(String, Array[Byte])] = Seq(
    "empty" -> Array.emptyByteArray,
    "tiny" -> "sz".getBytes,
    "fox" -> ("the quick brown fox jumps over the lazy dog. " * 110).getBytes,
    "rand" -> lcg(8000),
    "period" -> Array.tabulate(15000)(i => ((i * 3) % 26 + 97).toByte),
    "big" -> ("abcdefgh" * 25000).getBytes, // crosses the 64 KiB frame chunk
    "words" -> (0 until 3500).map(i => "w" + (i % 43) + " ").mkString.getBytes)

  test("reference raw blocks (snappy-java) decode byte-exact") {
    for ((name, data) <- payloads) {
      val foreign = org.xerial.snappy.Snappy.compress(data)
      val got = Snappy.decompress(foreign)
      assert(got.isDefined, s"$name must decode")
      assert(java.util.Arrays.equals(got.get, data), s"$name content")
    }
  }

  test("our raw blocks decode byte-exact under the reference Snappy.uncompress") {
    for ((name, data) <- payloads) {
      val ours = Snappy.compress(data)
      assert(java.util.Arrays.equals(Snappy.decompress(ours).get, data),
        s"$name self roundtrip")
      val back = org.xerial.snappy.Snappy.uncompress(ours)
      assert(java.util.Arrays.equals(back, data),
        s"$name: reference decoder disagrees on our block")
    }
  }

  test("randomized shapes differential, both directions") {
    for (i <- 0 until 60) {
      val data = (i % 3) match {
        case 0 => lcg(1 + i * 113, i + 1L)
        case 1 => Array.tabulate(100 + i * 77)(k => ((k * (1 + i % 9)) % 26 + 97).toByte)
        case _ => (0 until 50 + i * 11).map(k => "t" + ((k * 13 + i) % 37)).mkString(" ").getBytes
      }
      assert(java.util.Arrays.equals(
        Snappy.decompress(org.xerial.snappy.Snappy.compress(data)).get, data), s"i=$i fwd")
      assert(java.util.Arrays.equals(
        org.xerial.snappy.Snappy.uncompress(Snappy.compress(data)), data), s"i=$i rev")
    }
  }

  test("framing format: chunk walk, mixed chunk types, CRC catches flips") {
    for ((name, data) <- payloads) {
      val framed = Snappy.compressFramed(data)
      val got = Snappy.decompress(framed)
      assert(got.isDefined && java.util.Arrays.equals(got.get, data), s"$name framed")
    }
    // hand-build a frame mixing uncompressed/padding/skippable chunks
    val out = new java.io.ByteArrayOutputStream()
    out.write(Array[Byte](0xff.toByte, 0x06, 0, 0, 's', 'N', 'a', 'P', 'p', 'Y'), 0, 10)
    val seg = "mixed chunk test".getBytes
    val c = new java.util.zip.CRC32C; c.update(seg, 0, seg.length)
    val crc = ((((c.getValue.toInt >>> 15) | (c.getValue.toInt << 17)) + 0xa282ead8) & 0xffffffffL)
    out.write(0x01); val l = 4 + seg.length
    out.write(l & 0xff); out.write((l >> 8) & 0xff); out.write((l >> 16) & 0xff)
    for (i <- 0 until 4) out.write(((crc >> (8 * i)) & 0xff).toInt)
    out.write(seg, 0, seg.length)
    out.write(0xfe); out.write(3); out.write(0); out.write(0) // padding
    out.write(0); out.write(0); out.write(0)
    out.write(0x90); out.write(2); out.write(0); out.write(0) // skippable
    out.write(7); out.write(7)
    val mixed = out.toByteArray
    assert(new String(Snappy.decompress(mixed).get) === "mixed chunk test")
    // CRC flip is caught
    val bad = mixed.clone(); bad(14) = (bad(14) ^ 1).toByte
    assert(Snappy.decompress(bad).isEmpty)
    // reserved unskippable chunk rejects
    val res = mixed.clone(); res(10) = 0x02
    assert(Snappy.decompress(res).isEmpty)
  }

  test("long incompressible literals: the 3- and 4-byte length forms (code-review r15)") {
    // > 64 KiB of incompressible bytes forces one literal run past the
    // 2-byte length form; the old encoder silently truncated the length
    val big3 = lcg(70000, 17L)
    assert(java.util.Arrays.equals(Snappy.decompress(Snappy.compress(big3)).get, big3))
    assert(java.util.Arrays.equals(
      org.xerial.snappy.Snappy.uncompress(Snappy.compress(big3)), big3))
    // and past 16 MiB - the 4-byte form (one doc, kept under the bomb guard)
    val big4 = lcg((1 << 24) + 99, 23L)
    assert(java.util.Arrays.equals(
      Snappy.decompress(Snappy.compress(big4), maxLen = 32 * 1024 * 1024).get, big4))
  }

  test("truncation and random blobs are total; bomb guard") {
    val z = Snappy.compressFramed(("prefix " * 300).getBytes)
    for (n <- 0 until z.length)
      Snappy.decompress(java.util.Arrays.copyOf(z, n)) // totality
    val r = Snappy.compress(("prefix " * 300).getBytes)
    for (n <- 0 until r.length)
      Snappy.decompress(java.util.Arrays.copyOf(r, n)) // totality
    for (i <- 0 until 150) Snappy.decompress(lcg(1 + (i * 67) % 400, i + 5L))
    assert(Snappy.decompress(Snappy.compress(("y" * 90000).getBytes),
      maxLen = 512).isEmpty)
  }

  test("a raw block declaring more than maxLen declines before decoding") {
    // varint preamble for 2^30 bytes, then one valid 4-byte literal:
    // only the declared length can make this decline
    val declared = Array[Byte](0x80.toByte, 0x80.toByte, 0x80.toByte, 0x80.toByte, 0x04)
    val body = Array[Byte](3 << 2, 'a', 'b', 'c', 'd')
    assert(Snappy.decompress(declared ++ body, maxLen = 1 << 20).isEmpty)
    // a preamble that never ends (six continuation bytes) declines too
    assert(Snappy.decompress(Array.fill[Byte](6)(0x80.toByte) ++ body).isEmpty)
    // the same literal under a preamble that declares it exactly decodes,
    // with a copy window sized to the 4 declared bytes
    assert(new String(Snappy.decompress(Array[Byte](4) ++ body).get) === "abcd")
    // a copy reaching back past the start of a small block declines
    val farCopy = Array[Byte](8, 3 << 2, 'a', 'b', 'c', 'd', ((4 - 1) << 2 | 2).toByte, 9, 0)
    assert(Snappy.decompress(farCopy).isEmpty)
    val nearCopy = Array[Byte](8, 3 << 2, 'a', 'b', 'c', 'd', ((4 - 1) << 2 | 2).toByte, 4, 0)
    assert(new String(Snappy.decompress(nearCopy).get) === "abcdabcd")
  }
}
