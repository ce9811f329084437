package graft.text

import org.apache.commons.compress.compressors.snappy.{FramedSnappyCompressorInputStream,
  FramedSnappyDialect, SnappyCompressorInputStream}

/** Snappy (google/snappy format_description.txt + framing_format.txt):
  * the block compression Parquet pages, Kafka batches and Hadoop
  * files carry.
  *
  * [[decompress]] sniffs the framing format's sNaPpY stream identifier
  * and decodes with commons-compress's pure-Java readers: the framed
  * reader verifies each chunk's masked CRC32C, skips padding and
  * skippable chunks and rejects reserved unskippable ones; a raw block
  * must fill exactly its varint-declared length from exactly the input,
  * and a declared length past `maxLen` declines before any decode.
  * Copy offsets reach back at most 64 KiB, the block size every snappy
  * writer (this one included) compresses in, and never past the start
  * of the block: a raw block's copy window is its declared length,
  * capped at 64 KiB. Same totality contract as [[Zstd]]/[[Lz4]].
  *
  * The compressor emits raw blocks (greedy hash-table matches,
  * 2-byte-offset copies) and [[compressFramed]] wraps them in
  * checksummed frames; snappy-java's `Snappy.uncompress` decodes the
  * raw blocks byte-exact (SnappySpec). */
object Snappy {

  private val MaxBytes = 64 * 1024 * 1024
  private val Window = 1 << 16

  private val FrameMagic: Array[Byte] =
    Array[Byte](0xff.toByte, 0x06, 0x00, 0x00, 's', 'N', 'a', 'P', 'p', 'Y')

  /** Sniff framed vs raw and decode; None on anything malformed. */
  def decompress(b: Array[Byte], maxLen: Int = MaxBytes): Option[Array[Byte]] =
    try {
      val in = new java.io.ByteArrayInputStream(b)
      if (b.length >= 10 && java.util.Arrays.equals(b, 0, 10, FrameMagic, 0, 10))
        CompressedIngest.readAtMost(new FramedSnappyCompressorInputStream(
          in, Window, FramedSnappyDialect.STANDARD), maxLen)
      else declaredLength(b).filter(_ <= maxLen).flatMap { n =>
        // the reader allocates three windows; a copy cannot reach back
        // further than the bytes the block declares
        val raw = new SnappyCompressorInputStream(in, math.max(1L, math.min(n, Window)).toInt)
        CompressedIngest.readAtMost(raw, maxLen)
          .filter(out => out.length == n && in.available == 0)
      }
    } catch { case _: java.io.IOException | _: RuntimeException => None }

  /** A raw block's varint preamble: its uncompressed length, or None
    * when the preamble is cut short or longer than five bytes. */
  private def declaredLength(b: Array[Byte]): Option[Long] = {
    var n = 0L
    var i = 0
    while (i < 5 && i < b.length) {
      val c = b(i) & 0xff
      n |= (c & 0x7fL) << (7 * i)
      if ((c & 0x80) == 0) return Some(n)
      i += 1
    }
    None
  }

  /** CRC32C masked per the framing spec. */
  private def maskedCrc(b: Array[Byte], off: Int, len: Int): Long = {
    val c = new java.util.zip.CRC32C
    c.update(b, off, len)
    val crc = c.getValue.toInt
    (((crc >>> 15) | (crc << 17)) + 0xa282ead8) & 0xffffffffL
  }

  // ════════════════════════════ encoder ═══════════════════════════

  /** Raw snappy block: greedy hash-table matches with 2-byte-offset
    * copies (≤ 64 bytes per op, the canonical emission). snappy-java's
    * `Snappy.uncompress` decodes these byte-exact (SnappySpec). */
  def compress(content: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(content.length / 2 + 32)
    // varint preamble
    var v = content.length
    while ((v & ~0x7f) != 0) { out.write((v & 0x7f) | 0x80); v >>>= 7 }
    out.write(v)
    def literal(from: Int, len: Int): Unit = {
      if (len == 0) return
      val l = len - 1
      if (l < 60) out.write(l << 2)
      else if (l < 256) { out.write(60 << 2); out.write(l) }
      else if (l < 65536) {
        out.write(61 << 2); out.write(l & 0xff); out.write(l >> 8)
      } else if (l < (1 << 24)) { // 3-byte form: >64 KiB literal runs
        out.write(62 << 2)
        out.write(l & 0xff); out.write((l >> 8) & 0xff); out.write(l >> 16)
      } else { // 4-byte form
        out.write(63 << 2)
        out.write(l & 0xff); out.write((l >> 8) & 0xff)
        out.write((l >> 16) & 0xff); out.write(l >>> 24)
      }
      out.write(content, from, len)
    }
    def copy2(offset: Int, len: Int): Unit = { // 1 <= len <= 64
      out.write(((len - 1) << 2) | 2)
      out.write(offset & 0xff); out.write((offset >> 8) & 0xff)
    }
    val table = new Array[Int](1 << 14)
    def hash4(p: Int): Int = {
      val x = (content(p) & 0xff) | ((content(p + 1) & 0xff) << 8) |
        ((content(p + 2) & 0xff) << 16) | ((content(p + 3) & 0xff) << 24)
      (x * 0x9e3779b1) >>> 18
    }
    var anchor = 0
    var p = 0
    while (p + 4 <= content.length) {
      val h = hash4(p)
      val cand = table(h) - 1
      table(h) = p + 1
      if (cand >= 0 && cand < p && p - cand <= 65535 &&
        content(cand) == content(p) && content(cand + 1) == content(p + 1) &&
        content(cand + 2) == content(p + 2) && content(cand + 3) == content(p + 3)) {
        var mLen = 4
        while (p + mLen < content.length &&
          content(cand + mLen) == content(p + mLen)) mLen += 1
        literal(anchor, p - anchor)
        val offset = p - cand
        var rest = mLen
        while (rest > 64) { copy2(offset, 64); rest -= 64 }
        copy2(offset, rest)
        p += mLen
        anchor = p
      } else p += 1
    }
    literal(anchor, content.length - anchor)
    out.toByteArray
  }

  /** The framing format (.sz): stream identifier + one compressed
    * chunk per ≤ 65536-byte segment (masked CRC32C of the
    * uncompressed data). */
  def compressFramed(content: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(content.length / 2 + 64)
    out.write(FrameMagic, 0, FrameMagic.length)
    var off = 0
    while (off < content.length || (off == 0 && content.length == 0)) {
      val end = math.min(off + 65536, content.length)
      val seg = java.util.Arrays.copyOfRange(content, off, end)
      val body = compress(seg)
      val crc = maskedCrc(seg, 0, seg.length)
      val chunkLen = 4 + body.length
      out.write(0x00)
      out.write(chunkLen & 0xff); out.write((chunkLen >> 8) & 0xff)
      out.write((chunkLen >> 16) & 0xff)
      for (i <- 0 until 4) out.write(((crc >> (8 * i)) & 0xff).toInt)
      out.write(body, 0, body.length)
      off = end
      if (content.length == 0) off = 1 // emitted the single empty chunk
    }
    out.toByteArray
  }
}
