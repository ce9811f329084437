package graft.text

import org.apache.commons.compress.compressors.lz4.FramedLZ4CompressorInputStream

/** LZ4 frames (the LZ4 block + frame format specifications, lz4.org):
  * the compression Kafka topics, Hadoop sequence files and
  * `.jsonl.lz4` shards actually carry.
  *
  * Decode runs on commons-compress's pure-Java frame reader (header,
  * block and content checksums verified; linked and independent
  * blocks; dictionary IDs and the legacy 0x184C2102 format decline)
  * behind a walk over the concatenated frames: skippable frames
  * (0x184D2A50-5F) are skipped, the input must end on a complete
  * frame, and a frame whose declared content size is past `maxLen`
  * declines before any decode or, when it disagrees with the decoded
  * length, after it. Same decode-or-reject totality contract as
  * [[Zstd]] (Lz4Spec fuzzes it).
  *
  * The compressor emits conforming frames (block-independent, greedy
  * hash-table match search honoring the end-of-block rules: last 5
  * bytes literal, no match starting within the last 12) with content
  * size + content checksum; lz4-java's `LZ4FrameInputStream` decodes
  * them byte-exact (Lz4Spec). */
object Lz4 {

  private val MaxBytes = 64 * 1024 * 1024

  /** The frame checksums' hash (xxHash32, seed 0). */
  private val Xxh32 = net.jpountz.xxhash.XXHashFactory.safeInstance().hash32()

  private def le(b: Array[Byte], p: Int, n: Int): Long =
    (0 until n).foldLeft(0L)((v, i) => v | ((b(p + i) & 0xffL) << (8 * i)))

  def decompress(b: Array[Byte], maxLen: Int = MaxBytes): Option[Array[Byte]] = {
    if (b.isEmpty) return None
    val out = new java.io.ByteArrayOutputStream()
    var p = 0
    try {
      while (p < b.length) {
        if ((le(b, p, 4) & 0xfffffff0L) == 0x184d2a50L) { // skippable frame
          val size = le(b, p + 4, 4)
          if (size > b.length - p - 8L) return None
          p += 8 + size.toInt
        } else {
          val room = maxLen - out.size
          // FLG bit 3: an 8-byte content size follows the BD byte
          val declared = if ((b(p + 4) & 0x08) != 0) le(b, p + 6, 8) else -1L
          if (declared > room || declared < -1) return None
          val in = new java.io.ByteArrayInputStream(b, p, b.length - p)
          CompressedIngest.readAtMost(new FramedLZ4CompressorInputStream(in, false), room) match {
            case Some(frame) if declared < 0 || frame.length == declared =>
              out.write(frame, 0, frame.length)
            case _ => return None
          }
          p = b.length - in.available
        }
      }
      Some(out.toByteArray)
    } catch { case _: java.io.IOException | _: RuntimeException => None }
  }

  // ════════════════════════════ encoder ═══════════════════════════

  /** One conforming frame: block-independent 64 KiB blocks, content
    * size + content checksum, greedy hash-table matches honoring the
    * end-of-block rules. lz4-java's LZ4FrameInputStream decodes these
    * byte-exact (Lz4Spec). */
  def compress(content: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(content.length / 2 + 64)
    def le32(v: Long): Unit =
      for (i <- 0 until 4) out.write(((v >> (8 * i)) & 0xff).toInt)
    le32(0x184d2204L)
    val hdr = new java.io.ByteArrayOutputStream(16)
    hdr.write(0x40 | 0x20 | 0x08 | 0x04) // v01, independent, csize, cchk
    hdr.write(4 << 4) // 64 KiB block max
    for (i <- 0 until 8)
      hdr.write(((content.length.toLong >> (8 * i)) & 0xff).toInt)
    val hb = hdr.toByteArray
    out.write(hb, 0, hb.length)
    out.write(((Xxh32.hash(hb, 0, hb.length, 0) >>> 8) & 0xff).toInt)
    var off = 0
    while (off < content.length) {
      val end = math.min(off + 65536, content.length)
      val body = compressBlock(content, off, end)
      if (body == null || body.length >= end - off) { // raw block wins
        le32((end - off).toLong | 0x80000000L)
        out.write(content, off, end - off)
      } else {
        le32(body.length.toLong)
        out.write(body, 0, body.length)
      }
      off = end
    }
    le32(0L) // EndMark
    le32(Xxh32.hash(content, 0, content.length, 0) & 0xffffffffL)
    out.toByteArray
  }

  /** Greedy block compress over content[off, end) or null when
    * incompressible; spec end rules: the last 5 bytes are literals
    * and no match starts within the last 12. */
  private def compressBlock(c: Array[Byte], off: Int, end: Int): Array[Byte] = {
    val n = end - off
    if (n < 13) return null // too small for any legal match
    val out = new java.io.ByteArrayOutputStream(n / 2 + 16)
    val table = new Array[Int](1 << 14)
    def hash4(p: Int): Int = {
      val v = (c(p) & 0xff) | ((c(p + 1) & 0xff) << 8) |
        ((c(p + 2) & 0xff) << 16) | ((c(p + 3) & 0xff) << 24)
      (v * 0x9e3779b1) >>> 18
    }
    def writeLen(extra: Int): Unit = {
      var r = extra
      while (r >= 255) { out.write(255); r -= 255 }
      out.write(r)
    }
    def emit(litFrom: Int, litLen: Int, mLen: Int, offset: Int): Unit = {
      val litNib = math.min(litLen, 15)
      val matNib = if (mLen == 0) 0 else math.min(mLen - 4, 15)
      out.write((litNib << 4) | matNib)
      if (litNib == 15) writeLen(litLen - 15)
      out.write(c, litFrom, litLen)
      if (mLen > 0) {
        out.write(offset & 0xff); out.write((offset >> 8) & 0xff)
        if (matNib == 15) writeLen(mLen - 4 - 15)
      }
    }
    val mflimit = end - 12 // no match STARTS past here
    val matchEndLimit = end - 5 // the last 5 bytes stay literal
    var anchor = off
    var p = off
    while (p < mflimit) {
      val h = hash4(p)
      val cand = table(h) - 1
      table(h) = p + 1
      if (cand >= off && cand < p && p - cand <= 65535 &&
        c(cand) == c(p) && c(cand + 1) == c(p + 1) &&
        c(cand + 2) == c(p + 2) && c(cand + 3) == c(p + 3)) {
        var mLen = 4
        while (p + mLen < matchEndLimit && c(cand + mLen) == c(p + mLen))
          mLen += 1
        emit(anchor, p - anchor, mLen, p - cand)
        p += mLen
        anchor = p
      } else p += 1
    }
    emit(anchor, end - anchor, 0, 0) // literals-only last sequence
    out.toByteArray
  }
}
