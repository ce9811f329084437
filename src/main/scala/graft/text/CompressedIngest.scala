package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}

/** COMPRESSED-CRAWL TEXT INGESTION — real corpora arrive as
  * gzip members (WARC/WET slices, per-document blobs), not loose
  * UTF-8: the decode step that turns a binary crawl column into the
  * text column every operator downstream consumes. Pure JVM
  * (`java.util.zip.GZIPInputStream` — RFC 1952 header/CRC handling
  * included), map-only, and TOTAL: any malformed, truncated or
  * oversized stream returns None and the row takes the documented
  * fallback instead of throwing mid-pipeline (the media decoders'
  * honesty contract applied to text).
  *
  * Scale posture: decode is embarrassingly parallel over the binary
  * column (one pass, no shuffle); the [[MaxBytes]] ceiling bounds
  * per-task memory against decompression bombs — a 64 MiB document
  * is already far past every downstream operator's contract. */
object CompressedIngest {

  /** Per-document decompressed ceiling (decompression-bomb guard). */
  val MaxBytes: Int = 64 * 1024 * 1024

  /** Decompress one gzip member stream; None on anything malformed,
    * truncated, non-gzip, or larger than `maxLen`. */
  def gunzip(b: Array[Byte], maxLen: Int = MaxBytes): Option[Array[Byte]] = {
    // try/finally around the stream: GZIPInputStream holds a native
    // zlib Inflater, and the malformed-stream path (an exception out
    // of read) is HOT on a real crawl — leaking it until finalization
    // builds native memory pressure on executors decoding millions of
    // bad members (ADVICE r13)
    var in: java.util.zip.GZIPInputStream = null
    try {
      in = new java.util.zip.GZIPInputStream(
        new java.io.ByteArrayInputStream(b))
      readAtMost(in, maxLen)
    } catch {
      case _: java.io.IOException | _: RuntimeException |
        _: ArrayIndexOutOfBoundsException => None
    } finally {
      if (in != null) try in.close() catch { case _: java.io.IOException => }
    }
  }

  /** Read a decoding stream to its end, or None once it yields more
    * than `maxLen` bytes: the bomb guard of the stream-backed decoders,
    * a bounded read that never sizes a buffer from a declared length. */
  private[text] def readAtMost(in: java.io.InputStream, maxLen: Int): Option[Array[Byte]] = {
    val out = new java.io.ByteArrayOutputStream(4096)
    val buf = new Array[Byte](8192)
    var n = in.read(buf)
    while (n >= 0) {
      if (out.size() + n > maxLen) return None
      out.write(buf, 0, n)
      n = in.read(buf)
    }
    Some(out.toByteArray)
  }

  /** Decompress one DEFLATE document — the HTTP `deflate`
    * content-encoding a crawl carries alongside gzip, which arrives
    * in two incompatible flavors in the wild: the RFC 2616-correct
    * zlib wrapper (RFC 1950) and the widespread raw-deflate
    * misimplementation (RFC 1951 with no wrapper). Tries the zlib
    * form first, then raw — the sniff order every robust HTTP client
    * uses. Same totality and bomb-guard contract as [[gunzip]]. */
  def inflate(b: Array[Byte], maxLen: Int = MaxBytes): Option[Array[Byte]] = {
    def run(nowrap: Boolean): Option[Array[Byte]] = {
      val inf = new java.util.zip.Inflater(nowrap)
      try {
        inf.setInput(b)
        val out = new java.io.ByteArrayOutputStream(math.min(b.length * 3, 4096))
        val buf = new Array[Byte](8192)
        while (!inf.finished()) {
          val n = inf.inflate(buf)
          // a zero-output call can BE the finishing call (empty
          // payload): only an UNfinished stream wanting input is
          // truncated
          if (n == 0 && !inf.finished() &&
            (inf.needsInput() || inf.needsDictionary()))
            return None // truncated / preset-dictionary stream
          if (out.size() + n > maxLen) return None
          out.write(buf, 0, n)
        }
        // plausibility floor for the RAW fallback (r14 What's wrong
        // #2): a stored-block reading of arbitrary bytes can
        // terminate cleanly early; a genuine raw-deflate body is
        // exactly the stream, so the parse must consume (almost) all
        // of its input — slack 4 covers writer padding
        if (nowrap && inf.getBytesRead < b.length - 4) return None
        Some(out.toByteArray)
      } catch {
        case _: java.util.zip.DataFormatException |
          _: RuntimeException | _: ArrayIndexOutOfBoundsException => None
      } finally inf.end() // release native zlib state (ADVICE r13)
    }
    run(nowrap = false).orElse(run(nowrap = true))
  }

  /** The matching writers (fixture side): zlib-wrapped and raw
    * deflate via `Deflater` — the gate depends only on
    * decode(encode(x)) == x. */
  def zlib(b: Array[Byte]): Array[Byte] = deflate0(b, nowrap = false)
  def rawDeflate(b: Array[Byte]): Array[Byte] = deflate0(b, nowrap = true)

  private def deflate0(b: Array[Byte], nowrap: Boolean): Array[Byte] = {
    val d = new java.util.zip.Deflater(
      java.util.zip.Deflater.DEFAULT_COMPRESSION, nowrap)
    d.setInput(b); d.finish()
    val out = new java.io.ByteArrayOutputStream(b.length / 2 + 64)
    val buf = new Array[Byte](8192)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  /** Gate surface (`text_deflate_ingest`): per document, deflate the
    * text — the zlib wrapper on even ids, RAW deflate on odd (both
    * wild flavors of the `deflate` content-encoding) — truncate the
    * id % 5 == 3 members, decode through [[inflate]], and report the
    * decoded token/char counts (the gzip gate's oracle shape). */
  def deflateIngestReport(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").as[(Long, String)]
      .map { case (id, text) =>
        val raw = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val full = if (id % 2 == 0) zlib(raw) else rawDeflate(raw)
        val payload = if (id % 5 == 3) full.take(full.length / 2) else full
        inflate(payload) match {
          case Some(bytes) =>
            val t = new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
            (id, t.split("\\s+").count(_.nonEmpty).toLong,
              t.codePointCount(0, t.length).toLong)
          case None => (id, -1L, -1L)
        }
      }
      .toDF("doc_id", "n_tokens", "n_chars")
  }

  /** The gate's shared dictionary — deterministic (fixed samples,
    * fixed ID), built once per JVM; the shape a `.jsonl.zst` shard
    * set with a shared dictionary distributes. CLI-pinned in
    * ZstdDictSpec. */
  private[text] lazy val GateDict: Zstd.Dict = {
    val samples = (0 until 16).map(i =>
      (s"shard $i " + ("spark query window merge scan filter join " +
        "order batch stream table hash key value row column ") * 8).getBytes(
        java.nio.charset.StandardCharsets.UTF_8))
    Zstd.parseDictionary(Zstd.buildDictionary(samples, id = 0x47524654L))
      .getOrElse(sys.error("gate dictionary must parse"))
  }

  /** Gate surface (`text_zstd_ingest`): per document, compress the
    * text into REAL zstd frames through [[Zstd.compress]] (Huffman
    * literals, predefined-FSE sequences, repcodes, checksum — the
    * frames the reference CLI verifies in ZstdSpec) and decode
    * through the full production path. Classes: id % 7 == 1 rows
    * carry a leading SKIPPABLE frame; id % 7 == 4 rows are a
    * TWO-FRAME concatenation split mid-text (the `.jsonl.zst` shard
    * shape); id % 7 == 2 rows are DICTIONARY frames referencing
    * [[GateDict]] (RFC 8878 §5 — resolved by ID at decode, matches
    * into the content prefix); id % 5 == 3 rows get a TRUNCATED
    * stream (always single-frame so the cut can never land on a
    * frame boundary) and owe the (-1, -1) fallback. Same oracle
    * shape as the gzip and deflate twins. Map-only over documents. */
  def zstdIngestReport(spark: SparkSession, sfDir: String): DataFrame =
    zstdIngestReportOf(spark.read.parquet(s"$sfDir/documents.parquet"))

  /** [[zstdIngestReport]] over an arbitrary documents frame — the
    * composition point [[graft.streaming.ZstdStream]]'s per-batch
    * ranges reuse (same fixture classes, same counts). */
  def zstdIngestReportOf(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select("doc_id", "text").as[(Long, String)]
      .map { case (id, text) =>
        val raw = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val full: Array[Byte] =
          if (id % 5 == 3) Zstd.compress(raw) // truncated class: one frame
          else if (id % 7 == 1) {
            val skip = new java.io.ByteArrayOutputStream()
            def le32(v: Long): Unit =
              for (i <- 0 until 4) skip.write(((v >> (8 * i)) & 0xff).toInt)
            le32(0x184d2a5aL); le32(12L)
            for (i <- 0 until 12) skip.write(i)
            skip.toByteArray ++ Zstd.compress(raw)
          } else if (id % 7 == 4) {
            val cut = raw.length / 2 // byte split: concatenation restores
            Zstd.compress(java.util.Arrays.copyOfRange(raw, 0, cut)) ++
              Zstd.compress(java.util.Arrays.copyOfRange(raw, cut, raw.length))
          } else if (id % 7 == 2) Zstd.compress(raw, GateDict)
          else Zstd.compress(raw)
        val payload = if (id % 5 == 3) full.take(full.length / 2) else full
        Zstd.decompress(payload, MaxBytes,
          Map(GateDict.dictId -> GateDict)) match {
          case Some(bytes) =>
            val t = new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
            (id, t.split("\\s+").count(_.nonEmpty).toLong,
              t.codePointCount(0, t.length).toLong)
          case None => (id, -1L, -1L)
        }
      }
      .toDF("doc_id", "n_tokens", "n_chars")
  }

  /** Gate surface (`text_lz4_ingest`): per document, compress the
    * text into REAL LZ4 frames through [[Lz4.compress]] (the frames
    * lz4-java's reference reader verifies in Lz4Spec) and decode
    * through the full production path. Classes mirror the zstd gate:
    * id % 7 == 1 leading skippable frame, id % 7 == 4 two-frame
    * `.jsonl.lz4` shard shape, id % 5 == 3 truncated (single-frame)
    * owing (-1, -1). Map-only over documents. */
  def lz4IngestReport(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").as[(Long, String)]
      .map { case (id, text) =>
        val raw = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val full: Array[Byte] =
          if (id % 5 == 3) Lz4.compress(raw)
          else if (id % 7 == 1) {
            val skip = new java.io.ByteArrayOutputStream()
            def le32(v: Long): Unit =
              for (i <- 0 until 4) skip.write(((v >> (8 * i)) & 0xff).toInt)
            le32(0x184d2a5cL); le32(8L)
            for (i <- 0 until 8) skip.write(i)
            skip.toByteArray ++ Lz4.compress(raw)
          } else if (id % 7 == 4) {
            val cut = raw.length / 2
            Lz4.compress(java.util.Arrays.copyOfRange(raw, 0, cut)) ++
              Lz4.compress(java.util.Arrays.copyOfRange(raw, cut, raw.length))
          } else Lz4.compress(raw)
        val payload = if (id % 5 == 3) full.take(full.length / 2) else full
        Lz4.decompress(payload) match {
          case Some(bytes) =>
            val t = new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
            (id, t.split("\\s+").count(_.nonEmpty).toLong,
              t.codePointCount(0, t.length).toLong)
          case None => (id, -1L, -1L)
        }
      }
      .toDF("doc_id", "n_tokens", "n_chars")
  }

  /** Magic-sniffing dispatcher — the crawl-side entry point when the
    * container/encoding header is missing or untrusted: gzip
    * (1f 8b), zstd (28 b5 2f fd, incl. its skippable frames), LZ4
    * frame (04 22 4d 18, incl. skippables), framed snappy (the
    * sNaPpY identifier), else the two deflate flavors ([[inflate]]'s
    * zlib-then-raw sniff), and LAST, raw snappy (no magic to sniff,
    * but its grammar is strict — varint preamble + tag stream that
    * must consume the input exactly and produce exactly the declared
    * length — so it rejects garbage cheaply; DecodeAnySpec measures
    * the false-accept rate at zero over randomized and cross-format
    * corpora for inputs ≥ 4 bytes, the r14 inflate-plausibility-
    * floor treatment). The raw-snappy fallback additionally requires
    * a NON-EMPTY decode: a lone 0x00 byte is a valid empty raw block,
    * which as a fallback reading of unknown bytes is meaningless —
    * callers that KNOW the payload is raw snappy (the Parquet/Kafka
    * shape always knows) call [[Snappy.decompress]] directly and keep
    * empty. Totality and bomb guards inherited from every branch. */
  def decodeAny(b: Array[Byte], maxLen: Int = MaxBytes): Option[Array[Byte]] = {
    if (b.length < 2) return None
    val b0 = b(0) & 0xff; val b1 = b(1) & 0xff
    if (b0 == 0x1f && b1 == 0x8b) gunzip(b, maxLen)
    else if (b.length >= 4 && b0 == 0x28 && b1 == 0xb5 &&
      (b(2) & 0xff) == 0x2f && (b(3) & 0xff) == 0xfd) Zstd.decompress(b, maxLen)
    else if (b.length >= 4 && b0 == 0x04 && b1 == 0x22 &&
      (b(2) & 0xff) == 0x4d && (b(3) & 0xff) == 0x18) Lz4.decompress(b, maxLen)
    else if (b.length >= 8 && (b0 & 0xf0) == 0x50 && b1 == 0x2a &&
      (b(2) & 0xff) == 0x4d && (b(3) & 0xff) == 0x18)
      // a LEADING skippable frame: zstd and lz4 share the range — try both
      Zstd.decompress(b, maxLen).orElse(Lz4.decompress(b, maxLen))
    else if (b.length >= 10 && b0 == 0xff && b1 == 0x06) Snappy.decompress(b, maxLen)
    else inflate(b, maxLen)
      // the raw-snappy fallback only below the measured false-accept
      // floor: 2-3 byte junk can parse as a tiny literal (01 00 41 →
      // "A"); DecodeAnySpec's zero-false-accept measurement starts at
      // 4 bytes, so shorter inputs keep the pre-fallback None
      .orElse(if (b.length >= 4) Snappy.decompress(b, maxLen).filter(_.nonEmpty)
        else None)
  }

  /** Gate surface (`text_snappy_ingest`): per document, compress the
    * text with [[Snappy]] (blocks snappy-java decodes byte-exact) —
    * RAW blocks (the Parquet/Kafka shape) on most rows, the FRAMED
    * format (.sz, checksummed chunks) on id % 7 == 1, truncated raw on
    * id % 5 == 3 owing (-1, -1) — and decode through
    * [[Snappy.decompress]]. Map-only over documents. */
  def snappyIngestReport(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").as[(Long, String)]
      .map { case (id, text) =>
        val raw = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val full: Array[Byte] =
          if (id % 5 != 3 && id % 7 == 1) Snappy.compressFramed(raw)
          else Snappy.compress(raw)
        val payload = if (id % 5 == 3) full.take(full.length / 2) else full
        Snappy.decompress(payload) match {
          case Some(bytes) =>
            val t = new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
            (id, t.split("\\s+").count(_.nonEmpty).toLong,
              t.codePointCount(0, t.length).toLong)
          case None => (id, -1L, -1L)
        }
      }
      .toDF("doc_id", "n_tokens", "n_chars")
  }

  /** Gate surface (`text_warc_ingest`): per document, build a real
    * 3-record WARC (warcinfo + request + response whose HTTP payload
    * is the doc text), per-record-gzip on even ids (the CommonCrawl
    * shape) and plain on odd, truncated on id % 5 == 3 owing
    * (-1, -1, -1); extract the response payload through
    * [[Warc.records]] + [[Warc.httpPayload]] and report record count
    * + the decoded token/char counts. Map-only over documents. */
  def warcIngestReport(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").as[(Long, String)]
      .map { case (id, text) =>
        val body = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val http = (s"HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n" +
          s"Content-Length: ${body.length}\r\n\r\n")
          .getBytes(java.nio.charset.StandardCharsets.US_ASCII) ++ body
        val full = Warc.write(Seq(
          Seq("WARC-Type" -> "warcinfo",
            "WARC-Record-ID" -> s"<urn:uuid:$id-info>") ->
            "software: graft\r\n".getBytes,
          Seq("WARC-Type" -> "request",
            "WARC-Target-URI" -> s"https://example.org/doc/$id",
            "WARC-Record-ID" -> s"<urn:uuid:$id-req>") ->
            s"GET /doc/$id HTTP/1.1\r\nHost: example.org\r\n\r\n".getBytes,
          Seq("WARC-Type" -> "response",
            "WARC-Target-URI" -> s"https://example.org/doc/$id",
            "WARC-Record-ID" -> s"<urn:uuid:$id-resp>") -> http),
          gzipPerRecord = id % 2 == 0)
        val payload = if (id % 5 == 3) full.take(full.length / 2) else full
        (for {
          recs <- Warc.records(payload)
          resp <- recs.find(_.warcType == "response")
          doc <- Warc.httpPayload(resp.block)
        } yield {
          val t = new String(doc, java.nio.charset.StandardCharsets.UTF_8)
          (id, recs.length.toLong,
            t.split("\\s+").count(_.nonEmpty).toLong,
            t.codePointCount(0, t.length).toLong)
        }).getOrElse((id, -1L, -1L, -1L))
      }
      .toDF("doc_id", "n_records", "n_tokens", "n_chars")
  }

  /** HTTP content-coding dispatch (RFC 9110 §8.4.1): decode a
    * response body per its `Content-Encoding` header value — the
    * named-coding complement to the magic-sniffing [[decodeAny]]
    * (when the header NAMES the coding, trust it; sniff only when
    * it is missing or unknown bytes arrive). `identity` passes
    * through; gzip/x-gzip, deflate (both wild flavors), zstd and
    * snappy map to their decoders; an unknown coding declines —
    * never guess past an explicit label. A caller decoding many
    * bodies passes one `zstd` decoder for all of them, so a zstd body
    * reuses its native context instead of creating one per call. */
  def contentDecode(encoding: String, b: Array[Byte],
      maxLen: Int = MaxBytes,
      zstd: Option[Zstd.Decoder] = None): Option[Array[Byte]] =
    encoding.trim.toLowerCase(java.util.Locale.ROOT) match {
      case "" | "identity" => Some(b)
      case "gzip" | "x-gzip" => gunzip(b, maxLen)
      case "deflate" => inflate(b, maxLen)
      case "zstd" => zstd.fold(Zstd.decompress(b, maxLen))(_.decompress(b, maxLen))
      case "snappy" => Snappy.decompress(b, maxLen)
      case "lz4" => Lz4.decompress(b, maxLen)
      case _ => None // br etc.: documented boundary, decline honestly
    }

  /** Gate surface (`text_warc_split`): per document, build the same
    * 3-record WARC as [[warcIngestReport]] but ALWAYS per-record-gzip
    * (the CommonCrawl shard shape), split it into per-member slices
    * through [[Warc.memberBounds]] — the shard→slice operator a real
    * multi-GB `.warc.gz` needs before any per-row decode — parse each
    * slice INDEPENDENTLY, and require slice-parse ≡ whole-shard parse
    * (record count and response text both) before reporting. A row
    * where the two parses disagree owes the fallback even if one of
    * them "worked" — the splitter must never change what a shard
    * means. Truncated shards (id % 5 == 3, cut mid-member) owe
    * (-1, -1, -1): [[Warc.memberBounds]] is strict. Map-only. */
  def warcSplitReport(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").as[(Long, String)]
      .map { case (id, text) =>
        val body = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val http = (s"HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n" +
          s"Content-Length: ${body.length}\r\n\r\n")
          .getBytes(java.nio.charset.StandardCharsets.US_ASCII) ++ body
        val full = Warc.write(Seq(
          Seq("WARC-Type" -> "warcinfo",
            "WARC-Record-ID" -> s"<urn:uuid:$id-info>") ->
            "software: graft\r\n".getBytes,
          Seq("WARC-Type" -> "request",
            "WARC-Target-URI" -> s"https://example.org/doc/$id",
            "WARC-Record-ID" -> s"<urn:uuid:$id-req>") ->
            s"GET /doc/$id HTTP/1.1\r\nHost: example.org\r\n\r\n".getBytes,
          Seq("WARC-Type" -> "response",
            "WARC-Target-URI" -> s"https://example.org/doc/$id",
            "WARC-Record-ID" -> s"<urn:uuid:$id-resp>") -> http),
          gzipPerRecord = true)
        val payload = if (id % 5 == 3) full.take(full.length / 2) else full
        (for {
          slices <- Warc.memberSlices(payload)
          perSlice <- {
            val parsed = slices.map(Warc.records)
            if (parsed.forall(_.isDefined)) Some(parsed.flatMap(_.get))
            else None
          }
          whole <- Warc.records(payload)
          // the splitter must preserve meaning: same records either way
          if whole.length == perSlice.length &&
            whole.map(_.warcType) == perSlice.map(_.warcType)
          resp <- perSlice.find(_.warcType == "response")
          doc <- Warc.httpPayload(resp.block)
        } yield {
          val t = new String(doc, java.nio.charset.StandardCharsets.UTF_8)
          (id, slices.length.toLong,
            t.split("\\s+").count(_.nonEmpty).toLong,
            t.codePointCount(0, t.length).toLong)
        }).getOrElse((id, -1L, -1L, -1L))
      }
      .toDF("doc_id", "n_slices", "n_tokens", "n_chars")
  }

  /** Gate surface (`text_wet_ingest`): WET extracted-text containers —
    * the OTHER CommonCrawl distribution (WARC files whose
    * `WARC-Type: conversion` records carry the already-extracted
    * plain text; most LLM corpora start here, not from raw WARC).
    * Per document: a warcinfo + conversion record pair where the
    * conversion block is the text (UTF-8 — the WET convention; the
    * record's own Content-Type header carries the charset parameter,
    * resolved through [[CharsetSniff]] with a UTF-8 default rather
    * than the HTML path's windows-1252: WET is a produced format,
    * not wild-web bytes). id % 4 == 1 rows label and encode UTF-16LE
    * to pin that the header parameter is actually read.
    * Per-record-gzip on even ids, truncated id % 5 == 3 rows owe
    * (-1, -1). Map-only over documents. */
  def wetIngestReport(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").as[(Long, String)]
      .map { case (id, text) =>
        val utf16 = id % 4 == 1
        val body =
          if (utf16) text.getBytes(java.nio.charset.StandardCharsets.UTF_16LE)
          else text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val ctype =
          if (utf16) "text/plain; charset=utf-16le" else "text/plain"
        val full = Warc.write(Seq(
          Seq("WARC-Type" -> "warcinfo",
            "WARC-Record-ID" -> s"<urn:uuid:$id-info>") ->
            "software: graft-wet\r\n".getBytes,
          Seq("WARC-Type" -> "conversion",
            "WARC-Target-URI" -> s"https://example.org/doc/$id",
            "Content-Type" -> ctype,
            "WARC-Record-ID" -> s"<urn:uuid:$id-conv>") -> body),
          gzipPerRecord = id % 2 == 0)
        val payload = if (id % 5 == 3) full.take(full.length / 2) else full
        (for {
          recs <- Warc.records(payload)
          conv <- recs.find(_.warcType == "conversion")
        } yield {
          val (_, t) = CharsetSniff.decodeWet(
            conv.headers.get("content-type"), conv.block)
          (id, t.split("\\s+").count(_.nonEmpty).toLong,
            t.codePointCount(0, t.length).toLong)
        }).getOrElse((id, -1L, -1L))
      }
      .toDF("doc_id", "n_tokens", "n_chars")
  }

  /** The matching writer (fixture side): one RFC 1952 member via
    * `GZIPOutputStream` — byte layout is the JDK's, but the GATE
    * never depends on the compressed bytes, only on decode(encode(x))
    * == x, which RFC 1952 guarantees for any conforming pair. */
  def gzip(b: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(b.length / 2 + 64)
    val gz = new java.util.zip.GZIPOutputStream(out)
    gz.write(b)
    gz.close()
    out.toByteArray
  }

  /** Gate surface (`text_gzip_ingest`): per document, gzip the text
    * (rows with doc_id % 5 == 3 get a TRUNCATED member — half the
    * compressed bytes), decode through the production path, and
    * report the token/char counts of the DECODED text — the
    * `text_tokens` definitions, so the oracle recomputes them from
    * the plain `text` column and a wrong decode (or a fallback that
    * should have fired) hash-mismatches. Undecodable rows owe
    * (-1, -1). Map-only over documents. */
  def ingestReport(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").as[(Long, String)]
      .map { case (id, text) =>
        val full = gzip(text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        val payload = if (id % 5 == 3) full.take(full.length / 2) else full
        gunzip(payload) match {
          case Some(bytes) =>
            val t = new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
            val nTokens = t.split("\\s+").count(_.nonEmpty).toLong
            // codepoint count == DuckDB's character length even
            // beyond the BMP (UTF-16 .length would diverge there)
            (id, nTokens, t.codePointCount(0, t.length).toLong)
          case None => (id, -1L, -1L)
        }
      }
      .toDF("doc_id", "n_tokens", "n_chars")
  }
}
