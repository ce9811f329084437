package graft.text

import org.apache.spark.sql.{DataFrame, Dataset}

/** The crawl chain as ONE operator: multi-member `.warc.gz` shard →
  * gzip member slices → WARC records → HTTP response payload →
  * Transfer-Encoding decode (chunked et al., RFC 9112) →
  * Content-Encoding decode → charset resolution → media-type
  * dispatch (HTML through the tokenizer, text/plain as-is, anything
  * else declined) → training text. Composes [[Warc.memberSlices]],
  * [[Warc.records]], [[Warc.transferDecode]],
  * [[CompressedIngest.contentDecode]], [[CharsetSniff.decode]] and
  * [[Html.extractText]] — each foreign-pinned individually; the
  * `text_crawl_extract` gate pins the composition end-to-end against
  * the DuckDB oracle.
  *
  * Scale posture: one `flatMap` over the binary shard column — no
  * shuffle, embarrassingly parallel, the 100× plan by construction.
  * Per-task memory is bounded by one shard row plus one decoded
  * document (the per-member slice walk never materializes the whole
  * decompressed shard; every decode stage carries the 64 MiB bomb
  * guard). Failure honesty: a shard or record that fails ANY stage
  * contributes no rows — an auditing pipeline anti-joins the output
  * against the input ids to count casualties; nothing is guessed. */
object CrawlExtract {

  /** One extracted document: provenance (shard id, member index,
    * target URI), the resolved charset, and the training text. */
  final case class Extracted(doc_id: Long, member: Int, uri: String,
    charset: String, text: String)

  /** Extract training text from every response record of every shard.
    * `shards` must carry (`doc_id` LONG, `shard` BINARY) — one
    * multi-member `.warc.gz` per row (the CommonCrawl distribution
    * shape). */
  def extract(shards: DataFrame): Dataset[Extracted] = {
    val spark = shards.sparkSession
    import spark.implicits._
    shards.select("doc_id", "shard").as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        // one zstd context per partition, freed when the task completes
        val zstd = new Zstd.Decoder
        Option(org.apache.spark.TaskContext.get)
          .foreach(_.addTaskCompletionListener[Unit](_ => zstd.close()))
        rows.flatMap { case (id, shard) =>
          Warc.memberSlices(shard).getOrElse(Seq.empty).iterator.zipWithIndex
            .flatMap { case (slice, i) =>
              Warc.records(slice).getOrElse(Seq.empty).iterator
                .filter(_.warcType == "response")
                .flatMap { r =>
                  for {
                    wire <- Warc.httpPayload(r.block)
                    // transfer codings first (RFC 9112 §6.1: hop
                    // framing), then content codings (RFC 9110),
                    // then the charset — each layer wraps the next
                    unframed <- Warc.httpHeader(r.block, "Transfer-Encoding") match {
                      case Some(te) => Warc.transferDecode(te, wire)
                      case None => Some(wire)
                    }
                    body <- Warc.httpHeader(r.block, "Content-Encoding") match {
                      case Some(e) =>
                        CompressedIngest.contentDecode(e, unframed, zstd = Some(zstd))
                      case None => Some(unframed)
                    }
                    ctype = Warc.httpHeader(r.block, "Content-Type")
                    (cs, decoded) = CharsetSniff.decode(ctype, body)
                    text <- mediaType(ctype) match {
                      case "text/html" | "application/xhtml+xml" =>
                        Html.extractText(decoded)
                      case "text/plain" => Some(decoded)
                      case _ => None // JSON/PDF/images: decline, don't garble
                    }
                  } yield Extracted(id, i, r.targetUri, cs, text)
                }
            }.toSeq
        }
      }
  }

  /** The media type of a Content-Type value: the part before any
    * parameters, trimmed and lowercased (RFC 9110 §8.3's grammar is
    * ASCII-case-insensitive). A MISSING header defaults to text/html
    * — the dominant crawl shape, and the only honest guess for a
    * response record a crawler chose to store. */
  private def mediaType(ctype: Option[String]): String =
    ctype.map(_.split(';')(0).trim
      .toLowerCase(java.util.Locale.ROOT)).getOrElse("text/html")

  /** Gate surface (`text_crawl_extract`): per document, the
    * `text_warc_html` fixture (charset classes with lying signals,
    * Content-Encoding AND Transfer-Encoding classes, truncation)
    * built as an ALWAYS per-record-gzip shard, run through
    * [[extract]] — the one-call operator — and reported in the same
    * shape. Two media-type classes override the HTML page: a
    * `text/plain` response (id % 7 == 5) whose body must BYPASS the
    * HTML tokenizer — its text contains a literal `<word>` that the
    * tokenizer would eat as a tag — and an `application/pdf`
    * response (id % 7 == 6) the operator must DECLINE. Docs whose
    * shard is truncated (id % 5 == 3) and declined media types
    * produce NO output row (the operator's failure-honesty
    * contract), so the oracle simply filters both out instead of
    * owing fallback rows. */
  def crawlExtractReport(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): DataFrame = {
    import spark.implicits._
    val shards = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").as[(Long, String)]
      .map { case (id, text) =>
        val http = (id % 7) match {
          case 5 =>
            // text/plain: the angle-bracketed word proves the bytes
            // skipped the HTML tokenizer (it would vanish as a tag)
            val body = (text + " plain <tag> kept")
              .getBytes(java.nio.charset.StandardCharsets.UTF_8)
            (s"HTTP/1.1 200 OK\r\nContent-Type: text/plain; charset=utf-8\r\n" +
              s"Content-Length: ${body.length}\r\n\r\n")
              .getBytes(java.nio.charset.StandardCharsets.US_ASCII) ++ body
          case 6 =>
            // an unroutable media type: must contribute no row
            val body = ("%PDF-1.4 " + text)
              .getBytes(java.nio.charset.StandardCharsets.UTF_8)
            (s"HTTP/1.1 200 OK\r\nContent-Type: application/pdf\r\n" +
              s"Content-Length: ${body.length}\r\n\r\n")
              .getBytes(java.nio.charset.StandardCharsets.US_ASCII) ++ body
          case _ => HtmlIngest.httpResponse(id, text)
        }
        val full = Warc.write(Seq(
          Seq("WARC-Type" -> "warcinfo",
            "WARC-Record-ID" -> s"<urn:uuid:$id-info>") ->
            "software: graft\r\n".getBytes,
          Seq("WARC-Type" -> "request",
            "WARC-Target-URI" -> s"https://example.org/page/$id",
            "WARC-Record-ID" -> s"<urn:uuid:$id-req>") ->
            s"GET /page/$id HTTP/1.1\r\nHost: example.org\r\n\r\n".getBytes,
          Seq("WARC-Type" -> "response",
            "WARC-Target-URI" -> s"https://example.org/page/$id",
            "WARC-Record-ID" -> s"<urn:uuid:$id-resp>") -> http),
          gzipPerRecord = true)
        (id, if (id % 5 == 3) full.take(full.length / 2) else full)
      }
      .toDF("doc_id", "shard")
    extract(shards)
      .map { e =>
        val firstLine = e.text.takeWhile(_ != '\n')
        (e.doc_id, e.member.toLong, e.uri, e.charset,
          firstLine.codePoints().asLongStream().sum(),
          e.text.split("\\s+").count(_.nonEmpty).toLong,
          e.text.codePointCount(0, e.text.length).toLong)
      }
      .toDF("doc_id", "member", "uri", "charset", "head_cp_sum",
        "n_tokens", "n_chars")
  }
}
