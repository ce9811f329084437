package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets.{US_ASCII, UTF_8}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.dedup.SuffixDedup
import graft.text.{CorpusPipeline, CrawlExtract, HtmlIngest, Warc}

/** The flagship chain: `.warc.gz` shards → [[CrawlExtract.extract]] →
  * documents parquet → [[CorpusPipeline.prepareDecontaminated]]
  * (SuffixDedup excision, scrub, quality floor, md5 exact dedup,
  * `packByPrefixSum`).
  *
  * Input: multi-record, per-record-gzip shards (one warcinfo, then a
  * request/response pair per page). Response bodies cycle the same
  * charset, Content-Encoding and Transfer-Encoding classes as
  * `CrawlScaleProbe` (via [[HtmlIngest.httpResponse]]), with a
  * text/plain share, a declined application/pdf share and a share of
  * truncated shards (which decode to nothing). Training pages quote
  * benchmark pages (doc_id % 37 == 0) and some repeat another page
  * verbatim, so excision and exact dedup both have work. */
object CrawlPack extends Workload {
  val name = "crawl_pack"
  val spans = Seq("text.extract", "dedup.excise", "text.prepare")

  val PagesPerShard = 24
  val Shards = 48
  /** doc_id of a page = shard * Stride + its gzip member index. */
  val Stride = 1000L
  val Budget = 512L
  val BenchMod = 37
  /** A repeat copies the page this many records back (lcm of 4 and 7). */
  val RepeatLag = 28
  /** Most tokens extraction may add to a page's words (title, footer). */
  val MaxExtraTokens = 8

  private def member(k: Int): Int = 2 + 2 * k // warcinfo, then request/response pairs
  private def truncated(shard: Int): Boolean = shard % 10 == 7
  private def declined(rec: Int): Boolean = rec % 13 == 6
  private def plain(rec: Int): Boolean = rec % 7 == 5

  def generate(spark: SparkSession, dir: File, seed: Long, scale: Double): Prepared = {
    val shards = math.max(4, (Shards * scale).round.toInt)
    val n = shards * PagesPerShard
    val r = Gen.rng(seed, 0x11)
    val vocab = Gen.vocabulary(r, 4000)
    val zipf = new Gen.Zipf(vocab.length, 1.0)
    val pages = Array.fill(n)(Gen.words(r, vocab, zipf, 40 + r.nextInt(160)))
    def docId(rec: Int) = (rec / PagesPerShard) * Stride + member(rec % PagesPerShard)
    def extracted(rec: Int) = !truncated(rec / PagesPerShard) && !declined(rec)
    val bench = (0 until n).filter(i => extracted(i) && docId(i) % BenchMod == 0)
    // quote 12–24 consecutive words of a benchmark page into a tenth of
    // the training pages
    val quoteLen = new Array[Int](n)
    for (i <- 0 until n if docId(i) % BenchMod != 0 && r.nextInt(10) == 0 && bench.nonEmpty) {
      val src = pages(bench(r.nextInt(bench.length)))
      val len = 12 + r.nextInt(13)
      val from = r.nextInt(src.length - len + 1)
      val at = r.nextInt(pages(i).length + 1)
      pages(i) = pages(i).take(at) ++ src.slice(from, from + len) ++ pages(i).drop(at)
      quoteLen(i) = len
    }
    // verbatim repeats of the page RepeatLag records back: same classes
    // mod 4 and 7, so the extracted text (title, media type) repeats
    // too. Benchmark pages are never overwritten, so every quote stays a
    // quote of a benchmark page.
    val repeats = (RepeatLag until n).filter(i => i % 20 == 9 && docId(i) % BenchMod != 0)
    repeats.foreach { i => pages(i) = pages(i - RepeatLag); quoteLen(i) = quoteLen(i - RepeatLag) }
    // what the chain must keep: every extracted training doc, except a
    // repeat whose original was extracted too. md5 dedup keeps the
    // original (the smaller doc_id) of a training page; a repeat of a
    // benchmark page is excised whole and falls under the quality floor.
    val repeatOfExtracted = repeats.filter(i => extracted(i - RepeatLag)).toSet
    val kept = (0 until n)
      .filter(i => extracted(i) && docId(i) % BenchMod != 0 && !repeatOfExtracted(i))
      .map(i => docId(i) -> i).toMap

    val inDigest = new Gen.Digest
    val rows = (0 until shards).map { s =>
      val recs = (0 until PagesPerShard).flatMap { k =>
        val rec = s * PagesPerShard + k
        val text = pages(rec).mkString(" ")
        val uri = s"https://example.org/s$s/p$k"
        val http =
          if (declined(rec)) response("application/pdf", ("%PDF-1.4 " + text).getBytes(UTF_8))
          else if (plain(rec)) response("text/plain; charset=utf-8", text.getBytes(UTF_8))
          else HtmlIngest.httpResponse(rec.toLong, text)
        Seq(
          Seq("WARC-Type" -> "request", "WARC-Target-URI" -> uri,
            "WARC-Record-ID" -> s"<urn:uuid:$rec-req>") ->
            s"GET /s$s/p$k HTTP/1.1\r\nHost: example.org\r\n\r\n".getBytes(US_ASCII),
          Seq("WARC-Type" -> "response", "WARC-Target-URI" -> uri,
            "WARC-Record-ID" -> s"<urn:uuid:$rec-resp>") -> http)
      }
      val info = Seq("WARC-Type" -> "warcinfo", "WARC-Record-ID" -> s"<urn:uuid:$s-info>") ->
        "software: perfbench\r\n".getBytes(US_ASCII)
      val full = Warc.write(info +: recs, gzipPerRecord = true)
      val bytes = if (truncated(s)) full.take(full.length / 2) else full
      inDigest.add(s.toLong).add(bytes)
      (s.toLong, bytes)
    }
    import spark.implicits._
    val shardPath = new File(dir, "shards.parquet").getPath
    spark.sparkContext.parallelize(rows, Gen.Files).toDF("doc_id", "shard").write.mode("overwrite").parquet(shardPath)
    val expected = (0 until n).filter(extracted).map(docId).sorted.toArray
    val passDir = new File(dir, "pass").getPath
    val totalBytes = rows.map(_._2.length.toLong).sum

    new Prepared {
      type Out = CrawlOut
      val props = Seq(
        "bytes" -> totalBytes, "shards" -> shards, "response_records" -> n,
        "docs_expected" -> expected.length, "benchmark_docs" -> bench.length,
        "truncated_shard_share" -> (0 until shards).count(truncated).toDouble / shards,
        "declined_share" -> (0 until n).count(declined).toDouble / n,
        "plain_share" -> (0 until n).count(i => plain(i) && !declined(i)).toDouble / n,
        "quoted_share" -> quoteLen.count(_ > 0).toDouble / n,
        "docs_kept_expected" -> kept.size,
        "duplicate_share" -> repeats.size.toDouble / n,
        "words_per_page" -> Seq("min" -> 40, "max" -> 199, "zipf_s" -> 1.0, "vocab" -> vocab.length),
        "budget" -> Budget)
      val inputDigest = inDigest.hex

      def run(span: Span): Out = {
        val docsPath = s"$passDir/documents.parquet"
        span("text.extract") {
          CrawlExtract.extract(spark.read.parquet(shardPath))
            .select((col("doc_id") * Stride + col("member")).as("doc_id"), col("text"))
            .write.mode("overwrite").parquet(docsPath)
        }
        val packed =
          if (span.traced) {
            val excised = span("dedup.excise") {
              SuffixDedup.exciseBenchmarkSpans(spark, passDir, benchMod = BenchMod).localCheckpoint()
            }
            span("text.prepare") {
              CorpusPipeline.prepareDf(excised.select(col("doc_id"), col("clean_text").as("text")),
                Budget).collect()
            }
          } else CorpusPipeline.prepareDecontaminated(spark, passDir, Budget, benchMod = BenchMod).collect()
        val ids = spark.read.parquet(docsPath).select(col("doc_id")).as[Long].collect().sorted
        CrawlOut(ids, packed.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1))
      }

      def problems(o: Out): Seq[String] = {
        val p = mutable.ArrayBuffer.empty[String]
        if (!o.docIds.sameElements(expected))
          p += s"extracted ${o.docIds.length} docs, expected the ${expected.length} decodable html/plain records"
        val ids = o.packed.map(_._1)
        if (ids.distinct.length != ids.length) p += "a doc lands in more than one pack"
        if (ids.toSet != kept.keySet)
          p += s"packed ${ids.distinct.length} docs, expected the ${kept.size} extracted training docs " +
            s"less md5 repeats (${ids.toSet.diff(kept.keySet).size} unexpected, " +
            s"${kept.keySet.diff(ids.toSet).size} missing)"
        // extraction adds the same few tokens (title, footer) to a page;
        // a quoted page must have lost at least its quote
        val extra = o.packed.collect { case (id, nTok, _) if kept.contains(id) =>
          val i = kept(id)
          (nTok - pages(i).length + quoteLen(i), quoteLen(i) > 0)
        }
        val plainExtra = extra.collect { case (e, false) => e }
        if (plainExtra.exists(e => e < 0 || e > MaxExtraTokens))
          p += s"an unquoted page has a token count off its word count by more than $MaxExtraTokens"
        else if (plainExtra.nonEmpty && extra.exists { case (e, q) => q && e > plainExtra.max })
          p += "a planted benchmark quote survived excision"
        // each doc starts inside its pack: pack = tokens before it div budget
        var before = 0L
        val overflow = o.packed.exists { case (_, nTok, pack) =>
          val bad = pack != before / Budget
          before += nTok
          bad
        }
        if (overflow) p += "a pack overruns its budget"
        p.toSeq
      }

      def digest(o: Out): String = {
        val d = new Gen.Digest
        o.docIds.foreach(d.add)
        o.packed.foreach { case (a, b, c) => d.add(a).add(b).add(c) }
        d.hex
      }

      def perturbations(o: Out): Seq[(String, Out)] = {
        val (id, nTok, pack) = o.packed.last
        val quotedAt = o.packed.indexWhere { case (d, _, _) => quoteLen(kept(d)) > 0 }
        val (qd, qTok, qPack) = o.packed(quotedAt)
        Seq(
          "a pack id past its budget" -> o.copy(packed = o.packed.init :+ ((id, nTok, pack + 1))),
          "a packed doc dropped" -> o.copy(packed = o.packed.init),
          "a quote left in" -> o.copy(packed = o.packed.updated(quotedAt, (qd, qTok + quoteLen(kept(qd)), qPack))))
      }

      override def ratios(o: Out): Seq[(String, Double)] = {
        val packs = o.packed.map(_._3).distinct.length
        Seq("text.extract.yield" -> o.docIds.length.toDouble / n,
          "text.prepare.fill" -> o.packed.map(_._2).sum.toDouble / (packs * Budget))
      }
    }
  }

  private def response(ctype: String, body: Array[Byte]): Array[Byte] =
    (s"HTTP/1.1 200 OK\r\nContent-Type: $ctype\r\nContent-Length: ${body.length}\r\n\r\n")
      .getBytes(US_ASCII) ++ body

  final case class CrawlOut(docIds: Array[Long], packed: Array[(Long, Long, Long)])
}
