package graft.gates

import graft.dedup.SuffixDedup
import graft.streaming.{ChunkIngest, DriftStream, GzipStream, ZstdStream}
import graft.text.{Boilerplate, Bpe, Chunking, Cleaning, CompressedIngest,
  CorpusPipeline, CrawlExtract, Embed, HtmlIngest, QualityClassifier, Sampling,
  SequencePacking, TextAnalysis}

/** The `text_` gates: the training-data text pipeline (ingest, cleaning,
  * quality, tokenization, mixing, packing). */
object TextGates {

  val BpeMerges = Dump("bpe_merges")
  val ClfWeights = Dump("clf_weights")
  // the semantic funnel trains ITS OWN run's codebook under its own kind:
  // sharing `semdedup_cents` would let whichever gate ran later
  // overwrite the other's dump with a retrain and break the first
  // gate's hash whenever the two codebooks are not bit-identical
  val SemdedupFunnelCents = Dump("semdedup_funnel_cents")

  val gates: Seq[Gate] = Seq(
    // text_sample: md5-prefix threshold — byte-identical across engines
    Gate("text_sample", (s, dir) => Sampling.sampleDocuments(s, dir),
      _ => Sampling.sampleDocumentsOracleSql),
    Gate("text_sample_topk", (s, dir) => Sampling.sampleTopKDocuments(s, dir),
      _ => """WITH r AS (
        |  SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY substr(md5(CAST(doc_id AS VARCHAR) || ':42'), 1, 15),
        |               doc_id) AS rn
        |  FROM documents)
        |SELECT doc_id, lang FROM r WHERE rn <= 20""".stripMargin),
    // span-level decontamination: extents shared with benchmark docs
    // (doc_id % 37 == 0, text_decontam's split) — the excision list
    // span-level decontamination: same island merge, flagging = window
    // present in any benchmark (doc_id % 37 = 0) document
    Gate("text_decontam_spans", (s, dir) =>
      SuffixDedup.benchmarkSpans(s, dir, minSpan = 8),
      _ => """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS t
        |  FROM documents),
        |w AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, len(t) - 6),
        |      i -> struct_pack(off := i - 1, win := array_to_string(t[i:i+7], ' ')))) AS p
        |  FROM toks WHERE len(t) >= 8),
        |pos AS (SELECT doc_id, p.off AS off, p.win AS win FROM w),
        |hot AS (SELECT DISTINCT win FROM pos WHERE doc_id % 37 = 0),
        |f AS (SELECT p.doc_id, p.off FROM pos p JOIN hot h ON p.win = h.win
        |      WHERE p.doc_id % 37 <> 0),
        |lagged AS (SELECT doc_id, off,
        |    lag(off) OVER (PARTITION BY doc_id ORDER BY off) AS prev FROM f),
        |isl AS (SELECT doc_id, off,
        |    sum(CASE WHEN prev IS NULL OR off - prev > 8 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY doc_id ORDER BY off) AS isle FROM lagged)
        |SELECT doc_id, CAST(min(off) AS BIGINT) AS span_start,
        |  CAST(max(off) + 8 AS BIGINT) AS span_end
        |FROM isl GROUP BY doc_id, isle""".stripMargin),
    // detect ∘ excise: the training corpus with benchmark-overlapping
    // extents cut out — the decontamination act itself
    // detect ∘ excise: extents from the text_decontam_spans chain,
    // then token-level anti-join + ordered re-join; empty-after-cut
    // and span-free docs kept via the documents left join
    Gate("text_excise", (s, dir) =>
      SuffixDedup.exciseBenchmarkSpans(s, dir),
      _ => """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS t
        |  FROM documents),
        |w AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, len(t) - 6),
        |      i -> struct_pack(off := i - 1, win := array_to_string(t[i:i+7], ' ')))) AS p
        |  FROM toks WHERE len(t) >= 8),
        |pos AS (SELECT doc_id, p.off AS off, p.win AS win FROM w),
        |hot AS (SELECT DISTINCT win FROM pos WHERE doc_id % 37 = 0),
        |f AS (SELECT p.doc_id, p.off FROM pos p JOIN hot h ON p.win = h.win
        |      WHERE p.doc_id % 37 <> 0),
        |lagged AS (SELECT doc_id, off,
        |    lag(off) OVER (PARTITION BY doc_id ORDER BY off) AS prev FROM f),
        |isl AS (SELECT doc_id, off,
        |    sum(CASE WHEN prev IS NULL OR off - prev > 8 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY doc_id ORDER BY off) AS isle FROM lagged),
        |ext AS (SELECT doc_id, min(off) AS s, max(off) + 8 AS e
        |        FROM isl GROUP BY doc_id, isle),
        |tokpos AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, len(t) + 1),
        |      i -> struct_pack(off := i - 1, tok := t[i]))) AS q
        |  FROM toks),
        |kept AS (
        |  SELECT tp.doc_id, tp.q.off AS off, tp.q.tok AS tok
        |  FROM tokpos tp
        |  WHERE tp.doc_id % 37 <> 0 AND NOT EXISTS (
        |    SELECT 1 FROM ext e WHERE e.doc_id = tp.doc_id
        |      AND tp.q.off >= e.s AND tp.q.off < e.e)),
        |agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY off) AS clean_text,
        |        count(*) AS n_kept FROM kept GROUP BY doc_id),
        |nt AS (SELECT doc_id, len(t) AS n_toks FROM toks)
        |SELECT d.doc_id, coalesce(a.clean_text, '') AS clean_text,
        |  CAST(nt.n_toks - coalesce(a.n_kept, 0) AS BIGINT) AS n_removed
        |FROM documents d
        |JOIN nt ON nt.doc_id = d.doc_id
        |LEFT JOIN agg a ON a.doc_id = d.doc_id
        |WHERE d.doc_id % 37 <> 0""".stripMargin),
    // the flagship pipeline with span decontamination up front —
    // excise → scrub → quality → dedup → pack, one program, one oracle
    // flagship composition: the text_excise chain feeding the packing
    // chain. The scrub stage is a provable no-op on excised text
    // (alpha tokens only — no URLs/emails/extra whitespace survive
    // tokenization), so the oracle chains excision straight into the
    // token-count/quality/dedup/pack CTEs of text_pipeline.
    Gate("text_pipeline_decontam", (s, dir) =>
      CorpusPipeline.prepareDecontaminated(s, dir),
      _ => """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS t
        |  FROM documents),
        |w AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, len(t) - 6),
        |      i -> struct_pack(off := i - 1, win := array_to_string(t[i:i+7], ' ')))) AS p
        |  FROM toks WHERE len(t) >= 8),
        |pos AS (SELECT doc_id, p.off AS off, p.win AS win FROM w),
        |hot AS (SELECT DISTINCT win FROM pos WHERE doc_id % 37 = 0),
        |f AS (SELECT p.doc_id, p.off FROM pos p JOIN hot h ON p.win = h.win
        |      WHERE p.doc_id % 37 <> 0),
        |lagged AS (SELECT doc_id, off,
        |    lag(off) OVER (PARTITION BY doc_id ORDER BY off) AS prev FROM f),
        |isl AS (SELECT doc_id, off,
        |    sum(CASE WHEN prev IS NULL OR off - prev > 8 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY doc_id ORDER BY off) AS isle FROM lagged),
        |ext AS (SELECT doc_id, min(off) AS s, max(off) + 8 AS e
        |        FROM isl GROUP BY doc_id, isle),
        |tokpos AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, len(t) + 1),
        |      i -> struct_pack(off := i - 1, tok := t[i]))) AS q
        |  FROM toks),
        |kept AS (
        |  SELECT tp.doc_id, tp.q.off AS off, tp.q.tok AS tok
        |  FROM tokpos tp
        |  WHERE tp.doc_id % 37 <> 0 AND NOT EXISTS (
        |    SELECT 1 FROM ext e WHERE e.doc_id = tp.doc_id
        |      AND tp.q.off >= e.s AND tp.q.off < e.e)),
        |exc AS (
        |  SELECT d.doc_id, coalesce(a.ct, '') AS ct, coalesce(a.n_kept, 0) AS n_tokens
        |  FROM (SELECT doc_id FROM documents WHERE doc_id % 37 <> 0) d
        |  LEFT JOIN (SELECT doc_id, string_agg(tok, ' ' ORDER BY off) AS ct,
        |             count(*) AS n_kept FROM kept GROUP BY doc_id) a
        |    ON a.doc_id = d.doc_id),
        |q AS (SELECT * FROM exc WHERE n_tokens >= 5),
        |dd AS (SELECT min(doc_id) AS doc_id FROM q GROUP BY md5(ct)),
        |k AS (SELECT q.doc_id, q.n_tokens FROM q JOIN dd ON q.doc_id = dd.doc_id),
        |pk AS (
        |  SELECT doc_id, n_tokens,
        |    coalesce(sum(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre
        |  FROM k)
        |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST(pre // 512 AS BIGINT) AS pack_id
        |FROM pk""".stripMargin),
    // the eval-integrity report: per benchmark doc, how much of it
    // appears verbatim in the training corpus
    // leak profile: benchmark-side window membership in the corpus
    // window set, counted per benchmark doc
    Gate("text_leak_profile", (s, dir) =>
      SuffixDedup.benchmarkLeakProfile(s, dir),
      _ => """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS t
        |  FROM documents),
        |w AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, len(t) - 6),
        |      i -> array_to_string(t[i:i+7], ' '))) AS win
        |  FROM toks WHERE len(t) >= 8),
        |corpus AS (SELECT DISTINCT win FROM w WHERE doc_id % 37 <> 0),
        |bench AS (SELECT doc_id, win FROM w WHERE doc_id % 37 = 0)
        |SELECT b.doc_id,
        |  count(*) AS n_windows,
        |  CAST(coalesce(sum(CASE WHEN c.win IS NOT NULL THEN 1 END), 0)
        |       AS BIGINT) AS n_leaked,
        |  CAST(coalesce(sum(CASE WHEN c.win IS NOT NULL THEN 1 END), 0) * 100
        |       >= count(*) * 10 AS INT) AS is_compromised
        |FROM bench b LEFT JOIN corpus c ON b.win = c.win
        |GROUP BY b.doc_id""".stripMargin),
    // the amortized production shape: ONE rank pass, all four span
    // consumers (spans/excise/leak/pack) as a tagged union
    // the amortized suite: the four span-gate CTE chains fused into
    // ONE shared WITH (toks→pos→hot→f→isl→ext→kept→agg feeds all
    // four heads) + a tagged UNION ALL — exactly the one-rank-pass
    // program the Spark side runs
    Gate("text_decontam_suite", (s, dir) =>
      SuffixDedup.decontamSuite(s, dir),
      _ => """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS t
        |  FROM documents),
        |w AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, len(t) - 6),
        |      i -> struct_pack(off := i - 1, win := array_to_string(t[i:i+7], ' ')))) AS p
        |  FROM toks WHERE len(t) >= 8),
        |pos AS (SELECT doc_id, p.off AS off, p.win AS win FROM w),
        |hot AS (SELECT DISTINCT win FROM pos WHERE doc_id % 37 = 0),
        |f AS (SELECT p.doc_id, p.off FROM pos p JOIN hot h ON p.win = h.win
        |      WHERE p.doc_id % 37 <> 0),
        |lagged AS (SELECT doc_id, off,
        |    lag(off) OVER (PARTITION BY doc_id ORDER BY off) AS prev FROM f),
        |isl AS (SELECT doc_id, off,
        |    sum(CASE WHEN prev IS NULL OR off - prev > 8 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY doc_id ORDER BY off) AS isle FROM lagged),
        |ext AS (SELECT doc_id, min(off) AS s, max(off) + 8 AS e
        |        FROM isl GROUP BY doc_id, isle),
        |tokpos AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, len(t) + 1),
        |      i -> struct_pack(off := i - 1, tok := t[i]))) AS q
        |  FROM toks),
        |kept AS (
        |  SELECT tp.doc_id, tp.q.off AS off, tp.q.tok AS tok
        |  FROM tokpos tp
        |  WHERE tp.doc_id % 37 <> 0 AND NOT EXISTS (
        |    SELECT 1 FROM ext e WHERE e.doc_id = tp.doc_id
        |      AND tp.q.off >= e.s AND tp.q.off < e.e)),
        |agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY off) AS ct,
        |        count(*) AS n_kept FROM kept GROUP BY doc_id),
        |nt AS (SELECT doc_id, len(t) AS n_toks FROM toks),
        |exc AS (
        |  SELECT d.doc_id, coalesce(a.ct, '') AS ct, coalesce(a.n_kept, 0) AS n_tokens
        |  FROM (SELECT doc_id FROM documents WHERE doc_id % 37 <> 0) d
        |  LEFT JOIN agg a ON a.doc_id = d.doc_id),
        |q AS (SELECT * FROM exc WHERE n_tokens >= 5),
        |dd AS (SELECT min(doc_id) AS doc_id FROM q GROUP BY md5(ct)),
        |k AS (SELECT q.doc_id, q.n_tokens FROM q JOIN dd ON q.doc_id = dd.doc_id),
        |pk AS (
        |  SELECT doc_id, n_tokens,
        |    coalesce(sum(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre
        |  FROM k),
        |corpus AS (SELECT DISTINCT win FROM pos WHERE doc_id % 37 <> 0),
        |bench AS (SELECT doc_id, win FROM pos WHERE doc_id % 37 = 0)
        |SELECT 'spans' AS part, doc_id, CAST(min(off) AS BIGINT) AS v1,
        |  CAST(max(off) + 8 AS BIGINT) AS v2, CAST(NULL AS BIGINT) AS v3,
        |  CAST(NULL AS VARCHAR) AS txt
        |FROM isl GROUP BY doc_id, isle
        |UNION ALL
        |SELECT 'excise', d.doc_id,
        |  CAST(nt.n_toks - coalesce(a.n_kept, 0) AS BIGINT),
        |  CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), coalesce(a.ct, '')
        |FROM documents d
        |JOIN nt ON nt.doc_id = d.doc_id
        |LEFT JOIN agg a ON a.doc_id = d.doc_id
        |WHERE d.doc_id % 37 <> 0
        |UNION ALL
        |SELECT 'leak', b.doc_id, CAST(count(*) AS BIGINT),
        |  CAST(coalesce(sum(CASE WHEN c.win IS NOT NULL THEN 1 END), 0) AS BIGINT),
        |  CAST(coalesce(sum(CASE WHEN c.win IS NOT NULL THEN 1 END), 0) * 100
        |       >= count(*) * 10 AS BIGINT),
        |  CAST(NULL AS VARCHAR)
        |FROM bench b LEFT JOIN corpus c ON b.win = c.win
        |GROUP BY b.doc_id
        |UNION ALL
        |SELECT 'pack', doc_id, CAST(n_tokens AS BIGINT),
        |  CAST(pre // 512 AS BIGINT), CAST(NULL AS BIGINT),
        |  CAST(NULL AS VARCHAR)
        |FROM pk""".stripMargin),
    // ---- text analysis ----
    // compressed-crawl ingestion: per-doc gzip members decoded
    // through the production gunzip (truncated rows pin the
    // fallback); counts of the DECODED text against the plain column
    // deflate content-encoding ingest: BOTH wild flavors (zlib
    // wrapper and raw deflate) through one sniff; oracle = the
    // decoded text's counts (the gzip gate's shape)
    Gate("text_deflate_ingest", (s, dir) =>
      CompressedIngest.deflateIngestReport(s, dir),
      _ => """SELECT doc_id,
        |  CAST(CASE WHEN doc_id % 5 = 3 THEN -1
        |    ELSE len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))
        |  END AS BIGINT) AS n_tokens,
        |  CAST(CASE WHEN doc_id % 5 = 3 THEN -1
        |    ELSE length(text) END AS BIGINT) AS n_chars
        |FROM documents""".stripMargin),
    // zstd ingest: real RFC 8878 frames (Huffman literals, FSE
    // sequences, repcodes, checksum) through the pure-JVM decoder;
    // skippable-frame, multi-frame (.jsonl.zst shard) and DICTIONARY
    // (id-resolved, content-prefixed) classes
    Gate("text_zstd_ingest", (s, dir) =>
      CompressedIngest.zstdIngestReport(s, dir),
      _ => """SELECT doc_id,
        |  CAST(CASE WHEN doc_id % 5 = 3 THEN -1
        |    ELSE len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))
        |  END AS BIGINT) AS n_tokens,
        |  CAST(CASE WHEN doc_id % 5 = 3 THEN -1
        |    ELSE length(text) END AS BIGINT) AS n_chars
        |FROM documents""".stripMargin),
    // LZ4 ingest: real frame-format payloads (the Kafka/Hadoop-side
    // compression) through the pure-JVM decoder, lz4-java-pinned
    Gate("text_lz4_ingest", (s, dir) =>
      CompressedIngest.lz4IngestReport(s, dir),
      _ => """SELECT doc_id,
        |  CAST(CASE WHEN doc_id % 5 = 3 THEN -1
        |    ELSE len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))
        |  END AS BIGINT) AS n_tokens,
        |  CAST(CASE WHEN doc_id % 5 = 3 THEN -1
        |    ELSE length(text) END AS BIGINT) AS n_chars
        |FROM documents""".stripMargin),
    // snappy ingest: raw blocks (the Parquet/Kafka shape) + framed
    // .sz chunks through the pure-JVM decoder, snappy-java-pinned
    Gate("text_snappy_ingest", (s, dir) =>
      CompressedIngest.snappyIngestReport(s, dir),
      _ => """SELECT doc_id,
        |  CAST(CASE WHEN doc_id % 5 = 3 THEN -1
        |    ELSE len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))
        |  END AS BIGINT) AS n_tokens,
        |  CAST(CASE WHEN doc_id % 5 = 3 THEN -1
        |    ELSE length(text) END AS BIGINT) AS n_chars
        |FROM documents""".stripMargin),
    // WARC ingest: the crawl container itself (ISO 28500, the
    // CommonCrawl per-record-gzip shape) down to the HTTP payload
    // warc-ingest: 3 records per doc (warcinfo + request + response);
    // decoded response-payload counts from the plain text column;
    // truncated slices (id % 5 = 3) owe the (-1, -1, -1) fallback
    Gate("text_warc_ingest", (s, dir) =>
      CompressedIngest.warcIngestReport(s, dir),
      _ => """SELECT doc_id,
        |  CAST(CASE WHEN doc_id % 5 = 3 THEN -1 ELSE 3 END AS BIGINT)
        |    AS n_records,
        |  CAST(CASE WHEN doc_id % 5 = 3 THEN -1
        |    ELSE len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))
        |  END AS BIGINT) AS n_tokens,
        |  CAST(CASE WHEN doc_id % 5 = 3 THEN -1
        |    ELSE length(text) END AS BIGINT) AS n_chars
        |FROM documents""".stripMargin),
    // WARC shard → slice splitting by gzip member boundaries (the
    // random-access CommonCrawl property): slice-parse must equal
    // whole-shard parse before any row reports
    // warc-split: the shard's 3 members slice apart and re-parse to
    // the same records; counts from the response payload (plain text
    // column); truncated shards (id % 5 = 3, cut mid-member) owe -1s
    Gate("text_warc_split", (s, dir) =>
      CompressedIngest.warcSplitReport(s, dir),
      _ => """SELECT doc_id,
        |  CAST(CASE WHEN doc_id % 5 = 3 THEN -1 ELSE 3 END AS BIGINT)
        |    AS n_slices,
        |  CAST(CASE WHEN doc_id % 5 = 3 THEN -1
        |    ELSE len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))
        |  END AS BIGINT) AS n_tokens,
        |  CAST(CASE WHEN doc_id % 5 = 3 THEN -1
        |    ELSE length(text) END AS BIGINT) AS n_chars
        |FROM documents""".stripMargin),
    // HTML → text extraction (WHATWG rules, HTMLEditorKit-pinned):
    // tag/script/style/template strip, entities, block newlines
    // html-extract: every well-formed class extracts to exactly
    // "Doc {id}\nDoc {id}\n{text}\nend of doc" — 7 extra tokens, and
    // 2*len("Doc {id}") + len("end of doc") + 3 newlines = +13 chars;
    // the entity class (id % 7 = 1) appends the LEGACY-reference
    // suffix " © & é é" (&copy &AMP &eacute &#233 — semicolonless
    // forms) = +4 tokens / +8 chars; the malformed class
    // (unterminated <script>, id % 5 = 3) owes -1
    Gate("text_html_extract", (s, dir) =>
      HtmlIngest.htmlExtractReport(s, dir),
      _ => """SELECT doc_id,
        |  CAST(CASE WHEN doc_id % 5 = 3 THEN -1
        |    ELSE len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) + 7
        |      + CASE WHEN doc_id % 7 = 1 THEN 4 ELSE 0 END
        |  END AS BIGINT) AS n_tokens,
        |  CAST(CASE WHEN doc_id % 5 = 3 THEN -1
        |    ELSE length(text) + 2 * length('Doc ' || CAST(doc_id AS VARCHAR)) + 13
        |      + CASE WHEN doc_id % 7 = 1 THEN 8 ELSE 0 END
        |  END AS BIGINT) AS n_chars
        |FROM documents""".stripMargin),
    // the crawl chain end-to-end: warc → http → charset (WHATWG
    // precedence incl. lying signals) → html → text
    // warc-html: charset class = doc_id % 4 (utf-8 header / cp1252
    // header over a lying meta / meta-only iso-8859-1 label → cp1252
    // per WHATWG / BOM over a lying header). The title's code-point
    // sum pins the DECODE char-for-char (a latin-1 misread of cp1252
    // byte 0x80 or a cp1252 misread of the BOM page changes it); the
    // count columns add the per-class title tokens/chars to the plain
    // column's own. Truncated rows (id % 5 = 3) owe the fallback.
    Gate("text_warc_html", (s, dir) =>
      HtmlIngest.warcHtmlReport(s, dir),
      _ => """SELECT doc_id,
        |  CASE WHEN doc_id % 5 = 3 THEN ''
        |    WHEN doc_id % 4 IN (1, 2) THEN 'windows-1252'
        |    ELSE 'UTF-8' END AS charset,
        |  CAST(CASE WHEN doc_id % 5 = 3 THEN -1
        |    WHEN doc_id % 4 = 0 THEN 10907
        |    WHEN doc_id % 4 = 1 THEN 18232
        |    WHEN doc_id % 4 = 2 THEN 1561
        |    ELSE 10790 END AS BIGINT) AS head_cp_sum,
        |  CAST(CASE WHEN doc_id % 5 = 3 THEN -1
        |    ELSE len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))
        |      + CASE WHEN doc_id % 4 IN (1, 2) THEN 4 ELSE 3 END + 3
        |  END AS BIGINT) AS n_tokens,
        |  CAST(CASE WHEN doc_id % 5 = 3 THEN -1
        |    ELSE length(text)
        |      + CASE WHEN doc_id % 4 = 0 THEN 13 WHEN doc_id % 4 = 1 THEN 22
        |             WHEN doc_id % 4 = 2 THEN 15 ELSE 11 END + 12
        |  END AS BIGINT) AS n_chars
        |FROM documents""".stripMargin),
    // the whole chain as ONE operator (shard → slices → records →
    // content-coding → charset → html → text): truncated shards
    // yield NO rows — the failure-honesty contract
    // crawl-extract: the one-call operator over per-doc shards; same
    // class constants as text_warc_html (incl. the chunked /
    // gzip-then-chunked transfer classes, which change the wire
    // bytes but not the text), but truncated docs AND declined media
    // types (application/pdf, id % 7 = 6) vanish from the output (no
    // fallback rows) — the oracle filters both; the text/plain class
    // (id % 7 = 5) bypasses the HTML tokenizer, so its literal
    // "<tag>" survives and its single line is the whole body; the
    // response record is always the shard's third member (idx 2)
    Gate("text_crawl_extract", (s, dir) =>
      CrawlExtract.crawlExtractReport(s, dir),
      _ => """SELECT doc_id,
        |  CAST(2 AS BIGINT) AS member,
        |  'https://example.org/page/' || CAST(doc_id AS VARCHAR) AS uri,
        |  CASE WHEN doc_id % 7 = 5 THEN 'UTF-8'
        |    WHEN doc_id % 4 IN (1, 2) THEN 'windows-1252'
        |    ELSE 'UTF-8' END AS charset,
        |  CAST(CASE WHEN doc_id % 7 = 5 THEN
        |      list_aggregate(list_transform(
        |        string_split(text || ' plain <tag> kept', ''),
        |        x -> ascii(x)), 'sum')
        |    WHEN doc_id % 4 = 0 THEN 10907
        |    WHEN doc_id % 4 = 1 THEN 18232
        |    WHEN doc_id % 4 = 2 THEN 1561
        |    ELSE 10790 END AS BIGINT) AS head_cp_sum,
        |  CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))
        |    + CASE WHEN doc_id % 7 = 5 THEN 3
        |        WHEN doc_id % 4 IN (1, 2) THEN 7 ELSE 6 END
        |    AS BIGINT) AS n_tokens,
        |  CAST(length(text)
        |    + CASE WHEN doc_id % 7 = 5 THEN 17
        |        WHEN doc_id % 4 = 0 THEN 25 WHEN doc_id % 4 = 1 THEN 34
        |        WHEN doc_id % 4 = 2 THEN 27 ELSE 23 END
        |    AS BIGINT) AS n_chars
        |FROM documents WHERE doc_id % 5 <> 3 AND doc_id % 7 <> 6""".stripMargin),
    // WET extracted-text containers (the OTHER CommonCrawl shape:
    // conversion records carrying already-extracted plain text)
    // wet-ingest: conversion-record plain text; the UTF-16LE class
    // (id % 4 = 1) pins that the record's Content-Type charset
    // parameter is read; truncated containers owe (-1, -1)
    Gate("text_wet_ingest", (s, dir) =>
      CompressedIngest.wetIngestReport(s, dir),
      _ => """SELECT doc_id,
        |  CAST(CASE WHEN doc_id % 5 = 3 THEN -1
        |    ELSE len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))
        |  END AS BIGINT) AS n_tokens,
        |  CAST(CASE WHEN doc_id % 5 = 3 THEN -1
        |    ELSE length(text) END AS BIGINT) AS n_chars
        |FROM documents""".stripMargin),
    // boilerplate removal (jusText/boilerpipe-style link-density
    // blocks): nav/share/footer dropped, main content kept exactly
    // html-main: boilerplate blocks (nav/share/footer/link farms +
    // the link-free no-stopword crumb + the over-threshold boundary
    // blocks) drop; every well-formed class keeps the document text
    // PLUS the two at-threshold boundary keepers — link density
    // exactly 0.4 (50 chars / 7 tokens) and exactly 25 canonical
    // chars (8 tokens) — a fixed +15 tokens / +77 chars (75 + 2
    // joining newlines); malformed (id % 5 = 3, unterminated script)
    // owes (-1, -1)
    Gate("text_html_main", (s, dir) =>
      Boilerplate.htmlMainReport(s, dir),
      _ => """SELECT doc_id,
        |  CAST(CASE WHEN doc_id % 5 = 3 THEN -1
        |    ELSE len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) + 15
        |  END AS BIGINT) AS n_tokens,
        |  CAST(CASE WHEN doc_id % 5 = 3 THEN -1
        |    ELSE length(text) + 77 END AS BIGINT) AS n_chars
        |FROM documents""".stripMargin),
    // streaming zstd ingest: ordered batches through the delta-log
    // must reassemble to EXACTLY the one-shot batch report
    // the streaming replay owes the identical frame — same oracle
    Gate("text_zstd_ingest_stream", (s, dir) =>
      ZstdStream.ingestStream(s, dir),
      _ => """SELECT doc_id,
        |  CAST(CASE WHEN doc_id % 5 = 3 THEN -1
        |    ELSE len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))
        |  END AS BIGINT) AS n_tokens,
        |  CAST(CASE WHEN doc_id % 5 = 3 THEN -1
        |    ELSE length(text) END AS BIGINT) AS n_chars
        |FROM documents""".stripMargin),
    // streaming gzip ingest: ordered batches through the delta-log
    // (mid-stream staged compaction) must reassemble to EXACTLY the
    // one-shot batch report — the oracle is the batch twin's SQL
    // the streaming replay owes the identical frame — same oracle
    Gate("text_gzip_ingest_stream", (s, dir) =>
      GzipStream.ingestStream(s, dir),
      _ => """SELECT doc_id,
        |  CAST(CASE WHEN doc_id % 5 = 3 THEN -1
        |    ELSE len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))
        |  END AS BIGINT) AS n_tokens,
        |  CAST(CASE WHEN doc_id % 5 = 3 THEN -1
        |    ELSE length(text) END AS BIGINT) AS n_chars
        |FROM documents""".stripMargin),
    // gzip-ingest: the oracle recomputes the DECODED text's counts
    // from the plain text column (whitespace tokens + character
    // count, the text_tokens definitions); truncated members
    // (id % 5 = 3) owe the (-1, -1) fallback
    Gate("text_gzip_ingest", (s, dir) =>
      CompressedIngest.ingestReport(s, dir),
      _ => """SELECT doc_id,
        |  CAST(CASE WHEN doc_id % 5 = 3 THEN -1
        |    ELSE len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))
        |  END AS BIGINT) AS n_tokens,
        |  CAST(CASE WHEN doc_id % 5 = 3 THEN -1
        |    ELSE length(text) END AS BIGINT) AS n_chars
        |FROM documents""".stripMargin),
    Gate("text_tokens", (s, dir) => TextAnalysis.tokenCount(s, dir),
      _ => """SELECT doc_id,
        |  len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS n_tokens,
        |  length(text) AS n_chars,
        |  length(regexp_replace(lower(text), '[^a-z]', '', 'g')) // 4 AS n_subwords_est
        |FROM documents""".stripMargin),
    // token-budget mixture plan: per-language available tokens vs the
    // mixture weights' targets, and the epochs/resid-sampling rates
    // the targets imply (one scan, <=|langs| groups — the LLaMA-style
    // domain-mixture table a training run starts from)
    // mixture plan: catalog lang + whitespace token counts rolled up
    // per lang, then the closed-form budget arithmetic — weights and
    // budget are the literals the Spark side bakes in; all divisions
    // positive-truncating on both engines
    Gate("text_mix_plan", (s, dir) => TextAnalysis.mixPlan(s, dir),
      _ => textMixPlanSql),
    // the plan EXECUTED: one (lang, doc_id, epoch) membership row per
    // prescribed pass — full epochs for every domain doc, the
    // residual pass as a deterministic id-hash sample at resid_ppm
    // (threshold computed in-plan; broadcast join + explode, no
    // shuffle)
    // the executor: the plan fragment broadcast onto documents,
    // exploded to epochs; the residual pass is the md5-prefix sample
    // with its threshold computed in-SQL from resid_ppm (pure bigint
    // -> printf, identical in both engines)
    Gate("text_mix_epochs", (s, dir) => TextAnalysis.mixEpochs(s, dir),
      _ => textMixEpochsSql),
    // the training ORDER over that membership: epochs sequential,
    // per-epoch deterministic md5 shuffle, two-pass globalRank (no
    // single-partition window)
    // the epoch-aware training order: epochs sequential, per-epoch
    // md5 shuffle (fresh permutation every pass), doc_id tiebreak —
    // the oracle's global OVER (ORDER BY) is oracle-side only; the
    // engine ranks via the two-pass globalRank
    Gate("text_mix_order", (s, dir) => TextAnalysis.mixOrder(s, dir),
      _ => textMixOrderSql),
    // the curriculum twin: every epoch presents clean docs first
    // (is_quality DESC inside the epoch, fresh shuffle among equals);
    // same membership, flag carried from the one scan
    // curriculum twin: same membership, quality flag joined from the
    // shared quality fragment, is_quality DESC inside each epoch
    Gate("text_mix_order_curriculum", (s, dir) =>
      TextAnalysis.mixOrderCurriculum(s, dir),
      _ => s"""WITH me AS ($textMixEpochsSql),
         |qf AS (SELECT doc_id, CAST(is_quality AS BIGINT) AS is_quality
         |  FROM ($textQualitySql))
         |SELECT me.lang, me.doc_id, me.epoch, qf.is_quality,
         |  CAST(row_number() OVER (ORDER BY me.epoch, qf.is_quality DESC,
         |    md5(CAST(me.doc_id AS VARCHAR) || ':' || CAST(me.epoch AS VARCHAR) || ':42'),
         |    me.doc_id) - 1 AS BIGINT) AS train_order
         |FROM me JOIN qf USING (doc_id)""".stripMargin),
    // decile-graded curriculum: corpus-wide stopword-ppm deciles via
    // the histogram-selection machinery, cleanest decile first
    // decile-graded curriculum: score = stopword ppm (truncating
    // bigint div, 0 for token-less docs), cutoffs = the corpus score
    // histogram's elements at ranks ceil(n·d/10) d=1..9 (the events
    // histogram-selection definition with the corpus as one group),
    // q_decile = #cutoffs strictly below the score, presented DESC
    // inside each epoch over the same md5 shuffle
    Gate("text_mix_order_bucketed", (s, dir) =>
      TextAnalysis.mixOrderBucketed(s, dir),
      _ => s"""WITH me AS ($textMixEpochsSql),
         |sc AS (SELECT doc_id,
         |    CASE WHEN n_tokens = 0 THEN 0
         |         ELSE CAST(n_stop AS BIGINT) * 1000000 // n_tokens END AS score
         |  FROM ($textQualitySql)),
         |h AS (SELECT score, count(*) AS c FROM sc GROUP BY score),
         |hc AS (SELECT score, c, sum(c) OVER (ORDER BY score) AS cum,
         |         sum(c) OVER () AS n FROM h),
         |cut AS (SELECT ds.d, hc.score AS cutoff
         |  FROM hc, (SELECT unnest(range(1, 10)) AS d) ds
         |  WHERE hc.cum - hc.c < CAST(ceil(hc.n * ds.d / 10.0) AS BIGINT)
         |    AND CAST(ceil(hc.n * ds.d / 10.0) AS BIGINT) <= hc.cum),
         |dec AS (SELECT sc.doc_id,
         |    CAST(coalesce(sum(CASE WHEN sc.score > cut.cutoff THEN 1 ELSE 0 END),
         |      0) AS BIGINT) AS q_decile
         |  FROM sc LEFT JOIN cut ON TRUE GROUP BY sc.doc_id)
         |SELECT me.lang, me.doc_id, me.epoch, dec.q_decile,
         |  CAST(row_number() OVER (ORDER BY me.epoch, dec.q_decile DESC,
         |    md5(CAST(me.doc_id AS VARCHAR) || ':' || CAST(me.epoch AS VARCHAR) || ':42'),
         |    me.doc_id) - 1 AS BIGINT) AS train_order
         |FROM me JOIN dec USING (doc_id)""".stripMargin),
    // the ordered mixture cut into fixed-token-budget OUTPUT SHARDS
    // (the artifact a data loader mounts): rank + token prefix-sum
    // fused into ONE globalRankPack layout — one shuffle where
    // order-then-pack would take two
    // the shard cut over that order: token prefix-sum div budget.
    // The oracle's global window cumsum is oracle-side only — the
    // engine's rank AND prefix sum come from one fused
    // globalRankPack layout (one shuffle, no single-partition window)
    Gate("text_mix_shards", (s, dir) => TextAnalysis.mixShards(s, dir),
      _ => s"""WITH mo AS ($textMixOrderSql),
         |tk AS (SELECT doc_id,
         |    len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS n_toks
         |  FROM documents)
         |SELECT mo.lang, mo.doc_id, mo.epoch, mo.train_order, tk.n_toks,
         |  CAST((sum(tk.n_toks) OVER (ORDER BY mo.train_order)
         |        - tk.n_toks) // 65536 AS BIGINT) AS shard_id
         |FROM mo JOIN tk USING (doc_id)""".stripMargin),
    // crawl-snapshot QA: per source, the top-3 tokens most over/
    // under-represented vs the REST of the corpus — integer ppm
    // rates (overflow-safe form), window partitioned by source
    // per-source token drift vs the rest of the corpus: ppm rates by
    // truncating bigint division (exact both engines), top-3 per
    // source by (drift DESC, token ASC); domain = tokens present in
    // the source
    Gate("text_source_drift", (s, dir) => TextAnalysis.sourceDrift(s, dir),
      _ => textSourceDriftSql),
    // the STREAMING monitor: per-batch additive count subdirs
    // (retry-idempotent overwrite), report over everything ingested —
    // equals the one-shot report exactly (counts are additive)
    // the streaming monitor lands additive per-batch count subdirs;
    // sum of batch counts == counts of the whole corpus, so the
    // monitor's report equals the one-shot oracle VERBATIM
    Gate("text_source_drift_stream", (s, dir) =>
      DriftStream.sourceDriftStream(s, dir),
      _ => textSourceDriftSql),
    // the monitor's COMPACTION forced through the same oracle: the
    // committed prefix folds mid-stream, the last batch lands above,
    // the report must still hash-match the one-shot form
    // compaction forced through the one-shot oracle (counts additive,
    // fold-invariant by construction — the gate pins it by hash)
    Gate("text_source_drift_compact", (s, dir) =>
      DriftStream.sourceDriftCompactStream(s, dir),
      _ => textSourceDriftSql),
    // semantic drift: which embedding-space regions a source over/
    // under-populates — axis-sign buckets, shared report stage
    // semantic twin: per-source distribution over axis-sign embedding
    // buckets (float sign test — engine-exact on the stored value)
    Gate("text_source_drift_semantic", (s, dir) =>
      TextAnalysis.sourceDriftSemantic(s, dir),
      _ => textSourceDriftSemanticSql),
    // sliding token-window chunking (RAG / context-window splitter):
    // map-only, no shuffle; boundaries line up with Tok.alphaToks
    // sliding token-window chunking: pure integer arithmetic over the
    // shared tokenizer — chunk count 1 + ceil((n-w)/s) for n > w,
    // 1-based inclusive slices on both engines
    Gate("text_chunk", (s, dir) => Chunking.chunks(s, dir),
      _ => """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS t
        |  FROM documents),
        |nz AS (SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) >= 1),
        |ch AS (SELECT doc_id, t, n,
        |    unnest(range(0, CASE WHEN n <= 64 THEN 1
        |                        ELSE 1 + (n - 64 + 47) // 48 END)) AS chunk_id
        |  FROM nz)
        |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
        |  CAST(chunk_id * 48 AS BIGINT) AS tok_start,
        |  CAST(least(n - chunk_id * 48, 64) AS BIGINT) AS n_tokens,
        |  array_to_string(t[chunk_id * 48 + 1 :
        |                    chunk_id * 48 + least(64, n - chunk_id * 48)], ' ') AS chunk
        |FROM ch""".stripMargin),
    // chunking over the BPE token-id stream (the production context-
    // budget unit): flat (doc, chunk, pos_in_chunk, token_id) rows
    // chunking over the BPE id stream: the ids CTE is text_bpe_ids'
    // re-derivation verbatim (dumped merges faith), then the same
    // integer chunk arithmetic — membership range per id row
    Gate("text_chunk_ids", (s, dir) =>
      Chunking.chunkIds(s, dir, mergesDump = BpeMerges.sink(dir)),
      dir => s"""WITH RECURSIVE
         |bmerges AS (SELECT ord, a, b FROM read_parquet('${BpeMerges.glob(dir)}')),
         |dw AS (
         |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z]+'),
         |    x -> x <> '') AS ws
         |  FROM documents),
         |$bpeDeriveCtes,
         |$bpeVocabCte,
         |docw AS (
         |  SELECT doc_id, u.s.w AS w, u.s.wi AS wi
         |  FROM (SELECT doc_id,
         |          unnest(list_transform(ws, (x, i) -> {'w': x, 'wi': i})) AS s
         |        FROM dw) u),
         |flat AS (
         |  SELECT doc_id, wi, u.s.tok AS tok, u.s.ti AS ti
         |  FROM (SELECT d2.doc_id, d2.wi,
         |          unnest(list_transform(t2.ts, (x, i) -> {'tok': x, 'ti': i})) AS s
         |        FROM docw d2 JOIN btoks t2 USING (w)) u),
         |ids AS (
         |  SELECT f.doc_id,
         |    CAST(row_number() OVER (PARTITION BY f.doc_id ORDER BY f.wi, f.ti) - 1
         |      AS INT) AS pos,
         |    v.token_id
         |  FROM flat f JOIN bvocab v ON v.token = f.tok),
         |nn AS (SELECT doc_id, count(*) AS n FROM ids GROUP BY doc_id),
         |x AS (
         |  SELECT i.doc_id, i.pos, i.token_id,
         |    unnest(range(
         |      CASE WHEN i.pos < 64 THEN 0 ELSE (i.pos - 64) // 48 + 1 END,
         |      least(i.pos // 48,
         |            CASE WHEN nn.n <= 64 THEN 0
         |                 ELSE (nn.n - 64 + 47) // 48 END) + 1)) AS chunk_id
         |  FROM ids i JOIN nn USING (doc_id))
         |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
         |  CAST(pos - chunk_id * 48 AS BIGINT) AS pos_in_chunk, token_id
         |FROM x""".stripMargin),
    // chunk-then-pack: split long docs into windows, then fill fixed
    // token budgets — the pretraining batch-assembly shape
    // chunk CTE chained into the pack cumsum — the two components'
    // oracles composed, like text_pipeline's
    Gate("text_chunk_pack", (s, dir) => SequencePacking.packChunks(s, dir),
      _ => textChunkPackSql),
    // the STREAMING packer's semantics as a gate: four contiguous
    // doc_id-range micro-batches replayed in stream order, pack ids
    // continuing the carried token total — equals one-shot packChunks
    // (same oracle); arbitrary MemoryStream batching ≡ one-shot is
    // pinned in ChunkStreamSpec
    // the streaming packer replayed over contiguous doc_id-range
    // micro-batches continues the global prefix sum exactly, so the
    // one-shot oracle applies verbatim
    Gate("text_chunk_pack_stream", (s, dir) => {
      import org.apache.spark.sql.functions.{coalesce, col, lit, max}
      val docs = s.read.parquet(s"$dir/documents.parquet")
      // coalesce: an empty corpus must yield an empty frame (the
      // registry-wide contract), not an NPE off the null max
      val maxId = docs.agg(coalesce(max(col("doc_id")), lit(-1L)))
        .head().getLong(0)
      val step = maxId / 4 + 1
      val packer = new ChunkIngest.StreamPacker()
      (0 until 4).map { b =>
        packer.packBatch(docs.filter(
          col("doc_id") >= b * step && col("doc_id") < (b + 1) * step))
      }.reduce(_ unionByName _)
    },
      _ => textChunkPackSql),
    Gate("text_quality", (s, dir) => TextAnalysis.quality(s, dir),
      _ => textQualitySql),
    Gate("text_langid", (s, dir) => TextAnalysis.langId(s, dir),
      _ => textLangIdSql),
    Gate("text_fingerprint", (s, dir) => TextAnalysis.fingerprint(s, dir),
      _ => """SELECT doc_id,
        |  md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
        |FROM documents""".stripMargin),
    // integer feature-hash embedding (the hashing trick, FNV-31
    // buckets) + lexical nearest-neighbors over it — the hash-gated
    // twin of the Embed seam's HashEncoder
    // integer feature-hash embedding: FNV-1a-31 over unigrams+bigrams
    // (the text_classify FNV fold), signed parity buckets — every
    // weight integer-exact, no float faith anywhere
    Gate("text_embed_buckets", (s, dir) => Embed.hashBuckets(s, dir),
      _ => s"""WITH $embedBucketCtes
         |SELECT doc_id, CAST(bucket AS BIGINT) AS bucket, weight
         |FROM w""".stripMargin),
    // lexical top-k over the bucket vectors: integer dot and norms;
    // the ONE double op (dot / sqrt(n·n)) runs on identical integer
    // operands in both engines, ties to the lower neighbor id
    Gate("text_embed_topk", (s, dir) => Embed.bucketTopK(s, dir),
      _ => s"""WITH $embedBucketCtes,
         |n2 AS (SELECT doc_id, sum(weight * weight) AS n2 FROM w GROUP BY doc_id),
         |q AS (SELECT doc_id AS query_id, bucket, weight AS qw
         |      FROM w WHERE doc_id < 5),
         |dots AS (
         |  SELECT q.query_id, w.doc_id AS neighbor_id,
         |    sum(w.weight * q.qw) AS dot
         |  FROM w JOIN q ON w.bucket = q.bucket AND w.doc_id <> q.query_id
         |  GROUP BY 1, 2),
         |scored AS (
         |  SELECT query_id, neighbor_id,
         |    CAST(dot AS DOUBLE) /
         |      sqrt(CAST(dn.n2 AS DOUBLE) * CAST(qn.n2 AS DOUBLE)) AS cos
         |  FROM dots
         |  JOIN n2 dn ON dn.doc_id = neighbor_id
         |  JOIN n2 qn ON qn.doc_id = query_id),
         |r AS (
         |  SELECT query_id, neighbor_id, cos,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM scored)
         |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank,
         |  CAST(trunc(cos * 1000000) AS BIGINT) AS cos_micro
         |FROM r WHERE rank <= 10""".stripMargin),
    // chunk -> embed composed in one hash gate (the ingest pipeline's
    // chunk-level vectors)
    // the text_chunk CTE (same integer window arithmetic) chained
    // into the bucket CTEs — chunk text re-tokenizes to its own
    // tokens, so the fold is exact at the chunk level too
    Gate("text_chunk_embed", (s, dir) => Embed.chunkHashBuckets(s, dir),
      _ => s"""WITH toksC AS (
         |  SELECT doc_id,
         |    list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS t
         |  FROM documents),
         |nzC AS (SELECT doc_id, t, len(t) AS n FROM toksC WHERE len(t) >= 1),
         |chC AS (SELECT doc_id, t, n,
         |    unnest(range(0, CASE WHEN n <= 64 THEN 1
         |                        ELSE 1 + (n - 64 + 47) // 48 END)) AS chunk_id
         |  FROM nzC),
         |chunks AS (
         |  SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
         |    array_to_string(t[chunk_id * 48 + 1 :
         |                      chunk_id * 48 + least(64, n - chunk_id * 48)], ' ')
         |      AS chunk
         |  FROM chC),
         |${embedBucketCtesFrom("chunks", "doc_id, chunk_id", "chunk")}
         |SELECT doc_id, chunk_id, CAST(bucket AS BIGINT) AS bucket, weight
         |FROM w""".stripMargin),
    Gate("text_repetition", (s, dir) => TextAnalysis.repetition(s, dir),
      _ => """WITH b AS (
        |  SELECT doc_id,
        |    CASE WHEN len(t) >= 2 THEN
        |      list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])
        |    ELSE [] END AS bigrams
        |  FROM (SELECT doc_id,
        |          list_filter(string_split_regex(lower(text), '[^a-z]+'),
        |                      x -> x <> '') AS t
        |        FROM documents))
        |SELECT doc_id,
        |  len(bigrams) AS n_bigrams,
        |  len(list_distinct(bigrams)) AS n_distinct,
        |  CAST((len(bigrams) - len(list_distinct(bigrams))) * 10 >= len(bigrams)
        |       AND len(bigrams) > 0 AS INT) AS is_repetitive
        |FROM b""".stripMargin),
    // micro-unit quantization absorbs summation order + last-ulp ln()
    Gate("text_lm_score", (s, dir) => TextAnalysis.lmScore(s, dir),
      _ => """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
        |                       x -> x <> '')) AS tok
        |  FROM documents),
        |freqs AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok),
        |tot AS (SELECT count(*) AS total FROM toks)
        |SELECT doc_id, count(*) AS n_tokens,
        |  CAST(round(sum(ln(cnt / CAST(total AS DOUBLE))) / count(*) * 1000000)
        |       AS BIGINT) AS score_micro
        |FROM toks JOIN freqs USING (tok) CROSS JOIN tot
        |GROUP BY doc_id""".stripMargin),
    // rank over the QUANTIZED score both sides → integer-exact ordering
    Gate("text_tfidf", (s, dir) => TextAnalysis.tfIdfTop(s, dir),
      _ => """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
        |                       x -> x <> '')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        |idf AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM documents),
        |scored AS (
        |  SELECT doc_id, term,
        |    CAST(round(tf * ln(CAST(n AS DOUBLE) / df) * 1000000) AS BIGINT)
        |      AS score_micro
        |  FROM tf JOIN idf USING (term) CROSS JOIN n),
        |r AS (
        |  SELECT doc_id, term, score_micro,
        |    row_number() OVER (PARTITION BY doc_id
        |                       ORDER BY score_micro DESC, term) AS rank
        |  FROM scored)
        |SELECT doc_id, term, CAST(rank AS BIGINT) AS rank, score_micro
        |FROM r WHERE rank <= 3""".stripMargin),
    Gate("text_classify", (s, dir) => TextAnalysis.classify(s, dir),
      _ => """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
        |      x -> x <> '')) AS t
        |  FROM documents),
        |w AS (
        |  SELECT DISTINCT t,
        |    list_sum(list_transform(range(1, strlen(t) + 1),
        |      i -> ord(substr(t, CAST(i AS INT), 1)))) % 21 - 10 AS wt
        |  FROM toks)
        |SELECT toks.doc_id, CAST(sum(w.wt) AS BIGINT) AS score,
        |  CAST(sum(w.wt) > 0 AS INT) AS label
        |FROM toks JOIN w ON toks.t = w.t
        |GROUP BY toks.doc_id""".stripMargin),
    // the oracle's single-partition window cumsum IS the semantics;
    // the engine computes it as a two-pass distributed prefix sum
    Gate("text_pack", (s, dir) => SequencePacking.packDocuments(s, dir),
      _ => """WITH t AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n_tokens,
        |    coalesce(sum(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre
        |  FROM t)
        |SELECT doc_id, n_tokens, CAST(pre // 1024 AS BIGINT) AS pack_id
        |FROM c""".stripMargin),
    // deterministic seeded training-order permutation of the packs,
    // computed via the distributed global-rank primitive
    Gate("text_pack_order", (s, dir) =>
      SequencePacking.shuffledPackOrder(s, dir),
      _ => """WITH t AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n_tokens,
        |    coalesce(sum(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre
        |  FROM t),
        |packs AS (SELECT DISTINCT CAST(pre // 1024 AS BIGINT) AS pack_id FROM c)
        |SELECT pack_id,
        |  CAST(row_number() OVER (
        |    ORDER BY md5(CAST(pack_id AS VARCHAR) || ':42'), pack_id) - 1
        |    AS BIGINT) AS train_order
        |FROM packs""".stripMargin),
    Gate("text_clean", (s, dir) => Cleaning.clean(s, dir),
      _ => """WITH c AS (
        |  SELECT doc_id, CAST(strlen(text) AS BIGINT) AS bytes_in,
        |    trim(regexp_replace(
        |      regexp_replace(
        |        regexp_replace(text, 'https?://[^\s]+', '<url>', 'g'),
        |        '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<email>', 'g'),
        |      '\s+', ' ', 'g')) AS clean_text
        |  FROM documents)
        |SELECT doc_id, clean_text, bytes_in,
        |  CAST(strlen(clean_text) AS BIGINT) AS bytes_out
        |FROM c""".stripMargin),
    Gate("text_decontam", (s, dir) => Cleaning.contamination(s, dir),
      _ => textDecontamSql),
    // Bloom prefilter + exact verify join: false positives die in the
    // join, so the output is exact BY CONSTRUCTION (fpp only tunes
    // shuffle volume) — shares the exact oracle outright.
    Gate("text_decontam_bloom", (s, dir) => Cleaning.contaminationBloom(s, dir),
      _ => textDecontamSql),
    // token entropy: H = ln(n) − Σ c·ln(c)/n in micro-nats; the
    // micro-round absorbs last-ulp ln()/summation differences (the
    // lm_score discipline)
    Gate("text_entropy", (s, dir) => TextAnalysis.tokenEntropy(s, dir),
      _ => """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
        |                       x -> x <> '')) AS tok
        |  FROM documents),
        |c AS (SELECT doc_id, tok, count(*) AS cnt FROM toks GROUP BY doc_id, tok),
        |h AS (SELECT doc_id, sum(cnt) AS n, sum(cnt * ln(cnt)) AS clogc
        |      FROM c GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST(coalesce(h.n, 0) AS BIGINT) AS n_tokens,
        |  CAST(coalesce(round((ln(h.n) - h.clogc / h.n) * 1000000), 0) AS BIGINT)
        |    AS entropy_micro
        |FROM documents d LEFT JOIN h ON d.doc_id = h.doc_id""".stripMargin),
    // the per-(split, lang) rollup shipped with a curated corpus:
    // leak-safe split x langid x quality, one map-side-combined rollup
    // corpus report card: the split, langid and quality oracles
    // composed per doc (each the SHARED fragment its standalone gate
    // runs), then the same integer-exact rollup
    Gate("text_corpus_report", (s, dir) =>
      TextAnalysis.corpusReport(s, dir),
      _ => s"""WITH s AS (SELECT doc_id, split FROM (${DedupGates.dedupSplitSafeSql})),
         |l AS (SELECT doc_id, lang_pred FROM ($textLangIdSql)),
         |q AS (SELECT doc_id, n_tokens, n_alpha, is_quality
         |      FROM ($textQualitySql))
         |SELECT s.split, l.lang_pred, count(*) AS n_docs,
         |  CAST(sum(q.n_tokens) AS BIGINT) AS n_tokens,
         |  CAST(sum(q.n_alpha) AS BIGINT) AS n_alpha,
         |  CAST(sum(q.is_quality) AS BIGINT) AS n_quality
         |FROM s JOIN l USING (doc_id) JOIN q USING (doc_id)
         |GROUP BY 1, 2""".stripMargin),
    // the "why was this doc kept/dropped" report: every hygiene
    // verdict joined per doc + the combined keep bit
    // funnel: the five component oracles' exact expressions joined on
    // doc_id — each flag is the same bit its standalone gate checks
    Gate("text_filter_funnel", (s, dir) => TextAnalysis.filterFunnel(s, dir),
      _ => s"""WITH $funnelCtes
         |SELECT q.doc_id, q.q_ok, l.lang_ok, r.rep_ok, e.ent_ok, k.is_keeper,
         |  CAST(q.q_ok = 1 AND l.lang_ok = 1 AND r.rep_ok = 1 AND e.ent_ok = 1
         |       AND k.is_keeper = 1 AS INT) AS keep
         |FROM q JOIN l ON l.doc_id = q.doc_id
         |JOIN r ON r.doc_id = q.doc_id
         |JOIN e ON e.doc_id = q.doc_id
         |JOIN k ON k.doc_id = q.doc_id""".stripMargin),
    // the six-verdict multimodal funnel: text verdicts + the SemDeDup
    // keeper bit over the document's embedding (vec_id == doc_id)
    // the semantic-extended funnel: the five text verdict CTEs plus
    // the SemDeDup keeper bit re-derived from the funnel gate's own
    // dumped codebook (vec_id == doc_id in the corpus)
    Gate("text_filter_funnel_semantic", (s, dir) =>
      TextAnalysis.filterFunnelSemantic(s, dir,
        centsDump = SemdedupFunnelCents.sink(dir)),
      dir => s"""WITH $funnelCtes,
         |se AS (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |scn AS (SELECT cell, v FROM read_parquet('${SemdedupFunnelCents.glob(dir)}')),
         |sasg AS (
         |  SELECT vec_id, cell, sim FROM (
         |    SELECT se.vec_id, scn.cell,
         |      list_cosine_similarity(se.v, scn.v) AS sim,
         |      row_number() OVER (PARTITION BY se.vec_id
         |        ORDER BY list_cosine_similarity(se.v, scn.v) DESC, scn.cell) AS rn
         |    FROM se, scn) WHERE rn = 1),
         |sm AS (SELECT a.vec_id, a.cell, a.sim, se.v
         |       FROM sasg a JOIN se ON se.vec_id = a.vec_id),
         |sdrops AS (
         |  SELECT DISTINCT x.vec_id
         |  FROM sm x JOIN sm y ON x.cell = y.cell AND x.vec_id <> y.vec_id
         |  WHERE (y.sim < x.sim OR (y.sim = x.sim AND y.vec_id < x.vec_id))
         |    AND list_cosine_similarity(x.v, y.v) >= 0.45),
         |s AS (SELECT sm.vec_id AS doc_id,
         |        CAST(d.vec_id IS NULL AS INT) AS sem_ok
         |      FROM sm LEFT JOIN sdrops d ON d.vec_id = sm.vec_id)
         |SELECT q.doc_id, q.q_ok, l.lang_ok, r.rep_ok, e.ent_ok, k.is_keeper,
         |  s.sem_ok,
         |  CAST(q.q_ok = 1 AND l.lang_ok = 1 AND r.rep_ok = 1 AND e.ent_ok = 1
         |       AND k.is_keeper = 1 AND s.sem_ok = 1 AS INT) AS keep
         |FROM q JOIN l ON l.doc_id = q.doc_id
         |JOIN r ON r.doc_id = q.doc_id
         |JOIN e ON e.doc_id = q.doc_id
         |JOIN k ON k.doc_id = q.doc_id
         |JOIN s ON s.doc_id = q.doc_id""".stripMargin),
    // text_pii: identical deterministic PII planted in SQL; counts on
    // the planted text, then the same email → ipv4 → phone replacement
    // order (regexes restricted to the Java/RE2-identical subset)
    Gate("text_pii", (s, dir) => Cleaning.pii(s, dir),
      _ => """WITH p AS (
        |  SELECT doc_id,
        |    printf('%s Contact alice.%d@example.com or 10.0.%d.%d tel 555-867-%04d.',
        |      text, doc_id, doc_id % 256, (doc_id * 7) % 256, doc_id % 10000) AS text
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(text,
        |    '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(text,
        |    '\b\d{1,3}(\.\d{1,3}){3}\b')) AS BIGINT) AS n_ips,
        |  CAST(len(regexp_extract_all(text,
        |    '\b\d{3}-\d{3}-\d{4}\b')) AS BIGINT) AS n_phones,
        |  md5(regexp_replace(
        |    regexp_replace(
        |      regexp_replace(text,
        |        '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<email>', 'g'),
        |      '\b\d{1,3}(\.\d{1,3}){3}\b', '<ip>', 'g'),
        |    '\b\d{3}-\d{3}-\d{4}\b', '<phone>', 'g')) AS red_md5
        |FROM p""".stripMargin),
    // trained quality classifier: weights side-dumped; the oracle
    // re-hashes features and recomputes the margin from raw text
    // (accuracy/agreement still asserted in QualityClassifierSpec)
    // trained-classifier gate: only the LEARNED WEIGHTS are dumped
    // (ClfWeights); feature tokenization, the dense len/stop
    // buckets (exact integer log2 via bin()), FNV-1a hashing
    // (re-expressed in unsigned-64 arithmetic — Int overflow ≡ mod
    // 2^32, and 4096 | 2^32 makes the bucket equal), and the margin
    // fold are all re-derived from raw text. The surface is the
    // MARGIN (no transcendental): every op is an exactly-specified
    // IEEE-754 double op applied in the same order as the Scala
    // scorer, so the hash compare is bit-exact.
    Gate("text_quality_clf", (s, dir) =>
      QualityClassifier.classifyTrained(s, dir, weightsDump = ClfWeights.sink(dir)),
      dir => s"""WITH wrow AS (SELECT idx, w FROM read_parquet('${ClfWeights.glob(dir)}')),
         |warr AS (SELECT list(w ORDER BY idx) AS arr FROM wrow WHERE idx >= 0),
         |brow AS (SELECT w AS bias FROM wrow WHERE idx = -1),
         |f AS (
         |  SELECT doc_id,
         |    list_filter(string_split_regex(lower(text), '[^a-z]+'),
         |      x -> x <> '') AS toks,
         |    len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS nws
         |  FROM documents),
         |g AS (
         |  SELECT doc_id, toks, nws, len(toks) AS ntoks,
         |    len(list_filter(toks,
         |      t -> t IN ('the','a','of','and','to','is','in'))) AS nstop
         |  FROM f),
         |h AS (
         |  SELECT doc_id,
         |    list_concat(list_concat(
         |      toks,
         |      list_transform(range(1 + ntoks // 8), x -> '__len' ||
         |        CAST(CASE WHEN nws = 0 THEN -1
         |                  ELSE strlen(bin(nws)) - 1 END AS VARCHAR))),
         |      list_transform(range(1 + ntoks // 8), x -> '__stop' ||
         |        CAST(CASE WHEN nws = 0 THEN -1
         |                  ELSE (nstop * 100 // nws) // 5 END AS VARCHAR))
         |    ) AS ftoks
         |  FROM g),
         |bkt AS (
         |  SELECT doc_id,
         |    list_transform(ftoks, tk ->
         |      CAST(list_reduce(list_prepend(CAST(2166136261 AS BIGINT),
         |          list_transform(range(1, strlen(tk) + 1),
         |            i -> CAST(unicode(substr(tk, CAST(i AS INT), 1)) AS BIGINT))),
         |        (hv, cv) -> (xor(hv, cv) * 16777619) % 4294967296)
         |        % 4096 AS INT)) AS bs
         |  FROM h),
         |mm AS (
         |  SELECT doc_id,
         |    CASE WHEN len(bs) = 0 THEN bias
         |         ELSE bias + list_reduce(list_transform(bs, x -> arr[x + 1]),
         |                                 (u, v) -> u + v) / len(bs)
         |    END AS mg
         |  FROM bkt CROSS JOIN warr CROSS JOIN brow)
         |SELECT doc_id, CAST(trunc(mg * 1000000.0) AS BIGINT) AS margin_micro,
         |  CAST(mg >= 0 AS INT) AS label
         |FROM mm""".stripMargin),
    // text_mixture: sqrt is IEEE correctly-rounded (unlike pow), so the
    // α=0.5 temperature weight is bit-exact cross-engine; the ppm split
    // is bigint-only arithmetic after that
    Gate("text_mixture", (s, dir) => Sampling.sourceMixture(s, dir),
      _ => """WITH s AS (
        |  SELECT source, count(*) AS n_docs,
        |    CAST(sum(len(list_filter(string_split_regex(text, '\s+'),
        |                             x -> x <> ''))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source),
        |w AS (
        |  SELECT source, n_docs, n_tokens,
        |    CAST(round(sqrt(n_tokens) * 1000) AS BIGINT) AS score
        |  FROM s),
        |t AS (SELECT *, CAST(sum(score) OVER () AS BIGINT) AS total FROM w)
        |SELECT source, n_docs, n_tokens, score,
        |  (2000000 * score + total) // (2 * total) AS weight_ppm
        |FROM t""".stripMargin),
    // quality-weighted sample: the quality CTE is text_quality's, the
    // predicate is the byte-identical md5-prefix threshold per flag
    Gate("text_sample_weighted", (s, dir) => Sampling.weightedSample(s, dir),
      _ => """WITH q AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS n_tokens,
        |    len(list_filter(string_split_regex(lower(text), '[^a-z]+'),
        |        x -> x IN ('the','a','of','and','to','is','in'))) AS n_stop
        |  FROM documents),
        |f AS (SELECT doc_id,
        |    CAST(n_tokens BETWEEN 5 AND 10000 AND n_stop * 20 >= n_tokens AS INT)
        |      AS is_quality FROM q)
        |SELECT doc_id, is_quality FROM f
        |WHERE substr(md5(CAST(doc_id AS VARCHAR) || ':42'), 1, 15) <
        |  CASE WHEN is_quality = 1 THEN 'ccccccccccccd00' ELSE '1999999999999a0' END""".stripMargin),
    Gate("text_bpe_pairs", (s, dir) => Bpe.pairCounts(s, dir),
      _ => """WITH words AS (
        |  SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
        |    x -> x <> '')) AS w
        |  FROM documents),
        |wc AS (SELECT w, count(*) AS cnt FROM words GROUP BY w),
        |syms AS (
        |  SELECT cnt, list_append(
        |    list_transform(range(1, strlen(w) + 1), i -> substr(w, CAST(i AS INT), 1)),
        |    '</w>') AS s
        |  FROM wc),
        |pairs AS (
        |  SELECT cnt, unnest(list_transform(range(1, len(s)),
        |    i -> s[i] || ' ' || s[i+1])) AS pair
        |  FROM syms)
        |SELECT pair, CAST(sum(cnt) AS BIGINT) AS cnt
        |FROM pairs GROUP BY pair""".stripMargin),
    Gate("text_bpe_encode", (s, dir) =>
      Bpe.encode(s, dir, mergesDump = BpeMerges.sink(dir)),
      dir => s"""WITH RECURSIVE
         |bmerges AS (SELECT ord, a, b FROM read_parquet('${BpeMerges.glob(dir)}')),
         |dw AS (
         |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z]+'),
         |    x -> x <> '') AS ws
         |  FROM documents),
         |$bpeDeriveCtes,
         |dn AS (
         |  SELECT d2.doc_id, sum(len(t2.ts)) AS n
         |  FROM (SELECT doc_id, unnest(ws) AS w FROM dw) d2
         |  JOIN btoks t2 USING (w)
         |  GROUP BY d2.doc_id)
         |SELECT dw.doc_id, CAST(coalesce(dn.n, 0) AS BIGINT) AS n_bpe_tokens
         |FROM dw LEFT JOIN dn USING (doc_id)""".stripMargin),
    // token-id product surface: per-position ids + the vocab table;
    // the merge table is side-dumped and the oracle re-applies it
    // (BpeSpec still carries the sequential-oracle differential)
    Gate("text_bpe_ids", (s, dir) =>
      Bpe.encodeIds(s, dir, mergesDump = BpeMerges.sink(dir)),
      dir => s"""WITH RECURSIVE
         |bmerges AS (SELECT ord, a, b FROM read_parquet('${BpeMerges.glob(dir)}')),
         |dw AS (
         |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z]+'),
         |    x -> x <> '') AS ws
         |  FROM documents),
         |$bpeDeriveCtes,
         |$bpeVocabCte,
         |docw AS (
         |  SELECT doc_id, u.s.w AS w, u.s.wi AS wi
         |  FROM (SELECT doc_id,
         |          unnest(list_transform(ws, (x, i) -> {'w': x, 'wi': i})) AS s
         |        FROM dw) u),
         |flat AS (
         |  SELECT doc_id, wi, u.s.tok AS tok, u.s.ti AS ti
         |  FROM (SELECT d2.doc_id, d2.wi,
         |          unnest(list_transform(t2.ts, (x, i) -> {'tok': x, 'ti': i})) AS s
         |        FROM docw d2 JOIN btoks t2 USING (w)) u)
         |SELECT f.doc_id,
         |  CAST(row_number() OVER (PARTITION BY f.doc_id ORDER BY f.wi, f.ti) - 1
         |    AS INT) AS pos,
         |  v.token_id
         |FROM flat f JOIN bvocab v ON v.token = f.tok""".stripMargin),
    // BPE gates: the TRAINED MERGE TABLE is side-dumped run-scoped
    // (BpeMerges) and is the only artifact taken on faith — the
    // iterative argmax loop is not SQL-expressible, but the APPLY is:
    // DuckDB re-applies the merges to the raw corpus itself (one
    // greedy `replace` per merge round, see bpeDeriveCtes) and
    // re-derives the vocab table, per-position ids, and per-doc
    // counts as independent hash gates.
    Gate("text_bpe_vocab", (s, dir) =>
      Bpe.vocabDf(s, dir, mergesDump = BpeMerges.sink(dir)),
      dir => s"""WITH bmerges AS (SELECT ord, a, b FROM read_parquet('${BpeMerges.glob(dir)}')),
         |$bpeVocabCte
         |SELECT token_id, token FROM bvocab""".stripMargin),
    // the composed corpus-prep pipeline: same stages chained as CTEs
    Gate("text_pipeline", (s, dir) => CorpusPipeline.prepare(s, dir),
      _ => """WITH c AS (
        |  SELECT doc_id,
        |    trim(regexp_replace(
        |      regexp_replace(
        |        regexp_replace(text, 'https?://[^\s]+', '<url>', 'g'),
        |        '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<email>', 'g'),
        |      '\s+', ' ', 'g')) AS ct
        |  FROM documents),
        |t AS (
        |  SELECT doc_id, ct,
        |    len(list_filter(string_split_regex(ct, '\s+'), x -> x <> '')) AS n_tokens
        |  FROM c),
        |q AS (SELECT * FROM t WHERE n_tokens >= 5),
        |d AS (SELECT min(doc_id) AS doc_id FROM q GROUP BY md5(ct)),
        |k AS (SELECT q.doc_id, q.n_tokens FROM q JOIN d ON q.doc_id = d.doc_id),
        |p AS (
        |  SELECT doc_id, n_tokens,
        |    coalesce(sum(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre
        |  FROM k)
        |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST(pre // 512 AS BIGINT) AS pack_id
        |FROM p""".stripMargin),
    // the pipeline emitting the real artifact: BPE-id counts + packs,
    // re-derived by the oracle from the dumped merges
    // the id-packed pipeline: clean/quality/dedup CTEs are
    // text_pipeline's, then the BPE re-derivation runs on the KEPT
    // cleaned text and packing follows the id counts
    Gate("text_pipeline_ids", (s, dir) =>
      CorpusPipeline.prepareIds(s, dir, mergesDump = BpeMerges.sink(dir)),
      dir => s"""WITH RECURSIVE
         |bmerges AS (SELECT ord, a, b FROM read_parquet('${BpeMerges.glob(dir)}')),
         |c AS (
         |  SELECT doc_id,
         |    trim(regexp_replace(
         |      regexp_replace(
         |        regexp_replace(text, 'https?://[^\\s]+', '<url>', 'g'),
         |        '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}', '<email>', 'g'),
         |      '\\s+', ' ', 'g')) AS ct
         |  FROM documents),
         |t AS (
         |  SELECT doc_id, ct,
         |    len(list_filter(string_split_regex(ct, '\\s+'), x -> x <> '')) AS n_tokens
         |  FROM c),
         |q AS (SELECT * FROM t WHERE n_tokens >= 5),
         |d AS (SELECT min(doc_id) AS doc_id FROM q GROUP BY md5(ct)),
         |k AS (SELECT q.doc_id, q.ct FROM q JOIN d ON q.doc_id = d.doc_id),
         |dw AS (
         |  SELECT doc_id, list_filter(string_split_regex(lower(ct), '[^a-z]+'),
         |    x -> x <> '') AS ws
         |  FROM k),
         |$bpeDeriveCtes,
         |dn AS (
         |  SELECT d2.doc_id, sum(len(t2.ts)) AS n
         |  FROM (SELECT doc_id, unnest(ws) AS w FROM dw) d2
         |  JOIN btoks t2 USING (w)
         |  GROUP BY d2.doc_id),
         |nn AS (
         |  SELECT dw.doc_id, CAST(coalesce(dn.n, 0) AS BIGINT) AS nb
         |  FROM dw LEFT JOIN dn USING (doc_id)),
         |p AS (
         |  SELECT doc_id, nb,
         |    coalesce(sum(nb) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre
         |  FROM nn)
         |SELECT doc_id, nb AS n_bpe_tokens, CAST(pre // 512 AS BIGINT) AS pack_id
         |FROM p""".stripMargin),
  )

  /** text_filter_funnel's five component-verdict CTEs (q/l/r/e/k) —
    * shared verbatim with the semantic-extended funnel so the two
    * gates cannot drift. Pre-stripped (inserted into s-interpolated
    * oracles whose own margins strip around it). */
  private val funnelCtes: String =
    """q AS (
      |  SELECT doc_id,
      |    CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))
      |         BETWEEN 5 AND 10000
      |     AND len(list_filter(string_split_regex(lower(text), '[^a-z]+'),
      |             x -> x IN ('the','a','of','and','to','is','in'))) * 20
      |         >= len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))
      |     AS INT) AS q_ok
      |  FROM documents),
      |lc AS (
      |  SELECT doc_id,
      |    len(list_filter(string_split_regex(lower(text), '[^a-z]+'),
      |        x -> x IN ('the','and','of','with'))) AS c_en,
      |    len(list_filter(string_split_regex(lower(text), '[^a-z]+'),
      |        x -> x IN ('der','die','das','und'))) AS c_de,
      |    len(list_filter(string_split_regex(lower(text), '[^a-z]+'),
      |        x -> x IN ('el','los','las','y'))) AS c_es,
      |    len(list_filter(string_split_regex(lower(text), '[^a-z]+'),
      |        x -> x IN ('le','les','et','une'))) AS c_fr
      |  FROM documents),
      |l AS (SELECT doc_id,
      |    CAST(c_en >= c_de AND c_en >= c_es AND c_en >= c_fr AS INT) AS lang_ok
      |  FROM lc),
      |rb AS (
      |  SELECT doc_id,
      |    CASE WHEN len(t) >= 2 THEN
      |      list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])
      |    ELSE [] END AS bigrams
      |  FROM (SELECT doc_id,
      |          list_filter(string_split_regex(lower(text), '[^a-z]+'),
      |                      x -> x <> '') AS t
      |        FROM documents)),
      |r AS (SELECT doc_id,
      |    CAST(NOT ((len(bigrams) - len(list_distinct(bigrams))) * 10
      |              >= len(bigrams) AND len(bigrams) > 0) AS INT) AS rep_ok
      |  FROM rb),
      |etoks AS (
      |  SELECT doc_id,
      |    unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
      |                       x -> x <> '')) AS tok
      |  FROM documents),
      |ec AS (SELECT doc_id, tok, count(*) AS cnt FROM etoks GROUP BY doc_id, tok),
      |eh AS (SELECT doc_id, sum(cnt) AS n, sum(cnt * ln(cnt)) AS clogc
      |       FROM ec GROUP BY doc_id),
      |e AS (SELECT d.doc_id,
      |    CAST(coalesce(round((ln(eh.n) - eh.clogc / eh.n) * 1000000), 0)
      |         >= 2000000 AS INT) AS ent_ok
      |  FROM documents d LEFT JOIN eh ON d.doc_id = eh.doc_id),
      |k AS (SELECT doc_id,
      |    CAST(doc_id = min(doc_id) OVER (PARTITION BY md5(text)) AS INT)
      |      AS is_keeper
      |  FROM documents)""".stripMargin

  /** The BPE re-derivation CTE chain: given `bmerges(ord, a, b)` (the
    * side-dumped merge table) and `dw(doc_id, ws)` (per-doc ordered
    * word lists) defined upstream, re-applies the merges to the
    * DISTINCT words and yields `btoks(w, ts)` — per word, the final
    * symbol list. The mechanism is independent of the Scala apply:
    * a word is a chr(31)-wrapped symbol string ("<us>a<us><us>b<us>")
    * and ONE merge round is ONE `replace` of "<us>a<us><us>b<us>"
    * with "<us>ab<us>" — string replace scans left-to-right and never
    * rescans replaced output, which is exactly mergePair's greedy
    * non-overlapping semantics (Bpe.mergePair); the wrapping makes a
    * cross-symbol false match impossible. The recursion is driven by
    * the DUMPED ord column, so a tampered or reordered merge table
    * changes the derivation and fails the gate. */
  private val bpeDeriveCtes: String =
    """bwords AS (SELECT DISTINCT unnest(ws) AS w FROM dw),
      |binit AS (
      |  SELECT w,
      |    array_to_string(list_transform(range(1, strlen(w) + 1),
      |      i -> chr(31) || substr(w, CAST(i AS INT), 1) || chr(31)), '') ||
      |      chr(31) || '</w>' || chr(31) AS s
      |  FROM bwords),
      |brec AS (
      |  SELECT w, s, 0 AS ord FROM binit
      |  UNION ALL
      |  SELECT r.w,
      |    replace(r.s, chr(31) || m.a || chr(31) || chr(31) || m.b || chr(31),
      |                 chr(31) || m.a || m.b || chr(31)),
      |    r.ord + 1
      |  FROM brec r JOIN bmerges m ON m.ord = r.ord + 1),
      |btoks AS (
      |  SELECT w, list_filter(string_split(s, chr(31)), x -> x <> '') AS ts
      |  FROM brec WHERE ord = (SELECT coalesce(max(ord), 0) FROM bmerges))""".stripMargin

  /** Deterministic BPE vocab re-derived from the dumped merges (the
    * Bpe.vocabOf id space: 0–25 letters, 26 terminal, 27+i merges). */
  private val bpeVocabCte: String =
    """bvocab AS (
      |  SELECT CAST(i - 1 AS INT) AS token_id, chr(CAST(96 + i AS INT)) AS token
      |  FROM range(1, 27) t(i)
      |  UNION ALL SELECT 26, '</w>'
      |  UNION ALL SELECT CAST(26 + ord AS INT), a || b FROM bmerges)""".stripMargin

  /** Shared CTE chain for the integer feature-hash embedding gates:
    * engine tokenizer → unigrams+bigrams → FNV-1a masked to 31 bits
    * (the text_classify fold) → signed parity buckets → nonzero
    * integer weights. Ends defining `w($ids, bucket, weight)`.
    * Parameterized over the source relation / id columns / text
    * column so the doc-level and chunk-level gates share it. */
  private[gates] def embedBucketCtesFrom(src: String, ids: String,
      textCol: String): String =
    s"""toksE AS (
       |  SELECT $ids,
       |    list_filter(string_split_regex(lower($textCol), '[^a-z]+'), x -> x <> '') AS t
       |  FROM $src),
       |g AS (
       |  SELECT $ids, unnest(list_concat(t,
       |    CASE WHEN len(t) >= 2
       |      THEN list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])
       |      ELSE [] END)) AS g
       |  FROM toksE),
       |hh AS (
       |  SELECT $ids,
       |    list_reduce(list_prepend(CAST(2166136261 AS BIGINT),
       |      list_transform(range(1, strlen(g) + 1),
       |        i -> CAST(unicode(substr(g, CAST(i AS INT), 1)) AS BIGINT))),
       |      (hv, cv) -> (xor(hv, cv) * 16777619) % 4294967296) % 2147483648 AS h
       |  FROM g),
       |b AS (
       |  SELECT $ids, h % 32 AS bucket,
       |    CASE WHEN h % 2 = 0 THEN 1 ELSE -1 END AS s
       |  FROM hh),
       |w AS (
       |  SELECT $ids, bucket, CAST(sum(s) AS BIGINT) AS weight
       |  FROM b GROUP BY $ids, bucket
       |  HAVING sum(s) <> 0)""".stripMargin

  private def embedBucketCtes: String =
    embedBucketCtesFrom("documents", "doc_id", "text")

  private def textDecontamSql: String =
    """WITH toks AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS t
      |  FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id,
      |    unnest(list_transform(range(1, len(t) - 6),
      |      i -> array_to_string(t[i:i+7], ' '))) AS s
      |  FROM toks WHERE len(t) >= 8),
      |bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 37 = 0),
      |hits AS (
      |  SELECT sh.doc_id, count(*) AS n_shingles, count(b.s) AS n_hit
      |  FROM sh LEFT JOIN bench b ON sh.s = b.s
      |  WHERE sh.doc_id % 37 <> 0 GROUP BY sh.doc_id),
      |base AS (SELECT doc_id FROM documents WHERE doc_id % 37 <> 0)
      |SELECT base.doc_id,
      |  CAST(coalesce(h.n_shingles, 0) AS BIGINT) AS n_shingles,
      |  CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
      |  CAST(coalesce(h.n_shingles, 0) > 0
      |    AND coalesce(h.n_hit, 0) * 100 >= coalesce(h.n_shingles, 0) * 10
      |    AS INT) AS contaminated
      |FROM base LEFT JOIN hits h ON base.doc_id = h.doc_id""".stripMargin

  /** n-gram-heuristic language id — shared by the standalone gate and
    * the corpus report's lang CTE. */
  private def textLangIdSql: String =
    """WITH c AS (
      |  SELECT doc_id,
      |    len(list_filter(string_split_regex(lower(text), '[^a-z]+'),
      |        x -> x IN ('the','and','of','with'))) AS c_en,
      |    len(list_filter(string_split_regex(lower(text), '[^a-z]+'),
      |        x -> x IN ('der','die','das','und'))) AS c_de,
      |    len(list_filter(string_split_regex(lower(text), '[^a-z]+'),
      |        x -> x IN ('el','los','las','y'))) AS c_es,
      |    len(list_filter(string_split_regex(lower(text), '[^a-z]+'),
      |        x -> x IN ('le','les','et','une'))) AS c_fr
      |  FROM documents)
      |SELECT doc_id,
      |  CASE
      |    WHEN c_en >= c_de AND c_en >= c_es AND c_en >= c_fr THEN 'en'
      |    WHEN c_de >= c_es AND c_de >= c_fr THEN 'de'
      |    WHEN c_es >= c_fr THEN 'es'
      |    ELSE 'fr' END AS lang_pred
      |FROM c""".stripMargin

  /** Token-budget mixture plan — shared by the standalone gate and
    * the executor's plan CTE (`text_mix_epochs`); weights/budget are
    * the literals `TextAnalysis.mixPlan` bakes in. */
  private def textMixPlanSql: String =
    """WITH g AS (SELECT lang, count(*) AS n_docs,
      |    CAST(sum(len(list_filter(string_split_regex(text, '\s+'),
      |      x -> x <> ''))) AS BIGINT) AS avail_tokens
      |  FROM documents GROUP BY 1),
      |p AS (SELECT lang, n_docs, avail_tokens,
      |    CAST(CAST(2500000 AS BIGINT) * CAST(CASE lang WHEN 'en' THEN 550000
      |      WHEN 'de' THEN 150000 WHEN 'es' THEN 150000 WHEN 'fr' THEN 100000
      |      WHEN 'zh' THEN 50000 ELSE 0 END AS BIGINT) // 1000000
      |      AS BIGINT) AS target_tokens
      |  FROM g),
      |e AS (SELECT *, CAST(CASE WHEN avail_tokens = 0 THEN 0
      |    ELSE target_tokens * 1000000 // avail_tokens END AS BIGINT) AS epochs_ppm
      |  FROM p)
      |SELECT lang, n_docs, avail_tokens, target_tokens, epochs_ppm,
      |  CAST(epochs_ppm // 1000000 AS BIGINT) AS full_epochs,
      |  CAST(epochs_ppm % 1000000 AS BIGINT) AS resid_ppm
      |FROM e""".stripMargin

  /** Mixture-plan executor — shared by the standalone gate and the
    * training-order gate's membership CTE (`text_mix_order`). DuckDB
    * gotcha: lateral unnest + join + mixed-column filter hits an
    * internal bind bug, so the 5-row plan is unnested FIRST, then
    * joined onto documents. */
  private def textMixEpochsSql: String =
    s"""WITH plan AS ($textMixPlanSql),
       |pc AS (SELECT lang, least(full_epochs, 1000) AS full_epochs, resid_ppm
       |  FROM plan),
       |pe AS (SELECT lang, full_epochs, resid_ppm,
       |    unnest(range(0, full_epochs + 1)) AS epoch
       |  FROM pc)
       |SELECT d.lang, d.doc_id, CAST(pe.epoch AS BIGINT) AS epoch
       |FROM documents d JOIN pe USING (lang)
       |WHERE pe.epoch < pe.full_epochs
       |   OR substr(md5(CAST(d.doc_id AS VARCHAR) || ':137'), 1, 15) <
       |      printf('%015x', pe.resid_ppm * 1152921504606)""".stripMargin

  /** The drift-report chain over ANY (source, tok, c_src) rollup —
    * the report stage is key-agnostic (tokens, embedding buckets),
    * mirroring `TextAnalysis.driftReport`. Sums CAST back to BIGINT:
    * DuckDB's sum(BIGINT) returns HUGEINT, which the compare harness
    * renders as float. */
  private def driftChainSql(bySrcSql: String, keyOut: String): String =
    s"""WITH by_src AS ($bySrcSql),
       |src_tot AS (SELECT source, CAST(sum(c_src) AS BIGINT) AS n_src
       |  FROM by_src GROUP BY 1),
       |by_tok AS (SELECT tok, CAST(sum(c_src) AS BIGINT) AS c_all
       |  FROM by_src GROUP BY 1),
       |tot AS (SELECT CAST(sum(n_src) AS BIGINT) AS n_all FROM src_tot),
       |scored AS (
       |  SELECT b.source, b.tok,
       |    c_src * 1000000 // n_src AS ppm_src,
       |    CASE WHEN n_all = n_src THEN CAST(0 AS BIGINT)
       |         ELSE (c_all - c_src) * 1000000 // (n_all - n_src) END AS ppm_rest
       |  FROM by_src b
       |  JOIN src_tot USING (source) JOIN by_tok USING (tok) CROSS JOIN tot)
       |SELECT source, rk, tok AS $keyOut, ppm_src, ppm_rest, drift, direction FROM (
       |  SELECT source, tok, ppm_src, ppm_rest,
       |    abs(ppm_src - ppm_rest) AS drift,
       |    CAST(sign(ppm_src - ppm_rest) AS BIGINT) AS direction,
       |    CAST(row_number() OVER (PARTITION BY source
       |      ORDER BY abs(ppm_src - ppm_rest) DESC, tok) AS BIGINT) AS rk
       |  FROM scored)
       |WHERE rk <= 3""".stripMargin

  /** Per-source token-drift report — shared verbatim by the one-shot
    * gate and the streaming monitor (additive counts make stream ≡
    * batch exact). */
  private def textSourceDriftSql: String = driftChainSql(
    """SELECT source, tok, count(*) AS c_src FROM (
      |    SELECT source,
      |      unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
      |        x -> x <> '')) AS tok
      |    FROM documents)
      |  GROUP BY 1, 2""".stripMargin, "tok")

  /** Semantic drift twin: the key is the axis-sign bucket of the
    * first 8 embedding dims — a float sign test both engines evaluate
    * on the identical stored value. */
  private def textSourceDriftSemanticSql: String = driftChainSql(
    s"""SELECT source, tok, count(*) AS c_src FROM (
       |    SELECT d.source, CAST((${(0 until 8).map(i =>
            s"(CASE WHEN e.embedding[${i + 1}] > 0 THEN ${1 << i} ELSE 0 END)")
            .mkString(" + ")}) AS VARCHAR) AS tok
       |    FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id)
       |  GROUP BY 1, 2""".stripMargin, "bucket")

  /** Training order over the mixture membership — shared by the
    * standalone gate and the shard gate's order CTE. The global
    * `row_number() OVER` is DuckDB-oracle-side only; the engine ranks
    * via the two-pass globalRank. */
  private def textMixOrderSql: String =
    s"""WITH me AS ($textMixEpochsSql)
       |SELECT lang, doc_id, epoch,
       |  CAST(row_number() OVER (ORDER BY epoch,
       |    md5(CAST(doc_id AS VARCHAR) || ':' || CAST(epoch AS VARCHAR) || ':42'),
       |    doc_id) - 1 AS BIGINT) AS train_order
       |FROM me""".stripMargin

  /** Quality counts + keeper flag — shared by the standalone gate and
    * the corpus report's quality CTE. */
  private def textQualitySql: String =
    """WITH q AS (
      |  SELECT doc_id,
      |    len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS n_tokens,
      |    len(list_filter(string_split_regex(lower(text), '[^a-z]+'),
      |        x -> x IN ('the','a','of','and','to','is','in'))) AS n_stop,
      |    length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS n_punct,
      |    length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS n_alpha
      |  FROM documents)
      |SELECT doc_id, n_tokens, n_stop, n_punct, n_alpha,
      |  CAST(n_tokens BETWEEN 5 AND 10000 AND n_stop * 20 >= n_tokens AS INT)
      |    AS is_quality
      |FROM q""".stripMargin

  /** The chunk CTE chained into the pack cumsum — the two components'
    * oracles composed; pack_id = exclusive-prefix-sum // budget, a
    * pure function of global (doc_id, chunk_id) order, which is why
    * the streaming replay gate shares it verbatim. */
  private def textChunkPackSql: String =
    """WITH toks AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS t
      |  FROM documents),
      |nz AS (SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) >= 1),
      |ch AS (SELECT doc_id, n,
      |    unnest(range(0, CASE WHEN n <= 64 THEN 1
      |                        ELSE 1 + (n - 64 + 47) // 48 END)) AS chunk_id
      |  FROM nz),
      |cw AS (SELECT doc_id, chunk_id,
      |    least(n - chunk_id * 48, 64) AS n_tokens
      |  FROM ch),
      |c AS (
      |  SELECT doc_id, chunk_id, n_tokens,
      |    coalesce(sum(n_tokens) OVER (ORDER BY doc_id, chunk_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre
      |  FROM cw)
      |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
      |  CAST(n_tokens AS BIGINT) AS n_tokens,
      |  CAST(pre // 256 AS BIGINT) AS pack_id
      |FROM c""".stripMargin
}
