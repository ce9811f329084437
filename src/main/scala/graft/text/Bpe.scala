package graft.text

import graft.core.DumpSink
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding primitives: the adjacent-symbol-pair counting
  * that drives BPE vocabulary induction, plus the iterative merge
  * loop itself — tokenizer TRAINING as a distributed query.
  *
  * Scale design (100 TB posture): the corpus-sized pass is the word
  * count — one map-side-combined aggregation whose key space is the
  * DISTINCT vocabulary (millions of rows for web-scale text, i.e.
  * tiny next to the corpus). Everything after — symbolization, pair
  * explosion, the k-round merge loop — runs on that distinct-word
  * table weighted by counts, so each BPE iteration costs a scan of
  * the vocabulary, not of the corpus. This is exactly how production
  * BPE trainers stay tractable: corpus → word histogram once, then
  * iterate on the histogram.
  */
object Bpe {

  final case class WordSyms(syms: Seq[String], cnt: Long)

  /** Distinct-word histogram (the one corpus-sized aggregation). */
  def wordCounts(spark: SparkSession, sfDir: String): DataFrame =
    // widen the 1-file scan: the tokenize+explode feeding the partial
    // aggregation is the histogram's whole cost and ran 1-wide at gate
    // scale (r18 stage audit); no-op on an already-wide scan
    graft.core.Widen.ifNarrow(spark.read.parquet(s"$sfDir/documents.parquet"))
      .select(explode(expr(
        Tok.alphaToks)).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))

  /** Initial symbolization: characters plus a terminal '</w>' marker
    * (distinguishes word-final from word-internal pairs, as in the
    * original BPE formulation). Kept as its own projection so the
    * pair lambda below captures a bound attribute (graft.dedup.Dedup
    * documents the per-element re-evaluation pathology). */
  private def symbolized(wc: DataFrame): DataFrame =
    wc.select(col("cnt"), expr(
      "concat(transform(sequence(1, length(w)), i -> substring(w, i, 1)), array('</w>'))"
    ).as("syms"))

  /** Adjacent-pair counts over the weighted vocabulary: the score
    * table of one BPE iteration. Pair rendered as "left right". */
  def pairCounts(spark: SparkSession, sfDir: String): DataFrame =
    pairCountsOf(symbolized(wordCounts(spark, sfDir)))

  private def pairCountsOf(syms: DataFrame): DataFrame =
    syms
      .select(col("cnt"), expr(
        """CASE WHEN size(syms) >= 2 THEN
          |  transform(sequence(0, size(syms) - 2),
          |    i -> concat(syms[i], ' ', syms[i + 1]))
          |ELSE array() END""".stripMargin).as("ps"))
      .select(col("cnt"), explode_outer(col("ps")).as("pair"))
      .filter(col("pair").isNotNull)
      .groupBy(col("pair")).agg(sum(col("cnt")).as("cnt"))

  /** Greedy left-to-right non-overlapping merge of one (a, b) pair
    * inside a symbol sequence — the per-word step of a BPE round. */
  private[text] def mergePair(syms: Seq[String], a: String, b: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
        out += (a + b); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.result()
  }

  /** Tokenize the corpus with a trained merge list: per word, start
    * from chars+'</w>' and apply the merges in training order (the
    * standard BPE apply). Merges broadcast; one narrow pass over the
    * corpus — training cost is amortized over the vocabulary, apply
    * cost over the corpus, exactly the production split. */
  def encode(spark: SparkSession, sfDir: String, k: Int = 8,
      mergesDump: DumpSink = DumpSink.discard): DataFrame =
    encodeDocs(spark.read.parquet(s"$sfDir/documents.parquet"),
      trainMerges(spark, sfDir, k, mergesDump = mergesDump).map(m => (m._1, m._2)))

  /** The apply as a stateless transform over any (doc_id, text) frame —
    * BATCH OR STREAMING: merges are broadcast and the pass is map-only,
    * so the exact same code tokenizes a live document stream (training
    * stays batch — the production split: vocabularies change on
    * retrain cadence, corpora arrive continuously). Stream ≡ batch is
    * asserted in BpeStreamSpec. */
  def encodeDocs(docs: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(merges)
    docs
      .select(col("doc_id"), expr(
        Tok.alphaToks).as("ws"))
      .as[(Long, Seq[String])]
      .map { case (id, ws) =>
        var n = 0L
        ws.foreach { w =>
          var syms: Seq[String] = w.map(_.toString) :+ "</w>"
          bc.value.foreach { case (a, b) => syms = mergePair(syms, a, b) }
          n += syms.length
        }
        (id, n)
      }
      .toDF("doc_id", "n_bpe_tokens")
  }

  /** Deterministic BPE vocabulary for a trained merge list: ids 0–25
    * are 'a'…'z', 26 is the terminal '</w>', and 27+i is the i-th
    * merge's output token — the id space any two runs of the same
    * training agree on, so persisted token-id corpora stay decodable. */
  def vocabOf(merges: Seq[(String, String)]): Seq[(Int, String)] = {
    val base = ('a' to 'z').map(_.toString) :+ "</w>"
    (base ++ merges.map { case (a, b) => a + b }).zipWithIndex.map(_.swap)
  }

  /** Vocab as a DataFrame (token_id, token) — the lookup table a
    * downstream trainer ships with the token-id corpus. */
  def vocabDf(spark: SparkSession, sfDir: String, k: Int = 8,
      mergesDump: DumpSink = DumpSink.discard): DataFrame = {
    import spark.implicits._
    vocabOf(trainMerges(spark, sfDir, k, mergesDump = mergesDump).map(m => (m._1, m._2)))
      .toDF("token_id", "token")
  }

  /** Tokenize to TOKEN-ID SEQUENCES — what a training-data pipeline
    * actually feeds a model (the count in [[encodeDocs]] is a QC
    * metric; the ids are the product). Per doc: words in order, each
    * word's merged symbols mapped through [[vocabOf]]'s id space and
    * concatenated. Same stateless broadcast-merges shape as
    * [[encodeDocs]], so it serves batch and streaming alike. */
  def encodeIdsDocs(docs: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val toId = vocabOf(merges).map { case (id, tok) => tok -> id }.toMap
    val bc = spark.sparkContext.broadcast((merges, toId))
    docs
      .select(col("doc_id"), expr(
        Tok.alphaToks).as("ws"))
      .as[(Long, Seq[String])]
      .map { case (id, ws) =>
        val (ms, ids) = bc.value
        val out = Seq.newBuilder[Int]
        ws.foreach { w =>
          var syms: Seq[String] = w.map(_.toString) :+ "</w>"
          ms.foreach { case (a, b) => syms = mergePair(syms, a, b) }
          syms.foreach(s => out += ids(s))
        }
        (id, out.result())
      }
      .toDF("doc_id", "token_ids")
  }

  /** Gate surface: token ids flattened to one row per position —
    * (doc_id, pos, token_id), a deterministic serialization of the
    * per-doc id arrays. */
  def encodeIds(spark: SparkSession, sfDir: String, k: Int = 8,
      mergesDump: DumpSink = DumpSink.discard): DataFrame =
    encodeIdsDocs(spark.read.parquet(s"$sfDir/documents.parquet"),
        trainMerges(spark, sfDir, k, mergesDump = mergesDump).map(m => (m._1, m._2)))
      .select(col("doc_id"),
        posexplode(col("token_ids")).as(Seq("pos", "token_id")))

  /** k rounds of BPE training. Two regimes behind one API, chosen by
    * vocabulary size (the CC-style hybrid: the corpus-sized work is
    * the histogram; training itself is vocabulary-sized):
    *
    *  - vocabularies up to `driverMaxVocab` distinct words collapse
    *    to an INCREMENTAL driver trainer: pair counts and a
    *    pair→words index are maintained in memory, and each merge
    *    touches only the words containing the merged pair — the
    *    standard production BPE trainer shape, making large-k
    *    training cheap;
    *  - larger vocabularies run the distributed recount
    *    ([[trainMergesDistributed]]).
    *
    * Both use the same deterministic tiebreak (count desc, pair asc),
    * so they produce IDENTICAL merge lists — differentially tested.
    *
    * The merge table goes to `mergesDump` as `(ord, a, b)` (ord
    * 1-based, training order) — the oracle interface: the learned
    * artifact is the ONLY thing the DuckDB gates take on faith; they
    * re-apply the merges to the raw corpus themselves (one `replace`
    * per merge round over a delimiter-wrapped symbol string — exactly
    * [[mergePair]]'s greedy left-to-right non-overlapping semantics)
    * and re-derive ids, counts, and the vocab table. */
  def trainMerges(spark: SparkSession, sfDir: String, k: Int,
      driverMaxVocab: Long = 1L << 22,
      mergesDump: DumpSink = DumpSink.discard): Seq[(String, String, Long)] = {
    import spark.implicits._
    // the ONE corpus-sized aggregation, materialized so the regime-
    // selection count and the chosen trainer reuse it (re-deriving it
    // would scan the corpus twice)
    val wc = wordCounts(spark, sfDir).localCheckpoint()
    val ms =
      if (wc.count() <= driverMaxVocab) trainMergesDriver(wc.as[(String, Long)].collect(), k)
      else trainMergesOnVocab(wc, k)
    mergesDump(ms.zipWithIndex.map { case ((a, b, _), i) => (i + 1, a, b) }
      .toDF("ord", "a", "b"))
    ms
  }

  /** Incremental in-memory trainer over a collected word histogram. */
  private[text] def trainMergesDriver(wc: Array[(String, Long)],
      k: Int): Seq[(String, String, Long)] = {
    // mutable word list (symbol arrays scaled by word count)
    val words = wc.sortBy(_._1).map { case (w, c) =>
      (scala.collection.mutable.ArrayBuffer.from(w.map(_.toString) :+ "</w>"), c)
    }
    val counts = scala.collection.mutable.Map.empty[(String, String), Long]
    val where = scala.collection.mutable.Map.empty[(String, String),
      scala.collection.mutable.Set[Int]]
    def addWord(wi: Int, sign: Long): Unit = {
      val (syms, c) = words(wi)
      var i = 0
      while (i + 1 < syms.length) {
        val p = (syms(i), syms(i + 1))
        val n = counts.getOrElse(p, 0L) + sign * c
        if (n == 0L) counts.remove(p) else counts(p) = n
        if (sign > 0)
          where.getOrElseUpdate(p, scala.collection.mutable.Set.empty) += wi
        i += 1
      }
      // retraction leaves stale index entries behind; that is harmless
      // (a stale "affected" word retracts and re-adds identical pairs,
      // a no-op) and avoids a full index sweep per merge
    }
    words.indices.foreach(addWord(_, 1L))
    val merges = Seq.newBuilder[(String, String, Long)]
    for (_ <- 0 until k if counts.nonEmpty) {
      val ((a, b), c) = counts.toSeq
        .minBy { case ((x, y), n) => (-n, s"$x $y") }
      merges += ((a, b, c))
      val affected = where.getOrElse((a, b), Set.empty).toSeq.sorted
      affected.foreach { wi =>
        addWord(wi, -1L) // retract old pairs
        val merged = mergePair(words(wi)._1.toSeq, a, b)
        words(wi)._1.clear()
        words(wi)._1 ++= merged
        addWord(wi, 1L) // add new pairs
      }
    }
    merges.result()
  }

  /** Distributed recount path: each round counts pairs over the
    * weighted vocabulary, picks the argmax, and rewrites the
    * vocabulary with the merge applied. Only the winning pair crosses
    * to the driver each round. */
  def trainMergesDistributed(spark: SparkSession, sfDir: String,
      k: Int): Seq[(String, String, Long)] =
    trainMergesOnVocab(wordCounts(spark, sfDir), k)

  private def trainMergesOnVocab(wc: DataFrame, k: Int): Seq[(String, String, Long)] = {
    val spark = wc.sparkSession
    import spark.implicits._
    var vocab: Dataset[WordSyms] = symbolized(wc)
      .select(col("syms"), col("cnt")).as[WordSyms]
      .localCheckpoint() // cut lineage: each round re-reads the small vocab, not the corpus
    val merges = Seq.newBuilder[(String, String, Long)]
    for (_ <- 0 until k) {
      val top = pairCountsOf(vocab.toDF())
        .orderBy(col("cnt").desc, col("pair").asc).limit(1)
        .collect().headOption
      top.foreach { r =>
        val Array(a, b) = r.getString(0).split(" ", 2)
        merges += ((a, b, r.getLong(1)))
        vocab = vocab.map(w => WordSyms(mergePair(w.syms, a, b), w.cnt))
          .localCheckpoint()
      }
    }
    merges.result()
  }
}
