package graft.text

import graft.core.DumpSink
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators over the `documents` table — the
  * training-data pipeline extensions (language ID, quality scoring,
  * token counting, fingerprinting). All built from codegen'd built-in
  * functions (no UDFs): one narrow pass per operator, no shuffle — the
  * ideal 100 TB shape (map-only, column-pruned scan).
  *
  * Every output is integer/string-typed so cross-engine compares are
  * exact (no float ratios; ratio thresholds use integer cross-
  * multiplication).
  */
object TextAnalysis {

  private def documents(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"$sfDir/documents.parquet")

  /** Whitespace token count + char count (BPE-ish subword count is the
    * alpha-char count / 4 heuristic — kept integer). */
  def tokenCount(spark: SparkSession, sfDir: String): DataFrame =
    documents(spark, sfDir).select(
      col("doc_id"),
      expr("size(filter(split(text, '\\\\s+'), x -> x != ''))").cast("long").as("n_tokens"),
      length(col("text")).cast("long").as("n_chars"),
      (length(regexp_replace(lower(col("text")), "[^a-z]", "")) / lit(4))
        .cast("long").as("n_subwords_est"))

  /** Quality signals: token/stopword/punctuation/alpha counts and an
    * integer quality flag (length window + stopword ratio >= 5%,
    * compared via cross-multiplication to stay in integers). */
  def quality(spark: SparkSession, sfDir: String): DataFrame =
    documents(spark, sfDir)
      .select(col("doc_id"), col("text"),
        expr("size(filter(split(text, '\\\\s+'), x -> x != ''))").cast("long").as("n_tokens"),
        expr("size(filter(split(lower(text), '[^a-z]+'), " +
          "x -> x IN ('the','a','of','and','to','is','in')))").cast("long").as("n_stop"),
        length(regexp_replace(col("text"), "[^.,;:!?]", "")).cast("long").as("n_punct"),
        length(regexp_replace(lower(col("text")), "[^a-z]", "")).cast("long").as("n_alpha"))
      .select(col("doc_id"), col("n_tokens"), col("n_stop"), col("n_punct"), col("n_alpha"),
        (col("n_tokens").between(5, 10000) && col("n_stop") * 20 >= col("n_tokens"))
          .cast("int").as("is_quality"))

  /** n-gram-heuristic language ID: count per-language marker tokens,
    * argmax with a fixed priority tiebreak (en>de>es>fr) via a CASE
    * cascade (each branch requires >= all later counts; equivalent to
    * priority-tiebroken argmax and expressible identically in DuckDB,
    * whose `greatest` cannot compare structs). */
  def langId(spark: SparkSession, sfDir: String): DataFrame =
    documents(spark, sfDir).select(
      col("doc_id"), expr(langPredExpr).as("lang_pred"))

  /** The langId CASE expression over a `text` column. */
  private def langPredExpr: String = {
    def cnt(words: String) =
      s"size(filter(split(lower(text), '[^a-z]+'), x -> x IN ($words)))"
    val (en, de, es, fr) = (cnt("'the','and','of','with'"), cnt("'der','die','das','und'"),
      cnt("'el','los','las','y'"), cnt("'le','les','et','une'"))
    s"""CASE
       |  WHEN $en >= $de AND $en >= $es AND $en >= $fr THEN 'en'
       |  WHEN $de >= $es AND $de >= $fr THEN 'de'
       |  WHEN $es >= $fr THEN 'es'
       |  ELSE 'fr' END""".stripMargin
  }

  /** TOKEN-BUDGET MIXTURE PLAN — the table a training run starts
    * from: for each domain (language here; any label column works the
    * same way), the available token mass, the token target the
    * mixture weights assign it out of `budgetTokens`, and the
    * repetition that target implies — `epochs_ppm` (passes over the
    * domain, in parts-per-million: 3 400 000 = 3.4 epochs),
    * decomposed into `full_epochs` whole passes plus a final pass
    * sampled at `resid_ppm` (the rate [[Sampling.hashSample]]-style
    * deterministic sampling then applies). The LLaMA/Pile-style
    * domain-mixture bookkeeping, integer-exact end to end.
    *
    * The domain axis is the catalog `lang` METADATA column (the form
    * real mixing uses — weights are assigned against the corpus
    * catalog, not re-predicted per run); weights are fixed ppm
    * constants (sum 1 000 000) mirrored in the DuckDB oracle. All
    * divisions are positive-integer truncating (Spark DIV ≡ DuckDB
    * //); `epochs_ppm = target·10⁶ ∕ avail` is exact while target ≤
    * 2⁶³/10⁶ ≈ 9.2·10¹² tokens per domain — trillion-token budgets
    * fit; beyond that the multiply needs a wider intermediate, noted
    * here rather than hidden.
    *
    * Scale posture: ONE scan of documents (two pruned columns),
    * partial-aggregated into ≤ |langs| groups — the shuffle carries a
    * handful of rows; the plan is a driver-sized artifact by
    * construction. */
  def mixPlan(spark: SparkSession, sfDir: String,
      budgetTokens: Long = 2500000L): DataFrame = {
    val wCase = "CASE lang WHEN 'en' THEN 550000 WHEN 'de' THEN 150000 " +
      "WHEN 'es' THEN 150000 WHEN 'fr' THEN 100000 WHEN 'zh' THEN 50000 " +
      "ELSE 0 END"
    documents(spark, sfDir)
      .select(col("lang"),
        expr("size(filter(split(text, '\\\\s+'), x -> x != ''))")
          .cast("long").as("n_toks"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("avail_tokens"))
      .select(col("lang"), col("n_docs"), col("avail_tokens"),
        expr(s"CAST($budgetTokens AS BIGINT) * CAST($wCase AS BIGINT) DIV 1000000")
          .as("target_tokens"))
      .withColumn("epochs_ppm", expr(
        "CASE WHEN avail_tokens = 0 THEN CAST(0 AS BIGINT) " +
          "ELSE target_tokens * 1000000 DIV avail_tokens END"))
      .withColumn("full_epochs", expr("epochs_ppm DIV 1000000"))
      .withColumn("resid_ppm", expr("epochs_ppm % 1000000"))
  }

  /** Epoch ceiling of [[mixEpochs]] — see its scaladoc. */
  val MaxEpochs: Long = 1000L

  /** MIXTURE-PLAN EXECUTOR — materialize [[mixPlan]] as the training
    * membership it implies: one (lang, doc_id, epoch) row per pass
    * each document participates in. Epochs below `full_epochs` are
    * whole passes (every domain doc); epoch = `full_epochs` is the
    * RESIDUAL pass, a deterministic id-hash sample at ~resid_ppm —
    * the [[Sampling.hashSample]] discipline with the threshold
    * computed IN-PLAN from the (data-dependent) resid rate:
    * md5-prefix < format('%015x', resid_ppm · ⌊2⁶⁰/10⁶⌋), pure bigint
    * then string compare, identical in both engines (the truncated
    * 2⁶⁰/10⁶ constant costs < 1 ppm selection bias and buys
    * exactness). Seed 137 keeps the residual draw independent of the
    * engine's other id-hash samples.
    *
    * Scale posture: broadcast the |langs|-row plan onto ONE
    * documents scan, explode to epochs (the multiplier is the real
    * repetition the plan prescribes), filter map-side — no shuffle;
    * downstream training-order assignment is [[mixOrder]]'s job over
    * (doc_id, epoch). Epochs are capped at [[MaxEpochs]] — a safety
    * valve, not policy: a DEGENERATE domain (near-zero token mass
    * under a nonzero weight) would otherwise prescribe millions of
    * passes and the per-row `sequence` explosion is unbounded; no
    * sane mixture exceeds double-digit epochs (data-constrained runs
    * top out around single digits), so the cap is inert except
    * exactly where the explosion would be the bug. Mirrored in the
    * oracle. */
  def mixEpochs(spark: SparkSession, sfDir: String,
      budgetTokens: Long = 2500000L): DataFrame =
    mixMembership(spark, sfDir, budgetTokens, Nil)

  /** The shared membership construction behind [[mixEpochs]],
    * [[mixShards]] and [[mixOrderCurriculum]]: the capped plan
    * broadcast onto ONE documents scan, exploded to epochs, residual
    * pass hash-sampled in-plan. `extra` carries per-doc columns the
    * caller needs downstream (token weights, quality flags) THROUGH
    * the explode, so no corpus re-join is ever paid — the scan is the
    * only pass over `text`. */
  private def mixMembership(spark: SparkSession, sfDir: String,
      budgetTokens: Long,
      extra: Seq[(String, org.apache.spark.sql.Column)],
      derived: Seq[(String, org.apache.spark.sql.Column)] = Seq.empty): DataFrame = {
    val plan = mixPlan(spark, sfDir, budgetTokens)
      .select(col("lang"),
        least(col("full_epochs"), lit(MaxEpochs)).as("full_epochs"),
        col("resid_ppm"))
    // `extra` is evaluated in the one projection over `text`;
    // `derived` is a SECOND projection over the extra columns — the
    // two stay separate stages (CollapseProject won't inline a
    // non-cheap alias referenced more than once), so an expensive
    // tokenization feeding several derived terms runs ONCE per row
    // instead of once per mention (the r11 triple-tokenize
    // curriculum flag: 37 s → single-scan at 133×). Only `derived`
    // names are carried through the explode when present.
    val carried = if (derived.isEmpty) extra else derived
    val extraCols = carried.map { case (n, _) => col(n) }
    val scanned = documents(spark, sfDir)
      .select(col("doc_id") +: col("lang") +:
        extra.map { case (n, c) => c.as(n) }: _*)
    val projected =
      if (derived.isEmpty) scanned
      else scanned.select(col("doc_id") +: col("lang") +:
        derived.map { case (n, c) => c.as(n) }: _*)
    projected
      .join(broadcast(plan), Seq("lang"))
      .select(col("lang") +: col("doc_id") +: (extraCols ++
        Seq(col("full_epochs"), col("resid_ppm"),
          explode(expr("sequence(CAST(0 AS BIGINT), full_epochs)"))
            .as("epoch"))): _*)
      .filter(col("epoch") < col("full_epochs") ||
        substring(md5(concat(col("doc_id").cast("string"), lit(":137"))), 1, 15)
          < expr("format_string('%015x', resid_ppm * 1152921504606L)"))
      .select(col("lang") +: col("doc_id") +: (extraCols :+ col("epoch")): _*)
  }

  /** The per-epoch deterministic shuffle key (fresh permutation per
    * pass, seed 42) — shared by every mixture-order variant. */
  private def epochShuffleKey: org.apache.spark.sql.Column =
    md5(concat(col("doc_id").cast("string"), lit(":"),
      col("epoch").cast("string"), lit(":42")))

  /** TRAINING ORDER over the mixture membership — the last leg of
    * plan → epochs → ORDER: epochs stay SEQUENTIAL (an epoch is a
    * real training boundary — pass k's docs all precede pass k+1's),
    * documents are shuffled WITHIN each epoch by the deterministic
    * md5 key of (doc_id, epoch, seed) — a fresh permutation every
    * epoch, the property epoch-wise training needs (same docs, new
    * order) that a single static shuffle would violate.
    *
    * The rank is [[SequencePacking.globalRank]] — range-partition +
    * local sort + driver-cumulated offsets — NOT a global
    * `row_number()` window (single-partition cliff); doc_id tiebreaks
    * md5 collisions so the order is total and engine-exact. */
  def mixOrder(spark: SparkSession, sfDir: String,
      budgetTokens: Long = 2500000L): DataFrame =
    SequencePacking.globalRank(
      mixEpochs(spark, sfDir, budgetTokens)
        .withColumn("shuffle_key", epochShuffleKey),
      Seq(col("epoch"), col("shuffle_key"), col("doc_id")))
      .select(col("lang"), col("doc_id"), col("epoch"),
        col("rank").as("train_order"))

  /** The two quality COUNT expressions over `text` — the same
    * arithmetic [[quality]] computes, factored so a carrying scan
    * tokenizes once per count (not once per mention of the count). */
  private val NTokensSql =
    "size(filter(split(text, '\\\\s+'), x -> x != ''))"
  private val NStopSql =
    "size(filter(split(lower(text), '[^a-z]+'), " +
      "x -> x IN ('the','a','of','and','to','is','in')))"

  /** The `is_quality` predicate as one expression over `text` — the
    * same arithmetic [[quality]] builds from its intermediate counts
    * (spec-pinned equal). REFERENCE form only: it mentions the token
    * count twice, so inlined into a scan it tokenizes every document
    * three times (the r11 26×-scaling curriculum finding) — hot paths
    * project [[NTokensSql]]/[[NStopSql]] once and derive the flag
    * from the columns instead ([[mixOrderCurriculum]]). */
  val QualityFlagSql: String =
    s"$NTokensSql BETWEEN 5 AND 10000 AND $NStopSql * 20 >= $NTokensSql"

  /** CURRICULUM training order — [[mixOrder]] with a quality
    * curriculum inside each epoch: every pass presents the clean
    * documents first ((is_quality DESC, fresh md5 shuffle) within the
    * epoch), the "clean-first" ordering curriculum-training uses
    * without changing WHAT is trained on (same membership, same
    * per-pass freshness; mixOrder is the uniform twin). Quality flag
    * carried from the one scan ([[mixMembership]]), rank by the same
    * two-pass globalRank. */
  def mixOrderCurriculum(spark: SparkSession, sfDir: String,
      budgetTokens: Long = 2500000L): DataFrame =
    SequencePacking.globalRank(
      mixMembership(spark, sfDir, budgetTokens,
        extra = Seq("n_tokens" -> expr(NTokensSql).cast("long"),
          "n_stop" -> expr(NStopSql).cast("long")),
        derived = Seq("is_quality" ->
          (col("n_tokens").between(5L, 10000L) &&
            col("n_stop") * 20L >= col("n_tokens")).cast("long")))
        .withColumn("shuffle_key", epochShuffleKey),
      Seq(col("epoch"), col("is_quality").desc, col("shuffle_key"),
        col("doc_id")))
      .select(col("lang"), col("doc_id"), col("epoch"), col("is_quality"),
        col("rank").as("train_order"))

  /** BUCKETED curriculum training order (`text_mix_order_bucketed`) —
    * [[mixOrderCurriculum]] with quality DECILES instead of the binary
    * flag: real curriculum schedules grade from cleanest to noisiest,
    * not clean/other. Score = stopword rate in parts-per-million
    * (`n_stop·10⁶ div n_tokens`, 0 for token-less docs — truncating
    * bigint division, exact in both engines); decile cutoffs are
    * selected from the CORPUS-WIDE score VALUE HISTOGRAM at ranks
    * ceil(n·d/10), d = 1..9 — the events-gate histogram-selection
    * machinery ([[graft.queries.RelQueries]] histQuantilesSelect)
    * applied with the corpus as the one group; `q_decile` =
    * #cutoffs strictly below the doc's score (0..9, 9 = most
    * stopword-dense ≈ cleanest natural text), presented descending
    * inside each epoch with the same fresh per-epoch shuffle within a
    * decile. Cost posture: the histogram is one map-side-combined
    * aggregation bounded by the VALUE DOMAIN (≤ 10⁶ + 1 distinct ppm
    * scores, single-partition window over that bounded frame), the
    * 9-row cutoff list folds in as one broadcast literal — the
    * curriculum premium stays one extra bounded aggregate over the
    * single-tokenize scan (the r12 single-pass lesson carried over). */
  def mixOrderBucketed(spark: SparkSession, sfDir: String,
      budgetTokens: Long = 2500000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scoreSql = s"CASE WHEN ($NTokensSql) = 0 THEN CAST(0 AS BIGINT) " +
      s"ELSE (CAST(($NStopSql) AS BIGINT) * 1000000) DIV ($NTokensSql) END"
    val hist = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(expr(scoreSql).cast("long").as("score"))
      .groupBy(col("score")).agg(count(lit(1)).as("c"))
    val cuts = hist
      .withColumn("cum", sum(col("c")).over(Window.orderBy(col("score"))))
      .withColumn("n", sum(col("c")).over(
        Window.orderBy(col("score"))
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("d", explode(expr("sequence(1, 9)")))
      .withColumn("r", expr("cast(ceil(n * d / 10.0) as bigint)"))
      .filter(col("cum") - col("c") < col("r") && col("r") <= col("cum"))
      .agg(sort_array(collect_list(col("score"))).as("cuts"))
    val mem = mixMembership(spark, sfDir, budgetTokens,
        extra = Seq("n_tokens" -> expr(NTokensSql).cast("long"),
          "n_stop" -> expr(NStopSql).cast("long")),
        derived = Seq("score" -> expr(
          "CASE WHEN n_tokens = 0 THEN CAST(0 AS BIGINT) " +
            "ELSE (n_stop * 1000000) DIV n_tokens END")))
      .withColumn("shuffle_key", epochShuffleKey)
      .crossJoin(broadcast(cuts))
      .withColumn("q_decile", expr(
        "aggregate(cuts, CAST(0 AS BIGINT), " +
          "(acc, t) -> acc + CASE WHEN score > t THEN 1 ELSE 0 END)"))
    SequencePacking.globalRank(mem,
      Seq(col("epoch"), col("q_decile").desc, col("shuffle_key"),
        col("doc_id")))
      .select(col("lang"), col("doc_id"), col("epoch"), col("q_decile"),
        col("rank").as("train_order"))
  }

  /** OUTPUT SHARDS over the training order — the leg that turns the
    * ordered mixture into the fixed-size artifact a data loader
    * reads: walking the [[mixOrder]] order, cut a new shard every
    * `shardTokens` whitespace tokens (shard k holds the rows whose
    * running token total starts in [k·B, (k+1)·B)). Contiguity in
    * train_order is the property that matters: a loader streaming
    * shards 0..n IS the training order, and every shard is the same
    * token size (±1 doc), so loader workers stay balanced.
    *
    * Implementation: the membership frame re-derived with `n_toks`
    * CARRIED from the one documents scan (mixEpochs deliberately
    * never reads `text`; here the token weight is needed anyway, so
    * carrying it beats a corpus-sized re-join), then ONE
    * [[SequencePacking.globalRankPack]] pass — rank and token
    * prefix-sum share a single range-partitioned layout, one shuffle
    * where rank-then-pack would take two. Spec pins equality with the
    * two-step composition. */
  def mixShards(spark: SparkSession, sfDir: String,
      budgetTokens: Long = 2500000L, shardTokens: Long = 65536L): DataFrame =
    SequencePacking.globalRankPack(
      mixMembership(spark, sfDir, budgetTokens,
        Seq("n_toks" -> expr("size(filter(split(text, '\\\\s+'), x -> x != ''))")
          .cast("long")))
        .withColumn("shuffle_key", epochShuffleKey),
      Seq(col("epoch"), col("shuffle_key"), col("doc_id")),
      "n_toks", shardTokens)
      .select(col("lang"), col("doc_id"), col("epoch"),
        col("rank").as("train_order"), col("n_toks"),
        col("pack_id").as("shard_id"))

  /** Materialize [[mixShards]] as one parquet directory per shard
    * (`shard_id=K/`) — the on-disk artifact a loader mounts. The
    * frame is hash-repartitioned on shard_id first so each task
    * writes whole shards (without it every task appends a sliver to
    * every shard directory: numShards × numTasks files); rows inside
    * a shard are sorted by train_order so a sequential read of the
    * shard IS the training order. Returns the assignment frame it
    * wrote. */
  def writeShards(spark: SparkSession, sfDir: String, outDir: String,
      budgetTokens: Long = 2500000L, shardTokens: Long = 65536L): DataFrame = {
    val shards = mixShards(spark, sfDir, budgetTokens, shardTokens)
    shards
      .repartition(col("shard_id"))
      .sortWithinPartitions(col("shard_id"), col("train_order"))
      .write.mode("overwrite").partitionBy("shard_id").parquet(outDir)
    shards
  }

  /** SOURCE TOKEN-DRIFT REPORT — crawl-snapshot QA: for every
    * `source`, which tokens are most over/under-represented against
    * the REST of the corpus. The question a curator asks when a new
    * crawl slice lands ("what is src17 full of that nothing else
    * is?") and the per-slice twin of corpus-level quality scoring.
    *
    * Metric: per-token rate in parts-per-million within the source
    * vs within the rest, both TRUNCATING bigint divisions
    * (`c·10⁶ div N` — exact in both engines), drift =
    * |ppm_src − ppm_rest|, direction = sign(ppm_src − ppm_rest),
    * top-`k` per source by (drift DESC, token ASC). The ppm form is
    * the overflow-safe one: raw cross-multiplication
    * (c_s·N_rest − c_rest·N_s) overflows 2⁶³ near ~3·10⁹ tokens,
    * while `c·10⁶` holds to 9.2·10¹² occurrences of one token in one
    * slice; ppm resolution is part of the contract, not noise —
    * mirrored exactly in the oracle. Domain = tokens PRESENT in the
    * source: a token a source never emits is the extreme
    * under-representation but a different (set-difference) report —
    * this one answers "what is this slice full of".
    *
    * Scale posture: one scan + token explode, two partial-aggregated
    * group-bys ((source, tok) then tok), broadcast-sized per-source
    * totals; the top-k is a window PARTITIONED by source (sort-based,
    * spills, never a single global partition). For vocab-heavy
    * corpora the per-source sort is vocab-sized — the partition-local
    * heap pattern ([[Embed.bucketTopK]]'s tail) is the drop-in swap
    * above that threshold. */
  def sourceDrift(spark: SparkSession, sfDir: String, k: Int = 3): DataFrame =
    driftReport(sourceTokenCounts(documents(spark, sfDir)), k)

  /** Per-(source, token) occurrence counts — the ADDITIVE state the
    * drift report derives from (additivity is what makes the
    * streaming monitor's per-batch count subdirs compose exactly;
    * [[graft.streaming.DriftStream]]). */
  def sourceTokenCounts(docs: DataFrame): DataFrame =
    docs
      .select(col("source"), explode(expr(Tok.alphaToks)).as("tok"))
      .groupBy(col("source"), col("tok"))
      .agg(count(lit(1)).as("c_src"))

  /** SEMANTIC drift — the same monitor one modality up: per source,
    * which EMBEDDING-SPACE regions it over/under-populates vs the
    * rest of the corpus ("did the new crawl slice shift
    * semantically"). Region = the axis-sign bucket of the first
    * `dims` embedding dimensions (sign bit per dim → 2^dims buckets)
    * — the crudest member of the random-projection sketch family,
    * chosen because a float sign test is ENGINE-EXACT (DuckDB and
    * Spark compare the identical stored float; no arithmetic, no
    * rounding), so the whole report stays hash-gateable. The report
    * stage is [[driftReport]] verbatim — counts are counts, whatever
    * the key. One embeddings⋈documents join (vec_id = doc_id, the
    * catalog contract), then the shared chain. */
  def sourceDriftSemantic(spark: SparkSession, sfDir: String,
      k: Int = 3, dims: Int = 8): DataFrame = {
    val docs = documents(spark, sfDir).select(col("doc_id"), col("source"))
    val bucketExpr = (0 until dims)
      .map(i => s"(CASE WHEN element_at(embedding, ${i + 1}) > CAST(0.0 AS FLOAT) " +
        s"THEN ${1 << i} ELSE 0 END)")
      .mkString(" + ")
    val counts = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
      .join(docs, col("vec_id") === col("doc_id"))
      .select(col("source"), expr(s"CAST(($bucketExpr) AS STRING)").as("tok"))
      .groupBy(col("source"), col("tok"))
      .agg(count(lit(1)).as("c_src"))
    driftReport(counts, k).withColumnRenamed("tok", "bucket")
  }

  /** The report stage of [[sourceDrift]] over any additive
    * (source, tok, c_src) counts frame. */
  def driftReport(bySrc: DataFrame, k: Int = 3): DataFrame = {
    val srcTotals = bySrc.groupBy(col("source"))
      .agg(sum(col("c_src")).as("n_src"))
    val byTok = bySrc.groupBy(col("tok"))
      .agg(sum(col("c_src")).as("c_all"))
    val n_all = srcTotals.agg(sum(col("n_src")).as("n_all"))
    val scored = bySrc
      .join(broadcast(srcTotals), Seq("source"))
      .join(byTok, Seq("tok"))
      .crossJoin(broadcast(n_all)) // single-row total, deliberate
      .withColumn("ppm_src", expr("c_src * 1000000L DIV n_src"))
      .withColumn("ppm_rest", expr(
        "CASE WHEN n_all = n_src THEN CAST(0 AS BIGINT) " +
          "ELSE (c_all - c_src) * 1000000L DIV (n_all - n_src) END"))
      .withColumn("drift", abs(col("ppm_src") - col("ppm_rest")))
      .withColumn("direction",
        signum(col("ppm_src") - col("ppm_rest")).cast("long"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(col("drift").desc, col("tok").asc)
    scored
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("source"), col("rk"), col("tok"),
        col("ppm_src"), col("ppm_rest"), col("drift"), col("direction"))
  }

  /** Within-document repetition signal (C4-style quality filter): how
    * many word-bigram slots repeat an earlier bigram. Integer outputs;
    * the flag fires when ≥10% of bigram slots are repeats (integer
    * cross-multiplication). Tokenizer in its own projection — see
    * graft.dedup.Dedup on lambda capture. */
  def repetition(spark: SparkSession, sfDir: String): DataFrame =
    documents(spark, sfDir)
      .select(col("doc_id"),
        expr(Tok.alphaToks).as("toks"))
      .select(col("doc_id"),
        expr("""CASE WHEN size(toks) >= 2 THEN
                |  transform(sequence(0, size(toks) - 2),
                |    i -> concat(toks[i], ' ', toks[i+1]))
                |ELSE array() END""".stripMargin).as("bigrams"))
      .select(col("doc_id"),
        size(col("bigrams")).cast("long").as("n_bigrams"),
        size(array_distinct(col("bigrams"))).cast("long").as("n_distinct"))
      .select(col("doc_id"), col("n_bigrams"), col("n_distinct"),
        ((col("n_bigrams") - col("n_distinct")) * 10 >= col("n_bigrams") &&
          col("n_bigrams") > 0).cast("int").as("is_repetitive"))

  /** Unigram language-model score per document: mean log-probability
    * of its tokens under the corpus unigram distribution — the
    * perplexity-style quality signal used to filter training corpora
    * (low mean logprob = out-of-distribution / junk).
    *
    * Two passes: global token counts (tiny for any real vocabulary —
    * broadcast), then a map-side join + aggregation. The score is
    * quantized to integer micro-units (round(mean·1e6)) so the output
    * is insensitive to float summation order and last-ulp ln()
    * differences — which makes even this float pipeline SQL-oracle
    * comparable. */
  def lmScore(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = documents(spark, sfDir)
      .select(col("doc_id"),
        explode(expr(Tok.alphaToks)).as("tok"))
      // three consumers (total count, frequency table, scoring join):
      // materialize the tokenize+explode once
      .localCheckpoint()
    val freqs = toks.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    val total = lit(toks.count().toDouble)
    toks.join(broadcast(freqs), "tok")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        round(sum(log(col("cnt") / total)) / count(lit(1)) * 1e6)
          .cast("long").as("score_micro"))
  }

  /** Top-3 TF-IDF terms per document — the keyword-extraction /
    * relevance-weighting primitive (tf·ln(N/df), scores quantized to
    * micro-units like [[lmScore]] so the ranking and the values are
    * cross-engine exact). The rank window orders by the QUANTIZED
    * score (ties broken by term), so engines that differ in the last
    * ulp of ln() still rank identically. df is a per-term aggregate
    * (tiny for any real vocabulary — broadcast); the window partitions
    * by doc_id, so the big shuffle is one exchange of (doc, term)
    * pairs. */
  def tfIdfTop(spark: SparkSession, sfDir: String, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = documents(spark, sfDir)
    val n = lit(docs.count().toDouble)
    val toks = docs.select(col("doc_id"),
      explode(expr(Tok.alphaToks)).as("term"))
    // tf and df each re-run the explode — measured CHEAPER than
    // materializing the full postings for only two consumers (unlike
    // lmScore's three): checkpoint write+read ≈ the recompute here
    val tf = toks.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val df = toks.groupBy(col("term")).agg(countDistinct(col("doc_id")).as("df"))
    val scored = tf.join(broadcast(df), "term")
      .select(col("doc_id"), col("term"),
        round(col("tf") * log(n / col("df")) * 1e6).cast("long").as("score_micro"))
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(col("score_micro").desc, col("term"))))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("term"), col("rank").cast("long").as("rank"),
        col("score_micro"))
  }

  /** Linear text-classifier INFERENCE: score = Σ weight(token), the
    * model shipped as a WEIGHT TABLE broadcast to the scan — how
    * logistic-regression / fastText-style quality classifiers actually
    * run inside a data engine (model-as-data join + aggregate; no UDF,
    * no per-row model call). The weights here are a deterministic
    * stand-in (ascii-sum mod 21, centered) so the full inference path
    * is SQL-oracle-checkable; a real model swaps in its own table.
    *
    * Scale: the weight table is vocabulary-sized → broadcast; the
    * corpus explodes to tokens but aggregates back map-side. */
  def classify(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = documents(spark, sfDir)
      .select(col("doc_id"),
        explode(expr(Tok.alphaToks)).as("t"))
    val weights = toks.select(col("t")).distinct()
      .withColumn("wt",
        expr("aggregate(transform(sequence(1, length(t)), i -> ascii(substring(t, i, 1))), 0, (a, x) -> a + x) % 21 - 10")
          .cast("long"))
    toks.join(broadcast(weights), "t")
      .groupBy(col("doc_id"))
      .agg(sum(col("wt")).as("score"))
      .select(col("doc_id"), col("score"),
        (col("score") > 0).cast("int").as("label"))
  }

  /** Document fingerprint: md5 of case/whitespace/punctuation-
    * normalized text — robust exact-dup key across formatting noise. */
  def fingerprint(spark: SparkSession, sfDir: String): DataFrame =
    documents(spark, sfDir).select(
      col("doc_id"),
      md5(trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " "))).as("fp"))

  /** Token-distribution Shannon entropy per document — the lexical-
    * diversity quality signal (low entropy = keyword stuffing, boiler-
    * plate, generated spam; cf. the entropy filters in C4/Gopher-style
    * cleaning stacks). Computed as H = ln(n) − (Σ c_w·ln(c_w))/n over
    * the doc's token counts, so the whole thing is two map-side-
    * combinable aggregations: (doc, token) counts, then per-doc fold —
    * the uniform-shuffle shape that survives 100 TB. Quantized to
    * integer micro-nats ([[lmScore]] discipline) for an exact SQL
    * oracle despite ln(). Empty docs report entropy 0 (and survive —
    * downstream must see them to drop them). */
  def tokenEntropy(spark: SparkSession, sfDir: String): DataFrame = {
    val counts = documents(spark, sfDir)
      .select(col("doc_id"),
        explode_outer(expr(Tok.alphaToks)).as("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(col("tok")).as("cnt"))
    counts.groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_tokens"),
        sum(col("cnt") * log(col("cnt"))).as("clogc"))
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(
          round((log(col("n_tokens")) - col("clogc") / col("n_tokens")) * 1e6),
          lit(0.0)).cast("long").as("entropy_micro"))
  }

  /** FILTER FUNNEL — the "why was this document kept or dropped"
    * report: every hygiene verdict joined into one per-doc frame
    * (quality floor, language, repetition, token-entropy diversity,
    * exact-dedup keeper) plus the combined `keep`. Composes the
    * TESTED operators by doc_id joins rather than re-deriving their
    * logic, so each column is provably the same bit the standalone
    * gate checks; at scale the joins co-partition on doc_id after the
    * first shuffle. The entropy floor (default 2.0 nats) is the
    * degenerate-doc catch, not a quality bar — set it low. */
  def filterFunnel(spark: SparkSession, sfDir: String,
      entropyFloorMicro: Long = 2000000L): DataFrame = {
    val q = quality(spark, sfDir)
      .select(col("doc_id"), col("is_quality").as("q_ok"))
    val l = langId(spark, sfDir)
      .select(col("doc_id"), (col("lang_pred") === "en").cast("int").as("lang_ok"))
    val r = repetition(spark, sfDir)
      .select(col("doc_id"), (col("is_repetitive") === 0).cast("int").as("rep_ok"))
    val e = tokenEntropy(spark, sfDir)
      .select(col("doc_id"),
        (col("entropy_micro") >= entropyFloorMicro).cast("int").as("ent_ok"))
    val k = documents(spark, sfDir)
      .select(col("doc_id"), md5(col("text")).as("h"))
      .withColumn("keeper", min(col("doc_id")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("h"))))
      .select(col("doc_id"),
        (col("doc_id") === col("keeper")).cast("int").as("is_keeper"))
    q.join(l, "doc_id").join(r, "doc_id").join(e, "doc_id").join(k, "doc_id")
      .withColumn("keep",
        (col("q_ok") === 1 && col("lang_ok") === 1 && col("rep_ok") === 1 &&
          col("ent_ok") === 1 && col("is_keeper") === 1).cast("int"))
  }

  /** [[filterFunnel]] extended with the SEMANTIC keeper bit — the
    * full multimodal hygiene report a training pipeline actually
    * wants per document (embeddings align 1:1 with documents in the
    * corpus: `vec_id == doc_id`): the five text verdicts plus
    * `sem_ok` = kept by [[graft.dedup.SemDedup]]'s cluster-then-prune
    * rule over the document's embedding, and the combined keep bit.
    * Same composition discipline as the base funnel: every column is
    * the bit its standalone gate hash-checks. */
  def filterFunnelSemantic(spark: SparkSession, sfDir: String,
      entropyFloorMicro: Long = 2000000L,
      centsDump: DumpSink = DumpSink.discard): DataFrame = {
    val base = filterFunnel(spark, sfDir, entropyFloorMicro).drop("keep")
    val sem = graft.dedup.SemDedup.semantic(spark, sfDir, centsDump = centsDump)
      .select(col("vec_id").as("doc_id"), col("kept").cast("int").as("sem_ok"))
    base.join(sem, "doc_id")
      .withColumn("keep",
        (col("q_ok") === 1 && col("lang_ok") === 1 && col("rep_ok") === 1 &&
          col("ent_ok") === 1 && col("is_keeper") === 1 &&
          col("sem_ok") === 1).cast("int"))
  }

  /** CORPUS REPORT CARD — the per-(split, language) rollup shipped
    * alongside a curated training corpus: document count, token and
    * alpha-character mass, quality-keeper count, grouped over the
    * LEAKAGE-SAFE split ([[graft.dedup.Dedup.leakSafeSplit]]). Same
    * composition discipline as [[filterFunnel]]: every input column
    * is the exact value its standalone gate hash-checks; the report
    * adds one rollup. All aggregates are integer-exact (Long sums).
    *
    * Scale: the three per-doc frames derive from the documents scan
    * and join co-keyed on doc_id (the honest composition cost the
    * pipeline gates also pay); the rollup shuffles ≤ |splits|·|langs|
    * groups — map-side combined, output is report-sized, never
    * corpus-sized. */
  def corpusReport(spark: SparkSession, sfDir: String): DataFrame = {
    val split = graft.dedup.Dedup.leakSafeSplit(spark, sfDir)
      .select(col("doc_id"), col("split"))
    val lang = langId(spark, sfDir)
    val q = quality(spark, sfDir)
      .select(col("doc_id"), col("n_tokens"), col("n_alpha"),
        col("is_quality").cast("long").as("is_quality"))
    split.join(lang, "doc_id").join(q, "doc_id")
      .groupBy(col("split"), col("lang_pred"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("n_alpha")).as("n_alpha"),
        sum(col("is_quality")).as("n_quality"))
  }
}
