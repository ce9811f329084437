package graft.text

import graft.core.DumpSink
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The composed corpus-preparation pipeline — the flagship shape a
  * training-data engine exists for, as ONE declarative program:
  *
  *   raw documents
  *     → scrub (URL/email, whitespace)             map-only
  *     → token count + quality floor               map-only
  *     → exact dedup (md5 of cleaned text,         1 shuffle on a
  *       first doc_id wins)                        16-byte key
  *     → sequence packing at a token budget        2 narrow passes
  *
  * Every stage is the already-tested operator; the composition is
  * itself oracle-checked end to end (the DuckDB twin chains the same
  * CTEs), which is the point: operators that compose without escape
  * hatches are what make the library usable.
  */
object CorpusPipeline {

  /** (doc_id, n_tokens, pack_id) for the cleaned, quality-filtered,
    * deduplicated corpus, packed at `budget` tokens. */
  def prepare(spark: SparkSession, sfDir: String, budget: Long = 512L,
      minTokens: Long = 5L): DataFrame =
    prepareDf(spark.read.parquet(s"$sfDir/documents.parquet"), budget, minTokens)

  /** The pipeline upgraded to the ACTUAL training artifact: after
    * scrub → quality → dedup, documents are tokenized to BPE TOKEN IDS
    * (vocabulary trained once on the corpus histogram — the same
    * corpus-sized pass the count-based pipeline already pays) and
    * packed by ID COUNT, the budget a trainer actually fills. Output
    * (doc_id, n_bpe_tokens, pack_id) is hash-gated: the merge table
    * goes to `mergesDump` (Bpe.trainMerges) and the DuckDB oracle
    * re-applies it to the kept cleaned text; CorpusPipelineSpec also
    * pins the manual stage composition and the standalone BPE-id
    * operator. */
  def prepareIds(spark: SparkSession, sfDir: String, budget: Long = 512L,
      minTokens: Long = 5L, merges: Int = 8,
      mergesDump: DumpSink = DumpSink.discard): DataFrame = {
    import spark.implicits._
    // widen the 1-file scan before the regex scrub: the checkpoint
    // below pins the width, so dedup keys, the semi-join probe AND the
    // BPE id encode all inherit full parallelism (r18 stage audit: the
    // scrub + two encode executions ran 1-wide, ~1.8 s serial). At
    // production scale the scan is already wide — structural no-op.
    val docs = graft.core.Widen.ifNarrow(
      spark.read.parquet(s"$sfDir/documents.parquet"))
    val ms = Bpe.trainMerges(spark, sfDir, merges, mergesDump = mergesDump)
      .map(m => (m._1, m._2))
    val toks = Cleaning.cleanText(docs)
      .select(col("doc_id"), col("clean_text"),
        expr("size(filter(split(clean_text, '\\\\s+'), x -> x != ''))")
          .cast("long").as("n_tokens"))
      .filter(col("n_tokens") >= minTokens)
      // dedup keys AND the semi-join probe read this; materialize the
      // regex-heavy scrub once instead of twice (lazy: the dedup key
      // shuffle scans every partition and fills it)
      .localCheckpoint(eager = false)
    val keep = toks
      .groupBy(md5(col("clean_text")).as("k"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    val kept = toks.join(keep, Seq("doc_id"), "left_semi")
    val ids = Bpe.encodeIdsDocs(
        kept.select(col("doc_id"), col("clean_text").as("text")), ms)
      .select(col("doc_id"), size(col("token_ids")).cast("long").as("n_tokens"))
      .as[SequencePacking.DocTokens]
      // packByPrefixSum range-partitions its input, and the range
      // sampling pass EXECUTES the child once more — checkpoint the
      // two-column encode result so the per-doc BPE merge loop runs
      // once, not twice (the checkpointed frame is doc_id+count only)
      .localCheckpoint()
    SequencePacking.packByPrefixSum(ids, budget, spark.sparkContext.defaultParallelism).toDF()
      .select(col("doc_id"), col("n_tokens").as("n_bpe_tokens"), col("pack_id"))
  }

  /** The pipeline with SPAN-LEVEL DECONTAMINATION up front: benchmark-
    * overlapping extents are EXCISED from the training split
    * ([[graft.dedup.SuffixDedup.exciseBenchmarkSpans]]) before scrub /
    * quality / dedup / packing run on the surviving text. Excision
    * first is the principled order — a doc whose only difference from
    * another is its benchmark quote collapses in the dedup stage, and
    * the quality floor drops docs that were mostly benchmark text.
    * Fully SQL-expressible, so the COMPOSITION carries its own hash
    * oracle (the text_excise CTE chained into the packing CTEs). */
  def prepareDecontaminated(spark: SparkSession, sfDir: String,
      budget: Long = 512L, minTokens: Long = 5L, minSpan: Int = 8,
      benchMod: Int = 37): DataFrame =
    prepareDf(
      graft.dedup.SuffixDedup.exciseBenchmarkSpans(spark, sfDir, minSpan, benchMod)
        .select(col("doc_id"), col("clean_text").as("text")),
      budget, minTokens)

  /** [[prepare]] on any (doc_id, text) frame — the batch twin the
    * streaming pipeline (graft.streaming.StreamingCorpusPipeline) is
    * differential-tested against on every consumed prefix. Packing
    * runs at the cluster's default parallelism: its range layout holds
    * two longs per kept document, so more partitions than cores only
    * add tasks. */
  def prepareDf(docs: DataFrame, budget: Long = 512L,
      minTokens: Long = 5L): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // same widening rationale as prepareIds: the regex scrub must not
    // run 1-wide over a 1-file scan; no-op on an already-wide input
    val toks = Cleaning.cleanText(graft.core.Widen.ifNarrow(docs))
      .select(col("doc_id"), col("clean_text"),
        expr("size(filter(split(clean_text, '\\\\s+'), x -> x != ''))")
          .cast("long").as("n_tokens"))
      .filter(col("n_tokens") >= minTokens)
      .localCheckpoint(eager = false) // two consumers, one scrub (see prepareIds)
    // keep the first (min doc_id) copy of each distinct cleaned text;
    // the shuffle key is the 16-byte digest, never the text
    val keep = toks
      .groupBy(md5(col("clean_text")).as("k"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    val kept = toks.select(col("doc_id"), col("n_tokens"))
      .join(keep, Seq("doc_id"), "left_semi")
      .as[SequencePacking.DocTokens]
    SequencePacking.packByPrefixSum(kept, budget, spark.sparkContext.defaultParallelism).toDF()
  }
}
