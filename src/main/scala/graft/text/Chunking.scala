package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Sliding token-window chunking — the context-window splitter every
  * RAG / pretraining pipeline runs in front of embedding or packing:
  * each document becomes ⌈(n − w)/s⌉ + 1 overlapping chunks of at
  * most `window` tokens, starts `stride` apart (overlap = w − s).
  *
  * Chunk-count rule (all integer arithmetic, engine-parity exact):
  * a document with n ≥ 1 tokens yields 1 chunk if n ≤ w, else
  * 1 + (n − w + s − 1) div s — i.e. a chunk only exists if it covers
  * at least one token the previous chunk did not, so no chunk is a
  * suffix-slice fully contained in its predecessor. Token-less
  * documents yield no chunks. Tokenization is [[Tok.alphaToks]] (the
  * engine-wide tokenizer — chunk boundaries line up with every other
  * text operator's token offsets, so a chunk's `tok_start` indexes
  * straight into the suffix/window machinery).
  *
  * Scale design: map-only — one narrow pass, no shuffle, reads only
  * (doc_id, text) (column pruning reaches the scan); the explode is
  * per-document and output size is ~n/s · w tokens, a constant
  * factor over the corpus. At 100 TB this is the shape you want:
  * chunking parallelizes embarrassingly and the chunk stream feeds
  * the embedder / packer without ever materializing per-doc state.
  */
object Chunking {

  /** Sliding windows over the BPE TOKEN-ID stream — the chunker a
    * pretraining/RAG pipeline actually runs (context budgets are
    * tokenizer tokens, not words): [[Bpe.encodeIds]]'s (doc_id, pos,
    * token_id) rows fan out to every chunk containing their position.
    * One row per (doc_id, chunk_id, pos_in_chunk, token_id) — flat,
    * so the gate hashes scalar values, and downstream `groupBy(doc,
    * chunk)` reassembles sequences without re-tokenizing.
    *
    * Same chunk-count rule as [[chunks]] over n = the doc's ID count;
    * membership per id row is the closed-form chunk range
    * [max(0, ⌊(pos−w)/s⌋+1), min(⌊pos/s⌋, nChunks−1)] — all integer,
    * never empty (w ≥ s), so the explode is a bounded ≤ ⌈w/s⌉-way
    * fan-out with no per-doc state. One shuffle (the doc-partitioned
    * count window); the BPE encode itself is the narrow broadcast-
    * merges pass. */
  def chunkIds(spark: SparkSession, sfDir: String, window: Int = 64,
      stride: Int = 48,
      mergesDump: graft.core.DumpSink = graft.core.DumpSink.discard): DataFrame = {
    require(window >= 1 && stride >= 1 && stride <= window,
      s"need 1 <= stride <= window, got window=$window stride=$stride")
    // per-doc id count via a PARTITIONED window, not a groupBy +
    // self-join: the join shape would execute the whole BPE encode
    // plan twice (once per join side)
    val ids = graft.text.Bpe.encodeIds(spark, sfDir, mergesDump = mergesDump)
      .withColumn("n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("doc_id")))
    ids
      .withColumn("chunk_id", explode(expr(
        s"sequence(CASE WHEN pos < $window THEN 0 " +
          s"ELSE CAST((pos - $window) DIV $stride + 1 AS INT) END, " +
          s"least(CAST(pos DIV $stride AS INT), " +
          s"CASE WHEN n <= $window THEN 0 " +
          s"ELSE CAST((n - $window + $stride - 1) DIV $stride AS INT) END))")))
      .select(
        col("doc_id"),
        col("chunk_id").cast("long").as("chunk_id"),
        (col("pos") - col("chunk_id") * stride).cast("long").as("pos_in_chunk"),
        col("token_id"))
  }

  /** (doc_id, chunk_id, tok_start, n_tokens, chunk) per sliding
    * window. `tok_start` = chunk_id·stride (0-based token offset). */
  def chunks(spark: SparkSession, sfDir: String, window: Int = 64,
      stride: Int = 48): DataFrame =
    chunksOf(spark.read.parquet(s"$sfDir/documents.parquet"), window, stride)

  /** [[chunks]] over a caller-supplied (doc_id, text) frame — the
    * shape an ingest loop needs: chunking is STATELESS per document,
    * so the same plan serves batch and `foreachBatch` micro-batches
    * (ChunkingSpec pins streaming ≡ batch). */
  def chunksOf(docs: DataFrame, window: Int = 64,
      stride: Int = 48): DataFrame = {
    require(window >= 1 && stride >= 1 && stride <= window,
      s"need 1 <= stride <= window, got window=$window stride=$stride")
    docs
      .select(col("doc_id"), expr(Tok.alphaToks).as("t"))
      .select(col("doc_id"), col("t"), size(col("t")).as("n"))
      .where(col("n") >= 1)
      .select(col("doc_id"), col("t"), col("n"),
        explode(expr(
          s"sequence(0, CASE WHEN n <= $window THEN 0 " +
            s"ELSE CAST((n - $window + $stride - 1) DIV $stride AS INT) END)"))
          .as("chunk_id"))
      .select(
        col("doc_id"),
        col("chunk_id").cast("long").as("chunk_id"),
        (col("chunk_id") * stride).cast("long").as("tok_start"),
        least(col("n") - col("chunk_id") * stride, lit(window))
          .cast("long").as("n_tokens"),
        expr(s"array_join(slice(t, chunk_id * $stride + 1, " +
          s"least($window, n - chunk_id * $stride)), ' ')").as("chunk"))
  }
}
