package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** PERSISTED MinHash-LSH signature index — the dedup twin of
  * [[graft.sim.IvfIndex]]'s build-once/probe-many lifecycle. A 100 TB
  * corpus is deduplicated ONCE; every new crawl batch afterwards must
  * be checked against it WITHOUT re-signaturing the whole corpus. The
  * index stores each document's banded bucket keys (16 rows of
  * (doc_id, band, key) per doc — fixed size, no shingle strings);
  * probing a batch computes only the BATCH's signatures, joins bucket
  * keys, and exact-verifies the candidates.
  *
  * Scale posture:
  *  - Index build is [[Dedup.minhashLsh]]'s signature pass with the
  *    pair-explosion stage replaced by a parquet write — one narrow
  *    pass over the corpus, one shuffle-free sink.
  *  - Probe shuffles (batch keys) ∪ (index keys) grouped on (band,
  *    key): linear in corpus + batch, with the same degenerate-bucket
  *    cap as the one-shot operator. Index-internal pairs are NEVER
  *    generated — each bucket emits batch×index and batch-internal
  *    pairs only, so a tiny batch against a huge index costs the
  *    bucket lookup, not the corpus' own quadratic candidates.
  *  - Append is a parquet append of the new batch's keys: the index
  *    grows incrementally, no rebuild (LshIndexSpec pins
  *    build(A)+append(B) ≡ build(A∪B)).
  *
  * Recall: identical banding scheme to [[Dedup.minhashLsh]] (16 bands
  * × 4 rows over 64 perms), so the per-pair recall at the planted
  * J ≥ 0.9 near-dups is the same 1−(1−J⁴)¹⁶ ≈ 1−4e-8 — which is why
  * the gate shares the EXACT n-gram Jaccard oracle restricted to
  * pairs touching the batch.
  */
object LshIndex {

  /** (doc_id, band, h) bucket keys from a shingled (doc_id, sh) frame
    * — the unit of index storage. Same signature + banding arithmetic
    * as the one-shot LSH operator (shared [[Dedup.minhashSig]]). */
  private def bandKeys(shingled: DataFrame): DataFrame = {
    import shingled.sparkSession.implicits._
    shingled
      .as[(Long, Seq[String])]
      .filter(_._2.nonEmpty)
      .map { case (id, sh) => Dedup.MinhashRow(id, Dedup.minhashSig(sh)) }
      .toDF()
      .select(col("doc_id"),
        explode(expr(
          "transform(sequence(0, 15), b -> struct(b AS band, xxhash64(slice(sig, b*4+1, 4)) AS h))"))
          .as("bk"))
      .select(col("doc_id"), col("bk.band"), col("bk.h"))
  }

  /** Build the index over a shingled corpus slice. */
  def build(shingled: DataFrame, indexPath: String): Unit =
    bandKeys(shingled).write.mode("overwrite").parquet(indexPath)

  /** Incrementally index another slice (no rebuild, no read-back). */
  def append(shingled: DataFrame, indexPath: String): Unit =
    bandKeys(shingled).write.mode("append").parquet(indexPath)

  /** Probe a new batch against the persisted index: candidate pairs =
    * (batch × index) ∪ (batch upper triangle) per shared bucket —
    * index-internal pairs are never generated — then exact Jaccard
    * verification at `tau` against `sfDir`'s documents (both sides'
    * shingles fetched for verification only). Output (i, j), i < j. */
  def probe(spark: SparkSession, sfDir: String, indexPath: String,
      batchShingled: DataFrame, tau: Double = 0.5,
      maxBucket: Int = 1000): DataFrame = {
    val idx = spark.read.parquet(indexPath)
      .select(col("doc_id"), col("band"), col("h"), lit(false).as("is_batch"))
    val bat = bandKeys(batchShingled)
      .select(col("doc_id"), col("band"), col("h"), lit(true).as("is_batch"))
    val grouped = idx.unionByName(bat)
      .groupBy(col("band"), col("h"))
      .agg(
        sort_array(collect_set(when(!col("is_batch"), col("doc_id")))).as("mi"),
        sort_array(collect_set(when(col("is_batch"), col("doc_id")))).as("mb"))
      .filter(size(col("mb")) >= 1 &&
        (size(col("mi")) + size(col("mb"))).between(2, maxBucket))
      // cross and within both read this; Spark does not share subplans,
      // so materialize the bucket shuffle once
      .localCheckpoint()
    // batch×index cross + batch-internal upper triangle, one explode each;
    // both operate on bound sorted attributes (the lambda-capture rule —
    // see Dedup.upperTrianglePairs)
    val cross = grouped
      .select(col("mi"), col("mb"))
      .select(explode(expr(
        """flatten(transform(mb, b ->
          |  transform(mi, a -> struct(least(a, b) AS i, greatest(a, b) AS j))))"""
          .stripMargin)).as("p"))
      .select(col("p.i"), col("p.j"))
    val within = grouped
      .select(col("mb").as("m"))
      .select(explode(expr(
        """flatten(transform(m, (x, xi) ->
          |  transform(slice(m, xi + 2, size(m)), y -> struct(x AS i, y AS j))))"""
          .stripMargin)).as("p"))
      .select(col("p.i"), col("p.j"))
    // a doc present on BOTH sides (a batch probed after it was appended)
    // would surface as a self-pair (i,i) from least/greatest collapsing
    // — trivially Jaccard-1, never a real duplicate; drop before verify
    val pairs = cross.union(within).distinct().filter(col("i") =!= col("j"))
    Dedup.verifyJaccard(Dedup.docShingles(spark, sfDir), pairs, tau)
  }

  // ── gate surface ───────────────────────────────────────────────────

  /** Gate: documents with doc_id % 10 == 0 are "today's crawl batch";
    * the rest were indexed in a previous run (built once per session,
    * reused across gate invocations — the build-once contract). Output
    * = every near-dup pair touching the batch: exactly the removal
    * list incremental ingestion needs. Shares the exact n-gram Jaccard
    * oracle (restricted to batch-touching pairs) on the LSH recall
    * argument. */
  def dedupIncremental(spark: SparkSession, sfDir: String,
      tau: Double = 0.5): DataFrame = {
    val path = graft.core.SessionScratch.path(spark, sfDir, "graft_lsh")
    val all = Dedup.docShingles(spark, sfDir)
    graft.core.SessionScratch.buildOnce(spark, path) {
      build(all.filter(col("doc_id") % 10 =!= 0), path)
    }
    probe(spark, sfDir, path, all.filter(col("doc_id") % 10 === 0), tau)
  }
}
