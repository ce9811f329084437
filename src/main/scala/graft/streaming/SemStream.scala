package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.DumpSink
import graft.dedup.SemIndex
import graft.sim.Similarity.Vec
import graft.text.Embed

/** The STREAMING chunk → embed → semantic-probe leg as a gate surface
  * — the crawl-loop composition [[ChunkIngest]] covers for packing,
  * completed for the semantic index: document micro-batches are
  * chunked, embedded through the integer feature-hash twin of the
  * embedder seam ([[Embed.hashBucketsOf]] — every weight
  * integer-exact, so the oracle re-derives the vectors with no float
  * faith), probed against the persisted [[SemIndex]], and the KEPT
  * survivors appended before the next batch arrives. Stream ≡ this
  * ordered replay is pinned by SemStreamSpec driving the identical
  * per-batch body under foreachBatch (the ChunkStreamSpec pattern);
  * the gate replays contiguous doc_id-range micro-batches exactly as
  * `text_chunk_pack_stream` replays the packer's.
  *
  * Cross-batch state is the INDEX ITSELF (cents fixed, members
  * appended) — nothing driver-side grows with the stream; each batch
  * costs its own cell lookups against members of touched cells only
  * ([[SemIndex.probeFrom]]'s broadcast semi-join), which is the whole
  * point of the probe-then-append lifecycle at 100 TB: a crawl batch
  * is charged for the cells it touches, never for the corpus'
  * internal pairs.
  */
object SemStream {

  /** Gate τ — sited for the chunk-vector similarity landscape and
    * chosen so no integer-vector cosine can TIE it: chunk cosines are
    * dot/√(n2x·n2y) with integer dot and norms-squared, i.e. cos² is
    * RATIONAL — so any τ with rational τ² (0.45 = 9/20, 0.93 =
    * 93/100, …) can be met with EQUALITY by small-integer solutions
    * (400·dot² = 81·n2x·n2y etc.), where a 1-ulp cross-engine
    * difference in the cosine would flip the verdict. This literal is
    * the double nearest 0.06 + √3/2, whose square is IRRATIONAL:
    * cos² = τ² has no integer solution at all, so every compared
    * cosine sits a real distance from τ (SemStreamSpec measures the
    * gap ≥ 1e-9 on the fixtures). The level itself (~0.926) sits
    * inside the fixture's max-cos spread (0.82–1.0 — dim-32 bucket
    * vectors share stopword mass, so the landscape is compressed
    * upward), giving both verdicts real populations. Both engines
    * parse the same decimal literal to the same double. */
  val Tau: Double = 0.9260254037844386

  /** Fresh index path per invocation: the gate APPENDS to its index
    * mid-run, so a session-cached index (the [[graft.core
    * .SessionScratch.buildOnce]] pattern) would replay against the
    * previous run's appended members and drift. */
  private val runSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Dense chunk vectors over the integer feature-hash embedding:
    * vec_id = doc_id << 32 | chunk_id — a 32-bit split, NOT a ×1024
    * pack: a 49k-token document at window 64 / stride 48 already has
    * more than 1024 chunks, and a multiplicative pack would silently
    * merge vectors across documents AND corrupt the %10 holdout
    * split (ADVICE r11); chunk counts can never reach 2³² (chunk_id
    * < token count), so the shift is collision-free for any
    * non-negative doc_id — v = the `dim` bucket weights in bucket order
    * (integer-valued doubles — dot products are EXACT on both
    * engines), nrm as [[graft.sim.Similarity.loadVectors]] computes
    * it. Chunks whose buckets all cancel to zero carry no bucket rows
    * and so no vector — identically absent in the oracle's
    * re-derivation. */
  def chunkVecs(spark: SparkSession, sfDir: String, dim: Int = 32): Dataset[Vec] =
    // widened when narrow (graft.core.Widen): chunk + embed is the
    // heavy per-row map (r18 stage audit: 2.6 s cpu, 176 k bucket rows
    // out of ONE task above the single-partition doc scan at gate
    // scale); no row floor — the per-doc work dwarfs the exchange.
    // Hash-safe: the bucket aggregation SUMS integer weights, so the
    // collect_list order the exchange perturbs never reaches the
    // output.
    chunkVecsOf(graft.core.Widen.ifNarrow(
      spark.read.parquet(s"$sfDir/documents.parquet")), dim)

  /** [[chunkVecs]] over an arbitrary (doc_id, text) frame — the form
    * a foreachBatch micro-batch feeds (chunking and embedding are
    * per-document, so batch-slice vectors equal the corpus vectors
    * restricted to the batch's docs). */
  def chunkVecsOf(docs: DataFrame, dim: Int = 32): Dataset[Vec] = {
    val spark = docs.sparkSession
    import spark.implicits._
    Embed.hashBucketsOf(
        graft.text.Chunking.chunksOf(docs)
          .select(col("doc_id"), col("chunk_id"), col("chunk")),
        dim, idCols = Seq("doc_id", "chunk_id"), textCol = "chunk")
      .groupBy(col("doc_id"), col("chunk_id"))
      .agg(collect_list(struct(col("bucket"), col("weight"))).as("bw"))
      .select(expr("shiftleft(doc_id, 32) + chunk_id").as("vec_id"),
        expr(s"""transform(sequence(0, ${dim - 1}), b ->
                |  CAST(coalesce(aggregate(filter(bw, x -> x.bucket = b),
                |    0L, (a, x) -> a + x.weight), 0L) AS DOUBLE))""".stripMargin)
          .as("v"))
      .select(col("vec_id"), col("v"),
        expr("sqrt(aggregate(v, 0D, (acc, x) -> acc + x * x))").as("nrm"))
      .as[Vec]
  }

  /** One micro-batch of the crawl loop: probe `batch` against the
    * index at `idxPath` (corpus re-fetch from `corpus`), append the
    * kept survivors, return the verdicts. EAGER — the verdicts are
    * materialized before the append mutates the member set they were
    * judged against (the [[ChunkIngest.StreamPacker]] discipline). */
  def probeAppendBatch(spark: SparkSession, corpus: Dataset[Vec],
      idxPath: String, batch: Dataset[Vec], tau: Double): DataFrame = {
    import spark.implicits._
    val out = graft.core.Materialize.frame(
      SemIndex.probeFrom(spark, corpus, idxPath, batch, tau),
      "semstream_probe")
    SemIndex.append(spark, idxPath,
      batch.join(out.filter(col("kept")).select("vec_id"),
        Seq("vec_id"), "left_semi").as[Vec])
    out
  }

  /** Gate surface: index = chunk vectors of docs with doc_id % 10 != 0
    * (built fresh per run), stream = the % 10 == 0 docs' chunks
    * replayed as `nBatches` contiguous doc_id-range micro-batches in
    * stream order, each probed then appended. Output: every batch
    * chunk's (vec_id, cell, cent_sim_micro, kept) verdict. */
  def chunkProbeStream(spark: SparkSession, sfDir: String,
      tau: Double = Tau, nBatches: Int = 4,
      centsDump: DumpSink = DumpSink.discard): DataFrame = {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    // coalesce: an empty corpus must yield an empty frame (the
    // registry-wide contract), not a trainer error on zero vectors
    val maxId = docs.agg(coalesce(max(col("doc_id")), lit(-1L)))
      .head().getLong(0)
    if (maxId < 0L)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType.fromDDL(
          "vec_id BIGINT, cell INT, cent_sim_micro BIGINT, kept BOOLEAN"))
    val step = maxId / nBatches + 1
    // feeds the index build, four corpus re-fetches and four batch
    // slices — materialize so the FNV fold runs once, not nine times
    val vecs = graft.core.Materialize.frame(
      chunkVecs(spark, sfDir).toDF(), "semstream_vecs")
      .as[graft.sim.Similarity.Vec]
    val idxPath = graft.core.SessionScratch.path(spark, sfDir,
      s"graft_semstream${runSeq.incrementAndGet()}")
    val cents = SemIndex.build(
      vecs.filter(v => (v.vec_id >> 32) % 10 != 0), idxPath,
      trainer = graft.sim.Kmeans.trainOrdered)
    // dump from the just-trained array (identical rows to the cents
    // parquet the build wrote) — no re-read job in the query path
    centsDump(graft.sim.Kmeans.centsFrame(spark, cents))
    // amortized across the sequential batches (r17 verdict #2): cents
    // carried from the build (fixed after it), member frame carried
    // forward, survivor assignment reused — the per-batch index
    // re-reads were the gate's wall. SemStreamSpec pins this equal to
    // the per-call probeAppendBatch body driven through real
    // foreachBatch machinery.
    val session = new SemIndex.ProbeSession(spark, idxPath, vecs, Some(cents))
    (0 until nBatches).map { b =>
      val lo = b * step; val hi = (b + 1) * step
      session.probeAppend(
        vecs.filter(v => (v.vec_id >> 32) % 10 == 0 &&
          (v.vec_id >> 32) >= lo && (v.vec_id >> 32) < hi), tau)
    }.reduce(_ unionByName _)
  }
}
