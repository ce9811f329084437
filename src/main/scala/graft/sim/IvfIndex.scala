package graft.sim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sim.Similarity.{Vec, cosine}

/** PERSISTED IVF index: embeddings written partitioned by trained
  * cell id, so a probe reads only `nprobe` of `nCells` partition
  * directories — the IO-level pruning the in-memory IVF
  * (`Similarity.topKIvf`) cannot give. At 100 TB the scan IS the
  * cost: `cell=` partition pruning turns a full-corpus scan into
  * nprobe/nCells of it, visible in the plan's PartitionFilters and
  * in `df.inputFiles`.
  *
  * Build once (one assignment pass + partitioned write), probe many —
  * the standard index lifecycle, with the cell column doubling as the
  * Hive-style partition key.
  */
object IvfIndex {

  /** Assign every vector to its nearest trained centroid and write
    * the corpus partitioned by cell. Returns the centroids used. */
  def build(spark: SparkSession, sfDir: String, indexPath: String,
      nCells: Int = 16, iters: Int = 3): Array[Kmeans.Centroid] = {
    import spark.implicits._
    val corpus = Similarity.loadVectors(spark, sfDir)
    val cents = Kmeans.train(corpus, nCells, iters)
    val bc = spark.sparkContext.broadcast(CentroidIndex.build(cents))
    corpus.map(r => (r.vec_id, r.v, bc.value.nearest(r)))
      .toDF("vec_id", "v", "cell")
      .write.mode("overwrite").partitionBy("cell").parquet(indexPath)
    cents
  }

  /** INCREMENTAL index maintenance: append a batch of new vectors to
    * an existing cell layout WITHOUT rebuilding — assign each to its
    * nearest existing centroid and append into the matching `cell=`
    * directories (one narrow pass + partitioned append; the write
    * touches only the cells that received vectors). The centroids are
    * deliberately NOT moved: probes stay consistent with everything
    * already stored, which is the invariant an incremental index must
    * keep. Returns the appended batch's assignment cohesion
    * (mean cosine to assigned centroid, ×1e6) — the RETRAIN SIGNAL:
    * when fresh data's cohesion degrades versus the build-time
    * cohesion, the cells no longer describe the distribution and a
    * periodic rebuild (the batch path) is due. */
  def append(spark: SparkSession, indexPath: String,
      cents: Array[Kmeans.Centroid], newVecs: org.apache.spark.sql.Dataset[Vec]): Long = {
    import spark.implicits._
    // guard: a PQ index stores (vec_id, v, code, cell); appending plain
    // rows would leave `code` null and crash the codes-only ADC probes
    // at read time — fail here, at the write, with the fix named
    if (hasPqModel(spark, indexPath))
      throw new IllegalArgumentException(
        s"append: $indexPath is a PQ index (has _model); plain rows would " +
          "break its codes-only probes — use appendPq")
    val bc = spark.sparkContext.broadcast(CentroidIndex.build(cents))
    newVecs.map(r => (r.vec_id, r.v, bc.value.nearest(r)))
      .toDF("vec_id", "v", "cell")
      .write.mode("append").partitionBy("cell").parquet(indexPath)
    Kmeans.cohesionMicro(newVecs, cents)
  }

  /** PQ-encoding incremental append: same frozen-centroid contract as
    * [[append]], plus L2-normalization and PQ codes so the appended
    * rows are indistinguishable from build-time rows to every probe. */
  def appendPq(spark: SparkSession, indexPath: String, idx: PqIndexModel,
      newVecs: org.apache.spark.sql.Dataset[Vec]): Long = {
    import spark.implicits._
    val normalized = newVecs.map(v => Vec(v.vec_id, Pq.l2normalize(v.v), 1.0))
    val bcC = spark.sparkContext.broadcast(CentroidIndex.build(idx.cents))
    val bcCb = spark.sparkContext.broadcast(idx.cb)
    normalized.map(r => (r.vec_id, r.v, Pq.encode(bcCb.value, r.v),
        bcC.value.nearest(r)))
      .toDF("vec_id", "v", "code", "cell")
      .write.mode("append").partitionBy("cell").parquet(indexPath)
    Kmeans.cohesionMicro(normalized, idx.cents)
  }

  private def hasPqModel(spark: SparkSession, indexPath: String): Boolean = {
    val fs = new org.apache.hadoop.fs.Path(indexPath)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.exists(new org.apache.hadoop.fs.Path(s"$indexPath/_model"))
  }

  /** Top-k probe against the persisted index: the `cell IN (...)`
    * filter is a PARTITION filter — only the probed directories are
    * read. Query vectors come from the caller (tiny, broadcast). */
  def probe(spark: SparkSession, indexPath: String,
      queries: Array[Vec], cents: Array[Kmeans.Centroid],
      k: Int = 5, nprobe: Int = 4): DataFrame = {
    import spark.implicits._
    val cells = queries.flatMap { q =>
      cents.map(c => (cosine(q, Vec(-1, c.v, 1.0)), c.cell))
        .sortBy { case (s, i) => (-s, i) }.take(nprobe).map(_._2)
    }.distinct.sorted
    val probed = spark.read.parquet(indexPath)
      .filter(col("cell").isin(cells.toIndexedSeq: _*))
      .select(col("vec_id"),
        expr("transform(v, x -> cast(x AS double))").as("v"),
        expr("sqrt(aggregate(v, 0D, (acc, x) -> acc + x * x))").as("nrm"))
      .as[Vec]
    // same bounded per-partition heaps + final rank as the in-memory path
    Similarity.rankHits(Similarity.partialTopK(probed, queries, k), k)
  }

  final case class PqIndexModel(cents: Array[Kmeans.Centroid], cb: Pq.Codebooks)

  /** Persist the index MODEL (centroids + codebooks) under
    * `<indexPath>/_model` — underscore-prefixed, so the parquet reader
    * ignores it when scanning the data. Without this, an index
    * survives the session but its probes don't: centroid affinity and
    * ADC tables need the model. KB-sized. */
  def saveModel(spark: SparkSession, indexPath: String, idx: PqIndexModel): Unit = {
    import spark.implicits._
    idx.cents.toSeq.map(c => (c.cell, c.v.toSeq))
      .toDF("cell", "v")
      .coalesce(1).write.mode("overwrite").parquet(s"$indexPath/_model/cents")
    (for {
      j <- idx.cb.centroids.indices
      c <- idx.cb.centroids(j).indices
    } yield (j, c, idx.cb.centroids(j)(c).toSeq))
      .toDF("subspace", "code", "v")
      .coalesce(1).write.mode("overwrite").parquet(s"$indexPath/_model/books")
  }

  def loadModel(spark: SparkSession, indexPath: String): PqIndexModel = {
    import spark.implicits._
    val cents = spark.read.parquet(s"$indexPath/_model/cents")
      .as[(Int, Seq[Double])].collect().sortBy(_._1)
      .map { case (cell, v) => Kmeans.Centroid(cell, v.toArray) }
    val books = spark.read.parquet(s"$indexPath/_model/books")
      .as[(Int, Int, Seq[Double])].collect()
    val m = books.map(_._1).max + 1
    val grouped = books.groupBy(_._1).map { case (j, rows) =>
      j -> rows.sortBy(_._2).map(_._3.toArray)
    }
    val centroids = Array.tabulate(m)(grouped)
    PqIndexModel(cents, Pq.Codebooks(m, centroids(0)(0).length, centroids))
  }

  /** Model side-dump paths (oracle inputs): IVF centroids and PQ
    * codebooks of the session index, by corpus dir basename; the ivfpq
    * oracles name them for the corpus dir they are given. */
  def centsDumpPath(base: String): String =
    graft.core.SideDump.path("ivfpq_cents", base)
  def booksDumpPath(base: String): String =
    graft.core.SideDump.path("ivfpq_books", base)

  /** Load the model if this path already holds one (same-session
    * reuse: build once, probe many), else build + persist. Either way
    * the model is also SIDE-DUMPED run-scoped for the DuckDB oracles —
    * all ivfpq gates share one session index, so every call overwrites
    * the dump with identical content (the persisted `_model`). */
  def buildOrLoadPq(spark: SparkSession, sfDir: String, indexPath: String,
      nCells: Int = 16, iters: Int = 2, m: Int = 8, ksub: Int = 16): PqIndexModel = {
    import spark.implicits._
    val fs = new org.apache.hadoop.fs.Path(indexPath)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val idx =
      if (fs.exists(new org.apache.hadoop.fs.Path(s"$indexPath/_model/books")))
        loadModel(spark, indexPath)
      else {
        val built = buildPq(spark, sfDir, indexPath, nCells, iters, m, ksub)
        saveModel(spark, indexPath, built)
        built
      }
    graft.core.SideDump.write(
      idx.cents.toSeq.map(c => (c.cell, c.v.toSeq)).toDF("cell", "v"),
      "ivfpq_cents", new java.io.File(sfDir).getName)
    Pq.dumpBooks(spark, idx.cb, "ivfpq_books", sfDir)
    idx
  }

  /** IVF-PQ index: the production ANN layout. Vectors are stored
    * L2-NORMALIZED with their 8-byte PQ code, partitioned by trained
    * IVF cell. A probe then composes THREE prunings:
    *   1. partition pruning — only nprobe/nCells directories read;
    *   2. column pruning — the ADC scan reads (vec_id, code), never
    *      the float vectors (the plan-asserted 8-bytes-per-vector
    *      scan that makes 1e9-vector search feasible);
    *   3. candidate pruning — only the rerank set's full vectors are
    *      fetched, via a broadcast semi-join back to the index. */
  def buildPq(spark: SparkSession, sfDir: String, indexPath: String,
      nCells: Int = 16, iters: Int = 2, m: Int = 8, ksub: Int = 16): PqIndexModel =
    buildPqOf(spark, Similarity.loadVectors(spark, sfDir), indexPath,
      nCells, iters, m, ksub)

  /** [[buildPq]] over any vector dataset — the seed-build half of the
    * streaming maintenance loop (build on the backfill, then
    * `foreachBatch(appendPq)` the live stream; IvfIndexSpec runs it). */
  def buildPqOf(spark: SparkSession, corpus0: org.apache.spark.sql.Dataset[Vec],
      indexPath: String, nCells: Int = 16, iters: Int = 2, m: Int = 8,
      ksub: Int = 16): PqIndexModel = {
    import spark.implicits._
    val corpus = corpus0.map(v => Vec(v.vec_id, Pq.l2normalize(v.v), 1.0))
    val cents = Kmeans.train(corpus, nCells, iters)
    // codebooks trained distributed over the full corpus — no
    // driver-side vector sample anywhere in the build path
    val cb = Pq.trainDistributed(corpus, m, ksub)
    val bcC = spark.sparkContext.broadcast(CentroidIndex.build(cents))
    val bcCb = spark.sparkContext.broadcast(cb)
    corpus.map(r => (r.vec_id, r.v, Pq.encode(bcCb.value, r.v),
        bcC.value.nearest(r)))
      .toDF("vec_id", "v", "code", "cell")
      .write.mode("overwrite").partitionBy("cell").parquet(indexPath)
    PqIndexModel(cents, cb)
  }

  /** Build-and-probe convenience for the query surface (driver gate):
    * index under a per-session, per-corpus path (concurrent
    * Verify/Bench/test runs on one machine must not clobber each
    * other's index mid-read), first `numQueries` vectors as queries. */
  /** Session-scoped index path: keyed by corpus dir + application id,
    * SHARED by the fixed and adaptive probers so the second gate query
    * in a session reuses the first's build (build once, probe many —
    * the index lifecycle); registration/cleanup via the engine-wide
    * [[graft.core.SessionScratch]]. */
  private def sessionPath(spark: SparkSession, sfDir: String): String =
    graft.core.SessionScratch.path(spark, sfDir, "graft_ivfpq")

  private def gateQueries(spark: SparkSession, sfDir: String,
      numQueries: Int): Array[Vec] = {
    import spark.implicits._
    Similarity.loadVectors(spark, sfDir)
      .filter(col("vec_id") < numQueries).collect().sortBy(_.vec_id)
      .map(v => Vec(v.vec_id, Pq.l2normalize(v.v), 1.0))
  }

  def topKIvfPq(spark: SparkSession, sfDir: String, k: Int = 5,
      numQueries: Int = 10): DataFrame = {
    val path = sessionPath(spark, sfDir)
    probePq(spark, path, gateQueries(spark, sfDir, numQueries),
      buildOrLoadPq(spark, sfDir, path), k)
  }

  /** Build-or-load and probe with the GRAPH prober (gate surface).
    * At the gate's 16 cells the default beam is exhaustive, so this
    * equals [[topKIvfPq]] exactly — the scale benefit (sub-linear cell
    * selection) is measured on the 1024-cell fixture in
    * CentroidGraphSpec. */
  def topKIvfPqGraph(spark: SparkSession, sfDir: String, k: Int = 5,
      numQueries: Int = 10): DataFrame = {
    val path = sessionPath(spark, sfDir)
    val idx = buildOrLoadPq(spark, sfDir, path)
    val g = CentroidGraph.build(idx.cents)
    CentroidGraph.probePqGraph(spark, path,
      gateQueries(spark, sfDir, numQueries), idx, g, k)
  }

  /** Per-query adaptive probe-depth dump path (oracle input): the one
    * artifact of the adaptive prober taken on faith — its convergence
    * DECISIONS. Everything downstream (probe-cell selection from the
    * depths, ADC scoring, the per-query candidate cut, the exact
    * re-rank) is re-derived by the DuckDB oracle. */
  def adepthDumpPath(base: String): String =
    graft.core.SideDump.path("ivfpq_adepth", base)

  /** Build-or-load and probe with the ADAPTIVE prober (gate surface).
    * Side-dumps each query's converged probe depth so the oracle can
    * re-derive the probed cells and the full scoring stack. The
    * adaptive loop runs EAGERLY inside [[probePqAdaptive]] (one Spark
    * job per round), so the depths are final before the returned
    * DataFrame is ever executed. */
  def topKIvfPqAdaptive(spark: SparkSession, sfDir: String, k: Int = 5,
      numQueries: Int = 10, rerank: Int = 50): DataFrame = {
    import spark.implicits._
    val path = sessionPath(spark, sfDir)
    val idx = buildOrLoadPq(spark, sfDir, path)
    val qs = gateQueries(spark, sfDir, numQueries)
    val probed = new Array[Int](qs.length)
    val out = probePqAdaptive(spark, path, qs, idx, k, rerank = rerank,
      probedCellsOut = Some(probed))
    // the dump carries the RERANK BUDGET alongside each depth so the
    // oracle's candidate cut reads rerank·depth from the dump instead
    // of hard-coding the default — a non-default invocation stays
    // oracle-consistent instead of silently diverging. depth is
    // clamped to ≥1 exactly as the output stage's caps are.
    graft.core.SideDump.write(
      qs.indices.map(i => (qs(i).vec_id, math.max(1, probed(i)), rerank))
        .toDF("qid", "depth", "rerank"),
      "ivfpq_adepth", new java.io.File(sfDir).getName)
    out
  }

  /** FULL-probe gate twin of [[probe]]: every cell read, so the
    * candidate set is the whole corpus and the exact scoring makes the
    * result equal brute force — the spec-pinned full-probe ≡ exact
    * equivalence (IvfIndexSpec) surfaced as a SQL hash gate over the
    * persisted-index scan machinery. Not a production setting (nprobe
    * ≪ nCells is the whole point of IVF); it oracle-pins the index
    * layout, the partition-filter plumbing and the probe scoring. */
  def topKIvfFull(spark: SparkSession, sfDir: String, k: Int = 5,
      numQueries: Int = 10): DataFrame = {
    val path = sessionPath(spark, sfDir)
    val idx = buildOrLoadPq(spark, sfDir, path)
    probe(spark, path, gateQueries(spark, sfDir, numQueries), idx.cents,
      k, nprobe = idx.cents.length)
  }

  /** Exhaustive-rerank gate twin of [[probePq]]: all cells probed AND
    * an unbounded ADC heap, so every corpus vector survives to the
    * exact re-rank — the ADC scan, candidate semi-join and re-rank all
    * run for real but the output equals brute force (hash gate against
    * the exact oracle). Oracle-pins the codes-only scan + rerank stack
    * end to end, the same upgrade ann_sq8 got. */
  def topKIvfPqRerankAll(spark: SparkSession, sfDir: String, k: Int = 5,
      numQueries: Int = 10): DataFrame = {
    val path = sessionPath(spark, sfDir)
    val idx = buildOrLoadPq(spark, sfDir, path)
    probePq(spark, path, gateQueries(spark, sfDir, numQueries), idx,
      k, nprobe = idx.cents.length, rerank = Int.MaxValue)
  }

  /** ADAPTIVE-nprobe IVF-PQ probe: cells are visited in decreasing
    * query-affinity order, `rankBatch` RANKS PER ROUND, and a query
    * stops probing once extra cells stop improving its candidate set —
    * the recall/latency knob turned automatically instead of fixed
    * up front. Convergence rule per query: if the k-th best ADC
    * distance improves by less than `epsMicro` (×1e-6, relative) for
    * `patience` consecutive rounds, the query goes inactive; the
    * round loop ends when every query is inactive or `maxProbe` ranks
    * are exhausted.
    *
    * `rankBatch` exists because each round is one Spark job — a
    * driver round-trip of scheduling latency. Batching the next few
    * affinity ranks per round prefetches cells the still-active
    * queries would almost certainly probe next, trading a little
    * possibly-wasted IO on the final round for halved (at the default
    * 2) job count; IvfIndexSpec measures rounds saved at equal recall.
    *
    * Shape per round: ONE scan filtered to the union of the active
    * queries' next-rank cells (partition-pruned directories,
    * codes-only columns). Scoring is OPPORTUNISTIC: every active
    * query scores every scanned row, not just its own cells' — those
    * rows are already paid for, and the free cross-candidates are what
    * fixed multi-query probing gets implicitly. Per-partition bounded
    * heaps, then a driver merge of |activeQ|·rerank candidate rows —
    * the driver never holds more than the per-query candidate heaps
    * (the standard ANN serving state). Easy queries stop after one
    * round; hard ones keep probing; total IO adapts to the query set
    * instead of the worst case.
    *
    * OUTPUT CONTRACT: the loop decides only each query's probe DEPTH;
    * the returned result is then recomputed deterministically — global
    * ADC top-(rerank·depth) per query over the probed-cell union, then
    * the exact re-rank (see the output-stage comment below). That makes
    * the result a pure function of (index model, per-query depths),
    * which the DuckDB gate oracle re-derives from the depth side-dump;
    * only the convergence decisions themselves are taken on faith. */
  def probePqAdaptive(spark: SparkSession, indexPath: String,
      queries: Array[Vec], idx: PqIndexModel, k: Int = 5, maxProbe: Int = 16,
      patience: Int = 1, epsMicro: Long = 1000L, rerank: Int = 50,
      rankBatch: Int = 2, probedCellsOut: Option[Array[Int]] = None,
      roundsOut: Option[Array[Int]] = None): DataFrame = {
    import spark.implicits._
    val m = idx.cb.m
    val ranked: Array[Array[Int]] = queries.map { q =>
      idx.cents.map(c => (cosine(q, Vec(-1, c.v, 1.0)), c.cell))
        .sortBy { case (s, i) => (-s, i) }.map(_._2)
    }
    val bcQ = spark.sparkContext.broadcast(queries)
    val bcT = spark.sparkContext.broadcast(queries.map(q => Pq.adcTable(idx.cb, q.v)))
    // driver state: per-query candidate heap (worst on top), kth-best trace
    val heaps = Array.fill(queries.length)(
      scala.collection.mutable.PriorityQueue.empty[(Double, Long)])
    val kthBest = Array.fill(queries.length)(Double.MaxValue)
    val stalled = new Array[Int](queries.length)
    val active = Array.fill(queries.length)(true)
    val probed = new Array[Int](queries.length)
    val probedCellUnion = scala.collection.mutable.Set.empty[Int]
    var rounds = 0
    var r = 0
    val maxR = math.min(maxProbe, idx.cents.length)
    // the largest cap any query can end with — the emission bound that
    // makes the in-loop accumulators EXACT for every possible final
    // cut (global top-c of a union ⊆ union of per-scan top-C, C ≥ c)
    val capMax = math.min(rerank.toLong * math.max(1, maxR), Int.MaxValue).toInt
    val acc = Array.fill(queries.length)(new CandAcc(capMax))
    while (r < maxR && active.exists(identity)) {
      val batch = math.min(rankBatch, maxR - r)
      // next `batch` affinity-rank cells of each still-active query
      val cells = queries.indices.filter(active)
        .flatMap(qi => ranked(qi).slice(r, r + batch)).distinct
      probedCellUnion ++= cells
      val roundRows = spark.read.parquet(indexPath)
        .filter(col("cell").isin(cells: _*))
        .select(col("vec_id"), col("code"))
        .as[(Long, Array[Byte])]
        .mapPartitions { rows =>
          // EVERY query scores every scanned row — not just the round's
          // active ones: the output contract cuts over the whole probed
          // union, so a query that converged early must still see rows
          // from cells other queries probe later. Emission is bounded
          // per (partition, query) at capMax with the same (adc, id)
          // ordering as the output cut, which keeps the accumulators
          // exact (see capMax comment) and partition-count-independent.
          val qs = bcQ.value; val tables = bcT.value
          val local = Array.fill(qs.length)(
            scala.collection.mutable.PriorityQueue.empty[(Double, Long)])
          rows.foreach { case (id, code) =>
            var qi = 0
            while (qi < qs.length) {
              if (id != qs(qi).vec_id) {
                val t = tables(qi)
                var d = 0.0; var j = 0
                while (j < m) { d += t(j)(code(j) & 0xff); j += 1 }
                val h = local(qi)
                if (h.size < capMax) h.enqueue((d, id))
                else if (d < h.head._1 || (d == h.head._1 && id < h.head._2)) {
                  h.dequeue(); h.enqueue((d, id))
                }
              }
              qi += 1
            }
          }
          local.iterator.zipWithIndex.flatMap { case (h, qi) =>
            h.iterator.map { case (d, id) => (qi, id, d) }
          }
        }.collect()
      // exact-output accumulators take every emitted row (id-deduped:
      // overlapping rounds may rescan a cell)
      roundRows.foreach { case (qi, id, d) => acc(qi).add(d, id) }
      // merge round candidates into the driver heaps; convergence check
      val byQ = roundRows.groupBy(_._1)
      queries.indices.foreach { qi =>
        if (active(qi)) {
          probed(qi) += batch
          // rerank budget grows with probe depth (mirrors probePq's
          // per-partition heaps: more cells scanned → more candidates
          // survive to the exact re-rank; a flat ADC-top-rerank cap
          // measurably loses neighbors the coarse ADC misranks)
          val cap = rerank * probed(qi)
          byQ.getOrElse(qi, Array.empty).foreach { case (_, id, d) =>
            val h = heaps(qi)
            if (!h.exists(_._2 == id)) {
              if (h.size < cap) h.enqueue((d, id))
              else if (d < h.head._1) { h.dequeue(); h.enqueue((d, id)) }
            }
          }
          val kth = heaps(qi).clone().dequeueAll.reverse
            .take(k).lastOption.map(_._1).getOrElse(Double.MaxValue)
          val improved = kth < kthBest(qi) * (1.0 - epsMicro / 1e6) ||
            heaps(qi).size < k
          if (improved) { kthBest(qi) = kth; stalled(qi) = 0 }
          else {
            stalled(qi) += 1
            if (stalled(qi) >= patience) active(qi) = false
          }
        }
      }
      r += batch
      rounds += 1
    }
    probedCellsOut.foreach(out => Array.copy(probed, 0, out, 0, probed.length))
    roundsOut.foreach(out => out(0) = rounds)
    // OUTPUT STAGE — deterministic, partition-count-independent, and
    // (since r9) computed WITHOUT re-scanning the codes. The loop is
    // the CONTROL: its round heaps only drive convergence. The result
    // is still a pure function of (index, per-query probe depths) —
    // global ADC top-(rerank·depth) per query over the probed-cell
    // union, then the exact re-rank — but the global cut now falls out
    // of the in-loop accumulators: every scanned row was scored for
    // every query under the output's own (adc, id) ordering with
    // emission cap capMax ≥ any final cap, so per-query top-
    // (rerank·depth) of the accumulator EQUALS the cut a fresh scan of
    // the union would produce (AdaptiveProbeIdentitySpec pins this
    // equality against probePqCellsCapped). Only the candidates'
    // VECTORS are fetched for the exact re-rank — the second
    // codes-only ADC pass is gone. The DuckDB oracle re-derives the
    // same cut from the dumped depths alone. probedCellUnion ==
    // ∪ queries' first-probed(qi) affinity ranks, because an active
    // query in each round contributes exactly its next `batch` ranks.
    val unionCells = probedCellUnion.toArray.sorted
    val cut = queries.indices.flatMap { qi =>
      val cap = (math.max(1, probed(qi)).toLong * rerank).min(Int.MaxValue).toInt
      acc(qi).sortedTake(cap).map { case (_, id) => (queries(qi).vec_id, id) }
    }
    rerankExact(spark, indexPath, unionCells,
      cut.toDF("query_id", "neighbor_id"), queries, k)
  }

  /** Bounded best-candidate accumulator: keeps the `cap` smallest
    * (adc, id) pairs seen, id-deduplicated (a cell rescanned in a
    * later round re-emits identical pairs). Worst-on-top heap plus a
    * membership set; eviction removes from both. */
  private final class CandAcc(cap: Int) {
    private val heap = scala.collection.mutable.PriorityQueue.empty[(Double, Long)]
    private val ids = scala.collection.mutable.HashSet.empty[Long]
    def add(d: Double, id: Long): Unit = {
      if (!ids.contains(id)) {
        if (heap.size < cap) { heap.enqueue((d, id)); ids += id }
        else {
          val (hd, hid) = heap.head
          if (d < hd || (d == hd && id < hid)) {
            heap.dequeue(); ids -= hid
            heap.enqueue((d, id)); ids += id
          }
        }
      }
    }
    /** Best `n` as ascending (adc, id) — the output cut's ordering. */
    def sortedTake(n: Int): Seq[(Double, Long)] =
      heap.clone().dequeueAll.reverse.take(n)
  }

  /** Exact re-rank tail shared by the capped prober and the adaptive
    * output stage: fetch ONLY the candidates' vectors from the probed
    * cells (codes stay unread), score exact cosine, rank top-k. */
  private def rerankExact(spark: SparkSession, indexPath: String,
      cells: Array[Int], candidates: DataFrame, queries: Array[Vec],
      k: Int): DataFrame = {
    import spark.implicits._
    val bcQ = spark.sparkContext.broadcast(queries)
    val vecs = spark.read.parquet(indexPath)
      .filter(col("cell").isin(cells.toIndexedSeq: _*))
      .select(col("vec_id"), col("v"))
    val rescored = candidates
      .join(vecs, col("neighbor_id") === col("vec_id"))
      .select(col("query_id"), col("neighbor_id"), col("v"))
      .as[(Long, Long, Array[Double])]
      .map { case (q, n, v) =>
        val qv = bcQ.value(bcQ.value.indexWhere(_.vec_id == q))
        Similarity.Hit(q, n, cosine(qv, Vec(n, v, 1.0)))
      }
    Similarity.rankHits(rescored, k)
  }

  /** Top-k IVF-PQ probe; `queries` must be L2-normalized (as stored). */
  def probePq(spark: SparkSession, indexPath: String, queries: Array[Vec],
      idx: PqIndexModel, k: Int = 5, nprobe: Int = 4, rerank: Int = 50): DataFrame = {
    val cells = queries.flatMap { q =>
      idx.cents.map(c => (cosine(q, Vec(-1, c.v, 1.0)), c.cell))
        .sortBy { case (s, i) => (-s, i) }.take(nprobe).map(_._2)
    }.distinct.sorted
    probePqCells(spark, indexPath, queries, idx, cells, k, rerank)
  }

  /** The scan/ADC/re-rank core of [[probePq]], with the probe-order
    * decision (which cells to read) supplied by the caller — the seam
    * [[CentroidGraph.probePqGraph]] plugs its beam-searched cell set
    * into. */
  private[sim] def probePqCells(spark: SparkSession, indexPath: String,
      queries: Array[Vec], idx: PqIndexModel, cells: Array[Int],
      k: Int, rerank: Int): DataFrame =
    probePqCellsCapped(spark, indexPath, queries, idx, cells, k,
      Array.fill(queries.length)(rerank))

  /** [[probePqCells]] with a PER-QUERY candidate cap (aligned with
    * `queries`) — the adaptive prober's output stage: each query's
    * global ADC cut is its own rerank·depth budget. */
  private[sim] def probePqCellsCapped(spark: SparkSession, indexPath: String,
      queries: Array[Vec], idx: PqIndexModel, cells: Array[Int],
      k: Int, caps: Array[Int]): DataFrame = {
    import spark.implicits._
    val probed = spark.read.parquet(indexPath)
      .filter(col("cell").isin(cells.toIndexedSeq: _*))
    // ADC scan: codes only — the float vectors are pruned at the reader
    val bcQ = spark.sparkContext.broadcast(queries)
    val bcT = spark.sparkContext.broadcast(queries.map(q => Pq.adcTable(idx.cb, q.v)))
    val bcCaps = spark.sparkContext.broadcast(caps)
    val m = idx.cb.m
    val capsDf = queries.indices.map(i => (queries(i).vec_id, caps(i)))
      .toDF("cap_qid", "cap")
    val candidates = probed.select(col("vec_id"), col("code"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        val qs = bcQ.value; val tables = bcT.value; val cs = bcCaps.value
        val heaps = Array.fill(qs.length)(
          scala.collection.mutable.PriorityQueue.empty[(Double, Long)])
        rows.foreach { case (id, code) =>
          var qi = 0
          while (qi < qs.length) {
            if (id != qs(qi).vec_id) {
              val t = tables(qi)
              var d = 0.0; var j = 0
              while (j < m) { d += t(j)(code(j) & 0xff); j += 1 }
              val h = heaps(qi)
              if (h.size < cs(qi)) h.enqueue((d, id))
              else if (d < h.head._1 || (d == h.head._1 && id < h.head._2)) {
                h.dequeue(); h.enqueue((d, id))
              }
            }
            qi += 1
          }
        }
        heaps.iterator.zipWithIndex.flatMap { case (h, qi) =>
          h.iterator.map { case (d, id) => (qs(qi).vec_id, id, d) }
        }
      }.toDF("query_id", "neighbor_id", "adc")
      // GLOBAL candidate cut (see Pq.topKPqCore): the per-partition
      // heaps bound emission; this rank fixes the candidate set at the
      // global ADC top-`cap` per query, making the output
      // partition-count-independent — the property the ann_ivfpq
      // DuckDB oracle relies on
      .withColumn("_r", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("query_id"))
          .orderBy(col("adc"), col("neighbor_id"))))
      .join(broadcast(capsDf), col("query_id") === col("cap_qid"))
      .filter(col("_r") <= col("cap"))
      .select(col("query_id"), col("neighbor_id"))
    rerankExact(spark, indexPath, cells, candidates, queries, k)
  }
}
