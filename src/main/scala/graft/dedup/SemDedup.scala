package graft.dedup

import graft.core.DumpSink
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.sim.{CentroidIndex, Kmeans, Similarity}
import graft.sim.Similarity.Vec

/** Semantic deduplication over the embedding corpus — the SemDeDup
  * recipe (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
  * web-scale through semantic deduplication", arXiv:2303.09540),
  * re-expressed Spark-first:
  *
  *  1. cluster the embeddings with the k-means trainer
  *     ([[Kmeans.train]] — same codebook machinery as the IVF index);
  *  2. within each cluster, compare members pairwise by cosine;
  *  3. among members within `tau` of each other, KEEP the one with
  *     the LOWEST similarity to its cluster centroid (the paper's
  *     finding: low-centroid-sim exemplars generalize best), ties to
  *     the lower vec_id.
  *
  * The drop rule is local and deterministic: member x is dropped iff
  * some member y of the same cluster has cos(x,y) ≥ τ and strictly
  * higher keep-priority — (centSim(y), vec_id(y)) < (centSim(x),
  * vec_id(x)) lexicographically. The minimum-priority member of any
  * duplicate clique can never be dropped, so every clique keeps at
  * least one representative (SemDedupSpec pins this).
  *
  * Scale design (100 TB posture): clustering is the pruning — the
  * pairwise stage runs per cluster inside one task, O(Σ|cluster|²)
  * total, and the production knob is k ∝ N (the paper runs k = 50 000
  * on LAION so clusters stay ~10³–10⁴): growing k holds cluster sizes
  * — and so per-task memory and compute — constant while the trainer
  * itself scales through the blocked/pruned assignment paths
  * ([[graft.sim.PointBlocks]] / [[CentroidIndex]]). No all-pairs
  * stage anywhere; the shuffle key is the cell id.
  *
  * Oracle story: the trained centroids go to the caller's
  * `centsDump` (a gate dumps them for its oracle) — the Lloyd
  * iterations are the only faith; assignment (argmax cosine, lowest-cell tie), centroid
  * similarity, the within-cluster pairwise τ-test and the
  * keep-priority rule are all re-derived by DuckDB from the raw
  * embeddings plus the dumped codebook.
  */
object SemDedup {

  /** THE cell-assignment kernel for every semantic-dedup surface:
    * (nearest cell by the pruned-exact index, cosine to that cell's
    * centroid). One definition — the zero-norm guard and the argmax/
    * tie-break are load-bearing for gate parity, so [[SemDedup]] and
    * [[SemIndex]]'s three call sites must not drift. */
  private[dedup] def assignCell(idx: CentroidIndex, r: Vec): (Int, Double) = {
    val cell = idx.nearest(r)
    val c = idx.cents(cell).v
    var dot = 0.0; var cn = 0.0; var j = 0
    while (j < r.v.length) { dot += r.v(j) * c(j); cn += c(j) * c(j); j += 1 }
    val nrm = if (r.nrm == 0.0) 1.0 else r.nrm
    // true cosine — divide by the STORED centroid's computed norm, not
    // the nominal 1.0: trained centroids are unit only to ~1e-16, and
    // the DuckDB oracle's list_cosine_similarity divides by the norm it
    // recomputes from the dumped doubles, so evaluating the identical
    // expression keeps near-.5-micro priority values engine-stable
    val cnrm = math.sqrt(cn)
    (cell, dot / (nrm * (if (cnrm == 0.0) 1.0 else cnrm)))
  }

  /** (vec_id, cell, cent_sim_micro, kept) for every embedding.
    * `cent_sim_micro` — the keep-priority key, rounded to integer
    * micro-units in the OUTPUT only (the rule itself compares full
    * doubles; the output column exists so the gate pins the priority
    * the rule used without hashing raw floats). */
  def semantic(spark: SparkSession, sfDir: String, tau: Double = 0.45,
      k: Int = 16, iters: Int = 3,
      centsDump: DumpSink = DumpSink.discard): DataFrame =
    semanticWithCap(spark, sfDir, tau, k, iters, cap = Int.MaxValue,
      centsDump)

  /** Skew-capped variant — the scale hedge for a DEGENERATE cluster
    * (one cell holding a large fraction of the corpus makes the
    * within-cell pairwise stage O(|cell|²) in one task; the
    * principled fix is growing k, but a production run wants a
    * bound even when the codebook is misconfigured): each member is
    * compared only against the `cap` HIGHEST-priority members of its
    * cell, so per-task work is O(|cell|·cap·d). Conservative by
    * construction — a member can only be droppped by a likely
    * keeper; beyond-cap duplicates are kept rather than dropped —
    * and exactly the one-shot rule whenever every cell is ≤ cap
    * (SemDedupSpec pins both properties). Same dumped-codebook
    * oracle story. */
  def semanticCapped(spark: SparkSession, sfDir: String,
      tau: Double = 0.45, k: Int = 16, iters: Int = 3,
      cap: Int = 64, centsDump: DumpSink = DumpSink.discard): DataFrame =
    semanticWithCap(spark, sfDir, tau, k, iters, cap, centsDump)

  /** Large-k variant on the SCALABLE trainer — k-means‖ seeding
    * ([[Kmeans.trainParallel]]) at k = 256, which crosses BOTH scale
    * thresholds inside a hash gate: the seed reduction runs
    * distributed (|seeds| > 1024) and the Lloyd rounds take the
    * blocked-corpus assignment path (k ≥ 256,
    * [[graft.sim.PointBlocks]]). The oracle machinery is identical
    * (dumped codebook faith, everything downstream re-derived), so
    * this gate is standing insurance that neither scale path can
    * silently diverge from the per-point formulation. At k ≫ corpus
    * cells are tiny, so the within-cell stage is trivially bounded —
    * the production shape (k ∝ N). */
  def semanticPar(spark: SparkSession, sfDir: String, tau: Double = 0.45,
      k: Int = 256, iters: Int = 3,
      centsDump: DumpSink = DumpSink.discard): DataFrame =
    semanticWithCap(spark, sfDir, tau, k, iters, cap = Int.MaxValue,
      centsDump, trainer = Kmeans.trainParallel(_, _, _))

  private def semanticWithCap(spark: SparkSession, sfDir: String,
      tau: Double, k: Int, iters: Int, cap: Int, centsDump: DumpSink,
      trainer: (org.apache.spark.sql.Dataset[Vec], Int, Int) => Array[Kmeans.Centroid]
        = Kmeans.train(_, _, _)): DataFrame = {
    val vecs = Similarity.loadVectors(spark, sfDir)
    val cents = trainer(vecs, k, iters)
    centsDump(Kmeans.centsFrame(spark, cents))
    semanticOf(vecs, cents, tau, cap)
  }

  /** The assign + within-cell pairwise core over CALLER-SUPPLIED
    * vectors and trained centroids — the library surface for a corpus
    * that does not live in an sfDir (and the entry point of the r10
    * paper-scale rehearsal, BENCH_NOTES Round 9). Exactly the gate pipeline
    * minus the load and the codebook side dump. */
  def semanticOf(vecs: org.apache.spark.sql.Dataset[Vec],
      cents: Array[Kmeans.Centroid], tau: Double,
      cap: Int = Int.MaxValue): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(CentroidIndex.build(cents))
    vecs
      .map { r =>
        val (cell, sim) = assignCell(bc.value, r)
        (cell, sim, r)
      }
      .groupByKey(_._1)
      .flatMapGroups { (cell, it) =>
        // keep-priority order: centroid-sim ascending, vec_id ascending
        val ms = it.toArray.sortBy { case (_, sim, r) => (sim, r.vec_id) }
        val dropped = new Array[Boolean](ms.length)
        var i = 1
        while (i < ms.length) {
          var j = 0
          var hit = false
          val lim = math.min(i, cap) // capped: only likely keepers drop
          while (j < lim && !hit) {
            if (Similarity.cosine(ms(i)._3, ms(j)._3) >= tau) hit = true
            j += 1
          }
          dropped(i) = hit
          i += 1
        }
        ms.iterator.zipWithIndex.map { case ((_, sim, r), m) =>
          (r.vec_id, cell, sim, !dropped(m))
        }
      }
      .toDF("vec_id", "cell", "cent_sim", "kept")
      // quantize in the SQL layer so the HALF_UP semantics match the
      // DuckDB oracle's round() exactly (the score_micro idiom)
      .selectExpr("vec_id", "cell",
        "CAST(round(cent_sim * 1000000) AS BIGINT) AS cent_sim_micro", "kept")
  }
}
