package graft.sim

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.sim.Similarity.Vec

/** Distributed PCA / whitening over the embedding column — the
  * dimensionality-reduction step a large-scale embedding pipeline runs
  * before indexing (reduced-dim ANN, OPQ-style rotations, drift
  * monitoring on component energies).
  *
  * Scale design (100 TB posture), same contract as [[Kmeans]] and
  * [[graft.text.QualityClassifier]]:
  *  - The corpus is read ONCE in a single narrow pass; each partition
  *    emits (count, sum[d], packed upper-triangular Σ x·xᵀ) — for
  *    d = 64 that is 2 144 doubles per partition, independent of N.
  *    Partials are folded ON THE DRIVER IN PARTITION ORDER, so the fit
  *    is bit-reproducible for a fixed input layout.
  *  - The eigendecomposition runs on the d×d covariance on the driver
  *    (cyclic Jacobi; d³ work for d = 64 is microseconds). Driver
  *    state is O(d²) — never corpus-sized.
  *  - Projection is MAP-ONLY: the (mean, basis) model is broadcast;
  *    no shuffle anywhere in fit or transform.
  *
  * Exactness hook: a FULL-RANK projection is an orthogonal transform
  * after centering, which preserves Euclidean distances exactly (to
  * float rounding ~1e-13, far below the corpus' smallest top-k gap
  * ~4e-5) — so Euclidean top-k through full-rank PCA shares the
  * untransformed exact oracle (`ann_pca_topk` vs `ann_topk_l2`). The
  * reduced-dim path is the approximate scale variant (rows-only gate +
  * recall spec, like IVF vs exact).
  */
object Pca {

  /** `basis(c)` = c-th principal axis (unit length, descending
    * eigenvalue); sign-fixed so each axis' largest-|coordinate| entry
    * is positive (eigenvectors are sign-ambiguous; fixing it makes the
    * model deterministic). */
  final case class Model(dim: Int, n: Long, mean: Array[Double],
      eigvals: Array[Double], basis: Array[Array[Double]]) {
    def varianceExplained(k: Int): Double = {
      val tot = eigvals.sum
      if (tot <= 0) 0.0 else eigvals.take(k).sum / tot
    }
  }

  /** One-pass covariance fit: partition partials folded in PARTITION
    * ORDER (fixed float summation order → bit-reproducible), Jacobi
    * eigen. The fold is HIERARCHICAL past `fanIn` partitions: with P
    * partitions the driver would otherwise collect P·d(d+3)/2 doubles
    * (≈13 GB at 800k partitions × d = 64) — extra deterministic
    * reduce levels (group = pid / fanIn, fold sorted by pid) cap the
    * collect at fanIn partials. At gate scale (P ≤ 32 < fanIn) zero
    * extra stages run, so the tree costs nothing where it isn't
    * needed. */
  def fit(corpus: Dataset[Vec], fanIn: Int = 64): Model = {
    import corpus.sparkSession.implicits._
    require(fanIn >= 2, "fit: fanIn must be >= 2")
    val raw = corpus.mapPartitions { rows =>
      var n = 0L
      var d = -1
      var sum: Array[Double] = null
      var tri: Array[Double] = null // packed upper triangle of Σ x xᵀ
      rows.foreach { r =>
        if (d < 0) {
          d = r.v.length
          sum = new Array[Double](d)
          tri = new Array[Double](d * (d + 1) / 2)
        }
        val x = r.v
        var i = 0
        var t = 0
        while (i < d) {
          sum(i) += x(i)
          val xi = x(i)
          var j = i
          while (j < d) { tri(t) += xi * x(j); j += 1; t += 1 }
          i += 1
        }
        n += 1
      }
      if (n == 0) Iterator.empty
      else Iterator.single(
        (org.apache.spark.TaskContext.getPartitionId(), n, sum, tri))
    }
    def foldSorted(partials: Array[(Int, Long, Array[Double], Array[Double])])
        : (Long, Array[Double], Array[Double]) = {
      val sorted = partials.sortBy(_._1)
      val d = sorted.head._3.length
      var n = 0L
      val sum = new Array[Double](d)
      val tri = new Array[Double](d * (d + 1) / 2)
      sorted.foreach { case (_, pn, ps, pt) =>
        n += pn
        var i = 0
        while (i < d) { sum(i) += ps(i); i += 1 }
        i = 0
        while (i < tri.length) { tri(i) += pt(i); i += 1 }
      }
      (n, sum, tri)
    }
    var cur = raw
    var bound = corpus.rdd.getNumPartitions
    while (bound > fanIn) {
      cur = cur.groupByKey(_._1 / fanIn).mapGroups { (g, it) =>
        val (n, sum, tri) = foldSorted(it.toArray)
        (g, n, sum, tri)
      }
      bound = (bound + fanIn - 1) / fanIn
    }
    val partials = cur.collect()
    require(partials.nonEmpty, "fit: empty corpus")
    val (n, sum, tri) = foldSorted(partials)
    val d = sum.length
    val mean = sum.map(_ / n)
    // cov = E[xxᵀ] − μμᵀ (population covariance; the ML convention)
    val cov = Array.ofDim[Double](d, d)
    var t = 0
    var i = 0
    while (i < d) {
      var j = i
      while (j < d) {
        val c = tri(t) / n - mean(i) * mean(j)
        cov(i)(j) = c; cov(j)(i) = c
        j += 1; t += 1
      }
      i += 1
    }
    val (vals, vecs) = jacobiEigen(cov)
    // order by descending eigenvalue (tie: original index), fix signs
    val order = vals.indices.sortBy(c => (-vals(c), c))
    val eigvals = order.map(c => math.max(vals(c), 0.0)).toArray
    val basis = order.map { c =>
      val v = Array.tabulate(d)(r => vecs(r)(c))
      var best = 0
      var k = 1
      while (k < d) {
        if (math.abs(v(k)) > math.abs(v(best))) best = k
        k += 1
      }
      if (v(best) < 0) v.map(x => -x) else v
    }.toArray
    Model(d, n, mean, eigvals, basis)
  }

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix: returns
    * (eigenvalues, eigenvector columns). Deterministic rotation order;
    * converges quadratically — 100 sweeps is a safety bound, typical
    * d=64 covariances need <12. */
  private[sim] def jacobiEigen(aIn: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val d = aIn.length
    val a = Array.tabulate(d, d)((i, j) => aIn(i)(j))
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    val scale = math.max(a.indices.map(i => math.abs(a(i)(i))).max, 1e-300)
    val tol = 1e-14 * scale
    var sweep = 0
    var off = Double.MaxValue
    while (sweep < 100 && off > tol) {
      off = 0.0
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          val apq = a(p)(q)
          if (math.abs(apq) > tol * 1e-2) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
            val tSign = if (theta >= 0) 1.0 else -1.0
            val tt = tSign / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
            val c = 1.0 / math.sqrt(tt * tt + 1.0)
            val s = tt * c
            var k = 0
            while (k < d) {
              val akp = a(k)(p); val akq = a(k)(q)
              a(k)(p) = c * akp - s * akq
              a(k)(q) = s * akp + c * akq
              k += 1
            }
            k = 0
            while (k < d) {
              val apk = a(p)(k); val aqk = a(q)(k)
              a(p)(k) = c * apk - s * aqk
              a(q)(k) = s * apk + c * aqk
              val vkp = v(k)(p); val vkq = v(k)(q)
              v(k)(p) = c * vkp - s * vkq
              v(k)(q) = s * vkp + c * vkq
              k += 1
            }
          }
          q += 1
        }
        p += 1
      }
      p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) { off = math.max(off, math.abs(a(p)(q))); q += 1 }
        p += 1
      }
      sweep += 1
    }
    (Array.tabulate(d)(i => a(i)(i)), v)
  }

  /** Project a single vector (driver-side helper, shared with the
    * distributed path so both compute identically). */
  private[sim] def projectOne(m: Model, kdim: Int, whiten: Boolean,
      x: Array[Double]): Array[Double] = {
    val y = new Array[Double](kdim)
    var c = 0
    while (c < kdim) {
      val b = m.basis(c)
      var s = 0.0
      var i = 0
      while (i < m.dim) { s += (x(i) - m.mean(i)) * b(i); i += 1 }
      y(c) =
        if (!whiten) s
        else if (m.eigvals(c) > 1e-12) s / math.sqrt(m.eigvals(c))
        else 0.0
      c += 1
    }
    y
  }

  /** Map-only projection of the corpus into the top `kdim` components;
    * `whiten` scales each component to unit variance. */
  def project(corpus: Dataset[Vec], m: Model, kdim: Int,
      whiten: Boolean = false): Dataset[Vec] = {
    import corpus.sparkSession.implicits._
    require(kdim >= 1 && kdim <= m.dim, s"project: kdim must be in [1, ${m.dim}]")
    val bc = corpus.sparkSession.sparkContext.broadcast(m)
    corpus.map { r =>
      val y = projectOne(bc.value, kdim, whiten, r.v)
      var sq = 0.0
      var i = 0
      while (i < y.length) { sq += y(i) * y(i); i += 1 }
      Vec(r.vec_id, y, math.sqrt(sq))
    }
  }

  /** Exact Euclidean top-k with partition-local bounded heaps — the
    * L2 twin of [[Similarity.partialTopK]]. Ranks by SQUARED distance
    * (same order as distance, no sqrt in the hot loop); `sim` carries
    * −dist² so [[Similarity.rankHits]]' descending rank applies. */
  private[sim] def topKEuclid(corpus: Dataset[Vec], queries: Array[Vec],
      k: Int): DataFrame = {
    import corpus.sparkSession.implicits._
    val bc = corpus.sparkSession.sparkContext.broadcast(queries)
    val hits = corpus.mapPartitions { rows =>
      val qs = bc.value
      val heaps = Array.fill(qs.length)(
        scala.collection.mutable.PriorityQueue.empty[(Double, Long)](Similarity.worstFirst))
      rows.foreach { r =>
        var qi = 0
        while (qi < qs.length) {
          val q = qs(qi)
          if (r.vec_id != q.vec_id) {
            var d2 = 0.0
            var i = 0
            val qv = q.v; val rv = r.v
            while (i < qv.length) {
              val diff = qv(i) - rv(i); d2 += diff * diff; i += 1
            }
            val s = -d2
            val h = heaps(qi)
            if (h.size < k) h.enqueue((s, r.vec_id))
            else {
              val (ws, wid) = h.head
              if (s > ws || (s == ws && r.vec_id < wid)) { h.dequeue(); h.enqueue((s, r.vec_id)) }
            }
          }
          qi += 1
        }
      }
      heaps.iterator.zipWithIndex.flatMap { case (h, qi) =>
        h.iterator.map { case (s, id) => Similarity.Hit(qs(qi).vec_id, id, s) }
      }
    }
    Similarity.rankHits(hits, k)
  }

  /** Gate: exact Euclidean top-k on the raw embeddings (the L2
    * baseline next to the cosine `ann_topk`; hash gate vs DuckDB
    * `list_distance`). */
  def topKL2(spark: SparkSession, sfDir: String, k: Int = 5,
      numQueries: Int = 10): DataFrame = {
    val corpus = Similarity.loadVectors(spark, sfDir)
    val queries = corpus.filter(col("vec_id") < numQueries).collect().sortBy(_.vec_id)
    topKEuclid(corpus, queries, k)
  }

  /** Gate: Euclidean top-k THROUGH full-rank PCA — fit, project
    * corpus + queries, search in component space. Orthogonality makes
    * this distance-preserving, so it shares `ann_topk_l2`'s exact
    * oracle: the gate proves the whole fit/eigen/project stack against
    * SQL ground truth. */
  def topKL2Pca(spark: SparkSession, sfDir: String, k: Int = 5,
      numQueries: Int = 10): DataFrame = {
    val corpus = Similarity.loadVectors(spark, sfDir)
    val m = fit(corpus)
    val projected = project(corpus, m, m.dim)
    val queries = corpus.filter(col("vec_id") < numQueries).collect().sortBy(_.vec_id)
      .map(q => Vec(q.vec_id, projectOne(m, m.dim, whiten = false, q.v), 0.0))
    topKEuclid(projected, queries, k)
  }

  /** This run's PCA-model side-dump path for a corpus dir basename; the
    * `ann_pca_reduced` oracle names it for the corpus dir it is given. */
  def modelDumpPath(base: String): String =
    graft.core.SideDump.path("pca_model", base)

  /** Gate: the SCALE path — reduced-rank projection, then Euclidean
    * top-k in `kdim` dims. At 100 TB this is the point of PCA: a 4×
    * narrower scan (and 4× smaller index) for a measured recall cost
    * (PcaSpec: recall vs the exact L2 baseline). Hash-gated via a
    * model side dump: the eigensolve is the only thing the DuckDB
    * oracle takes on faith — it re-projects raw embeddings through
    * the dumped mean + top-kdim basis (ordered IEEE folds, the
    * projectOne order) and re-ranks by squared L2, so the projection
    * and search machinery are independently re-derived. */
  def topKL2PcaReduced(spark: SparkSession, sfDir: String, kdim: Int = 16,
      k: Int = 5, numQueries: Int = 10): DataFrame = {
    import spark.implicits._
    val corpus = Similarity.loadVectors(spark, sfDir)
    val m = fit(corpus)
    graft.core.SideDump.write(
      ((-1, m.mean.toSeq) +:
        (0 until kdim).map(c => (c, m.basis(c).toSeq))).toDF("comp", "v"),
      "pca_model", new java.io.File(sfDir).getName)
    val projected = project(corpus, m, kdim)
    val queries = corpus.filter(col("vec_id") < numQueries).collect().sortBy(_.vec_id)
      .map(q => Vec(q.vec_id, projectOne(m, kdim, whiten = false, q.v), 0.0))
    topKEuclid(projected, queries, k)
  }
}
