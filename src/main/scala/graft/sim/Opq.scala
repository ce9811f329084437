package graft.sim

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import Similarity.Vec

/** OPQ-style rotation for product quantization — the eigenvalue-
  * allocation initialization of Ge et al., "Optimized Product
  * Quantization" (CVPR 2013): rotate the space into the PCA
  * eigenbasis, then PERMUTE components so every PQ subspace receives
  * roughly equal variance. Plain PQ quantizes whatever mix of
  * directions lands in each dsub-dim slice; when the data's energy is
  * anisotropic, some subspaces carry most of the signal (and drown
  * their 16 centroids) while others quantize noise. The balanced
  * rotation gives each codebook an equal share — measurably better
  * candidate recall at identical code size (OpqSpec: planted
  * anisotropic fixture).
  *
  * Caveat the other way: a NAIVE PCA rotation (components in
  * eigenvalue order, no permutation) CONCENTRATES energy into the
  * first subspace — usually worse than no rotation at all. The
  * allocation step is the point, not the rotation.
  *
  * Cosine semantics: vectors are L2-normalized FIRST, and the
  * rotation is applied WITHOUT centering (a pure orthogonal map), so
  * norms, dot products — and therefore the exact re-rank — are
  * unchanged to float rounding. The PCA basis still comes from the
  * centered covariance (that is where the variance structure lives);
  * only its application skips the mean shift.
  *
  * Scale: rotation is map-only with a broadcast d×d basis (32 KB at
  * d = 64); everything else is [[Pq]]'s existing machinery.
  */
object Opq {

  /** Greedy balanced allocation: components in descending-eigenvalue
    * order each go to the subspace with the smallest variance sum
    * that still has a free slot. Returns `perm` such that output
    * dimension p reads component `perm(p)`, with dims
    * [j·dsub, (j+1)·dsub) forming subspace j. */
  def balancedAllocation(eigvals: Array[Double], m: Int): Array[Int] = {
    val d = eigvals.length
    require(d % m == 0, s"balancedAllocation: $d dims not divisible into $m subspaces")
    val dsub = d / m
    val byVar = eigvals.indices.sortBy(c => (-eigvals(c), c))
    val slots = Array.fill(m)(scala.collection.mutable.ArrayBuffer.empty[Int])
    val varSum = new Array[Double](m)
    byVar.foreach { c =>
      var best = -1
      var bestV = Double.MaxValue
      var j = 0
      while (j < m) {
        if (slots(j).length < dsub && varSum(j) < bestV) { bestV = varSum(j); best = j }
        j += 1
      }
      slots(best) += c
      varSum(best) += eigvals(c)
    }
    slots.flatMap(_.toArray)
  }

  /** Pure rotation of one vector into the permuted eigenbasis —
    * y(p) = basis(perm(p)) · x, NO centering (see scaladoc above). */
  private[sim] def rotateOne(model: Pca.Model, perm: Array[Int],
      x: Array[Double]): Array[Double] = {
    val y = new Array[Double](perm.length)
    var p = 0
    while (p < perm.length) {
      val b = model.basis(perm(p))
      var s = 0.0
      var i = 0
      while (i < model.dim) { s += x(i) * b(i); i += 1 }
      y(p) = s
      p += 1
    }
    y
  }

  /** Map-only corpus rotation (broadcast basis + permutation). */
  private[sim] def rotate(corpus: Dataset[Vec], model: Pca.Model,
      perm: Array[Int]): Dataset[Vec] = {
    import corpus.sparkSession.implicits._
    val bcM = corpus.sparkSession.sparkContext.broadcast(model)
    val bcP = corpus.sparkSession.sparkContext.broadcast(perm)
    corpus.map { r =>
      val y = rotateOne(bcM.value, bcP.value, r.v)
      Vec(r.vec_id, y, r.nrm)
    }
  }

  /** Rotation/codebook side-dump paths for the gate surface, by corpus
    * dir basename; the `ann_pq_opq` oracle names them for the corpus dir
    * it is given. */
  def rotDumpPath(base: String): String =
    graft.core.SideDump.path("opq_rot", base)
  def booksDumpPath(base: String): String =
    graft.core.SideDump.path("opq_books", base)

  /** PQ top-k in the balanced-rotated space: normalize → fit PCA →
    * balanced allocation → rotate corpus + queries → [[Pq]]'s
    * train/encode/ADC/exact-rerank core. The APPLIED rotation rows
    * (perm-ordered basis) and the rotated-space codebooks are
    * side-dumped: the eigensolve, the allocation and the Lloyd
    * trainer are taken on faith, and the DuckDB oracle re-derives
    * the rotation application, encode, ADC, the global candidate cut
    * and the exact re-rank from raw embeddings + the dumps. The
    * recall improvement over plain PQ is measured on the planted
    * anisotropic fixture in OpqSpec. */
  def topKPqOpq(spark: SparkSession, sfDir: String, k: Int = 5,
      numQueries: Int = 10, m: Int = 8, ksub: Int = 16,
      rerank: Int = 50): DataFrame = {
    import spark.implicits._
    val corpus = Similarity.loadVectors(spark, sfDir)
      .map(v => Vec(v.vec_id, Pq.l2normalize(v.v), 1.0))
    val model = Pca.fit(corpus)
    val perm = balancedAllocation(model.eigvals, m)
    graft.core.SideDump.write(
      perm.indices.map(p => (p, model.basis(perm(p)).toSeq)).toDF("p", "b"),
      "opq_rot", new java.io.File(sfDir).getName)
    val rotated = rotate(corpus, model, perm)
    val queries = corpus.filter(col("vec_id") < numQueries).collect()
      .sortBy(_.vec_id)
      .map(q => Vec(q.vec_id, rotateOne(model, perm, q.v), 1.0))
    Pq.topKPqCore(rotated, queries, k, m, ksub, rerank,
      cb => Pq.dumpBooks(spark, cb, "opq_books", sfDir))
  }
}
