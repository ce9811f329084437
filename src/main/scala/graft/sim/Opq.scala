package graft.sim

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel
import graft.core.{DumpSink, Rounds}
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
  * Scale: the normalized corpus is persisted once; the PCA fit and
  * the rotation are plain jobs over it, and the rotated corpus (a
  * map-only pass with a broadcast d×d basis, 32 KB at d = 64) is
  * persisted in its place for [[Pq]]'s train/encode/ADC/re-rank core.
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
  private[sim] def rotate(corpus: RDD[Vec], model: Pca.Model,
      perm: Array[Int]): RDD[Vec] = {
    val bc = corpus.sparkContext.broadcast((model, perm))
    corpus.map { r =>
      val (m, p) = bc.value
      Vec(r.vec_id, rotateOne(m, p, r.v), r.nrm)
    }
  }

  /** PQ top-k in the balanced-rotated space: normalize → fit PCA →
    * balanced allocation → rotate corpus + queries → [[Pq]]'s
    * train/encode/ADC/exact-rerank core. The APPLIED rotation rows
    * (perm-ordered basis) and the rotated-space codebooks go to
    * `rotDump` and `booksDump`: the eigensolve, the allocation and the
    * Lloyd trainer are taken on faith, and the DuckDB oracle re-derives
    * the rotation application, encode, ADC, the global candidate cut
    * and the exact re-rank from raw embeddings + the dumps. The
    * recall improvement over plain PQ is measured on the planted
    * anisotropic fixture in OpqSpec. */
  def topKPqOpq(spark: SparkSession, sfDir: String, k: Int = 5,
      numQueries: Int = 10, m: Int = 8, ksub: Int = 16,
      rerank: Int = 50, rotDump: DumpSink = DumpSink.discard,
      booksDump: DumpSink = DumpSink.discard): DataFrame = {
    import spark.implicits._
    val (rotated, queries) = Rounds.persisted(Similarity.loadVectors(spark, sfDir).rdd
        .map(v => Vec(v.vec_id, Pq.l2normalize(v.v), 1.0))) { corpus =>
      val model = Pca.fitRows(corpus) // the first job: fills the cache
      val perm = balancedAllocation(model.eigvals, m)
      rotDump(perm.indices.map(p => (p, model.basis(perm(p)).toSeq)).toDF("p", "b"))
      val rot = rotate(corpus, model, perm).persist(StorageLevel.MEMORY_AND_DISK)
      // the query collect scans every partition, so it fills the rotated
      // cache before the normalized one is released
      (rot, rot.filter(_.vec_id < numQueries).collect().sortBy(_.vec_id))
    }
    try Pq.topKPqCore(spark, rotated, queries, k, m, ksub, rerank, booksDump)
    finally { rotated.unpersist(blocking = false); () }
  }
}
