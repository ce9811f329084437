package graft.sim

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.{DumpSink, Rounds}
import Similarity.{Vec, cosine}

/** Product-quantization ANN — the memory-compressed scale path: the
  * corpus is stored as M=8 one-byte codes per vector (64× smaller than
  * float64), queries scan codes with an asymmetric-distance lookup
  * table, and only a small re-rank set is scored exactly.
  *
  * Pipeline, over ONE persisted corpus per call ([[Rounds]]):
  * L2-normalize (cosine ≡ monotone in L2² on normalized vectors) →
  * train per-subspace codebooks (deterministic Lloyd's k-means:
  * first-K init, fixed iterations, lowest-index tie-break) on the full
  * corpus DISTRIBUTED (no driver sample; see [[trainDistributed]]) →
  * one pass that encodes each vector, ADC-scores it against the query
  * tables into per-partition bounded heaps ordered by (adc, id), and
  * scores each heap entrant's exact cosine → a `treeAggregate` merges
  * the heaps to the GLOBAL ADC top-`rerank` per query
  * (partition-count-independent semantics, which is what lets the
  * `ann_pq` DuckDB oracle re-derive the whole pipeline from the dumped
  * codebooks) → the driver ranks those survivors by exact cosine.
  *
  * At 100 TB: codebooks are KB-sized broadcast state; encoding is
  * map-only; a query touches 8 bytes + 8 table lookups per corpus
  * vector instead of 64 float multiplies, and the driver holds
  * O(|Q|·rerank) candidates. */
object Pq {

  final case class Codebooks(m: Int, dsub: Int, centroids: Array[Array[Array[Double]]])

  private[graft] def l2normalize(v: Array[Double]): Array[Double] = {
    var ss = 0.0
    var i = 0
    while (i < v.length) { ss += v(i) * v(i); i += 1 }
    val n = math.sqrt(ss)
    if (n == 0) v else v.map(_ / n)
  }

  private def sub(v: Array[Double], j: Int, dsub: Int): Array[Double] =
    java.util.Arrays.copyOfRange(v, j * dsub, (j + 1) * dsub)

  private def sqDist(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  /** Deterministic Lloyd's k-means: init = first k sample points,
    * `iters` fixed iterations, empty clusters keep their previous
    * centroid, nearest-centroid ties break to the lowest index. */
  private[sim] def kmeans(points: Array[Array[Double]], k: Int, iters: Int): Array[Array[Double]] = {
    var cents = points.take(k).map(_.clone)
    for (_ <- 0 until iters) {
      val sums = Array.fill(k)(new Array[Double](points.head.length))
      val counts = new Array[Int](k)
      points.foreach { p =>
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < cents.length) {
          val d = sqDist(p, cents(c)); if (d < bestD) { bestD = d; best = c }; c += 1
        }
        counts(best) += 1
        val s = sums(best)
        var i = 0
        while (i < p.length) { s(i) += p(i); i += 1 }
      }
      cents = cents.zipWithIndex.map { case (old, c) =>
        if (counts(c) == 0) old else sums(c).map(_ / counts(c))
      }
    }
    cents
  }

  private[sim] def train(sample: Array[Array[Double]], m: Int, ksub: Int,
      iters: Int = 10): Codebooks = {
    val dsub = sample.head.length / m
    val books = Array.tabulate(m)(j => kmeans(sample.map(sub(_, j, dsub)), ksub, iters))
    Codebooks(m, dsub, books)
  }

  /** DISTRIBUTED per-subspace codebook training — no corpus sample
    * ever reaches the driver. All `m` subspaces train simultaneously:
    * each Lloyd round broadcasts the current codebooks (m·ksub·dsub
    * doubles — KB), one narrow job over the persisted corpus
    * accumulates per-partition (subspace, centroid) sum/count partials
    * locally (m·ksub entries per PARTITION reach the fold, never
    * per-vector contributions), [[Rounds.foldInOrder]] merges them in
    * partition-id order, and the driver rebuilds centroids from
    * m·ksub·dsub doubles of state. Same deterministic rules as the
    * driver-side [[kmeans]]: first-ksub-by-id init, fixed iterations,
    * empty clusters keep their centroid, nearest ties to the lowest
    * index — so on a corpus small enough that the driver path's sample
    * IS the corpus, the two trainers agree up to float-summation order
    * (PqTrainSpec). `corpus` must already be L2-normalized, as in
    * [[topKPq]]. */
  private[sim] def trainDistributed(corpus: org.apache.spark.sql.Dataset[Vec],
      m: Int, ksub: Int, iters: Int = 10): Codebooks =
    Rounds.persisted(corpus.rdd)(trainRows(_, m, ksub, iters))

  /** [[trainDistributed]] over an already-persisted corpus. */
  private def trainRows(rows: RDD[Vec], m: Int, ksub: Int,
      iters: Int = 10): Codebooks = {
    val seed = rows.filter(_.vec_id < ksub).collect().sortBy(_.vec_id).map(_.v)
    val dim = seed.head.length
    val dsub = dim / m
    var books: Array[Array[Array[Double]]] =
      Array.tabulate(m)(j => seed.map(sub(_, j, dsub)))
    for (_ <- 0 until iters) {
      val bc = rows.sparkContext.broadcast(Codebooks(m, dsub, books))
      val partials = rows.mapPartitions { it =>
        val cb = bc.value
        val k = cb.centroids(0).length
        val sums = Array.ofDim[Double](cb.m, k, cb.dsub)
        val counts = Array.ofDim[Long](cb.m, k)
        it.foreach { r =>
          var j = 0
          while (j < cb.m) {
            val s = sub(r.v, j, cb.dsub)
            var best = 0; var bestD = Double.MaxValue
            var c = 0
            while (c < k) {
              val d = sqDist(s, cb.centroids(j)(c))
              if (d < bestD) { bestD = d; best = c }
              c += 1
            }
            counts(j)(best) += 1
            val acc = sums(j)(best)
            var i = 0
            while (i < cb.dsub) { acc(i) += s(i); i += 1 }
            j += 1
          }
        }
        Iterator.single((sums, counts))
      }
      val (totS, totN) = Rounds.foldInOrder(partials) { (a, b) =>
        for (j <- 0 until m; c <- 0 until ksub) {
          a._2(j)(c) += b._2(j)(c)
          val acc = a._1(j)(c); val s = b._1(j)(c)
          var i = 0
          while (i < dsub) { acc(i) += s(i); i += 1 }
        }
        a
      }.get
      val next = books.map(_.map(_.clone))
      for (j <- 0 until m; c <- 0 until ksub if totN(j)(c) > 0)
        next(j)(c) = totS(j)(c).map(_ / totN(j)(c))
      books = next
      bc.destroy()
    }
    Codebooks(m, dsub, books)
  }

  private[sim] def encode(cb: Codebooks, v: Array[Double]): Array[Byte] =
    Array.tabulate(cb.m) { j =>
      val s = sub(v, j, cb.dsub)
      var best = 0; var bestD = Double.MaxValue
      var c = 0
      while (c < cb.centroids(j).length) {
        val d = sqDist(s, cb.centroids(j)(c)); if (d < bestD) { bestD = d; best = c }; c += 1
      }
      best.toByte
    }

  /** ADC table: adc(j)(c) = ||q_sub_j - centroid_jc||². */
  private[sim] def adcTable(cb: Codebooks, q: Array[Double]): Array[Array[Double]] =
    Array.tabulate(cb.m)(j => cb.centroids(j).map(c => sqDist(sub(q, j, cb.dsub), c)))

  def topKPq(spark: SparkSession, sfDir: String, k: Int = 5, numQueries: Int = 10,
      m: Int = 8, ksub: Int = 16, rerank: Int = 50,
      booksDump: DumpSink = DumpSink.discard): DataFrame =
    Rounds.persisted(Similarity.loadVectors(spark, sfDir).rdd
        .map(v => Vec(v.vec_id, l2normalize(v.v), 1.0))) { corpus =>
      // the query collect is the first job: it also fills the cache
      val queries = corpus.filter(_.vec_id < numQueries).collect().sortBy(_.vec_id)
      topKPqCore(spark, corpus, queries, k, m, ksub, rerank, booksDump)
    }

  /** A codebook as (subspace, code, v) rows — the only artifact a PQ
    * oracle takes on faith (the trainer); encode, the ADC table, the
    * global candidate cut and the exact re-rank are re-derived in SQL
    * from raw embeddings + this frame's dump. */
  private[sim] def booksFrame(spark: SparkSession, cb: Codebooks): DataFrame = {
    import spark.implicits._
    (for {
      j <- cb.centroids.indices
      c <- cb.centroids(j).indices
    } yield (j, c, cb.centroids(j)(c).toSeq)).toDF("subspace", "code", "v")
  }

  /** A re-rank candidate: ADC distance, neighbor id, exact cosine. */
  private type Cand = (Double, Long, Double)

  /** (adc, id) ascending — the candidate order, a total order since
    * ids are unique per query. */
  private val byAdc: Ordering[Cand] = new Ordering[Cand] {
    def compare(a: Cand, b: Cand): Int = {
      val c = java.lang.Double.compare(a._1, b._1)
      if (c != 0) c else java.lang.Long.compare(a._2, b._2)
    }
  }

  /** Exact cosine descending, then id ascending — the final rank
    * order. Cosines compare as SQL does (-0.0 = 0.0, NaN largest). */
  private val bySim: Ordering[Cand] = new Ordering[Cand] {
    def compare(a: Cand, b: Cand): Int = {
      val c = if (a._3 == b._3) 0 else java.lang.Double.compare(b._3, a._3)
      if (c != 0) c else java.lang.Long.compare(a._2, b._2)
    }
  }

  /** Train + encode + ADC-scan + exact-rerank over an arbitrary
    * (already L2-normalized, `nrm` = 1, persisted) corpus and query set — shared
    * by the plain gate path above and the OPQ-rotated path ([[Opq]]),
    * which differ only in the space the codes live in.
    *
    * The tail is ONE job: per partition, one bounded heap per query
    * keeps the `rerank` best (adc, id) candidates, each carrying its
    * exact cosine (scored when it enters the heap); a `treeAggregate`
    * merges the heaps to the GLOBAL (adc, id) top-`rerank` per query —
    * a pure function of the corpus, independent of physical
    * partitioning — and the driver ranks those by exact cosine. The
    * result is a local relation of (query_id, neighbor_id, rank). */
  private[sim] def topKPqCore(spark: SparkSession, corpus: RDD[Vec],
      queries: Array[Vec], k: Int, m: Int, ksub: Int,
      rerank: Int, booksDump: DumpSink = DumpSink.discard): DataFrame = {
    import spark.implicits._
    val cb = trainRows(corpus, m, ksub)
    booksDump(booksFrame(spark, cb))
    val bc = corpus.sparkContext.broadcast(
      (cb, queries, queries.map(q => adcTable(cb, q.v))))
    val none = Array.fill(queries.length)(Array.empty[Cand])
    val cands = corpus.mapPartitions { rows =>
      val (cbv, qs, tables) = bc.value
      // max-heaps: the worst kept (adc, id) on top
      val heaps = Array.fill(qs.length)(
        scala.collection.mutable.PriorityQueue.empty[Cand](byAdc))
      rows.foreach { r =>
        val code = encode(cbv, r.v)
        var qi = 0
        while (qi < qs.length) {
          if (r.vec_id != qs(qi).vec_id) {
            val t = tables(qi)
            var d = 0.0
            var j = 0
            while (j < cbv.m) { d += t(j)(code(j) & 0xff); j += 1 }
            val h = heaps(qi)
            if (h.size < rerank) h.enqueue((d, r.vec_id, cosine(qs(qi), r)))
            else if (d < h.head._1 || (d == h.head._1 && r.vec_id < h.head._2)) {
              h.dequeue(); h.enqueue((d, r.vec_id, cosine(qs(qi), r)))
            }
          }
          qi += 1
        }
      }
      Iterator.single(heaps.map(_.toArray.sorted(byAdc)))
    }.treeAggregate(none)(mergeCands(rerank), mergeCands(rerank))
    bc.destroy()
    queries.indices.flatMap { qi =>
      cands(qi).sorted(bySim).take(k).zipWithIndex.map { case (c, r) =>
        (queries(qi).vec_id, c._2, r + 1L)
      }
    }.toDF("query_id", "neighbor_id", "rank")
  }

  /** Per query, the `rerank` best (adc, id) of two sorted candidate
    * lists. */
  private def mergeCands(rerank: Int)(a: Array[Array[Cand]],
      b: Array[Array[Cand]]): Array[Array[Cand]] =
    a.indices.map(qi => (a(qi) ++ b(qi)).sorted(byAdc).take(rerank)).toArray
}
