package graft.sim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Similarity.{Vec, Hit, cosine}

/** Product-quantization ANN — the memory-compressed scale path: the
  * corpus is stored as M=8 one-byte codes per vector (64× smaller than
  * float64), queries scan codes with an asymmetric-distance lookup
  * table, and only a small re-rank set is scored exactly.
  *
  * Pipeline: L2-normalize (cosine ≡ monotone in L2² on normalized
  * vectors) → train per-subspace codebooks (deterministic Lloyd's
  * k-means: first-K init, fixed iterations, lowest-index tie-break) on
  * the full corpus DISTRIBUTED (no driver sample; see
  * [[trainDistributed]]) → encode corpus in one narrow pass → per
  * partition, ADC-score codes against the query tables into bounded
  * heaps → cut the heap union to the GLOBAL ADC top-`rerank` per query
  * (partition-count-independent semantics, which is what lets the
  * `ann_pq` DuckDB oracle re-derive the whole pipeline from the dumped
  * codebooks) → re-rank the survivors with exact cosine.
  *
  * At 100 TB: codebooks are KB-sized broadcast state; encoding is
  * map-only; a query touches 8 bytes + 8 table lookups per corpus
  * vector instead of 64 float multiplies, and only `rerank` full
  * vectors are ever fetched. */
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
    * doubles — KB), one narrow pass accumulates per-partition
    * (subspace, centroid) sum/count partials locally (m·ksub rows per
    * PARTITION cross the wire, never per-vector contributions), a
    * 128-group reduce merges them, and the driver rebuilds centroids
    * from m·ksub·dsub doubles of state. Same deterministic rules as
    * the driver-side [[kmeans]]: first-ksub-by-id init, fixed
    * iterations, empty clusters keep their centroid, nearest ties to
    * the lowest index — so on a corpus small enough that the driver
    * path's sample IS the corpus, the two trainers agree up to
    * float-summation order (PqTrainSpec). `corpus` must already be
    * L2-normalized, as in [[topKPq]]. */
  private[sim] def trainDistributed(corpus: org.apache.spark.sql.Dataset[Vec],
      m: Int, ksub: Int, iters: Int = 10): Codebooks = {
    val spark = corpus.sparkSession
    // the loop runs on the PERSISTED RDD, not the Dataset (the
    // QualityClassifier.train pattern, r18): each iteration is then a
    // plain scheduler job over cached partitions instead of a fresh
    // Catalyst/AQE plan + codegen compile PLUS a groupByKey exchange —
    // the r19 stage audit showed iters×2 sequential micro-stages whose
    // wall was all planning/shuffle floor (partials are m·ksub rows
    // per PARTITION; the driver folds them sorted by partition id, a
    // FIXED summation order where the former reduceGroups merged in
    // shuffle-arrival order). MEMORY_AND_DISK: spills rather than
    // OOMs at corpus scale.
    val cached = corpus.rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val seed = cached.filter(_.vec_id < ksub).collect().sortBy(_.vec_id).map(_.v)
    val dim = seed.head.length
    val dsub = dim / m
    var books: Array[Array[Array[Double]]] =
      Array.tabulate(m)(j => seed.map(sub(_, j, dsub)))
    for (_ <- 0 until iters) {
      val bc = spark.sparkContext.broadcast(Codebooks(m, dsub, books))
      val partials = cached.mapPartitions { rows =>
        val cb = bc.value
        val k = cb.centroids(0).length
        val sums = Array.ofDim[Double](cb.m, k, cb.dsub)
        val counts = Array.ofDim[Long](cb.m, k)
        rows.foreach { r =>
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
        Iterator.single(
          (org.apache.spark.TaskContext.getPartitionId(), sums, counts))
      }.collect()
      val next = books.map(_.map(_.clone))
      // fixed summation order: partition id ascending per (j, c)
      val sorted = partials.sortBy(_._1)
      val totS = Array.ofDim[Double](m, ksub, dsub)
      val totN = Array.ofDim[Long](m, ksub)
      sorted.foreach { case (_, sums, counts) =>
        var j = 0
        while (j < m) {
          var c = 0
          while (c < ksub) {
            totN(j)(c) += counts(j)(c)
            val acc = totS(j)(c); val s = sums(j)(c)
            var i = 0
            while (i < dsub) { acc(i) += s(i); i += 1 }
            c += 1
          }
          j += 1
        }
      }
      for (j <- 0 until m; c <- 0 until ksub if totN(j)(c) > 0)
        next(j)(c) = totS(j)(c).map(_ / totN(j)(c))
      books = next
      bc.destroy()
    }
    cached.unpersist(blocking = false)
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

  /** This run's codebook side-dump path for a corpus dir basename; the
    * `ann_pq` oracle names it for the corpus dir it is given. */
  def booksDumpPath(base: String): String =
    graft.core.SideDump.path("pq_books", base)

  def topKPq(spark: SparkSession, sfDir: String, k: Int = 5, numQueries: Int = 10,
      m: Int = 8, ksub: Int = 16, rerank: Int = 50): DataFrame = {
    import spark.implicits._
    val corpus = Similarity.loadVectors(spark, sfDir)
      .map(v => Vec(v.vec_id, l2normalize(v.v), 1.0))
    val queries = corpus.filter(col("vec_id") < numQueries).collect().sortBy(_.vec_id)
    topKPqCore(corpus, queries, k, m, ksub, rerank,
      cb => dumpBooks(spark, cb, "pq_books", sfDir))
  }

  /** Dump a codebook as (subspace, code, v) rows — the only artifact
    * a PQ oracle takes on faith (the trainer); encode, the ADC table,
    * the global candidate cut and the exact re-rank are re-derived in
    * SQL from raw embeddings + this dump. */
  private[sim] def dumpBooks(spark: SparkSession, cb: Codebooks,
      kind: String, sfDir: String): Unit = {
    import spark.implicits._
    graft.core.SideDump.write(
      (for {
        j <- cb.centroids.indices
        c <- cb.centroids(j).indices
      } yield (j, c, cb.centroids(j)(c).toSeq)).toDF("subspace", "code", "v"),
      kind, new java.io.File(sfDir).getName)
  }

  /** Train + encode + ADC-scan + exact-rerank over an arbitrary
    * (already L2-normalized) corpus and query set — shared by the
    * plain gate path above and the OPQ-rotated path ([[Opq]]), which
    * differ only in the space the codes live in. */
  private[sim] def topKPqCore(corpus: org.apache.spark.sql.Dataset[Vec],
      queries: Array[Vec], k: Int, m: Int, ksub: Int,
      rerank: Int, onTrained: Codebooks => Unit = _ => ()): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val cb = trainDistributed(corpus, m, ksub)
    onTrained(cb)
    val bcCb = spark.sparkContext.broadcast(cb)
    val bcQ = spark.sparkContext.broadcast(queries)
    val bcTables = spark.sparkContext.broadcast(queries.map(q => adcTable(cb, q.v)))
    // one pass: encode + ADC-score into per-query bounded heaps
    val candidates = corpus.mapPartitions { rows =>
      val cbv = bcCb.value; val qs = bcQ.value; val tables = bcTables.value
      val heaps = Array.fill(qs.length)(
        scala.collection.mutable.PriorityQueue.empty[(Double, Long)]) // max-heap: worst (largest dist) on top
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
            if (h.size < rerank) h.enqueue((d, r.vec_id))
            else if (d < h.head._1 || (d == h.head._1 && r.vec_id < h.head._2)) {
              h.dequeue(); h.enqueue((d, r.vec_id))
            }
          }
          qi += 1
        }
      }
      heaps.iterator.zipWithIndex.flatMap { case (h, qi) =>
        h.iterator.map { case (d, id) => (qs(qi).vec_id, id, d) }
      }
    }.toDF("query_id", "neighbor_id", "adc")
      // GLOBAL candidate cut: per-partition heaps bound the emission
      // (≤ |Q|·rerank rows each), then one tiny rank over their union
      // fixes the candidate set at the global ADC top-`rerank` per
      // query, (adc, id)-ordered — so the OUTPUT is a pure function of
      // the corpus, independent of physical partitioning (the
      // per-partition-union semantics this replaces changed with the
      // partition count, which no SQL oracle could mirror honestly).
      .withColumn("_r", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("query_id"))
          .orderBy(col("adc"), col("neighbor_id"))))
      .filter(col("_r") <= rerank)
      .drop("_r")
    // exact re-rank of the candidate union (≤ |Q|·rerank rows)
    val byId = corpus.alias("c")
    val rescored = candidates
      .join(byId, col("neighbor_id") === col("c.vec_id"))
      .as[(Long, Long, Double, Long, Array[Double], Double)]
      .map { case (q, n, _, _, v, _) =>
        val qv = bcQ.value(bcQ.value.indexWhere(_.vec_id == q))
        Hit(q, n, cosine(qv, Vec(n, v, 1.0)))
      }
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    rescored.toDF()
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"))
  }
}
