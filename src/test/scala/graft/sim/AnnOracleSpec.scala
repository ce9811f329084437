package graft.sim

import graft.SparkSpec
import graft.gates.AnnGates

/** In-JVM mirrors of the IVF/k-means DuckDB oracles
  * (`SparkEntry.oracleSql`): the trained centroids are the only
  * artifact taken on faith (run-scoped side dumps; the seed-codebook
  * `ann_ivf` oracle takes nothing at all) — cell assignment, probe
  * selection, cosine scoring and the top-k rank are re-derived here
  * through independent plain-Scala pipelines (sorted lists, not the
  * operators' heaps) and proven to reproduce the gate outputs
  * exactly, with tampered dumps detected. */
class AnnOracleSpec extends SparkSpec {

  private final case class V(id: Long, v: Array[Double], nrm: Double)

  /** Embeddings read directly from parquet — independent of
    * Similarity.loadVectors' expression pipeline. */
  private def vectors(): Seq[V] =
    spark.read.parquet(s"${sf()}/embeddings.parquet").collect().map { r =>
      val v = r.getSeq[Float](r.fieldIndex("embedding")).map(_.toDouble).toArray
      var s = 0.0; var i = 0
      while (i < v.length) { s += v(i) * v(i); i += 1 }
      V(r.getAs[Long]("vec_id"), v, math.sqrt(s))
    }.toSeq.sortBy(_.id)

  private def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  /** The probe pipeline as the SQL derives it: argmax-cosine cell
    * (first-cell tie-break), nprobe probe cells per query, exact
    * cosine within probed cells, rank by (sim desc, id). Centroid
    * norms are supplied (trained codebooks are unit by contract). */
  private def mirrorIvf(corpus: Seq[V], cents: Seq[(Array[Double], Double)],
      nprobe: Int, k: Int): Set[(Long, Long, Long)] = {
    def cos(a: V, c: (Array[Double], Double)): Double = dot(a.v, c._1) / (a.nrm * c._2)
    def cellOf(r: V): Int =
      cents.zipWithIndex.map { case (c, i) => (-cos(r, c), i) }.min._2
    val cellIdx = corpus.map(r => r.id -> cellOf(r)).toMap
    val queries = corpus.filter(_.id < 10)
    queries.flatMap { q =>
      val probed = cents.zipWithIndex.map { case (c, i) => (-cos(q, c), i) }
        .sorted.take(nprobe).map(_._2).toSet
      corpus
        .filter(r => r.id != q.id && probed.contains(cellIdx(r.id)))
        .map(r => (-(dot(q.v, r.v) / (q.nrm * r.nrm)), r.id))
        .sorted.take(k).zipWithIndex
        .map { case ((_, id), rk) => (q.id, id, rk + 1L) }
    }.toSet
  }

  private def gateRows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  test("ann_ivf: the seed-codebook derivation from embeddings alone reproduces topKIvf") {
    val got = gateRows(Similarity.topKIvf(spark, sf()))
    val corpus = vectors()
    val seeds = corpus.filter(_.id < 16).map(c => (c.v, c.nrm))
    assert(mirrorIvf(corpus, seeds, nprobe = 4, k = 5) === got)
    assert(got.size === 50)
  }

  test("ann_ivf_trained: dumped centroids + the same derivation reproduce the gate") {
    val got = gateRows(Kmeans.topKIvfTrained(spark, sf(),
      centsDump = AnnGates.IvfTrainedCents.sink(sf()))) // trains AND dumps
    val cents = spark.read.parquet(
        AnnGates.IvfTrainedCents.glob(sf()))
      .collect().map(r => r.getAs[Int]("cell") -> r.getSeq[Double](1).toArray)
      .sortBy(_._1).map(c => (c._2, 1.0)) // unit-norm by contract
    assert(cents.length === 16)
    assert(mirrorIvf(vectors(), cents.toSeq, nprobe = 4, k = 5) === got)
  }

  test("ann_kmeans_cells: dumped centroids + independent assignment reproduce cellSizes") {
    val got = Kmeans.cellSizes(spark, sf(),
      centsDump = AnnGates.KmeansCellsCents.sink(sf())).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val cents = spark.read.parquet(AnnGates.KmeansCellsCents.glob(sf()))
      .collect().map(r => r.getAs[Int]("cell") -> r.getSeq[Double](1).toArray)
      .sortBy(_._1)
    // Kmeans.nearest scores dot/|r| against unit centroids — argmax
    // equals argmax cosine; first index wins ties
    val mirror = vectors()
      .map(r => cents.map(c => (-(dot(r.v, c._2) / r.nrm), c._1)).min._2)
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(mirror === got)
    assert(got.values.sum === vectors().size.toLong)
  }

  // ---- PQ pipelines ----

  private def l2(v: Array[Double]): Array[Double] = {
    var s = 0.0; var i = 0
    while (i < v.length) { s += v(i) * v(i); i += 1 }
    val n = math.sqrt(s)
    if (n == 0) v else v.map(_ / n)
  }

  private def sq(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  private def loadBooks(path: String): Array[Array[Array[Double]]] = {
    val rows = spark.read.parquet(path).collect()
      .map(r => (r.getAs[Int]("subspace"), r.getAs[Int]("code"),
        r.getSeq[Double](2).toArray))
    val m = rows.map(_._1).max + 1
    Array.tabulate(m)(j => rows.filter(_._1 == j).sortBy(_._2).map(_._3))
  }

  /** The PQ candidate/rerank pipeline as the SQL derives it: encode
    * via argmin sqDist (lowest-code ties), ADC sum in subspace order,
    * global top-`rerank` cut by (adc, id), exact-dot rerank. `pool`
    * restricts the scored ids (None = whole corpus). */
  private def mirrorPq(corpus: Seq[V], books: Array[Array[Array[Double]]],
      pool: Option[Set[Long]], rerank: Int, k: Int): Set[(Long, Long, Long)] = {
    val m = books.length
    val dsub = books(0)(0).length
    def subv(v: Array[Double], j: Int) =
      java.util.Arrays.copyOfRange(v, j * dsub, (j + 1) * dsub)
    def codeOf(v: Array[Double]): Array[Int] =
      Array.tabulate(m)(j =>
        books(j).zipWithIndex.map { case (c, i) => (sq(subv(v, j), c), i) }.min._2)
    val norm = corpus.map(r => V(r.id, l2(r.v), 1.0))
    val codes = norm.map(r => r.id -> codeOf(r.v)).toMap
    val queries = norm.filter(_.id < 10)
    queries.flatMap { q =>
      val table = Array.tabulate(m)(j => books(j).map(c => sq(subv(q.v, j), c)))
      val cand = norm
        .filter(r => r.id != q.id && pool.forall(_.contains(r.id)))
        .map { r =>
          var d = 0.0; var j = 0
          val code = codes(r.id)
          while (j < m) { d += table(j)(code(j)); j += 1 }
          (d, r.id)
        }.sorted.take(rerank)
      cand.map { case (_, id) =>
        val rv = norm.find(_.id == id).get.v
        var dot = 0.0; var i = 0
        while (i < rv.length) { dot += q.v(i) * rv(i); i += 1 }
        (-dot, id)
      }.sorted.take(k).zipWithIndex.map { case ((_, id), rk) => (q.id, id, rk + 1L) }
    }.toSet
  }

  test("ann_pq: dumped codebooks + independent encode/ADC/cut/rerank reproduce topKPq") {
    val got = gateRows(Pq.topKPq(spark, sf(), booksDump = AnnGates.PqBooks.sink(sf()))) // trains AND dumps
    val books = loadBooks(AnnGates.PqBooks.glob(sf()))
    assert(books.length === 8 && books(0).length === 16)
    assert(mirrorPq(vectors(), books, None, rerank = 50, k = 5) === got)
    assert(got.size === 50)
  }

  test("ann_ivfpq: dumped index model + probed-cell pool reproduce topKIvfPq") {
    val got = gateRows(IvfIndex.topKIvfPq(spark, sf(),
      centsDump = AnnGates.IvfpqCents.sink(sf()), booksDump = AnnGates.IvfpqBooks.sink(sf()))) // builds/loads AND dumps
    val books = loadBooks(AnnGates.IvfpqBooks.glob(sf()))
    val cents = spark.read.parquet(AnnGates.IvfpqCents.glob(sf()))
      .collect().map(r => r.getAs[Int]("cell") -> r.getSeq[Double](1).toArray)
      .sortBy(_._1)
    val norm = vectors().map(r => V(r.id, l2(r.v), 1.0))
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    def cellOf(v: Array[Double]): Int =
      cents.map { case (cell, cv) => (-dot(v, cv), cell) }.min._2
    val probed = norm.filter(_.id < 10).flatMap { q =>
      cents.map { case (cell, cv) => (-dot(q.v, cv), cell) }.sorted.take(4).map(_._2)
    }.toSet
    val pool = norm.filter(r => probed.contains(cellOf(r.v))).map(_.id).toSet
    assert(mirrorPq(vectors(), books, Some(pool), rerank = 50, k = 5) === got)
  }

  test("ann_pq_opq: dumped rotation + books reproduce topKPqOpq in the rotated space") {
    val got = gateRows(Opq.topKPqOpq(spark, sf(),
      rotDump = AnnGates.OpqRot.sink(sf()), booksDump = AnnGates.OpqBooks.sink(sf()))) // fits/rotates AND dumps
    val rot = spark.read.parquet(AnnGates.OpqRot.glob(sf()))
      .collect().map(r => r.getAs[Int]("p") -> r.getSeq[Double](1).toArray)
      .sortBy(_._1).map(_._2)
    val books = loadBooks(AnnGates.OpqBooks.glob(sf()))
    def rotate(v: Array[Double]): Array[Double] =
      rot.map { b =>
        var s = 0.0; var i = 0
        while (i < v.length) { s += v(i) * b(i); i += 1 }; s
      }
    // the mirror pipeline runs on pre-rotated normalized vectors, so
    // mirrorPq's own (idempotent) re-normalization must be a no-op —
    // rotation is orthogonal only up to the eigensolve's tolerance,
    // so hand it vectors it will keep verbatim
    val rotated = vectors().map(r => V(r.id, rotate(l2(r.v)), 1.0))
    val mirror = {
      val m = books.length
      val dsub = books(0)(0).length
      def subv(v: Array[Double], j: Int) =
        java.util.Arrays.copyOfRange(v, j * dsub, (j + 1) * dsub)
      def codeOf(v: Array[Double]) = Array.tabulate(m)(j =>
        books(j).zipWithIndex.map { case (c, i) => (sq(subv(v, j), c), i) }.min._2)
      val codes = rotated.map(r => r.id -> codeOf(r.v)).toMap
      rotated.filter(_.id < 10).flatMap { q =>
        val table = Array.tabulate(m)(j => books(j).map(c => sq(subv(q.v, j), c)))
        val cand = rotated.filter(_.id != q.id).map { r =>
          var d = 0.0; var j = 0
          val code = codes(r.id)
          while (j < m) { d += table(j)(code(j)); j += 1 }
          (d, r.id)
        }.sorted.take(50)
        cand.map { case (_, id) =>
          val rv = rotated.find(_.id == id).get.v
          var dot = 0.0; var i = 0
          while (i < rv.length) { dot += q.v(i) * rv(i); i += 1 }
          (-dot, id)
        }.sorted.take(5).zipWithIndex.map { case ((_, id), rk) => (q.id, id, rk + 1L) }
      }.toSet
    }
    assert(mirror === got)
  }

  test("ann_pca_reduced: dumped mean+basis reproduce the reduced-space search") {
    val got = gateRows(Pca.topKL2PcaReduced(spark, sf(),
      modelDump = AnnGates.PcaModel.sink(sf()))) // fits AND dumps
    val md = spark.read.parquet(AnnGates.PcaModel.glob(sf()))
      .collect().map(r => r.getAs[Int]("comp") -> r.getSeq[Double](1).toArray).toMap
    val mean = md(-1)
    val basis = (0 until 16).map(md).toArray
    def proj(v: Array[Double]): Array[Double] =
      basis.map { b =>
        var s = 0.0; var i = 0
        while (i < v.length) { s += (v(i) - mean(i)) * b(i); i += 1 }; s
      }
    val pv = vectors().map(r => r.id -> proj(r.v)).toMap
    val mirror = vectors().filter(_.id < 10).flatMap { q =>
      val qy = pv(q.id)
      pv.toSeq.filter(_._1 != q.id)
        .map { case (id, y) => (sq(qy, y), id) }
        .sorted.take(5).zipWithIndex
        .map { case ((_, id), rk) => (q.id, id, rk + 1L) }
    }.toSet
    assert(mirror === got)
    assert(got.size === 50)
  }

  test("pq oracle can fail: a destroyed codebook is detected") {
    val got = gateRows(Pq.topKPq(spark, sf(), booksDump = AnnGates.PqBooks.sink(sf())))
    val books = loadBooks(AnnGates.PqBooks.glob(sf()))
    // the exact re-rank absorbs small codebook damage by design (the
    // ADC only nominates candidates), so the decisive tamper breaks
    // the NOMINATION: an all-zero book ties every ADC distance and the
    // (adc, id) cut degenerates to the 50 lowest ids — the derivation
    // then re-ranks the wrong candidate set and must diverge
    val tampered = books.map(_.map(c => Array.fill(c.length)(0.0)))
    assert(mirrorPq(vectors(), tampered, None, rerank = 50, k = 5) !== got,
      "a zeroed codebook must change the derived candidate set")
  }

  test("ann oracle can fail: dropping a populated centroid is detected") {
    val got = Kmeans.cellSizes(spark, sf(),
      centsDump = AnnGates.KmeansCellsCents.sink(sf())).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val cents = spark.read.parquet(AnnGates.KmeansCellsCents.glob(sf()))
      .collect().map(r => r.getAs[Int]("cell") -> r.getSeq[Double](1).toArray)
      .sortBy(_._1)
    val victim = got.filter(_._2 > 0).keys.head
    val tampered = cents.filterNot(_._1 == victim)
    val mirror = vectors()
      .map(r => tampered.map(c => (-(dot(r.v, c._2) / r.nrm), c._1)).min._2)
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(mirror !== got,
      s"removing populated centroid $victim must change the derived counts")
  }
}
