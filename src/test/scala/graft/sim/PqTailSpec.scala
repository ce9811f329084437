package graft.sim

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.gates.AnnGates
import graft.sim.Similarity.{Hit, Vec, cosine}

/** The PQ tail (one heap pass + tree merge + driver rank) against a
  * reference copy of the SQL formulation it replaced: per-partition
  * heaps → a global (adc, id) window cut → a join back to the corpus
  * for the exact cosine → a (sim desc, id) window rank. With the same
  * codebooks (and, for OPQ, the same rotation) the two must return
  * the same rows — on the gate corpus, and on a corpus of duplicated
  * vectors whose ADC and cosine ties fall exactly at the `rerank` and
  * `k` cuts. The codebooks and rotation are read back from the
  * engine's own side dumps, as the DuckDB oracles do. */
class PqTailSpec extends SparkSpec {

  /** The replaced tail, verbatim in its semantics. */
  private def referenceTail(corpus: Dataset[Vec], queries: Array[Vec],
      cb: Pq.Codebooks, k: Int, rerank: Int): DataFrame = {
    import spark.implicits._
    val bcCb = spark.sparkContext.broadcast(cb)
    val bcQ = spark.sparkContext.broadcast(queries)
    val bcTables = spark.sparkContext.broadcast(queries.map(q => Pq.adcTable(cb, q.v)))
    val candidates = corpus.mapPartitions { rows =>
      val cbv = bcCb.value; val qs = bcQ.value; val tables = bcTables.value
      val heaps = Array.fill(qs.length)(
        scala.collection.mutable.PriorityQueue.empty[(Double, Long)])
      rows.foreach { r =>
        val code = Pq.encode(cbv, r.v)
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
      .withColumn("_r", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("adc"), col("neighbor_id"))))
      .filter(col("_r") <= rerank)
      .drop("_r")
    val rescored = candidates
      .join(corpus.alias("c"), col("neighbor_id") === col("c.vec_id"))
      .as[(Long, Long, Double, Long, Array[Double], Double)]
      .map { case (q, n, _, _, v, _) =>
        val qv = bcQ.value(bcQ.value.indexWhere(_.vec_id == q))
        Hit(q, n, cosine(qv, Vec(n, v, 1.0)))
      }
    rescored.toDF()
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("neighbor_id"))))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"))
  }

  private def rowsOf(df: DataFrame): Seq[(Long, Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted

  private def booksFrom(path: String, dim: Int): Pq.Codebooks = {
    val rows = spark.read.parquet(path).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
    val m = rows.map(_._1).max + 1
    val ksub = rows.map(_._2).max + 1
    val books = Array.ofDim[Array[Double]](m, ksub)
    rows.foreach { case (j, c, v) => books(j)(c) = v }
    Pq.Codebooks(m, dim / m, books)
  }

  private def normalized(dir: String): Dataset[Vec] = {
    import spark.implicits._
    Similarity.loadVectors(spark, dir).map(v => Vec(v.vec_id, Pq.l2normalize(v.v), 1.0))
  }

  private def queriesOf(corpus: Dataset[Vec], n: Int): Array[Vec] =
    corpus.filter(_.vec_id < n).collect().sortBy(_.vec_id)

  private def checkPq(dir: String, k: Int, rerank: Int): Unit = {
    val got = rowsOf(Pq.topKPq(spark, dir, k = k, rerank = rerank,
      booksDump = AnnGates.PqBooks.sink(dir)))
    val corpus = normalized(dir)
    val queries = queriesOf(corpus, 10)
    val cb = booksFrom(AnnGates.PqBooks.glob(dir), queries.head.v.length)
    val want = rowsOf(referenceTail(corpus, queries, cb, k, rerank))
    assert(got.nonEmpty)
    assert(got === want)
  }

  private def checkOpq(dir: String, k: Int, rerank: Int): Unit = {
    import spark.implicits._
    val got = rowsOf(Opq.topKPqOpq(spark, dir, k = k, rerank = rerank,
      rotDump = AnnGates.OpqRot.sink(dir), booksDump = AnnGates.OpqBooks.sink(dir)))
    val rot = spark.read.parquet(AnnGates.OpqRot.glob(dir)).collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray)).sortBy(_._1).map(_._2)
    def rotate(x: Array[Double]): Array[Double] = rot.map { b =>
      var s = 0.0
      var i = 0
      while (i < x.length) { s += x(i) * b(i); i += 1 }
      s
    }
    val corpus = normalized(dir).map(v => Vec(v.vec_id, rotate(v.v), v.nrm))
    val queries = queriesOf(corpus, 10)
    val cb = booksFrom(AnnGates.OpqBooks.glob(dir), rot.length)
    val want = rowsOf(referenceTail(corpus, queries, cb, k, rerank))
    assert(got.nonEmpty)
    assert(got === want)
  }

  test("gate corpus: the PQ and OPQ tails equal the window/join/window reference") {
    checkPq(sf(), k = 5, rerank = 50)
    checkOpq(sf(), k = 5, rerank = 50)
  }

  test("duplicated vectors: ties at the rerank and k cuts resolve as the reference does") {
    import spark.implicits._
    // 40 distinct unit directions, each stored 7 times under different
    // ids: every copy shares its code (ADC ties) and its cosine to any
    // query (cosine ties); 7 does not divide 50, so the rerank cut
    // splits a tied group, and a query's 6 copies tie at cosine 1
    // across the k = 5 cut
    val dim = 16
    val distinct = 40
    val copies = 7
    val bases = Array.tabulate(distinct) { b =>
      Array.tabulate(dim)(d => (((b + 1L) * 2654435761L + d * 40503L) % 1009L).toFloat / 1009f - 0.5f)
    }
    val rows = (0 until distinct * copies).map(i => (i.toLong, bases(i % distinct)))
    val dir = java.nio.file.Files.createTempDirectory("pq_dups").toFile
    try {
      rows.toDF("vec_id", "embedding").repartition(4)
        .write.parquet(new java.io.File(dir, "embeddings.parquet").getPath)
      val path = dir.getPath
      val k = 5
      val rerank = 50
      // the fixture really ties at both cuts: a query's copies tie at
      // the k cut, and some query's ADC order ties across rerank
      val corpus = normalized(path)
      val queries = queriesOf(corpus, 10)
      Pq.topKPq(spark, path, k = k, rerank = rerank,
        booksDump = AnnGates.PqBooks.sink(path)).collect()
      val cb = booksFrom(AnnGates.PqBooks.glob(path), dim)
      val all = corpus.collect()
      val adcTies = queries.count { q =>
        val t = Pq.adcTable(cb, q.v)
        val adcs = all.filter(_.vec_id != q.vec_id).map { r =>
          val code = Pq.encode(cb, r.v)
          code.indices.map(j => t(j)(code(j) & 0xff)).foldLeft(0.0)(_ + _)
        }.sorted
        adcs(rerank - 1) == adcs(rerank)
      }
      assert(adcTies > 0, "no query ties on ADC at the rerank cut")
      val simTies = queries.count { q =>
        val sims = all.filter(_.vec_id != q.vec_id).map(cosine(q, _)).sorted.reverse
        sims(k - 1) == sims(k)
      }
      assert(simTies === queries.length, "a query's copies must tie across the k cut")
      checkPq(path, k, rerank)
      checkOpq(path, k, rerank)
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(dir)
    }
  }
}
