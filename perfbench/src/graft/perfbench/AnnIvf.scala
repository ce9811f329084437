package graft.perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.sim.{Kmeans, Opq, Similarity}
import graft.sim.Similarity.Vec

/** The similarity layer: [[Kmeans.trainParallel]] (k-means‖ seeding, then
  * Lloyd rounds), [[Similarity.topKIvf]] over the trained centroids, and
  * [[Opq.topKPqOpq]]. Iterative and driver-bound: many short jobs, so
  * this is where the sequencing floor shows.
  *
  * Input: [[Vectors]] vectors of dimension [[Dim]] from a mixture of
  * [[Components]] Gaussians with 1/rank^0.5 weights, as an embeddings
  * parquet. The check is recall@[[K]] over the first [[Queries]]
  * vectors against their exact top-k, computed once at generation on
  * the driver ([[exactTopK]]; the self-check holds it equal to
  * [[Similarity.topKExact]]). */
object AnnIvf extends Workload {
  val name = "ann_ivf"
  val spans = Seq("sim.train", "sim.probe", "sim.pq_opq")

  val Vectors = 2000
  val Dim = 32
  val Components = 16
  val Cells = 16
  val Probes = 4
  val Iters = 2
  /** k-means|| seeding rounds. */
  val Rounds = 2
  val K = 10
  val Queries = 50
  /** Recall floors, set below every seed seen while sizing the workload. */
  val IvfFloor = 0.8
  val OpqFloor = 0.6

  final case class AnnOut(ivf: Array[(Long, Long, Long)], opq: Array[(Long, Long, Long)])

  /** `n` vectors of the mixture, with each one's component. */
  private def mixture(seed: Long, n: Int): (IndexedSeq[(Long, Array[Float])], Array[Int]) = {
    val r = Gen.rng(seed, 0x44)
    def gauss() = {
      var u = r.nextDouble()
      while (u == 0.0) u = r.nextDouble()
      math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
    }
    val centers = Array.fill(Components) {
      val c = Array.fill(Dim)(gauss())
      val norm = math.sqrt(c.map(x => x * x).sum)
      c.map(_ / norm)
    }
    val weights = (0 until Components).map(i => 1.0 / math.sqrt(i + 1))
    val cdf = weights.scanLeft(0.0)(_ + _).tail.map(_ / weights.sum)
    val sigma = 0.6 / math.sqrt(Dim)
    val comp = Array.fill(n) { val u = r.nextDouble(); math.min(cdf.indexWhere(u <= _) max 0, Components - 1) }
    val rows = (0 until n).map { i =>
      (i.toLong, Array.tabulate(Dim)(j => (centers(comp(i))(j) + sigma * gauss()).toFloat))
    }
    (rows, comp)
  }

  private def write(spark: SparkSession, dir: File, rows: Seq[(Long, Array[Float])]): Unit = {
    import spark.implicits._
    rows.toDF("vec_id", "embedding").repartition(Gen.Files)
      .write.mode("overwrite").parquet(new File(dir, "embeddings.parquet").getPath)
  }

  /** Exact cosine top-k of the vectors with id < `queries` over the
    * other vectors of `rows`, computed on the driver: the neighbour sets
    * of [[Similarity.topKExact]], without a Spark job. */
  def exactTopK(rows: IndexedSeq[(Long, Array[Float])], k: Int, queries: Int): Map[Long, Set[Long]] = {
    val norm = rows.map { case (_, v) => math.sqrt(v.map(x => x.toDouble * x).sum) }
    rows.indices.filter(rows(_)._1 < queries).map { qi =>
      val q = rows(qi)._2
      val byScore = rows.indices.filter(_ != qi).map { j =>
        val v = rows(j)._2
        var dot = 0.0
        for (d <- q.indices) dot += q(d).toDouble * v(d)
        (-dot / (norm(qi) * norm(j)), rows(j)._1)
      }.sorted
      rows(qi)._1 -> byScore.take(k).map(_._2).toSet
    }.toMap
  }

  /** Self-check: [[exactTopK]] agrees with [[Similarity.topKExact]]. */
  def oracleAgrees(spark: SparkSession, dir: File): Boolean = {
    val (rows, _) = mixture(1L, 1000)
    write(spark, dir, rows)
    val engine = Similarity.topKExact(spark, dir.getPath, K, Queries).collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    engine == exactTopK(rows, K, Queries)
  }

  def generate(spark: SparkSession, dir: File, seed: Long, scale: Double): Prepared = {
    val n = math.max(1000, (Vectors * scale).round.toInt)
    val (rows, comp) = mixture(seed, n)
    write(spark, dir, rows)
    val inDigest = new Gen.Digest
    rows.foreach { case (i, v) => inDigest.add(i); v.foreach(x => inDigest.add(java.lang.Float.floatToIntBits(x).toLong)) }
    val sfDir = dir.getPath
    val exact = exactTopK(rows, K, Queries)
    val sizes = comp.groupBy(identity).values.map(_.length).toSeq

    def recall(hits: Array[(Long, Long, Long)]): Double =
      hits.count { case (q, nb, _) => exact.getOrElse(q, Set.empty[Long]).contains(nb) }.toDouble /
        (Queries * K)

    new Prepared {
      type Out = AnnOut
      val props = Seq(
        "bytes" -> n.toLong * Dim * 4, "vectors" -> n, "dim" -> Dim, "components" -> Components,
        "component_size" -> Seq("max" -> sizes.max, "median" -> Gen.median(sizes),
          "skew" -> sizes.max / Gen.median(sizes)),
        "noise_norm" -> 0.6, "cells" -> Cells, "nprobe" -> Probes, "iters" -> Iters, "rounds" -> Rounds,
        "k" -> K, "queries" -> Queries, "recall_floor" -> Seq("ivf" -> IvfFloor, "opq" -> OpqFloor))
      val inputDigest = inDigest.hex

      def run(span: Span): Out = {
        def rows(df: org.apache.spark.sql.DataFrame) =
          df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
        val cents = span("sim.train") {
          Kmeans.trainParallel(Similarity.loadVectors(spark, sfDir), Cells, Iters, Rounds)
        }
        val ivf = span("sim.probe") {
          rows(Similarity.topKIvf(spark, sfDir, K, Queries, Cells, Probes,
            Some(cents.map(c => Vec(-1L - c.cell, c.v, 1.0)))))
        }
        val opq = span("sim.pq_opq") { rows(Opq.topKPqOpq(spark, sfDir, K, Queries)) }
        AnnOut(ivf, opq)
      }

      def problems(o: Out): Seq[String] = {
        val p = mutable.ArrayBuffer.empty[String]
        for ((label, hits, floor) <- Seq(("ivf", o.ivf, IvfFloor), ("opq", o.opq, OpqFloor))) {
          val perQuery = hits.groupBy(_._1)
          if (perQuery.size != Queries || perQuery.values.exists(h =>
              h.map(_._2).distinct.length != K || h.map(_._3).sorted.toSeq != (1L to K)))
            p += s"$label: not $K distinct ranked neighbours for each of $Queries queries"
          val rc = recall(hits)
          if (rc < floor) p += f"$label: recall@$K $rc%.3f below the floor $floor"
        }
        p.toSeq
      }

      def digest(o: Out): String = {
        val d = new Gen.Digest
        (o.ivf ++ o.opq).foreach { case (a, b, c) => d.add(a).add(b).add(c) }
        d.hex
      }

      def perturbations(o: Out): Seq[(String, Out)] =
        Seq("every IVF neighbour replaced" -> o.copy(ivf = o.ivf.map { case (q, nb, rk) => (q, nb + n, rk) }))
    }
  }
}
