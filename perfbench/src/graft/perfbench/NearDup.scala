package graft.perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.{Dedup, EditDedup}

/** The near-duplicate family: [[Dedup.minhashLsh]],
  * [[Dedup.simhashPairsWide]] and [[EditDedup.editPairs]], their pair
  * union into [[Dedup.connectedComponents]].
  *
  * Input: short documents over a Zipfian vocabulary with planted
  * near-duplicate families whose sizes fall off as 1/rank from
  * [[BigFamily]] copies. Each copy derives from its
  * family root by the `ScaleFixture` replica recipes: a rotation, word
  * substitutions, or a concatenation with a few more words.
  *
  * Regime: [[Docs]] documents is below `Dedup.WideBalancedAbove`
  * (100k), so simhash runs its narrow plan; the pair count is far below
  * `driverMaxEdges` (4M), so components run the driver union-find. */
object NearDup extends Workload {
  val name = "near_dup"
  val spans = Seq("dedup.minhash", "dedup.simhash", "dedup.edit", "dedup.components")

  val Docs = 120
  val BigFamily = 16
  /** Share of documents inside a planted family. */
  val FamilyShare = 0.3

  def generate(spark: SparkSession, dir: File, seed: Long, scale: Double): Prepared = {
    val n = math.max(100, (Docs * scale).round.toInt)
    val r = Gen.rng(seed, 0x22)
    val vocab = Gen.vocabulary(r, 5000)
    val zipf = new Gen.Zipf(vocab.length, 1.0)
    val sizes = {
      val b = mutable.ArrayBuffer.empty[Int]
      while (b.sum < n * FamilyShare) b += math.max(2, BigFamily / (b.size + 1))
      b.toSeq
    }
    // doc ids are a seeded permutation, so families spread over files
    val ids = {
      val a = Array.tabulate(n)(_.toLong)
      for (i <- n - 1 to 1 by -1) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
      a
    }
    val texts = new Array[Array[String]](n)
    val planted = mutable.ArrayBuffer.empty[(Long, Long)]
    var next = 0
    for (size <- sizes) {
      val root = next
      texts(root) = Gen.words(r, vocab, zipf, 40 + r.nextInt(51))
      for (c <- 1 until size) {
        val w = texts(root)
        texts(root + c) = c % 3 match {
          case 0 => // rotation
            val d = 5 + r.nextInt(w.length - 9)
            w.drop(d) ++ w.take(d)
          case 1 => // substitutions, one per 30 words
            val v = w.clone()
            for (_ <- 0 until math.max(1, w.length / 30)) {
              val at = r.nextInt(v.length)
              var x = v(at)
              while (x == v(at)) x = vocab(zipf.draw(r))
              v(at) = x
            }
            v
          case _ => // concatenation with 2–4 more words
            w ++ Gen.words(r, vocab, zipf, 2 + r.nextInt(3))
        }
        planted += ((ids(root), ids(root + c)))
      }
      next += size
    }
    for (i <- next until n) texts(i) = Gen.words(r, vocab, zipf, 40 + r.nextInt(51))
    val rows = (0 until n).map(i => (ids(i), texts(i).mkString(" ")))
    Gen.writeDocuments(spark, dir, rows)
    val inDigest = new Gen.Digest
    rows.sortBy(_._1).foreach { case (id, t) => inDigest.add(id).add(t) }
    val sfDir = dir.getPath
    val docsPath = new File(dir, "documents.parquet").getPath

    new Prepared {
      type Out = Array[(Long, Long)]
      val props = Seq(
        "bytes" -> rows.map(_._2.length.toLong).sum, "docs" -> n, "families" -> sizes.size,
        "planted_pairs" -> planted.size,
        "duplicate_share" -> planted.size.toDouble / n,
        "family_size" -> Seq("max" -> sizes.max, "median" -> Gen.median(sizes),
          "skew" -> sizes.max / Gen.median(sizes)),
        "words_per_doc" -> Seq("min" -> 40, "max" -> 90, "zipf_s" -> 1.0, "vocab" -> vocab.length),
        "regime" -> "simhash narrow (docs < 100000), components on the driver (pairs < 4000000)")
      val inputDigest = inDigest.hex

      def run(span: Span): Out = {
        def boundary(df: DataFrame) = if (span.traced) df.localCheckpoint() else df
        val mh = span("dedup.minhash") {
          boundary(Dedup.minhashLsh(spark, sfDir).select(col("i"), col("j")))
        }
        val sh = span("dedup.simhash") {
          boundary(Dedup.simhashPairsWide(spark, sfDir).select(col("i"), col("j")))
        }
        val ed = span("dedup.edit") {
          boundary(EditDedup.editPairs(spark, sfDir).select(col("doc_a").as("i"), col("doc_b").as("j")))
        }
        span("dedup.components") {
          Dedup.connectedComponents(spark.read.parquet(docsPath), "doc_id", mh.union(sh).union(ed))
            .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
        }
      }

      def problems(o: Out): Seq[String] = {
        val p = mutable.ArrayBuffer.empty[String]
        if (o.length != n || o.map(_._1).distinct.length != n) p += s"${o.length} component rows for $n docs"
        val cluster = o.toMap
        val missed = planted.count { case (a, b) => cluster.get(a).isEmpty || cluster.get(a) != cluster.get(b) }
        if (missed > 0) p += s"$missed of ${planted.size} planted near-dup pairs not recovered"
        p.toSeq
      }

      def digest(o: Out): String = {
        val d = new Gen.Digest
        o.foreach { case (a, b) => d.add(a).add(b) }
        d.hex
      }

      def perturbations(o: Out): Seq[(String, Out)] = {
        val v = planted.head._2
        Seq("a planted copy split from its family" ->
          o.map { case (id, c) => if (id == v) (id, -1L) else (id, c) })
      }
    }
  }
}
