package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Seeded input generation shared by the workloads. The seed picks the
  * content (which words, which offsets); the sizes and the shape of every
  * distribution are fixed by the workload, so two seeds cost the same
  * work up to sampling noise. */
object Gen {

  /** A generator stream for one (seed, purpose) pair. */
  def rng(seed: Long, salt: Long): SplittableRandom =
    new SplittableRandom(graft.core.Mix.splitmix64(seed * 0x9e3779b97f4a7c15L ^ salt))

  /** Zipf(s) ranks over 0 until n, drawn by inverse CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
      val c = w.scanLeft(0.0)(_ + _).tail
      c.map(_ / c.last)
    }
    def draw(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  private val Ascii = ('a' to 'z').toIndexedSeq
  /** Letters outside ASCII (Latin, Greek, Cyrillic): `\p{L}` all. */
  private val NonAscii = "éüßøñçåλπжд".toIndexedSeq

  /** Ranks whose word is the same for every seed. */
  val FixedHead = 200

  /** `n` distinct lower-case words, in Zipf rank order. The length (3–9)
    * of the word at each rank, and whether it carries one non-ASCII
    * letter (a `nonAsciiShare` of ranks), are fixed by the rank, so every
    * seed yields the same byte counts. The [[FixedHead]] most frequent
    * words are the same for every seed, so the hot keys (and the
    * partitions they hash to) do too; the seed picks the rest. */
  def vocabulary(r: SplittableRandom, n: Int, nonAsciiShare: Double = 0.0): Array[String] = {
    val seen = mutable.HashSet.empty[String]
    val head = rng(0L, 0x5eedL)
    Array.tabulate(n) { i =>
      val g = if (i < FixedHead) head else r
      val h = graft.core.Mix.splitmix64(i.toLong)
      val len = 3 + java.lang.Long.remainderUnsigned(h, 7).toInt
      val nonAscii = java.lang.Long.remainderUnsigned(h >>> 8, 1000) < nonAsciiShare * 1000
      var w = ""
      while (w.isEmpty || seen(w)) {
        val cs = Array.fill(len)(Ascii(g.nextInt(Ascii.length)))
        if (nonAscii) cs(g.nextInt(len)) = NonAscii(g.nextInt(NonAscii.length))
        w = new String(cs)
      }
      seen += w
      w
    }
  }

  /** `n` words drawn Zipf-wise from `vocab`. */
  def words(r: SplittableRandom, vocab: Array[String], zipf: Zipf, n: Int): Array[String] =
    Array.fill(n)(vocab(zipf.draw(r)))

  /** Writes (doc_id, text) rows as `dir/documents.parquet`, the layout
    * every `sfDir`-taking engine function reads. */
  def writeDocuments(spark: SparkSession, dir: File, rows: Seq[(Long, String)]): Unit = {
    import spark.implicits._
    spark.sparkContext.parallelize(rows.sortBy(_._1), Files).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(new File(dir, "documents.parquet").getPath)
  }

  /** Files per generated parquet table. */
  val Files = 8

  /** SHA-256 over a sequence of fields, for input and output digests. */
  final class Digest {
    private val md = java.security.MessageDigest.getInstance("SHA-256")
    def add(s: String): this.type = { md.update(s.getBytes(UTF_8)); md.update(0: Byte); this }
    def add(x: Long): this.type = add(x.toString)
    def add(b: Array[Byte]): this.type = { md.update(b); md.update(0: Byte); this }
    def hex: String = md.digest().map(b => f"${b & 0xff}%02x").mkString.take(16)
  }

  def median(xs: Seq[Int]): Double = Stats.median(xs.map(_.toDouble))

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteTree)
    f.delete()
  }

}
