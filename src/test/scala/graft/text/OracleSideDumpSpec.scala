package graft.text

import graft.SparkSpec
import graft.gates.TextGates
import org.apache.spark.sql.functions._

/** In-JVM mirrors of the side-dump DuckDB oracles for the BPE and
  * trained-classifier gates (`SparkEntry.oracleSql`): the real gate
  * runs in DuckDB driver-side, so these specs re-implement the SAME
  * re-derivation mechanism the SQL uses — the wrapped-string replace
  * chain for BPE apply, the unsigned-64 FNV + ordered margin fold for
  * the classifier — through DIFFERENT code paths than the operators
  * under test, and prove (a) the dumped artifact plus the mechanism
  * reproduces the gate output exactly, and (b) a tampered artifact is
  * DETECTED (the oracle can fail), so a hash-green gate is evidence,
  * not tautology. */
class OracleSideDumpSpec extends SparkSpec {

  private val US = "\u001f"

  /** The DuckDB oracle's BPE apply: a word as a chr(31)-wrapped symbol
    * string; one merge round = one `String.replace` (greedy
    * left-to-right, never rescanning replaced output) — independent of
    * Bpe.mergePair's index-walk implementation. */
  private def tokensViaReplace(w: String, ms: Seq[(String, String)]): Seq[String] = {
    var s = w.map(c => s"$US$c$US").mkString + s"$US</w>$US"
    ms.foreach { case (a, b) => s = s.replace(s"$US$a$US$US$b$US", s"$US$a$b$US") }
    s.split(US).filter(_.nonEmpty).toSeq
  }

  private def wordsOf(text: String): Seq[String] =
    text.toLowerCase.split("[^a-z]+").filter(_.nonEmpty).toSeq

  /** The BPE gates' merge-table dump sink for the test corpus. */
  private def merges = TextGates.BpeMerges.sink(sf())

  private def dumpedMerges(): Seq[(String, String)] =
    spark.read.parquet(TextGates.BpeMerges.glob(sf()))
      .orderBy(col("ord"))
      .collect().map(r => (r.getAs[String]("a"), r.getAs[String]("b"))).toSeq

  test("BPE ids gate: dumped merges + replace-chain apply reproduce encodeIds") {
    val got = Bpe.encodeIds(spark, sf(), mergesDump = merges) // trains AND dumps
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    val ms = dumpedMerges()
    assert(ms.nonEmpty, "merge dump must be readable")
    val vocab = (('a' to 'z').map(_.toString) :+ "</w>") ++ ms.map { case (a, b) => a + b }
    val toId = vocab.zipWithIndex.toMap
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
      .select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val mirror = docs.flatMap { case (id, text) =>
      var pos = -1
      wordsOf(text).flatMap(tokensViaReplace(_, ms)).map { t =>
        pos += 1; (id, pos, toId(t))
      }
    }.toSet
    assert(mirror == got,
      "replace-chain derivation from the dump must equal encodeIds")
  }

  test("BPE oracle can fail: a truncated merge table changes the derivation") {
    val got = Bpe.encodeIds(spark, sf(), mergesDump = merges)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    val ms = dumpedMerges()
    val tampered = ms.dropRight(1)
    val vocab = (('a' to 'z').map(_.toString) :+ "</w>") ++ tampered.map { case (a, b) => a + b }
    val toId = vocab.zipWithIndex.toMap
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
      .select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val mirror = docs.flatMap { case (id, text) =>
      var pos = -1
      wordsOf(text).flatMap(tokensViaReplace(_, tampered)).map { t =>
        pos += 1; (id, pos, toId(t))
      }
    }.toSet
    assert(mirror != got,
      "dropping the last trained merge must be detected by the oracle")
  }

  test("BPE vocab gate: dumped merges re-derive the vocab table") {
    val got = Bpe.vocabDf(spark, sf(), mergesDump = merges)
      .collect().map(r => (r.getInt(0), r.getString(1))).toSet
    val ms = dumpedMerges()
    val mirror = ((('a' to 'z').map(_.toString) :+ "</w>") ++
      ms.map { case (a, b) => a + b }).zipWithIndex.map(_.swap).toSet
    assert(mirror == got)
  }

  // ---- trained-classifier margin oracle ----

  /** The oracle's FNV-1a: unsigned arithmetic mod 2^32 (the SQL form)
    * instead of the operator's signed-Int overflow; 4096 | 2^32 makes
    * the bucket identical. */
  private def fnvBucket(t: String): Int = {
    var h = 2166136261L
    t.foreach { c => h = ((h ^ (c & 0xff)) * 16777619L) & 0xffffffffL }
    (h % 4096).toInt
  }

  /** Independent feature-token mirror (the SQL's derivation): word
    * toks, then len/stop dense tokens repeated 1 + n/8 times; the len
    * bucket via binary-string length (the SQL's strlen(bin(n)) - 1). */
  private def mirrorMargin(text: String, w: Array[Double], bias: Double): Double = {
    val toks = text.toLowerCase.split("[^a-z]+").filter(_.nonEmpty).toSeq
    val nWs = text.split("\\s+").count(_.nonEmpty)
    val stop = Set("the", "a", "of", "and", "to", "is", "in")
    val nStop = toks.count(stop)
    val lenB = if (nWs == 0) -1 else java.lang.Integer.toBinaryString(nWs).length - 1
    val stopB = if (nWs == 0) -1 else (nStop * 100 / nWs) / 5
    val rep = 1 + toks.length / 8
    val ftoks = toks ++ Seq.fill(rep)(s"__len$lenB") ++ Seq.fill(rep)(s"__stop$stopB")
    if (ftoks.isEmpty) return bias
    var s = 0.0
    ftoks.foreach(t => s += w(fnvBucket(t)))
    bias + s / ftoks.length
  }

  test("classifier gate: dumped weights + SQL-mirror margin reproduce classifyTrained") {
    val got = QualityClassifier.classifyTrained(spark, sf(),
        weightsDump = TextGates.ClfWeights.sink(sf()))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2))).toMap
    val dump = spark.read.parquet(TextGates.ClfWeights.glob(sf()))
      .collect().map(r => r.getAs[Int]("idx") -> r.getAs[Double]("w")).toMap
    val bias = dump(-1)
    val w = Array.tabulate(4096)(i => dump(i))
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
      .select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(docs.nonEmpty && got.size == docs.length)
    docs.foreach { case (id, text) =>
      val mg = mirrorMargin(text, w, bias)
      val (micro, label) = got(id)
      assert((mg * 1e6).toLong == micro && (if (mg >= 0) 1 else 0) == label,
        s"doc $id: mirror margin ${(mg * 1e6).toLong} != gate $micro")
    }
  }

  test("classifier oracle can fail: a perturbed weight is detected") {
    QualityClassifier.classifyTrained(spark, sf(),
      weightsDump = TextGates.ClfWeights.sink(sf())) // ensure dump exists
    val dump = spark.read.parquet(TextGates.ClfWeights.glob(sf()))
      .collect().map(r => r.getAs[Int]("idx") -> r.getAs[Double]("w")).toMap
    val bias = dump(-1)
    val w = Array.tabulate(4096)(i => dump(i))
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
      .select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    // bump the bucket of a token guaranteed present ('__len*' of the
    // first doc) so at least that doc's margin moves by >= ~1e-3/9
    val some = docs.head._2
    val toks = some.toLowerCase.split("[^a-z]+").filter(_.nonEmpty)
    val nWs = some.split("\\s+").count(_.nonEmpty)
    val lenB = if (nWs == 0) -1 else java.lang.Integer.toBinaryString(nWs).length - 1
    val bumped = w.clone()
    val tgt = fnvBucket(s"__len$lenB")
    bumped(tgt) = bumped(tgt) + 1e-1
    val before = mirrorMargin(some, w, bias)
    val after = mirrorMargin(some, bumped, bias)
    assert((before * 1e6).toLong != (after * 1e6).toLong,
      "perturbing a live weight must change some margin_micro")
  }
}
