package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.apps.{MrJob, ReferenceApps}
import graft.queries.MrQueries

/** The reference's own jobs, both ways: the generic plugin path
  * (`MrJob(map, reduce).run` → `MapReduce.run` → `writeTextSink`, ten
  * key-sorted committed files, no combiner) and the declarative
  * `MrQueries.wordCount` / `invertedIndex` over the same texts as a
  * documents parquet.
  *
  * Input: [[NFiles]] whole text files whose sizes fall off as
  * 1/rank^0.8 (the largest file sets the map stage's time), over a
  * Zipfian vocabulary in which a share of the words carry a non-ASCII
  * letter. The check compares both paths with a plain-Scala count. */
object MrApps extends Workload {
  val name = "mr_apps"
  val spans = Seq("apps.wc", "apps.indexer", "queries.wc", "queries.indexer")

  val NFiles = 32
  val Words = 80000
  val NonAsciiShare = 0.15
  private val Split = "[^\\p{L}]+"
  private val FileName = """f(\d{4})\.txt$""".r.unanchored

  final case class MrOut(appWc: Map[String, Long], appIdx: Map[String, Seq[Int]],
      queryWc: Map[String, Long], queryIdx: Map[String, Seq[Int]], sink: Seq[String])

  def generate(spark: SparkSession, dir: File, seed: Long, scale: Double): Prepared = {
    val total = math.max(2000, (Words * scale).round.toInt)
    val r = Gen.rng(seed, 0x33)
    val vocab = Gen.vocabulary(r, 20000, NonAsciiShare)
    val zipf = new Gen.Zipf(vocab.length, 1.0)
    val weights = (0 until NFiles).map(i => 1.0 / math.pow(i + 1, 0.8))
    val sizes = weights.map(w => math.max(1, (total * w / weights.sum).round.toInt))
    val seps = Array(" ", " ", " ", " ", " ", ", ", "; ", " — ")
    val texts = sizes.map { nw =>
      val b = new StringBuilder
      var i = 0
      while (i < nw) {
        b ++= vocab(zipf.draw(r))
        i += 1
        b ++= (if (i % 12 == 0) ".\n" else seps(r.nextInt(seps.length)))
      }
      b.toString
    }
    val inDir = new File(dir, "files")
    inDir.mkdirs()
    texts.zipWithIndex.foreach { case (t, i) =>
      Files.write(new File(inDir, f"f$i%04d.txt").toPath, t.getBytes(UTF_8))
    }
    Gen.writeDocuments(spark, dir, texts.zipWithIndex.map { case (t, i) => (i.toLong, t) })
    val inDigest = new Gen.Digest
    texts.foreach(inDigest.add)

    // the plain-Scala answer both paths must match
    val wc = mutable.HashMap.empty[String, Long]
    val idx = mutable.HashMap.empty[String, mutable.TreeSet[Int]]
    texts.zipWithIndex.foreach { case (t, i) =>
      t.split(Split).iterator.filter(_.nonEmpty).foreach { w =>
        wc(w) = wc.getOrElse(w, 0L) + 1
        idx.getOrElseUpdate(w, mutable.TreeSet.empty) += i
      }
    }
    val wantWc = wc.toMap
    val wantIdx = idx.map { case (w, s) => w -> s.toSeq }.toMap
    val glob = new File(inDir, "*.txt").getPath
    val passDir = new File(dir, "pass")
    val bytes = texts.map(_.getBytes(UTF_8).length.toLong)

    new Prepared {
      type Out = MrOut
      val props = Seq(
        "bytes" -> bytes.sum, "files" -> NFiles, "words" -> sizes.sum,
        "distinct_words" -> wantWc.size,
        "non_ascii_word_share" -> wantWc.keys.count(_.exists(_ > 127)).toDouble / wantWc.size,
        "file_bytes" -> Seq("max" -> bytes.max, "median" -> Stats.median(bytes.map(_.toDouble)),
          "skew" -> bytes.max / Stats.median(bytes.map(_.toDouble))),
        "zipf_s" -> 1.0, "n_reduce" -> 10)
      val inputDigest = inDigest.hex

      def run(span: Span): Out = {
        val wcDir = new File(passDir, "wc")
        val idxDir = new File(passDir, "idx")
        span("apps.wc") {
          MrJob(ReferenceApps.wcMap, ReferenceApps.wcReduce).run(spark, glob, wcDir.getPath)
        }
        span("apps.indexer") {
          MrJob(ReferenceApps.indexerMap, ReferenceApps.indexerReduce).run(spark, glob, idxDir.getPath)
        }
        val qWc = span("queries.wc") { MrQueries.wordCount(spark, dir.getPath).collect() }
        val qIdx = span("queries.indexer") { MrQueries.invertedIndex(spark, dir.getPath).collect() }
        val (wcLines, wcSink) = readSink(wcDir)
        val (idxLines, idxSink) = readSink(idxDir)
        MrOut(
          appWc = wcLines.map { l => val Array(w, c) = l.split(" ", 2); w -> c.toLong }.toMap,
          appIdx = idxLines.map { l =>
            val Array(w, _, docs) = l.split(" ", 3)
            w -> docs.split(",").toSeq.map { case FileName(i) => i.toInt }.sorted
          }.toMap,
          queryWc = qWc.map(r => r.getString(0) -> r.getLong(1)).toMap,
          queryIdx = qIdx.map(r => r.getString(0) -> r.getString(2).split(",").toSeq.map(_.toInt).sorted).toMap,
          sink = wcSink ++ idxSink)
      }

      def problems(o: Out): Seq[String] = {
        val p = mutable.ArrayBuffer.empty[String]
        if (o.appWc != wantWc) p += "generic wc differs from the plain-Scala count"
        if (o.queryWc != wantWc) p += "declarative wc differs from the plain-Scala count"
        if (o.appIdx != wantIdx) p += "generic indexer differs from the plain-Scala index"
        if (o.queryIdx != wantIdx) p += "declarative indexer differs from the plain-Scala index"
        p ++= o.sink
        p.toSeq
      }

      def digest(o: Out): String = {
        val d = new Gen.Digest
        o.appWc.toSeq.sortBy(_._1).foreach { case (w, c) => d.add(w).add(c) }
        o.appIdx.toSeq.sortBy(_._1).foreach { case (w, ds) => d.add(w).add(ds.mkString(",")) }
        o.queryWc.toSeq.sortBy(_._1).foreach { case (w, c) => d.add(w).add(c) }
        o.queryIdx.toSeq.sortBy(_._1).foreach { case (w, ds) => d.add(w).add(ds.mkString(",")) }
        d.hex
      }

      def perturbations(o: Out): Seq[(String, Out)] = {
        val (w, c) = o.appWc.head
        Seq("a generic word count off by one" -> o.copy(appWc = o.appWc.updated(w, c + 1)))
      }
    }
  }

  /** The sink's lines, and what is wrong with its layout: a committed
    * job (`_SUCCESS`), at most nReduce part files, each key-sorted. */
  private def readSink(d: File): (Seq[String], Seq[String]) = {
    val parts = Option(d.listFiles()).getOrElse(Array.empty).filter(_.getName.startsWith("part-")).sortBy(_.getName)
    val files = parts.toSeq.map(f => Files.readAllLines(f.toPath, UTF_8).asScala.toSeq)
    val bad = mutable.ArrayBuffer.empty[String]
    if (!new File(d, "_SUCCESS").exists) bad += s"${d.getName}: no _SUCCESS commit marker"
    if (parts.length > 10) bad += s"${d.getName}: ${parts.length} part files for nReduce=10"
    if (files.exists { ls => val ks = ls.map(_.takeWhile(_ != ' ')); ks != ks.sorted })
      bad += s"${d.getName}: a part file is not key-sorted"
    (files.flatten, bad.toSeq)
  }
}
