package graft.dedup

import graft.{SparkSpec, TestCorpus}
import org.apache.spark.sql.functions._

class SuffixDedupSpec extends SparkSpec {

  private def spans(dir: String, minSpan: Int = 8): Set[(Long, Long, Long)] =
    SuffixDedup.maximalSpans(spark, dir, minSpan).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  // distinct ALPHABETIC tokens — the tokenizer splits on [^a-z]+, so a
  // digit suffix would collapse "s0","s1",… into one repeated token
  private def tok(tag: String, i: Int): String =
    s"$tag${('a' + i / 26).toChar}${('a' + i % 26).toChar}"
  private def toks(tag: String, n: Int): Seq[String] =
    (0 until n).map(tok(tag, _))

  test("planted 30-token span: exact maximal extents at both copies' offsets") {
    import spark.implicits._
    // a 30-token passage shared verbatim, at offset 3 in doc 1 and
    // offset 5 in doc 2; fillers are doc-unique so nothing else matches
    val shared = toks("s", 30).mkString(" ")
    def filler(tag: String, n: Int) = toks(tag, n).mkString(" ")
    val rows = Seq(
      (1L, s"${filler("ua", 3)} $shared ${filler("ub", 6)}"),
      (2L, s"${filler("va", 5)} $shared ${filler("vb", 4)}"),
      (3L, filler("w", 40)), // disjoint
      // within-doc repeat ONLY: an 8-gram twice in doc 4, nowhere else
      (4L, s"${toks("x", 8).mkString(" ")} gap ${toks("x", 8).mkString(" ")}")
    ).toDF("doc_id", "text")
    val dir = "/tmp/graft_suffix_plant"
    rows.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    assert(spans(dir) === Set((1L, 3L, 33L), (2L, 5L, 35L)),
      "extents must be exactly the planted copies, nothing else")
  }

  test("debug density check: gapped offsets fail loudly, dense pass (round-6 note)") {
    import spark.implicits._
    val dense = Seq((1L, 0L, 10L), (1L, 1L, 11L), (1L, 2L, 12L),
      (2L, 0L, 20L), (2L, 1L, 21L)).toDF("doc_id", "off", "r")
    val gapped = Seq((1L, 0L, 10L), (1L, 2L, 12L)).toDF("doc_id", "off", "r")
    val oneBased = Seq((1L, 1L, 10L), (1L, 2L, 12L)).toDF("doc_id", "off", "r")
    // duplicate offset masking a gap: min=0, max+1==rows, yet not dense
    val dupMasked = Seq((1L, 0L, 10L), (1L, 0L, 11L), (1L, 2L, 12L))
      .toDF("doc_id", "off", "r")
    val prev = SuffixDedup.debugDenseOff
    try {
      SuffixDedup.debugDenseOff = true
      // dense input: the check passes and the leads are computed
      val ok = SuffixDedup.chunkedLeads(dense, "r", Seq(1), Seq("n1"), chunk = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
      assert(ok === Set((1L, 0L, 11L), (1L, 1L, 12L), (1L, 2L, -1L),
        (2L, 0L, 21L), (2L, 1L, -1L)))
      for (bad <- Seq(gapped, oneBased, dupMasked)) {
        val e = intercept[IllegalArgumentException](
          SuffixDedup.chunkedLeads(bad, "r", Seq(1), Seq("n1"), chunk = 2))
        assert(e.getMessage.contains("not dense 0-based"), e.getMessage)
      }
      // the check is an opt-in: off by default, no per-call job tax
    } finally SuffixDedup.debugDenseOff = prev
    assert(!SuffixDedup.debugDenseOff || prev,
      "debug flag must be restored to its prior state")
  }

  test("variable-length copies: each doc's extent is its own suffix-true span") {
    import spark.implicits._
    // doc 2 carries only the first 14 tokens of doc 1's 20-token span —
    // the failure mode fixed-k windows can't express: doc 1's extent
    // against doc 2 must stop at 14, not 20
    val full = toks("s", 20)
    val rows = Seq(
      (1L, (Seq("fa", "fb") ++ full ++ Seq("fc")).mkString(" ")),
      (2L, (Seq("ga") ++ full.take(14) ++ Seq("gb", "gc")).mkString(" "))
    ).toDF("doc_id", "text")
    val dir = "/tmp/graft_suffix_varlen"
    rows.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    assert(spans(dir) === Set((1L, 2L, 16L), (2L, 1L, 15L)))
  }

  test("chimera: adjacent spans shared with DIFFERENT partners merge in the carrier") {
    import spark.implicits._
    // doc 1 = P1 ++ P2; doc 2 holds P1, doc 3 holds P2. Doc 1's flagged
    // windows cover [0,13)+[20,33) -> extents [0,20) and [20,40), which
    // touch and merge to [0,40); docs 2 and 3 get their own spans.
    val p1 = toks("p", 20)
    val p2 = toks("q", 20)
    val rows = Seq(
      (1L, (p1 ++ p2).mkString(" ")),
      (2L, (Seq("ua", "ub") ++ p1 ++ Seq("uc")).mkString(" ")),
      (3L, (Seq("va") ++ p2 ++ Seq("vb", "vc")).mkString(" "))
    ).toDF("doc_id", "text")
    val dir = "/tmp/graft_suffix_chimera"
    rows.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    assert(spans(dir) === Set((1L, 0L, 40L), (2L, 2L, 22L), (3L, 1L, 21L)))
  }

  test("benchmark spans: only corpus-side extents against bench docs emit") {
    import spark.implicits._
    // doc 37 and 74 are "benchmark" under % 37; doc 1 carries a
    // 20-token bench passage (flag, exact extent), docs 2+3 duplicate
    // each other but share nothing with the bench (must NOT flag), and
    // bench docs are never emitted even though they match doc 1
    val bench = toks("s", 20)
    val corpDup = toks("d", 15)
    val rows = Seq(
      (37L, (Seq("ba") ++ bench ++ Seq("bb")).mkString(" ")),
      (74L, toks("w", 30).mkString(" ")),
      (1L, (Seq("fa", "fb", "fc") ++ bench ++ Seq("fd")).mkString(" ")),
      (2L, (Seq("ga") ++ corpDup).mkString(" ")),
      (3L, (corpDup ++ Seq("ha")).mkString(" "))
    ).toDF("doc_id", "text")
    val dir = "/tmp/graft_suffix_bench"
    rows.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SuffixDedup.benchmarkSpans(spark, dir, minSpan = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === Set((1L, 3L, 23L)),
      "exactly doc 1's bench passage; corpus-corpus dups and bench docs silent")
    // the corpus-internal machinery still sees the 2-3 duplication
    assert(spans(dir).exists(s => s._1 == 2L || s._1 == 3L))
  }

  test("minSpan=50: multi-offset final combine is exact (Lee-et-al threshold)") {
    import spark.implicits._
    // depth quadruples 1→4→16, final key = ranks at offsets 0,16,32,34
    // (overlapping tile of [0,50)) — the production threshold shape.
    // An 80-token shared span must emit exactly; a 49-token shared
    // span must NOT (below threshold)
    val long = toks("s", 80)
    val short = toks("t", 49)
    val rows = Seq(
      (1L, (toks("fa", 4) ++ long ++ toks("fb", 3)).mkString(" ")),
      (2L, (toks("ga", 7) ++ long ++ toks("gb", 2)).mkString(" ")),
      (3L, (toks("ha", 5) ++ short ++ toks("hb", 5)).mkString(" ")),
      (4L, (toks("ia", 2) ++ short ++ toks("ib", 8)).mkString(" "))
    ).toDF("doc_id", "text")
    val dir = "/tmp/graft_suffix_l50"
    rows.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    assert(spans(dir, minSpan = 50) === Set((1L, 4L, 84L), (2L, 7L, 87L)),
      "the 80-token span exactly; the 49-token span below threshold")
  }

  /** The 8 `pg-*.txt` files under `corpusDir` as documents in `dir`,
    * then the boilerplate contract: a long block shared by every book
    * surfaces as cross-book spans and pair matches. */
  private def boilerplateCheck(corpusDir: String, dir: String): Unit = {
    import spark.implicits._
    val books = graft.core.MapReduce
      .wholeTextFiles(spark, TestCorpus.glob(corpusDir))
      .toDF("name", "text")
      .select(dense_rank().over(
          org.apache.spark.sql.expressions.Window.orderBy(col("name")))
        .cast("long").as("doc_id"), col("text"))
    books.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SuffixDedup.maximalSpans(spark, dir, minSpan = 50).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.nonEmpty, "PG boilerplate must surface as >=50-token spans")
    // every one of the 8 books carries the license text
    assert(got.map(_._1).distinct.length === 8,
      s"all books share the boilerplate, saw docs ${got.map(_._1).distinct.sorted.toSeq}")
    got.foreach { case (_, s, e) => assert(e - s >= 50L) }
    // the license block is hundreds of tokens — extents must merge
    // well past the 50-token floor
    assert(got.exists(s => s._3 - s._2 >= 200L),
      s"license block should merge into a long extent: ${got.map(s => s._3 - s._2).sorted.reverse.take(5).toSeq}")
    // the pair view agrees: every book pair shares a >=200-token match
    // (the license), and match lengths never exceed the union extents
    val matches = SuffixDedup.maximalMatches(spark, dir, minSpan = 50)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(4)))
    val pairBest = matches.groupBy(_._1).view.mapValues(_.map(_._2).max)
    assert(pairBest.size === 28, s"all C(8,2) book pairs: ${pairBest.size}")
    assert(pairBest.values.forall(_ >= 200L),
      s"license match per pair: ${pairBest.values.toSeq.sorted.take(3)}")
  }

  test("real text: Gutenberg license boilerplate surfaces as cross-book spans") {
    // the reference's actual 3.3 MB book corpus (~600k tokens, real
    // English vocabulary) — every Project Gutenberg file carries the
    // same license boilerplate, which is EXACTLY the cross-document
    // duplicated-span shape this operator exists to find
    boilerplateCheck(TestCorpus.referenceDir(), "/tmp/graft_suffix_books")
  }

  test("in-repo text: a shared license block surfaces as cross-book spans") {
    // the same contract on the in-repo corpus: 8 books of 40k seeded
    // body words, each starting and ending with the same 320-token block
    val out = java.nio.file.Files.createTempDirectory("graft-suffix-corpus").toString
    boilerplateCheck(TestCorpus.write(bodyTokens = 40000), out)
  }

  test("pair matches: exact partner/offsets/length; disjoint spans stay separate") {
    import spark.implicits._
    val shared = toks("s", 30)
    val a12 = toks("a", 12)
    val b9 = toks("b", 9)
    val rows = Seq(
      (1L, (toks("ua", 3) ++ shared ++ toks("ub", 6)).mkString(" ")),
      (2L, (toks("va", 5) ++ shared ++ toks("vb", 4)).mkString(" ")),
      // docs 10/11 share TWO disjoint spans -> two Match rows, not one
      (10L, (a12 ++ toks("xa", 5) ++ b9).mkString(" ")),
      (11L, (toks("ya", 3) ++ a12 ++ toks("yb", 2) ++ b9).mkString(" ")),
      // within-doc repeat only: cross-doc pairs must stay silent
      (4L, (toks("x", 8) ++ Seq("gap") ++ toks("x", 8)).mkString(" "))
    ).toDF("doc_id", "text")
    val dir = "/tmp/graft_suffix_pairs"
    rows.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SuffixDedup.maximalMatches(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    assert(got === Set(
      (1L, 2L, 3L, 5L, 30L),
      (10L, 11L, 0L, 3L, 12L),
      (10L, 11L, 17L, 17L, 9L)))
  }

  test("pair matches: maxGroup cap drops boilerplate groups only") {
    import spark.implicits._
    // an 8-token block shared by FOUR docs (group size 4) next to a
    // clean 2-doc span; maxGroup=3 must drop only the 4-doc group
    val boiler = toks("b", 8)
    val clean = toks("c", 10)
    val rows = (20L to 23L).map { d =>
      val c = ('a' + (d - 20)).toChar // letters only — digits tokenize away
      (d, (Seq(s"q${c}a", s"q${c}b") ++ boiler).mkString(" "))
    } ++ Seq(
      (30L, (clean ++ Seq("za")).mkString(" ")),
      (31L, (Seq("zb", "zc") ++ clean).mkString(" ")))
    val dir = "/tmp/graft_suffix_cap"
    rows.toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    def matches(cap: Int) = SuffixDedup.maximalMatches(spark, dir, maxGroup = cap)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(4))).toSet
    assert(matches(1000) === Set((30L, 31L, 10L),
      (20L, 21L, 8L), (20L, 22L, 8L), (20L, 23L, 8L),
      (21L, 22L, 8L), (21L, 23L, 8L), (22L, 23L, 8L)))
    assert(matches(3) === Set((30L, 31L, 10L)),
      "the cap must drop the 4-doc boilerplate group and nothing else")
  }

  test("excision cuts exactly the flagged extents; untouched docs pass through") {
    import spark.implicits._
    val bench = toks("s", 20)
    val rows = Seq(
      (37L, (Seq("ba") ++ bench ++ Seq("bb")).mkString(" ")), // benchmark doc
      (1L, (Seq("fa", "fb") ++ bench ++ Seq("fc", "fd")).mkString(" ")),
      (2L, toks("u", 12).mkString(" ")) // no overlap — must pass through
    ).toDF("doc_id", "text")
    val dir = "/tmp/graft_suffix_excise"
    rows.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SuffixDedup.exciseBenchmarkSpans(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(got.keySet === Set(1L, 2L), "benchmark docs are not emitted")
    assert(got(1L) === (("fa fb fc fd", 20L)),
      "exactly the benchmark passage removed, fillers rejoined")
    assert(got(2L) === ((toks("u", 12).mkString(" "), 0L)))
    // a fully-benchmark doc excises to the empty string, not a dropped row
    val total = Seq(
      (37L, bench.mkString(" ")),
      (3L, bench.mkString(" "))).toDF("doc_id", "text")
    total.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val all = SuffixDedup.exciseBenchmarkSpans(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(all.toSeq === Seq((3L, "", 20L)))
  }

  test("leak profile: per-benchmark leaked-window counts, short docs absent") {
    import spark.implicits._
    val passage = toks("s", 20)
    val rows = Seq(
      // bench doc 37: 4 + 20 + 4 = 28 tokens -> 21 windows, of which
      // the 13 fully inside the passage leak via corpus doc 1
      (37L, (toks("ba", 4) ++ passage ++ toks("bb", 4)).mkString(" ")),
      (74L, toks("w", 30).mkString(" ")), // clean bench doc: 23 windows, 0 leaked
      (111L, "short bench doc"),          // < 8 tokens: absent
      (1L, (toks("fa", 3) ++ passage).mkString(" "))
    ).toDF("doc_id", "text")
    val dir = "/tmp/graft_suffix_leak"
    rows.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SuffixDedup.benchmarkLeakProfile(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getAs[Int]("is_compromised")))
      .toSet
    assert(got === Set((37L, 21L, 13L, 1), (74L, 23L, 0L, 0)))
  }

  test("degenerate inputs: all-short docs, empty text, punctuation-only") {
    import spark.implicits._
    // nothing here carries an 8-token window — every operator in the
    // family must return empty, not throw (the broadcast initial rank,
    // the quad loop and the final combine all see near-empty frames)
    val rows = Seq(
      (1L, "too short"),
      (2L, ""),
      (3L, "12345 !!! ??? ..."),
      (37L, "also short")
    ).toDF("doc_id", "text")
    val dir = "/tmp/graft_suffix_degenerate"
    rows.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    assert(spans(dir) === Set.empty)
    assert(SuffixDedup.benchmarkSpans(spark, dir).collect().isEmpty)
    assert(SuffixDedup.maximalMatches(spark, dir).collect().isEmpty)
    // excision with no spans: docs pass through tokenized-rejoined
    val exc = SuffixDedup.exciseBenchmarkSpans(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(exc === Set((1L, "too short", 0L), (2L, "", 0L), (3L, "", 0L)))
  }

  test("corpus: SA extents equal an independent window-grouping derivation") {
    import spark.implicits._
    val got = spans(sf())
    assert(got.nonEmpty, "corpus should carry planted verbatim spans")
    got.foreach { case (_, s, e) => assert(e - s >= 8L) }
    // independent derivation: group raw 8-token window STRINGS (the
    // DuckDB oracle's formulation), flag cross-doc, merge islands
    val flagged = spark.read.parquet(s"${sf()}/documents.parquet")
      .select(col("doc_id"),
        expr("filter(split(lower(text), '[^a-z]+'), x -> x != '')").as("toks"))
      .select(col("doc_id"), expr(
        """CASE WHEN size(toks) >= 8 THEN
          |  transform(sequence(0, size(toks) - 8),
          |    i -> struct(i AS off, concat_ws(' ', slice(toks, i + 1, 8)) AS win))
          |ELSE array() END""".stripMargin).as("ws"))
      .select(col("doc_id"), explode(col("ws")).as("p"))
      .select(col("doc_id"), col("p.off"), col("p.win"))
    val shared = flagged.groupBy(col("win"))
      .agg(count_distinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2).select(col("win"))
    val expected = flagged.join(shared, "win")
      .select(col("doc_id"), col("off")).as[(Long, Int)]
      .collect().groupBy(_._1).toSeq.flatMap { case (doc, offs) =>
        val sorted = offs.map(_._2).sorted
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
        var start = -1L; var end = -1L
        sorted.foreach { off =>
          if (start < 0) { start = off; end = off + 8 }
          else if (off > end) { out += ((doc, start, end)); start = off; end = off + 8 }
          else end = math.max(end, off + 8L)
        }
        if (start >= 0) out += ((doc, start, end))
        out
      }.toSet
    assert(got === expected)
  }

  test("chunked leads equal per-doc window leads across doc and chunk boundaries") {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    // ragged doc lengths straddling the chunk width: shorter than one
    // chunk, exactly one chunk, mid-chunk end, exact multiple, and a
    // "giant" doc of many chunks — every boundary case of the carry
    val chunk = 64
    val lens = Seq(7L, 63L, 64L, 100L, 128L, 193L, 1000L)
    val rows = lens.zipWithIndex.flatMap { case (len, d) =>
      (0L until len).map(off => (d.toLong, off, d * 100000 + off * 3))
    }.toDF("doc_id", "off", "rank")
    val dists = Seq(1, 2, 3, 17, 63)
    val names = dists.map(d => s"_l$d")
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("off"))
    val expected = dists.zip(names).foldLeft(rows) { case (acc, (d, n)) =>
      acc.withColumn(n, coalesce(lead(col("rank"), d).over(byDoc), lit(-1L)))
    }.collect().map(_.toSeq).toSet
    val cols = (rows.columns ++ names).map(col)
    val got = SuffixDedup.chunkedLeads(rows, "rank", dists, names, chunk)
      .select(cols: _*).collect().map(_.toSeq).toSet
    assert(got === expected, "chunked leads diverged from the per-doc window")
  }

  test("giant undelimited doc: extents exact AND lead rounds spread over >1 task") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
    import org.apache.spark.graftprobe.ListenerDrain
    import spark.implicits._
    // one crawl-blob doc of ~40k tokens carrying a 30-token span also
    // present in a small doc; vocabulary is large (tok() pairs over a
    // 3-char tag space) so round-0 ranks are fine either way
    val shared = (0 until 30).map(i => tok("zz", i))
    val blobToks = (0 until 40000).map { i =>
      s"b${('a' + (i / 676) % 26).toChar}${('a' + (i / 26) % 26).toChar}${('a' + i % 26).toChar}"
    }
    val insertAt = 17000
    val blob = (blobToks.take(insertAt) ++ shared ++ blobToks.drop(insertAt)).mkString(" ")
    val small = (toks("ya", 4) ++ shared ++ toks("yb", 5)).mkString(" ")
    val dir = "/tmp/graft_suffix_giant"
    Seq((1L, blob), (2L, small)).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val shuffleKey = "spark.sql.shuffle.partitions"
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val prevShuffle = spark.conf.getOption(shuffleKey)
    val prevCoalesce = spark.conf.getOption(coalesceKey)
    spark.conf.set(shuffleKey, "32")
    spark.conf.set(coalesceKey, "false")
    val perStage = scala.collection.concurrent.TrieMap.empty[Int, Int]
    // stage KIND via the RDD operation scopes the SQL engine stamps on
    // each stage's RDDs: a stage is "windowful" iff it executes a
    // Window physical operator — the only stage kind the chunk shape
    // changes. Matching kinds keeps the assertion from crediting
    // unrelated wide stages (rank sorts, groupBys) to the lead rounds.
    val windowful = scala.collection.concurrent.TrieMap.empty[Int, Boolean]
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null &&
            t.taskMetrics.shuffleReadMetrics.recordsRead > 0)
          perStage.updateWith(t.stageId) { c => Some(c.getOrElse(0) + 1) }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        windowful.put(s.stageInfo.stageId, s.stageInfo.rddInfos.exists(r =>
          r.scope.exists(_.name.toLowerCase.contains("window")) ||
            r.name.toLowerCase.contains("window")))
    }
    def busyTasks(body: => Unit): (Map[Int, Int], Map[Int, Boolean]) = {
      perStage.clear(); windowful.clear()
      spark.sparkContext.addSparkListener(listener)
      try {
        body
        ListenerDrain.waitUntilEmpty(spark.sparkContext)
        (perStage.toMap, windowful.toMap)
      } finally spark.sparkContext.removeSparkListener(listener)
    }
    try {
      // chunk=2048 → the 40k-token blob spans ~20 chunk groups per round
      val (segStages, segKinds) = busyTasks {
        val got = SuffixDedup.maximalSpans(spark, dir, minSpan = 30, chunk = 2048)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        assert(got === Set((1L, insertAt.toLong, insertAt + 30L), (2L, 4L, 34L)))
      }
      // per-doc degenerate (chunk wider than the blob): window passes
      // collapse to one task per doc — the round-5 ceiling
      val (docStages, docKinds) = busyTasks {
        SuffixDedup.maximalSpans(spark, dir, minSpan = 30, chunk = 1 << 20).collect()
      }
      // rank sorts and the flagging groupBy are range/hash-partitioned
      // and spread in BOTH shapes; only the window (lead) stages change
      // shape with `chunk`. Compare the MATCHED stage kind: with 2 docs
      // the per-doc shape caps every windowful stage at 2 busy tasks,
      // while chunked leads run one wide windowful stage per
      // quadrupling round plus the final combine (>=2 extra at
      // minSpan=30: rounds at depth 1,4 and the combine, minus
      // plan-merge slack).
      def wideWin(stages: Map[Int, Int], kinds: Map[Int, Boolean]): Int =
        stages.count { case (sid, n) => kinds.getOrElse(sid, false) && n > 2 }
      val wideSegWin = wideWin(segStages, segKinds)
      val wideDocWin = wideWin(docStages, docKinds)
      info(s"wide windowful stages: seg=$wideSegWin doc=$wideDocWin " +
        s"(seg stages=${segStages.size}, doc stages=${docStages.size})")
      assert(wideSegWin >= wideDocWin + 2,
        s"chunked leads should add >=2 wide WINDOW stages over the per-doc" +
          s" shape: seg=$segStages/$segKinds doc=$docStages/$docKinds")
      // and the segmented shape must have at least the margin in
      // absolute terms — the kind filter found real window stages, not
      // an empty intersection trivially satisfying the difference
      assert(wideSegWin >= 2,
        s"no wide windowful stages attributed — scope matching broke: $segKinds")
    } finally {
      prevShuffle.fold(spark.conf.unset(shuffleKey))(v => spark.conf.set(shuffleKey, v))
      prevCoalesce.fold(spark.conf.unset(coalesceKey))(v => spark.conf.set(coalesceKey, v))
    }
  }

  test("decontam suite: four tagged parts equal the standalone operators, ONE rank pass") {
    val dir = sf()
    val before = SuffixDedup.rankKeyedRuns.get()
    val suite = SuffixDedup.decontamSuite(spark, dir).collect()
    assert(SuffixDedup.rankKeyedRuns.get() === before + 1,
      "the suite must build the rank keying exactly once")

    def part(p: String) = suite.filter(_.getString(0) == p)
    val gotSpans = part("spans")
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val wantSpans = SuffixDedup.benchmarkSpans(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(gotSpans === wantSpans)

    val gotExcise = part("excise")
      .map(r => (r.getLong(1), r.getLong(2), r.getString(5))).toSet
    val wantExcise = SuffixDedup.exciseBenchmarkSpans(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getString(1))).toSet
    assert(gotExcise === wantExcise)

    val gotLeak = part("leak")
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    val wantLeak = SuffixDedup.benchmarkLeakProfile(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3).toLong)).toSet
    assert(gotLeak === wantLeak)

    val gotPack = part("pack")
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val wantPack = graft.text.CorpusPipeline.prepareDecontaminated(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(gotPack === wantPack)
  }

  test("vocab byte bound: long-token vocabulary falls back to the distributed rank (r19)") {
    // decision function: entry cap AND byte cap must both hold
    assert(SuffixDedup.vocabBroadcastable(Array("a", "bb", "ccc")))
    assert(!SuffixDedup.vocabBroadcastable(Array.fill(5)("x"), entryCap = 4))
    val longToks = Array.fill(4)("y" * 1024)
    assert(!SuffixDedup.vocabBroadcastable(longToks, bytesCap = 4000L),
      "4 KiB of token bytes must trip a 4000-byte cap")
    // integration: forcing the byte cap below the fixture vocabulary
    // takes the distributed-rank branch and must produce the SAME
    // keyed frame as the broadcast branch (rank values are an
    // arbitrary injective relabeling, so compare the FLAGGED OUTPUT
    // both paths feed, not raw ranks)
    val dir = sf()
    val np = spark.sparkContext.defaultParallelism
    val base = SuffixDedup.maximalSpans(spark, dir, 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val (keyed, keyNames) = SuffixDedup.rankKeyed(spark, dir, 8, np, 4096,
      vocabBytesCap = 1L)
    // re-run the flagging over the forced-fallback keyed frame: a key
    // tuple shared by >= 2 docs flags every holder (exactly the
    // maximalSpans body over rankKeyed output)
    val dup = keyed.groupBy(keyNames.map(col): _*)
      .agg(count_distinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2)
      .select(keyNames.map(col): _*)
    val viaFallback = SuffixDedup.mergeExtents(keyed.join(dup, keyNames), 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(viaFallback === base,
      "distributed-rank fallback must flag identical maximal spans")
  }
}
