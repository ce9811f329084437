package graft.tools

import org.apache.spark.sql.{Dataset, SparkSession}

/** Deterministic ~N× scale-rehearsal corpus for the span family.
  *
  * The sf0.1 `documents.parquet` fixture (5 000 docs, ~1.5 MB text) is
  * the largest driver-provided corpus; the round-8 VERDICT asked for a
  * measured — not argued — demonstration that the rank pipeline
  * ([[graft.dedup.SuffixDedup]]) scales near-linearly. This tool
  * synthesizes a `factor`× corpus from the fixture itself, with no RNG
  * state: every derived row is a pure function of (doc_id, replica),
  * so two runs produce byte-identical parquet content.
  *
  * Replica construction (replica 0 is the original corpus, untouched):
  *  - replicas with `r % 3 == 0` are CONCATENATIONS: the doc's text
  *    joined with a partner doc's text (`(doc_id + 17·r) mod n`) — the
  *    long-document shape that stresses the chunked-lead passes and
  *    plants genuine long duplicated spans across replicas;
  *  - other replicas are MUTATIONS: the word sequence rotated by a
  *    replica-dependent distance (keeps long contiguous runs shared
  *    with the original, so the span dedup has real work) with every
  *    ~23rd word replaced by a hash-derived token (so the corpus is
  *    not trivially 100% duplicated and the dedup output stays
  *    interesting).
  *
  * Derived doc_id = doc_id + r·[[IdStride]]; lang/source carried;
  * n_chars recomputed. Non-`documents` parquet files from the source
  * dir are copied through so the output dir is a drop-in
  * SPARK_GRAFT_SF_DIR for any query in the suite.
  */
object ScaleFixture {

  /** Replica id offset — far above any fixture doc_id, so derived ids
    * never collide with originals and `id mod k` splits (benchmark
    * split `% 37`, batch split `% 10`) still partition every replica. */
  val IdStride: Long = 1000000L

  /** splitmix64 finalizer — the same public mixing constants used by
    * [[graft.sim.Kmeans]]'s deterministic coin. */
  private[tools] def mix64(x0: Long): Long = graft.core.Mix.splitmix64(x0)

  /** Rotate `words` left by `dist` and replace every word whose index
    * satisfies `(i + r) % 23 == 0` with a token derived from
    * (doc_id, r, i). Pure; deterministic. */
  private[tools] def mutateWords(words: Array[String], docId: Long,
      r: Int): Array[String] = {
    if (words.isEmpty) return words
    val dist = ((r * 31) % words.length + words.length) % words.length
    val rotated = new Array[String](words.length)
    var i = 0
    while (i < words.length) {
      rotated(i) = words((i + dist) % words.length)
      i += 1
    }
    i = 0
    while (i < rotated.length) {
      if ((i + r) % 23 == 0) {
        val h = mix64(docId * 131 + r * 1009 + i)
        rotated(i) = "w" + java.lang.Long.toUnsignedString(h % 9973L match {
          case m if m < 0 => m + 9973L; case m => m
        })
      }
      i += 1
    }
    rotated
  }

  /** The derived text for replica `r` (r >= 1) of doc `docId`, given
    * the doc's own text and its partner's (concat source). Pure. */
  private[tools] def replicaText(docId: Long, r: Int, text: String,
      partnerText: String): String = {
    if (r % 3 == 0) text + " " + partnerText
    else mutateWords(text.split(" ", -1), docId, r).mkString(" ")
  }

  final case class Doc(doc_id: Long, text: String, lang: String,
      source: String, n_chars: Long)

  /** Build the `factor`× corpus: replica 0 = the original rows;
    * replicas 1..factor-1 derived per [[replicaText]]. The partner
    * text for the concat replicas is fetched with a self-join on the
    * partner id (one shuffle per replica batch, all replicas unioned
    * first so it is ONE join overall, not factor joins). */
  def scaledDocs(spark: SparkSession, inDir: String, factor: Int): Dataset[Doc] = {
    import spark.implicits._
    require(factor >= 1, s"factor must be >= 1, got $factor")
    val docs = spark.read.parquet(s"$inDir/documents.parquet")
      .selectExpr("doc_id", "text", "lang", "source", "n_chars").as[Doc]
    val n = docs.count()
    val base = docs.as("d")
    // (orig doc, replica) pairs for r >= 1, each tagged with its
    // partner id; join partner text once, then derive.
    val replicas = base
      .flatMap { d =>
        (1 until factor).map { r =>
          val partner = ((d.doc_id + 17L * r) % n + n) % n
          (d.doc_id, r, d.text, d.lang, d.source, partner)
        }
      }
      .toDF("doc_id", "r", "text", "lang", "source", "partner_id")
    val partnerTexts = docs.selectExpr("doc_id AS partner_id", "text AS partner_text")
    // LEFT join: partner = (doc_id + 17r) mod count assumes dense
    // 0..n-1 ids — on a sparse-id corpus (e.g. this tool's own
    // output) an inner join would silently drop EVERY replica row,
    // including mutation replicas that never read partner_text. A
    // missing partner degrades deterministically to self-concat.
    val derived = replicas
      .join(partnerTexts, Seq("partner_id"), "left")
      .as[(Long, Long, Int, String, String, String, String)]
      .map { case (_, docId, r, text, lang, source, partnerText) =>
        val pt = if (partnerText == null) text else partnerText
        val t = replicaText(docId, r, text, pt)
        Doc(docId + r * IdStride, t, lang, source, t.length.toLong)
      }
    docs.union(derived)
  }

  /** args: inDir outDir [factor]. Writes `<outDir>/documents.parquet`
    * and copies every other `*.parquet` from inDir, making outDir a
    * drop-in SPARK_GRAFT_SF_DIR. Prints row/char totals for the
    * BENCH_NOTES table. */
  def main(args: Array[String]): Unit = {
    val inDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val outDir = args.lift(1).getOrElse("target/scale10x")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = graft.core.Sessions.local()
    try {
      import java.nio.file.{Files, Paths, StandardCopyOption}
      Files.createDirectories(Paths.get(outDir))
      // copy the non-documents tables through (drop-in sf dir)
      val src = Paths.get(inDir)
      Files.list(src).forEach { p =>
        val name = p.getFileName.toString
        if (name.endsWith(".parquet") && name != "documents.parquet") {
          val dst = Paths.get(outDir, name)
          if (Files.isDirectory(p)) {
            if (!Files.exists(dst)) {
              Files.createDirectories(dst)
              Files.list(p).forEach { q =>
                Files.copy(q, dst.resolve(q.getFileName.toString),
                  StandardCopyOption.REPLACE_EXISTING)
              }
            }
          } else {
            Files.copy(p, dst, StandardCopyOption.REPLACE_EXISTING)
          }
        }
      }
      val out = scaledDocs(spark, inDir, factor)
      // single parquet dir (queries read `$dir/documents.parquet`
      // as a path — a directory of part files is fine for Spark AND
      // for the DuckDB oracle's read_parquet glob)
      out.repartition(8).write.mode("overwrite")
        .parquet(s"$outDir/documents.parquet")
      val stats = spark.read.parquet(s"$outDir/documents.parquet")
        .selectExpr("count(*) AS rows", "sum(n_chars) AS chars").collect()(0)
      val orig = spark.read.parquet(s"$inDir/documents.parquet")
        .selectExpr("count(*) AS rows", "sum(n_chars) AS chars").collect()(0)
      println(s"[scale-fixture] in=$inDir out=$outDir factor=$factor " +
        s"rows ${orig.getLong(0)} -> ${stats.getLong(0)} " +
        s"(${stats.getLong(0).toDouble / orig.getLong(0)}x), " +
        s"chars ${orig.getLong(1)} -> ${stats.getLong(1)} " +
        f"(${stats.getLong(1).toDouble / orig.getLong(1)}%.2fx)")
    } finally spark.stop()
  }
}
