package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale training-data pipelines —
  * the north-star extensions beyond reference parity (SURVEY §7
  * phase 7). All operate on the `documents` table (doc_id, text) or
  * `embeddings` (vec_id, embedding).
  *
  * Scale design (100 TB posture):
  *  - Exact dedup groups on md5(text), not text: the shuffle carries a
  *    16-byte key instead of whole documents.
  *  - Near-dup (MinHash/LSH) is the scale path: candidate generation
  *    is a band-bucket shuffle (linear), with a bucket-size cap so a
  *    degenerate bucket can't go quadratic; only candidates pay the
  *    exact-verification join.
  *  - The exact n-gram Jaccard operator joins on shingle (linear in
  *    total postings × per-shingle df), never materializing the
  *    all-pairs cross product.
  */
object Dedup {

  private def documents(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"$sfDir/documents.parquet")

  /** Ordered lower-case alpha tokens (order preserved for shingling). */
  private val toksExpr = graft.text.Tok.alphaToks

  /** Distinct word-`n`-gram shingles from a materialized `toks` ARRAY
    * COLUMN (shared by the dedup family and Cleaning.contamination).
    * The tokenization must be its own projection: inlining it here
    * would re-evaluate the regex split at every lambda element
    * (higher-order lambdas re-evaluate captured non-attribute
    * expressions per element — O(tokens²) regex work, measured as a
    * 10-30× slowdown at sf0.1). Spark SQL slice() is 1-based. */
  private[graft] def shinglesFromToks(n: Int): String =
    s"""CASE WHEN size(toks) >= $n THEN
       |  array_distinct(transform(sequence(0, size(toks) - $n),
       |    i -> concat_ws(' ', slice(toks, i + 1, $n))))
       |ELSE array() END""".stripMargin

  /** (doc_id, sh: array<string>) — two-step projection, see above.
    * WIDENED (r19, reversing the r18 negative result): the r18
    * experiment lost (dedup_minhash 1.95 → 3.94 s, uniform ~1.7 s/task
    * non-CPU wait across every post-widen 32-task stage) because the
    * bypass-merge shuffle writer's M·R file creates + shared commit
    * lock taxed every widened stage — root-caused and fixed in r19
    * (sort writer forced at local reduce counts, see Bench.scala).
    * Re-measured with the sort writer, the same widen is a 2-3× win
    * family-wide: 11-key subset 30.59 → 13.67 s (dedup_ngram
    * 2.85 → 1.05, dedup_minhash 1.92 → 0.99, dedup_clusters_dist
    * 3.50 → 2.13, text_corpus_report 2.88 → 1.49; simhash family
    * 4-key subset to 5.68 s, dedup_simhash_wide 3.89 → 2.02) — the
    * tokenize+shingle map is the family's hot serial stage and now
    * runs cluster-wide. At production scale the scan arrives wide and
    * ifNarrow is a structural no-op. */
  private[dedup] def docShingles(spark: SparkSession, sfDir: String): DataFrame =
    graft.core.Widen.ifNarrow(documents(spark, sfDir))
      .select(col("doc_id"), expr(toksExpr).as("toks"))
      .select(col("doc_id"), expr(shinglesFromToks(3)).as("sh"))

  /** Exact dedup: canonical representative (min doc_id) + copy count
    * per distinct text, keyed by md5 so the shuffle key is 16 bytes. */
  def exact(spark: SparkSession, sfDir: String): DataFrame =
    documents(spark, sfDir)
      .groupBy(md5(col("text")).as("text_md5"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))

  /** Per-doc distinct shingle postings: (doc_id, shingle).
    *
    * explode_OUTER + null-filter, not plain explode: for a non-outer
    * Generate the optimizer infers `size(sh) > 0` and pushes it below
    * the projections, INLINING the whole shingle pipeline into a
    * pre-scan filter whose lambda re-evaluates the inlined tokenizer
    * per element — measured 20 s of redundant regex splitting at sf0.1
    * vs 0.7 s for the projections themselves. The null-filter sits on
    * the generated attribute, which cannot be pushed through. */
  private[dedup] def shinglePostings(spark: SparkSession, sfDir: String): DataFrame =
    docShingles(spark, sfDir)
      .select(col("doc_id"), explode_outer(col("sh")).as("s"))
      .filter(col("s").isNotNull)

  /** Exact n-gram Jaccard near-dup pairs (threshold `tau`), computed by
    * joining on shared shingles — |A∩B| from the join, |A∪B| from
    * per-doc counts. Integer arithmetic end-to-end until the final
    * ratio of ints, which is engine-exact. */
  def ngramJaccard(spark: SparkSession, sfDir: String, tau: Double = 0.5): DataFrame = {
    // The self-join + counts consume the postings subplan three times,
    // and Spark does not share subplans across join sides — so the
    // postings are materialized ONCE (localCheckpoint) and every
    // consumer reads the cached partitions. (On a cluster the same
    // role is played by persisting postings; the production path for
    // REPEATED dedup runs is the bucketed persisted layout in
    // BucketedPostingsSpec, which also removes the join exchange.)
    val post = shinglePostings(spark, sfDir).localCheckpoint()
    val sh = post.alias("a")
    val sh2 = post.alias("b")
    val counts = post.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val common = sh.join(sh2,
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
      .agg(count(lit(1)).as("c"))
    common
      .join(counts.select(col("doc_id").as("i"), col("n").as("na")), "i")
      .join(counts.select(col("doc_id").as("j"), col("n").as("nb")), "j")
      .filter(col("c").cast("double") / (col("na") + col("nb") - col("c")) >= tau)
      .select(col("i"), col("j"))
  }

  /** 64-perm MinHash signature of a shingle set, computed in one tight
    * narrow pass (no shuffle): base 64-bit hash per shingle, then 64
    * cheap splitmix64-style derived permutations. Formulations tried
    * and rejected: a nested higher-order lambda re-evaluates the
    * captured shingle pipeline per permutation (64×, ~685 s at sf0.1);
    * 64 explicit min-aggregates are shuffle-shaped correctly but pay
    * ~10 s of one-time whole-stage-codegen (janino) compilation for
    * the 64-wide aggregate. Plain Scala is ~17M mixes ≈ instant. */
  private[dedup] def minhashSig(shingles: Seq[String]): Array[Long] = {
    val sig = Array.fill(64)(Long.MaxValue)
    shingles.foreach { s =>
      val base = scala.util.hashing.MurmurHash3.stringHash(s, 0x1b873593).toLong << 32 |
        (scala.util.hashing.MurmurHash3.stringHash(s, 0xe6546b64).toLong & 0xffffffffL)
      var p = 0
      while (p < 64) {
        // splitmix64 finalizer over base + odd-constant stream index
        var z = base + (p.toLong * 0x9e3779b97f4a7c15L)
        z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
        z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
        z = z ^ (z >>> 31)
        if (z < sig(p)) sig(p) = z
        p += 1
      }
    }
    sig
  }

  final case class MinhashRow(doc_id: Long, sig: Array[Long])

  /** MinHash + LSH near-dup: 16 bands × 4 rows over a 64-perm
    * signature, candidates = docs sharing a band bucket, then exact
    * Jaccard verification at `tau`. With tau=0.5 and the planted
    * near-dups at J≥0.9, per-pair recall is 1-(1-J^4)^16 ≈ 1-4e-8, so
    * the output equals the exact operator's (the oracle asserts that).
    *
    * @param maxBucket degenerate-bucket cap: buckets larger than this
    *   are dropped from candidate generation (standard LSH guard; at
    *   100 TB a hot bucket would otherwise go quadratic). Dropped
    *   buckets only LOSE candidates, which the recall math already
    *   accounts for at sane caps.
    */
  def minhashLsh(spark: SparkSession, sfDir: String, tau: Double = 0.5,
      maxBucket: Int = 1000): DataFrame = {
    import spark.implicits._
    val sigs = docShingles(spark, sfDir)
      .as[(Long, Seq[String])]
      .filter(_._2.nonEmpty)
      .map { case (id, sh) => MinhashRow(id, minhashSig(sh)) }
      .toDF()
    val buckets = sigs.select(col("doc_id"),
        explode(expr(
          "transform(sequence(0, 15), b -> struct(b AS band, xxhash64(slice(sig, b*4+1, 4)) AS h))"))
          .as("bk"))
      .select(col("doc_id"), col("bk.band"), col("bk.h"))
    val candidates = bucketPairs(buckets
      .groupBy(col("band"), col("h"))
      .agg(collect_set(col("doc_id")).as("members"))
      .filter(size(col("members")).between(2, maxBucket)))
    verifyJaccard(spark, sfDir, candidates, tau)
  }

  /** Pair-explosion SQL over a pre-sorted member array `m`: emits the
    * upper triangle (i < j) of m × m. `m` MUST already be a bound,
    * sorted attribute — sorting inside the lambda would re-evaluate
    * array_sort once per element (higher-order lambdas re-evaluate
    * captured non-attribute expressions; measured O(n² log n) per
    * bucket, the dominant cost of the round-1 df-capped operator). */
  private val upperTrianglePairs =
    """flatten(transform(m, (x, xi) ->
      |  transform(slice(m, xi + 2, size(m)), y -> struct(x AS i, y AS j))))""".stripMargin

  /** Canonical i<j pairs from bucket member sets (shared by the LSH
    * and df-capped candidate generators): one grouped pass, pairs
    * exploded per bucket. */
  private def bucketPairs(grouped: DataFrame): DataFrame =
    grouped
      .select(sort_array(col("members")).as("m"))
      .select(explode(expr(upperTrianglePairs)).as("p"))
      .select(col("p.i"), col("p.j"))
      .distinct()

  /** Exact-jaccard verification of candidate (i, j) pairs against the
    * full shingle sets. */
  private[dedup] def verifyJaccard(spark: SparkSession, sfDir: String,
      candidates: DataFrame, tau: Double): DataFrame = {
    val shs = docShingles(spark, sfDir)
    candidates
      .join(shs.select(col("doc_id").as("i"), col("sh").as("sa")), "i")
      .join(shs.select(col("doc_id").as("j"), col("sh").as("sb")), "j")
      .filter(size(array_intersect(col("sa"), col("sb"))).cast("double") /
        size(array_union(col("sa"), col("sb"))) >= tau)
      .select(col("i"), col("j"))
  }

  /** Scale variant of [[ngramJaccard]]: Jaccard over the
    * DISCRIMINATIVE shingle universe — shingles with document
    * frequency above `maxDf` are dropped from both intersection and
    * union (a shingle shared by d docs contributes d² join pairs, so
    * ubiquitous shingles make the exact join quadratic at 100 TB
    * while carrying almost no signal; dropping them from the metric
    * is the standard stop-shingle treatment). Everything derives from
    * ONE grouped pass over the postings: |A∩B| is the per-pair bucket
    * co-occurrence count and |A|,|B| are per-doc counts of capped
    * shingles — integer arithmetic, no per-pair array re-intersection
    * (round 1 verified candidates against the full string-array sets;
    * the interpreted array_intersect over ~10⁶ candidate pairs was
    * 100+ s at sf0.1 vs ~2 s for this formulation). Rows-only gate
    * (deliberate metric change vs [[ngramJaccard]]); DedupSpec pins
    * that the planted near-dup pairs are exactly recovered. */
  def ngramJaccardCapped(spark: SparkSession, sfDir: String, tau: Double = 0.5,
      maxDf: Int = 100): DataFrame = {
    // df ≤ maxDf groups (df-1 groups still count toward |A|: they are
    // in the capped universe even though they generate no pairs)
    // materialized once: both consumers (per-doc counts + pair
    // generation) would otherwise re-execute postings + groupBy
    val groups = shinglePostings(spark, sfDir)
      .groupBy(col("s"))
      .agg(collect_set(col("doc_id")).as("members"))
      .filter(size(col("members")) <= maxDf)
      .select(sort_array(col("members")).as("m"))
      .localCheckpoint()
    val counts = groups
      .select(explode(col("m")).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val common = groups
      .filter(size(col("m")) >= 2)
      .select(explode(expr(upperTrianglePairs)).as("p"))
      .groupBy(col("p.i").as("i"), col("p.j").as("j"))
      .agg(count(lit(1)).as("c"))
    // counts is one small row per doc; at sf scales AQE broadcasts it,
    // at 100 TB it shuffle-joins on the pair keys — both are fine
    common
      .join(counts.select(col("doc_id").as("i"), col("n").as("na")), "i")
      .join(counts.select(col("doc_id").as("j"), col("n").as("nb")), "j")
      .filter(col("c").cast("double") / (col("na") + col("nb") - col("c")) >= tau)
      .select(col("i"), col("j"))
  }

  /** 64-bit SimHash of a feature set: bit b of the signature is the
    * sign of Σ_features (±1 per bit of the feature hash). Features are
    * the distinct word-3-gram shingles (not raw tokens: with a tiny
    * vocabulary, token-count features leave the per-bit sums hovering
    * near zero and the signature unstable). Near-dup = Hamming ≤
    * `maxHamming`, blocked by 8 × 8-bit bands (any pair within
    * distance 7 shares at least one exact band). With few features per
    * doc the signature is noisy — J≈0.97 pairs land at Hamming 5-10 —
    * so the default radius is 7, the largest the banding covers. */
  def simhash64(tokens: Iterable[String]): Long = {
    val acc = new Array[Long](64)
    tokens.foreach { t =>
      // two 32-bit murmurs with distinct seeds → 64 bits (no cross-
      // engine parity required: the oracle takes the dumped sigs on
      // faith and re-derives only what is downstream of them)
      val h1 = scala.util.hashing.MurmurHash3.stringHash(t, 0x9747b28c)
      val h2 = scala.util.hashing.MurmurHash3.stringHash(t, 0x85ebca6b)
      val h = (h1.toLong << 32) | (h2.toLong & 0xffffffffL)
      var b = 0
      while (b < 64) { acc(b) += (if (((h >>> b) & 1L) == 1L) 1L else -1L); b += 1 }
    }
    var sig = 0L
    var b = 0
    while (b < 64) { if (acc(b) > 0) sig |= (1L << b); b += 1 }
    sig
  }

  final case class SimhashRow(doc_id: Long, sig: Long)

  /** This run's signature side-dump path for a corpus dir basename;
    * the simhash oracles name it for the corpus dir they are given. */
  def simhashDumpPath(base: String): String =
    graft.core.SideDump.path("simhash_sigs", base)

  /** Corpus SimHash signatures (docs with no shingles dropped — they
    * would all share signature 0 and pair with each other). The
    * signature frame is SIDE-DUMPED run-scoped: the per-doc map-only
    * signature pass is the only thing the simhash oracles take on
    * faith — banding, bucket caps, radius-1 probe fan-out, the
    * Hamming filter, and pair generation are all re-derived in DuckDB
    * from the dumped sigs (pure 64-bit arithmetic; DuckDB's >>/xor/
    * bit_count match Java's on negatives). Deterministic map, so the
    * two simhash gates sharing one dump kind always overwrite it with
    * identical content. */
  private[graft] def simhashSigs(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // checkpoint (widened when narrow) BEFORE the side dump: the
    // dump's coalesce(1) otherwise RECOMPUTES the shingle+simhash
    // pass serially (measured 3.8 s, r17 stage audit), and every
    // downstream consumer pays the pass again — one wide computation,
    // one cheap dump read, one shared frame
    val sigs = graft.core.Widen.ifNarrow(
      docShingles(spark, sfDir)
        .as[(Long, Seq[String])]
        .filter(_._2.nonEmpty)
        .map { case (id, feats) => SimhashRow(id, simhash64(feats)) }
        .toDF()
        .localCheckpoint())
    val base = new java.io.File(sfDir).getName
    graft.core.SideDump.write(sigs, "simhash_sigs", base)
    sigs
  }

  /** (doc_id, sig, band, h) — the 8 × 8-bit band postings of a
    * signature frame. */
  private def simhashBanded(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"), col("sig"),
        explode(expr(
          "transform(sequence(0, 7), b -> struct(b AS band, shiftright(sig, b*8) & 255 AS h))")).as("bk"))
      .select(col("doc_id"), col("sig"), col("bk.band"), col("bk.h"))

  /** Exact-band candidate pairs (i, j, dist) from a signature frame. */
  private[graft] def simhashBandPairs(sigs: DataFrame, maxBucket: Int): DataFrame =
    simhashBanded(sigs)
      // explicit width on the bucket shuffle: the grouped frame is a
      // few KB (≤ 2048 buckets), so AQE folds the ENSURE_REQUIREMENTS
      // exchange to 1-4 partitions — but the QUADRATIC member-pair
      // explode above it is row-expanding compute AQE's byte
      // heuristic cannot see (r17 stage audit: 6.5 s serial on the
      // image-dedup gates). A user repartition on the same keys is
      // the same single shuffle at pinned width.
      .repartition(sigs.sparkSession.sparkContext.defaultParallelism,
        col("band"), col("h"))
      .groupBy(col("band"), col("h"))
      .agg(collect_list(struct(col("doc_id"), col("sig"))).as("members"))
      .filter(size(col("members")).between(2, maxBucket))
      // sorted members projected to a bound attribute before the pair
      // lambda (same re-evaluation hazard as upperTrianglePairs)
      .select(sort_array(col("members")).as("m"))
      .select(explode(expr(
        """flatten(transform(m, (x, xi) ->
          |  transform(slice(m, xi + 2, size(m)),
          |    y -> struct(x.doc_id AS i, y.doc_id AS j,
          |                bit_count(x.sig ^ y.sig) AS dist))))""".stripMargin)).as("p"))
      .select(col("p.i"), col("p.j"), col("p.dist"))
      .distinct()

  /** SimHash near-dup pairs at Hamming ≤ maxHamming (default 7).
    * 8-bit bands bucket coarsely, so the same degenerate-bucket cap as
    * MinHash LSH guards the candidate join at scale. */
  def simhashPairs(spark: SparkSession, sfDir: String, maxHamming: Int = 7,
      maxBucket: Int = 1000): DataFrame =
    // 8 bands × 8 bits: Hamming ≤ 7 guarantees ≥1 identical band
    simhashBandPairs(simhashSigs(spark, sfDir), maxBucket)
      .filter(col("dist") <= maxHamming).select(col("i"), col("j"))

  /** MULTI-PROBE SimHash (Lv et al., "Multi-Probe LSH", VLDB 2007,
    * adapted to banded Hamming space): each doc additionally probes
    * the 8 radius-1 perturbations of every band byte, so two docs
    * collide whenever SOME band differs by ≤ 1 bit — which pigeonhole
    * guarantees for Hamming ≤ 15 over 8 bands, doubling the exact-band
    * radius (≤ 7) without adding bands or signature bits. Cost: 8×
    * more probe rows into the same bucket join (the buckets themselves
    * — and the cap — are unchanged), the standard multi-probe trade of
    * a little query fan-out for a lot of table memory.
    * Candidate pairs still pay an exact bit_count verification. */
  def simhashPairsMultiProbe(spark: SparkSession, sfDir: String,
      maxHamming: Int = 15, maxBucket: Int = 1000): DataFrame =
    simhashPairsMultiProbeOf(simhashSigs(spark, sfDir), maxHamming, maxBucket)

  private[graft] def simhashPairsMultiProbeOf(sigs0: DataFrame,
      maxHamming: Int, maxBucket: Int): DataFrame = {
    // three consumers (buckets, probes, exact-band pairs) — materialize
    // the narrow signature pass once; widened when the checkpoint
    // arrives narrow so every consumer's map side runs at cluster
    // width (graft.core.Widen, r17 stage audit). FLOORED (r18): the
    // signatures here are already computed — the expensive upstream
    // (decode, shingling) ran before the checkpoint — so below
    // TinyRows the banding/8-probe maps are milliseconds and widening
    // is pure fixed cost (the r17 mm_*_dedup +0.8-1.0 s).
    val sigs = graft.core.Widen.ifNarrow(sigs0.localCheckpoint(),
      graft.core.Widen.TinyRows)
    val np = sigs.sparkSession.sparkContext.defaultParallelism
    val banded = simhashBanded(sigs)
    val buckets = banded
      .groupBy(col("band"), col("h"))
      .agg(collect_list(struct(col("doc_id"), col("sig"))).as("members"))
      .filter(size(col("members")).between(1, maxBucket))
    // radius-1 probes: flip each of the 8 bits of the band byte;
    // explicit width on the join-key shuffle — the probe×bucket join
    // EXPANDS rows (explode(members)), which AQE's byte-based
    // coalescing under-provisions to 1-2 tasks at gate scale
    val probes = banded.select(col("doc_id"), col("sig"), col("band"),
      explode(expr(
        "transform(sequence(0, 7), p -> h ^ shiftleft(1L, p))")).as("h"))
      .repartition(np, col("band"), col("h"))
    val viaProbe = probes.join(buckets, Seq("band", "h"))
      .select(col("doc_id").as("a"), col("sig").as("siga"),
        explode(col("members")).as("m"))
      .filter(col("a") =!= col("m.doc_id"))
      .select(least(col("a"), col("m.doc_id")).as("i"),
        greatest(col("a"), col("m.doc_id")).as("j"),
        expr("bit_count(siga ^ m.sig)").as("dist"))
    simhashBandPairs(sigs, maxBucket)
      .union(viaProbe)
      .filter(col("dist") <= maxHamming)
      .select(col("i"), col("j"))
      .distinct()
  }

  /** WIDE-BAND multi-probe SimHash — the CORPUS-SCALE formulation of
    * [[simhashPairsMultiProbe]], motivated by a MEASURED failure: at
    * the 133× rehearsal (~500 k docs) the 8-bit bands' 256 buckets
    * per band hold ~2 000 docs each, so virtually every bucket blows
    * the degenerate-bucket cap and candidate recall COLLAPSES to
    * 0.003 (BENCH_NOTES r11, "banded-path RECALL measured") — the cap was doing exactly
    * what caps do, silently. The bucket space, not the cap, is the
    * broken knob: band width must grow with log n (Manku et al.,
    * "Detecting Near-Duplicates for Web Crawling", WWW 2007 — their
    * permuted-prefix tables embody the same law).
    *
    * Here: 4 bands × 16 bits → 65 536 buckets per band (occupancy
    * n/65 536 — ~8 docs at 500 k, caps far from binding), probing
    * ALL ≤ 3-bit perturbations of each band value on the query side
    * (697 masks, identity included). Pigeonhole: Hamming ≤ 15 over 4
    * bands puts ≤ 3 differing bits in the best band, so every
    * qualifying pair collides in some probe — same ≤ 15 guarantee as
    * the 8-band radius-1 scheme, paid as 4·697 probe rows per doc
    * (linear in n) instead of collapsed recall. Candidates still pay
    * the exact bit_count verify; emission is canonical (i < j,
    * distinct). */
  def simhashPairsWide(spark: SparkSession, sfDir: String,
      maxHamming: Int = 15, maxBucket: Int = 1000,
      sizeHint: Option[Long] = None): DataFrame = {
    requireWideBand(maxHamming)
    // widened when narrow: the 4·697 probe-mask explode below is the
    // heavy map stage, and a 1-partition checkpoint would run it
    // serial — measured 9.4 s of the 11.4 s gate wall (r17 audit)
    val sigs = graft.core.Widen.ifNarrow(
      simhashSigs(spark, sfDir).localCheckpoint())
    // regime pick: a caller-supplied size hint skips the count()
    // pre-scan — composed pipelines at corpus scale should not pay a
    // full pass over the signature frame just to choose a plan
    // (r11 What's-wrong #3); the checkpointed frame is handed to the
    // cores directly so neither regime re-checkpoints (one fewer job)
    val n = sizeHint.getOrElse(sigs.count())
    if (n >= WideBalancedAbove) wideBalancedCore(sigs, maxHamming, maxBucket)
    else wideCore(sigs, maxHamming, maxBucket)
  }

  /** The BALANCED regime behind its own front door — the registered
    * gate for the formulation that is the only correct choice at
    * corpus scale (> [[WideBalancedAbove]] docs), forced below the
    * switch so the oracle (the same Hamming ≤ 15 all-pairs ground
    * truth as dedup_simhash_wide) hash-pins it rather than leaving it
    * spec-only — the dedup_clusters_dist treatment. */
  def simhashPairsWideBalanced(spark: SparkSession, sfDir: String,
      maxHamming: Int = 15, maxBucket: Int = 1000): DataFrame = {
    requireWideBand(maxHamming)
    wideBalancedCore(graft.core.Widen.ifNarrow(
      simhashSigs(spark, sfDir).localCheckpoint()), maxHamming, maxBucket)
  }

  /** The 4 × 16-bit wide-band schemes are pigeonhole-complete ONLY
    * for Hamming ≤ 15 (≤ 3 differing bits in the best band = the
    * probe radius); a larger threshold would silently lose recall
    * (ADVICE r11). */
  private def requireWideBand(maxHamming: Int): Unit =
    require(maxHamming <= 15,
      s"wide-band SimHash is pigeonhole-complete only for maxHamming <= 15 " +
        s"(4 bands x radius-3 probes); got $maxHamming")

  /** Wide-band buckets whose (expanded) occupancy exceeds `maxBucket`
    * — the ONE recall-loss channel of the wide-band schemes, made
    * observable: [[simhashPairsWide]] drops these whole (by design —
    * the df-cap discipline), so a corpus where this frame is
    * non-empty can diverge from the all-pairs oracle and a production
    * run should log/inspect it before trusting the pair set
    * (ADVICE r11: cap-drops must be detectable). `balanced = true`
    * audits the build ≤ 1 expanded occupancy the balanced regime
    * caps. Empty on the gate fixture (spec-asserted). */
  def wideBandDrops(sigs0: DataFrame, maxBucket: Int = 1000,
      balanced: Boolean = false): DataFrame = {
    val banded = wideBanded(sigs0)
    val posted =
      if (!balanced) banded
      else banded.select(col("doc_id"), col("band"),
        explode(expr(s"transform(array(${wideBuildMasks.mkString(",")}), " +
          "m -> h ^ m)")).as("h"))
    posted.groupBy(col("band"), col("h")).count()
      .filter(col("count") > maxBucket)
      .select(col("band"), col("h"), col("count").as("cnt"))
  }

  /** Doc count above which [[simhashPairsWide]] switches from
    * query-side radius-3 probing to the BALANCED build ≤ 1 / probe ≤ 2
    * split (same regime-switch convention as the hash-min CC and
    * incremental-seeding thresholds): the balanced form's probe
    * shuffle is ~4.5× lighter (616 vs 2 788 rows/doc), but it pays a
    * 17× build-side bucket expansion and, on dup-saturated corpora,
    * duplicated join output per near-identical pair — overheads that
    * only amortize once the probe shuffle dominates, i.e. at corpus
    * scale. Below the threshold (every gate corpus) the query-side
    * form is the economical one and the registered plan stays put. */
  private[graft] val WideBalancedAbove: Long = 100000L

  /** (doc_id, sig, band, h) — the 4 × 16-bit band postings. */
  private def wideBanded(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"), col("sig"),
        explode(expr(
          "transform(sequence(0, 3), b -> struct(b AS band, shiftright(sig, b*16) & 65535 AS h))")).as("bk"))
      .select(col("doc_id"), col("sig"), col("bk.band"), col("bk.h"))

  /** The 17 build-side masks of the balanced split: identity + the
    * 16 single-bit flips. */
  private[graft] val wideBuildMasks: Seq[Long] =
    (0L +: (0 until 16).map(b => 1L << b)).sorted

  private[graft] def simhashPairsWideOf(sigs0: DataFrame,
      maxHamming: Int, maxBucket: Int): DataFrame = {
    requireWideBand(maxHamming)
    wideCore(sigs0.localCheckpoint(), maxHamming, maxBucket)
  }

  private def wideCore(sigs: DataFrame,
      maxHamming: Int, maxBucket: Int): DataFrame = {
    val banded = wideBanded(sigs)
    val buckets = banded
      .groupBy(col("band"), col("h"))
      .agg(collect_list(struct(col("doc_id"), col("sig"))).as("members"))
      .filter(size(col("members")).between(1, maxBucket))
    // the 697 xor-masks of popcount ≤ 3 over 16 bits: xors of three
    // members of {1<<0 .. 1<<15, 0} (index 16 = no flip — covers
    // popcount 0 and 2 as degenerate triples)
    val masks = (for (a <- 0 to 16; b <- 0 to 16; c <- 0 to 16)
      yield (((1 << a) ^ (1 << b) ^ (1 << c)) & 0xffff).toLong)
      .distinct.sorted
    val probes = banded.select(col("doc_id"), col("sig"), col("band"),
      explode(expr(
        s"transform(array(${masks.mkString(",")}), m -> h ^ m)")).as("h"))
    // shuffle-hash, NEVER broadcast: the buckets frame is
    // corpus-sized (one members row per occupied bucket, the whole
    // corpus inside the member lists) — AQE's size estimate for the
    // collect_list aggregate undershoots and a broadcast attempt
    // OOMs the driver at rehearsal scale (measured at 13×); both
    // sides partition on (band, h), so the per-task build side is
    // bounded by the shuffle partitioning
    probes.join(buckets.hint("shuffle_hash"), Seq("band", "h"))
      .select(col("doc_id").as("a"), col("sig").as("siga"),
        explode(col("members")).as("m"))
      .filter(col("a") =!= col("m.doc_id"))
      .select(least(col("a"), col("m.doc_id")).as("i"),
        greatest(col("a"), col("m.doc_id")).as("j"),
        expr("bit_count(siga ^ m.sig)").as("dist"))
      .filter(col("dist") <= maxHamming)
      .select(col("i"), col("j"))
      .distinct()
  }

  /** Wide-band pairs with EXACT-SIGNATURE COLLAPSE — the
    * [[EditDedup.editPairsOf]] collapse lever applied to the
    * SIGNATURE domain, motivated by a MEASURED rehearsal failure
    * (the 13× ingest rehearsal, BENCH_NOTES r13): tiny images hash to
    * LOW-ENTROPY aHashes (a 2×2-block frame has ~4 independent aHash
    * cells), so at 65 k docs the 8-bit-band multi-probe scheme's
    * buckets blow the df-cap and planted-twin recall collapsed to
    * 0.31 — the r11 band-width law (bucket space must grow with
    * log n) compounded by identical-signature cliques that cap out
    * at ANY band width. Signatures being what the Hamming contract
    * is computed ON, byte-identical sigs are interchangeable:
    * collapse each distinct sig to its min-id holder, run the
    * wide-band core (4 × 16-bit bands, radius-3 probes — pigeonhole
    * ≤ 15) over DISTINCT SIGNATURES — occupancy now scales with sig
    * entropy, not corpus size — and expand algebraically: within-sig
    * pairs at dist 0, rep-pair verdicts inherited by every member
    * pair (same sigs, same distance). Exactness-preserving by
    * construction; the giant identical-sig cliques a real crawl's
    * placeholder images form become generated OUTPUT, never shuffled
    * candidates. The production scale path for every media hash
    * family; gate `mm_image_dedup_wide` pins it against the
    * all-pairs Hamming ≤ 15 truth. */
  def simhashPairsWideCollapsedOf(sigs0: DataFrame, maxHamming: Int = 15,
      maxBucket: Int = 1000): DataFrame = {
    requireWideBand(maxHamming)
    // both checkpoints widened when narrow (graft.core.Widen): reps
    // feeds wideCore's 4·697 probe-mask explode, which a 1-partition
    // checkpoint runs serial — measured 5 s of the flac gate wall
    // (r17 stage audit)
    val sigs = graft.core.Widen.ifNarrow(sigs0.localCheckpoint())
    val reps = graft.core.Widen.ifNarrow(
      sigs.groupBy(col("sig")).agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id"), col("sig"))
        .localCheckpoint())
    val members = sigs
      .join(reps.select(col("sig"), col("doc_id").as("rep")), Seq("sig"))
      .select(col("rep"), col("doc_id"))
    val repPairs = wideCore(reps, maxHamming, maxBucket)
    val within = members.as("x").join(members.as("y"),
        col("x.rep") === col("y.rep") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("i"), col("y.doc_id").as("j"))
    // rep pairs are distinct and groups are disjoint, so the union is
    // duplicate-free without a distinct pass
    val cross = repPairs
      .join(members.select(col("rep").as("i"), col("doc_id").as("di")), Seq("i"))
      .join(members.select(col("rep").as("j"), col("doc_id").as("dj")), Seq("j"))
      .select(least(col("di"), col("dj")).as("i"),
        greatest(col("di"), col("dj")).as("j"))
    within.unionByName(cross)
  }

  /** BALANCED wide-band SimHash — [[simhashPairsWideOf]] with the
    * Hamming-≤ 3 band radius SPLIT across the join instead of paid
    * entirely on the query side: the build side indexes every ≤ 1-bit
    * perturbation of each band value (17 masks) and the query side
    * probes every ≤ 2-bit perturbation (137 masks). Two band values at
    * distance δ, |δ| ≤ 3, always meet — δ = m1 ⊕ m2 with |m1| ≤ 1,
    * |m2| ≤ 2 always has a solution (|δ| ≤ 2 → m1 = 0; |δ| = 3 → m1 =
    * any one bit of δ) — so the pigeonhole guarantee is unchanged.
    *
    * What moves: the probe shuffle drops from 4·697 = 2 788 to
    * 4·137 = 548 rows/doc (the dominant volume at corpus scale, where
    * candidates are rare and probes are not), against a 4·17 = 68
    * rows/doc build expansion. What it costs: `maxBucket` now caps
    * EXPANDED occupancy (≈ 17·n/65 536 expected — the per-task member
    * list, which is the quantity the cap exists to bound), and a pair
    * whose band delta has many (m1, m2) decompositions would surface
    * once per decomposition; a CANONICAL-WITNESS filter (accept only
    * m1 = 0, or m1 = lowest set bit of δ when |δ| = 3) keeps exactly
    * one witness per (pair, band) before the verify, so join output
    * stays one row per qualifying collision, same as the query-side
    * form. */
  private[graft] def simhashPairsWideBalancedOf(sigs0: DataFrame,
      maxHamming: Int, maxBucket: Int): DataFrame = {
    requireWideBand(maxHamming)
    wideBalancedCore(sigs0.localCheckpoint(), maxHamming, maxBucket)
  }

  private def wideBalancedCore(sigs: DataFrame,
      maxHamming: Int, maxBucket: Int): DataFrame = {
    val banded = wideBanded(sigs)
    val buildMasks = wideBuildMasks
    val probeMasks = (for (a <- 0 to 16; b <- 0 to 16)
      yield (((1 << a) ^ (1 << b)) & 0xffff).toLong).distinct.sorted
    val buckets = banded.select(col("doc_id"), col("sig"), col("band"),
        explode(expr(s"transform(array(${buildMasks.mkString(",")}), " +
          "m -> struct(h ^ m AS h, m AS m1))")).as("e"))
      .select(col("doc_id"), col("sig"), col("band"), col("e.h"), col("e.m1"))
      .groupBy(col("band"), col("h"))
      .agg(collect_list(struct(col("doc_id"), col("sig"), col("m1"))).as("members"))
      .filter(size(col("members")).between(1, maxBucket))
    val probes = banded.select(col("doc_id"), col("sig"), col("band"),
      explode(expr(s"transform(array(${probeMasks.mkString(",")}), " +
        "m -> struct(h ^ m AS h, m AS m2))")).as("p"))
      .select(col("doc_id"), col("sig"), col("band"), col("p.h"), col("p.m2"))
    // shuffle-hash for the same reason as the query-side form: the
    // buckets frame is corpus-sized and must never be broadcast
    probes.join(buckets.hint("shuffle_hash"), Seq("band", "h"))
      .select(col("doc_id").as("a"), col("sig").as("siga"), col("m2"),
        explode(col("members")).as("m"))
      .filter(col("a") =!= col("m.doc_id"))
      // canonical witness: δ = m1 ⊕ m2 is the band delta; keep only
      // m1 = 0 (|δ| ≤ 2) or m1 = δ & −δ (|δ| = 3) — exactly one
      // surviving (m1, m2) per (pair, band)
      .filter(expr(
        "m.m1 = CASE WHEN bit_count(m.m1 ^ m2) = 3 " +
          "THEN (m.m1 ^ m2) & -(m.m1 ^ m2) ELSE 0 END"))
      .select(least(col("a"), col("m.doc_id")).as("i"),
        greatest(col("a"), col("m.doc_id")).as("j"),
        expr("bit_count(siga ^ m.sig)").as("dist"))
      .filter(col("dist") <= maxHamming)
      .select(col("i"), col("j"))
      .distinct()
  }

  /** Near-dup CLUSTERS: connected components over a near-dup pair
    * graph, the stage that turns pairwise matches into keep/drop
    * decisions (cluster id = min doc_id of the component; the min doc
    * is the canonical copy, everything else in the cluster is a drop).
    *
    * The component computation runs over the EDGE GRAPH'S VERTICES
    * ONLY, never the corpus: a document with no near-dup pair can
    * never change label, so singletons stay out entirely and rejoin
    * once at the end (broadcast — the converged label table is
    * graph-sized). Two regimes behind one API:
    *
    *  - Edge lists up to `driverMaxEdges` collapse to a DRIVER
    *    union-find (path-halving): the near-dup graph of even a
    *    petabyte corpus is usually megabytes, and a driver pass costs
    *    milliseconds where each distributed round costs a full
    *    scheduling+shuffle cycle. This is the common case.
    *  - Larger graphs run distributed hash-min label propagation:
    *    each round joins the edge list with the label table and takes
    *    the neighborhood min; converges in O(component diameter)
    *    rounds (near-dup components are almost-cliques, diameter ≤ ~2;
    *    `maxIters` bounds adversarial graphs). Per-round lineage is
    *    truncated with localCheckpoint — an iterative algorithm
    *    otherwise compounds its plan each round.
    *
    * Output: (doc_id, cluster_id) for every document in `docs`
    * (singletons map to themselves). */
  def connectedComponents(docs: DataFrame, idCol: String, pairs: DataFrame,
      maxIters: Int = 20, driverMaxEdges: Long = 4000000L,
      pairCountHint: Option[Long] = None): DataFrame = {
    val edges = pairs.select(col("i").as("src"), col("j").as("dst"))
      .union(pairs.select(col("j").as("src"), col("i").as("dst")))
      .localCheckpoint()
    // regime pick: a caller that already knows (or bounds) its pair
    // count passes the hint and skips the count() pre-scan — composed
    // pipelines at corpus scale shouldn't pay a full pass over the
    // edge frame just to choose a plan (r11 What's-wrong #3; the
    // simhashPairsWide sizeHint twin). The count is of PAIRS; the
    // doubled edge frame is compared against 2× the driver budget.
    // A hint is trusted for the plan pick but NOT for driver safety:
    // an underestimate would collect an unbounded edge list onto the
    // driver (ADVICE r12), so the driver path is gated by a
    // LIMIT-bounded probe of the already-materialized checkpoint —
    // it stops at the cap instead of scanning everything, and an
    // overflow degrades to hash-min instead of failing the job.
    val edgeBudget = 2L * driverMaxEdges
    val small = pairCountHint match {
      case Some(h) => h <= driverMaxEdges &&
        edges.limit(math.min(edgeBudget + 1, Int.MaxValue.toLong).toInt)
          .count() <= edgeBudget
      case None => edges.count() / 2 <= driverMaxEdges
    }
    lastHashMinIters = 0 // driver path reports 0; hash-min overwrites
    val labels = if (small) driverUnionFind(edges) else hashMinLabels(edges, maxIters)
    // broadcast only the driver-sized result; the large-regime label
    // table is exactly what must NOT be collected to the driver
    val joined = if (small) broadcast(labels) else labels
    docs.select(col(idCol).as("doc_id"))
      .join(joined, col("doc_id") === col("id"), "left")
      .select(col("doc_id"), coalesce(col("comp"), col("doc_id")).as("cluster_id"))
  }

  /** Small-graph path: collect the edge list, union-find with path
    * halving + min-id canonical roots, return (id, comp) rows. */
  private def driverUnionFind(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x0: Long): Long = {
      var x = x0
      while (parent(x) != x) {
        parent(x) = parent(parent(x)) // path halving
        x = parent(x)
      }
      x
    }
    edges.select(col("src").cast("long"), col("dst").cast("long"))
      .collect().foreach { r =>
        val (a, b) = (r.getLong(0), r.getLong(1))
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        // union by min id keeps the canonical-copy semantics explicit
        if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
      }
    parent.keys.toSeq.map(id => (id, find(id))).toDF("id", "comp")
  }

  /** Iterations the last [[hashMinLabels]] run took to reach its
    * fixpoint (0 when the driver union-find path ran instead) — the
    * scale rehearsal's observability knob (the r10 paper-scale
    * SemDeDup rehearsal, BENCH_NOTES Round 9, recorded
    * iterations-to-fixpoint alongside the wall). */
  @volatile private[graft] var lastHashMinIters: Int = 0

  /** Large-graph path: distributed hash-min label propagation. */
  private def hashMinLabels(edges: DataFrame, maxIters: Int): DataFrame = {
    lastHashMinIters = 0
    var labels = edges.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("comp"))
      .localCheckpoint()
    var converged = false
    var it = 0
    while (!converged && it < maxIters) {
      val nbrMin = edges.join(labels, edges("dst") === labels("id"))
        .groupBy(col("src")).agg(min(col("comp")).as("nbr_comp"))
      // carry the previous label through the pass so convergence is
      // read off the materialized round, not via an extra self-join
      val next = labels.join(nbrMin, labels("id") === nbrMin("src"), "left")
        .select(col("id"), col("comp").as("prev"),
          least(col("comp"), coalesce(col("nbr_comp"), col("comp"))).as("comp"))
        .localCheckpoint()
      converged = next.filter(col("comp") =!= col("prev")).limit(1).count() == 0
      labels = next.select(col("id"), col("comp"))
      it += 1
    }
    lastHashMinIters = it
    labels.select(col("id"), col("comp"))
  }

  /** Cluster assignment for the documents table from the exact n-gram
    * Jaccard pairs — the full dedup pipeline end to end (pairs →
    * components → canonical mapping). Exact-pair generation is
    * quadratic in per-shingle document frequency; the SCALE
    * composition of the same pipeline is [[ngramClustersLsh]]. */
  def ngramClusters(spark: SparkSession, sfDir: String, tau: Double = 0.5): DataFrame =
    connectedComponents(
      documents(spark, sfDir).select(col("doc_id")),
      "doc_id",
      ngramJaccard(spark, sfDir, tau))

  /** SCALE-PATH cluster assignment: the same components + canonical
    * mapping over the BANDED, BUCKET-CAPPED MinHash-LSH pair generator
    * — candidate generation is linear in corpus size instead of
    * quadratic in per-shingle df. At the verification threshold
    * (tau = 0.5) against the planted J ≥ 0.9 near-dups, per-pair LSH
    * recall is 1−(1−J⁴)¹⁶ ≈ 1−4e-8, so the pair set — and therefore
    * the clustering — equals the exact operator's, which is why this
    * query shares `dedup_clusters`' recursive-CTE hash oracle. */
  def ngramClustersLsh(spark: SparkSession, sfDir: String, tau: Double = 0.5): DataFrame =
    connectedComponents(
      documents(spark, sfDir).select(col("doc_id")),
      "doc_id",
      minhashLsh(spark, sfDir, tau))

  /** [[ngramClustersLsh]] FORCED through the distributed hash-min
    * label-propagation regime (driverMaxEdges = 0) — hash-min unions
    * toward the same min-id canonical labels as the driver union-find,
    * so this shares `dedup_clusters`' recursive-CTE oracle and stands
    * as the hash gate for the large-graph path (which a 100 TB corpus
    * always takes; measured at 4.8M edges, BENCH_NOTES Round 9 r10). */
  def ngramClustersDist(spark: SparkSession, sfDir: String, tau: Double = 0.5): DataFrame =
    connectedComponents(
      documents(spark, sfDir).select(col("doc_id")),
      "doc_id",
      minhashLsh(spark, sfDir, tau),
      driverMaxEdges = 0L)

  /** Train/val split leakage — the decontamination check a held-out
    * set needs before any eval is trusted: a deterministic id-hash
    * split (doc_id mod 10 == 0 → val, 10%) and the near-duplicate
    * pairs that CROSS the boundary. A val doc with a train near-dup
    * is a leaked answer; the output (train_doc, val_doc) is exactly
    * the removal list. The pair source is PLUGGABLE — the split
    * annotation is a map-only pass over whatever near-dup pair frame
    * is supplied, no extra shuffle. */
  def splitLeakageFrom(pairs: DataFrame): DataFrame =
    pairs
      .select(col("i"), col("j"),
        (pmod(col("i"), lit(10)) === 0).as("i_val"),
        (pmod(col("j"), lit(10)) === 0).as("j_val"))
      .filter(col("i_val") =!= col("j_val"))
      .select(
        when(col("i_val"), col("j")).otherwise(col("i")).as("train_doc"),
        when(col("i_val"), col("i")).otherwise(col("j")).as("val_doc"))

  /** Leakage over the exact n-gram Jaccard pairs (oracle formulation). */
  def splitLeakage(spark: SparkSession, sfDir: String, tau: Double = 0.5): DataFrame =
    splitLeakageFrom(ngramJaccard(spark, sfDir, tau))

  /** Leakage over the LSH pair generator — the scale composition;
    * shares the exact oracle for the same recall reason as
    * [[ngramClustersLsh]]. */
  def splitLeakageLsh(spark: SparkSession, sfDir: String, tau: Double = 0.5): DataFrame =
    splitLeakageFrom(minhashLsh(spark, sfDir, tau))

  /** Leakage-SAFE split assignment — the CONSTRUCTIVE twin of
    * [[splitLeakageFrom]]: instead of detecting near-dup pairs that
    * cross a doc-hash split boundary, build the split so none CAN
    * cross. Documents are clustered into near-dup components first
    * ([[connectedComponents]] — min-id canonical rep, singletons map
    * to themselves) and the split key is the CLUSTER id, so every
    * member of a component lands on the same side by construction;
    * zero leakage is a structural invariant of the output, not a
    * property to audit afterwards. Split rule keeps
    * [[splitLeakageFrom]]'s convention (key mod 10: 0 → val, and 1 →
    * test, else train — 10/10/80). At production scale substitute a
    * salted hash of the cluster id for the plain mod (sequential
    * crawl ids correlate with fetch time, so contiguous-id splits
    * skew); the mod form is the engine/oracle shared convention.
    * Map-only over the cluster frame — the component computation is
    * the only shuffle, and it runs on the pair GRAPH, not the corpus.
    * Output: (doc_id, cluster_id, split). */
  def leakSafeSplitFrom(docs: DataFrame, idCol: String, pairs: DataFrame): DataFrame =
    connectedComponents(docs, idCol, pairs)
      .select(col("doc_id"), col("cluster_id"),
        when(pmod(col("cluster_id"), lit(10)) === 0, lit("val"))
          .when(pmod(col("cluster_id"), lit(10)) === 1, lit("test"))
          .otherwise(lit("train")).as("split"))

  /** Leak-safe split over the BANDED, BUCKET-CAPPED LSH pair
    * generator — the scale composition; shares the exact-pairs
    * recursive-CTE oracle for the same recall reason as
    * [[ngramClustersLsh]]. */
  def leakSafeSplit(spark: SparkSession, sfDir: String, tau: Double = 0.5): DataFrame =
    leakSafeSplitFrom(documents(spark, sfDir).select(col("doc_id")), "doc_id",
      minhashLsh(spark, sfDir, tau))

  /** [[leakSafeSplitFrom]] with the PRODUCTION split rule: the split
    * key is a SALTED HASH of the cluster id, not the plain mod —
    * sequential crawl ids correlate with fetch time, so contiguous-id
    * mod splits skew toward crawl epochs, while a salted hash is
    * epoch-blind. The hash is the engine's established md5-prefix
    * threshold convention ([[graft.text.Sampling]]'s byte-identical
    * Bernoulli gate): the first 15 hex chars of
    * md5(cluster_id ":split" salt) compared against fixed hex
    * thresholds carve ~10% val / ~10% test / ~80% train, and both
    * engines compare the IDENTICAL lowercase hex strings — no float,
    * no platform hash. Same structural guarantee as the mod form
    * (split key is the cluster id, so no near-dup pair can straddle),
    * pinned mod ≡ salted on cluster-membership invariants by
    * DedupSpec. */
  def leakSafeSplitSaltedFrom(docs: DataFrame, idCol: String,
      pairs: DataFrame, salt: String = "42"): DataFrame = {
    val h = substring(
      md5(concat(col("cluster_id").cast("string"), lit(s":split$salt"))), 1, 15)
    connectedComponents(docs, idCol, pairs)
      .select(col("doc_id"), col("cluster_id"),
        when(h < lit("199999999999999"), lit("val"))
          .when(h < lit("333333333333333"), lit("test"))
          .otherwise(lit("train")).as("split"))
  }

  /** The salted production split over the LSH pair generator — the
    * form a user should actually deploy ([[leakSafeSplit]]'s scale
    * composition with the epoch-blind key). */
  def leakSafeSplitSalted(spark: SparkSession, sfDir: String,
      tau: Double = 0.5): DataFrame =
    leakSafeSplitSaltedFrom(documents(spark, sfDir).select(col("doc_id")),
      "doc_id", minhashLsh(spark, sfDir, tau))

  /** SEMANTIC leak-safe split — [[leakSafeSplitFrom]] plugged into the
    * EMBEDDING near-dup pair graph ([[embeddingCosineBlocked]], the
    * bounded-task-memory exact generator): all members of a semantic
    * cluster land on the same side, the split discipline used to keep
    * a held-out set genuinely out-of-neighborhood (paraphrases and
    * re-encodings of a train document can never sit in val). Same
    * mod-10 convention on the cluster rep; doc_id here is the
    * embedding's vec_id (1:1 with documents on the gate corpus). */
  def leakSafeSplitEmbed(spark: SparkSession, sfDir: String,
      tau: Double = 0.45): DataFrame =
    leakSafeSplitFrom(
      spark.read.parquet(s"$sfDir/embeddings.parquet").select(col("vec_id")),
      "vec_id",
      embeddingCosineBlocked(spark, sfDir, tau))

  /** EXACT embedding cosine near-dup pairs at `tau`, distributed with
    * BOUNDED task memory: grid-blocked θ-join (the Okcan & Riedewald
    * theta-join partitioning). Vectors are hashed into `nBlocks` id
    * blocks; unordered block pair (p ≤ q) is one reduce task holding
    * only blocks p and q (2·N/nBlocks·dim doubles), comparing its
    * upper triangle (p == q) or full cross (p < q) with tight double
    * loops. Every vector is replicated to exactly `nBlocks` tasks, so
    * shuffle volume is N·nBlocks rows while compute stays the exact
    * N²/2 the semantics demand — and, unlike the broadcast baseline
    * below, neither the driver nor any single task ever holds the
    * corpus. Scale knob: pick nBlocks so a block fits an executor
    * (memory/task = 2·N·dim·8 / nBlocks bytes); more blocks = more
    * parallelism at unchanged total compute.
    *
    * Each qualifying pair is emitted by exactly ONE task (its block
    * pair), so no distinct/dedup pass is needed.
    *
    * This is the gate formulation of `dedup_embed`. For HIGH-threshold
    * true near-dup at corpus scale, the pruned approximate path is
    * [[embeddingCosineIvf]]; exact all-pairs at a loose τ is
    * irreducibly quadratic, which is the honest cost of this oracle. */
  def embeddingCosineBlocked(spark: SparkSession, sfDir: String,
      tau: Double = 0.45, nBlocks: Int = 8): DataFrame = {
    import spark.implicits._
    val vecs = graft.sim.Similarity.loadVectors(spark, sfDir)
    val grid = vecs.flatMap { v =>
      val b = (java.lang.Long.hashCode(v.vec_id * 0x9e3779b97f4a7c15L) & 0x7fffffff) % nBlocks
      // side 0 = "row block" in tasks (b, q≥b); side 1 = "col block" in (p<b, b)
      Iterator.range(b, nBlocks).map(q => (b * nBlocks + q, 0, v)) ++
        Iterator.range(0, b).map(p => (p * nBlocks + b, 1, v))
    }
    grid.groupByKey(_._1).flatMapGroups { (task, it) =>
      val p = task / nBlocks; val q = task % nBlocks
      val left = scala.collection.mutable.ArrayBuffer.empty[graft.sim.Similarity.Vec]
      val right = scala.collection.mutable.ArrayBuffer.empty[graft.sim.Similarity.Vec]
      it.foreach { case (_, side, v) => (if (side == 0) left else right) += v }
      val la = left.sortBy(_.vec_id).toArray
      if (p == q) {
        for {
          i <- Iterator.range(0, la.length)
          j <- Iterator.range(i + 1, la.length)
          if graft.sim.Similarity.cosine(la(i), la(j)) >= tau
        } yield (la(i).vec_id, la(j).vec_id)
      } else {
        val ra = right.sortBy(_.vec_id).toArray
        for {
          i <- Iterator.range(0, la.length)
          j <- Iterator.range(0, ra.length)
          if graft.sim.Similarity.cosine(la(i), ra(j)) >= tau
        } yield (math.min(la(i).vec_id, ra(j).vec_id),
                 math.max(la(i).vec_id, ra(j).vec_id))
      }
    }.toDF("i", "j")
  }

  /** APPROXIMATE embedding near-dup at `tau` with IVF-cell blocking —
    * the pruned scale path for the high-threshold regime where true
    * near-duplicates are tight (cos ≥ ~0.8) and candidate pairs are
    * rare. Cells come from [[graft.sim.Kmeans.train]] (broadcast
    * k·dim doubles); each vector lands in the block of its primary
    * cell and the blocks of its `nprobe` nearest cells; a pair is
    * compared when one side's PRIMARY cell appears among the other's
    * probes. Task memory = cell block ≈ N·nprobe/k vectors; compute
    * is Σ|block|² ≪ N² once τ is tight enough that probes localize.
    * Recall is a measured property (DedupEmbedSpec): 1.0 at
    * nprobe = 6 on sf0.001/sf0.01 at the loose gate τ = 0.45, rising
    * to exact at nprobe = k; pairs can surface in two cells, hence
    * the final distinct. `comparisons` (optional accumulator) lets
    * specs prove the candidate set is actually pruned vs N²/2. */
  def embeddingCosineIvf(spark: SparkSession, sfDir: String,
      tau: Double = 0.45, k: Int = 16, nprobe: Int = 6, iters: Int = 3,
      comparisons: Option[org.apache.spark.util.LongAccumulator] = None): DataFrame = {
    import spark.implicits._
    val vecs = graft.sim.Similarity.loadVectors(spark, sfDir)
    val cents = graft.sim.Kmeans.train(vecs, k, iters)
    val bc = spark.sparkContext.broadcast(cents)
    val assigned = vecs.flatMap { v =>
      val cs = bc.value
      val sims = cs.map { c =>
        var dot = 0.0; var i = 0
        while (i < v.v.length) { dot += v.v(i) * c.v(i); i += 1 }
        (c.cell, dot / v.nrm)
      }.sortBy(-_._2)
      Iterator.range(0, math.min(nprobe, sims.length))
        .map(r => (sims(r)._1, r == 0, v))
    }
    assigned.groupByKey(_._1).flatMapGroups { (_, it) =>
      val rows = it.toArray.sortBy(_._3.vec_id)
      for {
        i <- Iterator.range(0, rows.length)
        j <- Iterator.range(i + 1, rows.length)
        if rows(i)._2 || rows(j)._2 // one side primary here → pair owned by ≤2 cells
        _ = comparisons.foreach(_.add(1))
        if graft.sim.Similarity.cosine(rows(i)._3, rows(j)._3) >= tau
      } yield (rows(i)._3.vec_id, rows(j)._3.vec_id)
    }.distinct().toDF("i", "j")
  }

  /** Broadcast all-pairs baseline, DEMOTED to a spec-only differential
    * oracle: collects the corpus to the driver, which caps it at
    * moderate N — the gate path is [[embeddingCosineBlocked]] and the
    * pruned path is [[embeddingCosineIvf]]. Kept because a third,
    * independently-shaped formulation is a cheap cross-check. */
  def embeddingCosine(spark: SparkSession, sfDir: String, tau: Double = 0.45): DataFrame = {
    import spark.implicits._
    val vecs = graft.sim.Similarity.loadVectors(spark, sfDir)
    val all = vecs.collect().sortBy(_.vec_id)
    val bc = spark.sparkContext.broadcast(all)
    vecs.mapPartitions { rows =>
      val everyone = bc.value
      rows.flatMap { r =>
        // binary search for the first id > r.vec_id (upper triangle)
        var lo = 0; var hi = everyone.length
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (everyone(mid).vec_id <= r.vec_id) lo = mid + 1 else hi = mid
        }
        Iterator.range(lo, everyone.length).flatMap { bi =>
          val b = everyone(bi)
          if (graft.sim.Similarity.cosine(r, b) >= tau)
            Iterator.single((r.vec_id, b.vec_id))
          else Iterator.empty
        }
      }
    }.toDF("i", "j")
  }

  // ── Cross-document duplicate-passage detection ────────────────────
  //
  // The exact-substring training-data dedup of Lee et al. 2022
  // ("Deduplicating Training Data Makes Language Models Better"),
  // re-expressed Spark-first: instead of a global suffix array (which
  // needs a monolithic sort over the concatenated corpus), hash every
  // k-token sliding window and group by the 16-byte digest. A passage
  // duplicated across documents shows up as one window hash held by
  // ≥2 distinct doc_ids; a span of length L shared verbatim yields
  // L−k+1 consecutive flagged windows. This trades the suffix array's
  // exact maximal spans for fixed-k granularity, and in exchange every
  // stage is a uniform, linear shuffle on a 16-byte key — the shape
  // that survives 100 TB (the suffix-array build does not, without a
  // dedicated DC3/pDC3 implementation).

  /** All k-token sliding windows of a materialized `toks` column,
    * joined to strings (1-based slice; same projection discipline as
    * [[shinglesFromToks]] — the tokenizer must NOT be inlined into the
    * lambda or it re-evaluates per element). NOT distinct: within-doc
    * repeats are occurrences, they matter for the occurrence totals. */
  private def windowsFromToks(k: Int): String =
    s"""CASE WHEN size(toks) >= $k THEN
       |  transform(sequence(0, size(toks) - $k),
       |    i -> concat_ws(' ', slice(toks, i + 1, $k)))
       |ELSE array() END""".stripMargin

  /** (doc_id, h, occ): per-document occurrence counts of each distinct
    * window digest. First shuffle of the passage pipeline; key is
    * (doc_id, 32-hex md5). localCheckpoint'd because every consumer
    * below reads it 2-3× and Spark does not share subplans. */
  private def passageWindowCounts(spark: SparkSession, sfDir: String,
                                  k: Int): DataFrame =
    documents(spark, sfDir)
      .select(col("doc_id"), expr(toksExpr).as("toks"))
      .select(col("doc_id"), expr(windowsFromToks(k)).as("w"))
      .select(col("doc_id"), explode_outer(col("w")).as("win"))
      .filter(col("win").isNotNull)
      .groupBy(col("doc_id"), md5(col("win")).as("h"))
      .agg(count(lit(1)).as("occ"))
      .localCheckpoint()

  /** The passage "delete list": window digests appearing in ≥2
    * distinct documents, with document and occurrence counts. This is
    * the artifact a passage-dedup pass joins against to drop or
    * rewrite duplicated spans. Pure two-level aggregation — partial
    * map-side combine, one uniform shuffle on the digest. */
  def duplicatePassageSpans(spark: SparkSession, sfDir: String,
                            k: Int = 8): DataFrame =
    passageWindowCounts(spark, sfDir, k)
      .groupBy(col("h"))
      .agg(count(lit(1)).as("n_docs"), sum(col("occ")).as("n_occ"))
      .filter(col("n_docs") >= 2)

  /** Per-document duplication profile: how many of a document's
    * k-token windows are shared verbatim with at least one OTHER
    * document (within-doc repetition alone does not flag — that is
    * [[graft.text.TextAnalysis.repetition]]'s job). `is_dup_heavy`
    * fires at ≥20% shared windows, integer cross-multiplied. Join is
    * digest-to-digest (uniform); a boilerplate digest shared by
    * millions of docs costs its honest postings size here, bounded by
    * n_docs ≤ corpus size — cap via spans.filter(n_docs < cap) when
    * composing a removal pass at scale. Docs shorter than k tokens
    * have no windows and are excluded (same rule in the oracle). */
  def duplicatePassages(spark: SparkSession, sfDir: String,
                        k: Int = 8): DataFrame =
    duplicatePassagesWithCap(spark, sfDir, k, cap = Int.MaxValue)

  /** The scaladoc-prescribed capped composition, as its own gate
    * surface: digests held by ≥ `cap` documents are BOILERPLATE
    * (headers, licenses, navigation chrome shared by millions of
    * pages at crawl scale) — counting them as "duplicated passages"
    * would flag every document carrying the chrome, and their postings
    * dominate the join. Dropping them caps the per-digest join fan-out
    * at `cap` while leaving real cross-doc duplication (small n_docs)
    * untouched. Exactly SQL-expressible (one extra HAVING bound), so
    * the scale path carries a full hash oracle; DedupSpec plants a
    * boilerplate digest and asserts the cap drops ONLY it. */
  def duplicatePassagesCapped(spark: SparkSession, sfDir: String,
                              k: Int = 8, cap: Int = 3): DataFrame =
    duplicatePassagesWithCap(spark, sfDir, k, cap)

  private def duplicatePassagesWithCap(spark: SparkSession, sfDir: String,
                                       k: Int, cap: Int): DataFrame = {
    val perDoc = passageWindowCounts(spark, sfDir, k)
    val shared = perDoc.groupBy(col("h"))
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= 2 && col("n_docs") < cap)
      .select(col("h"))
    val dupPerDoc = perDoc.join(shared, "h")
      .groupBy(col("doc_id")).agg(sum(col("occ")).as("n_dup_windows"))
    perDoc.groupBy(col("doc_id")).agg(sum(col("occ")).as("n_windows"))
      .join(dupPerDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"))
      .withColumn("is_dup_heavy",
        (col("n_dup_windows") * 5 >= col("n_windows")).cast("int"))
  }
}
