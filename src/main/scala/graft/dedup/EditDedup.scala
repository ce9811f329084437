package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** EDIT-DISTANCE near-duplicate pairs — the record-linkage classic
  * (blocked Levenshtein) as a bounded, engine-exact operator. The
  * shingle/MinHash family catches token-level rewrites; character
  * edit distance is the right tool one level down: OCR noise, typo
  * clusters, boilerplate with inline substitutions — pairs whose
  * token sets diverge but whose character streams barely do.
  *
  * Contract (every clause mirrored in the DuckDB oracle):
  *  - Texts are normalized to lower-case `[a-z0-9 ]` (non-alnum runs
  *    collapse to one space, ends trimmed). This is also what makes
  *    the two engines comparable at all: DuckDB's `levenshtein` is
  *    BYTE-based while Spark's is codepoint-based (measured:
  *    `levenshtein('héllo','hello')` = 2 in DuckDB, 1 in Spark), so
  *    the contract pins the alphabet to ASCII where byte ≡ codepoint.
  *  - A pair is a match when
  *    `levenshtein(a, b) <= θ = least(MaxDist, (len_a+len_b) div 20)`
  *    — relative 10% of the mean length, under an absolute [[MaxDist]]
  *    ceiling that exists so the DP can be BANDED: Spark evaluates
  *    the 3-arg `levenshtein(a, b, MaxDist+1)` which is O(len·65) and
  *    returns -1 past the band, never the O(len²) full matrix. The
  *    oracle runs the plain quadratic form over ALL length-compatible
  *    pairs (no blocking at all — the oracle IS the ground truth);
  *    identical keep-set because the filter never accepts a distance
  *    above [[MaxDist]].
  *  - Candidate pairs come from Q-CHUNK PIGEONHOLE blocking (the
  *    PassJoin family — Li/Deng/Feng ICDE'11's segment lemma in the
  *    asymmetric chunk-vs-gram form of Qin et al., SIGMOD'11):
  *    partition the SHORTER string of a prospective pair into
  *    `nchunks >= τ_max+1` disjoint chunks of length
  *    `L = max(1, len div (τ_max+1))`; any edit script of ≤ θ ≤ τ_max
  *    operations touches at most θ chunks, so SOME chunk survives
  *    untouched and appears VERBATIM in the longer string, start
  *    position shifted by at most θ (the net indel balance before
  *    it). τ_max(len) = least(MaxDist, 2·len div 19) is the largest
  *    θ any in-contract partner can induce when this doc is the
  *    shorter side: len_b ≤ len_a+θ and 20θ ≤ len_a+len_b give
  *    19θ ≤ 2·len_a exactly (integer floors included). Recall is
  *    therefore STRUCTURAL — 1.0 by pigeonhole, not a banding curve;
  *    the only loss channel is the df-cap below, and
  *    [[blockingDrops]] makes that channel observable.
  *  - The engine joins each doc's chunks (its shorter-side role)
  *    against every partner-chunk-length gram of each doc (its
  *    longer-side role) on (chunk length, xxhash64(content),
  *    position bucket, length bucket); hash collisions only ADD
  *    candidates — the banded DP verify keeps precision exact.
  *    Position/length buckets are [[PosBucket]] = MaxDist wide with
  *    the chunk side posted in adjacent buckets (own ±1 position,
  *    own +1 length), so a true pair can never split across a bucket
  *    boundary — the r11 boundary-split lesson, by arithmetic.
  *  - Block keys with more than `cap` members ON EITHER SIDE are
  *    dropped whole — the df-cap discipline every banded family here
  *    uses; a degenerate key (shared boilerplate n-grams) cannot go
  *    quadratic. The gate cap (1000) provably does not bite on the
  *    fixture (spec-asserted via [[blockingDrops]] = empty), which is
  *    what lets the uncapped all-pairs oracle hash-match.
  *
  * Scale posture: one documents scan; chunk side emits ≤ 6·(τ_max+1)
  * ≈ 400 metadata rows/doc, gram side ≈ |𝓛|·len ≈ 1–3× the char
  * count as (hash, pos) metadata rows — linear in corpus size, no
  * text in the candidate shuffle; per-key join work ≤ cap² rows. The
  * DP sees each distinct pair EXACTLY ONCE via two 1:1 payload joins
  * after the id-level distinct (metadata-only candidates: the r11
  * 14.5 s → 2.3 s lesson — never let Catalyst push the DP into the
  * self-join). */
object EditDedup {

  /** Relative-threshold denominator (dist ≤ (len_a+len_b)/20 = 10%
    * of the mean length). */
  val LenBucket: Long = 20L

  /** Absolute distance ceiling — the DP band. */
  val MaxDist: Int = 64

  /** Position/length blocking bucket width. Must be ≥ [[MaxDist]]:
    * any accepted pair has |Δpos| ≤ θ ≤ MaxDist for the surviving
    * chunk and |Δlen| ≤ θ, so with the chunk side posted in adjacent
    * buckets a boundary split is impossible by arithmetic. */
  val PosBucket: Long = 64L

  private def documents(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"$sfDir/documents.parquet")

  /** Normalized text per doc — the payload frame (joined ONCE, after
    * candidate ids are final), plus the 36-symbol character-frequency
    * vector `cv`: each edit operation moves the count vector by at
    * most 2 in L1 (substitution ±1 twice, indel ±1 once), so
    * `ed(a,b) ≥ L1(cv_a, cv_b)/2` — a provably-implied candidate
    * filter (the oracle runs the identical one) that rejects the
    * common-phrase collisions content blocking inevitably admits
    * (measured sf0.1: 663k candidates → the DP runs on the handful
    * the bound can't separate). Ignoring the space character keeps
    * the bound valid (a sub-alphabet L1 only shrinks). */
  private def normalized(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " ")).as("nt"))
      .withColumn("len", length(col("nt")).cast("long"))
      // per-char counts via replace(), NOT regexp_replace: the chars
      // are literal [a-z0-9] (no metacharacters), so the two are
      // value-identical, but regexp_replace runs 36 java.util.regex
      // Matchers per row — measured (r19 stage audit) 43% GC in the
      // normalize map stage; StringReplace is a codegen-friendly
      // direct scan
      .withColumn("cv", array((('a' to 'z') ++ ('0' to '9')).map(c =>
        col("len") - length(expr(s"replace(nt, '$c', '')")).cast("long")): _*))

  /** τ_max / chunk-length plumbing shared by the operator and the
    * [[blockingDrops]] audit. Adds `tmax`, `cl` (chunk length) to a
    * normalized frame. */
  private def withChunkLen(norm: DataFrame): DataFrame =
    norm
      .withColumn("tmax", expr(s"least(CAST($MaxDist AS BIGINT), (len * 2) DIV 19)"))
      .withColumn("cl", expr("greatest(1L, len DIV (tmax + 1L))"))

  /** Chunk-side key rows: (doc_id, len, l, k, pos, pb, lb) — each doc
    * in its SHORTER-side role, one row per disjoint chunk per posted
    * (position, length) bucket combination (×6 fanout). Empty docs
    * emit one (l=0, k=0, pos=0) sentinel so empty-empty dist-0 pairs
    * are reachable. */
  private def chunkKeys(norm: DataFrame): DataFrame =
    withChunkLen(norm)
      .select(col("doc_id"), col("len"), explode(expr(
        """CASE WHEN len = 0
          |  THEN array(named_struct('pos', 0L, 'k', 0L, 'l', 0L))
          |  ELSE transform(sequence(0L, len DIV cl - 1L), i ->
          |    named_struct(
          |      'pos', i * cl,
          |      'k', xxhash64(substring(nt, CAST(i * cl + 1L AS INT), CAST(cl AS INT))),
          |      'l', cl))
          |END""".stripMargin)).as("c"))
      .select(col("doc_id"), col("len"), col("c.l").as("l"),
        col("c.k").as("k"), col("c.pos").as("pos"))
      .withColumn("pb0", expr(s"pos DIV $PosBucket"))
      .withColumn("lb0", expr(s"len DIV $PosBucket"))
      .select(col("doc_id"), col("len"), col("l"), col("k"), col("pos"),
        explode(expr(
          """array(named_struct('pb', pb0 - 1L, 'lb', lb0),
            |      named_struct('pb', pb0,      'lb', lb0),
            |      named_struct('pb', pb0 + 1L, 'lb', lb0),
            |      named_struct('pb', pb0 - 1L, 'lb', lb0 + 1L),
            |      named_struct('pb', pb0,      'lb', lb0 + 1L),
            |      named_struct('pb', pb0 + 1L, 'lb', lb0 + 1L))""".stripMargin)).as("b"))
      .select(col("doc_id"), col("len"), col("l"), col("k"), col("pos"),
        col("b.pb").as("pb"), col("b.lb").as("lb"))

  /** Gram-side key rows: (doc_id, len, l, k, pos, pb, lb) — each doc
    * in its LONGER-side role. 𝓛(len) = the distinct chunk lengths of
    * every possible shorter partner (lengths in [len−MaxDist, len]) —
    * a ≤2-element set because L(·) is a slow step function; grams of
    * each such length at every position, posted once in their own
    * buckets (the chunk side carries the adjacency fanout). */
  private def gramKeys(norm: DataFrame): DataFrame =
    // no filter reaches `norm`, so a caller's widening exchange below
    // it stays the one the chunk side reads: the empty-doc sentinel is
    // a CASE arm, not a filtered branch, and the length set is
    // exploded as an expression (an exploded ATTRIBUTE gets an
    // inferred `size > 0` filter pushed down)
    norm
      .select(col("doc_id"), col("len"), col("nt"), explode(expr(
        s"""CASE WHEN len = 0 THEN array(0L) ELSE array_distinct(transform(
           |  sequence(greatest(len - CAST($MaxDist AS BIGINT), 1L), len),
           |  m -> greatest(1L, m DIV (least(CAST($MaxDist AS BIGINT), (m * 2) DIV 19) + 1L))))
           |END""".stripMargin)).as("l"))
      // lb is generated too: the join's not-null inference on a
      // projected `len DIV PosBucket` would be pushed down the same way
      .select(col("doc_id"), col("len"), col("l"), explode(expr(
        s"""CASE WHEN len = 0 THEN array(named_struct('pos', 0L, 'k', 0L, 'lb', 0L))
          |ELSE transform(sequence(0L, len - l), p ->
          |  named_struct('pos', p,
          |    'k', xxhash64(substring(nt, CAST(p + 1L AS INT), CAST(l AS INT))),
          |    'lb', len DIV $PosBucket))
          |END""".stripMargin)).as("g"))
      .select(col("doc_id"), col("len"), col("l"),
        col("g.k").as("k"), col("g.pos").as("pos"),
        expr(s"g.pos DIV $PosBucket").as("pb"), col("g.lb").as("lb"))

  /** Block keys whose membership exceeds `cap` on a side — dropped
    * whole by [[editPairsOf]]. The recall-loss channel made
    * OBSERVABLE: empty on the gate fixture (spec-asserted), and the
    * frame a production run logs/inspects before trusting the pair
    * set at a new scale. Returns (side, l, k, pb, lb, cnt). */
  def blockingDrops(docs: DataFrame, cap: Int = 1000): DataFrame = {
    // audit over DISTINCT texts — the frame the operator actually
    // blocks after its exact-duplicate collapse
    val norm = normalized(docs)
      .withColumn("gid", min(col("doc_id")).over(
        Window.partitionBy(md5(col("nt")))))
      .filter(col("doc_id") === col("gid"))
      .drop("gid")
    val c = chunkKeys(norm).groupBy("l", "k", "pb", "lb").count()
      .filter(col("count") > cap)
      .select(lit("chunk").as("side"), col("l"), col("k"), col("pb"),
        col("lb"), col("count").as("cnt"))
    val g = gramKeys(norm).groupBy("l", "k", "pb", "lb").count()
      .filter(col("count") > cap)
      .select(lit("gram").as("side"), col("l"), col("k"), col("pb"),
        col("lb"), col("count").as("cnt"))
    c.unionByName(g)
  }

  /** Near-dup pairs (doc_a < doc_b, dist) over the whole corpus. */
  def editPairs(spark: SparkSession, sfDir: String, cap: Int = 1000): DataFrame =
    editPairsOf(documents(spark, sfDir), cap)

  /** The corpus pair set as a session-scoped build-once artifact (the
    * [[LshIndex]] lifecycle): the capped/cluster/family gates are
    * DERIVED views of one pair computation, so they read the pairs a
    * production pipeline would have materialized anyway instead of
    * re-running candidate generation per consumer. Default cap only;
    * deterministic, so every consumer sees identical rows. */
  private def pairsCached(spark: SparkSession, sfDir: String): DataFrame = {
    val path = graft.core.SessionScratch.path(spark, sfDir, "edit_pairs")
    graft.core.SessionScratch.buildOnce(spark, path) {
      editPairs(spark, sfDir).write.mode("overwrite").parquet(path)
    }
    spark.read.parquet(path)
  }

  /** Same over any (doc_id, text) frame. See the object doc for the
    * pigeonhole argument; plan shape: metadata-only candidates →
    * distinct pair ids → two 1:1 payload joins → one banded DP per
    * candidate. */
  def editPairsOf(docs: DataFrame, cap: Int = 1000): DataFrame = {
    // ── exact-duplicate collapse BEFORE fuzzy blocking ──────────────
    // Edit distance is a function of the two normalized TEXTS, and the
    // threshold θ a function of their lengths — so byte-identical
    // texts are interchangeable: collapse each distinct `nt` to its
    // min-doc_id representative, run the q-chunk machinery on
    // DISTINCT TEXTS only, and expand algebraically afterwards
    // (within-group pairs at dist 0; rep-pair distances broadcast to
    // every cross-group member pair — identical θ because identical
    // lengths). Exactness-preserving by construction, and the
    // scale-defining move on a dup-saturated corpus: the r12 133×
    // rehearsal (500 k docs, 99% planted dups) spilled >70 GB pushing
    // every member pair's ~33 chunk witnesses through the distinct —
    // witness volume now scales with DISTINCT texts, while the
    // (inherently output-sized) member-pair expansion is generated
    // directly, never shuffled as witnesses. This is also the honest
    // production composition (exact dedup runs before fuzzy dedup),
    // fused so callers can't forget it. The window partitions by
    // md5(nt), NOT nt itself: WindowExec shuffles AND SORTS on the
    // partition spec, and on multi-KB documents a full-text sort key
    // is O(len) per comparison — the 16-byte digest is the same
    // grouping under the engine-wide md5-exactness bet Dedup.exact
    // already documents, and gid = min(doc_id) is invariant to the
    // key representation (r13 "What's wrong #2").
    // widen the RAW docs before normalized(): the 36-regexp cv
    // projection evaluates on the map side of the md5-window
    // exchange, 1-wide on a 1-file gate scan (r19 stage audit:
    // 1.4 s single-task stage in the critical path). Lazy: every
    // reader below scans all of it, and the first one fills it.
    val all = graft.core.Materialize.frame(
      normalized(graft.core.Widen.ifNarrow(docs))
      .withColumn("gid", min(col("doc_id")).over(
        Window.partitionBy(md5(col("nt"))))), "editdedup_all", eager = false)
    // the four member joins below read one identical projection (the
    // null filters are the ones the within self-join's `<` infers), so
    // they share one broadcast instead of one each
    val members = all.filter(col("gid").isNotNull && col("doc_id").isNotNull)
    def membersAs(g: String, d: String): DataFrame =
      members.select(col("gid").as(g), col("doc_id").as(d))
    val norm = all.filter(col("doc_id") === col("gid"))
      .drop("gid")
    // df-cap, both sides: a key that is degenerate on either side is
    // dropped whole (both engines of the CAPPED gates mirror this;
    // the uncapped-oracle gates assert the cap never bites instead).
    // The count is a WINDOW over the join key, not an aggregate +
    // semi-join: one shuffle per side instead of two, and the window
    // leaves each side partitioned BY the join key, so the join below
    // reuses the layout instead of re-shuffling (measured sf0.1:
    // 36 s → 9 s for the full operator with this + the cv prefilter)
    // EXPLICIT width on the key shuffle: the window's own exchange is
    // AQE-coalescible, and at gate scale its map output is a few MB,
    // so AQE folds the whole witness join to ~4 partitions and the
    // quadratic per-key expansion runs 4-wide (r16 "What's wrong #1" —
    // measured 15.6 s task over 4 tasks). A user-specified
    // repartition on the SAME keys is exactly one shuffle (the window
    // and the join both reuse it: ClusteredDistribution on l,k,pb,lb
    // is satisfied) that AQE must not coalesce. Width pinned to
    // defaultParallelism scales with the cluster; skew stays bounded
    // by the df-cap itself, not AQE's skew splitter.
    val np = docs.sparkSession.sparkContext.defaultParallelism
    // widen the key-GENERATION input only when it arrives narrower
    // than the cluster: the collapsed distinct-texts frame is a
    // 1-partition localCheckpoint at gate scale, so the q-gram
    // explode (the map side of the exchange below) would run 1-2
    // wide — measured 6 s of the 12 s wall ([[graft.core.Widen]]).
    val normWide = graft.core.Widen.ifNarrow(norm)
    def capped(side: DataFrame): DataFrame =
      side.repartition(np, col("l"), col("k"), col("pb"), col("lb"))
        .withColumn("key_n", count(lit(1)).over(
          Window.partitionBy(col("l"), col("k"), col("pb"), col("lb"))))
        .filter(col("key_n") <= cap)
        .drop("key_n")
    val theta = least(lit(MaxDist.toLong),
      expr(s"(a.len + b.len) DIV $LenBucket"))
    // shuffle-hash, building on the chunk side, over the layout both
    // windows leave: a broadcast of the chunk side would be one more
    // job for a join that needs no exchange
    val pairIds = capped(chunkKeys(normWide)).hint("shuffle_hash").as("a")
      .join(capped(gramKeys(normWide)).as("b"),
        col("a.l") === col("b.l") && col("a.k") === col("b.k") &&
          col("a.pb") === col("b.pb") && col("a.lb") === col("b.lb") &&
          col("a.len") <= col("b.len") &&
          col("a.doc_id") =!= col("b.doc_id") &&
          (col("b.len") - col("a.len")) <= theta &&
          abs(col("a.pos") - col("b.pos")) <= theta)
      .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"))
      // distinct as explicit-width repartition + local dedup: the
      // same one shuffle a plain distinct() costs, but USER-SPECIFIED
      // so AQE cannot coalesce it — everything downstream (the
      // broadcast payload joins, the L1 prefilter, and the banded DP,
      // which predicate pushdown evaluates in THIS stage) runs at
      // full width. This was the bench's biggest wall: 49 s of DP
      // task time squeezed into 4 AQE-coalesced tasks.
      .repartition(np, col("doc_a"), col("doc_b"))
      .dropDuplicates(Seq("doc_a", "doc_b"))
    // provably-implied rejection BEFORE the DP: ed >= L1(cv)/2, so
    // L1 > 2θ can never pass the distance filter — the O(36) integer
    // pass kills the common-phrase candidate mass, the O(len·65) DP
    // runs only on survivors (same two-stage shape as the oracle).
    // Two r18 stage-audit findings shape the form below (the hot
    // stage carried 90 of the operator's 172 task-seconds over 1.1 M
    // candidates):
    //  - the L1 is a FIXED 36-term integer sum, spelled as unrolled
    //    element_at arithmetic rather than aggregate(zip_with(...)):
    //    higher-order functions are CodegenFallback, which both
    //    interprets the per-row lambdas (array allocation per pair)
    //    and kicks the enclosing join out of whole-stage codegen
    //  - the L1 phase attaches only (len, cv) — ~300 B/row; the
    //    multi-KB normalized TEXTS are joined AFTER the filter, so
    //    only L1 survivors (the handful the bound can't separate)
    //    are ever copied through a join row with payloads attached
    // Each phase's two joins read one projection of the reps, renamed
    // per side, so each phase broadcasts once.
    val l1 = (0 until 36).map(i =>
      abs(element_at(col("cv_a"), i + 1) - element_at(col("cv_b"), i + 1)))
      .reduce(_ + _)
    val thetaPair = least(lit(MaxDist.toLong),
      expr(s"(len_a + len_b) DIV $LenBucket"))
    def counts(side: String): DataFrame =
      norm.select(col("doc_id").as(s"doc_$side"), col("len").as(s"len_$side"),
        col("cv").as(s"cv_$side"))
    def texts(side: String): DataFrame =
      norm.select(col("doc_id").as(s"doc_$side"), col("nt").as(s"nt_$side"))
    val l1Survivors = pairIds
      .join(counts("a"), Seq("doc_a"))
      .join(counts("b"), Seq("doc_b"))
      .filter(l1 <= thetaPair * 2)
      .select(col("doc_a"), col("doc_b"), col("len_a"), col("len_b"))
    // the DP band is the PAIR's own acceptance threshold θ, not the
    // global MaxDist ceiling: levenshtein(a, b, θ) returns the true
    // distance iff it is ≤ θ and -1 otherwise, so `dist >= 0` IS the
    // acceptance test — one DP evaluation per candidate where the
    // former θ+1 band plus dist<=θ filter alias-duplicated the DP
    // into the join condition twice (r18 plan audit). Reps are
    // distinct texts, so no dist-0 fast path is needed here —
    // identical texts never reach the DP at all.
    val repPairs = l1Survivors
      .join(texts("a"), Seq("doc_a"))
      .join(texts("b"), Seq("doc_b"))
      .withColumn("dist", expr(
        s"""CAST(levenshtein(nt_a, nt_b, CAST(
           |  least(CAST($MaxDist AS BIGINT), (len_a + len_b) DIV $LenBucket)
           |  AS INT)) AS BIGINT)""".stripMargin))
      .filter(col("dist") >= 0)
      .select(col("doc_a").as("ga"), col("doc_b").as("gb"), col("dist"))
    // ── expansion back to document pairs ────────────────────────────
    // within-group: every two holders of one text are a dist-0 pair
    // (0 ≤ θ always, θ ≥ 0); cross-group: each rep pair's distance
    // and verdict apply verbatim to every (member × member) pair —
    // same texts, same lengths, same θ
    val within = membersAs("gx", "doc_a").join(membersAs("gy", "doc_b"),
        col("gx") === col("gy") && col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), lit(0L).as("dist"))
    val cross = repPairs
      .join(membersAs("ga", "da"), Seq("ga"))
      .join(membersAs("gb", "db"), Seq("gb"))
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"), col("dist"))
    within.unionByName(cross)
  }

  /** The duplicated-corpus GATE fixture (the SQL twin lives in the
    * oracle): 1 + doc_id % 3 byte-identical copies of every EVEN-id
    * document, copy c at id doc_id·4 + c. The corpus itself has no
    * exact-duplicate texts (its planted dups are near-dups), so this
    * is the frame where [[editPairsOf]]'s exact-duplicate collapse
    * actually BITES — groups of 1..3 holders per text. */
  private[graft] def dupFixture(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id"), col("text"))
      .withColumn("c", explode(expr("sequence(0L, doc_id % 3)")))
      .select((col("doc_id") * 4 + col("c")).as("doc_id"), col("text"))

  /** Gate surface (`dedup_edit_pairs_collapsed`): [[editPairsOf]] on
    * the duplicated fixture, hash-pinned by the SAME all-pairs
    * banded-Levenshtein ground truth as `dedup_edit_pairs` — the
    * oracle knows nothing of the collapse, so the within-group dist-0
    * pairs and the algebraic cross-group expansion must both be
    * exactly right (r12 next-round #5: the scale lever was spec-pinned
    * only; this forces it through a CORRECTNESS row on a fixture
    * where it engages). */
  def editPairsCollapsed(spark: SparkSession, sfDir: String): DataFrame =
    editPairsOf(dupFixture(documents(spark, sfDir)))

  /** Gate surface (`dedup_residue_pipeline`): the documented
    * production recipe — EXACT dedup first, FUZZY dedup on the
    * residue — as one composed operator (r12 next-round #6: prose
    * until now). Stage 1 keeps the min-id holder of each
    * byte-identical text of the duplicated fixture; stage 2 runs the
    * full q-chunk edit machinery on the residue only. The oracle
    * chains the same two stages as CTEs (keeper GROUP BY, then the
    * all-pairs truth). On a dup-saturated corpus this is the
    * scale-defining composition: stage 2's witness volume scales with
    * DISTINCT texts. */
  def residuePipeline(spark: SparkSession, sfDir: String): DataFrame = {
    val fix = dupFixture(documents(spark, sfDir))
    // keeper window keyed by md5(text), not text — the 16-byte sort
    // key discipline (Dedup.exact convention; r13 "What's wrong #2")
    val residue = fix
      .withColumn("gid", min(col("doc_id")).over(
        Window.partitionBy(md5(col("text")))))
      .filter(col("doc_id") === col("gid"))
      .select(col("doc_id"), col("text"))
    editPairsOf(residue)
  }

  /** OUTPUT-CAPPED edit pairs — [[editPairsOf]] bounded to each
    * document's `k` best matches at BOTH endpoints: a pair survives
    * iff it ranks ≤ k by (dist, partner id) among doc_a's pairs AND
    * among doc_b's pairs. Total output is ≤ n·k rows no matter how
    * pathological the corpus (a boilerplate-saturated crawl where one
    * template matches millions of pages); rank ties are broken by
    * partner id so both engines agree row-for-row. Two window ranks
    * over the (already bounded) pair set — no new shuffle shape. */
  def editPairsCapped(spark: SparkSession, sfDir: String, k: Int = 2): DataFrame = {
    val pairs = pairsCached(spark, sfDir)
    val ra = row_number().over(
      Window.partitionBy(col("doc_a")).orderBy(col("dist"), col("doc_b")))
    val rb = row_number().over(
      Window.partitionBy(col("doc_b")).orderBy(col("dist"), col("doc_a")))
    pairs.withColumn("ra", ra).withColumn("rb", rb)
      .filter(col("ra") <= k && col("rb") <= k)
      .select(col("doc_a"), col("doc_b"), col("dist"))
  }

  /** DEDUP-FAMILY AGREEMENT REPORT — the audit a curator runs before
    * trusting one near-dup family's keep/drop decisions: how many
    * pairs the token-level family (n-gram Jaccard ≥ 0.5) and the
    * character-level family (blocked Levenshtein) each flag on this
    * corpus, and how many they agree on. Low overlap is signal, not
    * error — the families see different rewrite types by design
    * (token shuffles vs character edits), and the report quantifies
    * that on the corpus at hand. One full-outer join of the two pair
    * sets, one aggregate; a one-row frame. */
  def familyReport(spark: SparkSession, sfDir: String): DataFrame = {
    val ngram = Dedup.ngramJaccard(spark, sfDir)
      .select(col("i"), col("j"), lit(1L).as("in_ngram"))
    val edit = pairsCached(spark, sfDir)
      .select(col("doc_a").as("i"), col("doc_b").as("j"),
        lit(1L).as("in_edit"))
    ngram.join(edit, Seq("i", "j"), "full_outer")
      .select(coalesce(col("in_ngram"), lit(0L)).as("g"),
        coalesce(col("in_edit"), lit(0L)).as("e"))
      .agg(coalesce(sum(col("g")), lit(0L)).as("n_ngram"),
        coalesce(sum(col("e")), lit(0L)).as("n_edit"),
        coalesce(sum(col("g") * col("e")), lit(0L)).as("n_both"),
        count(lit(1)).as("n_either"))
  }

  /** Edit-distance near-dup CLUSTERS — the pairs fed to the shared
    * connected-components machinery ([[Dedup.connectedComponents]]:
    * driver union-find below the edge threshold, distributed hash-min
    * above; singletons never enter the graph). Typo/OCR variants of
    * one document collapse transitively to the min-id canonical copy,
    * same contract as the ngram/LSH cluster gates. */
  def editClusters(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = documents(spark, sfDir)
    val pairs = pairsCached(spark, sfDir)
      .select(col("doc_a").as("i"), col("doc_b").as("j"))
    Dedup.connectedComponents(docs, "doc_id", pairs)
  }
}
