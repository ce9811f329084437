package graft.multimodal

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Shared gate-surface tail for the perceptual near-dup families
  * (image / audio / video): materialize the (doc_id, sig) fingerprint
  * frame ONCE (the decode feeds BOTH the side-dump write and the pair
  * stage — without the checkpoint it would run twice), dump it
  * run-scoped for the DuckDB oracle (which names the dump for the
  * corpus dir it is given), then run the banded-Hamming pair
  * machinery. One copy of the cache/dump discipline instead of nine.
  *
  * REGIME PICK — measured, not guessed (r13 "What's wrong #1"): the
  * 8-bit multi-probe scheme is exact precisely as long as no band
  * bucket exceeds the df-cap (the pigeonhole guarantee holds only
  * for pairs whose shared buckets survive; a dropped bucket silently
  * drops its pairs — both engines mirror the cap, so the loss is
  * invisible to the hash gate). Doc count is the WRONG switch signal:
  * the r13 rehearsal measured 0.31 twin recall at 65 k low-entropy
  * images while the old threshold sat at 100 k, and the failure is
  * driven by signature entropy / identical-sig clique mass, not
  * corpus size. So the switch reads the failure signal itself: ONE
  * aggregation job over the already-materialized checkpoint computes
  * `maxOcc`, the largest 8-bit band-bucket occupancy — exactly the
  * quantity the cap drops on. `maxOcc > maxBucket` means the cheap
  * scheme WILL drop at least one bucket, so the tail switches to the
  * collapse + wide-band path ([[graft.dedup.Dedup
  * .simhashPairsWideCollapsedOf]] — exact-signature collapse, 4 ×
  * 16-bit bands, radius-3 probes; recall 1.0 measured at 13× / 133×,
  * BENCH_NOTES r13); `maxOcc <= maxBucket` means no cap ever bites
  * and multi-probe's recall is structural, so the cheap plan stays.
  * [[MediaWideAbove]] remains as a cost stop: above it the
  * multi-probe bucket lists are a measured executor OOM (500 k,
  * BENCH_NOTES r13) regardless of recall — and past 256 · maxBucket
  * rows the pigeonhole over 256 bucket values per band forces
  * `maxOcc > maxBucket` anyway, so the stop only decides the
  * 100–256 k high-entropy window.
  *
  * Every sf0.01/sf0.001 gate corpus measures maxOcc ≤ 215 ≪ 1000, so
  * the correctness-gate plans and multi-probe oracles are untouched.
  * The oracle side consults [[pickedWide]] per dump kind (ADVICE
  * r13): a family that switched regimes gets the all-pairs
  * ground-truth SQL — the `mm_image_dedup_wide` shape — instead of a
  * multi-probe re-derivation that would hash-mismatch a correct
  * engine. */
private[graft] object SigDump {

  /** Row count above which the pair tail takes the collapse+wide
    * path regardless of measured occupancy — the multi-probe
    * bucket-list OOM regime (see object doc). */
  private[graft] val MediaWideAbove: Long = 100000L

  /** Which regime the last [[dumpAndPair]] picked (observability for
    * the regime-switch spec, the lastHashMinIters convention). */
  @volatile private[graft] var lastWide: Boolean = false

  /** Per-(dumpKind, dump base) regime record — a measured fact of the
    * run, not a pointer to it: the media gates' oracles read this, so
    * Verify renders `SparkEntry.oracleSql` AFTER the queries ran and
    * each family's oracle matches the plan its corpus actually took.
    * Keyed by base as well as kind so the same family run on two
    * corpora in one session keeps both records (r14 What's-wrong #1:
    * kind-only was last-write-wins). */
  private val regime =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Boolean]()

  private[graft] def pickedWide(dumpKind: String, base: String): Boolean =
    Option(regime.get((dumpKind, base))).exists(identity)

  def dumpAndPair(sigsRaw: DataFrame, dumpKind: String, sfDir: String,
      maxHamming: Int, maxBucket: Int): DataFrame = {
    val sigs = graft.core.Materialize.frame(sigsRaw, "sigdump")
    val base = new java.io.File(sfDir).getName
    graft.core.SideDump.write(sigs, dumpKind, base)
    // one cheap job over the materialized checkpoint: every row
    // posts its 8 band keys (band*256 + value — ≤ 2048 groups,
    // map-side combined), giving row count and max bucket occupancy
    val st = sigs.select(explode(expr(
        "transform(sequence(0, 7), b -> ((sig >> (b * 8)) & 255) + b * 256)"
      )).as("bh"))
      .groupBy("bh").count()
      .agg(sum("count").as("rows8"), max("count").as("maxOcc"))
      .head()
    val (n, maxOcc) =
      if (st.isNullAt(0)) (0L, 0L) else (st.getLong(0) / 8, st.getLong(1))
    val wide = maxOcc > maxBucket || n >= MediaWideAbove
    lastWide = wide
    regime.put((dumpKind, base), wide)
    if (wide)
      graft.dedup.Dedup.simhashPairsWideCollapsedOf(sigs, maxHamming,
        maxBucket)
    else
      graft.dedup.Dedup.simhashPairsMultiProbeOf(sigs, maxHamming, maxBucket)
  }

  /** The FORCED scale-path tail: same dump discipline, pairs always
    * via the collapse + wide-band machinery — the explicit gate entry
    * (`mm_image_dedup_wide`) that hash-pins the scale regime on a
    * corpus the measured switch would route to multi-probe. */
  def dumpAndPairWide(sigsRaw: DataFrame, dumpKind: String, sfDir: String,
      maxHamming: Int, maxBucket: Int): DataFrame = {
    val sigs = graft.core.Materialize.frame(sigsRaw, "sigdump")
    val base = new java.io.File(sfDir).getName
    graft.core.SideDump.write(sigs, dumpKind, base)
    regime.put((dumpKind, base), true)
    graft.dedup.Dedup.simhashPairsWideCollapsedOf(sigs, maxHamming, maxBucket)
  }
}
