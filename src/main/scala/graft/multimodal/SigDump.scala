package graft.multimodal

import graft.core.DumpSink
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Shared pair tail for the perceptual near-dup families (image /
  * audio / video): materialize the (doc_id, sig) fingerprint frame
  * ONCE (the decode feeds the regime pick, the pair stage and, on a
  * gate run, the side dump its DuckDB oracle reads — without the
  * checkpoint it would run once per reader), hand it to the dump sink,
  * then run the banded-Hamming pair machinery. One copy of the
  * materialize/dump discipline instead of nine.
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
  * the correctness-gate plans are the multi-probe ones. The media
  * oracles re-derive the same pick from the dumped signatures (ADVICE
  * r13): a corpus the switch routes wide is checked against the
  * all-pairs ground truth — the `mm_image_dedup_wide` shape — instead
  * of a multi-probe re-derivation that would hash-mismatch a correct
  * engine. */
private[graft] object SigDump {

  /** Row count above which the pair tail takes the collapse+wide
    * path regardless of measured occupancy — the multi-probe
    * bucket-list OOM regime (see object doc). */
  private[graft] val MediaWideAbove: Long = 100000L

  /** The regime pick over a materialized (doc_id, sig) frame: true
    * (collapse + wide bands) when some 8-bit band bucket holds more
    * than `maxBucket` rows or the frame has [[MediaWideAbove]] rows or
    * more. One cheap job: every row posts its 8 band keys (band*256 +
    * value — ≤ 2048 groups, map-side combined), giving row count and
    * max bucket occupancy; an empty frame is not wide. */
  def pickWide(sigs: DataFrame, maxBucket: Int): Boolean = {
    val st = sigs.select(explode(expr(
        "transform(sequence(0, 7), b -> ((sig >> (b * 8)) & 255) + b * 256)"
      )).as("bh"))
      .groupBy("bh").count()
      .agg(sum("count").as("rows8"), max("count").as("maxOcc"))
      .head()
    val (n, maxOcc) =
      if (st.isNullAt(0)) (0L, 0L) else (st.getLong(0) / 8, st.getLong(1))
    maxOcc > maxBucket || n >= MediaWideAbove
  }

  def dumpAndPair(sigsRaw: DataFrame, maxHamming: Int, maxBucket: Int,
      sigsDump: DumpSink = DumpSink.discard): DataFrame = {
    val sigs = graft.core.Materialize.frame(sigsRaw, "sigdump")
    sigsDump(sigs)
    if (pickWide(sigs, maxBucket))
      graft.dedup.Dedup.simhashPairsWideCollapsedOf(sigs, maxHamming,
        maxBucket)
    else
      graft.dedup.Dedup.simhashPairsMultiProbeOf(sigs, maxHamming, maxBucket)
  }

  /** The FORCED scale-path tail: same dump discipline, pairs always
    * via the collapse + wide-band machinery — the explicit gate entry
    * (`mm_image_dedup_wide`) that hash-pins the scale regime on a
    * corpus the measured switch would route to multi-probe. */
  def dumpAndPairWide(sigsRaw: DataFrame, maxHamming: Int, maxBucket: Int,
      sigsDump: DumpSink = DumpSink.discard): DataFrame = {
    val sigs = graft.core.Materialize.frame(sigsRaw, "sigdump")
    sigsDump(sigs)
    graft.dedup.Dedup.simhashPairsWideCollapsedOf(sigs, maxHamming, maxBucket)
  }
}
