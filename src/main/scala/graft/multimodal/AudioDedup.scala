package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import graft.multimodal.Multimodal.MediaRow

/** Perceptual audio near-duplicate detection — the acoustic twin of
  * [[ImageDedup]]: decode PCM samples, fold a 64-bit ENERGY-DELTA
  * fingerprint (bit r = "region r+1 is louder than region r" over 65
  * equal time regions — the time-domain core of the Haitsma–Kalker
  * band-energy-difference fingerprint, minus the filterbank), then
  * find pairs with the SAME multi-probe banded-Hamming machinery the
  * text and image families use
  * ([[graft.dedup.Dedup.simhashPairsMultiProbeOf]]).
  *
  * Sign-of-delta is GAIN-INVARIANT (scaling every sample scales both
  * sides of each comparison), which is the property an audio
  * fingerprint needs that the image aHash's mean-vs-global rule does
  * not provide; it is also robust to small local edits, since each
  * bit depends only on two adjacent region sums.
  *
  * Sample decode is REAL pure-JVM for canonical 16-bit PCM WAV
  * ([[AudioFeatures.decodeWavPcm]] — mean-downmixed); payloads the
  * decoder cannot read (codec-compressed audio, the gate corpus'
  * fake text-byte rows, clips shorter than 65 samples) take the
  * documented byte-level fallback: the same delta rule over byte
  * region MEANS — degraded-but-honest, near-dup byte streams still
  * land at small Hamming distance. The gate corpus carries real WAV
  * payloads on half its audio rows ([[MediaSynth]]), so the hash
  * gate crosses the PCM decode + energy fingerprint AND the byte
  * fallback in one run.
  *
  * Scale design: hashing is map-only over the media table; the pair
  * stage shuffles 8 fixed-size band keys per clip — identical
  * posture to `dedup_simhash` / `mm_image_dedup`. Oracle story: the
  * per-clip fingerprints are side-dumped (the decode is the faith);
  * banding, bucket cap and the Hamming verify are re-derived by
  * DuckDB as 64-bit arithmetic, the `dedup_simhash_multiprobe`
  * oracle verbatim over the audio dump.
  */
object AudioDedup {

  def dumpPath(base: String): String =
    graft.core.SideDump.path("audhash_sigs", base)

  /** 64-bit energy-delta fingerprint over PCM samples: 65 equal time
    * regions, bit r set iff mean energy (Σs²/len) of region r+1
    * strictly exceeds region r's, compared via cross-multiplied Long
    * sums (no division, exactly reproducible). Overflow-safe by
    * bounds: region length ≤ ⌈MaxFrames/65⌉ = 64 528, so a region
    * energy sum ≤ 64 528·32 768² ≈ 6.9e13 and each cross product
    * ≤ 4.5e18 < 2⁶³. Needs ≥ 65 samples (else the caller falls back
    * to the byte hash). */
  private[multimodal] def audioHash(samples: Array[Short]): Option[Long] = {
    val n = samples.length
    if (n < 65) return None
    val e = new Array[Long](65)
    val c = new Array[Long](65)
    var r = 0
    while (r < 65) {
      val lo = ((r.toLong * n) / 65).toInt
      val hi = (((r + 1).toLong * n) / 65).toInt
      var sum = 0L
      var i = lo
      while (i < hi) { val s = samples(i).toLong; sum += s * s; i += 1 }
      e(r) = sum; c(r) = hi - lo
      r += 1
    }
    var hash = 0L
    r = 0
    while (r < 64) {
      // mean(r+1) > mean(r)  ⟺  e(r+1)·c(r) > e(r)·c(r+1)
      if (e(r + 1) * c(r) > e(r) * c(r + 1)) hash |= 1L << r
      r += 1
    }
    Some(hash)
  }

  /** FALLBACK fingerprint for payloads PCM decode cannot read: the
    * same adjacent-region delta rule applied to the raw byte stream's
    * region MEANS (65 regions, cross-multiplied). Not a fake: two
    * byte streams with similar content produce nearby fingerprints,
    * so the banded pair machinery still finds near-dup payloads —
    * documented as byte-level rather than sample-level similarity. */
  private[multimodal] def stubAudioHash(bytes: Array[Byte]): Long = {
    val n = bytes.length
    if (n == 0) return 0L
    val e = new Array[Long](65)
    val c = new Array[Long](65)
    var r = 0
    while (r < 65) {
      val lo = ((r.toLong * n) / 65).toInt
      val hi = (((r + 1).toLong * n) / 65).toInt
      var sum = 0L
      var p = lo
      while (p < hi) { sum += (bytes(p) & 0xff); p += 1 }
      e(r) = sum; c(r) = hi - lo
      r += 1
    }
    var hash = 0L
    r = 0
    while (r < 64) {
      // empty regions (n < 65) compare as zero-mass: only a non-empty
      // louder right side sets the bit, never a 0·x > y·0 artifact
      if (c(r) > 0 && c(r + 1) > 0 && e(r + 1) * c(r) > e(r) * c(r + 1))
        hash |= 1L << r
      r += 1
    }
    hash
  }

  /** The per-clip fingerprint: real PCM decode (WAV, then FLAC —
    * [[Flac.decodePcm]], r14; magic-disjoint sniff) + energy delta
    * when possible, byte fallback otherwise. */
  private[multimodal] def clipHash(bytes: Array[Byte]): Long =
    AudioFeatures.decodeWavPcm(bytes)
      .orElse(Flac.decodePcm(bytes))
      .flatMap { case (_, _, samples) => audioHash(samples) }
      .getOrElse(stubAudioHash(bytes))

  // ── Haitsma–Kalker FILTERBANK fingerprint (the production form) ───

  /** 64-bit banded SPECTRAL fingerprint — the Haitsma–Kalker
    * band-energy-difference rule ("A Highly Robust Audio
    * Fingerprinting System", ISMIR 2002) adapted to a clip-level
    * 64-bit signature over an INTEGER filterbank:
    *
    *  - 17 equal time frames (truncating the tail — frame lengths
    *    exactly equal, so raw energy sums compare without
    *    normalization);
    *  - 5 "bands" per frame: energies of the lag-k difference filters
    *    y_k[i] = s[i] − s[i−k] for k ∈ {1,2,4,8} (response
    *    4·sin²(πfk) — each lag emphasizes a different frequency
    *    region, high → low; a comb filterbank that is pure Long
    *    arithmetic, no FFT, no floats) plus the raw energy as the
    *    lowest band;
    *  - the HK bit: bit((t−1)·4 + b) = 1 iff the band-difference
    *    ENERGY GRADIENT is positive in both axes,
    *    (E(t,b) − E(t,b+1)) − (E(t−1,b) − E(t−1,b+1)) > 0 —
    *    16 time steps × 4 band steps = exactly 64 bits.
    *
    * Gain-invariant like the HK original (scaling samples scales every
    * energy by g², signs of differences unchanged) and robust to local
    * edits (each bit touches two adjacent frames only). Overflow-safe:
    * a lag-difference square ≤ (2·32768)² and frames ≤ MaxFrames
    * samples keep every sum < 2⁶² and the 4-term difference < 2⁶³.
    * Needs frames longer than the longest lag (n ≥ 17·9); shorter or
    * undecodable clips take the byte fallback. */
  private[multimodal] def filterbankHash(samples: Array[Short]): Option[Long] = {
    val T = 17
    val frame = samples.length / T
    if (frame <= 8) return None
    val lags = Array(1, 2, 4, 8)
    val e = Array.ofDim[Long](T, 5)
    var t = 0
    while (t < T) {
      val lo = t * frame; val hi = lo + frame
      var b = 0
      while (b < 4) {
        val k = lags(b)
        var sum = 0L; var i = lo + k
        while (i < hi) {
          val d = (samples(i) - samples(i - k)).toLong; sum += d * d; i += 1
        }
        e(t)(b) = sum; b += 1
      }
      var sum = 0L; var i = lo
      while (i < hi) { val s = samples(i).toLong; sum += s * s; i += 1 }
      e(t)(4) = sum
      t += 1
    }
    var hash = 0L
    t = 1
    while (t < T) {
      var b = 0
      while (b < 4) {
        val d = (e(t)(b) - e(t)(b + 1)) - (e(t - 1)(b) - e(t - 1)(b + 1))
        if (d > 0) hash |= 1L << ((t - 1) * 4 + b)
        b += 1
      }
      t += 1
    }
    Some(hash)
  }

  /** Filterbank per-clip fingerprint with the shared fallback chain. */
  private[multimodal] def clipHashFb(bytes: Array[Byte]): Long =
    AudioFeatures.decodeWavPcm(bytes)
      .orElse(Flac.decodePcm(bytes))
      .flatMap { case (_, _, samples) => filterbankHash(samples) }
      .getOrElse(stubAudioHash(bytes))

  /** Near-dup pairs (i, j) among `media`'s audio rows at Hamming ≤
    * `maxHamming` — multi-probe banding (radius-1 band perturbations,
    * pigeonhole-complete to Hamming ≤ 15 over 8×8-bit bands). */
  def audioDedupOf(media: Dataset[MediaRow], maxHamming: Int = 15,
      maxBucket: Int = 1000): DataFrame =
    graft.dedup.Dedup.simhashPairsMultiProbeOf(hashFrame(media),
      maxHamming, maxBucket)

  /** (doc_id, sig) fingerprint frame — doc_id-named so the SimHash
    * band CTE and pair machinery apply verbatim. */
  private def hashFrame(media: Dataset[MediaRow]): DataFrame = {
    import media.sparkSession.implicits._
    media.filter(_.kind == "audio")
      .map(m => (m.media_id, clipHash(m.media)))
      .toDF("doc_id", "sig")
  }

  /** Gate surface: fingerprints side-dumped (the decode is the
    * faith); multi-probe banding, cap and Hamming verify re-derived
    * by DuckDB (the dedup_simhash_multiprobe oracle over the audio
    * dump). localCheckpoint, not cache(): both the dump write and the
    * pair stage read the fingerprints (decode must run once), and the
    * checkpoint's blocks are reclaimed once the plan is
    * unreferenced. */
  def audioDedup(spark: SparkSession, sfDir: String, maxHamming: Int = 15,
      maxBucket: Int = 1000): DataFrame =
    SigDump.dumpAndPair(hashFrame(Multimodal.mediaTable(spark, sfDir)),
      "audhash_sigs", sfDir, maxHamming, maxBucket)

  def fbDumpPath(base: String): String =
    graft.core.SideDump.path("audfb_sigs", base)

  /** Gate surface for the FILTERBANK fingerprint (`mm_audio_dedup_fb`)
    * — same media table, same banded machinery, same
    * dumped-signature oracle; only the per-clip hash differs, so the
    * two gates pin time-domain and spectral forms independently. */
  def audioDedupFb(spark: SparkSession, sfDir: String, maxHamming: Int = 15,
      maxBucket: Int = 1000): DataFrame = {
    import spark.implicits._
    val sigs = Multimodal.mediaTable(spark, sfDir)
      .filter(_.kind == "audio")
      .map(m => (m.media_id, clipHashFb(m.media)))
      .toDF("doc_id", "sig")
    SigDump.dumpAndPair(sigs, "audfb_sigs", sfDir, maxHamming, maxBucket)
  }
}
