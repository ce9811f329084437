package graft.multimodal

import graft.SparkSpec
import graft.multimodal.Multimodal.MediaRow

class AudioDedupSpec extends SparkSpec {

  // spec-side PCM WAV encoder (mono 16-bit), as in AudioFeaturesSpec
  private def wav(samples: Seq[Int]): Array[Byte] = {
    def le32(v: Int) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def le16(v: Int) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    val data = samples.flatMap(le16).toArray
    "RIFF".getBytes ++ le32(36 + data.length) ++ "WAVE".getBytes ++
      "fmt ".getBytes ++ le32(16) ++ le16(1) ++ le16(1) ++
      le32(8000) ++ le32(16000) ++ le16(2) ++ le16(16) ++
      "data".getBytes ++ le32(data.length) ++ data
  }

  /** `regions` amplitudes, `per` samples each (sign alternates inside
    * a region so the envelope, not DC, carries the energy). */
  private def envelope(regions: Seq[Int], per: Int): Seq[Int] =
    regions.flatMap(a => (0 until per).map(i => if (i % 2 == 0) a else -a))

  test("energy-delta hash: monotone envelopes, gain invariance, length floor") {
    // strictly rising region energy → every delta bit set
    val rising = envelope((0 until 65).map(r => 100 * (r + 1)), 2)
    val Some(up) = AudioDedup.audioHash(rising.map(_.toShort).toArray)
    assert(up === -1L, "64 rising deltas must set all 64 bits")
    // strictly falling → no bit set
    val falling = envelope((0 until 65).map(r => 100 * (65 - r)), 2)
    val Some(down) = AudioDedup.audioHash(falling.map(_.toShort).toArray)
    assert(down === 0L)
    // gain invariance: doubling every sample flips nothing
    val Some(up2) = AudioDedup.audioHash(rising.map(s => (s * 2).toShort).toArray)
    assert(up2 === up)
    // below 65 samples the PCM hash declines (callers fall back)
    assert(AudioDedup.audioHash(Array.fill[Short](64)(5)).isEmpty)
  }

  test("byte fallback: delta rule over byte regions, empty-region bits stay clear") {
    assert(AudioDedup.stubAudioHash(Array.emptyByteArray) === 0L)
    // 130 bytes, rising region means → all 64 bits
    val rising = (0 until 65).flatMap(r => Seq(r * 3, r * 3 + 1))
      .map(_.toByte).toArray
    assert(AudioDedup.stubAudioHash(rising) === -1L)
    // shorter than 65 bytes: rising values still set bits where both
    // adjacent regions are non-empty, and the 5 empty regions' bits
    // stay clear (never an empty-vs-loaded artifact)
    val short = Array.tabulate[Byte](60)(i => (i * 2).toByte)
    val h = AudioDedup.stubAudioHash(short)
    assert(h !== 0L, "non-empty adjacent rising regions must set bits")
    assert(java.lang.Long.bitCount(h) < 64, "empty regions leave bits clear")
    // a similar stream (one byte nudged) lands nearby
    val nudged = short.clone(); nudged(3) = (nudged(3) + 1).toByte
    assert(java.lang.Long.bitCount(h ^ AudioDedup.stubAudioHash(nudged)) <= 8)
  }

  test("planted near-identical clips pair up through the distributed pipeline") {
    import spark.implicits._
    // same strictly-rising envelope, different per-sample jitter: the
    // region-energy deltas dominate the jitter, so the twins' hashes
    // coincide; the falling-envelope clip is the complement
    def clip(jitterSeed: Int, rising: Boolean): Array[Byte] = {
      val amps = (0 until 65).map { r =>
        val base = if (rising) 500 + 40 * r else 500 + 40 * (64 - r)
        base + (jitterSeed * 31 + r * 5) % 7 - 3
      }
      wav(envelope(amps, 4))
    }
    val rows = Seq(
      MediaRow(0L, "audio", clip(1, rising = true), "audio/wav", 0L),
      MediaRow(1L, "audio", clip(2, rising = true), "audio/wav", 0L),
      MediaRow(2L, "audio", clip(3, rising = false), "audio/wav", 0L),
      MediaRow(3L, "image", Array[Byte](1, 2, 3), "image/qoi", 3L))
    val pairs = AudioDedup.audioDedupOf(rows.toDS()).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((0L, 1L)),
      "jittered twins must pair; the reversed clip and the image row must not")
    val hA = AudioDedup.clipHash(rows(0).media)
    val hA2 = AudioDedup.clipHash(rows(1).media)
    val hB = AudioDedup.clipHash(rows(2).media)
    assert(java.lang.Long.bitCount(hA ^ hA2) <= 7)
    assert(java.lang.Long.bitCount(hA ^ hB) > 32)
  }

  test("filterbank hash: gain invariance, edit locality, spectral discrimination, length floor") {
    // two clips with IDENTICAL per-sample energy (samples are ±a, so
    // every s² is a² regardless of carrier) but different spectral
    // content: a slow ±a alternation (period 8) vs per-sample
    // alternation (period 1), amplitude rising per time frame so the
    // HK time-gradients are non-degenerate. The energy-delta core is
    // structurally blind to the carrier; the filterbank is not.
    val frame = 24
    val n = 17 * frame
    def am(period: Int): Array[Short] = Array.tabulate[Short](n) { i =>
      val a = 100 * (i / frame + 1) // rising amplitude per frame
      (if ((i / period) % 2 == 0) a else -a).toShort
    }
    val lowF = am(8); val highF = am(1)
    val Some(eLow) = AudioDedup.audioHash(lowF)
    val Some(eHigh) = AudioDedup.audioHash(highF)
    assert(eLow === eHigh,
      "the time-domain core is blind to this spectral difference (the motivation)")
    val Some(fLow) = AudioDedup.filterbankHash(lowF)
    val Some(fHigh) = AudioDedup.filterbankHash(highF)
    assert(fLow !== fHigh, "the filterbank separates the spectra")
    // gain invariance: scaling every sample flips no bit
    val Some(fLow2) = AudioDedup.filterbankHash(lowF.map(s => (s * 3).toShort))
    assert(fLow2 === fLow)
    // edit locality: one jittered sample touches only the two time
    // rows (<= 8 bits) that see its frame
    val jit = lowF.clone()
    jit(100) = (jit(100) + 20).toShort
    val Some(fJit) = AudioDedup.filterbankHash(jit)
    assert(java.lang.Long.bitCount(fLow ^ fJit) <= 8,
      "a local edit must move only nearby time-frame bits")
    // frames must exceed the longest lag: below 17*9 samples decline
    assert(AudioDedup.filterbankHash(new Array[Short](17 * 8)).isEmpty)
    assert(AudioDedup.filterbankHash(am(4).take(17 * 9)).isDefined)
  }

  test("filterbank gate corpus: dump covers every audio row, both paths, pairs subset-verified") {
    val pairs = AudioDedup.audioDedupFb(spark, sf(),
        sigsDump = graft.gates.MediaGates.AudFbSigs.sink(sf())).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val dumped = spark.read.parquet(graft.gates.MediaGates.AudFbSigs.glob(sf()))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val clips = Multimodal.mediaTable(spark, sf()).filter(_.kind == "audio").collect()
    assert(dumped.size === clips.length)
    var nReal = 0; var nFb = 0
    clips.foreach { m =>
      AudioFeatures.decodeWavPcm(m.media)
        .flatMap(t => AudioDedup.filterbankHash(t._3)) match {
        case Some(h) => nReal += 1; assert(dumped(m.media_id) === h)
        case None =>
          nFb += 1; assert(dumped(m.media_id) === AudioDedup.stubAudioHash(m.media))
      }
    }
    assert(nReal > 0 && nFb > 0,
      s"gate must cross both fingerprint paths: real=$nReal fallback=$nFb")
    // every reported pair is a true Hamming <= 15 pair of the dump
    pairs.foreach { case (i, j) =>
      assert(java.lang.Long.bitCount(dumped(i) ^ dumped(j)) <= 15)
    }
  }

  test("gate corpus: every audio row fingerprinted and dumped; real rows cross PCM decode") {
    val out = AudioDedup.audioDedup(spark, sf(),
      sigsDump = graft.gates.MediaGates.AudSigs.sink(sf()))
    out.collect() // force + dump
    val dumped = spark.read.parquet(graft.gates.MediaGates.AudSigs.glob(sf()))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val clips = Multimodal.mediaTable(spark, sf()).filter(_.kind == "audio").collect()
    assert(dumped.size === clips.length)
    var nReal = 0; var nFake = 0
    clips.foreach { m =>
      if (MediaSynth.isReal(m.media_id)) {
        nReal += 1
        // real WAV rows always carry ≥ 65 samples (frames = 64 needs
        // doc_id % 192 == 0, which is an image row), so the dumped
        // fingerprint must be the PCM energy-delta hash, never the stub
        val Some((_, _, samples)) = AudioFeatures.decodeWavPcm(m.media)
        assert(samples.length === MediaSynth.wavFrames(m.media_id))
        assert(dumped(m.media_id) === AudioDedup.audioHash(samples).get)
      } else {
        nFake += 1
        assert(dumped(m.media_id) === AudioDedup.stubAudioHash(m.media))
      }
    }
    assert(nReal >= nFake && nFake > 0,
      s"gate must cross both fingerprint paths: real=$nReal fake=$nFake")
  }
}
