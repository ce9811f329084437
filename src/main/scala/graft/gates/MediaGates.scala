package graft.gates

import graft.multimodal.{AudioDedup, AudioFeatures, AudioResample, Flac, Gif,
  ImageDedup, ImageResize, Jpeg, MediaSynth, Multimodal, Png, SigDump, Tiff,
  VideoFrames, Webp}
import graft.streaming.MediaStream

/** The `mm_` gates: media decode, features, resize and perceptual
  * near-dup. */
object MediaGates {

  val gates: Seq[Gate] = Seq(
    // ---- multimodal (stubbed decode; real plumbing) ----
    // half of each kind's rows carry REAL QOI/WAV/MP4 payloads with
    // doc_id-closed-form parameters (MediaSynth); the other half carry
    // UTF-8 text bytes — strlen (DuckDB byte length) mirrors
    // octet_length for those rows' stub arithmetic
    Gate("mm_features", (s, dir) => Multimodal.features(s, dir),
      _ => mmFeaturesSql),
    // perceptual image near-dup: real QOI/BMP pixel decode + aHash
    // where possible, stub hash elsewhere; SimHash band machinery
    // image near-dup: the per-image hashes are the dumped faith (the
    // decode, real or stub, happened in the JVM); banding, bucket cap
    // and the Hamming verify are the dedup_simhash oracle verbatim
    Gate("mm_image_dedup", (s, dir) =>
      ImageDedup.imageDedup(s, dir),
      dir => mediaPairsOracle("imghash_sigs", ImageDedup.dumpPath, dir)),
    // the JPEG path through the same decode -> aHash -> multi-probe
    // pipeline: odd docs carry their even neighbor's image with one
    // block perturbed (real near-dups, not byte copies); id%7==5 rows
    // are truncated streams pinning the stub fallback in-gate
    // JPEG-decode-fed perceptual pairs: same dumped-sig oracle — the
    // decode is the faith, the pair machinery is re-derived
    Gate("mm_image_dedup_jpeg", (s, dir) =>
      Jpeg.imageDedupJpeg(s, dir),
      dir => mediaPairsOracle("jpeghash_sigs", Jpeg.dedupDumpPath, dir)),
    // the media near-dup SCALE path: exact-signature collapse +
    // 4x16-bit wide bands + radius-3 probes over the same JPEG
    // fixture, pinned by the all-pairs Hamming <= 15 truth (the r13
    // rehearsal finding: 8-bit bands + identical-sig cliques lose
    // twins at 13x; this formulation keeps recall 1.0)
    // the scale path owes the ALL-PAIRS Hamming <= 15 ground truth
    // (not its own plumbing): collapse expansion + wide pigeonhole
    // must reach FULL recall, including the identical-sig stub clique
    Gate("mm_image_dedup_wide", (s, dir) =>
      Jpeg.imageDedupWide(s, dir),
      dir => allPairsHamming15Sql(Gate.glob(Jpeg.wideDumpPath, dir))),
    // the streaming crawl twin: per-batch decode+hash landed as
    // DeltaIndex subdirs with a mid-stream staged compaction, then
    // the same banded pair machinery over the reassembled index
    Gate("mm_image_dedup_stream", (s, dir) =>
      MediaStream.imageDedupStream(s, dir),
      dir => mediaPairsOracle("jpegstreamhash_sigs", MediaStream.dumpPath, dir)),
    // audio features: real PCM WAV sample decode on the gate corpus'
    // real rows, byte-length stub on the fakes
    // extended WAV profile: stereo mean-downmix (truncating) +
    // 8-bit widening + rate/channel readout, closed-form oracle
    // audio rows are doc_id % 3 == 1; REAL rows re-synthesize the PCM
    // sample stream from MediaSynth's closed form (generate the exact
    // samples, fold peak/crossings/energy with the decoder's
    // zeros-break-runs rule) — the gate passes only if the JVM RIFF
    // walk + 16-bit LE sample decode read the real WAV correctly;
    // fake rows take the documented stub arithmetic
    // extended-WAV features re-derived from doc_id closed forms:
    // per-channel samples (16-bit signed / 8-bit widened x256 about
    // 128), per-frame MEAN downmix with truncating division (// in
    // DuckDB == Java /), then the shared peak/crossings/energy folds;
    // rate and channels pin the fmt-chunk readout; truncated rows
    // (id % 5 = 3) owe the all-(-1) fallback
    Gate("mm_audio_features_ext", (s, dir) =>
      AudioFeatures.extFeatureReport(s, dir),
      _ => """WITH ext AS (
        |  SELECT doc_id, 1 + doc_id % 2 AS c, doc_id % 4 AS fc,
        |    32 + doc_id % 64 AS n,
        |    8000 + 525 * (doc_id % 4) AS rate
        |  FROM documents),
        |si AS (SELECT doc_id, c, fc, unnest(range(0, n)) AS i FROM ext),
        |cs AS (SELECT unnest(range(0, 2)) AS ch),
        |raw AS (
        |  SELECT si.doc_id, si.c, si.fc, si.i, cs.ch,
        |    (si.doc_id * 13 + si.i * 29 + cs.ch * 7) % 256 AS r
        |  FROM si, cs WHERE cs.ch < si.c),
        |smp AS (
        |  SELECT doc_id, c, i,
        |    -- doc_id % 9 = 5: IEEE-float streams carrying the exact
        |    -- 16-bit closed form (the decoder's rint projection is
        |    -- exact on s16/32768 floats); % 9 = 7: 24-bit PCM whose
        |    -- floor >> 8 projection reproduces the same closed form
        |    CASE WHEN doc_id % 9 = 5 OR doc_id % 9 = 7
        |      THEN (doc_id * 31 + i * 97 + ch * 53) % 4001 - 2000
        |    ELSE CASE fc
        |      WHEN 0 THEN (doc_id * 31 + i * 97 + ch * 53) % 4001 - 2000
        |      WHEN 1 THEN (r - 128) * 256
        |      WHEN 2 THEN -- G.711 u-law expansion (CCITT)
        |        CASE WHEN (255 - r) >= 128
        |          THEN 132 - ((((255 - r) & 15) * 8 + 132) << (((255 - r) // 16) & 7))
        |          ELSE ((((255 - r) & 15) * 8 + 132) << (((255 - r) // 16) & 7)) - 132
        |        END
        |      ELSE -- G.711 A-law expansion (CCITT)
        |        CASE WHEN xor(r, 85) >= 128 THEN 1 ELSE -1 END *
        |        CASE ((xor(r, 85) // 16) & 7)
        |          WHEN 0 THEN (xor(r, 85) & 15) * 16 + 8
        |          WHEN 1 THEN (xor(r, 85) & 15) * 16 + 264
        |          ELSE ((xor(r, 85) & 15) * 16 + 264)
        |            << (((xor(r, 85) // 16) & 7) - 1)
        |        END
        |    END END AS s
        |  FROM raw),
        |mix AS (SELECT doc_id, i, CAST(sum(s) AS BIGINT) // max(c) AS m
        |  FROM smp GROUP BY doc_id, i),
        |lagd AS (SELECT doc_id, m,
        |    lag(m) OVER (PARTITION BY doc_id ORDER BY i) AS prev
        |  FROM mix),
        |f AS (
        |  SELECT doc_id, count(*) AS n_samples, max(abs(m)) AS peak_abs,
        |    coalesce(sum(CASE WHEN m <> 0 AND prev <> 0
        |                       AND sign(m) <> sign(prev) THEN 1 ELSE 0 END), 0)
        |      AS zero_crossings,
        |    sum(m * m) AS energy
        |  FROM lagd GROUP BY doc_id)
        |SELECT e.doc_id,
        |  CAST(CASE WHEN e.doc_id % 5 = 3 THEN -1 ELSE e.rate END AS BIGINT) AS rate,
        |  CAST(CASE WHEN e.doc_id % 5 = 3 THEN -1 ELSE e.c END AS BIGINT) AS channels,
        |  CAST(CASE WHEN e.doc_id % 5 = 3 THEN -1 ELSE f.n_samples END AS BIGINT) AS n_samples,
        |  CAST(CASE WHEN e.doc_id % 5 = 3 THEN -1 ELSE f.peak_abs END AS BIGINT) AS peak_abs,
        |  CAST(CASE WHEN e.doc_id % 5 = 3 THEN -1 ELSE f.zero_crossings END AS BIGINT) AS zero_crossings,
        |  CAST(CASE WHEN e.doc_id % 5 = 3 THEN -1 ELSE f.energy END AS BIGINT) AS energy
        |FROM ext e JOIN f ON f.doc_id = e.doc_id""".stripMargin),
    Gate("mm_audio_features", (s, dir) =>
      AudioFeatures.audioFeatures(s, dir),
      _ => """WITH a AS (
        |  SELECT doc_id, strlen(text) AS tl FROM documents WHERE doc_id % 3 = 1),
        |realn AS (
        |  SELECT doc_id, 64 + doc_id % 192 AS n FROM a WHERE (doc_id // 3) % 2 = 0),
        |sv AS (
        |  SELECT doc_id, unnest(range(0, n)) AS i FROM realn),
        |ss AS (
        |  SELECT doc_id, i, (doc_id * 31 + i * 97) % 4001 - 2000 AS s FROM sv),
        |lagd AS (
        |  SELECT doc_id, s,
        |    lag(s) OVER (PARTITION BY doc_id ORDER BY i) AS prev
        |  FROM ss),
        |realf AS (
        |  SELECT doc_id AS media_id,
        |    count(*) AS n_samples,
        |    max(abs(s)) AS peak_abs,
        |    coalesce(sum(CASE WHEN s <> 0 AND prev <> 0
        |                       AND sign(s) <> sign(prev) THEN 1 ELSE 0 END), 0)
        |      AS zero_crossings,
        |    sum(s * s) AS energy
        |  FROM lagd GROUP BY doc_id),
        |stubf AS (
        |  SELECT doc_id AS media_id, tl * 2 AS n_samples, tl % 32768 AS peak_abs,
        |    tl % 1000 AS zero_crossings, tl * 12345 AS energy
        |  FROM a WHERE (doc_id // 3) % 2 = 1)
        |SELECT media_id, CAST(n_samples AS BIGINT) AS n_samples,
        |  CAST(peak_abs AS BIGINT) AS peak_abs,
        |  CAST(zero_crossings AS BIGINT) AS zero_crossings,
        |  CAST(energy AS BIGINT) AS energy
        |FROM (SELECT * FROM realf UNION ALL SELECT * FROM stubf)""".stripMargin),
    // perceptual audio near-dup: energy-delta fingerprint over real
    // PCM where decodable, byte-delta fallback elsewhere; same
    // multi-probe SimHash band machinery as mm_image_dedup
    // audio near-dup: identical oracle shape over the audio
    // fingerprint dump (energy-delta over real PCM / byte fallback)
    Gate("mm_audio_dedup", (s, dir) =>
      AudioDedup.audioDedup(s, dir),
      dir => mediaPairsOracle("audhash_sigs", AudioDedup.dumpPath, dir)),
    // the Haitsma-Kalker filterbank form: lag-difference comb
    // filterbank band energies, the HK time x band gradient bit rule
    // (integer arithmetic end to end); same banded pair machinery
    // filterbank (Haitsma-Kalker) audio near-dup: same oracle shape
    // over the spectral fingerprint dump
    Gate("mm_audio_dedup_fb", (s, dir) =>
      AudioDedup.audioDedupFb(s, dir),
      dir => mediaPairsOracle("audfb_sigs", AudioDedup.fbDumpPath, dir)),
    // REAL baseline-TIFF decode (TIFF 6.0: both byte orders, IFD
    // walk, gray/RGB/RGBA/palette/WhiteIsZero photometrics,
    // multi-strip, PackBits): lossless, so the oracle recomputes
    // pixel sums from doc_id closed forms (the WhiteIsZero class
    // stores inverted samples and decodes back to the same forms);
    // truncated rows (id % 5 == 3) pin the fallback
    // decoded-TIFF pixel statistics from doc_id closed forms: dims
    // (8 + id%9, 8 + id%6), gray (id*29 + x*37 + y*53) % 256, the
    // photometric classes' channel derivation (id%4 in (0,3) -> gray
    // classes sum 3*gray — WhiteIsZero decodes BACK to gray; else
    // gray + (gray+85)%256 + (gray+170)%256 — alpha never summed),
    // the position weight. Truncated rows owe the (-1,...) fallback.
    Gate("mm_tiff_decode", (s, dir) => Tiff.decodeReport(s, dir),
      _ => """WITH xs AS (SELECT unnest(range(0, 17)) AS x),
        |ys AS (SELECT unnest(range(0, 14)) AS y),
        |g AS (SELECT doc_id, 8 + doc_id % 9 AS w, 8 + doc_id % 6 AS h
        |      FROM documents),
        |cells AS (
        |  SELECT g.doc_id, g.w, g.h, x, y,
        |    (g.doc_id * 29 + x * 37 + y * 53) % 256 AS gray
        |  FROM g, xs, ys WHERE x < g.w AND y < g.h),
        |ok AS (
        |  SELECT doc_id, CAST(w AS BIGINT) AS w, CAST(h AS BIGINT) AS h,
        |    CAST(sum(CASE WHEN doc_id % 4 IN (0, 3) THEN 3 * gray
        |      ELSE gray + (gray + 85) % 256 + (gray + 170) % 256 END)
        |      AS BIGINT) AS pix_sum,
        |    CAST(sum((CASE WHEN doc_id % 4 IN (0, 3) THEN 3 * gray
        |      ELSE gray + (gray + 85) % 256 + (gray + 170) % 256 END)
        |      * (1 + x + w * y)) AS BIGINT) AS pix_wsum
        |  FROM cells GROUP BY doc_id, w, h)
        |SELECT d.doc_id,
        |  CASE WHEN d.doc_id % 5 = 3 THEN -1 ELSE ok.w END AS w,
        |  CASE WHEN d.doc_id % 5 = 3 THEN -1 ELSE ok.h END AS h,
        |  CASE WHEN d.doc_id % 5 = 3 THEN -1 ELSE ok.pix_sum END AS pix_sum,
        |  CASE WHEN d.doc_id % 5 = 3 THEN -1 ELSE ok.pix_wsum END AS pix_wsum
        |FROM documents d JOIN ok ON ok.doc_id = d.doc_id""".stripMargin),
    // REAL FLAC decode (RFC 9639: metadata walk, frame headers with
    // CRC-8, all four subframe types, Rice/Rice2/escape residuals,
    // the four channel assignments, wasted bits, frame CRC-16):
    // FLAC is lossless, so the oracle re-synthesizes the exact
    // closed-form samples and refolds the features in SQL; truncated
    // rows (id % 5 == 3) pin the all-(-1) fallback
    Gate("mm_flac_decode", (s, dir) => Flac.decodeReport(s, dir),
      _ => flacDecodeSql),
    // compressed audio in the fingerprint near-dup family: odd docs
    // are LOSSLESS RE-ENCODES of their even neighbor (same samples,
    // different subframe/assignment/residual choices -> identical
    // fingerprints at completely different bytes); id%9==5 truncated
    Gate("mm_audio_dedup_flac", (s, dir) =>
      Flac.audioDedupFlac(s, dir),
      dir => mediaPairsOracle("flachash_sigs", Flac.dedupDumpPath, dir)),
    Gate("mm_kind_summary", (s, dir) => Multimodal.kindSummary(s, dir),
      _ => s"""SELECT kind, count(*) AS n,
         |  CAST(sum(byte_len) AS BIGINT) AS total_bytes
         |FROM ($mmFeaturesSql) GROUP BY kind""".stripMargin),
    Gate("mm_frames", (s, dir) => Multimodal.frameSample(s, dir),
      _ => """WITH v AS (
        |  SELECT doc_id AS media_id, (doc_id // 3) % 2 = 0 AS real,
        |    CASE WHEN (doc_id // 3) % 2 = 0 THEN 3 + doc_id % 4
        |         ELSE 1 + strlen(text) % 240 END AS nf,
        |    8 + doc_id % 5 AS w, 8 + doc_id % 3 AS h
        |  FROM documents WHERE doc_id % 3 = 2),
        |f AS (
        |  SELECT media_id, real, w, h,
        |    unnest(range(0, nf, CAST((nf + 7) // 8 AS BIGINT))) AS frame_idx
        |  FROM v)
        |SELECT media_id, frame_idx,
        |  CAST(CASE WHEN real THEN
        |    list_sum(flatten(list_transform(range(0, h), y ->
        |      list_transform(range(0, w), x ->
        |        (media_id * 5 + frame_idx * 17 + y * 29 + x * 11) % 256))))
        |      // (w * h)
        |  ELSE (media_id * 31 + frame_idx * 7) % 256 END AS BIGINT) AS luma
        |FROM f""".stripMargin),
    // REAL baseline-JPEG decode (T.81: marker walk, DHT canonical
    // codes, byte-stuffed entropy scan, dequant, full 2-D IDCT):
    // block-constant fixtures make the lossy codec gate-exact (solid
    // blocks carry only their DC coefficient, quant 1 keeps it, the
    // IDCT reconstructs the gray exactly), so the oracle recomputes
    // pixel sums from doc_id closed forms; doc_id % 5 == 3 rows are
    // truncated streams pinning the (-1,...) fallback in-gate
    // frame sampling over the decodable video table: real AVI rows
    // stride off the decoded frame count AND report the real frame
    // mean — recomputed here from MediaSynth's closed-form pixels
    // (sum of aviGray over the w x h grid, integer-divided), the
    // mm_resize/mm_resample strongest-oracle shape on the time axis;
    // fake rows keep the stub count and luma formula
    // the decoded-JPEG pixel statistics re-derived from doc_id
    // closed forms alone: the block grid (nbx = 2 + id%6,
    // nby = 2 + id%5), the per-block gray, and the block-position
    // weight (1 + bx + nbx*by — a misplaced or transposed block
    // cannot fake it); every solid block contributes 64 identical
    // pixels, so sums scale by 64. Truncated rows (id % 5 = 3) owe
    // the (-1,-1,-1,-1) fallback. The small constant grids are
    // unnested standalone then cross-joined (the DuckDB
    // unnest+join+filter bind-bug workaround).
    Gate("mm_jpeg_decode", (s, dir) => Jpeg.decodeReport(s, dir),
      _ => """WITH bxs AS (SELECT unnest(range(0, 8)) AS bx),
        |bys AS (SELECT unnest(range(0, 7)) AS by),
        |g AS (SELECT doc_id, 2 + doc_id % 6 AS nbx, 2 + doc_id % 5 AS nby
        |      FROM documents),
        |cells AS (
        |  SELECT g.doc_id, g.nbx, g.nby, bx, by,
        |    (g.doc_id * 11 + bx * 37 + by * 59) % 256 AS gray
        |  FROM g, bxs, bys WHERE bx < g.nbx AND by < g.nby),
        |ok AS (
        |  SELECT doc_id, CAST(8 * nbx AS BIGINT) AS w,
        |    CAST(8 * nby AS BIGINT) AS h,
        |    CAST(64 * sum(gray) AS BIGINT) AS pix_sum,
        |    CAST(64 * sum(gray * (1 + bx + nbx * by)) AS BIGINT) AS pix_wsum
        |  FROM cells GROUP BY doc_id, nbx, nby)
        |SELECT d.doc_id,
        |  CASE WHEN d.doc_id % 5 = 3 THEN -1 ELSE ok.w END AS w,
        |  CASE WHEN d.doc_id % 5 = 3 THEN -1 ELSE ok.h END AS h,
        |  CASE WHEN d.doc_id % 5 = 3 THEN -1 ELSE ok.pix_sum END AS pix_sum,
        |  CASE WHEN d.doc_id % 5 = 3 THEN -1 ELSE ok.pix_wsum END AS pix_wsum
        |FROM documents d JOIN ok ON ok.doc_id = d.doc_id""".stripMargin),
    // REAL PNG decode (RFC 2083: CRC'd chunk walk, multi-IDAT
    // inflate, all five scanline filters, gray/truecolor/RGBA/
    // gray+alpha): DEFLATE is lossless so every pixel is the doc_id
    // closed form verbatim and the oracle recomputes the sums;
    // doc_id % 5 == 3 rows are truncated streams pinning the
    // (-1,...) fallback in-gate
    // decoded-PNG pixel statistics re-derived from doc_id closed
    // forms alone: dims (8 + id%11, 8 + id%6), the per-pixel gray
    // (id*13 + x*29 + y*17) % 256, the color-type channel derivation
    // (types 0/4 sum 3·gray; 2/6 sum gray + (gray+85)%256 +
    // (gray+170)%256 — alpha is never summed), the SUB-BYTE classes
    // (id%13 = 5/9/11 -> 4/2/1-bit gray: the stored sample is
    // gray >> (8-d) and the decoded 8-bit value scales by
    // 255/(2^d-1) = 17/85/255; id%13 = 3 -> 4-bit indexed, palette
    // entry i carries the truecolor derivation of i*17), the 16-bit
    // class (id%11 = 6: stored s*257, proper scaling returns gray
    // verbatim — same arithmetic as 8-bit), and the position weight
    // (1 + x + w·y, which a misfiltered or shifted scanline cannot
    // fake). Truncated rows (id % 5 = 3) owe the (-1,-1,-1,-1)
    // fallback. Grids unnested standalone then cross-joined (the
    // DuckDB unnest+join+filter bind-bug workaround).
    Gate("mm_png_decode", (s, dir) => Png.decodeReport(s, dir),
      _ => """WITH xs AS (SELECT unnest(range(0, 18)) AS x),
        |ys AS (SELECT unnest(range(0, 13)) AS y),
        |g AS (SELECT doc_id, 8 + doc_id % 11 AS w, 8 + doc_id % 6 AS h
        |      FROM documents),
        |cells AS (
        |  SELECT g.doc_id, g.w, g.h, x, y,
        |    (g.doc_id * 13 + x * 29 + y * 17) % 256 AS gray
        |  FROM g, xs, ys WHERE x < g.w AND y < g.h),
        |pix AS (
        |  SELECT doc_id, w, h, x, y, CASE
        |    WHEN doc_id % 13 = 5 THEN 3 * ((gray // 16) * 17)
        |    WHEN doc_id % 13 = 9 THEN 3 * ((gray // 64) * 85)
        |    WHEN doc_id % 13 = 11 THEN 3 * ((gray // 128) * 255)
        |    WHEN doc_id % 13 = 3 THEN (gray // 16) * 17
        |      + ((gray // 16) * 17 + 85) % 256
        |      + ((gray // 16) * 17 + 170) % 256
        |    WHEN doc_id % 4 IN (0, 3) THEN 3 * gray
        |    ELSE gray + (gray + 85) % 256 + (gray + 170) % 256
        |    END AS rgb
        |  FROM cells),
        |ok AS (
        |  SELECT doc_id, CAST(w AS BIGINT) AS w, CAST(h AS BIGINT) AS h,
        |    CAST(sum(rgb) AS BIGINT) AS pix_sum,
        |    CAST(sum(rgb * (1 + x + w * y)) AS BIGINT) AS pix_wsum
        |  FROM pix GROUP BY doc_id, w, h)
        |SELECT d.doc_id,
        |  CASE WHEN d.doc_id % 5 = 3 THEN -1 ELSE ok.w END AS w,
        |  CASE WHEN d.doc_id % 5 = 3 THEN -1 ELSE ok.h END AS h,
        |  CASE WHEN d.doc_id % 5 = 3 THEN -1 ELSE ok.pix_sum END AS pix_sum,
        |  CASE WHEN d.doc_id % 5 = 3 THEN -1 ELSE ok.pix_wsum END AS pix_wsum
        |FROM documents d JOIN ok ON ok.doc_id = d.doc_id""".stripMargin),
    // REAL GIF decode (GIF89a: block walk, the full variable-width
    // LZW, palette lookup, 4-pass row de-interlace): LZW is lossless
    // so every pixel is the doc_id closed form verbatim; truncated
    // rows pin the fallback
    // decoded-GIF pixel statistics re-derived from doc_id closed
    // forms alone: dims (8 + id%10, 8 + id%7), the per-pixel palette
    // index (id*19 + x*23 + y*41) % 256, and the palette's channel
    // derivation (g, (g+85)%256, (g+170)%256) — LZW and the
    // doc_id % 6 == 2 row interlace are lossless, so one closed form
    // covers every row class. Truncated rows (id % 5 = 3) owe the
    // (-1,-1,-1,-1) fallback.
    Gate("mm_gif_decode", (s, dir) => Gif.decodeReport(s, dir),
      _ => """WITH xs AS (SELECT unnest(range(0, 18)) AS x),
        |ys AS (SELECT unnest(range(0, 15)) AS y),
        |g AS (SELECT doc_id, 8 + doc_id % 10 AS w, 8 + doc_id % 7 AS h
        |      FROM documents),
        |cells AS (
        |  SELECT g.doc_id, g.w, g.h, x, y,
        |    (g.doc_id * 19 + x * 23 + y * 41) % 256 AS gray
        |  FROM g, xs, ys WHERE x < g.w AND y < g.h),
        |ok AS (
        |  SELECT doc_id, CAST(w AS BIGINT) AS w, CAST(h AS BIGINT) AS h,
        |    CAST(sum(gray + (gray + 85) % 256 + (gray + 170) % 256)
        |      AS BIGINT) AS pix_sum,
        |    CAST(sum((gray + (gray + 85) % 256 + (gray + 170) % 256)
        |      * (1 + x + w * y)) AS BIGINT) AS pix_wsum
        |  FROM cells GROUP BY doc_id, w, h)
        |SELECT d.doc_id,
        |  CASE WHEN d.doc_id % 5 = 3 THEN -1 ELSE ok.w END AS w,
        |  CASE WHEN d.doc_id % 5 = 3 THEN -1 ELSE ok.h END AS h,
        |  CASE WHEN d.doc_id % 5 = 3 THEN -1 ELSE ok.pix_sum END AS pix_sum,
        |  CASE WHEN d.doc_id % 5 = 3 THEN -1 ELSE ok.pix_wsum END AS pix_wsum
        |FROM documents d JOIN ok ON ok.doc_id = d.doc_id""".stripMargin),
    // the GIF path through the decode -> aHash -> multi-probe
    // near-dup pipeline (the JPEG/PNG twins' shape)
    Gate("mm_image_dedup_gif", (s, dir) =>
      Gif.imageDedupGif(s, dir),
      dir => mediaPairsOracle("gifhash_sigs", Gif.dedupDumpPath, dir)),
    // the PNG path through the same decode -> aHash -> multi-probe
    // near-dup pipeline (the mm_image_dedup_jpeg twin): odd docs
    // carry their even neighbor's frame with the top-left 8x8
    // region brightened (re-filtered and re-deflated, so the byte
    // streams differ completely); id%7==5 rows are truncated
    Gate("mm_image_dedup_png", (s, dir) =>
      Png.imageDedupPng(s, dir),
      dir => mediaPairsOracle("pnghash_sigs", Png.dedupDumpPath, dir)),
    // REAL VP8L WebP decode (RFC 9649: RIFF walk, LSB-first bit
    // reading, simple/normal prefix codes, color cache, LZ77 with 2D
    // distance codes, meta prefix codes, all four transforms): VP8L
    // is lossless so every variant decodes to the closed-form pixels
    // and the oracle recomputes the sums; the doc_id % 7 variant
    // cycles the whole spec surface; truncated rows (id % 5 == 3)
    // pin the (-1,...) fallback
    // decoded-WebP (VP8L) pixel statistics re-derived from doc_id
    // closed forms alone: dims (8 + id%8, 8 + id%5), the per-pixel
    // gray (id*23 + x*31 + y*43) % 256, the channel derivation
    // (gray + (gray+85)%256 + (gray+170)%256 — alpha never summed),
    // the palette variant's 32-level quantization (id%7 = 2 ->
    // (gray//8)*8), the cache+LZ77 variant's PLATEAUED form (id%7 =
    // 3 -> x plateaus of 4, rows repeating every 3 — the pixel
    // repetition that makes the encoder emit real backrefs and cache
    // hits, so the decoder's LZ77/cache branches are hash-gated),
    // and the position weight (1 + x + w·y). Every VP8L variant is
    // LOSSLESS, so the closed forms cover all seven feature classes.
    // Truncated rows (id % 5 = 3) owe the (-1,-1,-1,-1) fallback.
    Gate("mm_webp_decode", (s, dir) => Webp.decodeReport(s, dir),
      _ => """WITH xs AS (SELECT unnest(range(0, 15)) AS x),
        |ys AS (SELECT unnest(range(0, 12)) AS y),
        |g AS (SELECT doc_id, 8 + doc_id % 8 AS w, 8 + doc_id % 5 AS h
        |      FROM documents),
        |cells AS (
        |  SELECT g.doc_id, g.w, g.h, x, y,
        |    CASE WHEN g.doc_id % 7 = 2
        |      THEN (((g.doc_id * 23 + x * 31 + y * 43) % 256) // 8) * 8
        |      WHEN g.doc_id % 7 = 3
        |      THEN (g.doc_id * 23 + (x - x % 4) * 31 + (y % 3) * 43) % 256
        |      ELSE (g.doc_id * 23 + x * 31 + y * 43) % 256
        |    END AS gray
        |  FROM g, xs, ys WHERE x < g.w AND y < g.h),
        |ok AS (
        |  SELECT doc_id, CAST(w AS BIGINT) AS w, CAST(h AS BIGINT) AS h,
        |    CAST(sum(gray + (gray + 85) % 256 + (gray + 170) % 256)
        |      AS BIGINT) AS pix_sum,
        |    CAST(sum((gray + (gray + 85) % 256 + (gray + 170) % 256)
        |      * (1 + x + w * y)) AS BIGINT) AS pix_wsum
        |  FROM cells GROUP BY doc_id, w, h)
        |SELECT d.doc_id,
        |  CASE WHEN d.doc_id % 5 = 3 THEN -1 ELSE ok.w END AS w,
        |  CASE WHEN d.doc_id % 5 = 3 THEN -1 ELSE ok.h END AS h,
        |  CASE WHEN d.doc_id % 5 = 3 THEN -1 ELSE ok.pix_sum END AS pix_sum,
        |  CASE WHEN d.doc_id % 5 = 3 THEN -1 ELSE ok.pix_wsum END AS pix_wsum
        |FROM documents d JOIN ok ON ok.doc_id = d.doc_id""".stripMargin),
    // the WebP path through the decode -> aHash -> multi-probe
    // near-dup pipeline (the JPEG/PNG/GIF twins' shape): odd docs
    // re-encode their even neighbor (same VP8L variant) with the
    // top-left 8x8 region brightened; id%9==5 rows are truncated
    Gate("mm_image_dedup_webp", (s, dir) =>
      Webp.imageDedupWebp(s, dir),
      dir => mediaPairsOracle("webphash_sigs", Webp.dedupDumpPath, dir)),
    // MJPEG-in-AVI: the first COMPRESSED-video pixel path — the RIFF
    // walker composes with the T.81 decoder, one full JPEG per frame
    // chunk; both sums recomputed from doc_id closed forms (the
    // frame-weighted variant catches dropped/reordered frames)
    // decoded-MJPEG frame statistics re-derived from doc_id closed
    // forms alone: the per-frame block grid (nbx = 1 + id%3,
    // nby = 1 + id%2), frame count (3 + id%4), the per-frame
    // per-block gray, and the frame- and block-position weight
    // (1 + bx + nbx·by)·(1 + f) — a dropped, duplicated, reordered
    // or misdecoded frame cannot fake it; solid blocks contribute
    // 64 identical pixels so sums scale by 64. Fake rows (text
    // payloads) owe the (0,0,0,-1,-1) fallback.
    Gate("mm_video_frames_mjpeg", (s, dir) =>
      VideoFrames.videoFrameReportMjpeg(s, dir),
      _ => """WITH v AS (
        |  SELECT doc_id AS media_id, (doc_id // 3) % 2 = 0 AS real,
        |    1 + doc_id % 3 AS nbx, 1 + doc_id % 2 AS nby,
        |    3 + doc_id % 4 AS nf
        |  FROM documents WHERE doc_id % 3 = 2),
        |fs AS (SELECT unnest(range(0, 7)) AS f),
        |bxs AS (SELECT unnest(range(0, 3)) AS bx),
        |bys AS (SELECT unnest(range(0, 2)) AS by),
        |cells AS (
        |  SELECT v.media_id, v.nbx, v.nby, v.nf, f, bx, by,
        |    (v.media_id * 5 + f * 17 + by * 29 + bx * 11) % 256 AS gray
        |  FROM v, fs, bxs, bys
        |  WHERE v.real AND f < v.nf AND bx < v.nbx AND by < v.nby),
        |ok AS (
        |  SELECT media_id, CAST(8 * nbx AS BIGINT) AS width,
        |    CAST(8 * nby AS BIGINT) AS height, CAST(nf AS BIGINT) AS n_frames,
        |    CAST(64 * sum(gray) AS BIGINT) AS px_sum,
        |    CAST(64 * sum(gray * (1 + bx + nbx * by) * (1 + f)) AS BIGINT)
        |      AS px_wsum
        |  FROM cells GROUP BY media_id, nbx, nby, nf)
        |SELECT v.media_id,
        |  CASE WHEN v.real THEN ok.width ELSE 0 END AS width,
        |  CASE WHEN v.real THEN ok.height ELSE 0 END AS height,
        |  CASE WHEN v.real THEN ok.n_frames ELSE 0 END AS n_frames,
        |  CASE WHEN v.real THEN ok.px_sum ELSE -1 END AS px_sum,
        |  CASE WHEN v.real THEN ok.px_wsum ELSE -1 END AS px_wsum
        |FROM v LEFT JOIN ok ON ok.media_id = v.media_id""".stripMargin),
    // compressed-video near-dup: per-frame JPEG decode -> aHash ->
    // temporal-majority fold -> banded Hamming; odd docs re-encode
    // their even neighbor with one block of frame 0 perturbed
    Gate("mm_video_dedup_mjpeg", (s, dir) =>
      VideoFrames.videoDedupMjpeg(s, dir),
      dir => mediaPairsOracle("vidmjpeghash_sigs", VideoFrames.mjpegDumpPath, dir)),
    // image resize: decode -> box-average -> QOI re-encode -> decode,
    // integer-exact; the oracle recomputes the PIXEL arithmetic from
    // the gate corpus' closed-form images (no dump taken on faith)
    // resize oracle: real QOI rows' pixels are MediaSynth's closed
    // form gray(x,y) = (doc_id*7 + y*31 + x*13) % 256, so the 4x4
    // box-average (truncating per-cell mean over the aHash cell
    // bounds) and the re-encoded stream's pixel sum are re-derived
    // from doc_id alone; 86 = 14-byte QOI header + 16 OP_RGB px + end
    Gate("mm_resize", (s, dir) => ImageResize.resizeReport(s, dir),
      _ => """WITH imgs AS (
        |  SELECT doc_id, strlen(text) AS tl,
        |    (doc_id // 3) % 2 = 0 AS is_real,
        |    8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h
        |  FROM documents WHERE doc_id % 3 = 0),
        |cells AS (
        |  SELECT doc_id, w, h, cx, cy,
        |    (cx * w) // 4 AS x0, ((cx + 1) * w) // 4 AS x1,
        |    (cy * h) // 4 AS y0, ((cy + 1) * h) // 4 AS y1
        |  FROM imgs CROSS JOIN (SELECT unnest(range(0, 4)) AS cx)
        |            CROSS JOIN (SELECT unnest(range(0, 4)) AS cy)
        |  WHERE is_real),
        |xs AS (SELECT doc_id, cx, cy, y0, y1,
        |    unnest(range(x0, x1)) AS x FROM cells),
        |xy AS (SELECT doc_id, cx, cy, x,
        |    unnest(range(y0, y1)) AS y FROM xs),
        |cm AS (
        |  SELECT doc_id, cx, cy,
        |    sum((doc_id * 7 + y * 31 + x * 13) % 256) // count(*) AS mean
        |  FROM xy GROUP BY doc_id, cx, cy),
        |ps AS (SELECT doc_id, sum(3 * mean) AS px_sum
        |  FROM cm GROUP BY doc_id)
        |SELECT i.doc_id AS media_id,
        |  CAST(CASE WHEN i.is_real THEN i.w ELSE 0 END AS BIGINT) AS src_w,
        |  CAST(CASE WHEN i.is_real THEN i.h ELSE 0 END AS BIGINT) AS src_h,
        |  CAST(CASE WHEN i.is_real THEN 4 ELSE 0 END AS BIGINT) AS out_w,
        |  CAST(CASE WHEN i.is_real THEN 4 ELSE 0 END AS BIGINT) AS out_h,
        |  CAST(CASE WHEN i.is_real THEN 86 ELSE i.tl END AS BIGINT) AS out_bytes,
        |  CAST(CASE WHEN i.is_real THEN p.px_sum ELSE -1 END AS BIGINT) AS px_sum
        |FROM imgs i LEFT JOIN ps p ON p.doc_id = i.doc_id""".stripMargin),
    // audio resample: decode -> window-mean decimate -> WAV re-encode
    // -> decode, integer-exact; the oracle recomputes the SAMPLE
    // arithmetic from the closed-form gate WAVs (same shape as resize)
    // resample oracle: real WAV rows' samples are MediaSynth's closed
    // form (doc_id*31 + i*97) % 4001 - 2000; complete 4-sample window
    // means with truncating division (DuckDB // and Java / agree on
    // negatives) re-derive the re-encoded stream's sample sum
    Gate("mm_resample", (s, dir) =>
      AudioResample.resampleReport(s, dir),
      _ => """WITH auds AS (
        |  SELECT doc_id, strlen(text) AS tl,
        |    (doc_id // 3) % 2 = 0 AS is_real,
        |    64 + doc_id % 192 AS n
        |  FROM documents WHERE doc_id % 3 = 1),
        |idx AS (SELECT doc_id, unnest(range(0, (n // 4) * 4)) AS i
        |  FROM auds WHERE is_real),
        |win AS (
        |  SELECT doc_id, i // 4 AS j,
        |    sum((doc_id * 31 + i * 97) % 4001 - 2000) AS s
        |  FROM idx GROUP BY doc_id, i // 4),
        |ss AS (SELECT doc_id, sum(s // 4) AS samp_sum
        |  FROM win GROUP BY doc_id)
        |SELECT a.doc_id AS media_id,
        |  CAST(CASE WHEN a.is_real THEN 1 ELSE 0 END AS BIGINT) AS decoded,
        |  CAST(CASE WHEN a.is_real THEN 8000 ELSE 0 END AS BIGINT) AS src_rate,
        |  CAST(CASE WHEN a.is_real THEN a.n ELSE 0 END AS BIGINT) AS src_n,
        |  CAST(CASE WHEN a.is_real THEN 2000 ELSE 0 END AS BIGINT) AS out_rate,
        |  CAST(CASE WHEN a.is_real THEN a.n // 4 ELSE 0 END AS BIGINT) AS out_n,
        |  CAST(CASE WHEN a.is_real THEN 44 + 2 * (a.n // 4) ELSE a.tl END AS BIGINT)
        |    AS out_bytes,
        |  CAST(CASE WHEN a.is_real THEN s.samp_sum ELSE 0 END AS BIGINT) AS samp_sum
        |FROM auds a LEFT JOIN ss s ON s.doc_id = a.doc_id""".stripMargin),
    // real VIDEO frame decode: uncompressed AVI (raw DIB frames), the
    // oracle recomputes frame content, count, dims AND the container
    // byte length from closed forms (the resize/resample shape on the
    // time axis); MP4 rows keep their honest header-only boundary
    // video-frames oracle: real AVI rows' frame pixels are the closed
    // form (doc_id*5 + f*17 + y*29 + x*11) % 256; the byte length is
    // the exact RIFF layout (224 fixed + n frames of 8-byte chunk
    // header + padded rows), so the writer, walker and frame decode
    // are all pinned from doc_id alone
    Gate("mm_video_frames", (s, dir) =>
      VideoFrames.videoFrameReport(s, dir),
      _ => """WITH vids AS (
        |  SELECT doc_id, strlen(text) AS tl,
        |    (doc_id // 3) % 2 = 0 AS is_real,
        |    8 + doc_id % 5 AS w, 8 + doc_id % 3 AS h,
        |    3 + doc_id % 4 AS nf,
        |    ((3 * (8 + doc_id % 5) + 3) // 4) * 4 AS rsz
        |  FROM documents WHERE doc_id % 3 = 2),
        |fx AS (SELECT doc_id, w, h, unnest(range(0, nf)) AS f
        |  FROM vids WHERE is_real),
        |fxy AS (SELECT doc_id, f, w, unnest(range(0, h)) AS y FROM fx),
        |pxs AS (SELECT doc_id, f, y, unnest(range(0, w)) AS x FROM fxy),
        |ps AS (SELECT doc_id,
        |    sum((doc_id * 5 + f * 17 + y * 29 + x * 11) % 256) AS px_sum
        |  FROM pxs GROUP BY doc_id)
        |SELECT v.doc_id AS media_id,
        |  CAST(CASE WHEN v.is_real THEN v.w ELSE 0 END AS BIGINT) AS width,
        |  CAST(CASE WHEN v.is_real THEN v.h ELSE 0 END AS BIGINT) AS height,
        |  CAST(CASE WHEN v.is_real THEN v.nf ELSE 0 END AS BIGINT) AS n_frames,
        |  CAST(CASE WHEN v.is_real THEN 224 + v.nf * (8 + v.rsz * v.h)
        |       ELSE v.tl END AS BIGINT) AS byte_len,
        |  CAST(CASE WHEN v.is_real THEN p.px_sum ELSE -1 END AS BIGINT) AS px_sum
        |FROM vids v LEFT JOIN ps p ON p.doc_id = v.doc_id""".stripMargin),
    // video thumbnails: decode -> middle frame -> box resize -> QOI
    // re-encode -> decode, one recomputing oracle across modalities
    // thumbnail oracle: the middle frame f = nf // 2 of the closed-form
    // AVI, 4x4 box means (truncating division over the aHash cell
    // bounds), x3 channels; 86 = the 4x4 QOI byte length
    Gate("mm_video_thumbs", (s, dir) =>
      VideoFrames.thumbnailReport(s, dir),
      _ => """WITH vids AS (
        |  SELECT doc_id, strlen(text) AS tl,
        |    (doc_id // 3) % 2 = 0 AS is_real,
        |    8 + doc_id % 5 AS w, 8 + doc_id % 3 AS h,
        |    (3 + doc_id % 4) // 2 AS f
        |  FROM documents WHERE doc_id % 3 = 2),
        |cells AS (
        |  SELECT doc_id, w, h, f, cx, cy,
        |    (cx * w) // 4 AS x0, ((cx + 1) * w) // 4 AS x1,
        |    (cy * h) // 4 AS y0, ((cy + 1) * h) // 4 AS y1
        |  FROM vids CROSS JOIN (SELECT unnest(range(0, 4)) AS cx)
        |            CROSS JOIN (SELECT unnest(range(0, 4)) AS cy)
        |  WHERE is_real),
        |xs AS (SELECT doc_id, f, cx, cy, y0, y1,
        |    unnest(range(x0, x1)) AS x FROM cells),
        |xy AS (SELECT doc_id, f, cx, cy, x,
        |    unnest(range(y0, y1)) AS y FROM xs),
        |cm AS (
        |  SELECT doc_id, cx, cy,
        |    sum((doc_id * 5 + f * 17 + y * 29 + x * 11) % 256) // count(*) AS mean
        |  FROM xy GROUP BY doc_id, cx, cy),
        |ps AS (SELECT doc_id, sum(3 * mean) AS px_sum
        |  FROM cm GROUP BY doc_id)
        |SELECT v.doc_id AS media_id,
        |  CAST(CASE WHEN v.is_real THEN v.f ELSE -1 END AS BIGINT) AS frame_idx,
        |  CAST(CASE WHEN v.is_real THEN 86 ELSE v.tl END AS BIGINT) AS out_bytes,
        |  CAST(CASE WHEN v.is_real THEN p.px_sum ELSE -1 END AS BIGINT) AS px_sum
        |FROM vids v LEFT JOIN ps p ON p.doc_id = v.doc_id""".stripMargin),
    // perceptual video near-dup: temporal-majority fold of per-frame
    // aHashes over real decoded frames, byte fallback elsewhere; the
    // same multi-probe band machinery as the image and audio twins
    // video near-dup: identical oracle shape over the video dump
    // (temporal-majority frame aHashes / byte fallback)
    Gate("mm_video_dedup", (s, dir) =>
      VideoFrames.videoDedup(s, dir),
      dir => mediaPairsOracle("vidhash_sigs", VideoFrames.dumpPath, dir)),
  )

  /** The `mm_flac_decode` oracle: FLAC is lossless, so the features
    * refold from the closed-form samples alone — the per-(ch, i)
    * source (the wasted-bits class id % 13 = 6 uses even samples of
    * half range), the CONSTANT-block override ((doc_id + i/64) % 5 =
    * 0 pins every sample in the block to the block-start form), the
    * truncating mean downmix, and the same lag-based
    * feature fold as mm_audio_features_ext. */
  private def flacDecodeSql: String = {
    def base(j: String): String =
      s"""CASE WHEN si.doc_id % 13 = 6
         |      THEN ((si.doc_id * 37 + ($j) * 101 + cs.ch * 59) % 2001 - 1000) * 2
         |      ELSE (si.doc_id * 37 + ($j) * 101 + cs.ch * 59) % 4001 - 2000
         |      END""".stripMargin
    s"""WITH ext AS (
       |  SELECT doc_id, 1 + doc_id % 2 AS c, 64 + doc_id % 96 AS n,
       |    8000 + 525 * (doc_id % 4) AS rate
       |  FROM documents),
       |si AS (SELECT doc_id, c, unnest(range(0, n)) AS i FROM ext),
       |cs AS (SELECT unnest(range(0, 2)) AS ch),
       |smp AS (
       |  SELECT si.doc_id, si.c, si.i,
       |    CASE WHEN (si.doc_id + si.i // 64) % 5 = 0
       |      THEN ${base("(si.i // 64) * 64")}
       |      ELSE ${base("si.i")}
       |    END AS s
       |  FROM si, cs WHERE cs.ch < si.c),
       |mix AS (SELECT doc_id, i, CAST(sum(s) AS BIGINT) // max(c) AS m
       |  FROM smp GROUP BY doc_id, i),
       |lagd AS (SELECT doc_id, m,
       |    lag(m) OVER (PARTITION BY doc_id ORDER BY i) AS prev
       |  FROM mix),
       |f AS (
       |  SELECT doc_id, count(*) AS n_samples, max(abs(m)) AS peak_abs,
       |    coalesce(sum(CASE WHEN m <> 0 AND prev <> 0
       |                       AND sign(m) <> sign(prev) THEN 1 ELSE 0 END), 0)
       |      AS zero_crossings,
       |    sum(m * m) AS energy
       |  FROM lagd GROUP BY doc_id)
       |SELECT e.doc_id,
       |  CAST(CASE WHEN e.doc_id % 5 = 3 THEN -1 ELSE e.rate END AS BIGINT) AS rate,
       |  CAST(CASE WHEN e.doc_id % 5 = 3 THEN -1 ELSE e.c END AS BIGINT) AS channels,
       |  CAST(CASE WHEN e.doc_id % 5 = 3 THEN -1 ELSE f.n_samples END AS BIGINT) AS n_samples,
       |  CAST(CASE WHEN e.doc_id % 5 = 3 THEN -1 ELSE f.peak_abs END AS BIGINT) AS peak_abs,
       |  CAST(CASE WHEN e.doc_id % 5 = 3 THEN -1 ELSE f.zero_crossings END AS BIGINT) AS zero_crossings,
       |  CAST(CASE WHEN e.doc_id % 5 = 3 THEN -1 ELSE f.energy END AS BIGINT) AS energy
       |FROM ext e JOIN f ON f.doc_id = e.doc_id""".stripMargin
  }

  /** The mm_features oracle: REAL rows ((doc_id // 3) % 2 = 0) carry
    * MediaSynth's closed-form container parameters — the gate passes
    * only if the JVM decoders parse the real QOI/WAV/MP4 payloads
    * correctly; fake rows re-derive the documented stub arithmetic
    * from the text byte length. */
  private def mmFeaturesSql: String =
    s"""SELECT doc_id AS media_id,
      |  CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
      |  CASE WHEN (doc_id // 3) % 2 = 0 THEN
      |    ${MediaSynth.realByteLenSql}
      |  ELSE strlen(text) END AS byte_len,
      |  CASE WHEN (doc_id // 3) % 2 = 0 THEN
      |    CASE doc_id % 3 WHEN 0 THEN 8 + doc_id % 9 WHEN 1 THEN 0
      |         ELSE 320 + (doc_id % 17) * 16 END
      |  ELSE 64 + (strlen(text) * 7919) % 1856 END AS width,
      |  CASE WHEN (doc_id // 3) % 2 = 0 THEN
      |    CASE doc_id % 3 WHEN 0 THEN 8 + doc_id % 7 WHEN 1 THEN 0
      |         ELSE 240 + (doc_id % 13) * 8 END
      |  ELSE 64 + (strlen(text) * 104729) % 1016 END AS height,
      |  CASE WHEN (doc_id // 3) % 2 = 0 THEN
      |    CASE WHEN doc_id % 3 = 2 THEN 10 + doc_id % 50 ELSE 1 END
      |  ELSE CASE WHEN doc_id % 3 = 2 THEN 1 + strlen(text) % 240 ELSE 1 END
      |  END AS n_frames,
      |  CASE WHEN (doc_id // 3) % 2 = 0 THEN
      |    CASE doc_id % 3 WHEN 1 THEN (64 + doc_id % 192) // 8
      |         WHEN 2 THEN 1000 + doc_id % 5000 ELSE 0 END
      |  ELSE CASE doc_id % 3 WHEN 1 THEN strlen(text) * 8
      |       WHEN 2 THEN (1 + strlen(text) % 240) * 40 ELSE 0 END
      |  END AS duration_ms,
      |  CASE WHEN (doc_id // 3) % 2 = 0 AND doc_id % 3 = 0 THEN 1 ELSE 0
      |  END AS orientation
      |FROM documents""".stripMargin

  /** The regime-aware oracle for a [[SigDump.dumpAndPair]] family
    * whose dump `dumpPath` names for the corpus dir `sfDir`: the
    * multi-probe re-derivation when the query took the 8-bit
    * multi-probe path, the all-pairs Hamming ground truth when the
    * measured switch routed it to the exact collapse+wide path
    * (Verify renders the oracles AFTER the queries ran, so the
    * per-(kind, base) regime record is authoritative here — ADVICE
    * r13: previously a corpus crossing the regime boundary would
    * hash-mismatch even with a correct engine). */
  private def mediaPairsOracle(dumpKind: String, dumpPath: String => String,
      sfDir: String): String = {
    val glob = Gate.glob(dumpPath, sfDir)
    if (SigDump.pickedWide(dumpKind, new java.io.File(sfDir).getName))
      allPairsHamming15Sql(glob)
    else mediaHashPairsSql(glob)
  }

  /** The all-pairs Hamming ≤ 15 ground truth over a dumped
    * `sigs(doc_id, sig)` frame — the oracle of the exact
    * collapse+wide regime (`mm_image_dedup_wide` and any family the
    * measured switch routes wide). */
  private def allPairsHamming15Sql(glob: String): String =
    s"""WITH sigs AS (SELECT doc_id, sig FROM read_parquet('$glob'))
       |SELECT x.doc_id AS i, y.doc_id AS j
       |FROM sigs x JOIN sigs y ON x.doc_id < y.doc_id
       |WHERE bit_count(xor(x.sig, y.sig)) <= 15""".stripMargin

  /** The multi-probe banded-Hamming pair oracle over a dumped
    * `sigs(doc_id, sig)` frame at `glob` — banding, radius-1 band
    * perturbations, the bucket cap and the exact Hamming verify, all
    * re-derived as 64-bit arithmetic (the dedup_simhash_multiprobe
    * oracle); the dumped signatures are the only faith. Shared by the
    * image and audio perceptual near-dup gates. */
  private def mediaHashPairsSql(glob: String): String =
    s"""WITH sigs AS (SELECT doc_id, sig FROM read_parquet('$glob')),
       |${DedupGates.simhashBandCte},
       |exact AS (
       |  SELECT x.doc_id AS i, y.doc_id AS j,
       |    bit_count(xor(x.sig, y.sig)) AS dist
       |  FROM b x
       |  JOIN b y ON x.band = y.band AND x.h = y.h AND x.doc_id < y.doc_id
       |  JOIN sz ON sz.band = x.band AND sz.h = x.h
       |  WHERE sz.n BETWEEN 2 AND 1000),
       |probes AS (
       |  SELECT doc_id, sig, band, xor(h, (CAST(1 AS BIGINT) << p)) AS h
       |  FROM b CROSS JOIN (SELECT unnest(range(0, 8)) AS p)),
       |viap AS (
       |  SELECT least(pr.doc_id, m.doc_id) AS i,
       |    greatest(pr.doc_id, m.doc_id) AS j,
       |    bit_count(xor(pr.sig, m.sig)) AS dist
       |  FROM probes pr
       |  JOIN sz ON sz.band = pr.band AND sz.h = pr.h
       |    AND sz.n BETWEEN 1 AND 1000
       |  JOIN b m ON m.band = pr.band AND m.h = pr.h
       |    AND m.doc_id <> pr.doc_id)
       |SELECT DISTINCT i, j
       |FROM (SELECT i, j, dist FROM exact
       |      UNION ALL SELECT i, j, dist FROM viap)
       |WHERE dist <= 15""".stripMargin
}
