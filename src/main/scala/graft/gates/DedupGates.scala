package graft.gates

import graft.dedup.{Dedup, EditDedup, LshIndex, SemDedup, SemIndex, SpanIndex,
  SuffixDedup}
import graft.streaming.{ExactStream, SemStream}

/** The `dedup_` gates: exact, near-duplicate, span and semantic dedup. */
object DedupGates {

  val gates: Seq[Gate] = Seq(
    // ---- dedup family (training-data pipeline extensions) ----
    Gate("dedup_exact", (s, dir) => Dedup.exact(s, dir),
      _ => """SELECT md5(text) AS text_md5, min(doc_id) AS doc_id, count(*) AS n_copies
        |FROM documents GROUP BY 1""".stripMargin),
    Gate("dedup_ngram", (s, dir) => Dedup.ngramJaccard(s, dir),
      _ => ngramJaccardSql),
    // MinHash LSH (16 bands x 4 rows, 64 perms) has per-pair recall
    // 1-(1-J^4)^16 ≈ 1-4e-8 at the planted J≥0.9 dups, so its verified
    // output must equal the exact operator's — same oracle.
    Gate("dedup_minhash", (s, dir) => Dedup.minhashLsh(s, dir),
      _ => ngramJaccardSql),
    // simhash gates: the per-doc SIGNATURES are side-dumped run-scoped
    // (Dedup.simhashDumpPath) and are the only artifact taken on faith — the
    // banding, bucket caps, radius-1 probe fan-out, Hamming filter and
    // pair generation are re-derived in DuckDB as 64-bit arithmetic
    Gate("dedup_simhash", (s, dir) => Dedup.simhashPairs(s, dir),
      dir => s"""WITH sigs AS (SELECT doc_id, sig FROM read_parquet('${Gate.glob(Dedup.simhashDumpPath, dir)}')),
         |$simhashBandCte
         |SELECT DISTINCT x.doc_id AS i, y.doc_id AS j
         |FROM b x
         |JOIN b y ON x.band = y.band AND x.h = y.h AND x.doc_id < y.doc_id
         |JOIN sz ON sz.band = x.band AND sz.h = x.h
         |WHERE sz.n BETWEEN 2 AND 1000
         |  AND bit_count(xor(x.sig, y.sig)) <= 7""".stripMargin),
    // radius-1 multi-probe: Hamming radius 15 from the same 8 bands
    Gate("dedup_simhash_multiprobe", (s, dir) =>
      Dedup.simhashPairsMultiProbe(s, dir),
      dir => s"""WITH sigs AS (SELECT doc_id, sig FROM read_parquet('${Gate.glob(Dedup.simhashDumpPath, dir)}')),
         |$simhashBandCte,
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
         |WHERE dist <= 15""".stripMargin),
    // the corpus-scale banding: 4 x 16-bit bands (65536 buckets/band
    // -- occupancy n/65536 keeps caps non-binding where the 8-bit
    // bands' 256 buckets collapse at ~500k docs, a MEASURED 0.003
    // recall; BENCH_NOTES r11) with radius-3 query-side probes; the
    // oracle is the Hamming <= 15 ALL-PAIRS ground truth itself, so
    // the gate pins the pigeonhole guarantee, not just the plumbing
    // wide-band scale formulation: the oracle is the Hamming <= 15
    // ALL-PAIRS ground truth over the dumped signatures — the gate
    // passes only if the 4 x 16-bit banding + radius-3 probes achieve
    // FULL recall (the pigeonhole guarantee), not merely reproduce
    // their own plumbing
    Gate("dedup_simhash_wide", (s, dir) =>
      Dedup.simhashPairsWide(s, dir),
      dir => s"""WITH sigs AS (SELECT doc_id, sig FROM read_parquet('${Gate.glob(Dedup.simhashDumpPath, dir)}'))
         |SELECT x.doc_id AS i, y.doc_id AS j
         |FROM sigs x JOIN sigs y ON x.doc_id < y.doc_id
         |WHERE bit_count(xor(x.sig, y.sig)) <= 15""".stripMargin),
    // the balanced build<=1 x probe<=2 split simhashPairsWide actually
    // runs ABOVE the WideBalancedAbove switch (i.e. at exactly the
    // scale gates can't reach) — forced here below the switch so the
    // regime that is the only correct choice at corpus scale is
    // hash-pinned by the same all-pairs oracle, not just spec-pinned
    // the balanced regime owes the IDENTICAL all-pairs ground truth:
    // the build<=1 x probe<=2 mask split with the canonical-witness
    // filter is recall- and emission-equivalent to radius-3 probing
    Gate("dedup_simhash_wide_balanced", (s, dir) =>
      Dedup.simhashPairsWideBalanced(s, dir),
      dir => s"""WITH sigs AS (SELECT doc_id, sig FROM read_parquet('${Gate.glob(Dedup.simhashDumpPath, dir)}'))
         |SELECT x.doc_id AS i, y.doc_id AS j
         |FROM sigs x JOIN sigs y ON x.doc_id < y.doc_id
         |WHERE bit_count(xor(x.sig, y.sig)) <= 15""".stripMargin),
    // capped variant: Jaccard over the df<=100 discriminative-shingle
    // universe — integer counts + one exact int-ratio compare, so the
    // scale path is fully oracle-checkable too
    Gate("dedup_ngram_capped", (s, dir) => Dedup.ngramJaccardCapped(s, dir),
      _ => """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(list_transform(range(1, len(t) - 1),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
        |  FROM toks WHERE len(t) >= 3),
        |capped AS (
        |  SELECT doc_id, s FROM sh
        |  QUALIFY count(*) OVER (PARTITION BY s) <= 100),
        |cnt AS (SELECT doc_id, count(*) AS n FROM capped GROUP BY doc_id),
        |common AS (
        |  SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS c
        |  FROM capped a JOIN capped b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT i, j FROM common
        |JOIN cnt ca ON ca.doc_id = i
        |JOIN cnt cb ON cb.doc_id = j
        |WHERE CAST(c AS DOUBLE) / (ca.n + cb.n - c) >= 0.5""".stripMargin),
    // blocked Levenshtein (record-linkage classic): q-chunk pigeonhole
    // blocking (PassJoin family — structural recall 1.0, the oracle is
    // the all-pairs ground truth), df-capped keys, banded 3-arg DP
    // (O(len*65), never the full matrix); dist <= min(64, 10% of the
    // mean length). ASCII-normalized so DuckDB's byte-based
    // levenshtein equals Spark's codepoint-based one
    // blocked Levenshtein: the oracle is the ALL-PAIRS banded-
    // Levenshtein ground truth itself (no blocking — the
    // dedup_simhash_wide treatment), dist <= min(64,
    // (len_a+len_b)//20); the engine's q-chunk pigeonhole blocking
    // must therefore deliver structural recall 1.0 (its df-cap
    // provably doesn't bite on the fixture — spec-asserted).
    // ASCII normalization makes byte-based (DuckDB) == codepoint-
    // based (Spark) distances
    Gate("dedup_edit_pairs", (s, dir) => EditDedup.editPairs(s, dir),
      _ => dedupEditPairsSql),
    // the exact-duplicate collapse lever forced through a hash gate
    // on a fixture where it bites (1 + id%3 copies of every even doc)
    // the exact-duplicate collapse forced to BITE: the corpus has no
    // byte-identical texts, so the gate replicates every even doc
    // 1 + id%3 times and the same all-pairs truth (which knows
    // nothing of the collapse) must match the collapsed engine's
    // within-group dist-0 pairs + algebraic cross-group expansion
    Gate("dedup_edit_pairs_collapsed", (s, dir) =>
      EditDedup.editPairsCollapsed(s, dir),
      _ => dedupEditPairsSqlOver(dupFixtureSql)),
    // exact dedup -> edit dedup on the residue, the production
    // composition as one operator with a chained-CTE oracle
    // the documented production composition, chained-CTE oracle:
    // exact dedup (min-id keeper per byte-identical text) over the
    // duplicated fixture, then the edit all-pairs truth on the RESIDUE
    Gate("dedup_residue_pipeline", (s, dir) =>
      EditDedup.residuePipeline(s, dir),
      _ => dedupEditPairsSqlOver(
      s"""(SELECT min(doc_id) AS doc_id, text
         |   FROM $dupFixtureSql fx GROUP BY text)""".stripMargin)),
    // output-capped form: each doc keeps its k=1 best match at BOTH
    // endpoints (<= n*k rows on any corpus); k=1 bites on the gate
    // fixture (25 -> 23 pairs), so the rank bound is exercised
    // both-endpoint rank <= 1 output cap over the same exact pair
    // set; bites at gate scale (25 -> 23)
    Gate("dedup_edit_pairs_capped", (s, dir) =>
      EditDedup.editPairsCapped(s, dir, k = 1),
      _ => dedupEditPairsCappedSql(1)),
    // connected components over the edit-pair graph (typo/OCR variant
    // cliques collapse to the min-id canonical copy) via the shared
    // union-find / hash-min switch
    // connected components over the edit-pair graph — same recursive
    // closure as the ngram/LSH cluster oracles, min-id canonical copy
    Gate("dedup_edit_clusters", (s, dir) => EditDedup.editClusters(s, dir),
      _ => s"""WITH RECURSIVE pairs AS (
         |  SELECT doc_a AS i, doc_b AS j FROM ($dedupEditPairsSql)),
         |e AS (SELECT i AS a, j AS b FROM pairs
         |      UNION ALL SELECT j, i FROM pairs),
         |reach(a, b) AS (
         |  SELECT a, b FROM e
         |  UNION
         |  SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a),
         |m AS (SELECT a, min(b) AS mn FROM reach GROUP BY a)
         |SELECT d.doc_id,
         |  least(d.doc_id, coalesce(m.mn, d.doc_id)) AS cluster_id
         |FROM documents d LEFT JOIN m ON m.a = d.doc_id""".stripMargin),
    // dedup-family agreement audit: pair counts for the token-level
    // (ngram Jaccard) and character-level (edit) families + overlap —
    // one full-outer join, one aggregate, a one-row report
    // family agreement: ngram pairs vs edit pairs, full-outer on the
    // (i, j) pair key, one-row rollup (sums CAST — HUGEINT gotcha)
    Gate("dedup_family_report", (s, dir) => EditDedup.familyReport(s, dir),
      _ => s"""WITH gp AS (SELECT i, j FROM ($ngramJaccardSql)),
         |ep AS (SELECT doc_a AS i, doc_b AS j FROM ($dedupEditPairsSql)),
         |u AS (
         |  SELECT coalesce(g.i, e.i) AS i, coalesce(g.j, e.j) AS j,
         |    CASE WHEN g.i IS NULL THEN 0 ELSE 1 END AS g,
         |    CASE WHEN e.i IS NULL THEN 0 ELSE 1 END AS e
         |  FROM gp g FULL OUTER JOIN ep e ON g.i = e.i AND g.j = e.j)
         |SELECT CAST(coalesce(sum(g), 0) AS BIGINT) AS n_ngram,
         |  CAST(coalesce(sum(e), 0) AS BIGINT) AS n_edit,
         |  CAST(coalesce(sum(g * e), 0) AS BIGINT) AS n_both,
         |  CAST(count(*) AS BIGINT) AS n_either
         |FROM u""".stripMargin),
    Gate("dedup_embed", (s, dir) => Dedup.embeddingCosineBlocked(s, dir),
      _ => dedupEmbedSql),
    // IVF pruning only PRUNES candidates — verification is still exact
    // cosine ≥ τ, so precision is 1 by construction, and DedupEmbedSpec
    // measures recall 1.0 at the gate's (k=16, nprobe=6, τ=0.45) on the
    // gate corpus → the output EQUALS the exact set and shares its
    // oracle (the same upgrade the LSH cluster/leakage gates got).
    Gate("dedup_embed_ivf", (s, dir) => Dedup.embeddingCosineIvf(s, dir),
      _ => dedupEmbedSql),
    // SemDeDup (Abbas et al. 2023): cluster-then-prune semantic dedup;
    // centroids side-dumped, keep/drop rule re-derived by the oracle
    // SemDeDup: the trained centroids are the dumped faith; the oracle
    // re-derives assignment (argmax cosine, lowest-cell tie), the
    // centroid-sim keep priority (lower sim kept, ties to lower id),
    // the within-cluster pairwise τ-test and the drop verdicts.
    // Priority comparisons use raw doubles on both sides (the proven
    // ann ordering pattern); only the OUTPUT value is micro-quantized.
    Gate("dedup_semantic", (s, dir) => SemDedup.semantic(s, dir),
      dir => semDedupSql(Gate.glob(SemDedup.dumpPath, dir))),
    // skew-capped semantic dedup: each member compared only against
    // its cell's `cap` highest-priority members (degenerate-cluster
    // work bound; equals the one-shot rule when every cell <= cap)
    // capped SemDeDup: same re-derivation as dedup_semantic (own dump
    // kind — this gate trains its own run's codebook), with the drop
    // join additionally bounded to the cell's `cap` = 64 highest-
    // priority members via a per-cell rank
    Gate("dedup_semantic_capped", (s, dir) =>
      SemDedup.semanticCapped(s, dir),
      dir => s"""WITH e AS (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |c AS (SELECT cell, v FROM read_parquet('${Gate.glob(SemDedup.cappedDumpPath, dir)}')),
         |asg AS (
         |  SELECT vec_id, cell, sim FROM (
         |    SELECT e.vec_id, c.cell, list_cosine_similarity(e.v, c.v) AS sim,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY list_cosine_similarity(e.v, c.v) DESC, c.cell) AS rn
         |    FROM e, c) WHERE rn = 1),
         |m AS (SELECT a.vec_id, a.cell, a.sim, e.v,
         |        row_number() OVER (PARTITION BY a.cell
         |          ORDER BY a.sim, a.vec_id) AS rnk
         |      FROM asg a JOIN e ON e.vec_id = a.vec_id),
         |drops AS (
         |  SELECT DISTINCT x.vec_id
         |  FROM m x JOIN m y ON x.cell = y.cell AND x.vec_id <> y.vec_id
         |  WHERE y.rnk <= 64
         |    AND (y.sim < x.sim OR (y.sim = x.sim AND y.vec_id < x.vec_id))
         |    AND list_cosine_similarity(x.v, y.v) >= 0.45)
         |SELECT m.vec_id, m.cell,
         |  CAST(round(m.sim * 1000000) AS BIGINT) AS cent_sim_micro,
         |  (d.vec_id IS NULL) AS kept
         |FROM m LEFT JOIN drops d ON d.vec_id = m.vec_id""".stripMargin),
    // k=256 on the k-means|| trainer: the gate crosses the
    // distributed-seed-reduction AND blocked-assignment thresholds,
    // pinning both scale paths to the dumped-codebook oracle
    // same re-derivation against the k-means|| gate's own codebook:
    // the trainer differs, the oracle machinery does not
    Gate("dedup_semantic_par", (s, dir) =>
      SemDedup.semanticPar(s, dir),
      dir => semDedupSql(Gate.glob(SemDedup.parDumpPath, dir))),
    // persisted semantic index: build-once on the %10!=0 slice, probe
    // the %10==0 batch — index members always outrank batch vectors
    // incremental semantic dedup: the stored codebook is the dumped
    // faith; the oracle re-derives BOTH slices' assignment from it,
    // then the batch drop rule — index members always outrank batch,
    // batch-internal priority is the SemDeDup (cent_sim, id) order
    Gate("dedup_semantic_incremental", (s, dir) =>
      SemIndex.dedupSemanticIncremental(s, dir),
      dir => s"""WITH e AS (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |c AS (SELECT cell, v FROM read_parquet('${Gate.glob(SemIndex.centsDumpPath, dir)}')),
         |asg AS (
         |  SELECT vec_id, cell, sim FROM (
         |    SELECT e.vec_id, c.cell, list_cosine_similarity(e.v, c.v) AS sim,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY list_cosine_similarity(e.v, c.v) DESC, c.cell) AS rn
         |    FROM e, c) WHERE rn = 1),
         |idx AS (SELECT a.vec_id, a.cell, e.v
         |        FROM asg a JOIN e ON e.vec_id = a.vec_id
         |        WHERE a.vec_id % 10 <> 0),
         |bat AS (SELECT a.vec_id, a.cell, a.sim, e.v
         |        FROM asg a JOIN e ON e.vec_id = a.vec_id
         |        WHERE a.vec_id % 10 = 0),
         |drops AS (
         |  SELECT DISTINCT b.vec_id FROM bat b JOIN idx i ON b.cell = i.cell
         |    AND list_cosine_similarity(b.v, i.v) >= 0.45
         |  UNION
         |  SELECT DISTINCT x.vec_id
         |  FROM bat x JOIN bat y ON x.cell = y.cell AND x.vec_id <> y.vec_id
         |  WHERE (y.sim < x.sim OR (y.sim = x.sim AND y.vec_id < x.vec_id))
         |    AND list_cosine_similarity(x.v, y.v) >= 0.45)
         |SELECT b.vec_id, b.cell,
         |  CAST(round(b.sim * 1000000) AS BIGINT) AS cent_sim_micro,
         |  (d.vec_id IS NULL) AS kept
         |FROM bat b LEFT JOIN drops d ON d.vec_id = b.vec_id""".stripMargin),
    // the STREAMING chunk -> embed -> probe crawl loop: doc micro-
    // batches chunked, integer-hash embedded, probed against the
    // persisted chunk-vector index, kept survivors appended before
    // the next batch — the gate replays contiguous doc_id-range
    // batches in stream order (the text_chunk_pack_stream pattern;
    // foreachBatch ≡ this replay is pinned in SemStreamSpec)
    // streaming chunk -> embed -> probe: chunk vectors re-derived
    // integer-exact (the text_chunk_embed fold, densified), then the
    // incremental drop rule UNROLLED over the four replayed micro-
    // batches — each stage's keep set feeds the next stage's index
    // side, exactly the probe-then-append loop the engine ran
    Gate("dedup_semantic_stream", (s, dir) =>
      SemStream.chunkProbeStream(s, dir),
      dir => dedupSemanticStreamSql(dir)),
    // STREAMING exact dedup at the chunk level — the dedup step a
    // crawl ingest runs before paying to embed/index a chunk it has
    // already seen: per micro-batch, first-in-batch per md5, anti-
    // join against the persisted seen-hash index, survivors appended
    // (idempotent per-batch subdir overwrite). Stream order = doc_id
    // order, so the kept set is exactly the global lexicographic-min
    // occurrence per distinct chunk text (the one-shot oracle)
    // streaming exact chunk dedup: micro-batches in doc_id order make
    // "first batch to see the hash, then first in batch" the GLOBAL
    // lexicographic-min occurrence per hash, so the one-shot dedup is
    // the oracle verbatim — chunk CTE (the text_chunk fragment), md5,
    // min (doc_id, chunk_id) per hash
    Gate("dedup_exact_stream", (s, dir) =>
      ExactStream.chunkDedupStream(s, dir),
      _ => dedupExactStreamSql),
    // same replay with a MID-STREAM COMPACTION of the seen-hash delta
    // log (committed subdirs folded to one DISTINCT subdir via the
    // staged, roll-forward-safe DeltaIndex protocol) — the kept set
    // must still equal the one-shot oracle, so a compaction bug is a
    // hash mismatch (the text_source_drift_compact treatment)
    // the fold (DISTINCT over committed hash subdirs) is invariant for
    // the anti-join, so the compacted replay owes the same one-shot
    // ground truth verbatim
    Gate("dedup_exact_stream_compact", (s, dir) =>
      ExactStream.chunkDedupCompactStream(s, dir),
      _ => dedupExactStreamSql),
    // connected components: recursive closure over the ngram pairs;
    // cluster id = min doc_id reachable (matches hash-min propagation)
    Gate("dedup_clusters", (s, dir) => Dedup.ngramClusters(s, dir),
      _ => dedupClustersSql),
    Gate("dedup_split_leakage", (s, dir) => Dedup.splitLeakage(s, dir),
      _ => splitLeakageSql),
    // scale compositions over the banded/capped LSH pair generator;
    // at the planted J>=0.9 dups LSH pairs equal exact pairs (recall
    // 1-4e-8), so both share the exact operators' hash oracles
    Gate("dedup_clusters_lsh", (s, dir) => Dedup.ngramClustersLsh(s, dir),
      _ => dedupClustersSql),
    // same clustering forced through the distributed hash-min regime
    // (the path a 100 TB pair graph always takes)
    // hash-min label propagation converges to the same min-id labels
    Gate("dedup_clusters_dist", (s, dir) => Dedup.ngramClustersDist(s, dir),
      _ => dedupClustersSql),
    // LSH pair recall at the planted dups is 1-4e-8 → same oracles
    Gate("dedup_split_leakage_lsh", (s, dir) => Dedup.splitLeakageLsh(s, dir),
      _ => splitLeakageSql),
    // constructive twin of the leakage detector: split key = near-dup
    // CLUSTER id, so no pair can straddle a split by construction
    // cluster-keyed split over the same recursive closure: mod 10 of
    // the min-id cluster rep, 0 -> val, 1 -> test, else train
    Gate("dedup_split_safe", (s, dir) => Dedup.leakSafeSplit(s, dir),
      _ => dedupSplitSafeSql),
    // the PRODUCTION split rule: salted md5 of the cluster id (epoch-
    // blind), byte-identical hex-threshold convention on both engines;
    // the mod form above stays as the shared-convention twin
    // the production rule: salted md5-prefix of the cluster rep
    // against fixed hex thresholds — both engines compare identical
    // lowercase hex strings (the text_sample convention)
    Gate("dedup_split_safe_salted", (s, dir) =>
      Dedup.leakSafeSplitSalted(s, dir),
      _ => s"""SELECT doc_id, cluster_id,
         |  CASE WHEN substr(md5(CAST(cluster_id AS VARCHAR) || ':split42'),
         |         1, 15) < '199999999999999' THEN 'val'
         |       WHEN substr(md5(CAST(cluster_id AS VARCHAR) || ':split42'),
         |         1, 15) < '333333333333333' THEN 'test'
         |       ELSE 'train' END AS split
         |FROM ($dedupClustersSql)""".stripMargin),
    // the same constructor plugged into the EMBEDDING near-dup graph:
    // semantic clusters stay on one side (out-of-neighborhood eval)
    // the semantic variant: the same closure + split CASE over the
    // exact embedding cosine pair oracle, universe = embeddings
    Gate("dedup_split_safe_embed", (s, dir) =>
      Dedup.leakSafeSplitEmbed(s, dir),
      _ => s"""WITH RECURSIVE spairs AS ($dedupEmbedSql),
         |sed AS (SELECT i AS sa, j AS sb FROM spairs
         |        UNION ALL SELECT j, i FROM spairs),
         |sreach(sa, sb) AS (
         |  SELECT sa, sb FROM sed
         |  UNION
         |  SELECT r.sa, e2.sb FROM sreach r JOIN sed e2 ON r.sb = e2.sa),
         |sm AS (SELECT sa, min(sb) AS mn FROM sreach GROUP BY sa),
         |sc AS (SELECT v.vec_id AS doc_id,
         |    least(v.vec_id, coalesce(sm.mn, v.vec_id)) AS cluster_id
         |  FROM embeddings v LEFT JOIN sm ON sm.sa = v.vec_id)
         |SELECT doc_id, cluster_id,
         |  CASE WHEN cluster_id % 10 = 0 THEN 'val'
         |       WHEN cluster_id % 10 = 1 THEN 'test'
         |       ELSE 'train' END AS split
         |FROM sc""".stripMargin),
    // windowed exact-substring dedup (Lee et al. 2022, Spark-first)
    // incremental probe of a persisted LSH index: same banding scheme
    // as dedup_minhash (recall 1−4e-8 at the planted J ≥ 0.9), output
    // restricted to pairs touching the "new batch" split — the exact
    // oracle carries the same restriction
    Gate("dedup_incremental", (s, dir) => LshIndex.dedupIncremental(s, dir),
      _ => s"""WITH pairs AS ($ngramJaccardSql)
         |SELECT i, j FROM pairs
         |WHERE i % 10 = 0 OR j % 10 = 0""".stripMargin),
    Gate("dedup_passages", (s, dir) => Dedup.duplicatePassages(s, dir),
      _ => s"""WITH $passagePdCte,
         |nd AS (SELECT h, count(*) AS n_docs FROM pd GROUP BY h)
         |SELECT pd.doc_id,
         |  CAST(sum(pd.occ) AS BIGINT) AS n_windows,
         |  CAST(coalesce(sum(CASE WHEN nd.n_docs >= 2 THEN pd.occ END), 0)
         |       AS BIGINT) AS n_dup_windows,
         |  CAST(coalesce(sum(CASE WHEN nd.n_docs >= 2 THEN pd.occ END), 0) * 5
         |       >= sum(pd.occ) AS INT) AS is_dup_heavy
         |FROM pd JOIN nd ON pd.h = nd.h
         |GROUP BY pd.doc_id""".stripMargin),
    Gate("dedup_passage_spans", (s, dir) => Dedup.duplicatePassageSpans(s, dir),
      _ => s"""WITH $passagePdCte
         |SELECT h, count(*) AS n_docs, CAST(sum(occ) AS BIGINT) AS n_occ
         |FROM pd GROUP BY h HAVING count(*) >= 2""".stripMargin),
    // boilerplate-capped scale path (digests in >= cap docs dropped);
    // cap=3 bites on the gate corpus (max n_docs there is 3)
    // the capped composition is one extra bound on the same CTE —
    // digests in >= 3 docs are boilerplate and don't count as dups
    Gate("dedup_passages_capped", (s, dir) =>
      Dedup.duplicatePassagesCapped(s, dir, cap = 3),
      _ => s"""WITH $passagePdCte,
         |nd AS (SELECT h, count(*) AS n_docs FROM pd GROUP BY h)
         |SELECT pd.doc_id,
         |  CAST(sum(pd.occ) AS BIGINT) AS n_windows,
         |  CAST(coalesce(sum(CASE WHEN nd.n_docs >= 2 AND nd.n_docs < 3
         |                         THEN pd.occ END), 0)
         |       AS BIGINT) AS n_dup_windows,
         |  CAST(coalesce(sum(CASE WHEN nd.n_docs >= 2 AND nd.n_docs < 3
         |                         THEN pd.occ END), 0) * 5
         |       >= sum(pd.occ) AS INT) AS is_dup_heavy
         |FROM pd JOIN nd ON pd.h = nd.h
         |GROUP BY pd.doc_id""".stripMargin),
    // distributed-suffix-array maximal duplicated extents (exact,
    // hash-free); equals the window-string grouping the oracle runs
    // suffix-array maximal extents ≡ union of duplicated 8-token
    // windows merged into islands per doc (contiguity of equal-prefix
    // blocks in SA order makes the two formulations provably equal;
    // SuffixDedupSpec pins it on a planted fixture + the corpus) —
    // the oracle groups RAW window strings, so both sides are hash-free
    Gate("dedup_spans_exact", (s, dir) =>
      SuffixDedup.maximalSpans(s, dir, minSpan = 8),
      _ => """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS t
        |  FROM documents),
        |w AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, len(t) - 6),
        |      i -> struct_pack(off := i - 1, win := array_to_string(t[i:i+7], ' ')))) AS p
        |  FROM toks WHERE len(t) >= 8),
        |pos AS (SELECT doc_id, p.off AS off, p.win AS win FROM w),
        |shared AS (SELECT win FROM pos GROUP BY win
        |           HAVING count(DISTINCT doc_id) >= 2),
        |f AS (SELECT p.doc_id, p.off FROM pos p JOIN shared s ON p.win = s.win),
        |lagged AS (SELECT doc_id, off,
        |    lag(off) OVER (PARTITION BY doc_id ORDER BY off) AS prev
        |  FROM f),
        |isl AS (SELECT doc_id, off,
        |    sum(CASE WHEN prev IS NULL OR off - prev > 8 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY doc_id ORDER BY off) AS isle
        |  FROM lagged)
        |SELECT doc_id, CAST(min(off) AS BIGINT) AS span_start,
        |  CAST(max(off) + 8 AS BIGINT) AS span_end
        |FROM isl GROUP BY doc_id, isle""".stripMargin),
    // persisted span index: batch (doc_id % 10 == 0) probed against
    // the indexed rest — the crawl-loop lifecycle for exact spans
    // incremental probe: batch (doc_id % 10 = 0) positions flag iff
    // their window is in the indexed rest OR duplicated cross-doc
    // inside the batch — together the one-shot "shared with any other
    // doc" rule restricted to batch docs
    Gate("dedup_spans_incremental", (s, dir) =>
      SpanIndex.dedupIncrementalSpans(s, dir),
      _ => """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS t
        |  FROM documents),
        |w AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, len(t) - 6),
        |      i -> struct_pack(off := i - 1, win := array_to_string(t[i:i+7], ' ')))) AS p
        |  FROM toks WHERE len(t) >= 8),
        |pos AS (SELECT doc_id, p.off AS off, p.win AS win FROM w),
        |idx AS (SELECT DISTINCT win FROM pos WHERE doc_id % 10 <> 0),
        |bcross AS (SELECT win FROM pos WHERE doc_id % 10 = 0
        |           GROUP BY win HAVING count(DISTINCT doc_id) >= 2),
        |f AS (SELECT p.doc_id, p.off FROM pos p
        |      WHERE p.doc_id % 10 = 0
        |        AND (p.win IN (SELECT win FROM idx)
        |             OR p.win IN (SELECT win FROM bcross))),
        |lagged AS (SELECT doc_id, off,
        |    lag(off) OVER (PARTITION BY doc_id ORDER BY off) AS prev FROM f),
        |isl AS (SELECT doc_id, off,
        |    sum(CASE WHEN prev IS NULL OR off - prev > 8 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY doc_id ORDER BY off) AS isle FROM lagged)
        |SELECT doc_id, CAST(min(off) AS BIGINT) AS span_start,
        |  CAST(max(off) + 8 AS BIGINT) AS span_end
        |FROM isl GROUP BY doc_id, isle""".stripMargin),
    // offset-bearing index probe: the partner/offset/length diagnosis
    // view for the crawl loop, from per-digest witness samples
    // offset-bearing probe: the witness rule (first (doc, off) per
    // window string among index docs) + the diagonal-run merge,
    // re-derived from raw text — mirrors SpanIndex.probeMatches
    Gate("dedup_spans_incremental_matches", (s, dir) =>
      SpanIndex.dedupIncrementalMatches(s, dir),
      _ => """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS t
        |  FROM documents),
        |w AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, len(t) - 6),
        |      i -> struct_pack(off := i - 1, win := array_to_string(t[i:i+7], ' ')))) AS p
        |  FROM toks WHERE len(t) >= 8),
        |pos AS (SELECT doc_id, p.off AS off, p.win AS win FROM w),
        |samp AS (
        |  SELECT win, doc_id AS dj, off AS oj FROM (
        |    SELECT doc_id, off, win,
        |      row_number() OVER (PARTITION BY win ORDER BY doc_id, off) AS rn
        |    FROM pos WHERE doc_id % 10 <> 0)
        |  WHERE rn = 1),
        |pr AS (
        |  SELECT b.doc_id AS di, b.off AS oi, s.dj, s.oj
        |  FROM pos b JOIN samp s ON b.win = s.win
        |  WHERE b.doc_id % 10 = 0),
        |lagged AS (SELECT di, dj, oi, oj,
        |    lag(oi) OVER (PARTITION BY di, dj, oi - oj ORDER BY oi) AS prev
        |  FROM pr),
        |isl AS (SELECT di, dj, oi, oj,
        |    sum(CASE WHEN prev IS NULL OR oi - prev > 1 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY di, dj, oi - oj ORDER BY oi) AS isle
        |  FROM lagged)
        |SELECT di AS doc_i, dj AS doc_j,
        |  CAST(min(oi) AS BIGINT) AS off_i, CAST(min(oj) AS BIGINT) AS off_j,
        |  CAST(max(oi) - min(oi) + 8 AS BIGINT) AS match_len
        |FROM isl GROUP BY di, dj, oi - oj, isle""".stripMargin),
    // per-pair maximal matches (which partner, where, how long) via
    // the diagonal-run scan over rank groups
    // per-pair maximal matches: window-equality pairs grouped by
    // (pair, diagonal); islands of consecutive offsets are the
    // maximal matches, len = run + 8 - 1 (gate corpus group sizes are
    // far under the operator's maxGroup cap, so the uncapped SQL is
    // the exact oracle)
    Gate("dedup_pair_matches", (s, dir) =>
      SuffixDedup.maximalMatches(s, dir, minSpan = 8),
      _ => """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS t
        |  FROM documents),
        |w AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, len(t) - 6),
        |      i -> struct_pack(off := i - 1, win := array_to_string(t[i:i+7], ' ')))) AS p
        |  FROM toks WHERE len(t) >= 8),
        |pos AS (SELECT doc_id, p.off AS off, p.win AS win FROM w),
        |pr AS (
        |  SELECT a.doc_id AS di, a.off AS oi, b.doc_id AS dj, b.off AS oj
        |  FROM pos a JOIN pos b ON a.win = b.win AND a.doc_id < b.doc_id),
        |lagged AS (SELECT di, dj, oi, oj,
        |    lag(oi) OVER (PARTITION BY di, dj, oi - oj ORDER BY oi) AS prev
        |  FROM pr),
        |isl AS (SELECT di, dj, oi, oj,
        |    sum(CASE WHEN prev IS NULL OR oi - prev > 1 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY di, dj, oi - oj ORDER BY oi) AS isle
        |  FROM lagged)
        |SELECT di AS doc_i, dj AS doc_j,
        |  CAST(min(oi) AS BIGINT) AS off_i, CAST(min(oj) AS BIGINT) AS off_j,
        |  CAST(max(oi) - min(oi) + 8 AS BIGINT) AS match_len
        |FROM isl GROUP BY di, dj, oi - oj, isle""".stripMargin),
  )

  /** The SemDeDup re-derivation against a dumped codebook glob —
    * shared by the first-k and k-means|| trainer gates (assignment,
    * keep priority, τ-test and drop verdicts re-derived; only the
    * trainer behind the dump differs). */
  private def semDedupSql(glob: String): String =
    s"""WITH e AS (SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |c AS (SELECT cell, v FROM read_parquet('$glob')),
       |asg AS (
       |  SELECT vec_id, cell, sim FROM (
       |    SELECT e.vec_id, c.cell, list_cosine_similarity(e.v, c.v) AS sim,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY list_cosine_similarity(e.v, c.v) DESC, c.cell) AS rn
       |    FROM e, c) WHERE rn = 1),
       |m AS (SELECT a.vec_id, a.cell, a.sim, e.v
       |      FROM asg a JOIN e ON e.vec_id = a.vec_id),
       |drops AS (
       |  SELECT DISTINCT x.vec_id
       |  FROM m x JOIN m y ON x.cell = y.cell AND x.vec_id <> y.vec_id
       |  WHERE (y.sim < x.sim OR (y.sim = x.sim AND y.vec_id < x.vec_id))
       |    AND list_cosine_similarity(x.v, y.v) >= 0.45)
       |SELECT m.vec_id, m.cell,
       |  CAST(round(m.sim * 1000000) AS BIGINT) AS cent_sim_micro,
       |  (d.vec_id IS NULL) AS kept
       |FROM m LEFT JOIN drops d ON d.vec_id = m.vec_id""".stripMargin

  private def ngramJaccardSql: String =
    """WITH toks AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS t
      |  FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id,
      |    unnest(list_transform(range(1, len(t) - 1),
      |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
      |  FROM toks WHERE len(t) >= 3),
      |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |common AS (
      |  SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS c
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT i, j FROM common
      |JOIN cnt ca ON ca.doc_id = i
      |JOIN cnt cb ON cb.doc_id = j
      |WHERE CAST(c AS DOUBLE) / (ca.n + cb.n - c) >= 0.5""".stripMargin

  /** Shared passage-dedup CTE: per-(doc, 8-token-window md5)
    * occurrence counts. range(1, len-6) = window starts 1..len-7;
    * t[i:i+7] is DuckDB's inclusive 1-based slice = 8 tokens. */
  private def passagePdCte: String =
    """toks AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS t
      |  FROM documents),
      |w AS (
      |  SELECT doc_id,
      |    unnest(list_transform(range(1, len(t) - 6),
      |      i -> md5(array_to_string(t[i:i+7], ' ')))) AS h
      |  FROM toks WHERE len(t) >= 8),
      |pd AS (SELECT doc_id, h, count(*) AS occ FROM w GROUP BY doc_id, h)""".stripMargin

  private def splitLeakageSql: String =
    s"""WITH pairs AS ($ngramJaccardSql)
       |SELECT CASE WHEN i % 10 = 0 THEN j ELSE i END AS train_doc,
       |       CASE WHEN i % 10 = 0 THEN i ELSE j END AS val_doc
       |FROM pairs WHERE (i % 10 = 0) <> (j % 10 = 0)""".stripMargin

  /** Streaming exact chunk dedup — shared by the plain replay gate
    * and the mid-stream-compaction gate: micro-batches in doc_id
    * order make "first batch to see the hash, then first in batch"
    * the GLOBAL lexicographic-min occurrence per hash, so the
    * one-shot dedup is the oracle verbatim — chunk CTE (the
    * text_chunk fragment), md5, min (doc_id, chunk_id) per hash. */
  private def dedupExactStreamSql: String =
    """WITH toks AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS t
      |  FROM documents),
      |nz AS (SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) >= 1),
      |ch AS (SELECT doc_id, t, n,
      |    unnest(range(0, CASE WHEN n <= 64 THEN 1
      |                        ELSE 1 + (n - 64 + 47) // 48 END)) AS chunk_id
      |  FROM nz),
      |c AS (
      |  SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
      |    md5(array_to_string(t[chunk_id * 48 + 1 :
      |      chunk_id * 48 + least(64, n - chunk_id * 48)], ' ')) AS chunk_md5
      |  FROM ch),
      |k AS (
      |  SELECT chunk_md5, doc_id, chunk_id,
      |    row_number() OVER (PARTITION BY chunk_md5
      |      ORDER BY doc_id, chunk_id) AS rn
      |  FROM c)
      |SELECT chunk_md5, doc_id, chunk_id FROM k WHERE rn = 1""".stripMargin

  /** Blocked-Levenshtein near-dup pairs — shared by the standalone
    * gate, the capped gate, the edit-clusters recursive closure and
    * the family report. The oracle is the ALL-PAIRS ground truth: NO
    * blocking at all, every length-compatible pair through DuckDB's
    * full-matrix levenshtein (the engine runs the banded 3-arg form;
    * identical keep-set because the filter never accepts a distance
    * above the band) — so the gate pins the engine's q-chunk
    * pigeonhole blocking to structural recall 1.0, the
    * dedup_simhash_wide treatment. Two EXACTNESS-PRESERVING pair
    * prefilters keep the quadratic stage cheap: |Δlen| ≤ θ
    * (each edit changes length by ≤ 1) and the character-frequency
    * L1 bound Σ_c |count_c(a) − count_c(b)| ≤ 2θ (a substitution
    * moves the 36-symbol count vector by ≤ 2 in L1, an indel by 1 —
    * so ed ≥ L1/2); the MATERIALIZED barrier stops DuckDB from
    * hoisting the levenshtein above them (measured 16 s → 2.9 s at
    * the gate corpus). */
  private def dedupEditPairsSql: String = dedupEditPairsSqlOver("documents")

  /** The duplicated-corpus gate fixture (SQL side; the Spark twin is
    * [[EditDedup.dupFixture]]): 1 + doc_id % 3
    * byte-identical copies of every even-id document, copy c at id
    * doc_id·4 + c. The unnest is standalone-then-cross-joined (the
    * DuckDB bind-bug workaround). */
  private def dupFixtureSql: String =
    """(SELECT d.doc_id * 4 + cs.c AS doc_id, d.text
      |   FROM documents d, (SELECT unnest(range(0, 3)) AS c) cs
      |   WHERE d.doc_id % 2 = 0 AND cs.c <= d.doc_id % 3)""".stripMargin

  /** The all-pairs banded-Levenshtein ground truth over any
    * (doc_id, text) source — O(n²) with two provably-implied
    * prefilters (length gap, character-frequency L1), NO blocking:
    * the oracle IS the recall definition. */
  private def dedupEditPairsSqlOver(src: String): String = {
    val chars = ('a' to 'z') ++ ('0' to '9')
    val cv = chars.map(c => s"len - length(replace(nt, '$c', ''))")
      .mkString("[", ", ", "]")
    s"""WITH n AS (
       |  SELECT doc_id,
       |    trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS nt
       |  FROM $src),
       |l AS (SELECT doc_id, nt, CAST(length(nt) AS BIGINT) AS len,
       |        $cv AS cv
       |      FROM n),
       |cand AS MATERIALIZED (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.nt AS nt_a,
       |    b.nt AS nt_b, least(64, (a.len + b.len) // 20) AS theta
       |  FROM l a JOIN l b
       |    ON a.doc_id < b.doc_id
       |    AND abs(a.len - b.len) <= least(64, (a.len + b.len) // 20)
       |    AND list_sum(list_transform(list_zip(a.cv, b.cv),
       |          x -> abs(x[1] - x[2]))) <= 2 * least(64, (a.len + b.len) // 20))
       |SELECT doc_a, doc_b, CAST(levenshtein(nt_a, nt_b) AS BIGINT) AS dist
       |FROM cand WHERE levenshtein(nt_a, nt_b) <= theta""".stripMargin
  }

  /** Both-endpoint output cap over the exact pair set: a pair
    * survives iff it ranks ≤ k by (dist, partner) among BOTH
    * endpoints' pairs — total output ≤ n·k on any corpus. */
  private def dedupEditPairsCappedSql(k: Int): String =
    s"""WITH ep AS ($dedupEditPairsSql),
       |r AS (
       |  SELECT doc_a, doc_b, dist,
       |    row_number() OVER (PARTITION BY doc_a ORDER BY dist, doc_b) AS ra,
       |    row_number() OVER (PARTITION BY doc_b ORDER BY dist, doc_a) AS rb
       |  FROM ep)
       |SELECT doc_a, doc_b, dist FROM r WHERE ra <= $k AND rb <= $k""".stripMargin

  /** Cluster-keyed leakage-safe split over the recursive-closure
    * clusters oracle — shared by the split gate and the corpus
    * report's split CTE. */
  private[gates] def dedupSplitSafeSql: String =
    s"""SELECT doc_id, cluster_id,
       |  CASE WHEN cluster_id % 10 = 0 THEN 'val'
       |       WHEN cluster_id % 10 = 1 THEN 'test'
       |       ELSE 'train' END AS split
       |FROM ($dedupClustersSql)""".stripMargin

  /** The streaming chunk → embed → probe oracle: text_chunk_embed's
    * integer bucket fold densified into 32-length double vectors
    * (bucket order; integer-exact operands), assignment re-derived
    * from the run's dumped codebook, then dedup_semantic_incremental's
    * drop rule UNROLLED over the four doc_id-range micro-batches —
    * stage b's survivors (kept{b+1}) are stage b+1's index side, the
    * probe-then-append recursion the engine executed. Generated, not
    * hand-repeated: the four stage blocks come off one template. */
  private def dedupSemanticStreamSql(dir: String): String = {
    val tau = SemStream.Tau.toString
    val stages = (0 until 4).map { b =>
      s"""bb$b AS (SELECT * FROM bat WHERE b = $b),
         |dd$b AS (
         |  SELECT DISTINCT x.vec_id FROM bb$b x JOIN kept$b k ON x.cell = k.cell
         |    AND list_cosine_similarity(x.v, k.v) >= $tau
         |  UNION
         |  SELECT DISTINCT x.vec_id FROM bb$b x JOIN bb$b y ON x.cell = y.cell
         |    AND x.vec_id <> y.vec_id
         |  WHERE (y.sim < x.sim OR (y.sim = x.sim AND y.vec_id < x.vec_id))
         |    AND list_cosine_similarity(x.v, y.v) >= $tau),
         |kept${b + 1} AS (
         |  SELECT * FROM kept$b
         |  UNION ALL
         |  SELECT vec_id, cell, v FROM bb$b
         |  WHERE vec_id NOT IN (SELECT vec_id FROM dd$b))""".stripMargin
    }.mkString(",\n")
    s"""WITH toksC AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS t
       |  FROM documents),
       |nzC AS (SELECT doc_id, t, len(t) AS n FROM toksC WHERE len(t) >= 1),
       |chC AS (SELECT doc_id, t, n,
       |    unnest(range(0, CASE WHEN n <= 64 THEN 1
       |                        ELSE 1 + (n - 64 + 47) // 48 END)) AS chunk_id
       |  FROM nzC),
       |chunks AS (
       |  SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
       |    array_to_string(t[chunk_id * 48 + 1 :
       |                      chunk_id * 48 + least(64, n - chunk_id * 48)], ' ')
       |      AS chunk
       |  FROM chC),
       |${TextGates.embedBucketCtesFrom("chunks", "doc_id, chunk_id", "chunk")},
       |gridS AS (SELECT doc_id, chunk_id, unnest(range(0, 32)) AS bucket
       |          FROM (SELECT DISTINCT doc_id, chunk_id FROM w)),
       |e AS (
       |  SELECT (doc_id << 32) + chunk_id AS vec_id,
       |    list(CAST(coalesce(wx.weight, 0) AS DOUBLE) ORDER BY g2.bucket) AS v
       |  FROM gridS g2 LEFT JOIN w wx USING (doc_id, chunk_id, bucket)
       |  GROUP BY doc_id, chunk_id),
       |c AS (SELECT cell, v FROM read_parquet('${Gate.glob(SemStream.centsDumpPath, dir)}')),
       |asg AS (
       |  SELECT vec_id, cell, sim FROM (
       |    SELECT e.vec_id, c.cell, list_cosine_similarity(e.v, c.v) AS sim,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY list_cosine_similarity(e.v, c.v) DESC, c.cell) AS rn
       |    FROM e, c) WHERE rn = 1),
       |stepv AS (SELECT max(doc_id) // 4 + 1 AS step FROM documents),
       |kept0 AS (SELECT a.vec_id, a.cell, e.v
       |          FROM asg a JOIN e ON e.vec_id = a.vec_id
       |          WHERE ((a.vec_id >> 32) % 10) <> 0),
       |bat AS (SELECT a.vec_id, a.cell, a.sim, e.v,
       |          CAST((a.vec_id >> 32) // stepv.step AS INT) AS b
       |        FROM asg a JOIN e ON e.vec_id = a.vec_id CROSS JOIN stepv
       |        WHERE ((a.vec_id >> 32) % 10) = 0),
       |$stages
       |SELECT bat.vec_id, bat.cell,
       |  CAST(round(bat.sim * 1000000) AS BIGINT) AS cent_sim_micro,
       |  (dx.vec_id IS NULL) AS kept
       |FROM bat LEFT JOIN (
       |  SELECT vec_id FROM dd0 UNION SELECT vec_id FROM dd1
       |  UNION SELECT vec_id FROM dd2 UNION SELECT vec_id FROM dd3) dx
       |  ON dx.vec_id = bat.vec_id""".stripMargin
  }

  /** The banded signature postings over a dumped `sigs(doc_id, sig)`
    * frame — 8 × 8-bit bands; DuckDB's >>, xor and bit_count match
    * Java's on negative longs (verified semantics). */
  private[gates] val simhashBandCte: String =
    """b AS (
      |  SELECT doc_id, sig, band, (sig >> (band * 8)) & 255 AS h
      |  FROM sigs CROSS JOIN (SELECT unnest(range(0, 8)) AS band)),
      |sz AS (SELECT band, h, count(*) AS n FROM b GROUP BY band, h)""".stripMargin

  private def dedupEmbedSql: String =
    """WITH e AS (SELECT vec_id,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings)
      |SELECT a.vec_id AS i, b.vec_id AS j
      |FROM e a JOIN e b ON a.vec_id < b.vec_id
      |WHERE list_cosine_similarity(a.v, b.v) >= 0.45""".stripMargin

  private def dedupClustersSql: String =
    s"""WITH RECURSIVE pairs AS ($ngramJaccardSql),
       |e AS (SELECT i AS a, j AS b FROM pairs
       |      UNION ALL SELECT j, i FROM pairs),
       |reach(a, b) AS (
       |  SELECT a, b FROM e
       |  UNION
       |  SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a),
       |m AS (SELECT a, min(b) AS mn FROM reach GROUP BY a)
       |SELECT d.doc_id,
       |  least(d.doc_id, coalesce(m.mn, d.doc_id)) AS cluster_id
       |FROM documents d LEFT JOIN m ON m.a = d.doc_id""".stripMargin
}
