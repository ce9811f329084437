package graft.gates

import graft.sim.{IvfIndex, Kmeans, Opq, Pca, Pq, Similarity, Sq}

/** The `ann_` gates: vector search over `embeddings` (exact, IVF, PQ,
  * OPQ, PCA). */
object AnnGates {

  val PqBooks = Dump("pq_books")
  // each trained-IVF gate dumps its own run's centroids under its own kind
  val IvfTrainedCents = Dump("ivf_trained_cents")
  val IvfTrainedParCents = Dump("ivf_trained_par_cents")
  val KmeansCellsCents = Dump("kmeans_cells_cents")
  // the IVF-PQ session index's model, shared by the ivfpq gates
  val IvfpqCents = Dump("ivfpq_cents")
  val IvfpqBooks = Dump("ivfpq_books")
  val IvfpqDepth = Dump("ivfpq_adepth")
  val OpqRot = Dump("opq_rot")
  val OpqBooks = Dump("opq_books")
  val PcaModel = Dump("pca_model")

  val gates: Seq[Gate] = Seq(
    // ---- similarity search ----
    Gate("ann_topk", (s, dir) => Similarity.topKExact(s, dir),
      _ => annTopkCosineSql),
    // the IVF probe machinery is DETERMINISTIC (approximate only
    // w.r.t. exact top-k): seed-codebook search derives fully from
    // the embeddings table; the trained variants take only the
    // Lloyd centroids on faith (run-scoped side dumps)
    Gate("ann_ivf", (s, dir) => Similarity.topKIvf(s, dir),
      _ => annIvfSql(annIvfSeedCte)),
    // PQ pipelines: the trained codebooks (and the IVF-PQ index
    // model) are side-dumped and taken on faith; encode, ADC, the
    // global candidate cut and the exact re-rank are re-derived in
    // SQL. ann_ivfpq_graph shares ann_ivfpq's oracle: at the gate's
    // 16 cells the beam is exhaustive and CentroidGraphSpec pins the
    // outputs equal (the ann_sq8 shares-the-exact-oracle pattern).
    Gate("ann_pq", (s, dir) => Pq.topKPq(s, dir, booksDump = PqBooks.sink(dir)),
      dir => annPqPipelineSql(PqBooks.glob(dir), "", "SELECT vec_id FROM nv")),
    Gate("ann_ivf_trained", (s, dir) =>
      Kmeans.topKIvfTrained(s, dir, centsDump = IvfTrainedCents.sink(dir)),
      dir => annIvfSql(
        s"SELECT cell, v FROM read_parquet('${IvfTrainedCents.glob(dir)}')")),
    // same probe machinery over a k-means|| (oversampled-seed) codebook
    Gate("ann_ivf_trained_par", (s, dir) =>
      Kmeans.topKIvfTrainedPar(s, dir, centsDump = IvfTrainedParCents.sink(dir)),
      dir => annIvfSql(
        s"SELECT cell, v FROM read_parquet('${IvfTrainedParCents.glob(dir)}')")),
    Gate("ann_ivfpq", (s, dir) => IvfIndex.topKIvfPq(s, dir,
        centsDump = IvfpqCents.sink(dir), booksDump = IvfpqBooks.sink(dir)),
      dir => annPqPipelineSql(IvfpqBooks.glob(dir),
        ivfpqPoolCtes(IvfpqCents.glob(dir)),
        "SELECT a.vec_id FROM asg a JOIN cellu u ON u.cell = a.cell")),
    // ann_ivfpq_adaptive: the convergence loop's per-query probe
    // DEPTHS are side-dumped (the faith); probe-cell selection, ADC,
    // the per-query rerank·depth cut and the exact re-rank are all
    // re-derived — the operator's output stage is a pure function of
    // (model, depths) by contract (IvfIndex.probePqAdaptive scaladoc)
    Gate("ann_ivfpq_adaptive", (s, dir) => IvfIndex.topKIvfPqAdaptive(s, dir,
        centsDump = IvfpqCents.sink(dir), booksDump = IvfpqBooks.sink(dir),
        depthDump = IvfpqDepth.sink(dir)),
      dir => annPqPipelineSql(IvfpqBooks.glob(dir),
        ivfpqAdaptivePoolCtes(IvfpqCents.glob(dir), IvfpqDepth.glob(dir)),
        "SELECT a.vec_id FROM asg a JOIN cellu u ON u.cell = a.cell",
        candCte = adaptiveCandCte)),
    Gate("ann_ivfpq_graph", (s, dir) => IvfIndex.topKIvfPqGraph(s, dir,
        centsDump = IvfpqCents.sink(dir), booksDump = IvfpqBooks.sink(dir)),
      dir => annPqPipelineSql(IvfpqBooks.glob(dir),
        ivfpqPoolCtes(IvfpqCents.glob(dir)),
        "SELECT a.vec_id FROM asg a JOIN cellu u ON u.cell = a.cell")),
    // full-probe twins: every cell read + (for PQ) unbounded rerank →
    // candidate set = corpus, exact re-scoring → equals brute force, so
    // the index scan/ADC/rerank machinery is HASH-gated; IvfIndexSpec
    // pins the equality before the driver gate sees it
    Gate("ann_ivf_full", (s, dir) => IvfIndex.topKIvfFull(s, dir),
      _ => annTopkCosineSql),
    Gate("ann_ivfpq_rerank_all", (s, dir) => IvfIndex.topKIvfPqRerankAll(s, dir),
      _ => annTopkCosineSql),
    Gate("ann_kmeans_cells", (s, dir) =>
      Kmeans.cellSizes(s, dir, centsDump = KmeansCellsCents.sink(dir)),
      dir => s"""WITH e AS (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |c AS (SELECT cell, v FROM read_parquet('${KmeansCellsCents.glob(dir)}')),
         |asg AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT e.vec_id, c.cell,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY list_cosine_similarity(e.v, c.v) DESC, c.cell) AS rn
         |    FROM e, c) WHERE rn = 1)
         |SELECT cell, CAST(count(*) AS BIGINT) AS n
         |FROM asg GROUP BY cell""".stripMargin),
    // SQ8's distortion is bounded by one 1/255 step per dimension and
    // its candidate budget (rerank = 50 ≫ k = 5) is re-scored with
    // EXACT cosine — SqSpec asserts the output is set-identical to the
    // exact path on the gate corpora, so it shares the exact oracle.
    Gate("ann_sq8", (s, dir) => Sq.topKSq(s, dir), _ => annTopkCosineSql),
    // OPQ: same PQ pipeline in the dumped-rotation space — the
    // rotation application (ordered dot per permuted basis row) is
    // re-derived; eigensolve/allocation/trainer are the dumped faith
    Gate("ann_pq_opq", (s, dir) => Opq.topKPqOpq(s, dir,
        rotDump = OpqRot.sink(dir), booksDump = OpqBooks.sink(dir)),
      dir => annPqPipelineSql(OpqBooks.glob(dir), "", "SELECT vec_id FROM nv",
        spaceCtes =
          s"""rot AS (SELECT p, b FROM read_parquet('${OpqRot.glob(dir)}')),
             |rproj AS (
             |  SELECT n.vec_id, r.p,
             |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
             |      list_transform(range(1, 65), i -> n.v[i] * r.b[i])),
             |      (a, c) -> a + c) AS y
             |  FROM nv0 n CROSS JOIN rot r),
             |nv AS (SELECT vec_id, list(y ORDER BY p) AS v
             |       FROM rproj GROUP BY vec_id),""".stripMargin)),
    // Euclidean top-k baseline, and the same search THROUGH full-rank
    // PCA: centering + orthogonal rotation preserve L2 distances (to
    // ~1e-13, far under the corpus' smallest top-k gap ~4e-5), so both
    // share this exact oracle — the PCA gate hash-proves the entire
    // fit/eigen/project stack. ann_pca_reduced (lossy by design) gets
    // its own model-dump oracle below.
    Gate("ann_topk_l2", (s, dir) => Pca.topKL2(s, dir), _ => annTopkL2Sql),
    Gate("ann_pca_topk", (s, dir) => Pca.topKL2Pca(s, dir), _ => annTopkL2Sql),
    // reduced-rank PCA search: the dumped mean + top-16 basis rows are
    // the faith; projection (ordered centered dots) and the squared-L2
    // rank are re-derived from raw embeddings
    Gate("ann_pca_reduced", (s, dir) =>
      Pca.topKL2PcaReduced(s, dir, modelDump = PcaModel.sink(dir)),
      dir => s"""WITH raw AS (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v0
         |  FROM embeddings),
         |md AS (SELECT comp, v FROM read_parquet('${PcaModel.glob(dir)}')),
         |mn AS (SELECT v AS mv FROM md WHERE comp = -1),
         |basis AS (SELECT comp, v AS bv FROM md WHERE comp >= 0),
         |proj AS (
         |  SELECT r.vec_id, b.comp,
         |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list_transform(range(1, 65),
         |        i -> (r.v0[i] - m.mv[i]) * b.bv[i])), (a, c) -> a + c) AS y
         |  FROM raw r CROSS JOIN mn m CROSS JOIN basis b),
         |pv AS (SELECT vec_id, list(y ORDER BY comp) AS v
         |       FROM proj GROUP BY vec_id),
         |q AS (SELECT vec_id AS qid, v AS qv FROM pv WHERE vec_id < 10)
         |SELECT query_id, neighbor_id, rank FROM (
         |  SELECT q.qid AS query_id, p.vec_id AS neighbor_id,
         |    row_number() OVER (PARTITION BY q.qid ORDER BY
         |      list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |        list_transform(range(1, 17),
         |          c -> (q.qv[c] - p.v[c]) * (q.qv[c] - p.v[c]))),
         |        (a, b) -> a + b),
         |      p.vec_id) AS rank
         |  FROM q JOIN pv p ON p.vec_id <> q.qid)
         |WHERE rank <= 5""".stripMargin),
  )

  private def annTopkCosineSql: String =
    """WITH e AS (SELECT vec_id,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings),
      |q AS (SELECT * FROM e WHERE vec_id < 10)
      |SELECT query_id, neighbor_id, rank FROM (
      |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
      |    row_number() OVER (PARTITION BY q.vec_id
      |      ORDER BY list_cosine_similarity(q.v, e.v) DESC, e.vec_id) AS rank
      |  FROM q, e WHERE e.vec_id <> q.vec_id)
      |WHERE rank <= 5""".stripMargin

  /** The IVF probe pipeline over a `c(cell, v)` centroid CTE — the
    * same derivation for seed and trained codebooks: argmax-cosine
    * cell assignment (first-cell tie-break, matching the Scala
    * first-index scan), nprobe=4 probe cells per query, exact cosine
    * scoring within probed cells, k=5 rank by (sim DESC, neighbor).
    * Assignment/probe margins on the gate corpus are ~1e-4 — far
    * above any cosine-summation-order noise — and the OUTPUT carries
    * no floats, the same robustness argument as annTopkCosineSql. */
  private def annIvfSql(centroidCte: String): String =
    s"""WITH e AS (SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |c AS ($centroidCte),
       |asg AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT e.vec_id, c.cell,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY list_cosine_similarity(e.v, c.v) DESC, c.cell) AS rn
       |    FROM e, c) WHERE rn = 1),
       |q AS (SELECT * FROM e WHERE vec_id < 10),
       |pr AS (
       |  SELECT qid, cell FROM (
       |    SELECT q.vec_id AS qid, c.cell,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY list_cosine_similarity(q.v, c.v) DESC, c.cell) AS rn
       |    FROM q, c) WHERE rn <= 4)
       |SELECT query_id, neighbor_id, rank FROM (
       |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
       |    row_number() OVER (PARTITION BY q.vec_id
       |      ORDER BY list_cosine_similarity(q.v, e.v) DESC, e.vec_id) AS rank
       |  FROM q
       |  JOIN pr ON pr.qid = q.vec_id
       |  JOIN asg ON asg.cell = pr.cell
       |  JOIN e ON e.vec_id = asg.vec_id AND e.vec_id <> q.vec_id)
       |WHERE rank <= 5""".stripMargin

  /** First-nCells seed codebook: deterministically the first 16
    * corpus vectors in vec_id order — no side dump needed. */
  private val annIvfSeedCte: String =
    "SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, v FROM e WHERE vec_id < 16"

  /** Default global candidate cut: flat ADC top-50 per query ((dist,
    * vec_id) order — the operators' partition-independent cut). The
    * adaptive gate swaps in a per-query rerank·depth budget. */
  private val defaultCandCte: String =
    """cand AS (
      |  SELECT qid, vec_id FROM (
      |    SELECT qid, vec_id,
      |      row_number() OVER (PARTITION BY qid ORDER BY dist, vec_id) AS rn
      |    FROM adc) WHERE rn <= 50),""".stripMargin

  /** The PQ pipeline re-derivation at the gate config (dim 64, m=8 →
    * dsub=8, ksub=16, rerank=50, k=5, 10 queries): L2-normalize in
    * ordered IEEE arithmetic, re-encode every vector against the
    * DUMPED codebooks (argmin ordered-fold sqDist, lowest-code ties),
    * rebuild the ADC tables, sum per-vector ADC distances in subspace
    * order, cut to the global ADC top-50 per query ((adc, id) order —
    * the operators' partition-independent cut), and exact-cosine
    * re-rank the survivors. `poolCtes`/`poolSrc` restrict the scored
    * pool (whole corpus for ann_pq; the probed cells' members for
    * ann_ivfpq). Everything except the trainer is re-derived. */
  private def annPqPipelineSql(booksGlob: String, poolCtes: String,
      poolSrc: String,
      spaceCtes: String = "nv AS (SELECT vec_id, v FROM nv0),",
      candCte: String = defaultCandCte): String =
    s"""WITH raw AS (SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v0
       |  FROM embeddings),
       |nrm2 AS (SELECT vec_id, v0,
       |    sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(v0, x -> x * x)), (a, b) -> a + b)) AS nr
       |  FROM raw),
       |nv0 AS (SELECT vec_id,
       |    CASE WHEN nr = 0 THEN v0 ELSE list_transform(v0, x -> x / nr) END AS v
       |  FROM nrm2),
       |$spaceCtes
       |books AS (SELECT subspace, code, v AS bv
       |          FROM read_parquet('$booksGlob')),
       |q AS (SELECT vec_id AS qid, v AS qv FROM nv WHERE vec_id < 10),
       |enc AS (
       |  SELECT vec_id, subspace, code FROM (
       |    SELECT n.vec_id, b.subspace, b.code,
       |      row_number() OVER (PARTITION BY n.vec_id, b.subspace
       |        ORDER BY list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |          list_transform(range(1, 9), i ->
       |            (n.v[b.subspace * 8 + i] - b.bv[i])
       |            * (n.v[b.subspace * 8 + i] - b.bv[i]))),
       |          (a, c) -> a + c), b.code) AS rn
       |    FROM nv n CROSS JOIN books b) WHERE rn = 1),
       |adct AS (
       |  SELECT q.qid, b.subspace, b.code,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(range(1, 9), i ->
       |        (q.qv[b.subspace * 8 + i] - b.bv[i])
       |        * (q.qv[b.subspace * 8 + i] - b.bv[i]))),
       |      (a, c) -> a + c) AS d
       |  FROM q CROSS JOIN books b),
       |$poolCtes
       |adc AS (
       |  SELECT t.qid, e.vec_id,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list(t.d ORDER BY t.subspace)), (a, b) -> a + b) AS dist
       |  FROM enc e
       |  JOIN ($poolSrc) p ON p.vec_id = e.vec_id
       |  JOIN adct t ON t.subspace = e.subspace AND t.code = e.code
       |  WHERE e.vec_id <> t.qid
       |  GROUP BY t.qid, e.vec_id),
       |$candCte
       |hits AS (
       |  SELECT c.qid AS query_id, c.vec_id AS neighbor_id,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(range(1, 65), i -> q.qv[i] * n.v[i])),
       |      (a, b) -> a + b) AS sim
       |  FROM cand c
       |  JOIN q ON q.qid = c.qid
       |  JOIN nv n ON n.vec_id = c.vec_id)
       |SELECT query_id, neighbor_id, rank FROM (
       |  SELECT query_id, neighbor_id,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY sim DESC, neighbor_id) AS rank
       |  FROM hits) WHERE rank <= 5""".stripMargin

  /** The IVF half of ann_ivfpq's oracle: cell assignment against the
    * dumped unit-norm centroids (argmax ordered dot, lowest-cell
    * ties), nprobe=4 probe cells per query, and — matching the
    * operator, whose one scan serves every query — the scored pool is
    * the UNION of all queries' probe cells. */
  private def ivfpqPoolCtes(centsGlob: String): String =
    s"""cents AS (SELECT cell, v AS cv FROM read_parquet('$centsGlob')),
       |asg AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT n.vec_id, c.cell,
       |      row_number() OVER (PARTITION BY n.vec_id
       |        ORDER BY list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |          list_transform(range(1, 65), i -> n.v[i] * c.cv[i])),
       |          (a, b) -> a + b) DESC, c.cell) AS rn
       |    FROM nv n CROSS JOIN cents c) WHERE rn = 1),
       |probes AS (
       |  SELECT qid, cell FROM (
       |    SELECT q.qid, c.cell,
       |      row_number() OVER (PARTITION BY q.qid
       |        ORDER BY list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |          list_transform(range(1, 65), i -> q.qv[i] * c.cv[i])),
       |          (a, b) -> a + b) DESC, c.cell) AS rn
       |    FROM q CROSS JOIN cents c) WHERE rn <= 4),
       |cellu AS (SELECT DISTINCT cell FROM probes),""".stripMargin

  /** ADAPTIVE-prober pool: same cell-assignment/affinity machinery as
    * [[ivfpqPoolCtes]], but each query's probe depth comes from the
    * run's depth side-dump (the convergence decisions — the only part
    * taken on faith) instead of a fixed nprobe, and the scored pool is
    * the union of all queries' probed cells, exactly the one scan the
    * operator's output stage performs. */
  private def ivfpqAdaptivePoolCtes(centsGlob: String,
      adepthGlob: String): String =
    s"""dep AS (SELECT qid, depth, rerank FROM read_parquet('$adepthGlob')),
       |cents AS (SELECT cell, v AS cv FROM read_parquet('$centsGlob')),
       |asg AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT n.vec_id, c.cell,
       |      row_number() OVER (PARTITION BY n.vec_id
       |        ORDER BY list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |          list_transform(range(1, 65), i -> n.v[i] * c.cv[i])),
       |          (a, b) -> a + b) DESC, c.cell) AS rn
       |    FROM nv n CROSS JOIN cents c) WHERE rn = 1),
       |probes AS (
       |  SELECT r.qid, r.cell FROM (
       |    SELECT q.qid, c.cell,
       |      row_number() OVER (PARTITION BY q.qid
       |        ORDER BY list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |          list_transform(range(1, 65), i -> q.qv[i] * c.cv[i])),
       |          (a, b) -> a + b) DESC, c.cell) AS rn
       |    FROM q CROSS JOIN cents c) r
       |  JOIN dep d ON d.qid = r.qid WHERE r.rn <= d.depth),
       |cellu AS (SELECT DISTINCT cell FROM probes),""".stripMargin

  /** The adaptive gate's candidate cut: global ADC top-(rerank·depth)
    * per query — the operator's rerank budget grown with probe depth,
    * both read from the run's side-dump (never hard-coded, so a
    * non-default rerank invocation cannot silently diverge). */
  private def adaptiveCandCte: String =
    """cand AS (
      |  SELECT x.qid, x.vec_id FROM (
      |    SELECT qid, vec_id,
      |      row_number() OVER (PARTITION BY qid ORDER BY dist, vec_id) AS rn
      |    FROM adc) x
      |  JOIN dep d ON d.qid = x.qid WHERE x.rn <= d.rerank * d.depth),""".stripMargin

  private def annTopkL2Sql: String =
    """WITH e AS (SELECT vec_id,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings),
      |q AS (SELECT * FROM e WHERE vec_id < 10)
      |SELECT query_id, neighbor_id, rank FROM (
      |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
      |    row_number() OVER (PARTITION BY q.vec_id
      |      ORDER BY list_distance(q.v, e.v), e.vec_id) AS rank
      |  FROM q, e WHERE e.vec_id <> q.vec_id)
      |WHERE rank <= 5""".stripMargin
}
