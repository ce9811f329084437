package graft.sim

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.sim.Similarity.{Vec, cosine}

/** Distributed Lloyd's k-means over the embedding corpus — the
  * codebook trainer behind IVF cells (and, at nsub slices, PQ
  * codebooks). Spherical variant: similarity = cosine, centroids
  * L2-normalized after each update, so "nearest centroid" and the
  * IVF probe metric agree.
  *
  * Scale design (100 TB posture): each iteration is ONE narrow pass —
  * centroids broadcast, per-partition partial sums via
  * `reduceGroups` (map-side combine: k·dim doubles per partition
  * cross the wire, never the vectors). The driver holds k·dim
  * doubles; the corpus is never collected, and lineage is cut per
  * round via localCheckpoint of nothing — centroids live on the
  * driver, so each round's plan is flat (scan → mapPartitions →
  * partial agg), not compounding.
  *
  * Per-point assignment cost: every assignment pass goes through
  * [[CentroidIndex]] — an exact triangle-inequality-pruned nearest-
  * centroid search (identical argmax and tie-break to the linear
  * scan, verbatim linear below 256 centroids), so at the k ≳ 10⁴
  * centroids a 100 TB IVF needs, a Lloyd round costs
  * O(n·(√k + visited)·d) instead of O(n·k·d).
  */
object Kmeans {

  final case class Centroid(cell: Int, v: Array[Double])

  private def normalize(v: Array[Double]): Array[Double] = {
    var s = 0.0; var i = 0
    while (i < v.length) { s += v(i) * v(i); i += 1 }
    val n = math.sqrt(s)
    if (n == 0.0) v else v.map(_ / n)
  }

  private[sim] def nearest(r: Vec, cents: Array[Centroid]): Int = {
    var best = 0; var bestS = Double.NegativeInfinity
    var i = 0
    while (i < cents.length) {
      // cosine against a unit centroid = dot / |r|
      var dot = 0.0; var j = 0
      val cv = cents(i).v; val rv = r.v
      while (j < rv.length) { dot += rv(j) * cv(j); j += 1 }
      val s = dot / r.nrm
      if (s > bestS) { bestS = s; best = i }
      i += 1
    }
    best
  }

  /** `iters` Lloyd rounds from the deterministic seed of the first
    * `k` vectors (by vec_id). Empty cells keep their previous
    * centroid. Returns unit-norm centroids.
    *
    * Seed-quality caveat: first-k seeding is the cheap deterministic
    * default the gate surfaces use (the trained centroids are dumped,
    * so oracles are seeding-agnostic), but if the first k vectors are
    * clustered it can strand Lloyd in a poor local optimum. The
    * 100 TB path is [[trainParallel]] (k-means‖ oversampling). */
  def train(corpus: Dataset[Vec], k: Int, iters: Int): Array[Centroid] = {
    val seeds = corpus.filter(col("vec_id") < k).collect().sortBy(_.vec_id)
      .zipWithIndex.map { case (v, i) => Centroid(i, normalize(v.v)) }
    trainFrom(corpus, seeds, iters)
  }

  /** [[train]] seeded from the first `k` vectors in vec_id ORDER
    * rather than by vec_id VALUE — for corpora whose id space is not
    * 0-dense (e.g. chunk vectors keyed doc_id << 32 | chunk_id, where
    * no id falls below k once the low docs land in another slice).
    * Same determinism, same Lloyd rounds; a distributed sort-limit
    * replaces the id filter as the seed scan. */
  def trainOrdered(corpus: Dataset[Vec], k: Int, iters: Int): Array[Centroid] = {
    val seeds = corpus.orderBy(col("vec_id")).limit(k).collect().sortBy(_.vec_id)
      .zipWithIndex.map { case (v, i) => Centroid(i, normalize(v.v)) }
    trainFrom(corpus, seeds, iters)
  }

  /** Whether the last [[trainFrom]] run took the blocked-corpus
    * assignment path — observable for the spec, mirroring
    * [[lastReductionDistributed]]. */
  @volatile private[sim] var lastTrainBlocked: Boolean = false

  /** Lloyd from caller-supplied unit-norm seeds.
    *
    * Two assignment paths, switched on k (`blockedAbove` defaults to
    * [[CentroidIndex.LinearBelow]] so gate-sized trainers are
    * bit-unchanged):
    *  - small k: one narrow pass per round through the exact pruned
    *    [[CentroidIndex]] (verbatim linear scan below its threshold);
    *  - k ≥ `blockedAbove` (the 10⁴-centroid 100 TB IVF regime):
    *    [[PointBlocks]] — the corpus is blocked ONCE (one shuffle +
    *    localCheckpoint, reused every round) and each round prunes
    *    per BLOCK, so the O(k·d) bound work amortizes over the
    *    block's points instead of being paid per point. Assignment
    *    stays EXACT (same argmax, same lowest-index tie-break); only
    *    the work and the partial-sum merge order change — and the
    *    blocked merge is the more deterministic one (fixed
    *    (cell, partition) order). */
  private[sim] def trainFrom(corpus: Dataset[Vec], seeds: Array[Centroid],
      iters: Int,
      blockedAbove: Int = CentroidIndex.LinearBelow): Array[Centroid] = {
    import corpus.sparkSession.implicits._
    val spark = corpus.sparkSession
    var cents = seeds
    val blockedPrep =
      if (iters > 0 && seeds.length >= blockedAbove)
        PointBlocks.prepare(corpus)
      else None
    lastTrainBlocked = blockedPrep.isDefined
    for (round <- 0 until iters) {
      val sums: Array[(Int, Array[Double], Long)] = blockedPrep match {
        case Some((blocked, model)) =>
          PointBlocks.assignSum(blocked, model, cents)
        case None =>
          // exact pruned nearest (CentroidIndex): identical argmax +
          // tie-break to the linear scan — a pure work reduction at
          // large k, a verbatim linear scan below LinearBelow
          val bc = spark.sparkContext.broadcast(CentroidIndex.build(cents))
          val s = corpus
            .map { r => (bc.value.nearest(r), (r.v, 1L)) }
            .groupByKey(_._1)
            .reduceGroups { (a, b) =>
              val (av, an) = a._2; val (bv, bn) = b._2
              val out = new Array[Double](av.length)
              var i = 0
              while (i < av.length) { out(i) = av(i) + bv(i); i += 1 }
              (a._1, (out, an + bn))
            }
            .map { case (cell, (_, (sum, n))) => (cell, sum, n) }
            .collect()
          bc.destroy()
          s
      }
      val byCell = sums.map { case (cell, sum, _) => cell -> sum }.toMap
      cents = cents.map { c =>
        byCell.get(c.cell) match {
          case Some(sum) => Centroid(c.cell, normalize(sum))
          case None      => c
        }
      }
    }
    // release the blocked-corpus materialization: trainFrom owns the
    // prepare, and a session training several codebooks would
    // otherwise pin one corpus replica in executor storage per call
    blockedPrep.foreach { case (blocked, _) => blocked.unpersist(); () }
    cents
  }

  /** splitmix64 → uniform double in [0,1) ([[graft.core.Mix]]) — the
    * deterministic "coin" k-means‖ selection flips per (vec_id,
    * round), so seeding is reproducible without any RNG state. */
  private def hashUniform(x: Long): Double = graft.core.Mix.unitDouble(x)

  /** k-means‖ seeding (Bahmani et al., VLDB 2012) — the scalable
    * replacement for first-k seeding: `rounds` oversampling passes
    * each select points with probability min(1, ℓ·k·cost/φ) (cost =
    * 1 − max cosine to the current seed set, φ = total cost), so
    * seeds land proportional to how badly the current set covers the
    * data. Selection is DETERMINISTIC — the coin is a splitmix64 hash
    * of (vec_id, round) — and each round is two narrow passes
    * (cost-sum, filter-collect); the driver holds only the ~ℓ·k·rounds
    * oversampled seeds (O(|seeds|·d) memory — inherent to any
    * broadcast-based k-means‖, MLlib included).
    *
    * REDUCTION to k — two paths, switched on |seeds| (the r8 VERDICT
    * scale finding: the quality path's driver cost is quadratic):
    *
    *  - |seeds| ≤ `reduceDistributedAbove`: weighted farthest-first +
    *    driver-local weighted Lloyd — the best-spread reduction, but
    *    O(|seeds|²·d) single-threaded. Right for the IVF cell counts
    *    the gates train (k ≤ a few hundred).
    *  - |seeds| > `reduceDistributedAbove` (the k ≳ 10⁴ regime a
    *    100 TB IVF needs, where |seeds| ≈ ℓ·rounds·k): the reduction
    *    itself becomes a Spark job — [[reduceSeedsDistributed]] —
    *    with driver work O(|seeds|·log k) for the deterministic
    *    weighted sample plus O(k·d) per polish round. No quadratic
    *    driver stage anywhere; KmeansSpec pins the k = 4096 path.
    */
  def seedParallel(corpus: Dataset[Vec], k: Int, rounds: Int = 3,
      oversample: Double = 2.0,
      reduceDistributedAbove: Int = 1024,
      incrementalAbove: Int = 1024): Array[Centroid] = {
    import corpus.sparkSession.implicits._
    val spark = corpus.sparkSession
    val first = corpus.orderBy(col("vec_id")).head()
    var seeds: Array[Array[Double]] = Array(normalize(first.v))
    // SEEDING path switch (r11 adjudication of the r10 rebuild): the
    // carried-state machinery below saves O(n·|seeds|·d) rescans per
    // round but pays ~3 extra Spark jobs + a localCheckpoint
    // materialization PER ROUND — fixed costs that dominate at gate
    // k (k = 256: isolated singles showed the in-suite 2.1 → 4.9 s
    // move was exactly this overhead) and vanish into the 19-minute
    // train they 3.2× at k = 16 384. Below the threshold take the
    // two-rescan formulation; the outputs are BIT-IDENTICAL (max is
    // order-insensitive, both scan seeds in index order with
    // strict->; KmeansSpec pins path equality), so gate hashes do
    // not move with the switch.
    lastSeedIncremental = k > incrementalAbove
    def seedCost(r: Vec, ss: Array[Array[Double]]): Double = {
      var best = Double.NegativeInfinity
      var i = 0
      while (i < ss.length) {
        var dot = 0.0; var j = 0
        val sv = ss(i); val rv = r.v
        while (j < rv.length) { dot += rv(j) * sv(j); j += 1 }
        if (dot > best) best = dot
        i += 1
      }
      1.0 - best / (if (r.nrm == 0.0) 1.0 else r.nrm)
    }
    val weights: Map[Int, Long] = if (!lastSeedIncremental) {
      // ── small-k: stateless two-rescan rounds ──────────────────────
      for (r <- 1 to rounds) {
        val bc = spark.sparkContext.broadcast(seeds)
        val phi = corpus.mapPartitions { it =>
          val s = it.foldLeft(0.0)((a, x) => a + seedCost(x, bc.value))
          Iterator((org.apache.spark.TaskContext.getPartitionId(), s))
        }.collect().sortBy(_._1).map(_._2).sum
        if (phi > 0) {
          val threshold = oversample * k / phi
          val picked = corpus.filter(x => hashUniform(x.vec_id * 1000003L + r) <
              threshold * seedCost(x, bc.value))
            .collect().sortBy(_.vec_id) // stable order for reproducibility
          seeds = seeds ++ picked.map(v => normalize(v.v))
        }
        bc.destroy()
      }
      // weights: one pruned-exact nearest pass (identical first-best
      // contract to the carried argmax the incremental path reads)
      val asSeedCents = seeds.zipWithIndex.map { case (v, i) => Centroid(i, v) }
      val bcS = spark.sparkContext.broadcast(CentroidIndex.build(asSeedCents))
      val ws = corpus.map(x => bcS.value.nearest(x))
        .groupByKey(identity).count().collect().toMap
      bcS.destroy()
      ws
    } else seedParallelIncremental(corpus, k, rounds, oversample,
      s => seeds = s, seeds)
    val w = seeds.indices.map(i => weights.getOrElse(i, 0L).toDouble.max(1e-9)).toArray
    lastReductionDistributed = seeds.length > reduceDistributedAbove
    val cents: Array[Array[Double]] =
      if (lastReductionDistributed) reduceSeedsDistributed(spark, seeds, w, k)
      else reduceSeedsDriver(seeds, w, k)
    // pad (degenerate corpora smaller than k) by reusing seeds
    val padded = (0 until k).map(i => cents(i % cents.length)).toArray
    padded.zipWithIndex.map { case (v, i) => Centroid(i, v) }
  }

  /** Which seeding formulation the last [[seedParallel]] call took —
    * observable for the path-equality spec. */
  @volatile private[sim] var lastSeedIncremental: Boolean = false

  /** The carried-state (incremental) k-means‖ rounds + weight count —
    * [[seedParallel]]'s large-k body. Mutates the caller's seed set
    * via `setSeeds`; returns the per-seed served-point weights. */
  private def seedParallelIncremental(corpus: Dataset[Vec], k: Int,
      rounds: Int, oversample: Double,
      setSeeds: Array[Array[Double]] => Unit,
      seeds0: Array[Array[Double]]): Map[Int, Long] = {
    import corpus.sparkSession.implicits._
    val spark = corpus.sparkSession
    var seeds: Array[Array[Double]] = seeds0
    // INCREMENTAL cost state — the classic k-means‖ formulation: each
    // point carries (bestSeedIdx, bestDot) against the seed set so
    // far, updated by scanning ONLY each round's new seeds. The
    // values are bit-identical to a full rescan (max is
    // order-insensitive; strict-> with in-index-order scanning keeps
    // the linear scan's first-best tie-break), but the work per round
    // drops from O(n·|seeds|·d) TWICE (φ pass + pick pass) to one
    // O(n·|new|·d) update — and the final weight pass becomes a FREE
    // count over the carried argmax instead of an O(n·|seeds|·d)
    // nearest sweep. (r10: at n = 10⁶, k = 16 384 the two-rescan
    // formulation held ~70% of the 19-minute train; BENCH_NOTES.)
    // State rows stay in corpus partition order (narrow map +
    // localCheckpoint), so the φ partial-sum fold order — and with it
    // every borderline hash-coin selection — is unchanged.
    def updateState(prev: Dataset[(Vec, Int, Double)],
        newSeeds: Array[Array[Double]], base: Int): Dataset[(Vec, Int, Double)] = {
      // TILED scan (seeds outer over 512-point blocks): k-means‖ seeds
      // are spread BY CONSTRUCTION, which defeats cluster-bound pruning
      // (a floor-bounded CentroidIndex variant was measured at ≤ 25%
      // — BENCH_NOTES r10) — but the unpruned per-point loop is
      // memory-bound re-streaming the ~17 MB new-seed matrix per
      // point. Tiling streams it once per 512-point block (256× less
      // traffic); dots, scan order (seed index ascending per point)
      // and the strict-> comparison are unchanged, so the carried
      // state is bit-identical to the naive loop.
      val bc = spark.sparkContext.broadcast(newSeeds)
      val next = prev.mapPartitions { it =>
        val ns = bc.value
        it.grouped(512).flatMap { blockSeq =>
          val block = blockSeq.toArray
          val bi = new Array[Int](block.length)
          val bd = new Array[Double](block.length)
          var p = 0
          while (p < block.length) {
            bi(p) = block(p)._2; bd(p) = block(p)._3; p += 1
          }
          var i = 0
          while (i < ns.length) {
            val sv = ns(i)
            var q = 0
            while (q < block.length) {
              val rv = block(q)._1.v
              var dot = 0.0; var j = 0
              while (j < rv.length) { dot += rv(j) * sv(j); j += 1 }
              if (dot > bd(q)) { bd(q) = dot; bi(q) = base + i }
              q += 1
            }
            i += 1
          }
          block.iterator.zipWithIndex.map { case ((x, _, _), p2) =>
            (x, bi(p2), bd(p2))
          }
        }
      }.localCheckpoint()
      next.count() // materialize before releasing the previous state
      prev.unpersist()
      bc.destroy()
      next
    }
    def costOf(x: Vec, bestDot: Double): Double =
      1.0 - bestDot / (if (x.nrm == 0.0) 1.0 else x.nrm)
    var state: Dataset[(Vec, Int, Double)] =
      updateState(
        corpus.map(x => (x, -1, Double.NegativeInfinity)), seeds, 0)
    for (r <- 1 to rounds) {
      // φ summed from per-partition partials in FIXED partition-index
      // order: Dataset.reduce folds in task-completion order, which
      // can differ across runs in the last ulp and flip borderline
      // hash-coin selections — breaking the "deterministic without RNG
      // state" contract. Partition-ordered summation is reproducible
      // for a fixed partitioning of the corpus.
      val phi = state.mapPartitions { it =>
        val s = it.foldLeft(0.0)((a, x) => a + costOf(x._1, x._3))
        Iterator((org.apache.spark.TaskContext.getPartitionId(), s))
      }.collect().sortBy(_._1).map(_._2).sum
      if (phi > 0) {
        val threshold = oversample * k / phi
        val picked = state
          .filter { case (x, _, bd) =>
            hashUniform(x.vec_id * 1000003L + r) < threshold * costOf(x, bd)
          }
          .map(_._1)
          .collect().sortBy(_.vec_id) // stable order for reproducibility
        val newSeeds = picked.map(v => normalize(v.v))
        if (newSeeds.nonEmpty) {
          state = updateState(state, newSeeds, seeds.length)
          seeds = seeds ++ newSeeds
        }
      }
    }
    // weights: points served by each oversampled seed — read straight
    // off the carried argmax (identical first-best contract to the
    // pruned/linear nearest sweep this replaces)
    val weights = state.map(_._2).groupByKey(identity).count().collect().toMap
    state.unpersist()
    setSeeds(seeds)
    weights
  }

  /** Which reduction path the last [[seedParallel]] call took —
    * observable so the large-k spec can assert the quadratic driver
    * stage is actually bypassed. */
  @volatile private[sim] var lastReductionDistributed: Boolean = false

  /** QUALITY reduction (small seed sets): weighted (points-served ×
    * distance²) farthest-first picks spread representatives —
    * O(|seeds|²·d) single-threaded, fine up to ~10³ seeds — then a
    * few driver-local weighted Lloyd rounds polish them.
    * Deterministic lowest-index tie-breaks throughout. */
  private def reduceSeedsDriver(seeds: Array[Array[Double]],
      w: Array[Double], k: Int): Array[Array[Double]] = {
    val chosen = scala.collection.mutable.ArrayBuffer(w.indices.maxBy(i => (w(i), -i)))
    while (chosen.length < math.min(k, seeds.length)) {
      val next = seeds.indices.filterNot(chosen.contains).maxBy { i =>
        val d = chosen.map { c =>
          var dot = 0.0; var j = 0
          while (j < seeds(i).length) { dot += seeds(i)(j) * seeds(c)(j); j += 1 }
          1.0 - dot
        }.min
        (w(i) * d * d, -i.toDouble)
      }
      chosen += next
    }
    var cents = chosen.map(i => seeds(i)).toArray
    for (_ <- 0 until 5) {
      val sums = Array.fill(cents.length)(new Array[Double](cents(0).length))
      val ns = new Array[Double](cents.length)
      seeds.indices.foreach { i =>
        val ci = cents.indices.maxBy { c =>
          var dot = 0.0; var j = 0
          while (j < seeds(i).length) { dot += seeds(i)(j) * cents(c)(j); j += 1 }
          (dot, -c.toDouble)
        }
        var j = 0
        while (j < seeds(i).length) { sums(ci)(j) += w(i) * seeds(i)(j); j += 1 }
        ns(ci) += w(i)
      }
      cents = cents.indices.map(c =>
        if (ns(c) > 0) normalize(sums(c)) else cents(c)).toArray
    }
    cents
  }

  /** SCALE reduction (large seed sets — the k ≳ 10⁴ IVF regime): the
    * seed summaries become a small Dataset and the reduction runs as
    * Spark jobs, so no driver stage is super-linear in |seeds|.
    *
    *  1. Init: deterministic weighted sample of k seeds (A-Res keys,
    *     Efraimidis–Spirakis: ln(u)/w with the same splitmix64 coin
    *     as the oversampling rounds; top-k keys = a weight-biased,
    *     reproducible draw). Driver: one O(|seeds|) pass + an
    *     O(|seeds| log k) partial sort.
    *  2. Polish: `polishRounds` distributed WEIGHTED Lloyd rounds
    *     over the seed summaries — centroids broadcast (k·d), per-
    *     partition partial sums, merged on the driver in FIXED
    *     (cell, partition) order so the result is bit-reproducible
    *     for a fixed partitioning (same discipline as φ). Driver
    *     work per round: O(k·d) merge; the O(|seeds|·k·d) assignment
    *     runs on executors.
    *
    * Empty cells keep their previous centroid; output unit-norm. */
  private def reduceSeedsDistributed(spark: SparkSession,
      seeds: Array[Array[Double]], w: Array[Double], k: Int,
      polishRounds: Int = 5): Array[Array[Double]] = {
    import spark.implicits._
    val kEff = math.min(k, seeds.length)
    val init: Array[Array[Double]] = seeds.indices
      .map(i => (math.log(hashUniform(0x5eed5a1dL * 1000003L + i)) / w(i), i))
      .sortBy { case (key, i) => (-key, i) } // largest key wins (u^(1/w) order)
      .take(kEff).map(_._2).sorted.map(seeds(_)).toArray
    var cents = init
    val ds = seeds.indices.map(i => (seeds(i), w(i))).toDS()
    for (_ <- 0 until polishRounds) {
      val bc = spark.sparkContext.broadcast(CentroidIndex.build(
        cents.zipWithIndex.map { case (v, i) => Centroid(i, v) }))
      val partials = ds.mapPartitions { it =>
        val cs = bc.value
        val sums = scala.collection.mutable.Map.empty[Int, (Array[Double], Double)]
        it.foreach { case (v, wt) =>
          val ci = cs.nearest(Vec(-1L, v, 1.0)) // seeds are unit-norm
          val (sv, sw) = sums.getOrElseUpdate(ci,
            (new Array[Double](v.length), 0.0))
          var j = 0
          while (j < v.length) { sv(j) += wt * v(j); j += 1 }
          sums(ci) = (sv, sw + wt)
        }
        val pid = org.apache.spark.TaskContext.getPartitionId()
        sums.iterator.map { case (ci, (sv, sw)) => (ci, pid, sv, sw) }
      }.collect().sortBy { case (ci, pid, _, _) => (ci, pid) }
      val merged = new Array[Array[Double]](cents.length)
      val mw = new Array[Double](cents.length)
      partials.foreach { case (ci, _, sv, sw) =>
        if (merged(ci) == null) merged(ci) = new Array[Double](sv.length)
        var j = 0
        while (j < sv.length) { merged(ci)(j) += sv(j); j += 1 }
        mw(ci) += sw
      }
      cents = cents.indices.map(c =>
        if (mw(c) > 0) normalize(merged(c)) else cents(c)).toArray
      bc.destroy()
    }
    cents
  }

  /** [[train]] with k-means‖ seeding — the 100 TB trainer: seed
    * quality no longer depends on which vectors happen to carry the
    * lowest ids, and (since r9) no stage is super-linear in |seeds|
    * on the driver — above [[seedParallel]]'s threshold the seed
    * reduction itself runs distributed, so the large-k IVF regime
    * (k ≳ 10⁴ centroids) costs the driver O(|seeds|·d) memory and
    * O(k·d)-per-round merges, nothing quadratic. Same Lloyd rounds,
    * same dumped-centroid oracle story (oracles re-derive everything
    * downstream of whatever codebook is dumped, so seeding strategy
    * is invisible to the gates). */
  def trainParallel(corpus: Dataset[Vec], k: Int, iters: Int,
      rounds: Int = 3, oversample: Double = 2.0): Array[Centroid] =
    trainFrom(corpus, seedParallel(corpus, k, rounds, oversample), iters)

  /** Mean within-cluster cosine (×1e6, integer) — the spherical
    * k-means objective; must be non-decreasing over training. */
  def cohesionMicro(corpus: Dataset[Vec], cents: Array[Centroid]): Long = {
    import corpus.sparkSession.implicits._
    val bc = corpus.sparkSession.sparkContext.broadcast(CentroidIndex.build(cents))
    val (s, n) = corpus.map { r =>
      val c = bc.value.cents(bc.value.nearest(r))
      var dot = 0.0; var j = 0
      while (j < r.v.length) { dot += r.v(j) * c.v(j); j += 1 }
      (dot / r.nrm, 1L)
    }.reduce((a, b) => (a._1 + b._1, a._2 + b._2))
    math.round(s / n * 1e6)
  }

  /** Centroid side-dump paths for the gate surfaces ([[cellSizes]],
    * [[topKIvfTrained]], [[topKIvfTrainedPar]]), by corpus dir
    * basename; each gate's oracle names its own for the corpus dir it
    * is given. Each gate dumps ITS OWN run's centroids under its own
    * kind: `train`'s partial-sum merge order is scheduler-dependent in
    * the last ulp, so two train() calls may not be bit-identical — the
    * run-scoped dump captures exactly the codebook the gate output
    * used. */
  def cellsDumpPath(base: String): String =
    graft.core.SideDump.path("kmeans_cells_cents", base)
  def ivfTrainedDumpPath(base: String): String =
    graft.core.SideDump.path("ivf_trained_cents", base)
  def ivfTrainedParDumpPath(base: String): String =
    graft.core.SideDump.path("ivf_trained_par_cents", base)

  private def dumpCents(spark: SparkSession, cents: Array[Centroid],
      kind: String, sfDir: String): Unit = {
    import spark.implicits._
    graft.core.SideDump.write(
      cents.toSeq.map(c => (c.cell, c.v.toSeq)).toDF("cell", "v"),
      kind, new java.io.File(sfDir).getName)
  }

  /** IVF search over a TRAINED codebook: Lloyd centroids replace the
    * first-N seed, same probe machinery (Similarity.topKIvf). The
    * trained centroids are side-dumped: the Lloyd iterations are the
    * only thing the DuckDB gate takes on faith — cell assignment,
    * probe selection, cosine scoring, and the top-k rank are all
    * re-derived from the dumped codebook and the raw embeddings
    * (every float op is an exactly-specified IEEE-754 double op in
    * the same order as the Scala scorer, and the output carries no
    * floats — (query_id, neighbor_id, rank) only). */
  def topKIvfTrained(spark: SparkSession, sfDir: String, k: Int = 5,
      numQueries: Int = 10, nCells: Int = 16, nprobe: Int = 4,
      iters: Int = 3): DataFrame = {
    val trained = train(Similarity.loadVectors(spark, sfDir), nCells, iters)
    dumpCents(spark, trained, "ivf_trained_cents", sfDir)
    val cents = trained
      .map(c => Vec(-1L - c.cell, c.v, 1.0)) // unit-norm; id unused in probing
    Similarity.topKIvf(spark, sfDir, k, numQueries, nCells, nprobe, Some(cents))
  }

  /** [[topKIvfTrained]] with k-means‖ seeding ([[trainParallel]]) —
    * the scalable trainer's own hash gate: the dumped codebook is the
    * faith exactly as in the first-k gate, so the oracle machinery is
    * identical and only the seeds differ. */
  def topKIvfTrainedPar(spark: SparkSession, sfDir: String, k: Int = 5,
      numQueries: Int = 10, nCells: Int = 16, nprobe: Int = 4,
      iters: Int = 3): DataFrame = {
    val trained = trainParallel(Similarity.loadVectors(spark, sfDir), nCells, iters)
    dumpCents(spark, trained, "ivf_trained_par_cents", sfDir)
    val cents = trained
      .map(c => Vec(-1L - c.cell, c.v, 1.0))
    Similarity.topKIvf(spark, sfDir, k, numQueries, nCells, nprobe, Some(cents))
  }

  /** Cluster-assignment summary (cell sizes): the observable surface
    * of the trainer. Hash-gated via the centroid side dump — DuckDB
    * re-derives the argmax-cosine assignment (dot / ‖r‖ against unit
    * centroids, first-index tie-break) and the per-cell counts. */
  def cellSizes(spark: SparkSession, sfDir: String, k: Int = 16,
      iters: Int = 3): DataFrame = {
    import spark.implicits._
    val corpus = Similarity.loadVectors(spark, sfDir)
    val cents = train(corpus, k, iters)
    dumpCents(spark, cents, "kmeans_cells_cents", sfDir)
    val bc = spark.sparkContext.broadcast(CentroidIndex.build(cents))
    corpus.map(r => bc.value.nearest(r))
      .toDF("cell")
      .groupBy(col("cell")).agg(count(lit(1)).as("n"))
  }
}
