package graft.sim

import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.core.{DumpSink, Rounds}
import graft.sim.Similarity.Vec

/** Distributed Lloyd's k-means over the embedding corpus — the
  * codebook trainer behind IVF cells (and, at nsub slices, PQ
  * codebooks). Spherical variant: similarity = cosine, centroids
  * L2-normalized after each update, so "nearest centroid" and the
  * IVF probe metric agree.
  *
  * Scale design (100 TB posture): each call persists its corpus ONCE
  * as an `RDD[Vec]` ([[graft.core.Rounds.persisted]]) and every
  * round — the first-k seed read, the k-means‖ φ, pick and weight
  * passes (one carried-state formulation at every k), each narrow
  * Lloyd round and each blocked one — is a plain scheduler job over
  * cached partitions, not a fresh Catalyst plan, codegen compile and
  * parquet rescan. Centroids are broadcast; each partition returns
  * per-cell partial sums (never the vectors), and the driver folds
  * them in PARTITION-ID order ([[graft.core.Rounds.foldInOrder]]), so
  * every trainer is bit-reproducible for a fixed layout and the driver
  * holds O(k·dim) state.
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
  def train(corpus: Dataset[Vec], k: Int, iters: Int): Array[Centroid] =
    trainFirst(corpus, iters)(_.filter(_.vec_id < k).collect())

  /** [[train]] seeded from the first `k` vectors in vec_id ORDER
    * rather than by vec_id VALUE — for corpora whose id space is not
    * 0-dense (e.g. chunk vectors keyed doc_id << 32 | chunk_id, where
    * no id falls below k once the low docs land in another slice).
    * Same determinism, same Lloyd rounds; a `takeOrdered` by vec_id
    * replaces the id filter as the seed scan. */
  def trainOrdered(corpus: Dataset[Vec], k: Int, iters: Int): Array[Centroid] =
    trainFirst(corpus, iters)(_.takeOrdered(k)(Ordering.by((v: Vec) => v.vec_id)))

  /** Lloyd from the seeds `firstK` reads off the persisted corpus —
    * that read is the call's first job, so it fills the cache every
    * Lloyd round then reads. */
  private def trainFirst(corpus: Dataset[Vec], iters: Int)(
      firstK: RDD[Vec] => Array[Vec]): Array[Centroid] =
    Rounds.persisted(corpus.rdd) { rows =>
      val seeds = firstK(rows).sortBy(_.vec_id)
        .zipWithIndex.map { case (v, i) => Centroid(i, normalize(v.v)) }
      trainRows(corpus, rows, seeds, iters, CentroidIndex.LinearBelow)
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
    *  - small k: [[lloyd]] — one narrow job per round over the
    *    persisted corpus through the exact pruned [[CentroidIndex]]
    *    (verbatim linear scan below its threshold);
    *  - k ≥ `blockedAbove` (the 10⁴-centroid 100 TB IVF regime):
    *    [[PointBlocks]] — the corpus is blocked ONCE (one shuffle +
    *    localCheckpoint, reused every round) and each round prunes
    *    per BLOCK, so the O(k·d) bound work amortizes over the
    *    block's points instead of being paid per point. Assignment
    *    stays EXACT (same argmax, same lowest-index tie-break); only
    *    the work and the partial-sum merge order change — both merges
    *    fold in partition-id order (per cell for the blocked one). */
  private[sim] def trainFrom(corpus: Dataset[Vec], seeds: Array[Centroid],
      iters: Int,
      blockedAbove: Int = CentroidIndex.LinearBelow): Array[Centroid] =
    Rounds.persisted(corpus.rdd)(trainRows(corpus, _, seeds, iters, blockedAbove))

  /** [[trainFrom]] over `corpus` already persisted as `rows`. */
  private def trainRows(corpus: Dataset[Vec], rows: RDD[Vec],
      seeds: Array[Centroid], iters: Int, blockedAbove: Int): Array[Centroid] = {
    val blockedPrep =
      if (iters > 0 && seeds.length >= blockedAbove)
        PointBlocks.prepare(corpus)
      else None
    lastTrainBlocked = blockedPrep.isDefined
    blockedPrep match {
      case None => lloyd(rows, seeds, iters)
      case Some((blocked, model)) =>
        var cents = seeds
        for (_ <- 0 until iters) {
          val byCell = PointBlocks.assignSum(blocked, model, cents)
            .map { case (cell, sum, _) => cell -> sum }.toMap
          cents = cents.map { c =>
            byCell.get(c.cell).fold(c)(sum => Centroid(c.cell, normalize(sum)))
          }
        }
        // release the blocked-corpus materialization: trainFrom owns
        // the prepare, and a session training several codebooks would
        // otherwise pin one corpus replica in executor storage per call
        blocked.unpersist()
        cents
    }
  }

  /** `iters` narrow Lloyd rounds over the persisted corpus, one job
    * each: centroids broadcast, each partition returns its per-cell
    * vector sums (the first member's vector, then the rest added in
    * row order), and [[Rounds.foldInOrder]] merges them in
    * partition-id order. Empty cells keep their previous centroid. */
  private def lloyd(rows: RDD[Vec], seeds: Array[Centroid],
      iters: Int): Array[Centroid] = {
    var cents = seeds
    for (_ <- 0 until iters) {
      val k = cents.length
      val bc = rows.sparkContext.broadcast(CentroidIndex.build(cents))
      val sums = Rounds.foldInOrder(rows.mapPartitions { it =>
        val idx = bc.value
        val s = new Array[Array[Double]](k)
        it.foreach { r =>
          val c = idx.nearest(r)
          if (s(c) == null) s(c) = r.v.clone()
          else addInto(s(c), r.v)
        }
        Iterator.single(s)
      }) { (a, b) =>
        var c = 0
        while (c < a.length) {
          if (a(c) == null) a(c) = b(c) else if (b(c) != null) addInto(a(c), b(c))
          c += 1
        }
        a
      }.getOrElse(new Array[Array[Double]](k))
      bc.destroy()
      cents = cents.indices.map { i =>
        if (sums(i) == null) cents(i) else Centroid(cents(i).cell, normalize(sums(i)))
      }.toArray
    }
    cents
  }

  private def addInto(acc: Array[Double], v: Array[Double]): Unit = {
    var i = 0
    while (i < acc.length) { acc(i) += v(i); i += 1 }
  }

  /** Merge `b`'s per-cell (Σv, weight) partials into `a` (updated in
    * place and returned) — the [[Rounds.foldInOrder]] merge of the
    * sparse per-partition cell sums, so each cell's sums add up in
    * partition-id order. */
  private[sim] def mergeCells[W](plus: (W, W) => W)(
      a: scala.collection.mutable.Map[Int, (Array[Double], W)],
      b: scala.collection.mutable.Map[Int, (Array[Double], W)])
      : scala.collection.mutable.Map[Int, (Array[Double], W)] = {
    b.foreach { case (ci, (sv, sw)) =>
      a.get(ci) match {
        case None => a(ci) = (sv, sw)
        case Some((av, aw)) => addInto(av, sv); a(ci) = (av, plus(aw, sw))
      }
    }
    a
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
    * of (vec_id, round) — and the driver holds only the ~ℓ·k·rounds
    * oversampled seeds (O(|seeds|·d) memory — inherent to any
    * broadcast-based k-means‖, MLlib included).
    *
    * One formulation at every k: each point CARRIES (best seed index,
    * best score dot / ‖r‖) against the seeds so far, and a round scans
    * only the seeds its predecessor picked ([[carry]]). Jobs over the
    * persisted corpus: the lowest-id first seed (fills the cache);
    * per round a φ job, which also computes and persists that round's
    * carried state, and a pick job over it; then one weight job, which
    * scans in the last round's picks and counts the carried argmax —
    * 1 + 2·rounds + 1 in all, and no nearest-centroid sweep. The
    * score's max is fl(max dot / ‖r‖) (correctly rounded division is
    * monotone), so every cost is bit-equal to a full rescan's, and
    * strict > over seeds in index order gives [[CentroidIndex]]'s
    * first-best argmax.
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
    *    itself becomes Spark jobs — [[reduceSeedsDistributed]] —
    *    with driver work O(|seeds|·log k) for the deterministic
    *    weighted sample plus O(k·d) per polish round. No quadratic
    *    driver stage anywhere; KmeansSpec pins the k = 4096 path.
    */
  def seedParallel(corpus: Dataset[Vec], k: Int, rounds: Int = 3,
      oversample: Double = 2.0,
      reduceDistributedAbove: Int = ReduceDistributedAbove): Array[Centroid] =
    Rounds.persisted(corpus.rdd)(seedRows(_, k, rounds, oversample,
      reduceDistributedAbove))

  private[sim] val ReduceDistributedAbove = 1024

  /** Rows per tile of the [[carry]] scan. */
  private val Tile = 512

  /** One partition's carried seeding state, in row order: each row's
    * best seed index and best score dot / ‖r‖ (‖r‖ = 0 scores as 1). */
  private final case class Carried(best: Array[Int], score: Array[Double]) {
    /** The partition's share of φ: Σ (1 − score), in row order. */
    def cost: Double = {
      var s = 0.0; var p = 0
      while (p < score.length) { s += 1.0 - score(p); p += 1 }
      s
    }
  }

  /** `prev` (null: no seeds yet) with the `fresh` seeds, numbered from
    * `base`, scanned in. TILED: seeds are the outer loop over
    * [[Tile]]-row tiles, so the new-seed matrix streams once per tile
    * rather than once per row (k-means‖ seeds are spread by
    * construction, which defeats cluster-bound pruning — BENCH_NOTES
    * r10). Per row the seeds are still scanned in index order with a
    * strict >, so the state is bit-identical to the naive loop. */
  private def carry(rows: Iterator[Vec], prev: Carried,
      fresh: Array[Array[Double]], base: Int): Carried = {
    val best = new scala.collection.mutable.ArrayBuilder.ofInt
    val score = new scala.collection.mutable.ArrayBuilder.ofDouble
    var p = 0
    rows.grouped(Tile).foreach { group =>
      val tile = group.toArray
      val n = tile.length
      val ti = new Array[Int](n)
      val ts = new Array[Double](n)
      var q = 0
      while (q < n) {
        if (prev == null) { ti(q) = -1; ts(q) = Double.NegativeInfinity }
        else { ti(q) = prev.best(p + q); ts(q) = prev.score(p + q) }
        q += 1
      }
      var i = 0
      while (i < fresh.length) {
        val sv = fresh(i)
        q = 0
        while (q < n) {
          val r = tile(q); val rv = r.v
          var dot = 0.0; var j = 0
          while (j < rv.length) { dot += rv(j) * sv(j); j += 1 }
          val s = dot / (if (r.nrm == 0.0) 1.0 else r.nrm)
          if (s > ts(q)) { ts(q) = s; ti(q) = base + i }
          q += 1
        }
        i += 1
      }
      best ++= ti; score ++= ts
      p += n
    }
    Carried(best.result(), score.result())
  }

  /** [[seedParallel]] over `corpus` already persisted as `rows`. */
  private def seedRows(rows: RDD[Vec], k: Int, rounds: Int,
      oversample: Double, reduceDistributedAbove: Int): Array[Centroid] = {
    val sc = rows.sparkContext
    // the lowest-id vector; as the first job over `rows` it also fills
    // the persisted corpus every later round reads
    val first = Rounds.foldInOrder(rows)((a, b) => if (b.vec_id < a.vec_id) b else a)
      .getOrElse(throw new NoSuchElementException("seedParallel: empty corpus"))
    var seeds: Array[Array[Double]] = Array(normalize(first.v))
    var fresh = seeds // picked, but not yet scanned into `state`
    var state: RDD[Carried] = null
    // a persisted state block that is lost recomputes through these,
    // so they live until the weights are in
    val broadcasts = scala.collection.mutable.ArrayBuffer.empty[Broadcast[_]]
    // per partition: `out` of the carried state with `fresh` scanned in
    def scanFresh[U: scala.reflect.ClassTag](out: Carried => U): RDD[U] = {
      val bc = sc.broadcast(fresh)
      broadcasts += bc
      val base = seeds.length - fresh.length
      if (state == null) rows.mapPartitions(it => Iterator.single(out(carry(it, null, bc.value, base))))
      else rows.zipPartitions(state)((it, st) => Iterator.single(out(carry(it, st.next(), bc.value, base))))
    }
    val counts = try {
      for (r <- 1 to rounds) {
        val prev = state
        if (fresh.nonEmpty) {
          state = scanFresh(identity).persist(StorageLevel.MEMORY_AND_DISK)
          fresh = Array.empty
        }
        // φ from per-partition partials in partition-id order: a
        // task-completion-order sum can differ in the last ulp and
        // flip borderline hash-coin selections. This job fills `state`.
        val phi = Rounds.foldInOrder(state.map(_.cost))(_ + _).getOrElse(0.0)
        if (prev != null && (prev ne state)) prev.unpersist(blocking = false)
        if (phi > 0) {
          val threshold = oversample * k / phi
          val picked = rows.zipPartitions(state) { (it, st) =>
            val score = st.next().score
            it.zipWithIndex.filter { case (x, p) =>
              hashUniform(x.vec_id * 1000003L + r) < threshold * (1.0 - score(p))
            }.map(_._1)
          }.collect().sortBy(_.vec_id) // stable order for reproducibility
          fresh = picked.map(v => normalize(v.v))
          seeds = seeds ++ fresh
        }
      }
      // weights: points served by each oversampled seed, counted off the
      // carried argmax once the last round's picks are scanned in
      val n = seeds.length
      Rounds.foldInOrder(scanFresh { c =>
        val a = new Array[Long](n)
        c.best.foreach(i => a(i) += 1)
        a
      }) { (a, b) =>
        var i = 0
        while (i < n) { a(i) += b(i); i += 1 }
        a
      }.getOrElse(new Array[Long](n))
    } finally {
      if (state != null) state.unpersist(blocking = false)
      broadcasts.foreach(_.destroy())
    }
    reduceSeeds(sc, seeds, counts.map(_.toDouble.max(1e-9)), k,
      reduceDistributedAbove)
  }

  /** The oversampled `seeds`, weighted by the points each serves,
    * reduced to `k` centroids (see [[seedParallel]]). */
  private[sim] def reduceSeeds(sc: SparkContext, seeds: Array[Array[Double]],
      w: Array[Double], k: Int, reduceDistributedAbove: Int): Array[Centroid] = {
    lastReductionDistributed = seeds.length > reduceDistributedAbove
    val cents: Array[Array[Double]] =
      if (lastReductionDistributed) reduceSeedsDistributed(sc, seeds, w, k)
      else reduceSeedsDriver(seeds, w, k)
    // pad (degenerate corpora smaller than k) by reusing seeds
    val padded = (0 until k).map(i => cents(i % cents.length)).toArray
    padded.zipWithIndex.map { case (v, i) => Centroid(i, v) }
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
    * seed summaries become a small RDD and the reduction runs as
    * Spark jobs, so no driver stage is super-linear in |seeds|.
    *
    *  1. Init: deterministic weighted sample of k seeds (A-Res keys,
    *     Efraimidis–Spirakis: ln(u)/w with the same splitmix64 coin
    *     as the oversampling rounds; top-k keys = a weight-biased,
    *     reproducible draw). Driver: one O(|seeds|) pass + an
    *     O(|seeds| log k) partial sort.
    *  2. Polish: `polishRounds` distributed WEIGHTED Lloyd rounds
    *     over the seed summaries — centroids broadcast (k·d), per-
    *     partition per-cell partial sums, each cell's merged in
    *     partition-id order ([[Rounds.foldInOrder]]) so the result is
    *     bit-reproducible (same discipline as φ). Driver work per
    *     round: O(k·d) merge; the O(|seeds|·k·d) assignment runs on
    *     executors.
    *
    * Empty cells keep their previous centroid; output unit-norm. */
  private def reduceSeedsDistributed(sc: SparkContext,
      seeds: Array[Array[Double]], w: Array[Double], k: Int,
      polishRounds: Int = 5): Array[Array[Double]] = {
    val kEff = math.min(k, seeds.length)
    val init: Array[Array[Double]] = seeds.indices
      .map(i => (math.log(hashUniform(0x5eed5a1dL * 1000003L + i)) / w(i), i))
      .sortBy { case (key, i) => (-key, i) } // largest key wins (u^(1/w) order)
      .take(kEff).map(_._2).sorted.map(seeds(_)).toArray
    var cents = init
    // at most one slice per core: the polish sums fold per slice, so
    // the slicing fixes the bits
    val summaries = sc.parallelize(seeds.indices.map(i => (seeds(i), w(i))),
      math.min(math.max(seeds.length, 1), sc.defaultParallelism))
    for (_ <- 0 until polishRounds) {
      val bc = sc.broadcast(CentroidIndex.build(
        cents.zipWithIndex.map { case (v, i) => Centroid(i, v) }))
      val merged = Rounds.foldInOrder(summaries.mapPartitions { it =>
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
        Iterator.single(sums)
      })(mergeCells[Double](_ + _)).getOrElse(scala.collection.mutable.Map.empty)
      cents = cents.indices.map(c => merged.get(c) match {
        case Some((sv, sw)) if sw > 0 => normalize(sv)
        case _ => cents(c)
      }).toArray
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
    // one persisted corpus for the seeding rounds and Lloyd together
    Rounds.persisted(corpus.rdd) { rows =>
      val seeds = seedRows(rows, k, rounds, oversample, ReduceDistributedAbove)
      trainRows(corpus, rows, seeds, iters, CentroidIndex.LinearBelow)
    }

  /** Mean within-cluster cosine (×1e6, integer) — the spherical
    * k-means objective; must be non-decreasing over training. Summed
    * in partition-id order, so it is deterministic for a fixed layout. */
  def cohesionMicro(corpus: Dataset[Vec], cents: Array[Centroid]): Long = {
    val bc = corpus.sparkSession.sparkContext.broadcast(CentroidIndex.build(cents))
    val (s, n) = Rounds.foldInOrder(corpus.rdd.mapPartitions { it =>
      val idx = bc.value
      var s = 0.0; var n = 0L
      it.foreach { r =>
        val c = idx.cents(idx.nearest(r))
        var dot = 0.0; var j = 0
        while (j < r.v.length) { dot += r.v(j) * c.v(j); j += 1 }
        s += dot / r.nrm; n += 1
      }
      Iterator.single((s, n))
    })((a, b) => (a._1 + b._1, a._2 + b._2)).getOrElse((0.0, 0L))
    bc.destroy()
    math.round(s / n * 1e6)
  }

  /** (cell, v) frame of a centroid array — driver-local rows: the
    * codebook as a semantic index persists it and as a gate's oracle
    * reads it from the dump. Each gate dumps ITS OWN run's centroids
    * under its own kind, so the oracle reads exactly the codebook the
    * gate output used — whichever trainer built it. (Every trainer
    * folds its partials in partition-id order, so two calls over one
    * corpus layout give the same bits; KmeansSpec pins that.) */
  def centsFrame(spark: SparkSession, cents: Array[Centroid]): DataFrame = {
    import spark.implicits._
    cents.toSeq.map(c => (c.cell, c.v.toSeq)).toDF("cell", "v")
  }

  /** IVF search over a TRAINED codebook: Lloyd centroids replace the
    * first-N seed, same probe machinery (Similarity.topKIvf). The
    * trained centroids go to `centsDump`: the Lloyd iterations are the
    * only thing the DuckDB gate takes on faith — cell assignment,
    * probe selection, cosine scoring, and the top-k rank are all
    * re-derived from the dumped codebook and the raw embeddings
    * (every float op is an exactly-specified IEEE-754 double op in
    * the same order as the Scala scorer, and the output carries no
    * floats — (query_id, neighbor_id, rank) only). */
  def topKIvfTrained(spark: SparkSession, sfDir: String, k: Int = 5,
      numQueries: Int = 10, nCells: Int = 16, nprobe: Int = 4,
      iters: Int = 3, centsDump: DumpSink = DumpSink.discard): DataFrame = {
    val trained = train(Similarity.loadVectors(spark, sfDir), nCells, iters)
    centsDump(centsFrame(spark, trained))
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
      iters: Int = 3, centsDump: DumpSink = DumpSink.discard): DataFrame = {
    val trained = trainParallel(Similarity.loadVectors(spark, sfDir), nCells, iters)
    centsDump(centsFrame(spark, trained))
    val cents = trained
      .map(c => Vec(-1L - c.cell, c.v, 1.0))
    Similarity.topKIvf(spark, sfDir, k, numQueries, nCells, nprobe, Some(cents))
  }

  /** Cluster-assignment summary (cell sizes): the observable surface
    * of the trainer. Hash-gated via the centroid side dump — DuckDB
    * re-derives the argmax-cosine assignment (dot / ‖r‖ against unit
    * centroids, first-index tie-break) and the per-cell counts. */
  def cellSizes(spark: SparkSession, sfDir: String, k: Int = 16,
      iters: Int = 3, centsDump: DumpSink = DumpSink.discard): DataFrame = {
    import spark.implicits._
    val corpus = Similarity.loadVectors(spark, sfDir)
    val cents = train(corpus, k, iters)
    centsDump(centsFrame(spark, cents))
    val bc = spark.sparkContext.broadcast(CentroidIndex.build(cents))
    corpus.map(r => bc.value.nearest(r))
      .toDF("cell")
      .groupBy(col("cell")).agg(count(lit(1)).as("n"))
  }
}
