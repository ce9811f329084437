package graft.sim

import org.apache.spark.sql.Dataset
import graft.core.Rounds
import graft.sim.Kmeans.Centroid
import graft.sim.Similarity.Vec

/** Corpus-side point blocking for the k-means trainers — the
  * complement of [[CentroidIndex]] (which prunes per POINT, this
  * prunes per BLOCK of points and amortizes the pruning work over
  * every point in the block, Elkan/Hamerly-style bounds adapted to
  * the spherical metric).
  *
  * The idea: cluster the CORPUS once into blocks (a coarse quantizer
  * over a driver-local sample), shuffle the corpus so each block's
  * points are contiguous inside a partition, and localCheckpoint the
  * result — one shuffle, paid once, reused by every Lloyd round. Per
  * round, each block computes ONE ψ-sorted table of exact centroid
  * angles to its center b ([[blockScan]], O(k·d + k log k) amortized
  * over the block); each member point p, whose own angle α to b was
  * stored at blocking time, then prunes with the geodesic triangle
  * inequality
  *
  *   ∠(p,c) ≥ |ψ_c − α|   ⇒   cos∠(p,c) ≤ cos(|ψ_c − α|)
  *
  * (cosine similarity depends only on the angle, so point norms
  * divide out): centroids whose bound — minus a round-off margin
  * AGAINST pruning — cannot reach the best score are skipped without
  * a dot product, and once ψ_c − α alone kills the bound the
  * ψ-ascending scan exits, since every later centroid is strictly
  * worse. The argmax and the lowest-index tie-break are exactly the
  * linear scan's ([[Kmeans.nearest]]): pruned centroids are strictly
  * worse, so they can neither win nor tie.
  *
  * Cost model (per Lloyd round, block size s, scored m ≪ k):
  * O((k·d + k log k)/s + m·d) per point instead of O(k·d) — the
  * per-centroid angle table is paid once per block, not once per
  * point, and the per-point bounds are EXACT angles (an earlier
  * block-radius candidate-list formulation pruned far less: wide
  * blocks admit almost everything). Combined with the one-off
  * prepare (two corpus passes + one shuffle), the break-even is
  * roughly `iters ≥ 2` at any realistic k; the 100 TB trainer runs
  * 3–10 rounds.
  *
  * Scale posture: the blocked corpus is localCheckpointed (executor-
  * local storage — the same materialization MLlib's trainer performs
  * with `cache()`); block count targets ~[[targetBlockSize]] points
  * per block so the per-block bound pass amortizes, capped so the
  * block model (centers) stays a small broadcast. The driver
  * holds only the sampled seed vectors and the block model —
  * O(nBlocks·d), never the corpus.
  */
object PointBlocks {

  /** A corpus row tagged with its block and its angle to the block
    * center (the per-round bounds read it directly). */
  final case class Blocked(block: Int, angle: Double, vec_id: Long,
      v: Array[Double], nrm: Double)

  /** Block centers (unit), broadcast per round. */
  final case class Model(centers: Array[Array[Double]]) extends Serializable

  /** Same safety discipline as [[CentroidIndex.Margin]]: a centroid is
    * only excluded when it provably cannot win or tie for any point
    * of the block, even under acos/cos round-off. */
  private[sim] val Margin = 1e-9

  private def clip(x: Double): Double =
    if (x > 1.0) 1.0 else if (x < -1.0) -1.0 else x

  private def normalize(v: Array[Double]): Array[Double] = {
    var s = 0.0; var i = 0
    while (i < v.length) { s += v(i) * v(i); i += 1 }
    val n = math.sqrt(s)
    if (n == 0.0) v else v.map(_ / n)
  }

  private def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  /** splitmix64 → [0,1): the deterministic sampling coin
    * ([[graft.core.Mix]], same finalizer as the k-means‖ hash). */
  private def hashUniform(x: Long): Double = graft.core.Mix.unitDouble(x)

  /** Nearest block center by dot (centers unit, point norm divides
    * out of the argmax), lowest index on ties — first-wins scan. */
  private def nearestCenter(v: Array[Double], centers: Array[Array[Double]]): Int = {
    var best = 0; var bestS = Double.NegativeInfinity
    var i = 0
    while (i < centers.length) {
      val s = dot(v, centers(i))
      if (s > bestS) { bestS = s; best = i }
      i += 1
    }
    best
  }

  /** Block the corpus: driver-local spherical Lloyd over a
    * deterministic hash-sample builds ~n/targetBlockSize coarse
    * centers; one pass tags every point (storing the point's angle to
    * its center — the per-round bounds need nothing else); one
    * shuffle groups blocks contiguously. Returns None on an empty
    * corpus (callers fall back to the unblocked path).
    *
    * `sampleCap` bounds the DRIVER cost of the coarse quantizer at
    * O(sampleCap·nBlocks·d) — 8192 samples place blocks well enough
    * (block quality only shifts constant factors; every kernel is
    * exact regardless), and a larger sample measurably eats the
    * prepare budget (the r9 trainer rehearsal, BENCH_NOTES Round 9).
    *
    * The returned Dataset is localCheckpointed — call sites reuse it
    * across every Lloyd round and let it expire with the session. */
  def prepare(corpus: Dataset[Vec], targetBlockSize: Int = 512,
      sampleCap: Int = 8192): Option[(Dataset[Blocked], Model)] = {
    import corpus.sparkSession.implicits._
    val spark = corpus.sparkSession
    val n = corpus.count()
    if (n == 0) return None
    val p = math.min(1.0, sampleCap.toDouble / n)
    val sample = corpus
      .filter(v => hashUniform(v.vec_id * 0x9e3779b97f4a7c15L + 0xb10cL) < p)
      .collect().sortBy(_.vec_id).map(v => normalize(v.v))
    if (sample.isEmpty) return None
    val nBlocks = math.max(1, math.min(sample.length,
      math.min(65536L, n / math.max(1, targetBlockSize)).toInt))
    // stride seeds over the id-sorted sample, 4 driver Lloyd rounds —
    // the ONE shared coarse-quantizer (CentroidIndex.driverLloyd)
    val centers = CentroidIndex.driverLloyd(sample, nBlocks, rounds = 4)._1
    val bc = spark.sparkContext.broadcast(centers)
    val blocked = corpus.map { r =>
      val cs = bc.value
      val b = nearestCenter(r.v, cs)
      val nrm = if (r.nrm == 0.0) 1.0 else r.nrm
      Blocked(b, math.acos(clip(dot(r.v, cs(b)) / nrm)), r.vec_id, r.v, r.nrm)
    }
      .repartition(org.apache.spark.sql.functions.col("block"))
      .sortWithinPartitions("block")
      .localCheckpoint(true)
    bc.destroy() // the eager checkpoint above already ran the tag pass
    Some((blocked, Model(centers)))
  }

  /** Per-block scan structure: every centroid's exact angle ψ_c to
    * the block center, index-sorted ascending by (ψ, index) — the
    * O(k·d + k log k) cost is paid once per BLOCK and reused by every
    * member point. (An earlier formulation pruned with a single
    * block-radius candidate list; on realistic fixtures the radius is
    * wide enough that the bound barely bites — per-point angles make
    * it point-exact at the same amortized cost.) */
  final class BlockScan private[PointBlocks] (
      private[sim] val psi: Array[Double],    // ascending
      private[sim] val order: Array[Int])     // centroid index per position

  def blockScan(model: Model, block: Int, cents: Array[Centroid]): BlockScan = {
    val b = model.centers(block)
    val k = cents.length
    val psiRaw = new Array[Double](k)
    var i = 0
    while (i < k) {
      psiRaw(i) = math.acos(clip(dot(b, cents(i).v)))
      i += 1
    }
    val order = Array.range(0, k).sortBy(ci => (psiRaw(ci), ci))
    val psi = order.map(psiRaw)
    new BlockScan(psi, order)
  }

  /** Nearest centroid for a point at angle `alpha` from its block
    * center — identical argmax + lowest-index tie-break to
    * [[Kmeans.nearest]]. The geodesic triangle inequality gives
    * ∠(p,c) ≥ |ψ_c − α|, so cos∠(p,c) ≤ cos(|ψ_c − α|). Visit order
    * is best-bound-first: binary-search the ψ-sorted table to the
    * position nearest α and expand outward with two pointers by
    * increasing |ψ − α| — bounds are non-increasing along the visit
    * order, so the FIRST bound below the best score (minus [[Margin]]
    * against pruning) ends the scan: every unvisited centroid has a
    * larger angle gap, hence a smaller bound, hence is strictly worse
    * and can neither win nor tie. Ties among scored centroids break
    * to the lowest index, exactly the linear scan's first-wins
    * order.
    *
    * `warmStart` (optional): a centroid index to score FIRST — the
    * caller passes the previous same-block point's winner, whose
    * score is usually already near-optimal for a clustered block, so
    * bestS starts high and the admissible |ψ − α| band collapses
    * after a handful of probes. Purely a visit-order hint: the
    * argmax/tie-break contract is unchanged (an extra scored
    * centroid can never exclude a better one). */
  private[sim] def nearestScan(r: Vec, alpha: Double, cents: Array[Centroid],
      scan: BlockScan, warmStart: Int = -1): Int =
    nearestScanCounting(r, alpha, cents, scan, warmStart)._1

  private[sim] def nearestScanCounting(r: Vec, alpha: Double,
      cents: Array[Centroid], scan: BlockScan,
      warmStart: Int = -1): (Int, Int) = {
    val nrm = if (r.nrm == 0.0) 1.0 else r.nrm
    val psi = scan.psi; val order = scan.order
    val k = order.length
    // first position with ψ >= α
    var lo = 0; var hi = k
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (psi(mid) < alpha) lo = mid + 1 else hi = mid
    }
    var up = lo          // expands toward larger ψ
    var down = lo - 1    // expands toward smaller ψ
    var best = Int.MaxValue; var bestS = Double.NegativeInfinity
    var scored = 0
    if (warmStart >= 0 && warmStart < k) {
      best = warmStart
      bestS = dot(r.v, cents(warmStart).v) / nrm
      scored = 1
    }
    var done = false
    while (!done && (up < k || down >= 0)) {
      // pick the side with the smaller angle gap (best bound first)
      val useUp = down < 0 || (up < k && psi(up) - alpha <= alpha - psi(down))
      val m = if (useUp) up else down
      val diff = math.abs(psi(m) - alpha)
      if (math.cos(diff) < bestS - Margin) {
        done = true // every unvisited gap is larger still
      } else {
        val ci = order(m)
        val s = dot(r.v, cents(ci).v) / nrm
        if (s > bestS || (s == bestS && ci < best)) { bestS = s; best = ci }
        scored += 1
        if (useUp) up += 1 else down -= 1
      }
    }
    (best, scored)
  }

  /** Above this many centroids the ψ-sorted per-block scan loses to
    * the multi-directional [[CentroidIndex]] coarse bound (the 1-D
    * angle gap saturates as centroid angles concentrate in high
    * dimension — BENCH_NOTES Round 9: scan 1.8× faster at k = 4096, 0.7× at
    * k = 16384), so [[assignSum]] switches kernels there. Both are
    * EXACT, so the switch changes work, never results. */
  private[sim] val ScanBelow = 8192

  /** One blocked Lloyd assignment-and-sum pass, one job over the
    * blocked corpus's rows: per partition, the per-block pruning
    * structure refreshes only on block change (blocks are contiguous
    * after [[prepare]]'s sort) and each point warm-starts from the
    * previous same-block winner. Kernel by k: the ψ-sorted
    * [[BlockScan]] below [[ScanBelow]] centroids, the [[CentroidIndex]]
    * coarse bound above (see [[ScanBelow]]) — both exact. Each cell's
    * (Σv, n) partials merge in partition-id order
    * ([[graft.core.Rounds.foldInOrder]]) — bit-reproducible for a fixed
    * partitioning, the same discipline as the k-means‖ φ and polish
    * merges. Returns the non-empty cells in ascending order. */
  def assignSum(blocked: Dataset[Blocked], model: Model,
      cents: Array[Centroid]): Array[(Int, Array[Double], Long)] = {
    val idx = if (cents.length < ScanBelow) null else CentroidIndex.build(cents)
    val bc = blocked.sparkSession.sparkContext.broadcast((model, cents, idx))
    val merged = Rounds.foldInOrder(blocked.rdd.mapPartitions { it =>
      val (m, cs, ix) = bc.value
      var cur = -1
      var scan: BlockScan = null
      var lastWin = -1 // same-block warm start (visit-order hint only)
      val sums = scala.collection.mutable.Map.empty[Int, (Array[Double], Long)]
      it.foreach { b =>
        if (b.block != cur) {
          cur = b.block
          if (ix == null) scan = blockScan(m, cur, cs)
          lastWin = -1
        }
        val ci =
          if (ix == null)
            nearestScan(Vec(b.vec_id, b.v, b.nrm), b.angle, cs, scan, lastWin)
          else ix.nearest(Vec(b.vec_id, b.v, b.nrm), lastWin)
        lastWin = ci
        val (sv, sn) = sums.getOrElseUpdate(ci,
          (new Array[Double](b.v.length), 0L))
        var j = 0
        while (j < b.v.length) { sv(j) += b.v(j); j += 1 }
        sums(ci) = (sv, sn + 1L)
      }
      Iterator.single(sums)
    })(Kmeans.mergeCells[Long](_ + _)).getOrElse(scala.collection.mutable.Map.empty)
    bc.destroy() // per-round broadcast, same discipline as the narrow path
    merged.toArray.sortBy(_._1).map { case (ci, (sv, sn)) => (ci, sv, sn) }
  }
}
