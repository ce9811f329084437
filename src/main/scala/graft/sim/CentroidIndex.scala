package graft.sim

import graft.sim.Kmeans.Centroid
import graft.sim.Similarity.Vec

/** EXACT nearest-centroid search with triangle-inequality pruning —
  * the large-k assignment accelerator for the k-means trainers.
  *
  * The trainers' assignment passes ([[Kmeans.train]]'s Lloyd rounds,
  * the distributed seed polish, and the cell assignment of the
  * semantic-dedup and cluster-size surfaces) are O(n·k·d) per round with a linear centroid scan; at the
  * k ≳ 10⁴ centroids a 100 TB IVF needs, the scan — not the shuffle —
  * dominates every round (r8 VERDICT carry-forward). This index
  * coarse-quantizes the CENTROIDS (G ≈ √k coarse cells, driver-local
  * Lloyd) and prunes with the spherical triangle inequality: for a
  * query at angle φ_g from coarse center g whose members all lie
  * within angle θ_g of g, no member of g can beat
  * cos(max(0, φ_g − θ_g)). Cells are visited best-bound-first and cut
  * off once the bound (with a 1e-9 safety margin AGAINST pruning)
  * falls below the best cosine found — so the result is the same
  * argmax, same first-index tie-break, as the linear scan; only the
  * work changes. Below [[CentroidIndex.LinearBelow]] centroids the
  * index IS the linear scan (zero overhead at gate sizes, k = 16).
  *
  * Cost: build O(k·√k·d) driver-local (sub-second at k = 10⁴,
  * d = 128); query O(√k·d + visited·d), with visited ≪ k once the
  * centroids have any cluster structure (CentroidIndexSpec measures
  * the pruning on clustered fixtures and pins exactness on uniform
  * ones).
  */
final class CentroidIndex private (
    val cents: Array[Centroid],
    coarse: Array[Array[Double]],   // G unit coarse centers
    members: Array[Array[Int]],     // centroid indices per coarse cell
    radii: Array[Double],           // max member angle per cell
    maxRadius: Double,
    linear: Boolean) extends Serializable {

  import CentroidIndex.{Margin, clipCos}

  /** Index of the nearest centroid by cosine (dot / ‖r‖ against
    * unit centroids), lowest index on ties — exactly
    * [[Kmeans.nearest]]'s contract.
    *
    * `warmStart` (optional, ignored on the linear path): a centroid
    * index to score FIRST — callers iterating clustered runs of
    * points (the blocked trainer pass) hand in the previous point's
    * winner, so bestS starts near-optimal and whole coarse cells are
    * cut before their members are touched. Purely a visit-order
    * hint: an extra scored centroid can never exclude a better one,
    * so the argmax/tie-break contract is unchanged. */
  def nearest(r: Vec, warmStart: Int = -1): Int = nearestCounting(r, warmStart)._1

  /** (nearest index, centroids actually scored) — the counter is the
    * spec's observable for pruning effectiveness. */
  private[sim] def nearestCounting(r: Vec, warmStart: Int = -1): (Int, Int) = {
    val rv = r.v
    val nrm = if (r.nrm == 0.0) 1.0 else r.nrm
    if (linear) {
      // verbatim linear-scan semantics (strict >: first best wins)
      var best = 0; var bestS = Double.NegativeInfinity
      var i = 0
      while (i < cents.length) {
        var dot = 0.0; var j = 0
        val cv = cents(i).v
        while (j < rv.length) { dot += rv(j) * cv(j); j += 1 }
        val s = dot / nrm
        if (s > bestS) { bestS = s; best = i }
        i += 1
      }
      return (best, cents.length)
    }
    val g = coarse.length
    val cosG = new Array[Double](g)
    var gi = 0
    while (gi < g) {
      var dot = 0.0; var j = 0
      val gv = coarse(gi)
      while (j < rv.length) { dot += rv(j) * gv(j); j += 1 }
      cosG(gi) = dot / nrm
      gi += 1
    }
    val order = (0 until g).sortBy(i => -cosG(i))
    var best = Int.MaxValue; var bestS = Double.NegativeInfinity
    var scanned = 0
    if (warmStart >= 0 && warmStart < cents.length) {
      var dot = 0.0; var j = 0
      val wv = cents(warmStart).v
      while (j < rv.length) { dot += rv(j) * wv(j); j += 1 }
      bestS = dot / nrm; best = warmStart
      scanned = 1
    }
    val it = order.iterator
    var done = false
    while (it.hasNext && !done) {
      val cell = it.next()
      val phi = math.acos(clipCos(cosG(cell)))
      // cells are sorted by descending cos φ (ascending φ): once even
      // the loosest possible bound (maxRadius) cannot beat bestS, no
      // later cell can either
      if (math.cos(math.max(0.0, phi - maxRadius)) < bestS - Margin) {
        done = true
      } else if (math.cos(math.max(0.0, phi - radii(cell))) >= bestS - Margin) {
        val ms = members(cell)
        var m = 0
        while (m < ms.length) {
          val ci = ms(m)
          var dot = 0.0; var j = 0
          val cv = cents(ci).v
          while (j < rv.length) { dot += rv(j) * cv(j); j += 1 }
          val s = dot / nrm
          // same argmax + lowest-index tie-break as the linear scan
          // (which sees indices in order, so first-wins = min index)
          if (s > bestS || (s == bestS && ci < best)) { bestS = s; best = ci }
          m += 1
        }
        scanned += ms.length
      }
    }
    (best, scanned)
  }
}

object CentroidIndex {

  /** Below this many centroids the linear scan already wins — the
    * index degenerates to it verbatim, so gate-sized trainers
    * (k = 16) pay nothing and change nothing. */
  val LinearBelow = 256

  /** Safety margin applied AGAINST pruning: bounds are computed with
    * acos/cos round-off (~1e-15); 1e-9 of slack means a cell is only
    * skipped when it provably cannot contain the argmax. */
  private[sim] val Margin = 1e-9

  private[sim] def clipCos(x: Double): Double =
    if (x > 1.0) 1.0 else if (x < -1.0) -1.0 else x

  /** THE driver-local spherical Lloyd coarse quantizer — shared by
    * [[build]] (quantizing CENTROIDS into coarse cells),
    * [[PointBlocks.prepare]] (quantizing a corpus sample into
    * blocks), and the benches: stride seeds over `points`
    * (deterministic spread), `rounds` iterations of (assign all,
    * update centers), empty cells keeping their previous center.
    * Returns the centers after the final update and the assignment
    * computed against the centers BEFORE it — exactly the pairing
    * [[build]]'s member lists use. One definition, because three
    * hand-kept copies of the same 35-line loop would drift. */
  private[sim] def driverLloyd(points: Array[Array[Double]], g: Int,
      rounds: Int): (Array[Array[Double]], Array[Int]) = {
    val k = points.length
    var coarse: Array[Array[Double]] =
      Array.tabulate(g)(i => points(((i.toLong * k) / g).toInt % k).clone())
    var round = 0
    val assign = new Array[Int](k)
    while (round < rounds) {
      var i = 0
      while (i < k) {
        var bestG = 0; var bestS = Double.NegativeInfinity
        var gi = 0
        while (gi < g) {
          var dot = 0.0; var j = 0
          val cv = points(i); val gv = coarse(gi)
          while (j < cv.length) { dot += cv(j) * gv(j); j += 1 }
          if (dot > bestS) { bestS = dot; bestG = gi }
          gi += 1
        }
        assign(i) = bestG
        i += 1
      }
      val sums = Array.fill(g)(new Array[Double](points(0).length))
      val ns = new Array[Int](g)
      i = 0
      while (i < k) {
        val s = sums(assign(i)); val cv = points(i)
        var j = 0
        while (j < cv.length) { s(j) += cv(j); j += 1 }
        ns(assign(i)) += 1
        i += 1
      }
      coarse = Array.tabulate(g) { gi =>
        if (ns(gi) == 0) coarse(gi)
        else {
          val s = sums(gi)
          var sq = 0.0; var j = 0
          while (j < s.length) { sq += s(j) * s(j); j += 1 }
          val n = math.sqrt(sq)
          if (n == 0.0) coarse(gi) else s.map(_ / n)
        }
      }
      round += 1
    }
    (coarse, assign)
  }

  /** Build over `cents` (unit-norm, as the trainers maintain).
    * G = ⌈√k⌉ coarse cells, seeded by stride (deterministic spread),
    * 4 driver-local spherical Lloyd rounds, then member lists and
    * angular radii. */
  def build(cents: Array[Centroid]): CentroidIndex = {
    val k = cents.length
    if (k < LinearBelow)
      return new CentroidIndex(cents, Array.empty, Array.empty,
        Array.empty, 0.0, linear = true)
    val g = math.ceil(math.sqrt(k.toDouble)).toInt
    val (coarse, assign) = driverLloyd(cents.map(_.v), g, rounds = 4)
    val memberBufs = Array.fill(g)(scala.collection.mutable.ArrayBuffer.empty[Int])
    var i = 0
    while (i < k) { memberBufs(assign(i)) += i; i += 1 }
    val radii = new Array[Double](g)
    var gi = 0
    while (gi < g) {
      var maxAngle = 0.0
      memberBufs(gi).foreach { ci =>
        var dot = 0.0; var j = 0
        val cv = cents(ci).v; val gv = coarse(gi)
        while (j < cv.length) { dot += cv(j) * gv(j); j += 1 }
        val a = math.acos(clipCos(dot))
        if (a > maxAngle) maxAngle = a
      }
      radii(gi) = maxAngle
      gi += 1
    }
    new CentroidIndex(cents, coarse, memberBufs.map(_.toArray), radii,
      if (radii.isEmpty) 0.0 else radii.max, linear = false)
  }
}
