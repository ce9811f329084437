package graft.sim

import graft.SparkSpec

class KmeansSpec extends SparkSpec {

  private def recallVsExact(df: org.apache.spark.sql.DataFrame): Double = {
    val exact = Similarity.topKExact(spark, sf(), k = 5, numQueries = 10).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val got = df.collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val rs = exact.map { case (q, ex) =>
      got.get(q).map(g => (ex intersect g).size.toDouble / ex.size).getOrElse(0.0)
    }
    rs.sum / rs.size
  }

  test("Lloyd rounds never decrease the spherical objective") {
    val corpus = Similarity.loadVectors(spark, sf())
    val c0 = Kmeans.train(corpus, k = 8, iters = 0)
    val c1 = Kmeans.train(corpus, k = 8, iters = 1)
    val c3 = Kmeans.train(corpus, k = 8, iters = 3)
    val (m0, m1, m3) = (Kmeans.cohesionMicro(corpus, c0),
      Kmeans.cohesionMicro(corpus, c1), Kmeans.cohesionMicro(corpus, c3))
    info(s"cohesion micro: seed=$m0 1-iter=$m1 3-iter=$m3")
    // tolerance: cross-partition float summation reorders ulps
    assert(m1 >= m0 - 5L)
    assert(m3 >= m1 - 5L)
  }

  test("trained codebook: IVF recall at least matches the naive seed") {
    val naive = recallVsExact(
      Similarity.topKIvf(spark, sf(), k = 5, numQueries = 10))
    val trained = recallVsExact(
      Kmeans.topKIvfTrained(spark, sf(), k = 5, numQueries = 10))
    info(s"IVF recall@5: naive=$naive trained=$trained")
    assert(trained >= naive - 0.1, s"training degraded recall: $trained < $naive")
    assert(trained >= 0.4)
  }

  test("k-means|| seeding recovers clusters first-k seeding collapses on") {
    import spark.implicits._
    // adversarial id layout: the first 16 vec_ids all live in ONE tight
    // cluster, so first-k seeding plants every seed there; the other
    // 480 vectors form 16 well-separated clusters (orthogonal base
    // directions with small deterministic jitter)
    val dim = 64
    def member(cluster: Int, id: Long): Similarity.Vec = {
      val v = new Array[Double](dim)
      v(cluster * 4) = 1.0
      for (d <- 0 until dim)
        v(d) += 0.02 * (((id * 7 + d * 13) % 11).toDouble - 5.0) / 5.0
      val n = math.sqrt(v.map(x => x * x).sum)
      Similarity.Vec(id, v.map(_ / n), 1.0)
    }
    val rows = (0 until 16).map(i => member(0, i.toLong)) ++
      (0 until 480).map(i => member(i % 16, 16L + i))
    val corpus = rows.toDS()

    val firstK = Kmeans.train(corpus, k = 16, iters = 3)
    val parallel = Kmeans.trainParallel(corpus, k = 16, iters = 3)
    val mFirst = Kmeans.cohesionMicro(corpus, firstK)
    val mPar = Kmeans.cohesionMicro(corpus, parallel)
    // coverage: how many of the 16 true base directions have a
    // dedicated nearest centroid
    def covered(cents: Array[Kmeans.Centroid]): Int =
      (0 until 16).map { c =>
        val base = new Array[Double](dim); base(c * 4) = 1.0
        Kmeans.nearest(Similarity.Vec(-1, base, 1.0), cents)
      }.distinct.size
    val (covFirst, covPar) = (covered(firstK), covered(parallel))
    info(s"cohesion micro: first-k=$mFirst parallel=$mPar; " +
      s"base directions covered: first-k=$covFirst parallel=$covPar")
    assert(mPar > mFirst,
      "k-means|| seeding must beat first-k seeding on the adversarial layout")
    assert(covPar > covFirst,
      "k-means|| must give more true clusters their own centroid")
    assert(covPar >= 12, s"parallel seeding covered only $covPar/16 clusters")
  }

  test("trainParallel is bit-reproducible: two calls, one corpus, equal centroids") {
    // every round folds its per-partition partials in partition-id
    // order, so repeating the call cannot reorder a float sum
    val corpus = Similarity.loadVectors(spark, sf())
    val a = Kmeans.trainParallel(corpus, 16, 2, rounds = 2)
    val b = Kmeans.trainParallel(corpus, 16, 2, rounds = 2)
    assert(a.map(_.cell).toSeq === b.map(_.cell).toSeq)
    a.zip(b).foreach { case (x, y) =>
      assert(x.v.map(java.lang.Double.doubleToRawLongBits).toSeq ===
        y.v.map(java.lang.Double.doubleToRawLongBits).toSeq,
        s"centroid ${x.cell} differs between two identical calls")
    }
  }

  test("seedParallel: rescan and incremental formulations are bit-identical") {
    // the r11 adjudication switch: gate-sized k takes the stateless
    // two-rescan rounds (per-round checkpoint overhead dominated the
    // gate clock), large k the carried-state machinery — same math,
    // so forcing each path on one corpus must yield the same codebook
    val corpus = Similarity.loadVectors(spark, sf())
    val rescan = Kmeans.seedParallel(corpus, 8,
      incrementalAbove = Int.MaxValue)
    assert(!Kmeans.lastSeedIncremental, "k=8 must have taken the rescan path")
    val incremental = Kmeans.seedParallel(corpus, 8, incrementalAbove = 0)
    assert(Kmeans.lastSeedIncremental)
    assert(rescan.length === incremental.length)
    rescan.zip(incremental).foreach { case (a, b) =>
      assert(a.cell === b.cell)
      assert(a.v.toSeq === b.v.toSeq, s"centroid ${a.cell} differs between paths")
    }
    // and the default dispatch: gate k stays rescan, scale k incremental
    Kmeans.seedParallel(corpus, 8)
    assert(!Kmeans.lastSeedIncremental)
  }

  test("large-k seeding takes the distributed reduction and stays deterministic") {
    // the r8 VERDICT scale finding: at the k >= 10^4 a 100 TB IVF
    // needs, a quadratic driver-side seed reduction is hours of
    // single-threaded work. Pin the fix at k = 4096: the reduction
    // must (a) run the distributed path, (b) produce k unit-norm
    // centroids with real spread, (c) be bit-reproducible across two
    // identical calls (the fixed-order partial merges), and (d) the
    // small-k gate path must still take the quality reduction.
    import spark.implicits._
    val dim = 16
    val n = 8192
    def mk(id: Int): Similarity.Vec = {
      val v = Array.tabulate(dim) { d =>
        (((id.toLong * 2654435761L + d * 40503L) % 1000003L).toDouble
          / 1000003.0) - 0.5
      }
      val nrm = math.sqrt(v.map(x => x * x).sum)
      Similarity.Vec(id.toLong, v.map(_ / nrm), 1.0)
    }
    val corpus = (0 until n).map(mk).toDS().cache()
    val k = 4096
    val t0 = System.nanoTime()
    val a = Kmeans.seedParallel(corpus, k, rounds = 2, oversample = 2.0)
    val secs = (System.nanoTime() - t0) / 1e9
    info(f"k=$k seeding took $secs%.1f s over $n vectors")
    assert(Kmeans.lastReductionDistributed,
      s"${a.length} seeds for k=$k must exceed the distributed threshold")
    assert(a.length === k)
    a.foreach { c =>
      val nrm = math.sqrt(c.v.map(x => x * x).sum)
      assert(math.abs(nrm - 1.0) < 1e-9, s"cell ${c.cell} not unit-norm")
    }
    // spread: the k centroids must be substantially distinct, not a
    // collapsed handful padded out (pad only fires when seeds < k)
    val distinct = a.map(_.v.toSeq).distinct.size
    assert(distinct >= k / 2, s"only $distinct/$k distinct centroids")
    val b = Kmeans.seedParallel(corpus, k, rounds = 2, oversample = 2.0)
    assert(a.map(_.v.toSeq).toSeq === b.map(_.v.toSeq).toSeq,
      "distributed reduction must be bit-reproducible")
    // gate-sized k still takes the quality (driver) reduction
    Kmeans.seedParallel(corpus.filter(_.vec_id < 500), 16, rounds = 3)
    assert(!Kmeans.lastReductionDistributed,
      "small seed sets must keep the farthest-first quality path")
    corpus.unpersist()
  }

  test("distributed reduction matches driver-path quality on the recovery layout") {
    // same adversarial fixture as the recovery test, but the reduction
    // forced down the distributed path (threshold 0): cluster coverage
    // must stay comparable — the scale path is not a quality cliff.
    import spark.implicits._
    val dim = 64
    def member(cluster: Int, id: Long): Similarity.Vec = {
      val v = new Array[Double](dim)
      v(cluster * 4) = 1.0
      for (d <- 0 until dim)
        v(d) += 0.02 * (((id * 7 + d * 13) % 11).toDouble - 5.0) / 5.0
      val nrm = math.sqrt(v.map(x => x * x).sum)
      Similarity.Vec(id, v.map(_ / nrm), 1.0)
    }
    val rows = (0 until 16).map(i => member(0, i.toLong)) ++
      (0 until 480).map(i => member(i % 16, 16L + i))
    val corpus = rows.toDS()
    val seeds = Kmeans.seedParallel(corpus, 16, rounds = 3,
      oversample = 2.0, reduceDistributedAbove = 0)
    assert(Kmeans.lastReductionDistributed)
    val cents = Kmeans.cohesionMicro(corpus,
      seeds) // seeding-only quality, no Lloyd polish on the corpus
    def covered(cs: Array[Kmeans.Centroid]): Int =
      (0 until 16).map { c =>
        val base = new Array[Double](dim); base(c * 4) = 1.0
        Kmeans.nearest(Similarity.Vec(-1, base, 1.0), cs)
      }.distinct.size
    val cov = covered(seeds)
    info(s"distributed-reduction: coverage=$cov/16 cohesion=$cents")
    assert(cov >= 12, s"distributed reduction covered only $cov/16 clusters")
  }

  test("cell sizes partition the corpus") {
    val sizes = Kmeans.cellSizes(spark, sf()).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val n = Similarity.loadVectors(spark, sf()).count()
    assert(sizes.values.sum === n)
    assert(sizes.keys.forall(c => c >= 0 && c < 16))
  }
}
