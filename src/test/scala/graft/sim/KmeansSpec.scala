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
    // order, so repeating the call cannot reorder a float sum; the
    // first-k trainers run the same Lloyd rounds
    val corpus = Similarity.loadVectors(spark, sf())
    val trainers: Seq[(String, () => Array[Kmeans.Centroid])] = Seq(
      "trainParallel" -> (() => Kmeans.trainParallel(corpus, 16, 2, rounds = 2)),
      "train" -> (() => Kmeans.train(corpus, 16, 2)),
      "trainOrdered" -> (() => Kmeans.trainOrdered(corpus, 16, 2)))
    for ((name, run) <- trainers) {
      val (a, b) = (run(), run())
      assert(a.map(_.cell).toSeq === b.map(_.cell).toSeq, name)
      a.zip(b).foreach { case (x, y) =>
        assert(bits(x) === bits(y),
          s"$name: centroid ${x.cell} differs between two identical calls")
      }
    }
  }

  private def bits(c: Kmeans.Centroid): Seq[Long] =
    c.v.map(java.lang.Double.doubleToRawLongBits).toSeq

  /** The oversampled seeds and their served-point weights by the
    * two-rescan formulation: every round rescans the corpus against
    * the whole seed set for φ and again for the picks, and the weights
    * come from a nearest-centroid sweep. Kept here as the reference
    * the carried-state rounds must reproduce bit for bit. */
  private def rescanSeeds(corpus: org.apache.spark.sql.Dataset[Similarity.Vec],
      k: Int, rounds: Int, oversample: Double): (Array[Array[Double]], Array[Long]) = {
    val rows = corpus.rdd
    val sc = rows.sparkContext
    def normalize(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n == 0.0) v else v.map(_ / n)
    }
    def seedCost(r: Similarity.Vec, ss: Array[Array[Double]]): Double = {
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
    val first = graft.core.Rounds.foldInOrder(rows)((a, b) => if (b.vec_id < a.vec_id) b else a).get
    var seeds = Array(normalize(first.v))
    for (r <- 1 to rounds) {
      val ss = seeds
      val phi = graft.core.Rounds.foldInOrder(rows.mapPartitions { it =>
        Iterator.single(it.foldLeft(0.0)((a, x) => a + seedCost(x, ss)))
      })(_ + _).getOrElse(0.0)
      if (phi > 0) {
        val threshold = oversample * k / phi
        val picked = rows.filter(x => graft.core.Mix.unitDouble(x.vec_id * 1000003L + r) <
            threshold * seedCost(x, ss)).collect().sortBy(_.vec_id)
        seeds = seeds ++ picked.map(v => normalize(v.v))
      }
    }
    val idx = sc.broadcast(CentroidIndex.build(
      seeds.zipWithIndex.map { case (v, i) => Kmeans.Centroid(i, v) }))
    val n = seeds.length
    val counts = rows.map(x => idx.value.nearest(x)).countByValue()
    idx.destroy()
    (seeds, Array.tabulate(n)(i => counts.getOrElse(i, 0L)))
  }

  test("seedParallel: carried-state rounds equal the two-rescan formulation") {
    // the seeds and weights are what the reduction reads, so equal
    // seeds and weights plus the deterministic reduction give equal
    // centroids; compare the centroids too, at a gate k and at a k
    // past where the distributed reduction takes over
    import spark.implicits._
    val gate = Similarity.loadVectors(spark, sf())
    val dim = 16
    val large = (0 until 4096).map { id =>
      val v = Array.tabulate(dim)(d =>
        (((id.toLong * 2654435761L + d * 40503L) % 1000003L).toDouble / 1000003.0) - 0.5)
      val nrm = math.sqrt(v.map(x => x * x).sum)
      Similarity.Vec(id.toLong, v.map(_ / nrm), 1.0)
    }.toDS()
    for ((corpus, k) <- Seq((gate, 8), (large, 2048))) {
      val (seeds, weights) = rescanSeeds(corpus, k, rounds = 2, oversample = 2.0)
      val carried = Kmeans.seedParallel(corpus, k, rounds = 2, oversample = 2.0)
      info(s"k=$k: ${seeds.length} oversampled seeds, " +
        s"${weights.count(_ > 0)} serve points")
      // the rescan weights, fed to the same reduction, give the
      // carried path's centroids only if its weights were equal
      val viaRescan = Kmeans.reduceSeeds(spark.sparkContext, seeds,
        weights.map(_.toDouble.max(1e-9)), k, Kmeans.ReduceDistributedAbove)
      assert(carried.length === k)
      carried.zip(viaRescan).foreach { case (a, b) =>
        assert(bits(a) === bits(b),
          s"k=$k: centroid ${a.cell} differs between the formulations")
      }
    }
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
