package graft.sim

import graft.SparkSpec
import graft.sim.Similarity.Vec

class OpqSpec extends SparkSpec {

  test("balanced allocation: permutation, equal slots, near-equal variance") {
    // strongly anisotropic spectrum: geometric decay
    val eig = Array.tabulate(64)(i => math.pow(0.8, i))
    val perm = Opq.balancedAllocation(eig, m = 8)
    assert(perm.sorted.toSeq === (0 until 64))
    val sums = perm.grouped(8).map(_.map(eig).sum).toArray
    assert(sums.length === 8)
    // balanced: max/min subspace variance ~2× — the inherent floor
    // here, since the top component alone (1.0) exceeds the ideal
    // equal share (Σ0.8^i / 8 ≈ 0.58); the NAIVE in-order grouping on
    // the same spectrum is > 50× apart
    assert(sums.max / sums.min < 2.5, sums.mkString(","))
    val naive = eig.grouped(8).map(_.sum).toArray
    assert(naive.max / naive.min > 50.0)
  }

  test("rotation is a pure isometry: norms and pairwise cosines preserved") {
    val corpus = Similarity.loadVectors(spark, sf())
    import spark.implicits._
    val normalized = corpus.map(v => Vec(v.vec_id, Pq.l2normalize(v.v), 1.0))
    val model = Pca.fit(normalized)
    val perm = Opq.balancedAllocation(model.eigvals, 8)
    val raw = normalized.filter(_.vec_id < 20).collect().sortBy(_.vec_id)
    val rot = raw.map(v => Vec(v.vec_id, Opq.rotateOne(model, perm, v.v), 1.0))
    def dot(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => x * y }.sum
    for (i <- raw.indices; j <- i until raw.length) {
      val before = dot(raw(i).v, raw(j).v)
      val after = dot(rot(i).v, rot(j).v)
      assert(math.abs(before - after) < 1e-9,
        s"dot not preserved for (${raw(i).vec_id}, ${raw(j).vec_id})")
    }
  }

  test("planted anisotropic corpus: balanced rotation beats plain PQ recall") {
    import spark.implicits._
    // rank-16 signal in 64 dims with geometrically-decaying energy:
    // after PCA the energy sits in 16 ordered components; balanced
    // allocation spreads them two per subspace, so each small codebook
    // quantizes a low-dim manifold — while plain PQ's arbitrary slices
    // each see a mix of ALL signal directions dominated by the
    // strongest ones, and the weak directions (which still decide
    // near-neighbor order) drown.
    val d = 64; val r = 16; val n = 400
    def rng(seed: Long): () => Double = {
      var s = seed
      () => {
        s = s * 6364136223846793005L + 1442695040888963407L
        ((s >>> 11).toDouble / (1L << 53).toDouble - 0.5) * 2.0
      }
    }
    val gw = rng(7)
    val w = Array.fill(r, d)(gw())
    val gz = rng(99)
    val vecs = (0 until n).map { id =>
      // geometric energy decay across signal directions: the
      // anisotropy that plain PQ's arbitrary slices handle worst
      val z = Array.tabulate(r)(c => gz() * 3.0 * math.pow(0.7, c))
      val x = new Array[Double](d)
      for (c <- 0 until r; i <- 0 until d) x(i) += z(c) * w(c)(i)
      for (i <- 0 until d) x(i) += gz() * 0.01
      val nv = Pq.l2normalize(x)
      Vec(id.toLong, nv, 1.0)
    }
    val ds = spark.createDataset(vecs).repartition(4)
    val queries = vecs.take(10).toArray
    def sets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.collect().groupBy(_.getLong(0))
        .view.mapValues(_.map(_.getLong(1)).toSet).toMap
    // ground truth: exact cosine top-5 (= L2 on normalized vectors)
    val exact = sets(PcaSpecAccess.topKEuclid(ds, queries, 5))
    def recallOf(got: Map[Long, Set[Long]]): Double =
      exact.keys.toSeq.map(q => (got(q) & exact(q)).size).sum / (exact.size * 5.0)
    // small codebooks + small rerank budget so CANDIDATE quality is
    // what's measured. Under the global (adc, id) candidate cut the
    // budget is EXACTLY rerank=6 nominations for a top-5 (the old
    // per-partition-union semantics amplified it by the partition
    // count, which is why the absolute floor below was once 0.95;
    // measured now: plain 0.24 vs rotated 0.88)
    val plain = recallOf(sets(Pq.topKPqCore(spark, ds.rdd, queries, k = 5, m = 8,
      ksub = 8, rerank = 6)))
    val model = Pca.fit(ds)
    val perm = Opq.balancedAllocation(model.eigvals, 8)
    val rot = Opq.rotate(ds.rdd, model, perm)
    val rotQ = queries.map(q => Vec(q.vec_id, Opq.rotateOne(model, perm, q.v), 1.0))
    val opq = recallOf(sets(Pq.topKPqCore(spark, rot, rotQ, k = 5, m = 8,
      ksub = 8, rerank = 6)))
    info(s"recall@5: plain PQ = $plain, OPQ-rotated = $opq")
    assert(opq >= plain, s"rotation should not hurt: $opq < $plain")
    assert(opq - plain >= 0.15,
      s"balanced rotation should clearly beat plain PQ here: $plain -> $opq")
    assert(opq >= 0.85, s"OPQ recall too low: $opq")
  }

  test("gate query: well-formed output on the gate corpus") {
    val out = Opq.topKPqOpq(spark, sf()).collect()
    assert(out.length === 50)
    val byQuery = out.groupBy(_.getLong(0))
    assert(byQuery.keySet === (0L until 10L).toSet)
    byQuery.values.foreach(g =>
      assert(g.map(_.getLong(2)).sorted.toSeq === (1L to 5L)))
  }
}
