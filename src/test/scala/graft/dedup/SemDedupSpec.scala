package graft.dedup

import graft.SparkSpec
import graft.gates.DedupGates

class SemDedupSpec extends SparkSpec {

  // planted fixture: 3 well-separated directions; directions 0 and 1
  // each carry a near-duplicate clique (cos ≈ 1), direction 2 is all
  // distinct singletons (cos between members << τ won't hold — they
  // share the anchor, so keep them far apart via distinct anchors)
  private def writeFixture(dir: String): Unit = {
    import spark.implicits._
    val d = 16
    def vec(axis: Int, jitterSeed: Int, jitter: Double): Array[Float] = {
      val v = new Array[Double](d)
      v(axis) = 1.0
      for (j <- 0 until d)
        v(j) += jitter * (((jitterSeed * 31 + j * 7) % 13) - 6) / 6.0
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    // ids 0..3 sit on four distinct axes so first-k seeding (k = 4)
    // starts with spread centroids — each clique then converges into
    // ONE cell instead of being split across near-identical seeds
    val rows = Seq(
      (0L, vec(0, 1, 0.02), 0),   // clique A anchor (axis 0)
      (1L, vec(4, 2, 0.02), 1),   // clique B anchor (axis 4)
      (2L, vec(8, 3, 0.01), 2),   // singleton (axis 8)
      (3L, vec(12, 4, 0.01), 2),  // singleton (axis 12)
      (4L, vec(2, 5, 0.01), 2),   // singleton (axis 2)
      (5L, vec(0, 6, 0.02), 0),   // clique A
      (6L, vec(0, 7, 0.02), 0),   // clique A
      (7L, vec(4, 8, 0.02), 1),   // clique B
      (8L, vec(6, 9, 0.01), 2),   // singleton (axis 6)
      (9L, vec(10, 10, 0.01), 2)) // singleton (axis 10)
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }

  test("planted cliques keep exactly their lowest-centroid-sim member") {
    val dir = "/tmp/graft_semdedup_fixture"
    writeFixture(dir)
    val out = SemDedup.semantic(spark, dir, tau = 0.9, k = 4, iters = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(out.size === 10)
    // every clique keeps at least one; cliques of near-identical
    // vectors keep EXACTLY one (pairwise cos ≈ 1 ≥ 0.9)
    val cliqueA = Seq(0L, 5L, 6L)
    val cliqueB = Seq(1L, 7L)
    val singles = Seq(2L, 3L, 4L, 8L, 9L)
    val keptA = cliqueA.filter(out(_)._3)
    val keptB = cliqueB.filter(out(_)._3)
    assert(keptA.size === 1, s"clique A kept $keptA")
    assert(keptB.size === 1, s"clique B kept $keptB")
    // singletons on their own axes never cross τ=0.9 with anything
    singles.foreach(i => assert(out(i)._3, s"singleton $i dropped"))
    // the kept member is the min-(cent_sim, id) of its clique among
    // same-cell members (the keep-priority rule)
    for ((clique, kept) <- Seq((cliqueA, keptA.head), (cliqueB, keptB.head))) {
      val cells = clique.map(out(_)._1).distinct
      if (cells.size == 1) {
        val pri = clique.map(id => (out(id)._2, id)).min
        assert(pri._2 === kept,
          s"clique $clique kept $kept but priority order says ${pri._2}")
      }
    }
  }

  test("capped variant bounds the comparison set and matches its own rule") {
    import spark.implicits._
    // one cell (k=1), four members on a 2-D angular chain: D(170°),
    // A(0°), B(25°), C(50°). The spherical mean lands near 41°, so
    // the keep-priority order (cent_sim ascending) is D, A, B, C.
    // One-shot rule: B dropped (25° from A), C dropped (25° from B).
    // cap=2 rule: C is compared only against D and A (both > 50°
    // away) → C KEPT. The cap visibly bites, and the operator must
    // match the capped rule re-derived from its own dumped centroids.
    val d = 16
    def at(deg: Double): Array[Float] = {
      val v = new Array[Double](d)
      v(0) = math.cos(math.toRadians(deg)); v(1) = math.sin(math.toRadians(deg))
      v.map(_.toFloat)
    }
    val dir = "/tmp/graft_semdedup_cap_fixture"
    Seq((0L, at(0), 0), (1L, at(25), 0), (2L, at(50), 0), (3L, at(170), 0))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val capped = SemDedup.semanticCapped(spark, dir, tau = 0.9, k = 1,
        iters = 3, cap = 2)
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(capped(3L) && capped(0L), "far members D and A are keepers")
    assert(!capped(1L), "B is within τ of the higher-priority A")
    assert(capped(2L),
      "cap=2 must spare C: its only τ-neighbor B is outside the top-2 priorities")
    // and the uncapped rule on the same fixture does drop C
    val uncapped = SemDedup.semantic(spark, dir, tau = 0.9, k = 1, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(!uncapped(2L), "one-shot rule drops C via the chain through B")
  }

  test("capped run on the corpus matches a driver re-derivation of the capped rule") {
    import spark.implicits._
    val cap = 2
    val out = SemDedup.semanticCapped(spark, sf(), tau = 0.45, cap = cap,
        centsDump = DedupGates.SemdedupCapCents.sink(sf()))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getBoolean(3)))
      .sortBy(_._1)
    val cents = spark.read
      .parquet(DedupGates.SemdedupCapCents.glob(sf()))
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1).map(_._2)
    val vecs = graft.sim.Similarity.loadVectors(spark, sf()).collect().sortBy(_.vec_id)
    def cos(a: Array[Double], b: Array[Double], nrm: Double): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s / nrm
    }
    val assigned = vecs.map { v =>
      val nrm = if (v.nrm == 0.0) 1.0 else v.nrm
      val sims = cents.indices.map(c => cos(v.v, cents(c), nrm))
      val cell = sims.indices.maxBy(c => (sims(c), -c))
      (v, cell, sims(cell))
    }
    val expected = assigned.groupBy(_._2).toSeq.flatMap { case (cell, ms0) =>
      val ms = ms0.sortBy { case (v, _, sim) => (sim, v.vec_id) }
      ms.zipWithIndex.map { case ((v, _, sim), i) =>
        val dropped = ms.take(math.min(i, cap)).exists { case (w, _, _) =>
          graft.sim.Similarity.cosine(v, w) >= 0.45 }
        (v.vec_id, cell, BigDecimal(sim * 1e6)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong, !dropped)
      }
    }.sortBy(_._1)
    assert(out === expected)
  }

  test("semantic funnel: text bits match the base funnel, keep is the AND of all six") {
    val base = graft.text.TextAnalysis.filterFunnel(spark, sf()).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getInt(3),
        r.getInt(4), r.getInt(5))).toMap
    val ext = graft.text.TextAnalysis.filterFunnelSemantic(spark, sf()).collect()
      .map { r =>
        (r.getLong(0), (r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4),
          r.getInt(5)), r.getInt(6), r.getInt(7))
      }
    assert(ext.length === base.size)
    ext.foreach { case (doc, bits, semOk, keep) =>
      assert(bits === base(doc), s"doc $doc text bits diverge from the base funnel")
      val expKeep = if (bits == ((1, 1, 1, 1, 1)) && semOk == 1) 1 else 0
      assert(keep === expKeep, s"doc $doc keep bit is not the AND of its verdicts")
    }
    val semDropped = ext.count(_._3 == 0)
    info(s"sf0.001: $semDropped docs demoted by the semantic bit")
    assert(semDropped >= 1, "fixture corpus has semantic dups; the bit must bite")
  }

  test("corpus run matches a driver re-derivation from the side-dumped centroids") {
    import spark.implicits._
    val out = SemDedup.semantic(spark, sf(), tau = 0.45,
        centsDump = DedupGates.SemdedupCents.sink(sf())).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getBoolean(3)))
      .sortBy(_._1)
    // read the centroids the run dumped — the same faith the DuckDB
    // oracle takes — and re-derive assignment, priority, drops
    val cents = spark.read
      .parquet(DedupGates.SemdedupCents.glob(sf()))
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1).map(_._2)
    val vecs = graft.sim.Similarity.loadVectors(spark, sf()).collect().sortBy(_.vec_id)
    def cos(a: Array[Double], b: Array[Double], nrm: Double): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s / nrm
    }
    val assigned = vecs.map { v =>
      val nrm = if (v.nrm == 0.0) 1.0 else v.nrm
      val sims = cents.indices.map(c => cos(v.v, cents(c), nrm))
      val cell = sims.indices.maxBy(c => (sims(c), -c))
      (v, cell, sims(cell))
    }
    val expected = assigned.groupBy(_._2).toSeq.flatMap { case (cell, ms0) =>
      val ms = ms0.sortBy { case (v, _, sim) => (sim, v.vec_id) }
      ms.zipWithIndex.map { case ((v, _, sim), i) =>
        val dropped = ms.take(i).exists { case (w, _, _) =>
          graft.sim.Similarity.cosine(v, w) >= 0.45 }
        (v.vec_id, cell, BigDecimal(sim * 1e6)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong, !dropped)
      }
    }.sortBy(_._1)
    assert(out.length === expected.length)
    out.zip(expected).foreach { case (g, e) =>
      assert(g === e, s"mismatch at vec ${g._1}")
    }
    val dropped = out.count(!_._4)
    info(s"sf0.001: ${out.length} vectors, $dropped dropped as semantic dups")
  }
}
