package graft.dedup

import graft.SparkSpec
import graft.gates.DedupGates
import graft.sim.Similarity
import graft.sim.Similarity.Vec

class SemIndexSpec extends SparkSpec {

  private def tmp(name: String): String = {
    val d = s"/tmp/graft_semidx_spec_$name"
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
      f.delete(); ()
    }
    rm(new java.io.File(d))
    d
  }

  private def axisVec(axis: Int, d: Int, jitterSeed: Int, jitter: Double): Array[Double] = {
    val v = new Array[Double](d)
    v(axis) = 1.0
    for (j <- 0 until d)
      v(j) += jitter * (((jitterSeed * 31 + j * 7) % 13) - 6) / 6.0
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }

  private def writeEmbeddings(dir: String, rows: Seq[(Long, Array[Double])]): Unit = {
    import spark.implicits._
    rows.map { case (id, v) => (id, v.map(_.toFloat), 0) }
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }

  test("probe drops batch near-dups of index members, keeps novel vectors, dedups batch-internally") {
    val d = 16
    // the index is trained ONLY on axes 0 and 4, so every batch
    // vector must sit near one of those directions to have a
    // well-defined cell. 40° off axis 4 keeps cos≈0.77 to the axis-4
    // index members (< τ=0.9 — not an index dup) while still landing
    // in the axis-4 cell; two such vectors are ≈1.0 to each other
    // (the batch-internal clique).
    def offAxis4(jitterSeed: Int): Array[Double] = {
      val v = new Array[Double](d)
      v(4) = math.cos(math.toRadians(40)); v(6) = math.sin(math.toRadians(40))
      for (j <- 0 until d)
        v(j) += 0.02 * (((jitterSeed * 31 + j * 7) % 13) - 6) / 6.0
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    // corpus: ids 1,2,11,12 (index slice, %10 != 0) on FOUR DISTINCT
    // axes 0,4,8,12 — k=4 first-k seeding starts spread and each cell
    // has one unambiguous direction, so batch assignment is robust to
    // jitter. Batch ids 0,10,20,30 (%10 == 0): 0 ≈ axis 0 (index
    // dup), 10/30 ≈ 40° off axis 4 (same cell 1, batch-internal
    // clique), 20 ≈ 40° off axis 12 (novel, cos≈0.77 < τ to member 12)
    def offAxis12(jitterSeed: Int): Array[Double] = {
      val v = new Array[Double](d)
      v(12) = math.cos(math.toRadians(40)); v(14) = math.sin(math.toRadians(40))
      for (j <- 0 until d)
        v(j) += 0.02 * (((jitterSeed * 31 + j * 7) % 13) - 6) / 6.0
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    val dir = tmp("probe") // used as sfDir: embeddings.parquet inside
    writeEmbeddings(dir, Seq(
      (1L, axisVec(0, d, 1, 0.02)),
      (2L, axisVec(4, d, 2, 0.02)),
      (11L, axisVec(8, d, 3, 0.02)),
      (12L, axisVec(12, d, 4, 0.02)),
      (0L, axisVec(0, d, 5, 0.02)), // τ-close to index 1
      (10L, offAxis4(6)),           // clique with 30, not an index dup
      (20L, offAxis12(7)),          // novel
      (30L, offAxis4(8))))          // clique with 10
    val all = Similarity.loadVectors(spark, dir)
    val path = tmp("probe_idx")
    SemIndex.build(all.filter(v => v.vec_id % 10 != 0), path, k = 4, iters = 3)
    val out = SemIndex.probe(spark, dir, path,
        all.filter(v => v.vec_id % 10 == 0), tau = 0.9)
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(out.keySet === Set(0L, 10L, 20L, 30L), "batch rows only")
    assert(!out(0L), "batch dup of an index member must be dropped")
    assert(out(10L) || out(30L), "a batch-internal clique keeps one")
    assert(!(out(10L) && out(30L)), "a batch-internal clique keeps ONLY one")
    assert(out(20L), "novel batch vector must be kept")
  }

  test("append assigns under the FIXED stored centroids: build(A)+append(B) members == assign(A∪B)") {
    import spark.implicits._
    val d = 16
    val rowsA = (0 until 40).map(i => (i.toLong, axisVec(i % 4 * 4, d, i, 0.05)))
    val rowsB = (40 until 60).map(i => (i.toLong, axisVec(i % 4 * 4, d, i, 0.05)))
    val dir = tmp("append")
    writeEmbeddings(dir, rowsA ++ rowsB)
    val all = Similarity.loadVectors(spark, dir).cache()
    val a = all.filter(_.vec_id < 40)
    val b = all.filter(_.vec_id >= 40)

    val p1 = tmp("append_idx1")
    SemIndex.build(a, p1, k = 4, iters = 3)
    val centsBefore = spark.read.parquet(s"$p1/cents").collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1))).sortBy(_._1)
    SemIndex.append(spark, p1, b)
    val centsAfter = spark.read.parquet(s"$p1/cents").collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1))).sortBy(_._1)
    assert(centsBefore === centsAfter, "append must not retrain the codebook")

    val members = spark.read.parquet(s"$p1/members").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(members.size === 60)
    // every member's cell equals a fresh assignment under the stored
    // centroids (batch AND original — one rule, one codebook)
    val cents = centsBefore.map { case (cell, v) =>
      graft.sim.Kmeans.Centroid(cell, v.toArray) }
    val idx = graft.sim.CentroidIndex.build(cents)
    all.collect().foreach { v =>
      assert(members(v.vec_id) === idx.nearest(v),
        s"member ${v.vec_id} cell drifted from the stored-codebook assignment")
    }
  }

  test("streaming ingestion: foreachBatch appends grow the index probe-exact") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // unlike the LSH index, build TRAINS a codebook — so streaming
    // parity is pinned against a reference with the SAME seed build:
    // build(backfill)+append(rest, one shot) ≡ build(backfill)+stream
    // of micro-batch appends (append is batching-insensitive)
    val all = Similarity.loadVectors(spark, sf())
    val idxVecs = all.filter(v => v.vec_id % 10 != 0)
    val batch = all.filter(v => v.vec_id % 10 == 0)
    val pStream = tmp("stream"); val pRef = tmp("streamref")
    SemIndex.build(idxVecs.filter(_.vec_id < 250), pStream, k = 8, iters = 2)
    SemIndex.build(idxVecs.filter(_.vec_id < 250), pRef, k = 8, iters = 2)
    // the two builds may differ in last-ulp centroid bits (scheduler
    // merge order) — copy pStream's cents over pRef's so the parity
    // compares APPEND behavior, not trainer bit-reproducibility
    val cents = spark.read.parquet(s"$pStream/cents")
    cents.coalesce(1).write.mode("overwrite").parquet(s"$pRef/cents")
    val rest = idxVecs.filter(_.vec_id >= 250).collect().sortBy(_.vec_id)
    SemIndex.append(spark, pRef, rest.toSeq.toDS())
    val input = MemoryStream[Vec]
    val q = input.toDS().writeStream
      .foreachBatch { (ds: org.apache.spark.sql.Dataset[Vec], _: Long) =>
        SemIndex.append(spark, pStream, ds); ()
      }.start()
    try {
      rest.grouped(100).foreach { chunk =>
        input.addData(chunk.toSeq); q.processAllAvailable()
      }
    } finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getBoolean(3)))
      .sortBy(_._1).toSeq
    assert(rows(SemIndex.probe(spark, sf(), pStream, batch)) ===
      rows(SemIndex.probe(spark, sf(), pRef, batch)))
  }

  test("gate surface matches a driver re-derivation from the side-dumped centroids") {
    val out = SemIndex.dedupSemanticIncremental(spark, sf(),
        centsDump = DedupGates.SemidxCents.sink(sf())).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getBoolean(3)))
      .sortBy(_._1)
    assert(out.nonEmpty)
    assert(out.forall(_._1 % 10 == 0), "gate output is batch rows only")
    val cents = spark.read
      .parquet(DedupGates.SemidxCents.glob(sf()))
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1).map(_._2)
    val vecs = Similarity.loadVectors(spark, sf()).collect().sortBy(_.vec_id)
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
    val expected = assigned.filter(_._1.vec_id % 10 == 0).map { case (x, cell, sim) =>
      val idxHit = assigned.exists { case (w, wc, _) =>
        w.vec_id % 10 != 0 && wc == cell && Similarity.cosine(x, w) >= 0.45 }
      val batHit = assigned.exists { case (w, wc, wsim) =>
        w.vec_id % 10 == 0 && w.vec_id != x.vec_id && wc == cell &&
          (wsim < sim || (wsim == sim && w.vec_id < x.vec_id)) &&
          Similarity.cosine(x, w) >= 0.45 }
      (x.vec_id, cell, BigDecimal(sim * 1e6)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong,
        !(idxHit || batHit))
    }.sortBy(_._1)
    assert(out.length === expected.length)
    out.zip(expected).foreach { case (g, e) =>
      assert(g === e, s"mismatch at vec ${g._1}")
    }
    val dropped = out.count(!_._4)
    info(s"sf0.001: ${out.length} batch vectors, $dropped dropped against the index")
  }
}
