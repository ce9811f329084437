package graft.dedup

import graft.SparkSpec

class DedupSpec extends SparkSpec {

  test("exact dedup partitions the corpus: counts sum to row count") {
    val d = Dedup.exact(spark, sf())
    val total = d.selectExpr("sum(n_copies)").head().getLong(0)
    val rows = spark.read.parquet(s"${sf()}/documents.parquet").count()
    assert(total === rows)
  }

  test("minhash LSH output equals exact n-gram Jaccard output") {
    val exact = Dedup.ngramJaccard(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLsh(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh === exact, s"missing=${exact -- lsh} spurious=${lsh -- exact}")
    assert(exact.nonEmpty, "fixture should contain planted near-dups")
  }

  test("simhash near-dups recover the near-identical planted pairs") {
    // Hamming ≤ 3 on 64 bits is a much tighter notion of "near" than
    // Jaccard 0.8; only require recall of the near-identical pairs.
    val exact = Dedup.ngramJaccard(spark, sf(), tau = 0.95).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val sim = Dedup.simhashPairs(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall =
      if (exact.isEmpty) 1.0
      else exact.count(sim.contains).toDouble / exact.size
    assert(recall >= 0.8, s"simhash recall $recall over ${exact.size} pairs")
  }

  test("df-capped ngram variant keeps all planted near-dup pairs at this scale") {
    val exact = Dedup.ngramJaccard(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = Dedup.ngramJaccardCapped(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped === exact, s"missing=${exact -- capped} spurious=${capped -- exact}")
  }

  test("connected components: clusters cover the pairs, singletons map to self") {
    val pairs = Dedup.ngramJaccard(spark, sf())
    val pairSet = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    val clusters = Dedup.ngramClusters(spark, sf()).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every doc is assigned, cluster id is a member's min
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
      .select("doc_id").collect().map(_.getLong(0))
    assert(clusters.keySet === docs.toSet)
    // paired docs share a component
    pairSet.foreach { case (i, j) =>
      assert(clusters(i) === clusters(j), s"pair ($i,$j) split across clusters")
    }
    // docs in no pair are their own cluster
    val inPairs = pairSet.flatMap(p => Seq(p._1, p._2)).toSet
    docs.filterNot(inPairs).foreach(d => assert(clusters(d) === d))
    // cluster id is the min member
    clusters.groupBy(_._2).foreach { case (cid, members) =>
      assert(cid === members.keys.min)
    }
  }

  test("connected components: transitive chain a-b, b-c collapses to one cluster (both regimes)") {
    import spark.implicits._
    val docs = Seq(1L, 2L, 3L, 4L, 5L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("i", "j")
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L)
    // driver union-find path (default threshold)
    val uf = Dedup.connectedComponents(docs, "doc_id", pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(uf === expected)
    // distributed hash-min path (threshold forced to zero)
    val hm = Dedup.connectedComponents(docs, "doc_id", pairs, driverMaxEdges = -1L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hm === expected)
  }

  test("connected components regimes agree on the corpus pair graph") {
    val docs = spark.read.parquet(s"${sf()}/documents.parquet").select("doc_id")
    val pairs = Dedup.ngramJaccard(spark, sf())
    val uf = Dedup.connectedComponents(docs, "doc_id", pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Dedup.lastHashMinIters === 0, "driver path reports 0 iterations")
    val hm = Dedup.connectedComponents(docs, "doc_id", pairs, driverMaxEdges = -1L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(uf === hm)
    assert(Dedup.lastHashMinIters > 0, "forced threshold must engage hash-min")
    // a positive budget the graph overflows: the edge count exceeds it,
    // nothing is collected and the call falls through to hash-min
    val over = Dedup.connectedComponents(docs, "doc_id", pairs, driverMaxEdges = 1L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Dedup.lastHashMinIters > 0, "an overflowed budget must engage hash-min")
    assert(over === uf)
  }

  test("dedup_clusters_dist gate surface runs the hash-min regime and matches the driver path") {
    val dist = Dedup.ngramClustersDist(spark, sf()).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Dedup.lastHashMinIters > 0,
      "the dist gate must actually cross the distributed regime")
    val base = Dedup.ngramClustersLsh(spark, sf()).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dist === base)
  }

  test("pairs are canonical (i < j) and duplicate-free") {
    for (df <- Seq(Dedup.ngramJaccard(spark, sf()), Dedup.simhashPairs(spark, sf()),
        Dedup.embeddingCosine(spark, sf(), tau = 0.4))) {
      val rows = df.collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(rows.forall { case (i, j) => i < j })
      assert(rows.length === rows.distinct.length)
    }
  }

  test("split leakage: crossing near-dup pairs exactly, oriented train->val") {
    val rows = Dedup.splitLeakage(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.nonEmpty, "fixture should contain leaking pairs")
    rows.foreach { case (train, v) =>
      assert(v % 10 === 0, s"val_doc $v not in the val split")
      assert(train % 10 !== 0, s"train_doc $train not in the train split")
    }
    // exactly the crossing subset of the near-dup pair graph
    val allPairs = Dedup.ngramJaccard(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val expected = allPairs.filter { case (i, j) => (i % 10 == 0) != (j % 10 == 0) }
      .map { case (i, j) => if (i % 10 == 0) (j, i) else (i, j) }.toSet
    assert(rows.toSet === expected)
  }

  test("leak-safe split: structural zero leakage, cluster-keyed convention") {
    val split = Dedup.leakSafeSplit(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val byDoc = split.map { case (d, _, s) => d -> s }.toMap
    // covers the corpus exactly once
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
      .select("doc_id").collect().map(_.getLong(0))
    assert(byDoc.keySet === docs.toSet)
    assert(split.length === docs.length)
    // structural zero leakage: every near-dup pair lands on ONE side —
    // the same pair graph whose doc-hash split leaks (spec above)
    val pairs = Dedup.ngramJaccard(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty, "fixture should contain near-dup pairs")
    pairs.foreach { case (i, j) =>
      assert(byDoc(i) === byDoc(j), s"pair ($i,$j) split ${byDoc(i)}/${byDoc(j)}")
    }
    // split key is the cluster rep, rule matches the doc-hash convention
    val clusters = Dedup.ngramClusters(spark, sf()).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    split.foreach { case (d, c, s) =>
      assert(c === clusters(d), s"doc $d cluster $c != ${clusters(d)}")
      val want = if (c % 10 == 0) "val" else if (c % 10 == 1) "test" else "train"
      assert(s === want)
    }
    // all three splits are inhabited at corpus scale
    assert(split.map(_._3).distinct.sorted.toSeq === Seq("test", "train", "val"))
  }

  test("salted split: same clusters as the mod form, split a pure function of cluster id") {
    val mod = Dedup.leakSafeSplit(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val salted = Dedup.leakSafeSplitSalted(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    // identical (doc -> cluster) frame: only the split RULE differs
    assert(salted.map(t => (t._1, t._2)).sortBy(_._1).toSeq ===
      mod.map(t => (t._1, t._2)).sortBy(_._1).toSeq)
    // the salted split is a pure function of cluster_id -> structural
    // zero leakage carries over from the mod form's pair audit above
    salted.groupBy(_._2).foreach { case (c, rows) =>
      assert(rows.map(_._3).distinct.length === 1,
        s"cluster $c straddles splits under the salted rule")
    }
    // the rule is the md5-prefix threshold convention, re-derived
    salted.foreach { case (_, c, s) =>
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$c:split42".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 15)
      val want = if (h < "199999999999999") "val"
        else if (h < "333333333333333") "test" else "train"
      assert(s === want, s"cluster $c hashed to $h but split $s")
    }
    // epoch-blindness is the point: the salted rule decorrelates from
    // id order, and at corpus scale all three splits stay inhabited
    assert(salted.map(_._3).distinct.sorted.toSeq === Seq("test", "train", "val"))
  }

  test("semantic leak-safe split: embedding clusters never straddle a boundary") {
    val split = Dedup.leakSafeSplitEmbed(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val byVec = split.map { case (d, _, s) => d -> s }.toMap
    val vecs = spark.read.parquet(s"${sf()}/embeddings.parquet")
      .select("vec_id").collect().map(_.getLong(0))
    assert(byVec.keySet === vecs.toSet)
    // zero leakage against the EXACT pair oracle at the gate tau
    val pairs = Dedup.embeddingCosine(spark, sf(), tau = 0.45).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty, "fixture should contain semantic near-dups")
    pairs.foreach { case (i, j) =>
      assert(byVec(i) === byVec(j), s"pair ($i,$j) split ${byVec(i)}/${byVec(j)}")
    }
    // convention on the cluster rep, singletons to themselves
    split.foreach { case (d, c, s) =>
      assert(c <= d)
      val want = if (c % 10 == 0) "val" else if (c % 10 == 1) "test" else "train"
      assert(s === want)
    }
  }

  test("embedding cosine threshold is monotone") {
    val loose = Dedup.embeddingCosine(spark, sf(), tau = 0.3).count()
    val tight = Dedup.embeddingCosine(spark, sf(), tau = 0.5).count()
    assert(tight <= loose)
  }

  test("multi-probe simhash: radius-15 guarantee holds, radius-16 spread is out of reach") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // adversarial hamming-15 spread: 2 bits differ in each of bands
    // 0-6, 1 bit in band 7 — NO exact band match (plain banding blind),
    // but band 7 is within the radius-1 probe
    def spread(bitsPerBand: Seq[Int]): Long =
      bitsPerBand.zipWithIndex.map { case (k, band) =>
        (0 until k).map(b => 1L << (band * 8 + b)).sum
      }.sum
    val h15 = spread(Seq(2, 2, 2, 2, 2, 2, 2, 1))
    val h16 = spread(Seq(2, 2, 2, 2, 2, 2, 2, 2))
    val sigs = Seq((1L, 0L), (2L, h15), (3L, h16 ^ -1L)).toDF("doc_id", "sig")
    val got = Dedup.simhashPairsMultiProbeOf(sigs, maxHamming = 15, maxBucket = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((1L, 2L)), "hamming-15 pair with one radius-1 band missed")
    // doc 3 is hamming 48 from doc 1 and far from 2: never a candidate
    assert(!got.exists(p => p._1 == 3L || p._2 == 3L))
    // an even 2-bits-per-band hamming-16 pair has no band within
    // radius 1 — deterministically unreachable (the honest boundary)
    val sigs16 = Seq((1L, 0L), (2L, h16)).toDF("doc_id", "sig")
    assert(Dedup.simhashPairsMultiProbeOf(sigs16, 16, 100).count() === 0L)
    // corpus: multi-probe at radius 7 is a superset of plain banding,
    // and every plain pair survives (probing only ADDS candidates)
    val plain = Dedup.simhashPairs(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val multi = Dedup.simhashPairsMultiProbe(spark, sf(), maxHamming = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(plain.subsetOf(multi))
  }

  test("LSH-pair compositions equal the exact ones (clusters + leakage)") {
    // at the planted J>=0.9 dups, LSH per-pair recall is 1-4e-8, so the
    // scale compositions must produce byte-identical outputs here
    val exactClusters = Dedup.ngramClusters(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    val lshClusters = Dedup.ngramClustersLsh(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(lshClusters === exactClusters)
    val exactLeak = Dedup.splitLeakage(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    val lshLeak = Dedup.splitLeakageLsh(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(lshLeak === exactLeak)
    assert(exactLeak.nonEmpty && exactClusters.nonEmpty)
  }

  test("duplicate passages: planted shared span flagged, short docs excluded") {
    import spark.implicits._
    // a 12-token passage shared verbatim by docs 1 and 2 yields
    // 12-8+1 = 5 shared 8-token windows in each; doc 3 is disjoint;
    // doc 4 is too short to carry a window; doc 5 repeats ITS OWN
    // 8-gram twice (within-doc only — must NOT flag)
    val span = "zero one two three four five six seven eight nine ten eleven"
    val selfRep = "aa bb cc dd ee ff gg hh aa bb cc dd ee ff gg hh"
    val rows = Seq(
      (1L, s"intro words here $span trailing bits"),
      (2L, s"different opening $span other ending"),
      (3L, "nothing shared with anyone in this document at all today friends"),
      (4L, "too short"),
      (5L, selfRep)
    ).toDF("doc_id", "text")
    val dir = "/tmp/graft_passage_docs"
    rows.write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val prof = Dedup.duplicatePassages(spark, dir).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getAs[Int]("is_dup_heavy")))).toMap
    assert(!prof.contains(4L)) // < 8 tokens → no windows
    assert(prof(1L)._2 === 5L && prof(2L)._2 === 5L) // the 5 shared windows
    assert(prof(3L)._2 === 0L && prof(3L)._3 === 0)
    assert(prof(5L)._2 === 0L, "within-doc repetition must not flag")
    // doc 2: 'different opening <span> other ending' = 16 tokens → 9
    // windows, 5 shared → 5*5 >= 9 → dup-heavy
    assert(prof(2L)._1 === 9L && prof(2L)._3 === 1)

    val spans = Dedup.duplicatePassageSpans(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(spans.length === 5) // exactly the 5 shared window digests
    assert(spans.forall { case (_, nDocs, nOcc) => nDocs === 2L && nOcc === 2L })
  }

  test("capped passages: the cap drops ONLY the planted boilerplate digest") {
    import spark.implicits._
    // an 8-token boilerplate footer on docs 1-3 (n_docs=3 ≥ cap=3 →
    // boilerplate, dropped by the cap) and a real 8-token duplicated
    // passage between docs 1 and 2 (n_docs=2 < cap → kept)
    val footer = "copyright footer all rights reserved contact us today"
    val dup = "the quick brown fox jumps over lazy dogs"
    val rows = Seq(
      (1L, s"$dup $footer"),
      (2L, s"unrelated heading words then $dup and $footer"),
      (3L, s"totally different body text for this one $footer")
    ).toDF("doc_id", "text")
    val dir = "/tmp/graft_passage_boiler"
    rows.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def profile(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val uncapped = profile(Dedup.duplicatePassages(spark, dir))
    val capped = profile(Dedup.duplicatePassagesCapped(spark, dir, cap = 3))
    // windows spanning dup/footer boundaries are doc-unique noise; the
    // interesting digests: the dup window (docs 1,2) and the footer
    // window (docs 1,2,3). Capped must drop exactly the footer's
    // contribution — every doc loses its footer window, doc 3 entirely
    assert(uncapped(3L) >= 1L, "footer must flag uncapped")
    assert(capped(3L) === 0L, "cap must drop the boilerplate-only doc")
    assert(capped(1L) === uncapped(1L) - 1L, "doc 1 loses only its footer window")
    assert(capped(2L) === uncapped(2L) - 1L, "doc 2 loses only its footer window")
    assert(capped(1L) >= 1L, "the real 2-doc duplicate must survive the cap")
  }

  test("duplicate passages on the corpus: planted near-dups share spans") {
    val prof = Dedup.duplicatePassages(spark, sf()).collect()
    assert(prof.nonEmpty)
    prof.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1)) // dup windows ≤ windows
    }
    // the corpus carries planted near-verbatim copies → some cross-doc
    // spans must exist, and flagged docs must come in groups of ≥2
    val spans = Dedup.duplicatePassageSpans(spark, sf()).collect()
    assert(spans.nonEmpty)
    spans.foreach(r => assert(r.getLong(1) >= 2L))
  }
}
