package graft.dedup

import graft.SparkSpec
import java.io.File

/** In-JVM mirror of the simhash side-dump DuckDB oracles
  * (`SparkEntry.oracleSql`): the dumped per-doc signatures are the
  * only artifact the gates take on faith, so these specs re-derive
  * the banding, bucket caps, radius-1 probes, Hamming filter and
  * pair generation through independent plain-Scala code and prove
  * (a) dump + mechanism reproduces the operators exactly and (b) a
  * tampered dump is detected. */
class SimhashOracleSpec extends SparkSpec {

  private def dumpedSigs(): Map[Long, Long] =
    spark.read.parquet(Dedup.simhashDumpPath(new File(sf()).getName))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("sig")).toMap

  /** (band, byte) postings of a signature set — plain loops, no Spark. */
  private def buckets(sigs: Map[Long, Long]): Map[(Int, Long), Seq[(Long, Long)]] =
    (for ((d, s) <- sigs.toSeq; b <- 0 until 8)
      yield ((b, (s >> (b * 8)) & 255L), (d, s)))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap

  /** The exact-band pair rule: buckets of 2..1000 members, upper
    * triangle, Hamming ≤ maxHamming. */
  private def exactPairs(sigs: Map[Long, Long], maxHamming: Int): Set[(Long, Long)] =
    buckets(sigs).valuesIterator
      .filter(m => m.size >= 2 && m.size <= 1000)
      .flatMap { m =>
        for {
          a <- m; b <- m
          if a._1 < b._1 && java.lang.Long.bitCount(a._2 ^ b._2) <= maxHamming
        } yield (a._1, b._1)
      }.toSet

  /** The multi-probe rule: exact-band pairs UNION radius-1 probe hits
    * (probe fan-out joins buckets of 1..1000), Hamming ≤ maxHamming. */
  private def multiProbePairs(sigs: Map[Long, Long], maxHamming: Int): Set[(Long, Long)] = {
    val bks = buckets(sigs)
    val viaProbe = for {
      (d, s) <- sigs.toSeq
      band <- 0 until 8
      p <- 0 until 8
      probed = ((s >> (band * 8)) & 255L) ^ (1L << p)
      m <- bks.getOrElse((band, probed), Seq.empty)
      if m._1 != d && bks((band, probed)).size <= 1000
      if java.lang.Long.bitCount(s ^ m._2) <= maxHamming
    } yield (math.min(d, m._1), math.max(d, m._1))
    exactPairs(sigs, maxHamming) ++ viaProbe
  }

  test("simhash gate: dumped sigs + independent banding reproduce simhashPairs") {
    val got = Dedup.simhashPairs(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val sigs = dumpedSigs()
    assert(sigs.nonEmpty, "signature dump must be readable")
    assert(exactPairs(sigs, 7) === got)
    assert(got.nonEmpty, "gate corpus should produce simhash pairs")
  }

  test("multiprobe gate: dumped sigs + probe fan-out reproduce the operator") {
    val got = Dedup.simhashPairsMultiProbe(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val sigs = dumpedSigs()
    assert(multiProbePairs(sigs, 15) === got)
    // the probe radius must actually widen the exact-band set here,
    // or this gate duplicates dedup_simhash instead of testing probes
    assert(exactPairs(sigs, 15).subsetOf(got))
  }

  test("wide-band gate: output IS the Hamming<=15 all-pairs ground truth") {
    // the dedup_simhash_wide oracle is all-pairs, so the spec pins
    // exactly that: the 4x16-bit banding + radius-3 probes recover
    // EVERY qualifying pair (the pigeonhole guarantee), uncapped
    val got = Dedup.simhashPairsWide(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val sigs = dumpedSigs().toSeq
    val all = (for {
      (d1, s1) <- sigs; (d2, s2) <- sigs
      if d1 < d2 && java.lang.Long.bitCount(s1 ^ s2) <= 15
    } yield (d1, d2)).toSet
    assert(got === all, "wide banding must achieve full recall at ham<=15")
    assert(got.nonEmpty)
    // and it agrees with the 8-band multiprobe where THAT has full
    // recall (gate scale: caps non-binding for both)
    val mp = Dedup.simhashPairsMultiProbe(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === mp)
  }

  test("balanced wide formulation: identical pairs to the query-side form on the gate corpus") {
    // the scale formulation simhashPairsWide switches to above
    // WideBalancedAbove docs: build-side radius<=1 x probe-side
    // radius<=2 with a canonical-witness filter. Both forms must emit
    // the IDENTICAL pair set (the all-pairs Hamming<=15 ground truth).
    import spark.implicits._
    val sigs = dumpedSigs().toSeq.toDF("doc_id", "sig")
    val bal = Dedup.simhashPairsWideBalancedOf(sigs, 15, 1000).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val wide = Dedup.simhashPairsWideOf(sigs, 15, 1000).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(bal === wide)
    assert(bal.nonEmpty)
  }

  test("collapse + wide: identical-sig cliques expand exactly, cross pairs inherit rep verdicts") {
    import spark.implicits._
    // a corpus with: a 5-member identical-sig clique (the truncated-
    // stub shape that caps out at ANY band width), a near pair at
    // Hamming 3 of the clique sig, a far sig, and a second 2-member
    // clique near the far sig — brute-force all-pairs <= 15 is the
    // contract
    val cliqueSig = 0x0123456789abcdefL
    val nearClique = cliqueSig ^ 0x7L // Hamming 3
    val farSig = ~cliqueSig
    val nearFar = farSig ^ (1L << 40) // Hamming 1 from far
    val rows = (1L to 5L).map(i => (i, cliqueSig)) ++
      Seq((6L, nearClique), (7L, farSig)) ++
      Seq((8L, nearFar), (9L, nearFar))
    val sigs = rows.toDF("doc_id", "sig")
    val got = Dedup.simhashPairsWideCollapsedOf(sigs, 15, 1000).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = (for {
      (ia, sa) <- rows; (ib, sb) <- rows if ia < ib
      if java.lang.Long.bitCount(sa ^ sb) <= 15
    } yield (ia, ib)).toSet
    assert(got === want)
    // the clique's C(5,2) pairs came from the collapse expansion, and
    // every clique member pairs with the near sig via the ONE rep
    assert(want.count(p => p._1 <= 5 && p._2 <= 5) === 10)
    assert((1L to 5L).forall(i => want(math.min(i, 6L) -> math.max(i, 6L))))
    // guard parity with the other wide entries
    intercept[IllegalArgumentException] {
      Dedup.simhashPairsWideCollapsedOf(sigs, 16, 1000)
    }
    // and on the gate corpus the collapsed form equals the plain wide
    // form (no identical sigs there -> pure pass-through); the dump is
    // written here so the test does not lean on an earlier one's
    Dedup.simhashSigs(spark, sf())
    val gate = dumpedSigs().toSeq.toDF("doc_id", "sig")
    val collapsed = Dedup.simhashPairsWideCollapsedOf(gate, 15, 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val wide = Dedup.simhashPairsWideOf(gate, 15, 1000).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(collapsed === wide)
  }

  test("balanced wide: adversarial per-band delta distributions match driver all-pairs") {
    // engineered signatures hitting every per-band delta weight the
    // canonical-witness rule must handle: delta 0 (identical band,
    // m1=m2=0 witness), 1, 2 (m1=0 witness), 3 (m1 = lowest-bit
    // witness), and >3 in every band (no collision owed); plus the
    // boundary totals 15 (pair) and 16 (no pair: 4+4+4+4 leaves no
    // band within radius 3).
    import spark.implicits._
    val base = 0x0123456789abcdefL
    def flip(s: Long, perBand: Seq[Int]): Long = {
      // flip `w` DISTINCT positions per 16-bit band, stride-5 spread
      // (5 coprime to 16) so deltas exercise non-contiguous bits
      var out = s
      for ((w, b) <- perBand.zipWithIndex; k <- 0 until w)
        out ^= 1L << (b * 16 + (5 * k) % 16)
      out
    }
    val cases = Seq(
      Seq(3, 4, 4, 4),  // 15: qualifies, best band needs the |d|=3 witness
      Seq(4, 4, 4, 4),  // 16: no band within radius 3 AND over maxHamming
      Seq(0, 5, 5, 5),  // 15: qualifies via the delta-0 band
      Seq(1, 2, 3, 4),  // 10: qualifies via several witness shapes
      Seq(2, 2, 2, 2),  //  8: qualifies in every band
      Seq(15, 0, 0, 0)) // 15: qualifies via three delta-0 bands
    val rows = (0L, base) +: cases.zipWithIndex.map { case (c, i) =>
      ((i + 1).toLong, flip(base, c))
    }
    val df = rows.toDF("doc_id", "sig")
    val expected = (for {
      (d1, s1) <- rows; (d2, s2) <- rows
      if d1 < d2 && java.lang.Long.bitCount(s1 ^ s2) <= 15
    } yield (d1, d2)).toSet
    val bal = Dedup.simhashPairsWideBalancedOf(df, 15, 1000).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(bal === expected)
    // the distribution boundary really is exercised
    assert(expected.contains((0L, 1L)) && !expected.contains((0L, 2L)))
  }

  test("balanced gate plan: 17-mask build expansion, 137-mask probe, shuffle-hash join") {
    // the registered dedup_simhash_wide_balanced gate must actually
    // run the balanced plan: build side expands each band value by the
    // 17 masks {0, 1, 2, ..., 32768}, probe side by the 137 <=2-bit
    // masks (whose largest is 49152 = bits 14^15 — a value the build
    // array never contains), joined shuffle-hash (never broadcast: the
    // bucket frame is corpus-sized)
    val plan = Dedup.simhashPairsWideBalanced(spark, sf())
      .queryExecution.executedPlan.toString
    val buildArray = // Catalyst prints array literals comma-packed
      (0L +: (0 until 16).map(b => 1L << b)).sorted.mkString("[", ",", "]")
    assert(plan.contains(buildArray), "build side must expand the 17 masks")
    assert(plan.contains("49152"), "probe side must carry the 2-bit masks")
    assert(plan.contains("ShuffledHashJoin"),
      "bucket join must be shuffle-hash, never broadcast")
    assert(!plan.contains("BroadcastHashJoin"))
  }

  test("wide-band guards: maxHamming > 15 rejected; cap drops observable and empty on the fixture") {
    import spark.implicits._
    val sigs = dumpedSigs().toSeq.toDF("doc_id", "sig")
    // the pigeonhole is only complete for ham <= 15 — a wider ask
    // must fail loudly, not lose recall silently (ADVICE r11)
    intercept[IllegalArgumentException] {
      Dedup.simhashPairsWide(spark, sf(), maxHamming = 16)
    }
    intercept[IllegalArgumentException] {
      Dedup.simhashPairsWideBalancedOf(sigs, 16, 1000)
    }
    // the gate fixture must not trip the cap in either regime — the
    // precondition for the all-pairs oracles to hash-match — and a
    // degenerate corpus must surface its drops
    assert(Dedup.wideBandDrops(sigs, 1000).isEmpty)
    assert(Dedup.wideBandDrops(sigs, 1000, balanced = true).isEmpty)
    val degenerate = (1L to 50L).map(i => (i, 0L)).toDF("doc_id", "sig")
    assert(Dedup.wideBandDrops(degenerate, 40).count() === 4L,
      "50 identical sigs over cap 40 must surface all 4 band buckets")
  }

  test("simhash oracle can fail: dropping a paired doc's signature is detected") {
    val got = Dedup.simhashPairs(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.nonEmpty)
    val victim = got.head._1
    val tampered = dumpedSigs() - victim
    assert(exactPairs(tampered, 7) !== got,
      s"removing doc $victim's signature must change the derived pairs")
  }
}
