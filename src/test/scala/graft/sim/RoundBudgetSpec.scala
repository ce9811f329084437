package graft.sim

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graftprobe.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import graft.SparkSpec

/** The ANN trainers run their rounds as plain scheduler jobs over one
  * persisted corpus, so the SQL executions a call starts are only the
  * ones it cannot avoid: the corpus scan and the collect of a local
  * result. A library call writes no side dump (its sink discards), so
  * no dump write is counted either. A Dataset round added back to a
  * trainer or to the PQ tail, or a dump written without a gate, fails
  * here instead of only slowing the benchmark.
  *
  * The crawl chain and the near-dup family are pinned the same way:
  * under adaptive execution each shuffle or broadcast is one job, so a
  * checkpoint that gets its own job again, a frame evaluated twice or
  * a payload join that broadcasts once more shows up here. */
class RoundBudgetSpec extends SparkSpec {

  /** (SQL executions, jobs) started while `body` runs. */
  private def counted(body: => Unit): (Int, Int) = {
    val sql = new AtomicInteger
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: SparkListenerSQLExecutionStart => sql.incrementAndGet(); ()
        case _ => ()
      }
    }
    val sc = spark.sparkContext
    ListenerDrain.waitUntilEmpty(sc)
    sc.addSparkListener(listener)
    try { body; ListenerDrain.waitUntilEmpty(sc) }
    finally sc.removeSparkListener(listener)
    (sql.get, jobs.get)
  }

  test("trainParallel: one SQL execution, then one job per round") {
    val corpus = Similarity.loadVectors(spark, sf())
    val (sql, jobs) = counted { Kmeans.trainParallel(corpus, 16, 2, rounds = 2) }
    info(s"trainParallel: $sql SQL executions, $jobs jobs")
    // the corpus scan behind the persisted RDD
    assert(sql === 1)
    // first seed (fills the cache) + (φ, picks) per seeding round +
    // the weight pass + one job per Lloyd round
    assert(jobs === 1 + 2 * 2 + 1 + 2)
  }

  test("train: one SQL execution; the first-k seed read fills the cache") {
    val corpus = Similarity.loadVectors(spark, sf())
    val (sql, jobs) = counted { Kmeans.train(corpus, 16, 2) }
    info(s"train: $sql SQL executions, $jobs jobs")
    assert(sql === 1)
    // the first-k seed filter, then one job per Lloyd round
    assert(jobs === 1 + 2)
  }

  test("seedParallel past the distributed reduction: one SQL execution") {
    import spark.implicits._
    val dim = 16
    val corpus = (0 until 4096).map { id =>
      val v = Array.tabulate(dim)(d =>
        (((id.toLong * 2654435761L + d * 40503L) % 1000003L).toDouble / 1000003.0) - 0.5)
      val nrm = math.sqrt(v.map(x => x * x).sum)
      Similarity.Vec(id.toLong, v.map(_ / nrm), 1.0)
    }.toDF().write.mode("overwrite").parquet(s"$scratch/seed_corpus")
    val rows = spark.read.parquet(s"$scratch/seed_corpus").as[Similarity.Vec]
    val (sql, jobs) = counted { Kmeans.seedParallel(rows, 2048, rounds = 2) }
    info(s"seedParallel k=2048: $sql SQL executions, $jobs jobs")
    assert(Kmeans.lastReductionDistributed)
    // the corpus scan behind the persisted RDD
    assert(sql === 1)
    // first seed (fills the cache) + (φ, picks) per round + the weight
    // pass + five polish rounds of the distributed reduction
    assert(jobs === 1 + 2 * 2 + 1 + 5)
  }

  test("QualityClassifier.train: one SQL execution, then one job per iteration") {
    import spark.implicits._
    val docs = (0 until 200).map { i =>
      (i.toLong, Seq.tabulate(5 + i % 7)(j => s"w${(i * 31 + j) % 23}").mkString(" "),
        (i % 2).toDouble)
    }.toDF("doc_id", "text", "label")
    docs.write.mode("overwrite").parquet(s"$scratch/clf_docs")
    val ex = graft.text.QualityClassifier.examples(
      spark.read.parquet(s"$scratch/clf_docs"), 64)
    val (sql, jobs) = counted { graft.text.QualityClassifier.train(ex, 64, iters = 5) }
    info(s"QualityClassifier.train: $sql SQL executions, $jobs jobs")
    assert(sql === 1)
    assert(jobs === 5)
  }

  private lazy val scratch =
    java.nio.file.Files.createTempDirectory("graft-round-budget").toString

  test("topKPqOpq: SQL executions are the corpus scan and the result collect") {
    val (sql, jobs) = counted { Opq.topKPqOpq(spark, sf()).collect() }
    info(s"topKPqOpq: $sql SQL executions, $jobs jobs")
    // the corpus scan behind the persisted RDD and the collect of the
    // local result relation
    assert(sql === 2)
    // PCA fit (fills the cache), the rotated-query collect, the PQ
    // Lloyd rounds and the one-job re-rank tail
    assert(jobs === 15)
  }

  test("simhashPairsWide (the crawl_dedup call): no side-dump round") {
    val (sql, jobs) = counted { graft.dedup.Dedup.simhashPairsWide(spark, sf()).collect() }
    info(s"simhashPairsWide: $sql SQL executions, $jobs jobs")
    // the signature checkpoint and the pair query; the regime pick's
    // count comes from the job that fills the checkpoint
    assert(sql === 2)
    assert(jobs === 7)
  }

  test("minhashLsh (the crawl_dedup call): one shingling pass") {
    val (sql, jobs) = counted { graft.dedup.Dedup.minhashLsh(spark, sf()).collect() }
    info(s"minhashLsh: $sql SQL executions, $jobs jobs")
    assert(sql === 2)
    // adaptive execution picks the first verify join's build side when
    // the candidate stage finishes: the shingle broadcast the second
    // join reads (6 jobs), or the candidates (7); which one varies from
    // run to run
    assert(jobs >= 6 && jobs <= 7)
  }

  test("EditDedup.editPairs (the crawl_dedup call): one broadcast per payload phase") {
    val (sql, jobs) = counted { graft.dedup.EditDedup.editPairs(spark, sf()).collect() }
    info(s"editPairs: $sql SQL executions, $jobs jobs")
    assert(sql === 2)
    // one broadcast of (len, cv) for both L1 joins, one of the texts
    // for both DP joins, one of the members for all four member joins
    assert(jobs === 11)
  }

  test("SuffixDedup.exciseBenchmarkSpans (the crawl_dedup call): one documents read") {
    val (sql, jobs) = counted {
      graft.dedup.SuffixDedup.exciseBenchmarkSpans(spark, sf()).collect()
    }
    info(s"exciseBenchmarkSpans: $sql SQL executions, $jobs jobs")
    assert(sql === 5)
    assert(jobs === 10)
  }

  test("CorpusPipeline.prepareDecontaminated (the crawl_dedup call)") {
    val (sql, jobs) = counted {
      graft.text.CorpusPipeline.prepareDecontaminated(spark, sf()).collect()
    }
    info(s"prepareDecontaminated: $sql SQL executions, $jobs jobs")
    assert(sql === 7)
    assert(jobs === 16)
  }

  private def pairsAndDocs() = {
    val pairs = graft.dedup.Dedup.minhashLsh(spark, sf()).localCheckpoint()
    (pairs, spark.read.parquet(s"${sf()}/documents.parquet").select("doc_id"))
  }

  test("connectedComponents (the crawl_dedup call): one counting fill, one collect") {
    val (pairs, docs) = pairsAndDocs()
    val (sql, jobs) = counted {
      graft.dedup.Dedup.connectedComponents(docs, "doc_id", pairs).collect()
    }
    info(s"connectedComponents: $sql SQL executions, $jobs jobs")
    // SQL executions: the lazy edge checkpoint, the edge collect and
    // the result; jobs: the count that fills the checkpoint, the edge
    // collect, the label broadcast and the result
    assert(sql === 3)
    assert(jobs === 4)
  }

  test("connectedComponents reads each pair row once, in both regimes") {
    import spark.implicits._
    val (pairs, docs) = pairsAndDocs()
    val n = pairs.count()
    assert(n > 1)
    // the driver path, hash-min outright, and hash-min after the count
    // overflows a one-pair budget
    for (driverMaxEdges <- Seq(4000000L, 0L, 1L)) {
      val read = spark.sparkContext.longAccumulator(s"pairs read ($driverMaxEdges)")
      val tapped = pairs.as[(Long, Long)].map { p => read.add(1); p }.toDF("i", "j")
      graft.dedup.Dedup.connectedComponents(docs, "doc_id", tapped,
        driverMaxEdges = driverMaxEdges).collect()
      assert(read.value === n, s"driverMaxEdges = $driverMaxEdges")
    }
  }

  test("connectedComponents over an overflowed budget ships no edge list to the driver") {
    import org.apache.spark.sql.functions.col
    // 100,000 two-document components in 4 partitions, over a 40,000-pair
    // budget: the edge list the budget admits is 80,000 edges, at least
    // 16 bytes each, and a collect that checked the budget per task
    // would return all 200,000 edges before seeing the overflow
    val budget = 40000L
    val pairs = spark.range(0, 100000, 1, 4)
      .select(col("id").as("i"), (col("id") + 100000).as("j"))
    val docs = spark.range(0, 200000).toDF("doc_id")
    val resultBytes = new java.util.concurrent.atomic.AtomicLong
    val listener = new SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m => resultBytes.addAndGet(m.resultSize))
    }
    // hash-min's own joins would broadcast its label table, which also
    // travels through the driver (bounded by the broadcast threshold,
    // not by the edge budget): joins shuffle here, so the task results
    // counted are the engine's own collects and counts
    val noBroadcast = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val saved = noBroadcast.map(k => k -> spark.conf.getOption(k))
    val sc = spark.sparkContext
    ListenerDrain.waitUntilEmpty(sc)
    noBroadcast.foreach(spark.conf.set(_, "-1"))
    sc.addSparkListener(listener)
    val clusters = try {
      val n = graft.dedup.Dedup.connectedComponents(docs, "doc_id", pairs,
        driverMaxEdges = budget).filter(col("cluster_id") =!= col("doc_id")).count()
      ListenerDrain.waitUntilEmpty(sc)
      n
    } finally {
      sc.removeSparkListener(listener)
      saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    assert(graft.dedup.Dedup.lastHashMinIters > 0, "the overflow must run hash-min")
    assert(clusters === 100000L)
    info(s"task results: ${resultBytes.get} bytes")
    assert(resultBytes.get < 2 * budget * 16)
  }
}
