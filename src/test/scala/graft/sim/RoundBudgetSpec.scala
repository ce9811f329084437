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
  * here instead of only slowing the benchmark. */
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
    assert(sql === 4)
    assert(jobs === 13)
  }
}
