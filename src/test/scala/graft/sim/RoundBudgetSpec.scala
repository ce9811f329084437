package graft.sim

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graftprobe.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import graft.SparkSpec

/** The ANN trainers run their rounds as plain scheduler jobs over one
  * persisted corpus, so the SQL executions a call starts are only the
  * ones it cannot avoid: side-dump writes. A Dataset round added back
  * to a trainer or to the PQ tail fails here instead of only slowing
  * the benchmark. */
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

  test("topKPqOpq: SQL executions are the corpus scan and the side-dump writes") {
    val (sql, jobs) = counted { Opq.topKPqOpq(spark, sf()).collect() }
    info(s"topKPqOpq: $sql SQL executions, $jobs jobs")
    // the corpus scan behind the persisted RDD, the opq_rot and
    // opq_books dumps, and the collect of the local result relation
    assert(sql === 4)
  }
}
