package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session plumbing: one SparkSession per suite (lazy), built
  * by [[graft.core.Sessions]] with 4 cores. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"
}

object SparkSpec {
  // local[N, maxFailures]: task retry is ON (2 attempts) so the
  // crash-recovery differential (CrashRecoverySpec) can exercise
  // Spark's re-execution guarantee — spark.task.maxFailures is
  // ignored by the local scheduler, only the master string counts.
  lazy val session: SparkSession = graft.core.Sessions.create("local[4, 2]", 4)
}
