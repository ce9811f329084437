package graft.core

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The reliable-checkpoint option (r14 "What's wrong #3"): the big
  * mid-pipeline frames default to localCheckpoint (fastest;
  * idempotent-rerun posture), and `graft.checkpoint.reliable=true`
  * switches them to a scratch-parquet write-through that survives
  * executor loss at cluster scale. The two forms must be
  * OBSERVATIONALLY IDENTICAL — same rows through the same downstream
  * plans — across representative consumers of Materialize.frame. */
class MaterializeSpec extends SparkSpec {

  private def withReliable[A](body: => A): A = {
    spark.conf.set("graft.checkpoint.reliable", "true")
    try body finally spark.conf.unset("graft.checkpoint.reliable")
  }

  test("frame: both forms yield the same rows and cut lineage") {
    import spark.implicits._
    val df = (0L until 1000L).map(i => (i, s"v${i % 97}"))
      .toDF("id", "v").filter(col("id") % 3 =!= 1)
    val a = Materialize.frame(df, "spec_local").collect().map(_.toString).sorted
    val b = withReliable {
      Materialize.frame(df, "spec_reliable").collect().map(_.toString).sorted
    }
    assert(a.toSeq === b.toSeq)
  }

  test("SigDump pair tail: identical pairs under both checkpoint forms") {
    import spark.implicits._
    val sigs = (0L until 400L)
      .map(i => (i, if (i % 2 == 1) (i - 1) * 0x9E3779B97F4A7C15L
        else i * 0x9E3779B97F4A7C15L))
      .toDF("doc_id", "sig")
    def run(): Seq[(Long, Long)] =
      graft.multimodal.SigDump.dumpAndPair(sigs, "mat_probe_sigs", sf(),
        15, 1000)
        .select(col("i").cast("long"), col("j").cast("long"))
        .as[(Long, Long)].collect().sorted.toSeq
    val local = run()
    val reliable = withReliable(run())
    assert(local.nonEmpty && local === reliable)
  }

  test("EditDedup collapse: identical pair sets under both checkpoint forms") {
    import spark.implicits._
    val docs = (0L until 60L).map { i =>
      val base = s"alpha beta gamma delta epsilon zeta eta theta doc${i / 2}"
      (i, if (i % 2 == 1) base + " extraword" else base)
    }.toDF("doc_id", "text")
    def run(): Seq[(Long, Long)] =
      graft.dedup.EditDedup.editPairsOf(docs)
        .select(col("doc_a").cast("long"), col("doc_b").cast("long"))
        .as[(Long, Long)].collect().sorted.toSeq
    val local = run()
    val reliable = withReliable(run())
    assert(local.nonEmpty && local === reliable)
  }
}
