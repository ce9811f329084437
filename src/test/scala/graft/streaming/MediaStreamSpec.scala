package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.io.File

/** Streaming media ingest: the per-batch decode+hash landing replayed
  * through the delta-log (with its mid-stream staged compaction) must
  * reassemble to EXACTLY the one-shot signature frame, and the pair
  * set must equal the one-shot gate's. */
class MediaStreamSpec extends SparkSpec {

  test("stream-landed index == one-shot signatures; pairs == the one-shot gate") {
    import spark.implicits._
    val streamPairs = MediaStream.imageDedupStream(spark, sf())
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val oneShotPairs = graft.multimodal.Jpeg.imageDedupJpeg(spark, sf())
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamPairs === oneShotPairs)
    assert(streamPairs.nonEmpty)
    // the streamed dump IS the one-shot signature frame, row for row
    val streamed = spark.read.parquet(
        graft.streaming.MediaStream.dumpPath(
          new File(sf()).getName))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val oneShot = spark.read.parquet(s"${sf()}/documents.parquet")
      .select("doc_id").as[Long]
      .map(id => (id, graft.multimodal.ImageDedup.imageHash(
        graft.multimodal.Jpeg.dedupPayload(id))))
      .collect().toSet
    assert(streamed === oneShot)
    // (the compaction protocol itself — staged _SUCCESS commit, crash
    // roll-forward — is pinned by the DriftStreamSpec family; here the
    // mid-stream compact sits INSIDE the replay whose frame equality
    // was just asserted)
  }

  test("batch-count invariance: 2 and 5 batches land the identical pair set") {
    val p2 = MediaStream.imageDedupStream(spark, sf(), nBatches = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val p5 = MediaStream.imageDedupStream(spark, sf(), nBatches = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(p2 === p5)
  }

  test("batch id-range filter pushes into the parquet scan (r13 What's wrong #3)") {
    val plan = MediaStream.batchSigs(spark, sf(), 10L, 20L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters:") &&
      plan.replaceAll("\\s", "").matches(
        "(?s).*PushedFilters:\\[[^\\]]*doc_id[^\\]]*\\].*"),
      s"expected a pushed doc_id row-group filter, plan was:\n$plan")
  }

  test("index root goes through SessionScratch — no stray temp dirs accumulate") {
    def dirs(): Set[String] = java.nio.file.Files
      .list(java.nio.file.Paths.get("/tmp")).toArray.map(_.toString)
      .filter(_.contains("graft_media_stream")).toSet
    val before = dirs()
    MediaStream.imageDedupStream(spark, sf(), nBatches = 2).count()
    val created = dirs() -- before
    // every dir this run created carries the session-scratch key
    // (md5 + appId → registered for shutdown-hook deletion); the old
    // createTempDirectory root accumulated an anonymous dir per run
    assert(created.forall(_.contains(spark.sparkContext.applicationId)),
      s"media-stream index dirs outside the session-scratch key: $created")
    // and repeat runs REUSE the one keyed root instead of minting more
    MediaStream.imageDedupStream(spark, sf(), nBatches = 2).count()
    assert((dirs() -- before) === created, "a second run minted a new dir")
  }
}
