package graft.streaming

import graft.core.DumpSink
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** STREAMING MEDIA-CORPUS INGEST — the crawl-loop twin the media
  * near-dup family was missing (text, KV, drift, exact and semantic
  * dedup all have streaming twins; images did not): documents arrive
  * in ordered micro-batches, each batch runs the REAL decode → aHash
  * pass and lands its (doc_id, sig) frame as a [[DeltaIndex]] batch
  * subdir (the ExactStream/DriftStream delta-log discipline — Hadoop
  * FS IO, `_SUCCESS`-committed staged compaction), one compaction
  * folds the committed prefix MID-STREAM, and the reassembled index
  * feeds the same banded pair machinery as the one-shot gate.
  *
  * What the gate pins that the batch gates cannot: the append → list
  * → compact → read replay produces EXACTLY the one-shot signature
  * frame (MediaStreamSpec asserts frame equality; the
  * `mm_image_dedup_stream` oracle re-derives banding/caps/probes/
  * verify over the STREAMED dump — the shared mediaHashPairs shape),
  * so a lost batch, a double-landed retry, or a compaction gap all
  * become hash mismatches.
  *
  * Scale posture: per batch the work is one map-only decode pass plus
  * one parquet append; cross-batch state is the on-disk index alone
  * (nothing driver-resident grows with the stream) — the r13 13×
  * rehearsal measured the same loop at 9.9 s ingest / 65 k docs
  * (BENCH_NOTES r13, "decode-heavy streaming ingest rehearsal"). The index root
  * goes through [[graft.core.SessionScratch]] (md5+appId keying,
  * shutdown-hook cleanup) like every other session index — not a
  * raw `createTempDirectory` that accumulates across runs and only
  * exists on the driver's local disk (r13 "What's wrong #3"); a
  * production caller on HDFS/S3 passes its own `idxPath`. */
object MediaStream {

  /** One micro-batch's (doc_id, sig) frame: the id-range restriction
    * is a Column `between`, NOT a typed lambda — Catalyst pushes it
    * into the parquet scan as a row-group filter (PushedFilters on
    * doc_id; plan-asserted in MediaStreamSpec), where a typed filter
    * would re-scan the full doc_id column for every batch (r13
    * "What's wrong #3"). */
  private[streaming] def batchSigs(spark: SparkSession, sfDir: String,
      lo: Long, hi: Long): DataFrame = {
    import spark.implicits._
    // NOT widened — re-measured in r19 after the sort-writer fix
    // removed the r18 experiments' per-task overhead: still a loss
    // (3.19 -> 4.20 s warm, task 15.3k -> 23.8k ms). The 4-batch
    // decode already gets usable width from byte-range splits, and
    // 4 extra exchanges + 4x32 widened tasks remain pure fixed cost.
    spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id")
      .where(col("doc_id").between(lo, hi - 1))
      .as[Long]
      .map(id => (id, graft.multimodal.ImageDedup.imageHash(
        graft.multimodal.Jpeg.dedupPayload(id))))
      .toDF("doc_id", "sig")
  }

  /** Gate surface (`mm_image_dedup_stream`): replay the JPEG near-dup
    * fixture ([[graft.multimodal.Jpeg.dedupPayload]] — progressive +
    * baseline + twins + truncated stubs) in `nBatches` ordered
    * doc-range batches through the delta-log, compact after the
    * second batch commits, and emit the pair set from the reassembled
    * index. Pairs must equal the one-shot `mm_image_dedup_jpeg` set.
    * `idxPath` defaults to a session-scratch dir (cleaned at JVM
    * exit); callers with a real filesystem pass their own, like
    * [[ExactStream.dedupBatch]]. */
  def imageDedupStream(spark: SparkSession, sfDir: String, nBatches: Int = 4,
      maxHamming: Int = 15, maxBucket: Int = 1000,
      idxPath: String = null,
      sigsDump: DumpSink = DumpSink.discard): DataFrame = {
    val idx = Option(idxPath).getOrElse(
      graft.core.SessionScratch.path(spark, sfDir, "graft_media_stream"))
    // fresh replay per invocation: a prior run's compacted fold would
    // otherwise mask this run's b0/b1 landings in listBatches
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(idx), true)
    val maxId = spark.read.parquet(s"$sfDir/documents.parquet")
      .agg(max(col("doc_id"))).head().getLong(0)
    val step = maxId / nBatches + 1
    (0 until nBatches).foreach { b =>
      val lo = b * step
      val hi = math.min(maxId + 1, lo + step)
      batchSigs(spark, sfDir, lo, hi)
        .write.mode("overwrite").parquet(s"$idx/b$b")
      // mid-stream compaction at the committed watermark — the gate
      // replays THROUGH the staged protocol, not around it
      if (b == 1)
        DeltaIndex.compact(spark, idx, upTo = 2L) { parts =>
          parts.map(spark.read.parquet(_)).reduce(_ unionByName _)
        }
    }
    val index = spark.read.parquet(
      DeltaIndex.listBatches(spark, idx): _*)
    graft.multimodal.SigDump.dumpAndPair(index, maxHamming, maxBucket,
      sigsDump)
  }
}
