package graft.core

import org.apache.spark.sql.DataFrame

/** Lineage-cutting materialization for the multi-GB mid-pipeline
  * frames (ExactStream's ledger fold, SemStream's chunk vectors,
  * EditDedup's normalized corpus, SigDump's signature frames).
  *
  * Default: `localCheckpoint` — executor-memory/disk-local, the right
  * cost at gate scale and for idempotent batch jobs (a rerun is the
  * same answer). Its cluster-scale caveat (r14 "What's wrong #3"): a
  * lost executor invalidates locally-held blocks and FAILS the job
  * instead of recomputing. With `eager = false` the local form is
  * filled by its first reader instead of a job of its own: pass it
  * only where that reader computes every partition at full width (a
  * `coalesce(1)` dump as first reader would compute the whole frame
  * in one task), and where nothing needs the frame fixed before the
  * next step runs.
  *
  * Opt-in reliable form — Spark conf `graft.checkpoint.reliable=true`
  * (or env `SPARK_GRAFT_RELIABLE_CHECKPOINT=1`): write-through to
  * scratch parquet on the session's default filesystem (HDFS/S3 on a
  * real cluster — set `graft.scratch.dir` there; /tmp locally) and
  * read back. Survives executor loss at the cost of one
  * write+read of the frame; MaterializeSpec pins that both forms
  * produce identical downstream results, and BENCH_NOTES records the
  * measured overhead. */
object Materialize {

  private val counter = new java.util.concurrent.atomic.AtomicLong(0)

  def frame(df: DataFrame, tag: String, eager: Boolean = true): DataFrame = {
    val spark = df.sparkSession
    val reliable = spark.conf.getOption("graft.checkpoint.reliable")
      .orElse(sys.env.get("SPARK_GRAFT_RELIABLE_CHECKPOINT"))
      .exists(v => v == "true" || v == "1")
    if (!reliable) df.localCheckpoint(eager)
    else {
      val root = spark.conf.getOption("graft.scratch.dir").getOrElse("/tmp")
      val p = s"$root/graft_ckpt_${tag}_${counter.incrementAndGet()}_" +
        spark.sparkContext.applicationId
      // cleanup through the path's OWN filesystem: the scratch dir is
      // HDFS/S3 on a real cluster, where java.io.File deletion is a
      // silent no-op leaking every checkpointed frame (code-review r15)
      val hconf = new org.apache.hadoop.conf.Configuration(
        spark.sparkContext.hadoopConfiguration)
      registerForCleanup(p, hconf)
      df.write.mode("overwrite").parquet(p)
      spark.read.parquet(p)
    }
  }

  // keyed BY PATH (ADVICE r15): Configuration never compares equal
  // across instances, so a (path, conf) tuple set re-registers the
  // same path forever; last-registered conf wins, which is fine —
  // any conf that resolves the path's filesystem deletes it
  private val cleanupPaths = scala.collection.mutable
    .Map.empty[String, org.apache.hadoop.conf.Configuration]
  private lazy val hookInstalled: Boolean = {
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      cleanupPaths.synchronized(cleanupPaths.toSeq).foreach { case (p, conf) =>
        try {
          val hp = new org.apache.hadoop.fs.Path(p)
          hp.getFileSystem(conf).delete(hp, true)
        } catch { case _: Exception => () } // best-effort at shutdown
      }))
    true
  }
  private def registerForCleanup(p: String,
      conf: org.apache.hadoop.conf.Configuration): Unit = {
    require(hookInstalled)
    cleanupPaths.synchronized { cleanupPaths(p) = conf; () }
  }
}
