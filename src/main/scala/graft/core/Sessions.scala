package graft.core

import org.apache.spark.sql.SparkSession

/** The one place graft builds a SparkSession. Every main (`Bench`,
  * `Verify`, `tools.ExplainQuery`, `tools.ScaleFixture`) and the test
  * suites' shared session take their settings from the table below; only
  * the master string is a per-deployment choice. A cluster deployment
  * adds [[GraftExtensions]] through `spark.sql.extensions` instead. */
object Sessions {
  /** Local cores for the mains: `SPARK_GRAFT_CPUS`, default 4. */
  private lazy val cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** The config table. Shuffle partitions follow the core count. */
  private def settings(cores: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.adaptive.enabled" -> "true",
    // force the SORT shuffle writer at local reduce counts (r19):
    // with R = cores ≤ 200 Spark picks the bypass-merge writer, which
    // creates R partition files PER MAP TASK (M·R file creates +
    // fsyncs + the shared IndexShuffleBlockResolver commit lock per
    // exchange). Thread-dump sampling during 32-wide stages showed
    // ~30% of worker time inside FileOutputStream.open0 /
    // writeMetadataFileAndCommit — the long-unexplained uniform
    // per-task non-CPU wait (r17/r18 widening losses, the 8c-beats-
    // 32c inversion). Production reduce counts (> 200) never select
    // the bypass writer, so this also makes local runs exercise the
    // same writer path as a cluster. Measured (5-key subset, 32c):
    // mm_image_dedup_png 5.30 → 3.50 s (task 89 → 43 s),
    // mm_image_dedup_stream task 41.6 → 9.9 s.
    "spark.shuffle.sort.bypassMergeThreshold" -> "1",
    "spark.ui.enabled" -> "false",
    "spark.sql.session.timeZone" -> "UTC",
    // if events.parquet carries TIMESTAMP(NANOS), surface it as long ns
    // (Spark has no ns type); µs-precision fixtures arrive as
    // TIMESTAMP/TIMESTAMP_NTZ — graft.sources.EventTime adapts per-schema
    "spark.sql.legacy.parquet.nanosAsLong" -> "true")

  /** A session on `master` (e.g. `local[4]`, or `local[4, 2]` for
    * task retry) with `cores` shuffle partitions, logging at WARN. */
  def create(master: String, cores: Int): SparkSession = {
    val b = SparkSession.builder().master(master).appName("graft")
    settings(cores).foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The mains' session: `local[cpus]`. */
  def local(): SparkSession = create(s"local[$cpus]", cpus)
}
