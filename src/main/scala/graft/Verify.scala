package graft
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB oracle compare. A query that
  * throws is recorded in `<outDir>/failed.json` (query → exception class
  * and message; `{}` when none failed), and the run then exits 1 — after
  * every other dump and oracle_sql.json are written. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = graft.core.Sessions.local()
    new java.io.File(outDir).mkdirs()
    // optional comma-separated query filter for local iteration (same
    // contract as Bench); the driver never sets it, so the gate always
    // dumps the full surface
    val only = SparkEntry.parseOnlyFilter(sys.env.get("SPARK_GRAFT_ONLY"))
    val failed = scala.collection.mutable.LinkedHashMap[String, Throwable]()
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case NonFatal(e) =>
        failed(name) = e
        System.err.println(s"[verify] $name failed: ${e.getClass.getName}: ${e.getMessage}")
        Option(e.getCause).foreach(c =>
          System.err.println(s"[verify]   caused by: ${c.getClass.getName}: ${c.getMessage}"))
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      SelfCheck.jsonObject(SparkEntry.oracleSql(sfDir).toSeq.sortBy(_._1)))
    val manifest = SelfCheck.mapper.createObjectNode()
    failed.foreach { case (k, e) =>
      manifest.putObject(k).put("class", e.getClass.getName)
        .put("message", String.valueOf(e.getMessage).take(500))
    }
    Files.writeString(Paths.get(s"$outDir/failed.json"),
      SelfCheck.mapper.writeValueAsString(manifest))
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} queries failed: ${failed.keys.mkString(",")}")
      sys.exit(1)
    }
  }
}
