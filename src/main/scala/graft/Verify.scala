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
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val manifest = failed.map { case (k, e) =>
      s"""${q(k)}: {"class": ${q(e.getClass.getName)}, "message": ${q(String.valueOf(e.getMessage).take(500))}}"""
    }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/failed.json"), manifest)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} queries failed: ${failed.keys.mkString(",")}")
      sys.exit(1)
    }
  }
}
