package graft.core

import graft.SparkSpec

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** [[Sessions]] is the one session factory: the shared test session
  * carries its config table, and no other source file builds a
  * session (a second builder would drift from the table silently). */
class SessionsSpec extends SparkSpec {

  test("the shared test session carries every Sessions setting") {
    val core = spark.sparkContext.getConf
    assert(core.get("spark.shuffle.sort.bypassMergeThreshold") === "1")
    assert(core.get("spark.ui.enabled") === "false")
    assert(spark.conf.get("spark.sql.adaptive.enabled") === "true")
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    assert(spark.conf.get("spark.sql.shuffle.partitions") === "4")
    assert(spark.sparkContext.master === "local[4, 2]")
  }

  test("Sessions is the only place under src that builds a SparkSession") {
    val builder = """SparkSession\s*\.\s*builder""".r
    val src = Paths.get("src")
    assert(Files.isDirectory(src.resolve("main/scala/graft")),
      s"run from the project root (cwd ${Paths.get("").toAbsolutePath})")
    val files = Files.walk(src).iterator.asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala")).toVector
    def hits(p: Path) = builder.findAllMatchIn(Files.readString(p)).size
    val (factory, rest) = files.partition(_.endsWith(Paths.get("graft/core/Sessions.scala")))
    assert(factory.map(hits) === Vector(1))
    assert(rest.filter(hits(_) > 0).map(src.relativize) === Vector.empty)
  }
}
