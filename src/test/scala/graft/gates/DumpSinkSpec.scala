package graft.gates

import graft.{SparkEntry, SparkSpec}
import graft.core.DumpSink
import graft.dedup.Dedup
import graft.sim.Opq

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Side dumps are written by gates, not by the engine: a library call
  * with the default [[DumpSink.discard]] writes nothing under the dump
  * root, and the gate run writes exactly the dumps its oracle reads. */
class DumpSinkSpec extends SparkSpec {

  private val dumpRoot = Paths.get("/tmp/graft_oracle_side")

  /** A copy of the test corpus under a basename no other run uses, so
    * any dump named for it can only come from this spec. */
  private lazy val corpus: String = {
    val dir = Files.createTempDirectory("graft-dumpsink").resolve(
      s"nodump${java.util.UUID.randomUUID.toString.take(8)}")
    val src = Paths.get(sf())
    Files.walk(src).iterator.asScala.foreach { p =>
      val to = dir.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(to) else Files.copy(p, to)
    }
    dir.toString
  }

  private def dumpsNamedFor(dir: String): Seq[String] = {
    val base = Paths.get(dir).getFileName.toString
    if (!Files.isDirectory(dumpRoot)) Seq.empty
    else Files.list(dumpRoot).iterator.asScala.map(_.getFileName.toString)
      .filter(_.contains(s"_${base}_")).toSeq
  }

  test("the discarding sink never builds its artifact") {
    DumpSink.discard(sys.error("the artifact must not be evaluated"))
  }

  test("library calls with the default sink write no side dump") {
    Opq.topKPqOpq(spark, corpus).collect()
    Dedup.simhashPairsWide(spark, corpus).collect()
    assert(dumpsNamedFor(corpus) === Seq.empty)
  }

  test("the gate runs write the dumps their oracles read") {
    val Glob = """read_parquet\('([^']*)/\*\.parquet'\)""".r
    Seq("ann_pq_opq", "dedup_simhash_wide").foreach { name =>
      SparkEntry.queries(name)(spark, corpus).collect()
      val dirs = Glob.findAllMatchIn(SparkEntry.oracleSql(corpus)(name))
        .map(_.group(1)).toSet
      assert(dirs.nonEmpty, name)
      dirs.foreach { d =>
        val parts = Option(new java.io.File(d).listFiles()).getOrElse(Array.empty)
        assert(parts.exists(_.getName.endsWith(".parquet")), s"$name: no dump at $d")
      }
    }
  }

  test("only graft.gates and core/SideDump.scala name SideDump; no engine *DumpPath accessor") {
    val main = Paths.get("src/main/scala/graft")
    assert(Files.isDirectory(main),
      s"run from the project root (cwd ${Paths.get("").toAbsolutePath})")
    val files = Files.walk(main).iterator.asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala")).toVector
    def allowed(p: Path): Boolean =
      p.startsWith(main.resolve("gates")) || p.endsWith(Paths.get("core/SideDump.scala"))
    def naming(re: scala.util.matching.Regex): Vector[Path] =
      files.filter(p => !allowed(p) && re.findFirstIn(Files.readString(p)).nonEmpty)
        .map(main.relativize)
    assert(naming("""\bSideDump\b""".r) === Vector.empty)
    assert(naming("""def \w*[dD]umpPath\b""".r) === Vector.empty)
  }
}
