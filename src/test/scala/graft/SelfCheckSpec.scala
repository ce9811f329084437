package graft

import org.scalatest.funsuite.AnyFunSuite

/** Unit pins for the SelfCheck artifact validator, plus the live check
  * against `target/bench_last.json` when one exists (cancelled on a
  * fresh clone — `sbt test` right after a bench run flags any `-1`
  * the way round 7 needed). */
class SelfCheckSpec extends AnyFunSuite {

  test("parse reads queries and errors maps") {
    val a = SelfCheck.parse(
      """{"metric":"total","value":1.0,"unit":"sec",
        |"queries":{"q1":0.5,"q2":-1.0},
        |"errors":{"q2":"boom: bad column"},"sf":"x"}""".stripMargin)
    assert(a.queries === Map("q1" -> 0.5, "q2" -> -1.0))
    assert(a.errors === Map("q2" -> "boom: bad column"))
  }

  test("artifact JSON round-trips quotes, backslashes and control chars") {
    val tricky = "say \"hi\" \\ tab\there\rcr\u0001end"
    assert(Seq('"', '\\', '\t', '\r', '\u0001').forall(c => tricky.contains(c)))
    val errs = SelfCheck.jsonObject(Seq("q2" -> tricky))
    val a = SelfCheck.parse(s"""{"queries":{"q2":-1.0},"errors":$errs}""")
    assert(a.errors === Map("q2" -> tricky))
  }

  test("findings flags missing rows, negative values, and stray errors") {
    val full = SparkEntry.queries.keys.map(_ -> 0.1).toMap
    assert(SelfCheck.findings(SelfCheck.BenchArtifact(full, Map.empty)).isEmpty)

    val k = SparkEntry.queries.keys.head
    val missing = SelfCheck.BenchArtifact(full - k, Map.empty)
    assert(SelfCheck.findings(missing).exists(_.contains("no bench row")))

    val negative = SelfCheck.BenchArtifact(full + (k -> -1.0),
      Map(k -> "analysis failed"))
    val fs = SelfCheck.findings(negative)
    assert(fs.exists(f => f.contains("failed run") && f.contains("analysis failed")))

    val stray = SelfCheck.BenchArtifact(full, Map(k -> "flaky once"))
    assert(SelfCheck.findings(stray).exists(_.contains("error recorded")))
  }

  test("negative attribution is flagged per metric, not masked by the other map") {
    // r16 advice: taskMs ++ gcMs let a key's gc_ms overwrite its
    // negative task_ms — each map must be checked on its own, and
    // the finding must NAME the metric
    val full = SparkEntry.queries.keys.map(_ -> 0.1).toMap
    val k = SparkEntry.queries.keys.head
    val taskMs = full.keys.map(_ -> 1L).toMap + (k -> -5L)
    val gcMs = full.keys.map(_ -> 0L).toMap // k's gc_ms is fine
    val a = SelfCheck.BenchArtifact(full, Map.empty, Map.empty, taskMs, gcMs)
    val fs = SelfCheck.findings(a)
    assert(fs.exists(f => f.contains(k) && f.contains("negative task_ms")), fs)
    // and symmetrically for gc_ms
    val b = SelfCheck.BenchArtifact(full, Map.empty, Map.empty,
      full.keys.map(_ -> 1L).toMap, gcMs + (k -> -3L))
    assert(SelfCheck.findings(b)
      .exists(f => f.contains(k) && f.contains("negative gc_ms")))
    // both clean → no attribution findings
    assert(SelfCheck.findings(SelfCheck.BenchArtifact(full, Map.empty,
      Map.empty, full.keys.map(_ -> 1L).toMap, gcMs)).isEmpty)
  }

  test("parse reads the plans map; planDrift flags only changed shared keys") {
    val cur = SelfCheck.parse(
      """{"queries":{"q1":0.5,"q2":0.4,"q3":0.3},
        |"plans":{"q1":"aaaa","q2":"bbbb","q3":"cccc"},"errors":{}}""".stripMargin)
    assert(cur.plans === Map("q1" -> "aaaa", "q2" -> "bbbb", "q3" -> "cccc"))
    val prev = SelfCheck.BenchArtifact(Map.empty, Map.empty,
      // q1 unchanged, q2 drifted, q4 only in prev (ignored), q3 absent
      Map("q1" -> "aaaa", "q2" -> "dddd", "q4" -> "eeee"))
    val drift = SelfCheck.planDrift(cur, prev)
    assert(drift === Seq("q2: plan shape dddd -> bbbb"))
    // artifacts without plans maps (older rounds) diff to empty
    assert(SelfCheck.planDrift(cur, SelfCheck.BenchArtifact(Map.empty, Map.empty)).isEmpty)
  }

  test("live bench artifact (if present) is clean") {
    val p = java.nio.file.Paths.get("target/bench_last.json")
    assume(java.nio.file.Files.exists(p), "no bench artifact in this checkout")
    val fs = SelfCheck.findings(SelfCheck.parse(java.nio.file.Files.readString(p)))
    assert(fs.isEmpty, fs.mkString("\n"))
  }
}
