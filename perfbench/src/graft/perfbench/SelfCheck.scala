package graft.perfbench

import java.io.File

import scala.collection.mutable
import scala.util.control.NonFatal

/** Checks on the harness itself (`run.py --selfcheck`), at reduced input
  * sizes:
  *  - the same seed gives the same input digest, another seed another;
  *  - a real pass passes its output check, and each perturbed copy of
  *    its output fails it;
  *  - a percentile with fewer than ten samples beyond it is refused. */
object SelfCheck {
  val Scale = 0.2

  def run(work: File): Int = {
    val results = mutable.ArrayBuffer.empty[(String, Boolean)]
    def expect(what: String)(ok: => Boolean): Unit = {
      val v = try ok catch { case NonFatal(e) => System.err.println(s"[selfcheck] $what: $e"); false }
      println(s"[selfcheck] ${if (v) "ok  " else "FAIL"} $what")
      results += what -> v
    }

    expect("p90 of 50 samples (5 beyond) is refused")(Stats.tail((1 to 50).map(_.toDouble), 90).isEmpty)
    expect("p90 of 100 samples (10 beyond) is quoted")(Stats.tail((1 to 100).map(_.toDouble), 90).nonEmpty)
    expect("no tail percentile from 9 samples")(Stats.highestTail((1 to 9).map(_.toDouble)).isEmpty)
    expect("quartiles match Python's statistics.quantiles") {
      val xs = Seq(1.0, 2, 3, 4, 5, 6, 7, 8, 9, 10)
      Stats.quantile(xs, 0.25) == 2.75 && Stats.quantile(xs, 0.75) == 8.25
    }

    val spark = Main.session(work)
    try {
      expect("ann_ivf: the driver-side exact top-k equals Similarity.topKExact")(
        AnnIvf.oracleAgrees(spark, new File(work, "oracle")))
      for (wl <- Workloads.parts) {
        def gen(seed: Long, tag: String) = wl.generate(spark, new File(work, s"${wl.name}-$tag"), seed, Scale)
        val a = gen(1, "a")
        val b = gen(1, "b")
        val c = gen(2, "c")
        expect(s"${wl.name}: same seed, same input digest")(a.inputDigest == b.inputDigest)
        expect(s"${wl.name}: other seed, other input digest")(a.inputDigest != c.inputDigest)
        val out = a.run(Untraced)
        expect(s"${wl.name}: a real pass passes its check")(a.problems(out).isEmpty)
        for ((what, bad) <- a.perturbations(out)) {
          expect(s"${wl.name}: perturbed ($what), fails its check")(a.problems(bad).nonEmpty)
          expect(s"${wl.name}: perturbed ($what), changes the digest")(a.digest(bad) != a.digest(out))
        }
        Main.quiesce(spark)
      }
    } finally spark.stop()
    val failed = results.count(!_._2)
    println(Json.obj(Seq("selfcheck" -> (failed == 0), "checks" -> results.size, "failed" -> failed)))
    if (failed == 0) 0 else 1
  }
}
