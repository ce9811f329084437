package graft.perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** One named workload: a seeded input generator plus the pass it times. */
trait Workload {
  def name: String

  /** The public layer calls a pass makes, in order; one span each. */
  def spans: Seq[String]

  /** Writes the inputs for `seed` under `dir`. `scale` shrinks the sizes
    * (1.0 is the benchmark; the self-checks use less). */
  def generate(spark: SparkSession, dir: File, seed: Long, scale: Double): Prepared
}

/** Generated inputs and everything needed to run and check a pass. */
abstract class Prepared {
  type Out

  /** Input size and properties, printed with the metrics. */
  def props: Seq[(String, Any)]

  /** Digest of the generated input content. */
  def inputDigest: String

  /** One pass: input to a complete result, each layer call in a span. */
  def run(span: Span): Out

  /** Why `out` is wrong; empty when it passes the check. */
  def problems(out: Out): Seq[String]

  def digest(out: Out): String

  /** Copies of `out`, each with one error planted and named, for the
    * harness self-check: every one must fail [[problems]]. */
  def perturbations(out: Out): Seq[(String, Out)]

  /** Waste ratios measured at span boundaries (traced passes only). */
  def ratios(out: Out): Seq[(String, Double)] = Nil
}

/** Two workloads run as one: both inputs are generated under one dir, and
  * a pass runs `a`'s pass and then `b`'s. */
final class Both(val name: String, a: Workload, b: Workload) extends Workload {
  val spans = a.spans ++ b.spans

  def generate(spark: SparkSession, dir: File, seed: Long, scale: Double): Prepared = {
    val pa = a.generate(spark, new File(dir, a.name), seed, scale)
    val pb = b.generate(spark, new File(dir, b.name), seed, scale)
    new Prepared {
      type Out = (pa.Out, pb.Out)
      val props = Seq(a.name -> pa.props, b.name -> pb.props)
      val inputDigest = new Gen.Digest().add(pa.inputDigest).add(pb.inputDigest).hex
      def run(span: Span): Out = (pa.run(span), pb.run(span))
      def problems(o: Out): Seq[String] = pa.problems(o._1) ++ pb.problems(o._2)
      def digest(o: Out): String = new Gen.Digest().add(pa.digest(o._1)).add(pb.digest(o._2)).hex
      def perturbations(o: Out): Seq[(String, Out)] =
        pa.perturbations(o._1).map { case (k, x) => s"${a.name}: $k" -> ((x, o._2)) } ++
          pb.perturbations(o._2).map { case (k, x) => s"${b.name}: $k" -> ((o._1, x)) }
      override def ratios(o: Out): Seq[(String, Double)] = pa.ratios(o._1) ++ pb.ratios(o._2)
    }
  }
}

object Workloads {
  /** Each named layer call is measured in one of these parts. */
  val parts: Seq[Workload] = Seq(CrawlPack, NearDup, MrApps, AnnIvf)
  /** The benchmark's workloads: two parts to a JVM, so a round of runs
    * pays two JVM starts and two cold passes, not four. */
  val all: Seq[Workload] = Seq(new Both("crawl_dedup", CrawlPack, NearDup), new Both("mr_sim", MrApps, AnnIvf))
  def byName(n: String): Workload = all.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(s"unknown workload $n"))
}

/** The result lines as JSON, through Jackson. A `Seq` of
  * `(String, _)` pairs renders as an object with its keys in order;
  * other collections render as arrays. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  def obj(kv: Seq[(String, Any)]): String = mapper.writeValueAsString(toJava(kv))

  private def toJava(v: Any): Any = v match {
    case Some(x) => toJava(x)
    case None => null
    case kv: Seq[_] if kv.nonEmpty && kv.forall { case (_: String, _) => true; case _ => false } =>
      val m = new java.util.LinkedHashMap[String, Any]
      kv.foreach { case (k: String, x) => m.put(k, toJava(x)) }
      m
    case xs: Iterable[_] =>
      val l = new java.util.ArrayList[Any]
      xs.foreach(x => l.add(toJava(x)))
      l
    case x => x
  }
}
