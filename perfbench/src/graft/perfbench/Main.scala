package graft.perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

import com.sun.management.GarbageCollectionNotificationInfo

/** One benchmark run: one workload, one seed, one JVM.
  *
  *  1. build the session (the `graft.Bench` settings, `local[nproc]`);
  *  2. generate the seeded inputs (timed apart, left out of `setup_s`);
  *  3. run [[WarmPasses]] untimed warm-up pass;
  *  4. time [[MinTimed]] full pass with tracing off, and more while
  *     `--seconds` have not passed;
  *  5. with `--trace 1`, follow each timed pass with a traced one, close
  *     with one more untimed pass, and roll the listener's numbers up per
  *     span.
  *
  * Every pass ends in a checked result; one that throws or fails its
  * check counts in `failed`. Standard output gets one line of input
  * properties and run facts, then the result line. */
object Main {

  final case class Opts(workload: String = "", seed: Long = 1L, seconds: Int = 10,
      trace: Boolean = false, work: String = "", selfcheck: Boolean = false,
      traceFile: String = "")

  /** Untimed warm-up passes: the first pass pays class loading, JIT and
    * whole-stage codegen. Pass time still falls for many passes after
    * it (10–25 % from the second pass to the third), which the time
    * budget of a benchmark round does not cover; a fixed count gives
    * every run the same JIT history. */
  val WarmPasses = 1
  /** Timed passes: this many, then more while `--seconds` have not
    * passed. At the benchmark's `--seconds` the count is fixed, so a
    * faster program does not change which passes the median covers. */
  val MinTimed = 1
  /** Stop starting passes this long after JVM start (a run has 180 s). */
  val DeadlineS = 140.0

  /** Spans that shuffle, and so also report spill. */
  val SpillSpans = Set("dedup.excise", "text.prepare", "apps.wc", "apps.indexer",
    "queries.wc", "queries.indexer", "dedup.minhash", "dedup.simhash", "dedup.edit",
    "dedup.components")
  val RatioMetrics = Seq("text.extract.yield", "text.prepare.fill")

  def main(args: Array[String]): Unit = {
    val o = parse(args.toList, Opts())
    val code =
      try if (o.selfcheck) SelfCheck.run(new File(o.work)) else run(o)
      catch { case NonFatal(e) => e.printStackTrace(); 1 }
    System.out.flush()
    sys.exit(code)
  }

  private def parse(a: List[String], o: Opts): Opts = a match {
    case "--workload" :: v :: t => parse(t, o.copy(workload = v))
    case "--seed" :: v :: t => parse(t, o.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, o.copy(seconds = v.toInt))
    case "--trace" :: v :: t => parse(t, o.copy(trace = v == "1"))
    case "--work" :: v :: t => parse(t, o.copy(work = v))
    case "--trace-file" :: v :: t => parse(t, o.copy(traceFile = v))
    case "--selfcheck" :: t => parse(t, o.copy(selfcheck = true))
    case Nil => o
    case x :: _ => throw new IllegalArgumentException(s"unknown argument $x")
  }

  def session(work: File): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      .config("spark.ui.enabled", "false")
      .config("spark.ui.showConsoleProgress", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Between passes, as `graft.Bench.quiesce` does. */
  def quiesce(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    System.gc()
    Thread.sleep(150)
  }

  /** Median heap occupancy right after a collection, over the
    * collections since the last [[HeapAfterGc.reset]], MB: the live set
    * plus garbage not yet reclaimed, but never the free heap, so it
    * moves with what a pass keeps alive rather than with the heap size.
    * The median, not the largest: one collection that lands on a
    * transient peak moved the largest by 40 % from run to run. */
  object HeapAfterGc {
    private val used = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]
    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

    def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter =>
        e.addNotificationListener((n: Notification, _: AnyRef) =>
          if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val after = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
              .getGcInfo.getMemoryUsageAfterGc.asScala
            used.add(after.collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum)
          }, null, null)
      case _ =>
    }

    def reset(): Unit = used.clear()
    def medianMb: Double =
      if (used.isEmpty) 0.0 else Stats.median(used.asScala.toSeq.map(_ / 1048576.0))
  }

  /** Peak resident set of this JVM, MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }

  /** Outcome of one pass. */
  final case class PassRes(wallS: Double, cpuS: Double, heapMb: Double, digest: Option[String],
      problems: Seq[String], ratios: Seq[(String, Double)])

  /** Runs one pass of `p` and checks it; never throws. */
  def onePass(spark: SparkSession, meter: Meter, p: Prepared, span: Span): PassRes = {
    PerfbenchBus.drain(spark.sparkContext)
    val cpu0 = meter.cpuNs.get
    HeapAfterGc.reset()
    val t0 = System.nanoTime()
    val (digest, probs, ratios) =
      try {
        val out = p.run(span)
        val probs = p.problems(out)
        (Some(p.digest(out)), probs, if (span.traced) p.ratios(out) else Nil)
      } catch { case NonFatal(e) => (None, Seq(s"threw ${e.getClass.getName}: ${e.getMessage}"), Nil) }
    val wall = (System.nanoTime() - t0) / 1e9
    val heapMb = HeapAfterGc.medianMb
    PerfbenchBus.drain(spark.sparkContext)
    val cpu = (meter.cpuNs.get - cpu0) / 1e9
    quiesce(spark)
    PassRes(wall, cpu, heapMb, digest, probs, ratios)
  }

  def run(o: Opts): Int = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    HeapAfterGc.install()
    def sinceStartS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val work = new File(o.work)
    val wl = Workloads.byName(o.workload)
    val spark = session(work)
    val sessionS = sinceStartS
    val meter = new Meter
    spark.sparkContext.addSparkListener(meter)
    val inDir = new File(work, "input")
    val g0 = System.nanoTime()
    val prep = wl.generate(spark, inDir, o.seed, 1.0)
    val genS = (System.nanoTime() - g0) / 1e9

    val all = mutable.ArrayBuffer.empty[PassRes]
    var firstDigest: Option[String] = None
    def pass(span: Span): PassRes = {
      val r0 = onePass(spark, meter, prep, span)
      val r = (firstDigest, r0.digest) match {
        case (Some(a), Some(b)) if a != b => r0.copy(problems = r0.problems :+ s"output digest $b != first pass $a")
        case _ => r0
      }
      if (firstDigest.isEmpty) firstDigest = r.digest
      if (r.problems.nonEmpty) System.err.println(s"[perfbench] pass failed: ${r.problems.mkString("; ")}")
      all += r
      r
    }
    def timeLeft = sinceStartS < DeadlineS

    val warm = mutable.ArrayBuffer.empty[Double]
    while (warm.size < WarmPasses && timeLeft) warm += pass(Untraced).wallS
    val setupS = sinceStartS - genS

    // with --trace 1, traced passes alternate with untraced ones and an
    // untraced pass closes the series, so the untraced passes bracket the
    // traced ones in JIT state and their ratio is the tracing cost
    val timedB, tracedB = mutable.ArrayBuffer.empty[PassRes]
    val spans = mutable.ArrayBuffer.empty[SpanRec]
    val t0 = System.nanoTime()
    while ((timedB.size < MinTimed || (System.nanoTime() - t0) / 1e9 < o.seconds) && timeLeft) {
      timedB += pass(Untraced)
      if (o.trace) tracedB += pass(new Tracer(spark, tracedB.size, spans))
    }
    if (o.trace && timeLeft) timedB += pass(Untraced)
    val (timed, traced) = (timedB.toSeq, tracedB.toSeq)
    PerfbenchBus.drain(spark.sparkContext)

    val failed = all.count(_.problems.nonEmpty)
    val passS = Stats.median(timed.map(_.wallS))
    val info = Seq(
      "workload" -> wl.name, "seed" -> o.seed, "cores" -> Runtime.getRuntime.availableProcessors,
      "heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "input" -> (prep.props :+ ("digest" -> prep.inputDigest)),
      "output_digest" -> firstDigest.getOrElse(""),
      "session_s" -> sessionS, "gen_s" -> genS, "warmup_pass_s" -> warm.toSeq,
      "timed_pass_s" -> timed.map(_.wallS), "timed_cpu_s" -> timed.map(_.cpuS),
      "heap_after_gc_mb" -> Stats.median(timed.map(_.heapMb)),
      "pass_s_tail" -> Stats.highestTail(timed.map(_.wallS)).map { case (p, v) => Seq(s"p$p" -> v) },
      "fail_frac" -> Seq("value" -> failed.toDouble / all.size, "unit" -> "ratio"),
      "problems" -> all.flatMap(_.problems).distinct.take(20).toSeq)
    println(Json.obj(info))

    val metrics: Seq[(String, Any)] =
      if (!o.trace) Seq(
        "pass_s" -> m(passS, "s"),
        "cpu_s" -> m(Stats.median(timed.map(_.cpuS)), "s"),
        "peak_rss_mb" -> m(peakRssMb(), "MB"),
        "setup_s" -> m(setupS, "s"))
      else {
        val tracedS = Stats.median(traced.map(_.wallS))
        val perSpan = spanMetrics(meter, spans.toSeq, spark.sparkContext.defaultParallelism)
        val ratios = traced.flatMap(_.ratios).groupBy(_._1).map { case (k, vs) => k -> Stats.median(vs.map(_._2)) }
        perSpan ++ RatioMetrics.map(k => k -> m(ratios.getOrElse(k, 0.0), "ratio")) :+
          ("trace.overhead" -> m(tracedS / passS, "ratio"))
      }
    if (o.trace && o.traceFile.nonEmpty) writeSpans(new File(o.traceFile), wl, o.seed, meter, spans.toSeq)
    println(Json.obj(Seq("correct" -> (failed == 0), "attempted" -> all.size,
      "failed" -> failed, "metrics" -> metrics)))
    spark.stop()
    Gen.deleteTree(inDir)
    if (failed == 0) 0 else 1
  }

  private def m(v: Double, unit: String) = Seq("value" -> v, "unit" -> unit)

  /** The traced passes' spans with their listener rollups, as one JSON
    * file (times in ms from the first span's start). */
  def writeSpans(f: File, wl: Workload, seed: Long, meter: Meter, spans: Seq[SpanRec]): Unit = {
    val t0 = spans.map(_.startNs).minOption.getOrElse(0L)
    val rows = spans.map { r =>
      val a = meter.group(r.group)
      Seq("name" -> r.name, "parent" -> s"pass#${r.pass}",
        "start_ms" -> (r.startNs - t0) / 1e6, "end_ms" -> (r.endNs - t0) / 1e6,
        "jobs" -> a.jobs, "tasks" -> a.tasks, "cpu_s" -> a.cpuNs / 1e9, "task_run_s" -> a.runMs / 1e3,
        "gc_s" -> a.gcMs / 1e3, "shuffle_mb" -> a.shuffleBytes / 1e6,
        "spill_mb" -> a.spillBytes / 1e6, "skew" -> a.skew)
    }
    f.getParentFile.mkdirs()
    java.nio.file.Files.write(f.toPath,
      Json.obj(Seq("workload" -> wl.name, "seed" -> seed, "spans" -> rows)).getBytes("UTF-8"))
  }

  /** Per-span metrics: the median over traced passes of each span's
    * numbers; spans this workload does not call read 0. */
  def spanMetrics(meter: Meter, spans: Seq[SpanRec], cores: Int): Seq[(String, Any)] =
    Workloads.all.flatMap(_.spans).flatMap { name =>
      val recs = spans.filter(_.name == name)
      def med(f: (SpanRec, GroupAcc) => Double): Double =
        if (recs.isEmpty) 0.0 else Stats.median(recs.map(r => f(r, meter.group(r.group))))
      val base = Seq(
        "wall_s" -> m(med((r, _) => r.wallS), "s"),
        "cpu_s" -> m(med((_, a) => a.cpuNs / 1e9), "s"),
        "gc_s" -> m(med((_, a) => a.gcMs / 1e3), "s"),
        "idle_s" -> m(med((r, a) => r.wallS - a.runMs / 1e3 / cores), "s"),
        "jobs" -> m(med((_, a) => a.jobs.toDouble), "count"),
        "tasks" -> m(med((_, a) => a.tasks.toDouble), "count"),
        "shuffle_mb" -> m(med((_, a) => a.shuffleBytes / 1e6), "MB"),
        "skew" -> m(med((_, a) => a.skew), "ratio")) ++
        (if (SpillSpans(name)) Seq("spill_mb" -> m(med((_, a) => a.spillBytes / 1e6), "MB")) else Nil)
      base.map { case (k, v) => s"$name.$k" -> v }
    }
}
