package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Wraps one public layer call of a pass. A traced span runs its call in
  * its own Spark job group, so the [[Meter]] can attribute every task to
  * it; an untraced span only runs the call. */
trait Span {
  def traced: Boolean
  def apply[T](name: String)(body: => T): T
}

object Untraced extends Span {
  val traced = false
  def apply[T](name: String)(body: => T): T = body
}

/** A closed span: the layer call `name` inside traced pass `pass` (the
  * pass is the trace id and the parent of every span in it). */
final case class SpanRec(name: String, pass: Int, startNs: Long, endNs: Long) {
  def group: String = Tracer.group(name, pass)
  def wallS: Double = (endNs - startNs) / 1e9
}

final class Tracer(spark: SparkSession, pass: Int, out: mutable.Buffer[SpanRec]) extends Span {
  val traced = true
  def apply[T](name: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setJobGroup(Tracer.group(name, pass), name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    try body
    finally {
      out += SpanRec(name, pass, t0, System.nanoTime())
      sc.clearJobGroup()
    }
  }
}

object Tracer {
  def group(name: String, pass: Int): String = s"$name#$pass"
}

/** Task metrics of one job group. Mutated only on the listener thread;
  * read after [[org.apache.spark.PerfbenchBus.drain]]. */
final class GroupAcc {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var runMs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  val stageWallMs = mutable.Map.empty[Int, Long]

  /** Max over median task run time in the group's longest stage (by
    * stage wall time); 1.0 for a group with no tasks. */
  def skew: Double = {
    val ran = stageTaskMs.keys.toSeq
    if (ran.isEmpty) 1.0
    else {
      val longest = ran.maxBy(s => (stageWallMs.getOrElse(s, 0L), stageTaskMs(s).sum, -s))
      val ts = stageTaskMs(longest).map(_.toDouble).toSeq
      ts.max / math.max(Stats.median(ts), 1.0)
    }
  }
}

/** Listener behind every executor-side number: the executor CPU of all
  * tasks (for untraced passes) and per-job-group rollups (for traced
  * spans). */
final class Meter extends SparkListener {
  val cpuNs = new AtomicLong
  private val stageGroup = new ConcurrentHashMap[Int, String]
  private val groups = new ConcurrentHashMap[String, GroupAcc]

  def group(g: String): GroupAcc = groups.computeIfAbsent(g, _ => new GroupAcc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.foreach { g =>
      group(g).jobs += 1
      e.stageIds.foreach(stageGroup.put(_, g))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    cpuNs.addAndGet(m.executorCpuTime)
    val g = stageGroup.get(e.stageId)
    if (g != null) {
      val a = group(g)
      a.tasks += 1
      a.cpuNs += m.executorCpuTime
      a.runMs += m.executorRunTime
      a.gcMs += m.jvmGCTime
      a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      a.spillBytes += m.diskBytesSpilled
      a.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val g = stageGroup.get(i.stageId)
    if (g != null) for (s <- i.submissionTime; c <- i.completionTime)
      group(g).stageWallMs(i.stageId) = c - s
  }
}
