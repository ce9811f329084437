package graft.tools

/** Print a registered query's EXECUTED physical plan (AQE final, so
  * coalesced/replanned exchanges show as they actually ran) — the
  * plan-audit companion to Bench's fingerprint: when a fingerprint
  * drifts or a stage runs narrower than expected, this shows why.
  * Usage: runMain graft.tools.ExplainQuery <query> [sfDir]; it plans
  * on Bench's session (`SPARK_GRAFT_CPUS`, default 4), so the width
  * matches the Bench run whose fingerprint it explains. Not a gate;
  * not registered. */
object ExplainQuery {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = graft.core.Sessions.local()
    // per-stage rollup on stderr, one line per completed stage: wall,
    // run/deser/gc/cpu sums, longest task, task count, shuffle records
    // read+written — enough to separate real row work from per-task
    // fixed overhead (deser, GC, non-CPU wait). Stage widths and the
    // plan must come from ONE execution to correlate.
    final case class St(run: Long, mx: Long, n: Int, deser: Long,
        gc: Long, cpuNs: Long, rRead: Long, rWrite: Long)
    val stageTask = new java.util.concurrent.ConcurrentHashMap[Int, St]
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) stageTask.merge(e.stageId,
          St(m.executorRunTime, m.executorRunTime, 1,
            m.executorDeserializeTime, m.jvmGCTime, m.executorCpuTime,
            m.shuffleReadMetrics.recordsRead,
            m.shuffleWriteMetrics.recordsWritten),
          (a, b) => St(a.run + b.run, math.max(a.mx, b.mx), a.n + b.n,
            a.deser + b.deser, a.gc + b.gc, a.cpuNs + b.cpuNs,
            a.rRead + b.rRead, a.rWrite + b.rWrite))
      }
      override def onStageCompleted(
          e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        val wall = (for {s <- i.submissionTime; c <- i.completionTime}
          yield c - s).getOrElse(-1L)
        // evict after printing: a re-attempt's tasks must not fold
        // into a stale entry
        val s = Option(stageTask.remove(i.stageId))
          .getOrElse(St(0, 0, 0, 0, 0, 0, 0, 0))
        System.err.println(f"[stage] id=${i.stageId}%-4d wall=${wall}%6dms " +
          f"task_sum=${s.run}%7dms task_max=${s.mx}%6dms n=${s.n}%4d " +
          f"planned=${i.numTasks}%4d deser=${s.deser}%5dms gc=${s.gc}%5dms " +
          f"cpu=${s.cpuNs / 1000000}%7dms rin=${s.rRead}%8d rout=${s.rWrite}%8d " +
          s"name=${i.name.takeWhile(_ != '\n').take(60)} " +
          s"rdds=${i.rddInfos.map(_.name).filter(_ != null).distinct.mkString("|").take(120)}")
      }
    })
    // SPARK_GRAFT_EXPLAIN_WARMUP=1 replicates the bench's prelude
    // (q_wc noop save + cache clear + GC) to chase state-dependent
    // AQE decisions
    if (sys.env.contains("SPARK_GRAFT_EXPLAIN_WARMUP")) {
      graft.SparkEntry.queries("q_wc")(spark, sfDir)
        .write.mode("overwrite").format("noop").save()
      spark.catalog.clearCache()
      System.gc()
      Thread.sleep(150)
    }
    val df = graft.SparkEntry.queries(name)(spark, sfDir)
    // drive THIS QueryExecution (df.count()/df.write would plan
    // their own): executing the plan's RDD directly finalizes AQE in
    // place, so the print below shows the real AQEShuffleRead /
    // replanned exchanges. SPARK_GRAFT_EXPLAIN_NOOP=1 instead drives
    // the bench's exact path (noop V2 write) — the write plans its
    // own QueryExecution, so the printed plan is then only the
    // pre-execution shape, but the [stage] lines show what really ran
    val n =
      if (sys.env.contains("SPARK_GRAFT_EXPLAIN_NOOP")) {
        df.write.mode("overwrite").format("noop").save(); -1L
      } else df.queryExecution.executedPlan.execute().count()
    println(s"=== $name executed plan (AQE final; count=$n) ===")
    println(s"fingerprint=${graft.core.PlanFingerprint.of(df)}")
    println(df.queryExecution.executedPlan.toString)
    spark.stop()
  }
}
