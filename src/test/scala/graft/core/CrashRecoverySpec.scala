package graft.core

import graft.{SparkSpec, TestCorpus}
import graft.apps.ReferenceApps
import org.apache.spark.TaskContext
import org.apache.spark.util.LongAccumulator

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Crash-recovery differential — the twin of the reference's hardest MR
  * test (`src/main/test-mr.sh:286-332` running `src/mrapps/crash.go`):
  * tasks die mid-job and the final output must still equal the
  * no-failure golden. The reference recovers via coordinator task
  * re-assignment (`src/mr/coordinator.go` 10-s reexecution); here the
  * same guarantee is Spark task retry (`local[4, 2]` in SparkSpec) +
  * FileOutputCommitter atomic commit.
  *
  * Injection is deterministic and STRICTER than crash.go's 33% coin:
  * every first attempt (`TaskContext.attemptNumber == 0`) of every task
  * in the probed stage throws, so every map/reduce task fails exactly
  * once and must be recovered. Proof that failures actually fired:
  * accumulators count executions with `attemptNumber > 0` — Spark
  * discards accumulator updates from FAILED attempts, so counting at
  * crash time would read zero; a nonzero retry count is only possible
  * if an attempt-0 task really threw and was re-executed.
  *
  * Input is [[graft.TestCorpus]], the in-repo 8-file corpus: the
  * contract is about task re-execution, not about the Gutenberg text.
  */
class CrashRecoverySpec extends SparkSpec {

  private lazy val corpusDir: String = TestCorpus.write(bodyTokens = 20000)
  private def corpusGlob: String = TestCorpus.glob(corpusDir)

  private def readSorted(outDir: String): Seq[String] =
    Files.list(Paths.get(outDir)).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-"))
      .flatMap(p => Files.readAllLines(p, UTF_8).asScala)
      .toVector.filter(_.nonEmpty).sorted

  private def runJob(
      mapf: (String, String) => IterableOnce[KeyValue],
      reducef: (String, Iterator[String]) => String): Seq[String] = {
    import spark.implicits._
    val out = Files.createTempDirectory("graft-crash").toString + "/out"
    val input = MapReduce.wholeTextFiles(spark, corpusGlob)
      .map { case (uri, c) => (uri.substring(uri.lastIndexOf('/') + 1), c) }
    MapReduce.writeTextSinkFnvParity(
      MapReduce.run(spark, input, mapf, reducef, numPartitions = 5), out, 5)
    readSorted(out)
  }

  test("first-attempt crashes in map AND reduce stages recover to the no-failure golden") {
    val mapRetries = spark.sparkContext.longAccumulator("mapRetries")
    val reduceRetries = spark.sparkContext.longAccumulator("reduceRetries")

    val golden = runJob(ReferenceApps.wcMap, ReferenceApps.wcReduce)

    val crashed = runJob(
      CrashRecoverySpec.crashingMap(ReferenceApps.wcMap, mapRetries),
      CrashRecoverySpec.crashingReduce(ReferenceApps.wcReduce, reduceRetries))

    assert(mapRetries.value >= 1, "no map-stage task was ever re-attempted")
    assert(reduceRetries.value >= 1, "no reduce-stage task was ever re-attempted")
    assert(crashed === golden)
  }

  test("crash.go payload (profile app) with injected failures matches the sequential oracle") {
    val mapRetries = spark.sparkContext.longAccumulator("mapRetries2")
    val reduceRetries = spark.sparkContext.longAccumulator("reduceRetries2")

    val crashed = runJob(
      CrashRecoverySpec.crashingMap(ReferenceApps.profileMap, mapRetries),
      CrashRecoverySpec.crashingReduce(ReferenceApps.profileReduce, reduceRetries))

    val corpus = TestCorpus.read(corpusDir)
    val oracle = MapReduce
      .sequentialOracle(corpus, ReferenceApps.profileMap, ReferenceApps.profileReduce)
      .map(kv => s"${kv.key} ${kv.value}").sorted

    assert(mapRetries.value >= 1 && reduceRetries.value >= 1)
    assert(crashed === oracle)
  }
}

object CrashRecoverySpec {

  /** Throws on any attempt-0 task, like crash.go's `maybeCrash` but
    * deterministic (100% of first attempts die); counts executions on
    * retried attempts, whose accumulator updates survive. */
  private def maybeCrash(acc: LongAccumulator): Unit = {
    val tc = TaskContext.get()
    if (tc != null) {
      if (tc.attemptNumber() == 0)
        throw new RuntimeException("injected crash (attempt 0) — CrashRecoverySpec")
      acc.add(1)
    }
  }

  def crashingMap(
      inner: (String, String) => IterableOnce[KeyValue],
      acc: LongAccumulator): (String, String) => IterableOnce[KeyValue] =
    (name, contents) => { maybeCrash(acc); inner(name, contents) }

  def crashingReduce(
      inner: (String, Iterator[String]) => String,
      acc: LongAccumulator): (String, Iterator[String]) => String =
    (key, values) => { maybeCrash(acc); inner(key, values) }
}
