package graft.text

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Sequence packing: assign documents (in stable doc_id order) to
  * fixed token-budget training sequences by contiguous fill — pack k
  * holds the docs whose running token total starts in
  * [k·budget, (k+1)·budget). The core is a DISTRIBUTED EXCLUSIVE
  * PREFIX SUM over a globally ordered column, a primitive Spark does
  * not ship: the naive `sum(...) OVER (ORDER BY ...)` window has no
  * PARTITION BY, so Catalyst plans a SINGLE-partition window — one
  * task does all the work, the canonical 100 TB cliff.
  *
  * Classic two-pass formulation instead:
  *   1. range-partition + sort by the order column (global order
  *      across partitions, local order within);
  *   2. per-partition token totals — one long per partition, from the
  *      job that fills the checkpoint of the layout — are cumulated on
  *      the driver into per-partition START OFFSETS;
  *   3. a map-only second pass adds the broadcast offset to each
  *      partition's local running sum.
  * Both passes are narrow over the materialized layout; the only
  * driver data is numPartitions longs. Pack assignment is then
  * `global_before div budget`, oracle-expressible as a window cumsum.
  *
  * The partition id is MATERIALIZED into the rows
  * (`spark_partition_id()` evaluated during the checkpoint) rather
  * than read from `TaskContext` at execution time: a downstream
  * `coalesce(1)` (e.g. a single-file writer) pipelines the narrow
  * second pass into one task, where TaskContext-based ids collapse
  * to 0 and would silently zero every offset.
  */
object SequencePacking {

  final case class DocTokens(doc_id: Long, n_tokens: Long)
  final case class PackedDoc(doc_id: Long, n_tokens: Long, pack_id: Long)

  /** Exclusive-prefix-sum pack assignment for typed (id, weight) rows.
    * Output order/partitioning follows the range layout. */
  def packByPrefixSum(toks: Dataset[DocTokens], budget: Long,
      partitions: Int): Dataset[PackedDoc] = {
    val spark = toks.sparkSession
    import spark.implicits._
    // materialize the ordered layout once: both passes must see the
    // SAME partition boundaries, and each row must carry its pid. The
    // checkpoint is lazy: its first reader is the totals job below,
    // one task per partition, so that job pins the pid values
    val parts = toks.toDF()
      .repartitionByRange(partitions, col("doc_id"))
      .sortWithinPartitions(col("doc_id"))
      .withColumn("pid", spark_partition_id())
      .localCheckpoint(eager = false)
    // per-partition token totals in partition order, in one job
    val nIdx = parts.schema.fieldIndex("n_tokens")
    val totals = spark.sparkContext.runJob(parts.queryExecution.toRdd,
      (it: Iterator[org.apache.spark.sql.catalyst.InternalRow]) => {
        var t = 0L
        it.foreach(r => t += r.getLong(nIdx))
        t
      })
    val offsets = totals.scanLeft(0L)(_ + _)
    val bc = spark.sparkContext.broadcast(offsets)
    // rows within one upstream partition share a pid and stay
    // contiguous; the running sum re-initializes from the broadcast
    // offsets on EVERY pid change — correct under any downstream
    // coalesce, including one that concatenates non-adjacent parents
    // (init-once-from-first-row would silently shift later parents)
    parts.select(col("doc_id"), col("n_tokens"), col("pid"))
      .as[(Long, Long, Int)]
      .mapPartitions { it =>
        var run = 0L
        var curPid = -1
        it.map { case (id, n, pid) =>
          if (pid != curPid) { run = bc.value(pid); curPid = pid }
          val before = run
          run += n
          PackedDoc(id, n, before / budget)
        }
      }
  }

  /** documents → (doc_id, n_tokens, pack_id) at the given budget;
    * n_tokens uses the same whitespace definition as text_tokens. */
  def packDocuments(spark: SparkSession, sfDir: String, budget: Long = 1024L,
      partitions: Int = 32): DataFrame = {
    import spark.implicits._
    val toks = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"),
        size(expr("filter(split(text, '\\\\s+'), x -> x != '')"))
          .cast("long").as("n_tokens"))
      .as[DocTokens]
    packByPrefixSum(toks, budget, partitions).toDF()
  }

  /** [[packByPrefixSum]] generalized to an ARBITRARY composite sort
    * key (DataFrame in/out, [[globalRank]]'s Row-encoder shape): the
    * same two-pass exclusive prefix sum over `weightCol` in
    * `sortCols` order, appending `pack_id` = (tokens before) div
    * budget. The chunk stream needs this — its natural order is
    * (doc_id, chunk_id), which the typed doc packer cannot express.
    * `sortCols` must be a total order for determinism. */
  /** Internal helper column for the materialized partition id — a
    * name no reasonable caller schema carries, asserted anyway (a
    * caller's own `pid`-named column would otherwise be silently
    * overwritten and dropped). */
  private val PidCol = "__graft_pid"

  /** Weight read with integral widening: the advertised contract is
    * "any integral weight column", so IntegerType must not throw a
    * ClassCastException and anything non-integral must fail loudly. */
  private def longAt(row: org.apache.spark.sql.Row, i: Int): Long =
    row.get(i) match {
      case l: java.lang.Long    => l.longValue()
      case n: java.lang.Integer => n.longValue()
      case s: java.lang.Short   => s.longValue()
      case b: java.lang.Byte    => b.longValue()
      case other => throw new IllegalArgumentException(
        s"weight column must be integral, got ${String.valueOf(other)} " +
          s"(${if (other == null) "null" else other.getClass.getName})")
    }

  def packPrefixSum(df: DataFrame,
      sortCols: Seq[org.apache.spark.sql.Column], weightCol: String,
      budget: Long, partitions: Int = 32,
      startOffset: Long = 0L): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StructType}
    require(budget >= 1, s"budget must be >= 1, got $budget")
    require(!df.columns.contains(PidCol),
      s"input must not carry a $PidCol column")
    val parts = df
      .repartitionByRange(partitions, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
      .withColumn(PidCol, spark_partition_id())
      .localCheckpoint()
    val totals = parts.groupBy(PidCol).agg(sum(weightCol).as("t"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    // startOffset: tokens already packed BEFORE this frame — lets an
    // ingest loop continue the global prefix sum across micro-batches
    // (batch-of-everything ≡ sum of batches; ChunkStreamSpec pins it)
    val offsets = (0 until partitions)
      .scanLeft(startOffset)((acc, pid) => acc + totals.getOrElse(pid, 0L))
    val bc = parts.sparkSession.sparkContext.broadcast(offsets)
    val pidIdx = parts.schema.fieldIndex(PidCol)
    val wIdx = parts.schema.fieldIndex(weightCol)
    val outSchema = StructType(parts.schema.filterNot(_.name == PidCol))
      .add("pack_id", LongType, nullable = false)
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    parts.mapPartitions { it =>
      var run = 0L
      var curPid = -1
      it.map { row =>
        val pid = row.getInt(pidIdx)
        if (pid != curPid) { run = bc.value(pid); curPid = pid }
        val before = run
        run += longAt(row, wIdx)
        val vals = row.toSeq.zipWithIndex.collect {
          case (v, i) if i != pidIdx => v
        } :+ (before / budget)
        org.apache.spark.sql.Row.fromSeq(vals)
      }
    }(enc)
  }

  /** Chunk-stream packing — the shape a pretraining pipeline actually
    * runs (split long documents into windows FIRST, then fill fixed
    * token budgets): [[graft.text.Chunking.chunks]]' (doc_id,
    * chunk_id, n_tokens) rows packed contiguously in (doc_id,
    * chunk_id) order. Composition of two tested operators; the gate's
    * oracle chains the chunk CTE into the window-cumsum pack CTE. */
  def packChunks(spark: SparkSession, sfDir: String, budget: Long = 256L,
      partitions: Int = 32): DataFrame =
    packPrefixSum(
      graft.text.Chunking.chunks(spark, sfDir)
        .select(col("doc_id"), col("chunk_id"), col("n_tokens")),
      Seq(col("doc_id"), col("chunk_id")), "n_tokens", budget, partitions)

  /** DISTRIBUTED GLOBAL RANK: append a zero-based `rank` column in
    * `sortCols` order — the primitive behind any "give every row its
    * position" need (training order, stable ids). The naive
    * `row_number() OVER (ORDER BY ...)` plans a SINGLE-partition
    * window (the same 100 TB cliff packing avoids); this is the same
    * two-pass shape as [[packByPrefixSum]] generalized to arbitrary
    * sort keys and weight 1: range-partition + local sort, per-
    * partition counts cumulated on the driver (numPartitions longs),
    * then a narrow pass adds the broadcast start offset. The caller's
    * sortCols must be a TOTAL order (add a unique tiebreak column)
    * for the rank to be deterministic. */
  def globalRank(df: DataFrame, sortCols: Seq[org.apache.spark.sql.Column],
      partitions: Int = 32): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StructType}
    require(!df.columns.contains(PidCol),
      s"input must not carry a $PidCol column")
    val parts = df
      .repartitionByRange(partitions, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
      .withColumn(PidCol, spark_partition_id())
      .localCheckpoint()
    val counts = parts.groupBy(PidCol).count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val offsets = (0 until partitions)
      .scanLeft(0L)((acc, pid) => acc + counts.getOrElse(pid, 0L))
    val bc = parts.sparkSession.sparkContext.broadcast(offsets)
    val pidIdx = parts.schema.fieldIndex(PidCol)
    val outSchema = StructType(parts.schema.filterNot(_.name == PidCol))
      .add("rank", LongType, nullable = false)
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    parts.mapPartitions { it =>
      var run = 0L
      var curPid = -1
      it.map { row =>
        val pid = row.getInt(pidIdx)
        if (pid != curPid) { run = bc.value(pid); curPid = pid }
        val r = run
        run += 1
        val vals = row.toSeq.zipWithIndex.collect {
          case (v, i) if i != pidIdx => v
        } :+ r
        org.apache.spark.sql.Row.fromSeq(vals)
      }
    }(enc)
  }

  /** FUSED rank + pack: one range-partitioned layout emitting BOTH
    * the zero-based `rank` in `sortCols` order AND the token-budget
    * `pack_id` (`weight prefix-sum div budget`). [[globalRank]]
    * followed by [[packPrefixSum]] over the rank would re-shuffle the
    * SAME global order a second time; the two driver cumulations
    * (row counts and weight totals) share one layout here — at scale
    * that is one shuffle of the corpus instead of two. Semantics are
    * pinned equal to the two-step composition by spec
    * (`SequencePackingSpec`). */
  def globalRankPack(df: DataFrame,
      sortCols: Seq[org.apache.spark.sql.Column], weightCol: String,
      budget: Long, partitions: Int = 32): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StructType}
    require(budget >= 1, s"budget must be >= 1, got $budget")
    require(!df.columns.contains(PidCol),
      s"input must not carry a $PidCol column")
    val parts = df
      .repartitionByRange(partitions, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
      .withColumn(PidCol, spark_partition_id())
      .localCheckpoint()
    val stats = parts.groupBy(PidCol)
      .agg(count(lit(1)).as("n"), sum(weightCol).as("t"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    val rankOffsets = (0 until partitions)
      .scanLeft(0L)((acc, pid) => acc + stats.get(pid).map(_._1).getOrElse(0L))
    val packOffsets = (0 until partitions)
      .scanLeft(0L)((acc, pid) => acc + stats.get(pid).map(_._2).getOrElse(0L))
    val bc = parts.sparkSession.sparkContext
      .broadcast((rankOffsets, packOffsets))
    val pidIdx = parts.schema.fieldIndex(PidCol)
    val wIdx = parts.schema.fieldIndex(weightCol)
    val outSchema = StructType(parts.schema.filterNot(_.name == PidCol))
      .add("rank", LongType, nullable = false)
      .add("pack_id", LongType, nullable = false)
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    parts.mapPartitions { it =>
      var rankRun = 0L
      var packRun = 0L
      var curPid = -1
      it.map { row =>
        val pid = row.getInt(pidIdx)
        if (pid != curPid) {
          rankRun = bc.value._1(pid); packRun = bc.value._2(pid); curPid = pid
        }
        val r = rankRun
        val before = packRun
        rankRun += 1
        packRun += longAt(row, wIdx)
        val vals = row.toSeq.zipWithIndex.collect {
          case (v, i) if i != pidIdx => v
        } :+ r :+ (before / budget)
        org.apache.spark.sql.Row.fromSeq(vals)
      }
    }(enc)
  }

  /** Deterministic TRAINING-ORDER shuffle of the packed corpus: packs
    * are permuted by a seeded hash (md5 of "pack_id:seed") — the
    * data-loader epoch order, reproducible across runs and engines,
    * with no driver-side randomness. One row per pack:
    * (pack_id, train_order). Built on [[globalRank]], so the
    * permutation is computed distributed, not in one window task. */
  def shuffledPackOrder(spark: SparkSession, sfDir: String,
      budget: Long = 1024L, seed: Long = 42L, partitions: Int = 32): DataFrame = {
    val packs = packDocuments(spark, sfDir, budget, partitions)
      .select(col("pack_id")).distinct()
      .withColumn("shuffle_key",
        md5(concat(col("pack_id").cast("string"), lit(":"), lit(seed.toString))))
    globalRank(packs, Seq(col("shuffle_key"), col("pack_id")), partitions)
      .select(col("pack_id"), col("rank").as("train_order"))
  }
}
