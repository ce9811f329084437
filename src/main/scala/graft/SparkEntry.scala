package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.gates._

/** Driver contract (SURVEY.md §7).
  *
  * Every implemented operator from SURVEY.md §2 is a [[Gate]]: its
  * query and its DuckDB oracle, declared together in its family's
  * object under `graft.gates`. `queries` and `oracleSql` are the two
  * driver-facing views of that one registry.
  */
object SparkEntry {

  /** Parse a SPARK_GRAFT_ONLY filter (comma-separated query names):
    * trimmed, empties dropped, and VALIDATED against the registry — a
    * typo fails fast with the offending names instead of silently
    * selecting nothing and letting Bench/Verify report an empty run
    * as success. */
  def parseOnlyFilter(raw: Option[String]): Option[Set[String]] =
    raw.map { s =>
      val names = s.split(',').map(_.trim).filter(_.nonEmpty).toSet
      val unknown = names -- queries.keySet
      require(unknown.isEmpty, "SPARK_GRAFT_ONLY names not in the query " +
        s"registry: ${unknown.toSeq.sorted.mkString(", ")}")
      require(names.nonEmpty, "SPARK_GRAFT_ONLY is set but selects nothing")
      names
    }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks
    * rows>0. The composed corpus-prep pipeline (scrub → quality floor
    * → exact dedup → sequence packing) — the end-to-end shape this
    * engine exists for; oracle-checked as `text_pipeline`. */
  def entry(spark: SparkSession): DataFrame =
    // flagship: the corpus-prep pipeline with span decontamination up
    // front (excise → scrub → quality → dedup → pack, one program)
    graft.text.CorpusPipeline.prepareDecontaminated(spark, "/root/testdata/sf0.001")

  /** Every gate, in family order; names are distinct. */
  val gates: Seq[Gate] = Gate.registry(QueryGates.gates ++ KvGates.gates ++
    RelGates.gates ++ DedupGates.gates ++ AnnGates.gates ++ TextGates.gates ++
    MediaGates.gates)

  /** Query name → the query over a corpus dir. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    gates.map(g => g.name -> g.run).toMap

  /** Query name → the DuckDB oracle SQL for the corpus dir `sfDir`,
    * runnable on the same parquet tables. Side-dump oracles read the
    * dumps their queries wrote for `sfDir`. */
  def oracleSql(sfDir: String): Map[String, String] =
    gates.map(g => g.name -> g.oracle(sfDir)).toMap
}
