package graft.gates

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One correctness gate: `run` is the query over a corpus dir, and
  * `oracle` renders the DuckDB SQL whose output the query's must equal
  * on that same dir, with IDENTICAL output column names (the compare
  * sorts columns by name before hashing values). The oracle takes the
  * corpus dir so a side-dump oracle can name the dump its run wrote
  * (see [[graft.core.SideDump]]); a constant oracle ignores it.
  *
  * Gates are declared one object per name prefix (the family):
  * [[QueryGates]], [[KvGates]], [[RelGates]], [[DedupGates]],
  * [[AnnGates]], [[TextGates]], [[MediaGates]]. */
final case class Gate(name: String, run: (SparkSession, String) => DataFrame,
    oracle: String => String)

object Gate {

  /** The registry: `gates` as given, once their names are known to be
    * distinct (a duplicate would shadow another gate's run and oracle). */
  def registry(gates: Seq[Gate]): Seq[Gate] = {
    val dups = gates.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dups.isEmpty, s"duplicate gate names: ${dups.toSeq.sorted.mkString(", ")}")
    gates
  }

  /** The parquet glob of the side dump that `dumpPath` (an owning
    * object's `*DumpPath(base)`) names for the corpus dir `sfDir`. */
  def glob(dumpPath: String => String, sfDir: String): String =
    s"${dumpPath(new java.io.File(sfDir).getName)}/*.parquet"
}
