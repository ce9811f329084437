package graft.core

import org.apache.spark.sql.DataFrame

/** Run-scoped oracle side dumps: a gate whose LEARNED or FOLDED
  * artifact is not SQL-derivable dumps that artifact to a run-scoped
  * parquet path named by its kind and the corpus dir's basename, and
  * the gate's oracle — given that same corpus dir — embeds the same
  * path (through the owning object's `*DumpPath(base)`), so DuckDB
  * re-derives everything DOWNSTREAM of the artifact independently.
  * The process-scoped token guarantees the compare can only ever read
  * THIS run's dump: a stale dump from an older run, code version, or
  * different SF can never be silently compared.
  *
  * Users — in each case the LEARNED/FOLDED artifact is the only
  * thing taken on faith, and everything downstream is re-derived:
  *  - BPE merge tables ([[graft.text.Bpe]] — the oracle re-applies
  *    the merges to the raw corpus);
  *  - trained classifier weights ([[graft.text.QualityClassifier]] —
  *    re-hashed features, re-folded margins);
  *  - SimHash signatures ([[graft.dedup.Dedup]] — banding, caps,
  *    probes and pair generation re-derived as 64-bit arithmetic);
  *  - Lloyd centroids ([[graft.sim.Kmeans]] — assignment, probe
  *    selection and ranks re-derived from embeddings + codebook);
  *  - PQ codebooks ([[graft.sim.Pq]], [[graft.sim.IvfIndex]],
  *    [[graft.sim.Opq]] — encode/ADC/candidate-cut/re-rank
  *    re-derived; OPQ also dumps its applied rotation rows);
  *  - the reduced-PCA model ([[graft.sim.Pca]] — projection and the
  *    squared-L2 rank re-derived);
  *  - the shard-controller config history ([[graft.kv.ShardCtrler]] —
  *    the fold's invariants, routing and handoffs re-derived).
  */
object SideDump {

  /** One token per JVM: every dump kind in a run shares it. */
  val token: String = java.util.UUID.randomUUID.toString.take(8)

  private val root = "/tmp/graft_oracle_side"

  /** Dump dir for an artifact `kind` and corpus-dir basename. */
  def path(kind: String, base: String): String =
    s"$root/${kind}_${base}_$token"

  /** Write `df` (small — an artifact, never a corpus) as the run's
    * side dump for `kind`/`base`; prunes same-kind dumps of DEAD runs
    * older than a day (unreachable garbage, not a hazard — the token
    * makes them uncitable). Returns the dump path. */
  def write(df: DataFrame, kind: String, base: String): String = {
    pruneStale(kind)
    val p = path(kind, base)
    df.coalesce(1).write.mode("overwrite").parquet(p)
    p
  }

  private def pruneStale(kind: String): Unit = {
    val cutoff = System.currentTimeMillis() - 24L * 3600 * 1000
    Option(new java.io.File(root).listFiles()).getOrElse(Array.empty).foreach { d =>
      if (d.getName.startsWith(s"${kind}_") &&
          !d.getName.endsWith(token) && d.lastModified() < cutoff) {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
          f.delete(); ()
        }
        rm(d)
      }
    }
  }
}
