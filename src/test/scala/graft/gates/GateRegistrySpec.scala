package graft.gates

import graft.{SparkEntry, SparkSpec}
import graft.core.SideDump
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The gate registry: one [[Gate]] per name, and `SparkEntry.queries`
  * / `SparkEntry.oracleSql` are views of it. Needs no SparkSession:
  * rendering an oracle runs no query. */
class GateRegistrySpec extends SparkSpec {

  private val neverRun: (SparkSession, String) => DataFrame =
    (_, _) => throw new UnsupportedOperationException("not run")

  test("the registry refuses a duplicate gate name") {
    val a = Gate("x_one", neverRun, _ => "SELECT 1")
    val b = Gate("x_two", neverRun, _ => "SELECT 2")
    assert(Gate.registry(Seq(a, b)) === Seq(a, b))
    val e = intercept[IllegalArgumentException] {
      Gate.registry(Seq(a, b, a.copy(oracle = _ => "SELECT 3")))
    }
    assert(e.getMessage.contains("x_one") && !e.getMessage.contains("x_two"))
  }

  test("199 gates; queries and oracleSql carry exactly the registry's names") {
    val names = SparkEntry.gates.map(_.name)
    assert(names.size === 199)
    assert(names.distinct.size === names.size)
    assert(SparkEntry.queries.keySet === names.toSet)
    assert(SparkEntry.oracleSql(sf("sf0.001")).keySet === names.toSet)
  }

  test("every side-dump glob names the oracle's corpus dir and this JVM's token") {
    val Glob = """read_parquet\('(/tmp/graft_oracle_side/[^']*)'\)""".r
    Seq("sf0.001", "sf0.01").foreach { base =>
      val globs = SparkEntry.oracleSql(sf(base)).values
        .flatMap(sql => Glob.findAllMatchIn(sql).map(_.group(1))).toSet
      assert(globs.nonEmpty)
      globs.foreach { g =>
        assert(g.endsWith(s"_${base}_${SideDump.token}/*.parquet"), g)
      }
    }
  }
}
