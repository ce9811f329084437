package graft.core

import graft.SparkSpec
import org.apache.spark.sql.functions._

class CoreExtrasSpec extends SparkSpec {

  test("salted count equals direct groupBy count") {
    import spark.implicits._
    val df = (1 to 5000).map(i => (s"k${i % 7}", i.toLong)).toDF("k", "v")
    val direct = df.groupBy(col("k")).agg(count(lit(1)).as("cnt"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val salted = Skew.saltedCount(df, col("k"), col("v"), nSalts = 8)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(salted === direct)
  }

  test("SQL registration: fnv_hash31 and rolling_hash callable from SQL") {
    import spark.implicits._
    GraftFunctions.register(spark)
    Seq(("the", "ab")).toDF("a", "b").createOrReplaceTempView("gf_t")
    val r = spark.sql("SELECT fnv_hash31(a) AS f, rolling_hash(b) AS h FROM gf_t").head()
    assert(r.getInt(0) === FnvHash31.hash("the".getBytes("UTF-8")))
    assert(r.getLong(1) === graft.text.RollingHash.hash("ab".getBytes("UTF-8")))
  }

  test("salted sum equals direct sum") {
    import spark.implicits._
    val df = (1 to 3000).map(i => (s"k${i % 5}", i.toLong)).toDF("k", "v")
    val direct = df.groupBy(col("k")).agg(sum(col("v"))).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val salted = Skew.saltedSum(df, col("k"), col("v"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(salted === direct)
  }
}
