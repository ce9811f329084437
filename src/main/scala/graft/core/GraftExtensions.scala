package graft.core

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session-build-time injection of graft's native functions:
  * a session builder's `.withExtensions(new GraftExtensions)` or
  * `--conf spark.sql.extensions=graft.core.GraftExtensions` makes
  * `fnv_hash31` / `rolling_hash` available in every derived session
  * (cluster deployments); `GraftFunctions.register` is the post-hoc
  * equivalent for an existing session (covered by CoreExtrasSpec). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      FunctionIdentifier("fnv_hash31"),
      new ExpressionInfo(classOf[FnvHash31].getName, "fnv_hash31"),
      (exprs: Seq[Expression]) => FnvHash31(exprs.head)))
    e.injectFunction((
      FunctionIdentifier("rolling_hash"),
      new ExpressionInfo(classOf[graft.text.RollingHash].getName, "rolling_hash"),
      (exprs: Seq[Expression]) => graft.text.RollingHash(exprs.head)))
  }
}
