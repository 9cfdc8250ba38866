package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.util.Utils

/** Package-access shim: Column ↔ Catalyst Expression conversion for the
  * engine's native expressions (graft.functions), the registry builder of a
  * Scala UDF or typed UDAF (graft.functions.Udfs), and the session's local
  * scratch dir for graft.Scoped. Spark 4 scopes `classic.ExpressionUtils`
  * and `Utils` as private[sql]/private[spark], so the bridge lives in this
  * package — the same technique Spark's own connectors use. Only
  * `udfBuilder` repeats Spark code: the two builder cases of
  * `UDFRegistration.register`, so a caller can keep the builder. */
object GraftShims {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** The function-registry builder `spark.udf.register(name, f)` makes. */
  def udfBuilder(name: String, f: expressions.UserDefinedFunction): Seq[Expression] => Expression =
    f.withName(name) match {
      case a: expressions.UserDefinedAggregator[_, _, _] =>
        args => execution.aggregate.ScalaAggregator(a, args)
      case u: expressions.SparkUserDefinedFunction =>
        args => classic.UserDefinedFunctionUtils.toScalaUDF(u, args)
    }

  /** First of Spark's configured local dirs: SPARK_LOCAL_DIRS, then
    * spark.local.dir, then java.io.tmpdir. */
  def localDir(sc: SparkContext): String =
    Utils.getConfiguredLocalDirs(sc.conf).head.trim
}
