package graft.functions

import org.apache.spark.sql.{DataFrame, GraftShims, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Encoder
import org.apache.spark.sql.Encoders
import graft.Tables

/** UDF/UDAF registration surface (declared D7 — the Table API's
  * UDF/UDAF/UDTF registration, study/pom.xml:147-166):
  *  - a scalar UDF, bound as `spark.udf.register` binds it (note: scalar
  *    Scala UDFs are opaque to codegen — prefer native expressions like
  *    VecDot in hot paths; this exists to cover the registration API);
  *  - a typed `Aggregator[IN, BUF, OUT]` made a UDAF by `functions.udaf`
  *    (geometric mean), which runs as a proper partial/final aggregate.
  */
case class GeoMeanBuf(var logSum: Double, var n: Long)

object GeoMean extends Aggregator[Double, GeoMeanBuf, Double] {
  override def zero: GeoMeanBuf = GeoMeanBuf(0.0, 0L)
  override def reduce(b: GeoMeanBuf, x: Double): GeoMeanBuf = {
    b.logSum += math.log(x); b.n += 1; b
  }
  override def merge(a: GeoMeanBuf, b: GeoMeanBuf): GeoMeanBuf = {
    a.logSum += b.logSum; a.n += b.n; a
  }
  override def finish(b: GeoMeanBuf): Double =
    if (b.n == 0) 0.0 else math.exp(b.logSum / b.n)
  override def bufferEncoder: Encoder[GeoMeanBuf] = Encoders.product[GeoMeanBuf]
  override def outputEncoder: Encoder[Double] = Encoders.scalaDouble
}

object Udfs {
  // Built once, so a later call sees its own binding (VectorFunctions.bind).
  private val geomean = GraftShims.udfBuilder("geomean", udaf(GeoMean))
  private val clip = GraftShims.udfBuilder("clip",
    udf((x: Double, lo: Double, hi: Double) => math.min(math.max(x, lo), hi)))

  /** Typed-Aggregator UDAF: geometric mean of order value per status. */
  def udafGeomean(s: SparkSession, d: String): DataFrame = {
    VectorFunctions.bind(s, "geomean", geomean)
    Tables.orders(s, d).createOrReplaceTempView("graft_orders_udaf")
    s.sql(
      """SELECT o_orderstatus, count(1) AS n,
        |  round(geomean(o_totalprice), 4) AS geo_price
        |FROM graft_orders_udaf
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
  }

  /** Scalar registered UDF: clip event values into [50, 150]. */
  def udfClip(s: SparkSession, d: String): DataFrame = {
    VectorFunctions.bind(s, "clip", clip)
    Tables.events(s, d).createOrReplaceTempView("graft_events_udf")
    s.sql(
      """SELECT event_type, count(1) AS n,
        |  round(sum(clip(value, 50D, 150D)), 2) AS clipped_total
        |FROM graft_events_udf
        |GROUP BY event_type ORDER BY event_type""".stripMargin)
  }
}
