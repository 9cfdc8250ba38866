package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** `tpch_batch`: closed loop, one client. Rounds of the 22 registry TPC-H
  * queries, each round in a seed-shuffled order; every result is collected
  * in full. The first result of each query is written out for the DuckDB
  * oracle check, and every later execution must return the same rows. */
final class TpchWorkload(seed: Long, data: String, broken: Boolean, work: String)
    extends Workload {
  val Queries: Seq[String] = Seq(
    "q1_pricing_summary", "q2_min_cost_supp", "q3_shipping_priority", "q4_priority_exists",
    "q5_local_supplier", "q6_forecast_revenue", "q7_volume_shipping", "q8_market_share",
    "q9_product_profit", "q10_returned_items", "q11_important_stock", "q12_late_priority",
    "q13_cust_distribution", "q14_promo_revenue", "q15_top_supplier", "q16_supplier_cnt",
    "q17_small_qty_revenue", "q18_large_volume_cust", "q19_disjunctive", "q20_excess_supply",
    "q21_waiting_supplier", "q22_global_sales_opp")

  private val firstResult = mutable.LinkedHashMap.empty[String, (StructType, Array[Row], Int)]
  private val runs = mutable.Map.empty[String, Long].withDefaultValue(0L)

  private def fingerprint(rows: Array[Row]): Int = rows.map(_.toString).sorted.toSeq.hashCode

  /** The tables are generated once per checkout, before the JVM starts. */
  def setup(spark: SparkSession): Unit = ()

  /** One whole round in another order than the measured ones. A session's
    * first round takes about 2x as long as a settled round, while the
    * planner, the operators and each query's generated code compile; the
    * next round still takes about 1.25x (see the README on JIT). */
  def warm(spark: SparkSession): Unit =
    new scala.util.Random(seed * 1009 + 1).shuffle(Queries)
      .foreach(q => graft.SparkEntry.queries(q)(spark, data).collect())

  private def runQuery(spark: SparkSession, q: String): (Double, Array[Row], StructType, Map[String, Double]) = {
    val t0 = System.nanoTime()
    val (rows, df) = Trace.span(s"tpch.$q") {
      val df = graft.SparkEntry.queries(q)(spark, data)
      (df.collect(), df)
    }
    val s = (System.nanoTime() - t0) / 1e9
    val phases = df.queryExecution.tracker.phases.map { case (k, v) => k -> v.durationMs.toDouble }
    (s, rows, df.schema, phases)
  }

  def measure(spark: SparkSession, seconds: Double, traced: Boolean): Measurement = {
    val times = mutable.ArrayBuffer.empty[(String, Double)]
    val phases = mutable.ArrayBuffer.empty[Map[String, Double]]
    // both halves of a traced run time the same query order
    val rnd = new scala.util.Random(seed * 1009)
    val start = System.nanoTime()
    var failed = 0L
    var rounds = 0
    // whole rounds only, so every window times the same query mix; another
    // round runs while that brings the window closer to `seconds`
    def elapsedS = (System.nanoTime() - start) / 1e9
    while (rounds == 0 || elapsedS * (rounds + 0.5) / rounds < seconds) {
      Trace.newTrace()
      for (q <- rnd.shuffle(Queries)) {
        val (s, rows, schema, ph) = runQuery(spark, q)
        times += q -> s
        phases += ph
        runs(q) += 1
        val fp = fingerprint(rows)
        firstResult.get(q) match {
          case None => firstResult(q) = (schema, rows, fp)
          case Some((_, _, fp0)) => if (fp != fp0) failed += 1
        }
      }
      rounds += 1
    }
    val secs = times.map(_._2)
    val ms = secs.map(_ * 1000)
    val roundS = secs.sum / rounds
    val e2e = Map(
      "lat_p50_ms" -> Metric(Stats.median(ms), "ms", ms.size),
      "lat_tail_ms" -> Metric(Stats.quantile(ms, 0.9), "ms", ms.size),
      "throughput_per_s" -> Metric(times.size / secs.sum, "1/s", times.size))
    def phaseMs(k: String) = Stats.median(phases.map(_.getOrElse(k, 0.0)).toSeq)
    val perQuery = Queries.map { q =>
      val xs = times.filter(_._1 == q).map(_._2)
      s"tpch.${q}_s" -> Metric(Stats.median(xs), "s", xs.size)
    }
    val layers = perQuery.toMap ++ Map(
      "plan.analysis_ms" -> Metric(phaseMs("analysis"), "ms", phases.size),
      "plan.optimize_ms" -> Metric(phaseMs("optimization"), "ms", phases.size),
      "plan.physical_ms" -> Metric(phaseMs("planning"), "ms", phases.size))
    val report = Map(
      "tpch_suite_s" -> Metric(roundS, "s", rounds),
      "tpch_query_p50_s" -> Metric(Stats.median(secs), "s", secs.size),
      "tpch_query_p90_s" -> Metric(Stats.quantile(secs, 0.9), "s", secs.size)) ++
      runs.map { case (q, n) => s"runs.$q" -> Metric(n, "count") }
    val notes = Seq(s"tpch: $rounds round(s), ${secs.size} queries timed")
    dumpForOracle(spark)
    Measurement(times.size, failed, e2e, layers, report, notes)
  }

  /** First result of each query as parquet, plus the registry's oracle SQL. */
  private def dumpForOracle(spark: SparkSession): Unit = {
    val dir = s"$work/oracle"
    val oracles = graft.SparkEntry.oracleSql
    for (((q, (schema, rows0, _)), i) <- firstResult.toSeq.zipWithIndex
         if oracles.contains(q) && !new java.io.File(s"$dir/$q").exists) {
      // self-test: one result loses a row, which the oracle check must catch
      val rows = if (broken && i == 0) rows0.drop(1) else rows0
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/$q")
    }
    val json = Json.obj(firstResult.keys.toSeq.filter(oracles.contains)
      .map(q => q -> Json.str(oracles(q))))
    new java.io.File(dir).mkdirs()
    Json.write(s"$dir/oracle_sql.json", json)
  }
}
