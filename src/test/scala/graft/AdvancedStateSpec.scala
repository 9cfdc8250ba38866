package graft

import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming._
import java.sql.Timestamp

/** Per-key running sum on the Spark 4.x transformWithState API — the modern
  * arbitrary-state operator (and the most direct analog of the reference's
  * keyed rolling sum, emitting a refreshed value per input batch). */
class RunningSumProcessor extends StatefulProcessor[String, (String, Int), (String, Long)] {
  @transient private var sum: ValueState[Long] = _
  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    sum = getHandle.getValueState[Long]("sum", Encoders.scalaLong, TTLConfig.NONE)
  override def handleInputRows(key: String, rows: Iterator[(String, Int)],
      timerValues: TimerValues): Iterator[(String, Long)] = {
    val total = (if (sum.exists()) sum.get() else 0L) + rows.map(_._2.toLong).sum
    sum.update(total)
    Iterator((key, total))
  }
}

/** Advanced stateful-streaming coverage: transformWithState (4.x typed state,
  * RocksDB-only), stream-stream time-bounded join, and bucketed
  * co-partitioned joins (shuffle-free fact-fact join at rest). */
class AdvancedStateSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("transformWithState keeps a per-key running sum (RocksDB state store)") {
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[(String, Int)]
      val rolled = input.toDS()
        .groupByKey(_._1)
        .transformWithState(new RunningSumProcessor,
          TimeMode.None(), OutputMode.Update(), Encoders.product[(String, Long)])
      val q = rolled.toDF("word", "total").writeStream
        .outputMode(OutputMode.Update).format("memory").queryName("tws_test").start()
      try {
        input.addData(("a", 1), ("b", 2), ("a", 3))
        q.processAllAvailable()
        input.addData(("a", 10))
        q.processAllAvailable()
        val updates = spark.table("tws_test").as[(String, Long)].collect().toSeq
        assert(updates.contains(("a", 4L)) && updates.contains(("b", 2L))
          && updates.contains(("a", 14L)), s"got $updates")
      } finally q.stop()
    } finally {
      prev match { case Some(v) => spark.conf.set(key, v); case None => spark.conf.unset(key) }
    }
  }

  test("stream-stream join matches clicks to purchases within one hour") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Timestamp, Long)]
    val buys = MemoryStream[(Timestamp, Long)]
    val c = clicks.toDF().toDF("cts", "cuid").withWatermark("cts", "2 hours")
    val b = buys.toDF().toDF("bts", "buid").withWatermark("bts", "2 hours")
    val joined = c.join(b,
      expr("cuid = buid AND bts BETWEEN cts AND cts + INTERVAL 1 HOUR"))
    val q = joined.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("ssj_test").start()
    try {
      clicks.addData((ts("2024-01-01 10:00:00"), 1L), (ts("2024-01-01 10:00:00"), 2L))
      buys.addData(
        (ts("2024-01-01 10:30:00"), 1L),  // within 1h of user 1's click → match
        (ts("2024-01-01 13:00:00"), 2L))  // 3h after user 2's click → no match
      q.processAllAvailable()
      val rows = spark.table("ssj_test").select("cuid").as[Long].collect().toSeq
      assert(rows == Seq(1L), s"got $rows")
    } finally q.stop()
  }

  test("bucketed tables join without a shuffle (co-partitioned at rest)") {
    val db = spark
    // drop catalog entries AND leftover warehouse dirs from previous JVMs
    // (the in-memory catalog forgets tables across runs; the files persist)
    for (t <- Seq("graft_orders_bkt", "graft_lineitem_bkt")) {
      db.sql(s"DROP TABLE IF EXISTS $t")
      Scoped.rm(s"/tmp/graft_warehouse/$t")
    }
    val liteOrders = Tables.orders(db, sf).select("o_orderkey", "o_totalprice")
    val liteLines = Tables.lineitem(db, sf).select("l_orderkey", "l_quantity")
    liteOrders.write.mode("overwrite")
      .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable("graft_orders_bkt")
    liteLines.write.mode("overwrite")
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable("graft_lineitem_bkt")
    val joined = db.table("graft_lineitem_bkt")
      .join(db.table("graft_orders_bkt"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderkey")
      .agg(count(lit(1)).as("n"))
    val plan = joined.queryExecution.executedPlan.toString
    // the join itself must not re-shuffle either bucketed side
    val shufflesBeforeAgg = plan.split("SortMergeJoin").head
    assert(!shufflesBeforeAgg.contains("Exchange hashpartitioning"),
      s"bucketed join should not shuffle its inputs:\n$plan")
    assert(joined.count() > 0)
  }
}
