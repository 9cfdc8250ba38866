package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.connectors._

/** Connector-analogue checks: keyed upsert sink semantics (Redis/HBase
  * stand-in), rate-source pipeline (Kafka stand-in), JDBC option plumbing,
  * and file-format round-trips (csv/json/orc). */
class ConnectorsSpec extends SparkSpec {
  import spark.implicits._

  /** A fresh, existing scratch dir under the session's Scoped tree. */
  private def scratch(name: String): String =
    Files.createDirectories(Paths.get(Scoped.dir(spark, name, "connectors"))).toString

  test("ParquetKeyValueStore keeps last write per key across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val dir = scratch("graft_kv") + "/store"
    val store = new ParquetKeyValueStore(dir, orderCol = "version")
    val input = MemoryStream[(String, Long, Double)]
    val q = KeyValueSink.start(
      input.toDF().toDF("key", "version", "value"), store, "key", "kv_test")
    try {
      input.addData(("a", 1L, 10.0), ("b", 1L, 20.0))
      q.processAllAvailable()
      input.addData(("a", 2L, 99.0))
      q.processAllAvailable()
      val snap = store.snapshot(spark)
        .select("key", "value").as[(String, Double)].collect().toMap
      assert(snap == Map("a" -> 99.0, "b" -> 20.0), s"got $snap")
    } finally q.stop()
  }

  test("rate-source pipeline (Kafka stand-in) produces rolling word counts") {
    val agg = RatePipeline.wordsPerSecond(spark, rowsPerSecond = 200)
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("rate_test").start()
    try {
      Thread.sleep(2500)
      q.processAllAvailable()
      val rows = spark.table("rate_test").as[(String, Long)].collect()
      assert(rows.nonEmpty && rows.forall(_._1.startsWith("w")), s"got ${rows.toSeq}")
    } finally q.stop()
  }

  test("JDBC write→read round trip on embedded Derby (incl. partitioned read)") {
    val db = scratch("graft_derby") + "/db"
    val url = s"jdbc:derby:$db;create=true"
    val src = Tables.nation(spark, sf).select("n_nationkey", "n_name", "n_regionkey")
    Jdbc.write(src, url, "nation_rt", org.apache.spark.sql.SaveMode.Overwrite)
    val back = Jdbc.read(spark, url, "nation_rt")
      .select("n_nationkey", "n_name").as[(Long, String)].collect().toSet
    val want = src.select("n_nationkey", "n_name").as[(Long, String)].collect().toSet
    assert(back == want)
    // sharded read: 4 partition predicates over the key range
    val sharded = Jdbc.read(spark, url, "nation_rt",
      partitionColumn = Some("n_nationkey"), bounds = Some((0L, 24L)), numPartitions = 4)
    assert(sharded.rdd.getNumPartitions == 4)
    assert(sharded.count() == src.count())
  }

  test("streaming foreachBatch JDBC upsert keeps last write per key (Derby)") {
    implicit val sqlCtx = spark.sqlContext
    val db = scratch("graft_derby_kv") + "/db"
    val url = s"jdbc:derby:$db;create=true"
    val store = new JdbcKeyValueStore(url, "kv_rt", orderCol = "version")
    val input = MemoryStream[(String, Long, Double)]
    val q = KeyValueSink.start(
      input.toDF().toDF("key", "version", "value"), store, "key", "kv_jdbc_test")
    try {
      input.addData(("a", 1L, 10.0), ("b", 1L, 20.0))
      q.processAllAvailable()
      input.addData(("a", 2L, 99.0), ("c", 1L, 7.0))
      q.processAllAvailable()
      val snap = store.snapshot(spark)
        .select("key", "value").as[(String, Double)].collect().toMap
      assert(snap == Map("a" -> 99.0, "b" -> 20.0, "c" -> 7.0), s"got $snap")
    } finally q.stop()
  }

  test("JDBC wrappers validate url plumbing") {
    intercept[IllegalArgumentException] {
      Jdbc.read(spark, "not-a-jdbc-url", "t")
    }
    intercept[IllegalArgumentException] {
      Jdbc.write(Tables.region(spark, sf), "redis://nope", "t")
    }
  }

  test("csv/json/orc round-trip preserves the data") {
    val base = scratch("graft_fmt")
    val src = Tables.events(spark, sf)
      .select("event_id", "user_id", "event_type", "value")
      .filter(col("event_id") < 100)
    val expected = src.agg(sum("event_id"), round(sum("value"), 2))
      .as[(Long, Double)].head()
    for (fmt <- Seq("csv", "json", "orc")) {
      val path = s"$base/$fmt"
      src.write.format(fmt).option("header", "true").save(path)
      val back = spark.read.format(fmt).option("header", "true")
        .schema(src.schema).load(path)
      val got = back.agg(sum("event_id"), round(sum("value"), 2))
        .as[(Long, Double)].head()
      assert(got == expected, s"$fmt round-trip mismatch: $got vs $expected")
    }
  }
}
