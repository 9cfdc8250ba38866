package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._

/** Fault-tolerance semantics: a stateful streaming query stopped mid-input
  * and restarted from its checkpoint must (a) recover its keyed state and
  * (b) not reprocess already-committed input. The equality asserted below —
  * restarted-final-state == one-shot batch aggregate over ALL input — holds
  * ONLY if both properties hold: losing state undercounts, re-reading the
  * first file double-counts. This is the recovery story of the reference's
  * RocksDB-backed keyed state (study/pom.xml:70-74) on Spark's
  * checkpoint + write-ahead offset log.
  */
class RecoverySpec extends SparkSpec {

  test("stateful streaming query resumes exactly-once from its checkpoint") {
    import spark.implicits._
    val base =
      Files.createDirectories(Paths.get(Scoped.dir(spark, "graft_recovery", "resume"))).toString
    val srcDir = s"$base/src"; val ckpt = s"$base/ckpt"
    Files.createDirectories(Paths.get(srcDir))

    def writeSlice(rows: Seq[(String, Long)]): Unit =
      rows.toDF("word", "n").repartition(1)
        .write.mode("append").json(s"$srcDir")

    // phase 1: first slice of the input
    writeSlice(Seq(("spark", 1L), ("flink", 2L), ("spark", 3L)))

    def startQuery(sinkName: String) = {
      val stream = spark.readStream
        .schema("word STRING, n BIGINT").json(srcDir)
        .groupBy("word").agg(sum("n").as("total"))
      stream.writeStream.outputMode("complete")
        .option("checkpointLocation", ckpt)
        .format("memory").queryName(sinkName).start()
    }

    val q1 = startQuery("recovery_run1")
    try q1.processAllAvailable() finally q1.stop()
    val afterPhase1 = spark.table("recovery_run1").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(afterPhase1 == Map("spark" -> 4L, "flink" -> 2L))

    // phase 2: more input lands while the query is DOWN; restart from ckpt
    writeSlice(Seq(("spark", 10L), ("beam", 5L)))
    val q2 = startQuery("recovery_run2")
    try q2.processAllAvailable() finally q2.stop()
    val recovered = spark.table("recovery_run2").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

    // batch truth over the full input — equal iff state recovered AND the
    // phase-1 file was not re-counted after restart
    val batch = spark.read.schema("word STRING, n BIGINT").json(srcDir)
      .groupBy("word").agg(sum("n").as("total")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(recovered == batch)
    assert(recovered == Map("spark" -> 14L, "flink" -> 2L, "beam" -> 5L))
  }

  test("Trigger.AvailableNow drains all input then terminates on its own") {
    import spark.implicits._
    val base =
      Files.createDirectories(Paths.get(Scoped.dir(spark, "graft_availnow", "drain"))).toString
    Seq(("a", 1L), ("b", 2L), ("a", 3L)).toDF("word", "n")
      .repartition(1).write.mode("append").json(s"$base/src")
    val q = spark.readStream.schema("word STRING, n BIGINT").json(s"$base/src")
      .groupBy("word").agg(sum("n").as("total"))
      .writeStream.outputMode("complete")
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .format("memory").queryName("avail_now").start()
    // the scheduled-batch ingestion pattern: process everything, then STOP
    // without an external stop() — awaitTermination returns by itself
    assert(q.awaitTermination(60000), "query should self-terminate")
    val got = spark.table("avail_now").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("a" -> 4L, "b" -> 2L))
  }
}
