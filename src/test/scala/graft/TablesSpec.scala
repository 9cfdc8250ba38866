package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

/** graft.Tables' schema memo: inferred once per session and file version. */
class TablesSpec extends SparkSpec {

  /** Jobs started by `body`. Listener events arrive in order, so once the
    * closing marker job has been seen, every job before it has been counted;
    * the opening marker keeps events queued before `body` out of the count. */
  private def jobsIn(body: => Unit): Int = {
    val sc = spark.sparkContext
    val open = s"tables-spec-open-${System.nanoTime}"
    val close = s"tables-spec-close-${System.nanoTime}"
    val jobs = new AtomicInteger()
    val opened = new CountDownLatch(1)
    val closed = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.job.description")).orNull match {
          case `open` => opened.countDown()
          case `close` => closed.countDown()
          case _ => if (opened.getCount == 0 && closed.getCount > 0) jobs.incrementAndGet()
        }
    }
    def marker(name: String): Unit = {
      sc.setJobDescription(name)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
    }
    sc.addSparkListener(listener)
    try {
      marker(open)
      body
      marker(close)
      assert(closed.await(60, TimeUnit.SECONDS), "closing marker job never seen")
      jobs.get
    } finally sc.removeSparkListener(listener)
  }

  test("a table's schema is inferred in one job per session; later loads start none") {
    val fresh = spark.newSession()
    assert(jobsIn(Tables.lineitem(fresh, sf)) == 1)
    assert(jobsIn(Tables.lineitem(fresh, sf)) == 0)
  }

  test("a rewritten file is inferred again") {
    val d = Scoped.dir(spark, "graft_tables_spec", "rewrite")
    val file = Paths.get(d, "t.parquet")
    def writeFile(sql: String, tag: String): Unit = {
      val out = s"$d/$tag"
      spark.sql(sql).coalesce(1).write.parquet(out)
      val part = Files.list(Paths.get(out)).filter(_.toString.endsWith(".parquet"))
        .findFirst().get
      Files.move(part, file, StandardCopyOption.REPLACE_EXISTING)
    }
    writeFile("SELECT 1 AS a", "one")
    assert(Tables.load(spark, d, "t").columns.toSeq == Seq("a"))
    val before = Files.getLastModifiedTime(file).toMillis
    writeFile("SELECT 1 AS a, 2 AS b", "two")
    Files.setLastModifiedTime(file, FileTime.fromMillis(before + 10000))
    assert(Tables.load(spark, d, "t").columns.toSeq == Seq("a", "b"))
  }

  test("the memo is per session: inference confs of a new session apply") {
    assert(Tables.events(spark, sf).schema("ts").dataType == TimestampNTZType)
    val fresh = spark.newSession()
    fresh.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    assert(Tables.events(fresh, sf).schema("ts").dataType == TimestampType)
  }
}
