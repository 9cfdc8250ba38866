package graft

import java.nio.file.{Files, LinkOption, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.GraftShims
import org.apache.spark.sql.streaming.StreamingQueryListener

/** graft.Scoped: where a row's scratch lives, how it is removed, and how a
  * borrowed session conf is given back. */
class ScopedSpec extends SparkSpec {

  test("Scoped.dir keeps /data/sf1 apart from /data_sf1 and '..' under its root") {
    val name = "graft_scoped_spec"
    assert(Scoped.dir(spark, name, "/data/sf1") != Scoped.dir(spark, name, "/data_sf1"))
    val root = Paths.get(GraftShims.localDir(spark.sparkContext), name,
      spark.sparkContext.applicationId)
    for (d <- Seq("/data/sf1", "/data_sf1", "..", ".", "../..")) {
      val p = Paths.get(Scoped.dir(spark, name, d))
      assert(p.normalize().getParent == root, s"$d -> $p is not a child of $root")
    }
  }

  test("Scoped.rm removes a symlink, never the directory it points at") {
    val target = Paths.get(Scoped.dir(spark, "graft_scoped_spec", "target"))
    Files.createDirectories(target)
    Files.write(target.resolve("part-0.parquet"), Array[Byte](1, 2, 3))
    val scratch = Paths.get(Scoped.dir(spark, "graft_scoped_spec", "links"))
    Files.createDirectories(scratch)
    Files.createSymbolicLink(scratch.resolve("events.parquet"), target)
    Scoped.rm(scratch.toString)
    assert(!Files.exists(scratch, LinkOption.NOFOLLOW_LINKS))
    assert(Files.exists(target.resolve("part-0.parquet")))
  }

  test("sql_scripting leaves spark.sql.scripting.enabled as it found it") {
    val key = "spark.sql.scripting.enabled"
    spark.conf.unset(key)
    def state = (spark.conf.getAll.get(key), spark.conf.getOption(key))
    val before = state
    queries.Modern.sqlScripting(spark, sf).collect()
    assert(state == before)
  }

  /** Runs registry row `row` twice in the session; returns both results and
    * the temporary checkpoints seen while its queries ran. A query's start
    * event is posted on its own thread while its checkpoint exists; a
    * temporary checkpoint is the `temporary-*` dir under java.io.tmpdir
    * whose metadata file names the query's id (other JVMs' dirs do not). */
  private def runTwice(row: String): (Seq[String], Seq[String], Set[String]) = {
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    def tempCheckpointsOf(id: String): Seq[String] = {
      val ls = Files.list(tmp)
      try ls.iterator.asScala.filter(_.getFileName.toString.startsWith("temporary-"))
        .filter(d => scala.util.Try(new String(Files.readAllBytes(d.resolve("metadata")),
          "UTF-8").contains(id)).getOrElse(false))
        .map(_.toString).toList
      finally ls.close()
    }
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        seen.addAll(tempCheckpointsOf(e.id.toString).asJava)
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    def run(): Seq[String] = SparkEntry.queries(row)(spark, sf)
      .collect().map(_.toString).toSeq
    spark.streams.addListener(listener)
    val (first, second) = try (run(), run()) finally spark.streams.removeListener(listener)
    (first, second, seen.asScala.toSet)
  }

  test("a memory-sink row run twice in a session gives the same rows and " +
      "keeps its checkpoint out of java.io.tmpdir") {
    val (first, second, seen) = runTwice("stream_wordcount")
    assert(first.nonEmpty)
    assert(second == first, "the second run in the session wrote other rows")
    assert(seen.isEmpty, s"temporary checkpoints: ${seen.mkString(", ")}")
    assert(!Files.exists(Paths.get(Scoped.dir(spark, "graft_stream_memory",
      "graft_stream_wordcount"))), "the checkpoint outlived its query")
  }

  test("stream_kv_upsert run twice in a session gives the same snapshot and " +
      "keeps its checkpoint out of java.io.tmpdir") {
    val (first, second, seen) = runTwice("stream_kv_upsert")
    assert(first.nonEmpty)
    assert(second == first, "the second run in the session gave another snapshot")
    assert(seen.isEmpty, s"temporary checkpoints: ${seen.mkString(", ")}")
    assert(!Files.exists(Paths.get(connectors.KeyValueSink.checkpoint(spark,
      "graft_stream_kv_upsert"))), "the checkpoint outlived its query")
  }

  test("Scoped.once runs its build once; a second call serves the directory") {
    val runs = new java.util.concurrent.atomic.AtomicInteger
    def call() = Scoped.once(spark, "graft_scoped_spec", "once") { dir =>
      runs.incrementAndGet()
      Files.write(Paths.get(dir, "part-0"), Array[Byte](1))
    }
    val dir = call()
    assert(dir == Scoped.dir(spark, "graft_scoped_spec", "once"))
    assert(call() == dir)
    assert(runs.get == 1)
    assert(Files.exists(Paths.get(dir, Scoped.built)))
  }

  test("Scoped.once: a build that throws leaves no marker, and the next call " +
      "starts from an empty directory") {
    val name = "graft_scoped_spec"
    intercept[IllegalStateException] {
      Scoped.once(spark, name, "failed") { dir =>
        Files.write(Paths.get(dir, "torn"), Array[Byte](1))
        throw new IllegalStateException("build failed")
      }
    }
    val dir = Paths.get(Scoped.dir(spark, name, "failed"))
    assert(Files.exists(dir.resolve("torn")))
    assert(!Files.exists(dir.resolve(Scoped.built)))
    var seen = Seq.empty[String]
    Scoped.once(spark, name, "failed") { d =>
      val ls = Files.list(Paths.get(d))
      try seen = ls.iterator.asScala.map(_.getFileName.toString).toList
      finally ls.close()
    }
    assert(seen.isEmpty, s"the retried build found ${seen.mkString(", ")}")
    assert(Files.exists(dir.resolve(Scoped.built)))
  }

  test("Scoped.once: two threads that call it at once run the build once") {
    val runs = new java.util.concurrent.atomic.AtomicInteger
    val started = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    def call(): String = Scoped.once(spark, "graft_scoped_spec", "race") { _ =>
      runs.incrementAndGet()
      started.countDown()
      assert(release.await(60, java.util.concurrent.TimeUnit.SECONDS))
    }
    val got = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val first = new Thread(() => got.add(call()))
    first.start()
    assert(started.await(60, java.util.concurrent.TimeUnit.SECONDS))
    val second = new Thread(() => got.add(call()))
    second.start()
    // the second caller waits on the lock while the first build runs
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (second.getState != Thread.State.BLOCKED && System.nanoTime() < deadline)
      Thread.sleep(5)
    assert(second.getState == Thread.State.BLOCKED)
    release.countDown()
    first.join(); second.join()
    assert(runs.get == 1)
    assert(got.asScala.toSet == Set(Scoped.dir(spark, "graft_scoped_spec", "race")))
  }

  /** Every file and directory under `dir`, with its mtime. */
  private def tree(dir: String): Map[String, Long] = {
    val root = Paths.get(dir)
    val walk = Files.walk(root)
    try walk.iterator.asScala.map(p => root.relativize(p).toString ->
      Files.getLastModifiedTime(p, LinkOption.NOFOLLOW_LINKS).toMillis).toMap
    finally walk.close()
  }

  test("each build-once artifact row run twice in a session gives the same " +
      "rows and leaves its artifact untouched") {
    val artifacts = Seq(
      "dedup_incremental" -> "graft_minhash_sigs",
      "dedup_index_foldin" -> "graft_minhash_foldin",
      "dsir_select" -> "graft_dsir_model",
      "knn_ivf_persisted" -> "graft_ivf_index",
      "knn_ivf_refresh" -> "graft_ivf_refresh",
      "knn_pq" -> "graft_pq_model",
      "knn_ivfpq" -> "graft_ivfpq_index",
      "schema_evolution" -> "graft_schema_evo")
    for ((row, name) <- artifacts) {
      def run() = SparkEntry.queries(row)(spark, sf).collect().map(_.toString).toSeq
      val first = run()
      val dir = Scoped.dir(spark, name, sf)
      assert(Files.exists(Paths.get(dir, Scoped.built)), s"$row: $dir has no marker")
      val built = tree(dir)
      assert(first.nonEmpty, s"$row gave no rows")
      assert(run() == first, s"$row: the second run gave other rows")
      assert(tree(dir) == built, s"$row: the second run touched $dir")
    }
  }

  test("Scoped.conf restores a set key and unsets an unset one when body throws") {
    val set = "spark.sql.shuffle.partitions"
    val unset = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.get(set)
    spark.conf.unset(unset)
    intercept[IllegalStateException] {
      Scoped.conf(spark, set, "1") {
        Scoped.conf(spark, unset, "x.Provider") {
          assert(spark.conf.get(set) == "1" && spark.conf.get(unset) == "x.Provider")
          throw new IllegalStateException("body failed")
        }
      }
    }
    assert(spark.conf.get(set) == prev)
    assert(!spark.conf.getAll.contains(unset))
  }
}
