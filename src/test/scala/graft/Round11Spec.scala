package graft

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
import java.sql.Timestamp

import graft.streaming.{KnnCand, KnnServingProcessor}

/** Round-11 pins: TTL eviction of the serving-shape kNN state, row-local ≡
  * grouped minhash signatures (the stateless-decontamination equivalence),
  * and the structural CTE materializer's edge cases. */
class Round11Spec extends SparkSpec {

  test("idle-query TTL evicts serving kNN state; a fresh probe re-creates it") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    def t(s: String) = Timestamp.valueOf(s"2024-01-01 $s:00")
    val ttlMs = 10L * 60 * 1000 // 10 minutes

    val input = MemoryStream[KnnCand]
    val served = input.toDS()
      .withWatermark("ts", "0 seconds")
      .as[KnnCand]
      .groupByKey(_.q_id)
      .transformWithState(new KnnServingProcessor(5, ttlMs),
        TimeMode.EventTime(), OutputMode.Update(),
        Encoders.product[(Long, Int, Long, Int, Double, Long, Long)])
      .toDF("q_id", "rn", "c_id", "label", "score6", "n_seen", "last_ts")
    val q = served.writeStream.outputMode("update")
      .format("memory").queryName("r11_knn_ttl").start()
    try {
      // batch 1: query 1 sees candidates 1 and 2 at 00:00
      input.addData(KnnCand(1L, 1L, 0, 0.9, t("00:00")),
        KnnCand(1L, 2L, 0, 0.8, t("00:00")))
      q.processAllAvailable()
      val b1 = spark.table("r11_knn_ttl")
        .filter(col("q_id") === 1).as[(Long, Int, Long, Int, Double, Long, Long)]
        .collect().toSet
      assert(b1.map(r => (r._2, r._3)) == Set((1, 1L), (2, 2L)))
      assert(b1.forall(_._6 == 2L), "n_seen after batch 1 must be 2")

      // batch 2: unrelated query 2 at 01:00 advances the watermark far past
      // query 1's idle deadline (00:10)
      input.addData(KnnCand(2L, 7L, 0, 0.5, t("01:00")))
      q.processAllAvailable()
      // batch 3: query 2 again (inside ITS ttl) — processing this batch also
      // fires query 1's expired timer, clearing its state
      input.addData(KnnCand(2L, 8L, 0, 0.6, t("01:01")))
      q.processAllAvailable()

      // batch 4: FRESH probe for query 1 — state must have been evicted, so
      // the new top-k contains ONLY candidate 3 and n_seen restarts at 1
      input.addData(KnnCand(1L, 3L, 0, 0.4, t("01:02")))
      q.processAllAvailable()
      val q1Last = spark.table("r11_knn_ttl")
        .filter(col("q_id") === 1 && col("c_id") === 3)
        .as[(Long, Int, Long, Int, Double, Long, Long)].collect().toSeq
      assert(q1Last.nonEmpty, "fresh probe must re-create state and emit")
      assert(q1Last.head._2 == 1 && q1Last.head._6 == 1L,
        s"state must be re-created from scratch after eviction, got $q1Last")
      // had eviction NOT happened, the refreshed top-k would have emitted
      // candidates 1 and 2 again alongside 3 with n_seen = 3
      val q1AtReset = spark.table("r11_knn_ttl")
        .filter(col("q_id") === 1 && col("n_seen") === 3).count()
      assert(q1AtReset == 0, "no emission may carry pre-eviction candidates")

      // query 2 stayed active within its TTL: candidates accumulate
      val q2 = spark.table("r11_knn_ttl")
        .filter(col("q_id") === 2).as[(Long, Int, Long, Int, Double, Long, Long)]
        .collect()
      val q2Final = q2.filter(_._6 == q2.map(_._6).max)
      assert(q2Final.map(r => (r._2, r._3)).toSet == Set((1, 8L), (2, 7L)),
        "active query keeps merged top-k across batches")
    } finally {
      q.stop()
      spark.conf.unset(key)
    }
  }

  test("row-local minhash signature equals the grouped-aggregation signature") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val grouped = api.Graft.minhashSignatures(docs, "doc_id", "text",
        numHashes = 32, baseHash = api.Graft.md5Hash60, keepEmpty = false)
      .as[(Long, Seq[Long])].collect().toMap
    val rowLocal = api.Graft.minhashSignatureRowLocal(docs, "doc_id", "text",
        numHashes = 32, gramHashSql = api.Graft.md5GramSql)
      .as[(Long, Seq[Long])].collect().toMap
    assert(rowLocal.keySet == grouped.keySet)
    assert(rowLocal == grouped)
    // and the default hash pair agrees too (xx63GramSql ≡ xxHash63)
    val g2 = api.Graft.minhashSignatures(docs.limit(50), "doc_id", "text",
        keepEmpty = false).as[(Long, Seq[Long])].collect().toMap
    val r2 = api.Graft.minhashSignatureRowLocal(docs.limit(50), "doc_id", "text")
      .as[(Long, Seq[Long])].collect().toMap
    assert(r2 == g2)
  }

  test("materializeCtes rewrites every CTE header and nothing else") {
    // every oracle: stripping the inserted keyword recovers the raw SQL —
    // i.e. the rewrite is EXACTLY a set of MATERIALIZED insertions
    for ((name, raw) <- SparkEntry.oracleSqlRaw) {
      val rewritten = SparkEntry.materializeCtes(raw)
      // strip BOTH sides: some raw oracles hand-write MATERIALIZED already
      assert(rewritten.replace("AS MATERIALIZED (", "AS (") ==
        raw.replace("AS MATERIALIZED (", "AS ("),
        s"$name: rewrite must only insert MATERIALIZED")
      assert(SparkEntry.materializeCtes(rewritten) == rewritten,
        s"$name: rewrite must be idempotent")
      if (raw.contains("WITH "))
        assert(rewritten.contains("AS MATERIALIZED ("),
          s"$name: a WITH query must get at least one hint")
    }
  }

  test("materializeCtes edge cases: window clauses, mid-line headers, comments") {
    // multi-window clause: NEITHER window name is a CTE — untouched
    val win = "SELECT a, sum(b) OVER w1, avg(b) OVER w2 FROM t " +
      "WINDOW w1 AS (PARTITION BY c), w2 AS (ORDER BY d)"
    assert(SparkEntry.materializeCtes(win) == win)
    // mid-line CTE headers all rewritten
    val midline = "WITH a AS (SELECT 1), b AS (SELECT 2) SELECT * FROM a, b"
    assert(SparkEntry.materializeCtes(midline) ==
      "WITH a AS MATERIALIZED (SELECT 1), b AS MATERIALIZED (SELECT 2) SELECT * FROM a, b")
    // a CTE followed by a window clause in the main query: CTE yes, window no
    val both = "WITH x AS (SELECT 1 AS v) " +
      "SELECT v, sum(v) OVER w FROM x WINDOW w AS (ORDER BY v)"
    assert(SparkEntry.materializeCtes(both) ==
      "WITH x AS MATERIALIZED (SELECT 1 AS v) " +
      "SELECT v, sum(v) OVER w FROM x WINDOW w AS (ORDER BY v)")
    // an apostrophe inside a comment must not desync the scanner
    val comment = "WITH a AS (\n  -- it's a comment with ( and '\n  SELECT 1), " +
      "b AS (SELECT 2) SELECT * FROM a, b"
    val got = SparkEntry.materializeCtes(comment)
    assert(got.contains("a AS MATERIALIZED (") && got.contains("b AS MATERIALIZED ("))
    // a quoted string containing AS ( must not be rewritten
    val quoted = "WITH a AS (SELECT 'x AS (' AS s) SELECT * FROM a"
    assert(SparkEntry.materializeCtes(quoted) ==
      "WITH a AS MATERIALIZED (SELECT 'x AS (' AS s) SELECT * FROM a")
    // RECURSIVE keyword is skipped, the CTE still materialized
    val rec = "WITH RECURSIVE r AS (SELECT 1 UNION ALL SELECT n + 1 FROM r) " +
      "SELECT * FROM r"
    assert(SparkEntry.materializeCtes(rec) ==
      "WITH RECURSIVE r AS MATERIALIZED (SELECT 1 UNION ALL SELECT n + 1 FROM r) " +
      "SELECT * FROM r")
  }

  test("native md5h60/md5h60b equal the composed conv(substring(md5)) forms") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{conv, substring, md5 => md5fn, col}
    val docs = Tables.documents(spark, sf).select(col("text")).as[String]
      .collect().take(100).toSeq ++
      Seq("", "a", "école", "\u0000x", "token token token", "😀🎉")
    val df = docs.toDF("s")
    val got = df.select(
      api.Graft.md5Hash60(col("s")).as("a"),
      api.Graft.md5Hash60b(col("s")).as("b")).as[(Long, Long)].collect()
    val want = df.select(
      conv(substring(md5fn(col("s")), 1, 15), 16, 10).cast("long").as("a"),
      conv(substring(md5fn(col("s")), 16, 15), 16, 10).cast("long").as("b"))
      .as[(Long, Long)].collect()
    assert(got.toSeq == want.toSeq)
    assert(got.forall { case (a, b) => a >= 0 && b >= 0 && a < (1L << 60) && b < (1L << 60) })
  }

  test("bloom prescreen decontamination equals the exact n-gram pass, and the plan carries the gate") {
    val exact = queries.PipelineOps.decontaminateNgrams(spark, sf).collect().toSeq
    val bloom = queries.PipelineOps.decontaminateBloom(spark, sf)
    val got = bloom.collect().toSeq
    assert(got.map(_.toSeq) == exact.map(_.toSeq))
    assert(got.nonEmpty) // the % 97 split leaks real grams at sf0.001 too
    // the mechanism, not just the answer: the probe side is gated by
    // might_contain on a bloom_filter_agg scalar subquery
    val plan = bloom.queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"), s"no bloom gate in plan:\n$plan")
    assert(plan.contains("bloom_filter_agg") || plan.contains("BloomFilter"),
      s"no bloom build in plan:\n$plan")
  }

  test("native xx64_array winnow selection equals the in-lambda form") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    // same SQL text as the canonical xxhashGramSql but a distinct function
    // instance, so winnowGramHashes keeps the general lambda path
    val lambdaForm: String => String = g => s"xxhash64($g)"
    def run(h: String => String) =
      api.Graft.winnowFingerprints(docs, "doc_id", "text", gramHash = h)
        .orderBy("doc_id").collect().toSeq.map(_.toSeq)
    assert(run(api.Graft.xxhashGramSql) == run(lambdaForm))
  }

  test("array hash natives are null-transparent and type-checked like their lambda forms") {
    import org.apache.spark.sql.functions.expr
    functions.VectorFunctions.register(spark)
    val got = spark.sql(
      "SELECT md5h60_array(array('a', CAST(NULL AS STRING), 'b')) AS h").collect()(0)
      .getSeq[Any](0)
    val want = spark.sql(
      """SELECT transform(array('a', CAST(NULL AS STRING), 'b'),
        |  g -> CAST(conv(substring(md5(g), 1, 15), 16, 10) AS BIGINT)) AS h""".stripMargin)
      .collect()(0).getSeq[Any](0)
    assert(got == want)
    assert(got(1) == null)
    // wrong input type fails analysis, not execution
    intercept[Exception] {
      spark.sql("SELECT xx63_array(array(1, 2))").collect()
    }
  }

  test("bloomDecontaminate drops its per-call temp views after planning") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val out = api.Graft.bloomDecontaminate(
      docs.filter(col("doc_id") % 97 =!= 0), docs.filter(col("doc_id") % 97 === 0),
      "doc_id", "text", n = 6)
    out.collect() // plan still executes after the views are gone
    assert(!spark.catalog.listTables().collect()
      .exists(_.name.startsWith("graft_bloom_")))
  }

  test("bloom decontamination on an empty eval set flags nothing (null sketch gates closed)") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val out = api.Graft.bloomDecontaminate(
      docs, docs.filter(col("doc_id") < 0), "doc_id", "text", n = 6)
    assert(out.collect().isEmpty)
  }

  test("streaming IVF probe serves from the at-rest index across real micro-batches") {
    val got = streaming.StreamingQueries.streamKnnIvf(spark, sf).collect().toSeq
    val want = queries.Similarity.knnIvfPersisted(spark, sf).collect().toSeq
    assert(got.map(_.toSeq) == want.map(_.toSeq))
    assert(got.nonEmpty)
    // the firehose really ran as 2 micro-batches (one staged file each —
    // r15 trimmed the third: per-answer union is batching-invariant and
    // one boundary exercises the per-batch probe path identically)
    val base = Scoped.dir(spark, "graft_stream_knn_ivf", sf)
    val commits = new java.io.File(base + "/ckpt/commits").listFiles()
      .count(f => f.getName.forall(_.isDigit))
    assert(commits == 2, s"expected 2 committed micro-batches, saw $commits")
  }

  test("a replayed ingest batch is exactly-once: flags and index unchanged") {
    import org.apache.spark.sql.functions.col
    val flags1 = streaming.StreamingQueries.streamOnlineDedup(spark, sf)
      .collect().toSeq
    val base = Scoped.dir(spark, "graft_stream_online", sf)
    val indexRows1 = spark.read.parquet(base + "/index").count()
    // simulate the foreachBatch retry: re-run batch 1 from its staged file
    // with the SAME batch id — the batch_id-keyed overwrite must leave both
    // tables byte-equal, not double-appended
    val batch1 = spark.read.parquet(base + "/src/batch1.parquet")
    streaming.StreamingQueries.onlineDedupBatch(
      spark, base + "/index", base + "/flags")(batch1, 1L)
    assert(spark.read.parquet(base + "/index").count() == indexRows1)
    val flags2 = spark.read.parquet(base + "/flags")
      .select(col("new_id").as("doc_id"), col("index_id").as("dup_of"),
        col("est_jaccard"))
      .orderBy("doc_id", "dup_of").collect().toSeq
    assert(flags2.map(_.toSeq) == flags1.map(_.toSeq))
  }

  test("a replayed curation batch is exactly-once: kept table and hash index unchanged") {
    import org.apache.spark.sql.functions.col
    val kept1 = streaming.StreamingQueries.streamOnlineCurate(spark, sf)
      .collect().toSeq
    assert(kept1.nonEmpty)
    val base = Scoped.dir(spark, "graft_stream_curate", sf)
    val indexRows1 = spark.read.parquet(base + "/index").count()
    // rebuild the static artifacts exactly as the operator does, then
    // replay batch 1 with the same id
    val all = Tables.documents(spark, sf)
    val evalSigs = api.Graft.minhashSignatures(
      all.filter(col("doc_id") % 17 === 0), "doc_id", "text",
      numHashes = 32, baseHash = api.Graft.md5Hash60, keepEmpty = false)
    val model = api.Graft.dsirModel(all, "text", col("lang") === "en", buckets = 256)
    val batch1 = spark.read.parquet(base + "/src/batch1.parquet")
    streaming.StreamingQueries.onlineCurateBatch(
      spark, base + "/index", base + "/kept", evalSigs, model)(batch1, 1L)
    assert(spark.read.parquet(base + "/index").count() == indexRows1)
    val kept2 = spark.read.parquet(base + "/kept")
      .select("doc_id", "n_tokens", "llr").orderBy("doc_id").collect().toSeq
    assert(kept2.map(_.toSeq) == kept1.map(_.toSeq))
  }

  test("keep-best representative is a member of its cluster with maximal length") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).length).toMap
    val clusters = queries.PipelineOps.dedupClusters(spark, sf)
      .select("doc_id", "cluster_id").collect()
      .groupBy(_.getLong(1)).view.mapValues(_.map(_.getLong(0)).toSet).toMap
    val reps = queries.PipelineOps.dedupKeepBest(spark, sf).collect()
    assert(reps.length == clusters.size)
    reps.foreach { r =>
      val (cid, repId, repLen) = (r.getLong(0), r.getLong(1), r.getLong(2))
      val members = clusters(cid)
      assert(members.contains(repId))
      assert(repLen == docs(repId))
      val maxLen = members.map(docs).max
      assert(repLen == maxLen)
      // tie-break: among max-length members, the smallest id wins
      assert(repId == members.filter(m => docs(m) == maxLen).min)
    }
  }

  test("fold-in marker is the crash boundary: a missing marker forces a full rebuild") {
    // run once to build both index generations and commit the marker
    val first = queries.Dedup.dedupIndexFoldin(spark, sf).collect()
    val base = new java.io.File(Scoped.dir(spark, "graft_minhash_foldin", sf))
    val marker = new java.io.File(base, Scoped.built)
    val index = new java.io.File(base, "index")
    assert(marker.exists(), "fold-in must commit its marker")
    val filesAfterBuild = index.listFiles().map(_.getName).toSet
    // second call with the marker present: index untouched (served at rest)
    val second = queries.Dedup.dedupIndexFoldin(spark, sf).collect()
    assert(index.listFiles().map(_.getName).toSet == filesAfterBuild,
      "a committed index must be served, not rebuilt")
    assert(second.toSeq == first.toSeq)
    // crash simulation: marker gone, index half-present → full rebuild, and
    // the screen result is unchanged (rebuild ≡ original build)
    assert(marker.delete())
    index.listFiles().take(1).foreach(f => assert(f.delete()))
    val third = queries.Dedup.dedupIndexFoldin(spark, sf).collect()
    assert(marker.exists(), "rebuild must re-commit the marker")
    assert(third.toSeq == first.toSeq,
      "a rebuild after a simulated crash must reproduce the screen exactly")
  }

  test("IVF refresh marker: committed index served at rest, missing marker rebuilds") {
    val first = queries.Similarity.knnIvfRefresh(spark, sf).collect()
    val baseDir = new java.io.File(Scoped.dir(spark, "graft_ivf_refresh", sf))
    val marker = new java.io.File(baseDir, Scoped.built)
    assert(marker.exists(), "refresh must commit its marker")
    val second = queries.Similarity.knnIvfRefresh(spark, sf).collect()
    assert(second.toSeq == first.toSeq)
    assert(marker.delete())
    val third = queries.Similarity.knnIvfRefresh(spark, sf).collect()
    assert(marker.exists() && third.toSeq == first.toSeq,
      "a rebuild after a simulated crash must reproduce the search exactly")
  }
}
