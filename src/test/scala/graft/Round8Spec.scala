package graft

import org.apache.spark.sql.functions._

/** Round-8 additions: the sampled-codebook training path, the IVF-PQ
  * composition's building blocks, the BPE merge loop's greedy semantics,
  * the at-rest incremental-dedup index, and regressions for the round-7
  * ADVICE fixes (map-surrogate tie-break hash, farthest-first k-guard,
  * JDBC identifier validation, run-unique staging paths). */
class Round8Spec extends SparkSpec {
  import spark.implicits._

  private def embeddings = Tables.embeddings(spark, sf)

  // ---------- sampled-codebook training (VERDICT r7 #5) ----------

  test("sampled kmeans trains on the md5-digit sample but assigns the full frame") {
    val full = embeddings.select(col("vec_id"), col("embedding"))
    val km = graft.api.Graft.kmeans(full, "vec_id", "embedding", k = 8,
      iters = 2, trainHexDigits = Seq("0", "1", "2", "3"))
    // codebook stays k-sized and the ENCODE pass covers every vector,
    // sampled or not — the "train on a sample, broadcast" contract
    assert(km.centroids.count() === 8L)
    assert(km.assignments.count() === full.count())
    assert(km.assignments.select("vec_id").distinct().count() === full.count())
    // deterministic: the same digit set reproduces the same model
    val km2 = graft.api.Graft.kmeans(full, "vec_id", "embedding", k = 8,
      iters = 2, trainHexDigits = Seq("0", "1", "2", "3"))
    assert(km.assignments.except(km2.assignments).isEmpty)
  }

  test("sampled-trained PQ codebooks encode the full frame") {
    val full = embeddings.select(col("vec_id"), col("embedding"))
    val n = full.count()
    val pq = graft.api.Graft.productQuantize(full, "vec_id", "embedding",
      dim = 64, m = 4, k = 16, iters = 1, trainHexDigits = Seq("a", "b"))
    assert(pq.codebooks.count() === 4L * 16L)
    // every vector gets all m codes even though training saw ~1/8 of rows
    assert(pq.codes.count() === n * 4L)
    assert(pq.codes.groupBy("vec_id").count()
      .filter(col("count") =!= 4).isEmpty)
  }

  // ---------- farthest-first k-guard (ADVICE r7) ----------

  test("farthest-first init degrades to fewer seeds when k exceeds distinct vectors") {
    val df = Seq(
      (1L, Array(0f, 0f)), (2L, Array(0f, 0f)), (3L, Array(1f, 1f)),
      (4L, Array(1f, 1f)), (5L, Array(5f, 5f))).toDF("id", "v")
    val km = graft.api.Graft.kmeans(df, "id", "v", k = 5, iters = 1,
      init = "farthest-first")
    val cents = km.centroids.collect()
    // only 3 distinct vectors exist → exactly 3 seeds, no duplicate rows
    assert(cents.length === 3)
    assert(cents.map(_.getLong(0)).distinct.length === 3)
    assert(cents.map(_.getSeq[Float](1)).distinct.length === 3)
    // and the full frame still gets assigned
    assert(km.assignments.count() === 5L)
  }

  // ---------- map-surrogate tie-break hash (ADVICE r7) ----------

  test("latestPerKey tie-break sees map-column differences deterministically") {
    // two rows tie on (key, order) and differ ONLY in the map column —
    // pre-r8 the map was dropped from the hash and the winner was arbitrary
    val a = Seq((1L, 10L, Map("x" -> 1)), (1L, 10L, Map("x" -> 2)))
      .toDF("k", "ord", "m")
    val b = Seq((1L, 10L, Map("x" -> 2)), (1L, 10L, Map("x" -> 1)))
      .toDF("k", "ord", "m")
    val wa = graft.api.Graft.latestPerKey(a, "k", "ord").collect()
    val wb = graft.api.Graft.latestPerKey(b, "k", "ord").collect()
    assert(wa.length === 1 && wb.length === 1)
    // same winner regardless of input order = the hash really discriminates
    assert(wa.head.getMap[String, Int](2) === wb.head.getMap[String, Int](2))
    // entry-order-insensitive: maps equal as sets hash equal
    val h = graft.api.Graft.rowContentHash(
      Seq((Map("a" -> 1, "b" -> 2)), (Map("b" -> 2, "a" -> 1))).toDF("m"))
    val hs = Seq((Map("a" -> 1, "b" -> 2)), (Map("b" -> 2, "a" -> 1))).toDF("m")
      .select(h.as("h")).collect().map(_.getLong(0))
    assert(hs(0) === hs(1))
  }

  // ---------- BPE merge loop (VERDICT r7 #7) ----------

  test("bpeMerges implements greedy left-to-right BPE merging") {
    // corpus: "aaaa" ×3, "ab" ×2 → round 1 argmax is (a,a) with 3·3=9
    // occurrences; greedy merge gives [aa, aa] (NOT [aa, a, a]), so round 2
    // sees (aa,aa) ×3 and (a,b) ×2
    val docs = Seq("aaaa aaaa aaaa ab ab").toDF("text")
    val m = graft.api.Graft.bpeMerges(docs, "text", budget = 3).collect()
    assert(m(0).getString(1) === "a" && m(0).getString(2) === "a")
    assert(m(0).getLong(4) === 9L)
    assert(m(1).getString(1) === "aa" && m(1).getString(2) === "aa")
    assert(m(1).getLong(4) === 3L)
    assert(m(2).getString(1) === "a" && m(2).getString(2) === "b")
    assert(m(2).getLong(4) === 2L)
  }

  test("bpeMerges stops early when no pairs remain") {
    val docs = Seq("ab ab").toDF("text")
    // one merge exhausts every multi-symbol word
    val m = graft.api.Graft.bpeMerges(docs, "text", budget = 10).collect()
    assert(m.length === 1)
    assert(m(0).getString(3) === "ab")
  }

  // ---------- at-rest incremental dedup (VERDICT r7 #6) ----------

  test("dedupIncremental persists the index once and reuses it") {
    // r12: the at-rest index is the SHARED signature artifact
    // (Dedup.ensureSignatureTable, Scoped.dir(_, "graft_minhash_sigs", _)),
    // filter-pruned to the index ids — built on first use, untouched after
    val first = graft.queries.Dedup.dedupIncremental(spark, sf).collect()
    val sigRoot = new java.io.File(
      Scoped.dir(spark, "graft_minhash_sigs", sf)).getParentFile
    assert(sigRoot.exists(), "shared signature table written on first use")
    def mtimes() = sigRoot.listFiles().flatMap(d =>
      Option(d.listFiles()).getOrElse(Array.empty)).flatMap(d =>
      Option(d.listFiles()).getOrElse(Array(d))).map(_.lastModified()).sorted
    val m1 = mtimes()
    val second = graft.queries.Dedup.dedupIncremental(spark, sf).collect()
    // same result, artifact files untouched by the second increment
    assert(first.toSeq === second.toSeq)
    assert(m1.toSeq === mtimes().toSeq)
  }

  // ---------- MinKByDistance ≡ window top-k ----------

  test("fused min-k aggregate matches the window shape it replaces") {
    val cand = Seq(
      (1L, 11L, 0.5), (1L, 12L, 0.2), (1L, 13L, 0.9), (1L, 14L, 0.2),
      (2L, 11L, 0.1), (2L, 12L, 0.3)).toDF("q_id", "c_id", "dist")
    val mink = udaf(new graft.functions.MinKByDistance(2),
      org.apache.spark.sql.Encoders.product[graft.functions.DistCand])
    val got = cand.groupBy("q_id")
      .agg(mink(col("c_id"), col("dist")).as("topk"))
      .select(col("q_id"), posexplode(col("topk.items")).as(Seq("i", "nb")))
      .select(col("q_id"), col("nb.c_id"), col("nb.dist"))
      .orderBy("q_id", "dist", "c_id").collect()
    // ties on dist break to the lower c_id (12 before 14)
    assert(got.map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      Seq((1L, 12L), (1L, 14L), (2L, 11L), (2L, 12L)))
  }

  // ---------- JDBC identifier validation (ADVICE r7) ----------

  test("JdbcKeyValueStore rejects non-identifier table names before probing") {
    val store = new graft.connectors.JdbcKeyValueStore(
      "jdbc:derby:memory:r8val;create=true", "kv; DROP TABLE x", "ord")
    val batch = Seq((1L, 2L)).toDF("k", "ord")
    val e = intercept[IllegalArgumentException] { store.upsert(batch, "k") }
    assert(e.getMessage.contains("identifier"))
  }

  // ---------- run-unique staging (VERDICT r7 #8) ----------

  test("staging paths embed the application id (no cross-session clobber)") {
    // behavioral: the staging trees land under the app id, so another
    // session's writes cannot collide with this one's
    val appId = spark.sparkContext.applicationId
    def appDir(name: String) =
      new java.io.File(Scoped.dir(spark, name, sf)).getParentFile
    graft.queries.Formats.zorderPruneReadback(spark, sf).collect()
    assert(appDir("graft_zorder_rb").getName == appId)
    assert(appDir("graft_zorder_rb").exists())
    graft.queries.Formats.partitionedWrite(spark, sf).collect()
    assert(appDir("graft_part_write").getName == appId)
    assert(appDir("graft_part_write").exists())
  }

  // ---------- linear classifier inference ----------

  test("linearClassify scores a hand-built model exactly") {
    val docs = Seq((1L, "a b c"), (2L, "b b")).toDF("doc_id", "text")
    // look the buckets up with the same hash the operator uses, then pin
    // each token's weight — the test controls the model, not the hash
    val buckets = Seq("a", "b", "c").toDF("tok")
      .select(col("tok"), pmod(graft.api.Graft.md5Hash60(col("tok")), lit(1024L)).as("bucket"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val w = Seq((buckets("a"), 3L), (buckets("b"), -1L), (buckets("c"), 1L))
      .toDF("bucket", "weight")
    val got = graft.api.Graft.linearClassify(docs, "doc_id", "text",
        buckets = 1024, weights = w)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getString(3)))
    // doc 1: (3 - 1 + 1)/3 = 1.0 keep; doc 2: -2/2 = -1.0 drop
    assert(got === Array((1L, 3L, 1.0, "keep"), (2L, 2L, -1.0, "drop")))
  }

  // ---------- PMI collocations ----------

  test("pmiBigrams matches the by-hand quantized-ln model") {
    val docs = Seq((1L, "a b a b a b")).toDF("doc_id", "text")
    val got = graft.api.Graft.pmiBigrams(docs, "text", minCount = 1L, topK = 10)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    // tokens a,b ×3 each, N=6; pairs (a,b)×3, (b,a)×2
    val pmiAB = math.floor(math.log(3.0 * 6.0 / 9.0) * 1048576.0) / 1048576.0
    val pmiBA = math.floor(math.log(2.0 * 6.0 / 9.0) * 1048576.0) / 1048576.0
    assert(got === Array(("a", "b", 3L, pmiAB), ("b", "a", 2L, pmiBA)))
  }

  // ---------- verbatim-span overlap (Lee '21 shape) ----------

  test("substringOverlapCandidates finds exactly the shared 8-token run") {
    val ts = (1 to 12).map("t" + _)
    val docs = Seq(
      (1L, ts.mkString(" ")),                              // t1..t12
      (2L, "z1 z2 " + ts.slice(2, 10).mkString(" ")),      // t3..t10 embedded
      (3L, (1 to 10).map("u" + _).mkString(" "))           // unrelated
    ).toDF("doc_id", "text")
    val got = graft.api.Graft.substringOverlapCandidates(docs, "doc_id", "text",
        spanTokens = 8, minSpans = 1L, maxPostings = 128L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // the single shared fingerprint is the span t3..t10
    assert(got === Array((1L, 2L, 1L)))
  }

  // ---------- winnowing (MOSS) ----------

  test("winnowFingerprints: degenerate and bounded window counts") {
    val docs = Seq(
      (1L, "a b c d"),                          // 1 gram -> 1 window -> 1 fp
      (2L, (1 to 10).map("t" + _).mkString(" ")) // 7 grams, 3 windows
    ).toDF("doc_id", "text")
    val got = graft.api.Graft.winnowFingerprints(docs, "doc_id", "text",
        k = 4, w = 5)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got(0) === ((1L, 1L, 1L, 1.0)))
    val (_, grams, fps, density) = got(1)
    assert(grams === 7L && fps >= 1L && fps <= 3L)
    assert(density === math.floor((20000.0 * fps + grams) / (2 * grams)) / 10000.0)
  }

  test("winnowing guarantee: docs sharing >= w+k-1 tokens share a fingerprint") {
    // reconstruct the selected sets with the same expressions the operator
    // uses, on two docs sharing an 8-token (= w+k-1) run
    val shared = (1 to 8).map("s" + _).mkString(" ")
    val docs = Seq((1L, "x1 x2 " + shared), (2L, shared + " y1 y2"))
      .toDF("doc_id", "text")
    val sel = docs
      .withColumn("__ts", expr("filter(split(text, ' ', -1), t -> length(t) > 0)"))
      .withColumn("__hs", expr(
        """transform(sequence(1, size(__ts) - 3),
          |  i -> CAST(conv(substring(md5(array_join(slice(__ts, i, 4), ' ')), 1, 15),
          |                 16, 10) AS BIGINT))""".stripMargin))
      .withColumn("__sel", expr(
        """array_distinct(transform(sequence(1, greatest(size(__hs) - 4, 1)),
          |  j -> array_min(slice(__hs, j, 5))))""".stripMargin))
      .select(col("doc_id"), explode(col("__sel")).as("fp"))
    val byDoc = sel.collect().groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getLong(1)).toSet).toMap
    assert(byDoc(1L).intersect(byDoc(2L)).nonEmpty)
  }

  // ---------- per-source corpus report ----------

  test("sourceReport conserves doc counts and bounds its ratios") {
    val rep = graft.queries.TextAnalysis.sourceReport(spark, sf).collect()
    val total = Tables.documents(spark, sf).count()
    assert(rep.map(_.getLong(2)).sum === total)
    rep.foreach { r =>
      assert(r.getDouble(4) >= 0.0 && r.getDouble(4) <= 1.0) // mean_quality
      assert(r.getDouble(5) >= 0.0 && r.getDouble(5) <= 1.0) // keep_share
    }
  }

  // ---------- streaming classifier inference ----------

  test("streamClassify final state equals the batch classifier rollup") {
    val stream = graft.streaming.StreamingQueries.streamClassify(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val batch = graft.api.Graft.linearClassify(
        Tables.documents(spark, sf), "doc_id", "text", buckets = 1024)
      .groupBy("label")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("tok_volume"))
      .orderBy("label")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(stream === batch)
  }

  // ---------- winnowed MOSS pairs + gopher rules ----------

  test("winnowOverlapCandidates finds the shared-run pair on the reduced index") {
    val shared = (1 to 12).map("s" + _).mkString(" ")   // >= w+k-1 = 8 tokens
    val docs = Seq(
      (1L, "x1 x2 x3 " + shared), (2L, shared + " y1 y2"),
      (3L, (1 to 15).map("u" + _).mkString(" "))
    ).toDF("doc_id", "text")
    val got = graft.api.Graft.winnowOverlapCandidates(docs, "doc_id", "text",
        k = 4, w = 5, minShared = 1L, maxPostings = 128L)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got === Array((1L, 2L)))
  }

  test("dedupWinnowKeep conserves documents across clusters") {
    val keep = graft.queries.Dedup.dedupWinnowKeep(spark, sf).collect()
    val total = Tables.documents(spark, sf).count()
    assert(keep.map(_.getLong(1)).sum === total)
    // every representative is a real doc id and the minimum of its cluster
    assert(keep.map(_.getLong(0)).distinct.length === keep.length)
  }

  test("gopherRules: thresholds are integer-exact and the conjunction holds") {
    val docs = Seq(
      (1L, (Seq("the", "a", "of") ++ (1 to 20).map(i => s"word$i")).mkString(" ")),
      (2L, "no stopwords here at all " + (1 to 20).map(i => s"w$i").mkString(" ")),
      (3L, "the a " + (1 to 5).map(_ => "999").mkString(" "))  // non-alpha heavy
    ).toDF("doc_id", "text")
    val got = graft.api.Graft.gopherRules(docs, "text", minWords = 5L)
      .orderBy("doc_id")
      .collect().map(r => (r.getAs[Long]("n_words"), r.getAs[Long]("n_stopwords"),
        r.getAs[Boolean]("passes")))
    assert(got(0)._3 === true)                        // prose-like doc passes
    assert(got(1)._2 === 0L && got(1)._3 === false)   // zero stopwords fails
    assert(got(2)._3 === false)                       // alpha 2/7 < 0.8 fails
  }

  // ---------- SCD Type-2 history ----------

  test("scd2History compresses runs and emits validity intervals") {
    val feed = Seq(
      (1L, "A", 1L, 10L), (1L, "A", 2L, 11L), (1L, "B", 3L, 12L),
      (1L, "A", 4L, 13L), (2L, "X", 1L, 14L),
      // null transitions: history STARTS null, then a non-null -> null change
      (3L, null.asInstanceOf[String], 1L, 15L), (3L, "C", 2L, 16L),
      (3L, null.asInstanceOf[String], 3L, 17L)
    ).toDF("k", "attr", "t", "id")
    val got = graft.api.Graft.scd2History(feed, "k", "attr", Seq("t", "id"))
      .orderBy("k", "valid_from")
      .collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) "-" else r.getString(1),
        r.getLong(2), if (r.isNullAt(3)) -1L else r.getLong(3), r.getBoolean(4)))
    assert(got === Array(
      (1L, "A", 1L, 3L, false),   // A run [1,3): the t=2 duplicate compressed
      (1L, "B", 3L, 4L, false),
      (1L, "A", 4L, -1L, true),   // reopened A is a NEW interval, current
      (2L, "X", 1L, -1L, true),
      (3L, "-", 1L, 2L, false),   // null-valued FIRST interval survives
      (3L, "C", 2L, 3L, false),
      (3L, "-", 3L, -1L, true))) // non-null -> null IS a change (null-safe)
  }

  // ---------- IVF probe sweep ----------

  test("annProbeSweep: candidates and recall are monotonic in nprobe") {
    val got = graft.queries.Similarity.annProbeSweep(spark, sf)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.map(_._1).toSeq === Seq(1, 2, 3))
    assert(got(0)._2 < got(1)._2 && got(1)._2 < got(2)._2) // candidate volume grows
    assert(got(0)._3 <= got(1)._3 && got(1)._3 <= got(2)._3) // hits never shrink
    got.foreach { case (_, _, hits, recall) =>
      assert(hits >= 0L && hits <= 50L && recall === hits / 50.0)
    }
  }

  // ---------- ANN recall eval ----------

  test("annRecall agrees with a direct intersection of the tier outputs") {
    val got = graft.queries.Similarity.annRecall(spark, sf).collect()
    assert(got.length === 10)
    got.foreach { r =>
      val (hl, rl) = (r.getLong(1), r.getDouble(2))
      val (hp, rp) = (r.getLong(3), r.getDouble(4))
      assert(hl >= 0L && hl <= 5L && rl === hl / 5.0)
      assert(hp >= 0L && hp <= 5L && rp === hp / 5.0)
    }
    // cross-check the LSH column against a direct set intersection
    val bf = graft.queries.Similarity.knnBruteForce(spark, sf)
      .select("q_id", "c_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = graft.queries.Similarity.knnLsh(spark, sf)
      .select("q_id", "c_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    val expected = lsh.groupBy(_._1).view.mapValues(_.count(bf.contains)).toMap
    got.foreach { r =>
      assert(r.getLong(1) === expected.getOrElse(r.getLong(0), 0).toLong)
    }
  }
}
