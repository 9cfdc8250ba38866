package graft

import org.apache.spark.sql.functions._

/** Round-16 additions: the `minhash_sigs` native expression (all 32
  * permutation minima in one compiled pass) pinned byte-identical to the
  * stacked array_min(transform(...)) lambda form it replaced, including
  * the signed-fingerprint (floorMod) and null-element paths the callers
  * never exercise; plus the online-dedup loop's index-first screen
  * (signatures computed once, screened from the re-read artifact) pinned
  * against the r15 flags output shape.
  */
class Round16Spec extends SparkSpec {
  private def lambdaSigs(n: Int): String = {
    val P = 2147483647L
    (0 until n).map { i =>
      val a = 2L * i * i + 3L * i + 1L
      val b = 7L * i * i + 5L * i + 3L
      // pmod matches MinhashSigs' floorMod on negative base hashes; for
      // the nonneg md5h60/xx63 families it is plain %
      s"array_min(transform(hs, h -> (${a}L * pmod(h, ${P}L) + ${b}L) % ${P}L))"
    }.mkString("array(", ", ", ")")
  }

  test("minhash_sigs equals the stacked lambda form on random long arrays " +
      "(positive, negative, and null elements; n=32 and n=8)") {
    graft.functions.VectorFunctions.register(spark)
    import spark.implicits._
    // deterministic pseudo-random rows: xxhash64 of the row id seeds both
    // positive and signed values; every 7th element is NULL
    val df = spark.range(200).selectExpr(
      """transform(sequence(0, CAST(id % 40 AS INT)),
        |  j -> CASE WHEN j % 7 = 3 THEN CAST(NULL AS BIGINT)
        |            ELSE xxhash64(id * 1000 + j) END) AS hs""".stripMargin)
    for (n <- Seq(8, 32)) {
      val both = df.selectExpr(
        s"minhash_sigs(hs, $n) AS native", s"${lambdaSigs(n)} AS lam")
        .as[(Seq[Long], Seq[Long])].collect()
      both.foreach { case (nat, lam) =>
        assert(nat == lam, s"n=$n: native $nat != lambda $lam")
      }
    }
  }

  test("minhash_sigs: empty and all-null inputs yield an empty array; " +
      "null input stays null") {
    graft.functions.VectorFunctions.register(spark)
    val r = spark.sql(
      """SELECT minhash_sigs(CAST(array() AS ARRAY<BIGINT>), 4) AS e,
        |  minhash_sigs(array(CAST(NULL AS BIGINT)), 4) AS an,
        |  minhash_sigs(CAST(NULL AS ARRAY<BIGINT>), 4) AS nn""".stripMargin)
      .collect()(0)
    assert(r.getSeq[Long](0).isEmpty)
    assert(r.getSeq[Long](1).isEmpty)
    assert(r.isNullAt(2))
  }

  test("minhash_sigs matches the md5 oracle family end to end: row-local " +
      "signatures are unchanged by the native rewrite") {
    // the strongest pin: the signature of a REAL document through the
    // native path equals the hand-computed permutation minima over the
    // md5h60 gram hashes of its distinct 3-token shingles
    graft.functions.VectorFunctions.register(spark)
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).limit(20)
    val sigs = api.Graft.minhashSignatureRowLocal(docs, "doc_id", "text",
        numHashes = 32, gramHashSql = api.Graft.md5GramSql)
      .as[(Long, Seq[Long])].collect().toMap
    val hand = docs.selectExpr("doc_id",
      """CASE WHEN size(split(text, ' ', -1)) >= 3 THEN
        |  array_distinct(transform(sequence(1, size(split(text, ' ', -1)) - 2),
        |    i -> array_join(slice(split(text, ' ', -1), i, 3), ' ')))
        |ELSE array() END AS sh""".stripMargin)
      .filter("size(sh) > 0")
      .selectExpr("doc_id", s"""${lambdaSigs(32).replace("hs,", "md5h60_array(sh),")} AS sig""")
      .as[(Long, Seq[Long])].collect().toMap
    assert(sigs == hand)
  }

  test("graphGreedySearch: hand-worked descent — moves only on strict " +
      "improvement, stalls at a local optimum, never targets the query") {
    import spark.implicits._
    graft.functions.VectorFunctions.register(spark)
    def v(x: Double, y: Double): Array[Float] = Array(x.toFloat, y.toFloat)
    // query 0 points at [1, 0]; entry 10 is orthogonal; the chain
    // 10 -> 11 -> 12 improves monotonically; 12's only edge goes BACK to
    // 11 (worse — must stall); 13 is query 0 itself as a decoy edge target
    val vecs = Seq(
      (0L, v(1, 0)), (10L, v(0, 1)), (11L, v(0.6, 0.8)),
      (12L, v(0.9, 0.435890)), (13L, v(1, 0))).toDF("vec_id", "embedding")
    val edges = Seq((10L, 11L), (10L, 0L), (11L, 12L), (12L, 11L))
      .toDF("__src", "__dst")
    val queries = Seq((0L, v(1, 0))).toDF("q_id", "qv")
    val out = api.Graft.graphGreedySearch(vecs, "vec_id", "embedding",
        edges, queries, hops = 3)
      .orderBy("hop").select("hop", "node_id", "cos4")
      .as[(Int, Long, Double)].collect().toSeq
    // 10 -> 11 (0.6 beats 0.0; the 0-target edge is excluded) -> 12
    // (0.9 beats 0.6) -> stall (12's best neighbor 11 scores 0.6 < 0.9)
    assert(out == Seq((0, 10L, 0.0), (1, 11L, 0.6), (2, 12L, 0.9),
      (3, 12L, 0.9)), s"unexpected trace: $out")
  }

  test("onlineDedupBatch index-first screen: replay of a batch is " +
      "byte-idempotent and never self-matches") {
    import spark.implicits._
    val base = Scoped.dir(spark, "graft_r16_dedup", sf)
    val b0 = Seq((1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six seven")).toDF("doc_id", "text")
    val b1 = Seq((3L, "alpha beta gamma delta epsilon zeta"),
      (4L, "totally unrelated content words here now")).toDF("doc_id", "text")
    val idx = s"$base/index"; val flags = s"$base/flags"
    streaming.StreamingQueries.onlineDedupBatch(spark, idx, flags)(b0, 0L)
    streaming.StreamingQueries.onlineDedupBatch(spark, idx, flags)(b1, 1L)
    val first = spark.read.parquet(flags)
      .select("new_id", "index_id", "est_jaccard").collect().toSet
    assert(first.map(r => (r.getLong(0), r.getLong(1))) == Set((3L, 1L)),
      s"expected exactly the cross-batch dup, got $first")
    // REPLAY batch 1 (the foreachBatch retry contract): output unchanged
    streaming.StreamingQueries.onlineDedupBatch(spark, idx, flags)(b1, 1L)
    val replay = spark.read.parquet(flags)
      .select("new_id", "index_id", "est_jaccard").collect().toSet
    assert(replay == first, "replayed batch changed the flags output")
  }

  test("top_token_count equals the lambda pyramid on real docs and edge " +
      "cases (ties, all-null, empty, null input, empty-string tokens)") {
    graft.functions.VectorFunctions.register(spark)
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
      .selectExpr("split(text, ' ', -1) AS toks")
      .unionByName(Seq(
        Seq("a", "b", "a", "b"),          // tie at 2
        Seq("x"),                          // singleton
        Seq("", "", "y"),                  // empty-string tokens count
        Seq.empty[String]                  // empty array -> NULL
      ).toDF("toks"))
      .unionByName(spark.sql(
        """SELECT array(CAST(NULL AS STRING), CAST(NULL AS STRING)) AS toks
          |UNION ALL SELECT array(CAST(NULL AS STRING), 'z', 'z') AS toks
          |UNION ALL SELECT CAST(NULL AS ARRAY<STRING>) AS toks""".stripMargin))
    val cmp = docs.selectExpr(
      "top_token_count(toks) AS native",
      """CAST(array_max(transform(array_distinct(toks),
        |  t -> size(filter(toks, x -> x = t)))) AS BIGINT) AS lam""".stripMargin)
    assert(cmp.filter(not(col("native") <=> col("lam"))).count() == 0,
      cmp.filter(not(col("native") <=> col("lam"))).collect().mkString("; "))
  }

  test("gopher_stats fields equal the four lambda signals on real docs " +
      "and edge cases (empty tokens, no-alpha, unicode, null elements)") {
    graft.functions.VectorFunctions.register(spark)
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
      .selectExpr("split(text, ' ', -1) AS toks")
      .unionByName(Seq(
        Seq("THE", "OF", "123", "!!!"),           // no lowercase ascii
        Seq("", "the", "", "a"),                  // empties dropped, 2 stops
        Seq("héllo", "wörld", "日本語"),           // multibyte; é/ö are not [a-z] but h/l/o/w/r/d are
        Seq("ß", "ÀÉ", "ZY"),                     // zero [a-z] bytes
        Seq("is", "is", "is")                     // repeated stopword counts once
      ).toDF("toks"))
      .unionByName(spark.sql(
        "SELECT array(CAST(NULL AS STRING), 'and', '') AS toks"))
    val cmp = docs
      .withColumn("__ts", expr("filter(toks, t -> length(t) > 0)"))
      .withColumn("g", expr(
        "gopher_stats(toks, array('the','a','of','and','is'))"))
      .selectExpr(
        "g.n_words AS nw", "CAST(size(__ts) AS BIGINT) AS nw0",
        "g.sum_len AS sl",
        "aggregate(__ts, 0L, (acc, t) -> acc + length(t)) AS sl0",
        "g.n_alpha AS al",
        "CAST(size(filter(__ts, t -> t RLIKE '[a-z]')) AS BIGINT) AS al0",
        "g.n_stop AS st",
        """CAST(size(filter(array('the','a','of','and','is'),
          |  s -> array_contains(__ts, s))) AS BIGINT) AS st0""".stripMargin)
    val bad = cmp.filter(not(col("nw") <=> col("nw0") &&
      col("sl") <=> col("sl0") && col("al") <=> col("al0") &&
      col("st") <=> col("st0")))
    assert(bad.count() == 0, bad.collect().mkString("; "))
  }

  test("gopherRules and repetitionMetrics outputs are unchanged by the " +
      "native rewrites (full-row compare on sf0.001) and the gate plan " +
      "holds ONE gopher_stats") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    // old gopherRules formulation, inline
    val oldGopher = docs
      .withColumn("__ts", expr("filter(split(`text`, ' ', -1), t -> length(t) > 0)"))
      .withColumn("n_words", size(col("__ts")).cast("long"))
      .filter(col("n_words") >= 1L)
      .withColumn("__sumlen", expr("aggregate(__ts, 0L, (acc, t) -> acc + length(t))"))
      .withColumn("mean_word_len", expr(
        "CAST((20000L * __sumlen + n_words) DIV (2L * n_words) AS DOUBLE) / 10000.0"))
      .withColumn("__alpha", expr("CAST(size(filter(__ts, t -> t RLIKE '[a-z]')) AS BIGINT)"))
      .withColumn("alpha_share", expr(
        "CAST((20000L * __alpha + n_words) DIV (2L * n_words) AS DOUBLE) / 10000.0"))
      .withColumn("n_stopwords", expr(
        """CAST(size(filter(array('the','a','of','and','is'),
          |  s -> array_contains(__ts, s))) AS BIGINT)""".stripMargin))
      .withColumn("passes",
        col("n_words").between(20L, 100000L) &&
        expr("3L * n_words <= __sumlen AND __sumlen <= 10L * n_words") &&
        expr("5L * __alpha >= 4L * n_words") &&
        col("n_stopwords") >= 2L)
      .drop("__ts", "__sumlen", "__alpha")
    val newGopher = graft.api.Graft.gopherRules(docs, "text")
    assert(newGopher.columns.toSeq == oldGopher.columns.toSeq,
      s"schema drift: ${newGopher.columns.toSeq} vs ${oldGopher.columns.toSeq}")
    assert(newGopher.exceptAll(oldGopher).count() == 0 &&
      oldGopher.exceptAll(newGopher).count() == 0,
      "gopherRules output changed")
    // old repetitionMetrics top_token_frac, inline
    val oldRep = docs.withColumn("__toks", split(col("text"), " ", -1))
      .withColumn("n_tokens", size(col("__toks")).cast("long"))
      .withColumn("top_token_frac", expr(
        """CAST((20000L * (CAST(array_max(transform(array_distinct(__toks),
          |  t -> size(filter(__toks, x -> x = t)))) AS BIGINT)) + (n_tokens))
          |  DIV (2L * (n_tokens)) AS DOUBLE) / 10000.0""".stripMargin))
      .select("doc_id", "n_tokens", "top_token_frac")
    val newRep = graft.api.Graft.repetitionMetrics(docs, "text")
      .select("doc_id", "n_tokens", "top_token_frac")
    assert(newRep.exceptAll(oldRep).count() == 0 &&
      oldRep.exceptAll(newRep).count() == 0,
      "repetitionMetrics top_token_frac changed")
    // the optimizer fence (deterministic=false) holds: a consumer filtering
    // on `passes` evaluates the struct once — not once per field reference.
    // Counted by traversing the OPTIMIZED plan's expression trees (ADVICE
    // r16: string-splitting the physical plan dump is brittle to plan-string
    // formatting / AQE annotations); duplication-by-pushdown, if it ever
    // returned, happens in the optimizer and is visible at this level.
    val opt = newGopher.filter(col("passes")).select("doc_id")
      .queryExecution.optimizedPlan
    var nGopher = 0
    opt.foreach { node =>
      node.expressions.foreach(_.foreach {
        case _: graft.functions.GopherStats => nGopher += 1
        case _ => ()
      })
    }
    assert(nGopher == 1,
      s"expected exactly one gopher_stats expression in the gate plan, got $nGopher:\n$opt")
  }
}
