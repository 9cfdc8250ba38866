package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import java.sql.Timestamp

/** Round-6 additions: the parameterized dedup knobs (postings cap, block
  * occupancy guard), the k-means empty-cluster fix, and the deterministic
  * latestPerKey tie-break. */
class Round6Spec extends SparkSpec {
  import spark.implicits._

  // ---------- ngramJaccardCandidates: the postings cap ----------

  test("ngramJaccardCandidates: cap prunes candidates but never changes scores") {
    // docs 1/2 share a RARE shingle ("alpha beta gamma"); docs 3..8 all share
    // a COMMON one ("x x x", postings length 6)
    val rare = "alpha beta gamma delta epsilon"
    val docs = Seq(
      (1L, rare + " one"), (2L, rare + " two"),
      (3L, "x x x p q"), (4L, "x x x r s"), (5L, "x x x t u"),
      (6L, "x x x v w"), (7L, "x x x y z"), (8L, "x x x q r")
    ).toDF("doc_id", "text")
    val uncapped = api.Graft.ngramJaccardCandidates(docs, "doc_id", "text",
      minJaccard = 0.1, maxPostings = 1000L)
      .as[(Long, Long, Long, Double)].collect().toSet
    val capped = api.Graft.ngramJaccardCandidates(docs, "doc_id", "text",
      minJaccard = 0.1, maxPostings = 5L)
      .as[(Long, Long, Long, Double)].collect().toSet
    // the cap drops the common-shingle bucket from the INDEX: pairs found
    // only through it disappear; pairs that survive keep their exact score
    assert(capped.subsetOf(uncapped))
    assert(capped.exists { case (a, b, _, _) => (a, b) == (1L, 2L) },
      "rare-shingle pair must survive the cap")
    assert(!capped.exists { case (a, _, _, _) => a >= 3L },
      "common-shingle-only pairs must be pruned from the capped index")
    // exact Jaccard sanity on the rare pair: 6 tokens → 4 shingles each,
    // 3 shared → 3 / (4 + 4 - 3) = 0.6
    val j = uncapped.collectFirst { case (1L, 2L, n, s) => (n, s) }.get
    assert(j == ((3L, 0.6)))
  }

  test("every capped operator: the cap prunes candidates but never changes scores") {
    // docs 1/2 are near-duplicates through rare keys; docs 3..8 are one text,
    // so each of their shingles, grams and band buckets is held by 6 rows —
    // over a cap of 5, under one of 1000
    val rare = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = (Seq((1L, rare + " one"), (2L, rare + " two"), (9L, "lone words here now")) ++
      (3L to 8L).map(i => (i, "p q r s t"))).toDF("doc_id", "text")
    val G = api.Graft
    def rows(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
      df.collect().map(_.toSeq).toSet
    def idPair(r: Seq[Any]): (Long, Long) = (r(0).asInstanceOf[Long], r(1).asInstanceOf[Long])
    val common = (for (a <- 3L to 8L; b <- a + 1 to 8L) yield (a, b)).toSet
    val ops: Seq[(String, Long => org.apache.spark.sql.DataFrame)] = Seq(
      "ngramJaccardCandidates" -> (cap => G.ngramJaccardCandidates(docs, "doc_id", "text",
        minJaccard = 0.1, maxPostings = cap)),
      "ngramContainmentCandidates" -> (cap => G.ngramContainmentCandidates(docs,
        "doc_id", "text", minContainment = 0.1, maxPostings = cap)),
      "substringOverlapCandidates" -> (cap => G.substringOverlapCandidates(docs,
        "doc_id", "text", spanTokens = 3, maxPostings = cap)),
      "winnowOverlapCandidates" -> (cap => G.winnowOverlapCandidates(docs,
        "doc_id", "text", k = 3, w = 1, minShared = 1L, maxPostings = cap)),
      "minhashCandidates" -> { cap =>
        val sig = G.minhashSignatures(docs, "doc_id", "text")
        G.minhashCandidates(sig, "doc_id", bands = 16, rowsPerBand = 2,
          minEstJaccard = 0.1, maxBandBucket = cap)
      })
    for ((name, op) <- ops) {
      val uncapped = rows(op(1000L))
      val capped = rows(op(5L))
      assert(uncapped.map(idPair) == common + ((1L, 2L)), s"$name uncapped: $uncapped")
      // same rows, same scores: the cap only removes the viral-key pairs
      assert(capped == uncapped.filter(r => idPair(r) == ((1L, 2L))), s"$name capped: $capped")
    }
    // the evaluation harnesses cap their pair universe the same way: 16
    // pairs (all true at tau 0.2) without the cap, the one rare pair with it
    def universe(n: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      n.select("n_pairs", "n_true").as[(Long, Long)].collect().toSet
    for (cap <- Seq(5L, 1000L)) {
      val expect = if (cap == 5L) Set((1L, 1L)) else Set((16L, 16L))
      assert(universe(G.minhashScreenEval(docs, "doc_id", "text", maxPostings = cap,
        maxBandBucket = cap)) == expect, s"minhashScreenEval at cap $cap")
      assert(universe(G.minhashScreenSweep(docs, "doc_id", "text", maxPostings = cap,
        maxBandBucket = cap)) == expect, s"minhashScreenSweep at cap $cap")
    }
  }

  // ---------- editDistanceDedup: parameterized blocking + guard ----------

  test("editDistanceDedup finds near-identical heads within a block") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog in the meadow today"),
      (2L, "the quick brown fox jumps over the lazy cat in the meadow today"),
      (3L, "completely different text that shares no prefix with the others")
    ).toDF("doc_id", "text")
    val got = api.Graft.editDistanceDedup(docs, "doc_id", "text",
      blockPrefixLen = 20, headLen = 60, maxDist = 20)
      .as[(Long, Long, Int)].collect().toSet
    assert(got.map(p => (p._1, p._2)) == Set((1L, 2L)))
    assert(got.head._3 === 3) // dog -> cat: three substitutions
  }

  test("editDistanceDedup fail-fasts when a block exceeds maxBlockOccupancy") {
    val boiler = "identical prefix text for every row here padding padding"
    val docs = (1L to 5L).map(i => (i, boiler + " " + i)).toDF("doc_id", "text")
    val guarded = api.Graft.editDistanceDedup(docs, "doc_id", "text",
      blockPrefixLen = 20, headLen = 60, maxDist = 20, maxBlockOccupancy = 3L)
    val ex = intercept[Exception](guarded.count())
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => e.getMessage +: messages(e.getCause))
    assert(messages(ex).exists(m => m != null && m.contains("maxBlockOccupancy")),
      s"expected the guard's message, got: ${ex.getMessage}")
    // and the same data passes with the bound raised
    assert(api.Graft.editDistanceDedup(docs, "doc_id", "text",
      blockPrefixLen = 20, headLen = 60, maxDist = 20,
      maxBlockOccupancy = 10L).count() == 10L) // C(5,2) pairs
  }

  // ---------- kmeans: empty clusters must not shrink k ----------

  test("kmeans keeps exactly k centroids under an adversarial init") {
    // the 6 lowest ids are IDENTICAL vectors → 5 of the 6 init centroids
    // attract nothing in round 1 (ties break to the lowest c_id); without
    // the keep-previous join the model would silently continue with k=1
    val dup = Array(1.0f, 0.0f, 0.0f)
    val rows = (1L to 6L).map(i => (i, dup)) ++ Seq(
      (7L, Array(0.0f, 1.0f, 0.0f)), (8L, Array(0.0f, 0.9f, 0.1f)),
      (9L, Array(0.0f, 0.0f, 1.0f)), (10L, Array(0.1f, 0.0f, 0.9f)))
    val df = rows.toDF("vec_id", "embedding")
    val km = api.Graft.kmeans(df, "vec_id", "embedding", k = 6, iters = 3)
    assert(km.centroids.count() == 6L,
      "centroid count must stay k even when clusters empty out")
    assert(km.assignments.count() == 10L)
    // every assignment still points at one of the k centroid ids
    val cids = km.centroids.select("c_id").as[Long].collect().toSet
    val used = km.assignments.select("list_id").as[Long].collect().toSet
    assert(used.subsetOf(cids))
  }

  test("kmeans keep-previous is a no-op when no cluster is empty") {
    // well-separated data, k=2: the fixed point must be the plain Lloyd
    // result — the empty-cluster join must not perturb values
    val df = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.9f, 0.1f)),
      (3L, Array(0.0f, 1.0f)), (4L, Array(0.1f, 0.9f))
    ).toDF("vec_id", "embedding")
    val km = api.Graft.kmeans(df, "vec_id", "embedding", k = 2, iters = 3)
    // the operator's exact fixed-point mean: sum(floor(v·2^20)) / n / 2^20,
    // one IEEE divide, cast to float — mirrored here as the by-hand model
    def mean(vs: Float*): Float =
      (vs.map(v => math.floor(v.toDouble * 1048576.0)).sum / vs.size / 1048576.0).toFloat
    // init = the two lowest ids (1, 2); Lloyd converges to the two
    // well-separated means with those c_ids
    val cents = km.centroids.orderBy("c_id")
      .as[(Long, Array[Float])].collect().toMap
    assert(cents(1L).toSeq == Seq(mean(1.0f, 0.9f), mean(0.0f, 0.1f)))
    assert(cents(2L).toSeq == Seq(mean(0.0f, 0.1f), mean(1.0f, 0.9f)))
    val asg = km.assignments.as[(Long, Long)].collect().toMap
    assert(asg == Map(1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 2L))
  }

  // ---------- chunkDocuments ----------

  test("chunkDocuments produces overlapping windows matching the by-hand model") {
    val text = (1 to 10).map(i => s"t$i").mkString(" ")
    val docs = Seq((1L, text), (2L, "a b")).toDF("doc_id", "text")
    val got = api.Graft.chunkDocuments(docs, "doc_id", "text",
      chunkTokens = 4, overlapTokens = 1)
      .as[(Long, Int, Int, String)].collect().toSet
    // stride 3: windows start at tokens 1, 4, 7 (last clamps to 7..10)
    assert(got == Set(
      (1L, 0, 1, "t1 t2 t3 t4"),
      (1L, 1, 4, "t4 t5 t6 t7"),
      (1L, 2, 7, "t7 t8 t9 t10"),
      (2L, 0, 1, "a b")))                 // short doc -> one clamped chunk
    // token conservation with overlap: every token appears in >= 1 chunk
    val covered = got.filter(_._1 == 1L).flatMap(_._4.split(" ")).toSet
    assert(covered == (1 to 10).map(i => s"t$i").toSet)
  }

  // ---------- quantizeVectors ----------

  test("quantizeVectors: codes clamp at ±127 and reconstruction error <= scale/2") {
    val df = Seq(
      (1L, Array(1.27f, -1.27f, 0.635f, 0.0f)),
      (2L, Array(0.001f, -0.002f, 0.0005f, 0.0f))
    ).toDF("vec_id", "embedding")
    val got = api.Graft.quantizeVectors(df, "embedding")
      .select("vec_id", "qvec_scale", "qvec", "qvec_max_err")
      .as[(Long, Double, Array[Int], Double)].collect()
      .map(r => r._1 -> r).toMap
    val (_, s1, q1, e1) = got(1L)
    assert(q1.head == 127 && q1(1) == -127, "extremes hit the clamp")
    assert(math.abs(q1(2)) <= 64)
    assert(e1 <= s1 / 2 + 1e-15, "sup-norm error bounded by half a step")
    val (_, s2, _, e2) = got(2L)
    assert(e2 <= s2 / 2 + 1e-15)
    // dequantized dot product stays close to the float dot product
    val v = Array(1.27, -1.27, 0.635, 0.0)
    val deq = q1.map(_ * s1)
    val dot = v.zip(v).map { case (a, b) => a * b }.sum
    val qdot = deq.zip(v).map { case (a, b) => a * b }.sum
    assert(math.abs(dot - qdot) / dot < 0.01)
  }

  // ---------- zorderKey ----------

  test("zorderKey interleaves grid bits per the by-hand Morton model") {
    // a full 4x4 grid over [0,3]x[0,3] with bits=2: normalization maps each
    // coordinate to itself, so zkey must equal the classic Morton number
    val pts = for { a <- 0 to 3; b <- 0 to 3 } yield (a.toLong, b.toLong)
    val df = pts.toDF("a", "b")
    val got = api.Graft.zorderKey(df, "a", "b", bits = 2)
      .as[(Long, Long, Long)].collect()
      .map { case (a, b, z) => (a, b) -> z }.toMap
    def morton(a: Long, b: Long): Long =
      (0 until 2).map(i => (((a >> i) & 1L) << (2 * i + 1)) | (((b >> i) & 1L) << (2 * i))).sum
    pts.foreach { case (a, b) => assert(got((a, b)) == morton(a, b), s"($a,$b)") }
    // locality: the 2x2 sub-squares occupy contiguous key ranges
    assert(Set(got((0L, 0L)), got((0L, 1L)), got((1L, 0L)), got((1L, 1L))) == Set(0L, 1L, 2L, 3L))
  }

  // ---------- leakage-free split ----------

  test("splitLeakageFree assigns whole clusters and conserves documents") {
    val out = queries.PipelineOps.splitLeakageFree(spark, sf)
      .as[(String, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val total = Tables.documents(spark, sf).count()
    assert(out.values.map(_._1).sum == total, "every document lands in exactly one split")
    assert(out.keySet.subsetOf(Set("train", "eval")))
    // the split rule is per CLUSTER: recompute clusters independently and
    // assert no cluster straddles (decontamination by construction)
    val clusters = queries.PipelineOps.dedupClusters(spark, sf)
      .select(col("doc_id"), col("cluster_id"))
      .withColumn("split",
        when(substring(md5(col("cluster_id").cast("string")), 1, 1) === "0",
          lit("eval")).otherwise(lit("train")))
    val straddling = clusters.groupBy("cluster_id")
      .agg(countDistinct("split").as("n_splits"))
      .filter(col("n_splits") > 1).count()
    assert(straddling == 0L)
    // and the per-split doc counts agree with the independent recomputation
    val recounted = clusters.groupBy("split").count()
      .as[(String, Long)].collect().toMap
    out.foreach { case (s, (nDocs, _)) => assert(recounted(s) == nDocs) }
  }

  // ---------- vocabCoverage ----------

  test("vocabCoverage matches a by-hand OOV model with deterministic vocab ties") {
    val docs = Seq(
      (1L, "a a a b b c"),
      (2L, "a b x y"),
      (3L, "c c c")
    ).toDF("doc_id", "text")
    // corpus freq: a=4, c=4, b=3, x=1, y=1; vocabSize=2 with the (cnt desc,
    // tok asc) tie-break picks {a, c} — b is OOV despite beating c per-doc 1
    val got = api.Graft.vocabCoverage(docs, "doc_id", "text", vocabSize = 2)
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, 6L, 2L, 0.3333)))   // b,b OOV of 6
    assert(got(2L) == ((2L, 4L, 3L, 0.75)))     // b,x,y OOV of 4
    assert(got(3L) == ((3L, 3L, 0L, 0.0)))      // all in vocab
  }

  // ---------- stream-stream LEFT OUTER join semantics ----------

  test("left-outer stream-stream join emits matches eagerly and nulls at the watermark") {
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = Timestamp.valueOf(s)
    val clicks = MemoryStream[(String, Long, Timestamp)]
    val buys = MemoryStream[(String, Long, Timestamp)]
    val left = clicks.toDF().toDF("click_id", "uid", "cts")
      .withWatermark("cts", "1 hour")
    val right = buys.toDF().toDF("purchase_id", "buid", "bts")
      .withWatermark("bts", "1 hour")
    val joined = left.join(right,
      expr("uid = buid AND bts BETWEEN cts AND cts + INTERVAL 30 MINUTES"),
      "left_outer")
    val q = joined.select("click_id", "purchase_id")
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("lo_join_test").start()
    try {
      // batch 1: c1 matches p1 inside its 30-min window; c2 has no purchase
      clicks.addData(("c1", 1L, ts("2024-01-01 10:00:00")),
        ("c2", 2L, ts("2024-01-01 10:05:00")))
      buys.addData(("p1", 1L, ts("2024-01-01 10:10:00")))
      q.processAllAvailable()
      // batch 2: both sides advance far past c2's window end + watermark
      // delay, so c2's join state expires and the NULL row must emit
      clicks.addData(("c9", 99L, ts("2024-01-01 14:00:00")))
      buys.addData(("p9", 99L, ts("2024-01-01 14:00:00")))
      q.processAllAvailable()
      // one more trigger so the expiry computed from batch 2's watermark fires
      clicks.addData(("c10", 98L, ts("2024-01-01 14:00:01")))
      buys.addData(("p10", 98L, ts("2024-01-01 14:00:01")))
      q.processAllAvailable()
      val rows = spark.table("lo_join_test")
        .as[(String, Option[String])].collect().toSet
      assert(rows.contains(("c1", Some("p1"))), s"eager match missing: $rows")
      assert(rows.contains(("c2", None)),
        s"watermark-expired unmatched left must emit with NULL right: $rows")
      assert(!rows.contains(("c1", None)), "matched left must not also emit a null row")
    } finally q.stop()
  }

  // ---------- latestPerKey: deterministic ties ----------

  test("latestPerKey breaks exact (key, orderCol) ties deterministically") {
    val a = Seq(("k1", 5L, "va"), ("k1", 5L, "vb"), ("k2", 1L, "x")).toDF("k", "ts", "v")
    val b = Seq(("k1", 5L, "vb"), ("k2", 1L, "x"), ("k1", 5L, "va")).toDF("k", "ts", "v")
    val ra = api.Graft.latestPerKey(a, "k", "ts").as[(String, Long, String)].collect().toSet
    val rb = api.Graft.latestPerKey(b.repartition(7), "k", "ts")
      .as[(String, Long, String)].collect().toSet
    assert(ra == rb, "same winner regardless of input order/partitioning")
    assert(ra.size == 2)
  }
}
