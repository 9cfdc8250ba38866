package graft

import org.apache.spark.sql.functions._

/** Round-14 pins (ADVICE r13):
  *   - shardManifest densification: a document longer than tokensPerShard
  *     skips RAW shard widths; the manifest's dense_rank-over-the-grid
  *     relabel keeps shard ids dense from 0 with totals conserved.
  *   - eventRateAnomalies gap-fill: the trailing frame is 24 WALL-CLOCK
  *     hours (gap hours are materialized as zero-count rows), and a
  *     sudden silence flags.
  *   - stageOrderedBatches empty bucket: a mod-n bucket with no rows
  *     stages a valid EMPTY batch file instead of erroring, preserving
  *     the one-file-per-slot arrival contract.
  */
class Round14Spec extends SparkSpec {
  import spark.implicits._

  test("shardManifest: a mega-doc skips raw shard widths but ids stay dense") {
    // doc 2 alone carries 10 tokens = 5 shard widths at tokensPerShard=2,
    // so the raw ids jump; the manifest must still label shards 0..k-1
    val docs = Seq(
      (1L, "a b"),
      (2L, (1 to 10).map(i => s"t$i").mkString(" ")),
      (3L, "c d"),
      (4L, "e")
    ).toDF("doc_id", "text")
    val out = api.Graft.shardManifest(docs, "doc_id", "text", tokensPerShard = 2L)
      .orderBy("shard_id")
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    // dense from 0
    assert(out.map(_._1) == out.indices.map(_.toLong),
      s"shard ids not dense: ${out.map(_._1)}")
    // more than one shard (the mega-doc forces at least one gap in raw ids,
    // so density here proves the relabel ran, not that ids happened dense)
    assert(out.length >= 2)
    // conservation: every token and every document lands in exactly one shard
    assert(out.map(_._3).sum == 2L + 10L + 2L + 1L)
    assert(out.map(_._2).sum == 4L)
  }

  test("eventRateAnomalies: wall-clock frame via gap-fill; silence flags") {
    // type "x": hours 0..23 carry 10 events each, hour 24 is SILENT
    // (zero events), hour 25 carries 10 again. Pre-fix, hour 24 produced
    // no row (silence could never flag) and hour 25's frame stretched
    // back over 25 wall-clock hours. Post-fix: hour 24 exists with c=0,
    // μ=10, σ=0→floor, z deeply negative → anomaly.
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val rows = (0 to 23).flatMap(h =>
      (1 to 10).map(i => ("x", new java.sql.Timestamp(base + h * 3600000L + i * 1000L)))) ++
      (1 to 10).map(i => ("x", new java.sql.Timestamp(base + 25 * 3600000L + i * 1000L)))
    val events = rows.toDF("event_type", "ts")
    val out = api.Graft.eventRateAnomalies(events, "ts", "event_type")
      .orderBy("hour")
      .select(col("hour").cast("string"), col("c"), col("z"), col("anomaly"))
      .as[(String, Long, Double, Boolean)].collect().toSeq
    // exactly two scored rows: hours 24 and 25 (the first 24 hours lack a
    // full trailing history) — hour 24 EXISTS because the spine gap-fills
    assert(out.map(_._1) == Seq("2024-01-02 00:00:00", "2024-01-02 01:00:00"),
      s"scored hours drifted: ${out.map(_._1)}")
    val silent = out.head
    assert(silent._2 == 0L && silent._3 < -2.0 && silent._4,
      s"silent hour did not flag: $silent")
    // hour 25's trailing 24 WALL-CLOCK hours are hours 1..24 → μ = 230/24
    // (not 240/24 = 10: the frame includes the zero hour)
    val after = out(1)
    assert(math.abs(after._2 - 10L) == 0)
    val mu = api.Graft.eventRateAnomalies(events, "ts", "event_type")
      .orderBy("hour").select("trailing_mean")
      .as[Double].collect().last
    assert(math.abs(mu - 230.0 / 24.0) < 1e-3,
      s"frame not wall-clock: trailing_mean=$mu (expected ${230.0 / 24.0})")
  }

  test("ngram_fps: rolling wrapping polynomial equals the driver-side fold") {
    functions.VectorFunctions.register(spark)
    val hs = Seq(3L, -7L, Long.MaxValue - 2, 11L, Long.MinValue + 5, 42L, 9L)
    val n = 3
    val out = Seq(Tuple1(hs)).toDF("hs")
      .select(expr(s"ngram_fps(hs, $n)").as("fps"))
      .as[Seq[Long]].head()
    // direct (non-rolling) fold with the same wrapping arithmetic — the
    // rolling update's subtract/multiply must cancel exactly mod 2^64
    val expect = (0 to hs.length - n).map { i =>
      hs.slice(i, i + n).foldLeft(0L)((h, x) => h * 31L + x)
    }
    assert(out == expect, s"$out vs $expect")
    // shorter-than-n arrays yield empty, length-n yields one
    assert(Seq(Tuple1(hs.take(2))).toDF("hs")
      .select(expr(s"ngram_fps(hs, $n)")).as[Seq[Long]].head().isEmpty)
    assert(Seq(Tuple1(hs.take(3))).toDF("hs")
      .select(expr(s"ngram_fps(hs, $n)")).as[Seq[Long]].head().size == 1)
  }

  test("scriptMix: the four char classes partition every source's chars") {
    val out = queries.TextAnalysis.scriptMix(spark, sf)
      .as[(String, Long, Long, Long, Long, Long, Long, Double, Double, Double)]
      .collect()
    assert(out.nonEmpty)
    out.foreach { case (src, nd, ch, let, dig, sp, oth, ls, ds, os) =>
      assert(let + dig + sp + oth == ch, s"$src: classes do not partition")
      assert(nd > 0 && let >= 0 && dig >= 0 && sp >= 0 && oth >= 0)
      assert(ls >= 0.0 && ls <= 1.0 && ds >= 0.0 && ds <= 1.0 && os >= 0.0 && os <= 1.0)
    }
    // totals equal a direct recompute
    val direct = Tables.documents(spark, sf)
      .agg(sum(length(col("text")).cast("long"))).as[Long].head()
    assert(out.map(_._3).sum == direct)
  }

  test("qualityCalibration: bins partition the gold domain; ECE is the weighted gap") {
    val out = queries.TextAnalysis.qualityEce(spark, sf)
      .as[(Long, Long, Double, Double, Double, Double)].collect()
    assert(out.nonEmpty)
    // domain = docs with >= 1 nonempty token (the gopherRules filter)
    val domain = Tables.documents(spark, sf)
      .filter(expr(
        "size(filter(split(text, ' ', -1), t -> length(t) > 0)) >= 1"))
      .count()
    assert(out.map(_._2).sum == domain, "bins do not partition the domain")
    out.foreach { case (bin, n, conf, acc, gap, _) =>
      assert(bin >= 0 && bin <= 9)
      assert(math.abs(gap - math.abs(conf - acc)) < 1e-9, s"bin $bin gap drifted")
      assert(acc >= 0.0 && acc <= 1.0)
    }
    // ece4 = round(Σ n·gap_i / N) on the 1e-4 grid, same on every row
    assert(out.map(_._6).distinct.length == 1)
    val eceI = out.map { case (_, n, _, _, gap, _) =>
      n * math.round(gap * 10000.0) }.sum
    val n = out.map(_._2).sum
    val expect = ((2 * eceI + n) / (2 * n)).toDouble / 10000.0
    assert(math.abs(out.head._6 - expect) < 1e-9,
      s"ece ${out.head._6} vs recompute $expect")
  }

  test("chinchillaPlan: optimal sizes match closed form; flag consistent") {
    val out = queries.PipelineOps.chinchillaPlan(spark, sf)
      .as[(Int, Long, Long, Long, Double, Boolean)].collect().sortBy(_._1)
    assert(out.map(_._1).toSeq == Seq(18, 19, 20, 21, 22))
    out.foreach { case (e, np, nt, ct, _, constrained) =>
      assert(np == math.floor(math.sqrt(math.pow(10.0, e) / 120.0)).toLong,
        s"budget 1e$e: n_params $np drifted from the closed form")
      assert(nt == 20L * np)
      assert(constrained == (nt > 4L * ct))
    }
    // the corpus supply is a constant column = the direct token count
    val direct = Tables.documents(spark, sf).agg(sum(expr(
      "CAST(size(filter(split(text, ' ', -1), x -> length(x) > 0)) AS BIGINT)")))
      .as[Long].head()
    assert(out.map(_._4).distinct.toSeq == Seq(direct))
  }

  test("lengthMadOutliers: median/MAD/outliers match a driver recompute per source") {
    val out = queries.TextAnalysis.lengthOutliers(spark, sf)
      .as[(String, Long, Double, Double, Long, Double)].collect()
    val lens = Tables.documents(spark, sf)
      .select(col("source"), expr(
        "CAST(size(filter(split(text, ' ', -1), x -> length(x) > 0)) AS BIGINT)"))
      .as[(String, Long)].collect().groupBy(_._1)
    def medianOf(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }
    assert(out.length == lens.size)
    out.foreach { case (src, nDocs, med, mad, nOut, _) =>
      val xs = lens(src).map(_._2.toDouble).toSeq
      assert(nDocs == xs.size.toLong)
      assert(med == medianOf(xs), s"$src median")
      val ads = xs.map(x => math.abs(x - med))
      assert(mad == medianOf(ads), s"$src mad")
      assert(nOut == ads.count(_ > 3.0 * mad).toLong, s"$src outliers")
    }
  }

  test("diversityDistinctN: the n=1 rows equal direct distinct/total token counts") {
    val out = queries.TextAnalysis.diversityDistinctN(spark, sf)
      .as[(String, Int, Long, Long, Double)].collect()
    // 3 rows per source; distinct <= total everywhere
    assert(out.groupBy(_._1).values.forall(_.map(_._2).sorted.toSeq == Seq(1, 2, 3)))
    out.foreach { case (src, n, tot, dis, share) =>
      assert(dis <= tot, s"$src n=$n")
      assert(share > 0.0 && share <= 1.0)
    }
    val toks = Tables.documents(spark, sf)
      .select(col("source"), explode(expr(
        "filter(split(text, ' ', -1), x -> length(x) > 0)")).as("t"))
    val direct = toks.groupBy("source")
      .agg(count(lit(1)).as("tot"), countDistinct("t").as("dis"))
      .as[(String, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    out.filter(_._2 == 1).foreach { case (src, _, tot, dis, _) =>
      assert((tot, dis) == direct(src), s"$src unigram counts drifted")
    }
  }

  test("seedSelect: dense ranks, non-increasing scores, seeds score highest") {
    val out = queries.Similarity.seedSelect(spark, sf)
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    assert(out.length == 100)
    assert(out.map(_._1).toSeq == (1L to 100L))
    assert(out.map(_._3).sliding(2).forall(p => p.head >= p.last - 1e-9),
      "cos4 not non-increasing in rank")
    // the seed slice itself should dominate the top of the ranking: seeds
    // average at least the non-seed selected share
    val seedsSelected = out.count(r => r._2 % 17 == 3)
    assert(seedsSelected > 0, "no seed member selected — centroid drifted")
  }

  test("readability: per-source word totals match a direct recompute") {
    val out = queries.TextAnalysis.readability(spark, sf)
      .as[(String, Long, Long, Long, Long, Double)].collect()
    val direct = Tables.documents(spark, sf)
      .groupBy("source")
      .agg(sum(expr(
        "CAST(size(filter(split(text, ' ', -1), x -> length(x) > 0)) AS BIGINT)")))
      .as[(String, Long)].collect().toMap
    assert(out.nonEmpty)
    out.foreach { case (src, nDocs, w, s, v, fl) =>
      assert(w == direct(src), s"$src words")
      assert(s >= nDocs, s"$src: every doc contributes >= 1 sentence")
      assert(fl <= 206.835 + 1e-9)
    }
  }

  test("tokenizerDrift: diagonal self-drift is the identity; drift run has 10 ranks") {
    // identical generations → every rank agrees, overlap = budget, J = 1
    val docs = Tables.documents(spark, sf).select(col("text"))
    val self = api.Graft.tokenizerDrift(docs, docs, "text", budget = 5)
      .as[(Int, String, Long, String, Long, Boolean, Long, Double)]
      .collect().sortBy(_._1)
    assert(self.length == 5)
    assert(self.forall(_._6), "self-drift rank disagreement")
    assert(self.forall(_._7 == 5L) && self.forall(_._8 == 1.0))
    self.foreach { case (_, m0, n0, m1, n1, _, _, _) =>
      assert(m0 == m1 && n0 == n1)
    }
    // the registry generations produce a full 10-rank diff with sane bounds
    val out = queries.PipelineOps.tokenizerDrift(spark, sf)
      .as[(Int, String, Long, String, Long, Boolean, Long, Double)].collect()
    assert(out.length == 10)
    assert(out.map(_._7).distinct.length == 1)
    assert(out.head._7 <= 10L && out.head._8 <= 1.0 && out.head._8 >= 0.0)
  }

  test("decontaminateEmbedding: flags match a driver-side recompute; eval side fixed") {
    val out = queries.Similarity.decontaminateEmbedding(spark, sf)
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    val vecs = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect()
    val eval = vecs.filter(v => v._1 % 17 == 5 && v._1 < 4096).map(_._2)
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val expect = vecs.filter(_._1 % 17 != 5).flatMap { case (id, v) =>
      val hits = eval.map(e => cos(v, e)).filter(_ >= 0.25)
      if (hits.isEmpty) None
      else Some((id, hits.length.toLong,
        BigDecimal(hits.max).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble))
    }.sortBy(_._1).toSeq
    assert(out.toSeq == expect,
      s"flags drifted: got ${out.length}, expected ${expect.length}")
  }

  test("qualityLengthJoint: cells partition the corpus; shares sum to ~1") {
    val out = queries.TextAnalysis.qualityLengthGrid(spark, sf)
      .as[(Long, Long, Long, Double)].collect()
    assert(out.map(_._3).sum == Tables.documents(spark, sf).count())
    out.foreach { case (qb, lb, n, sh) =>
      assert(qb >= 0 && qb <= 9 && lb >= 0 && lb % 64 == 0 && n > 0)
      assert(sh > 0.0 && sh <= 1.0)
    }
    // ratio4 rounding keeps the share mass within half a grid step per cell
    val mass = out.map(_._4).sum
    assert(math.abs(mass - 1.0) <= out.length * 0.00005 + 1e-9,
      s"share mass $mass")
  }

  test("stageOrderedBatches: an empty mod-n bucket stages a valid empty batch") {
    // ids 0,3,6,9 → mod 3 buckets {0}: bucket 1 and 2 empty at n=3?
    // no — use ids that leave bucket 1 empty: 0,2,3,5 mod 3 = {0,2,0,2}
    val df = Seq((0L, "a"), (2L, "b"), (3L, "c"), (5L, "d"))
      .toDF("doc_id", "text")
    val base = Scoped.dir(spark, "graft_r14_stage", sf)
    val src = streaming.StreamingQueries.stageOrderedBatches(
      df, base, "doc_id", n = 3)
    val files = new java.io.File(src).listFiles().map(_.getName).sorted
    assert(files.toSeq == Seq("batch0.parquet", "batch1.parquet", "batch2.parquet"),
      s"staged files drifted: ${files.toSeq}")
    // the empty slot reads back as zero rows WITH the df schema
    val b1 = spark.read.parquet(s"$src/batch1.parquet")
    assert(b1.count() == 0L)
    assert(b1.columns.toSeq == Seq("doc_id", "text"))
    // populated slots carry exactly their bucket's rows
    val b0 = spark.read.parquet(s"$src/batch0.parquet")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(b0 == Seq(0L, 3L))
    val b2 = spark.read.parquet(s"$src/batch2.parquet")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(b2 == Seq(2L, 5L))
  }

  test("lexiconScreen: hit weights, the flag threshold, and empty docs") {
    // doc 1: 'bad bad x y' with lexicon bad→3 ⇒ wsum 6, nt 4, rate 1.5 →
    // ru 15000 > 2000 flags; doc 2: one hit in 4 tokens ⇒ ru 7500 flags
    // at 2000 but not at 9000; doc 3 empty ⇒ survives with zero hits
    val docs = Seq((1L, "bad bad x y", "s"), (2L, "bad x y z", "s"),
      (3L, "", "s"), (4L, "x y z w", "t")).toDF("doc_id", "text", "source")
    val out = api.Graft.lexiconScreen(docs, "doc_id", "text", "source",
        lexicon = Seq(("bad", 3L)), tauBp = 9000)
      .orderBy("source")
      .as[(String, Long, Long, Long, Long, Double, Double)].collect().toSeq
    // (source, n_docs, n_hits, weighted_hits, n_flagged, share4, mean6)
    assert(out.map(r => (r._1, r._2, r._3, r._4, r._5)) ==
      Seq(("s", 3L, 3L, 9L, 1L), ("t", 1L, 0L, 0L, 0L)))
    assert(out.head._6 == 0.3333) // 1 of 3 flagged, ratio4
    // mean of ru {15000, 7500, 0} = 7500 units = 0.75
    assert(out.head._7 == 0.75)
  }

  test("kAnonymity: class-size histogram with exact buckets") {
    // QI = single column; classes: a×1, b×3, c×7, d×12
    val df = (Seq.fill(1)("a") ++ Seq.fill(3)("b") ++ Seq.fill(7)("c") ++
      Seq.fill(12)("d")).toDF("qi")
    val out = api.Graft.kAnonymity(df, Seq(col("qi")))
      .orderBy("k_bucket")
      .as[(String, Long, Long, Long, Double)].collect().toSeq
    assert(out == Seq(
      ("1 (unique)", 1L, 1L, 1L, 0.0435),
      ("10-99", 1L, 12L, 12L, 0.5217),
      ("2-4", 1L, 3L, 3L, 0.1304),
      ("5-9", 1L, 7L, 7L, 0.3043)))
  }

  test("dpNoisyCounts: deterministic, clamped, and actually noisy") {
    val df = (Seq.fill(20)(("s0", "en")) ++ Seq.fill(3)(("s1", "de")) ++
      Seq.fill(1)(("s2", "fr"))).toDF("source", "lang")
    def run() = api.Graft.dpNoisyCounts(df, Seq("source", "lang"), epsilon = 0.5)
      .orderBy("source").as[(String, String, Double, Double)].collect().toSeq
    val a = run()
    assert(a == run(), "release must be reproducible")
    assert(a.forall(_._3 >= 0.0), "clamp at 0")
    assert(a.forall(_._4 == 0.5))
    // the md5-derived uniforms make at least one count land off its true value
    val trues = Map(("s0", "en") -> 20.0, ("s1", "de") -> 3.0, ("s2", "fr") -> 1.0)
    assert(a.exists(r => r._3 != trues((r._1, r._2))), "noise never applied?")
  }

  test("kcenterCoreset: greedy farthest-point picks on a 1-D line") {
    // points 0, 1, 10, 11, 20 (ids 1..5), k=3: seed id1 (v=0), then the
    // farthest point 20 (d=400), then 10 (its min-dist 100 to {0,20}
    // beats 11's 81 and 1's 1); cover after {0, 20, 10} is 1 (1 and 11
    // both sit 1 away from a center)
    val emb = Seq((1L, Array(0f)), (2L, Array(1f)), (3L, Array(10f)),
      (4L, Array(11f)), (5L, Array(20f))).toDF("vec_id", "embedding")
    val out = api.Graft.kcenterCoreset(emb, "vec_id", "embedding", k = 3)
      .orderBy("sel_order")
      .as[(Int, Long, Double, Double)].collect().toSeq
    assert(out == Seq((1, 1L, 0.0, 1.0), (2, 5L, 400.0, 1.0),
      (3, 3L, 100.0, 1.0)))
  }

  test("corpusConcentration: HHI/effective/Gini exact on a two-source corpus") {
    // source a: 1 token, source b: 3 tokens → T=4, Σt²=10:
    // HHI = 10/16 = 0.625, effective = 16/10 = 1.6,
    // Gini = (2·(1·1 + 2·3) − 3·4) / (2·4) = 0.25,
    // H = −(0.25·ln 0.25 + 0.75·ln 0.75) ≈ 0.562335
    val docs = Seq(("x", "a"), ("y z w", "b")).toDF("text", "source")
    val out = api.Graft.corpusConcentration(docs, "text", "source")
      .as[(Long, Long, Long, Double, Double, Double, Double)].head()
    assert(out._1 == 2L && out._2 == 2L && out._3 == 4L)
    assert(out._4 == 0.625 && out._5 == 1.6)
    assert(math.abs(out._6 - 0.562335) < 2e-6, s"entropy ${out._6}")
    assert(out._7 == 0.25)
  }

  test("corpusConcentration: the grid guard fails fast on a doc-grained column") {
    val docs = (1L to 50L).map(i => (i, "a b c")).toDF("doc_id", "text")
    val bad = api.Graft.corpusConcentration(
      docs.withColumn("doc_key", col("doc_id").cast("string")),
      "text", "doc_key", gridMaxRows = 10)
    val e = intercept[Exception] { bad.collect() }
    assert(e.getMessage.contains("corpusConcentration") ||
      Option(e.getCause).exists(_.getMessage.contains("corpusConcentration")),
      s"wrong error: ${e.getMessage}")
    // and the guarded path still computes when the grid fits
    val ok = api.Graft.corpusConcentration(docs
        .withColumn("src", (col("doc_id") % 5).cast("string")),
      "text", "src", gridMaxRows = 10)
    assert(ok.count() == 1L)
  }

  test("epochShuffle: min-k aggregate equals the global per-epoch order") {
    val docs = (1L to 100L).toDF("doc_id")
    val out = api.Graft.epochShuffle(docs, "doc_id", epochs = 2, k = 5)
      .orderBy("epoch", "pos")
      .as[(Long, Int, Long, Long)].collect().toSeq
    // reference: the same md5h60 >> 7 order computed driver-side
    def h60(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(
        d.take(8).map(b => f"$b%02x").mkString.take(15), 16)
    }
    val expect = (0L to 1L).flatMap { e =>
      (1L to 100L).map(id => (e, id, h60(s"$e:$id") >> 7))
        .sortBy { case (_, id, ok) => (ok, id) }
        .take(5).zipWithIndex
        .map { case ((ep, id, ok), i) => (ep, i + 1, id, ok) }
    }
    assert(out == expect)
    // epochs get genuinely different orders
    assert(out.filter(_._1 == 0L).map(_._3) != out.filter(_._1 == 1L).map(_._3))
  }

  test("streamLexiconGate: final stream state equals the batch screen") {
    val batch = queries.TextAnalysis.lexiconScreen(spark, sf)
      .collect().toSeq.map(_.toSeq)
    val stream = streaming.StreamingQueries.streamLexiconGate(spark, sf)
      .collect().toSeq.map(_.toSeq)
    assert(stream == batch)
  }

  test("streamAnomalyGate: drained counters match the batch hourly recompute") {
    val out = streaming.StreamingQueries.streamAnomalyGate(spark, sf)
    val hourly = Tables.events(spark, sf)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("c"))
    assert(out.count() == hourly.count())
    // z is a pure function of (c, per-type profile): every |z|>=3 row flags
    val rows = out.select("z4", "anomaly").as[(Double, Boolean)].collect()
    assert(rows.forall { case (z, a) => a == (math.abs(z) >= 3.0) })
  }

  test("rendezvousShards: HRW growth moves docs ONLY into the new shard") {
    val docs = (1L to 500L).toDF("doc_id")
    val out = api.Graft.rendezvousShards(docs, "doc_id", 8, 9)
      .as[(Long, Long, Long, Boolean, Double)].collect().toSeq
    // conservation
    assert(out.map(_._3).sum == 500L)
    // the defining HRW property: a doc whose argmax changes under S'=9
    // can only have moved to the ADDED shard (8) — old shards' hashes
    // are unchanged, so a different winner must be the new candidate
    out.filter(_._4).foreach { case (b, a, _, _, _) =>
      assert(a == 8L, s"moved $b -> $a: HRW must move only into shard 8")
    }
    // expected movement ≈ 1 − 8/9 ≈ 11%: generous band
    val moved = out.filter(_._4).map(_._3).sum.toDouble / 500.0
    assert(moved > 0.03 && moved < 0.25, s"moved share $moved")
  }

  test("weightedReservoir: heavy doc wins; keys descend with rank") {
    val docs = ((1L to 200L).map(id => (id, "x")) :+
      (999L, Seq.fill(10000)("t").mkString(" "))).toDF("doc_id", "text")
    val out = api.Graft.weightedReservoir(docs, "doc_id", "text", k = 50)
      .orderBy("rank")
      .as[(Int, Long, Long, Double)].collect().toSeq
    assert(out.size == 50 && out.map(_._1) == (1 to 50))
    assert(out.exists(_._2 == 999L), "the 10001-weight doc must be sampled")
    assert(out.find(_._2 == 999L).get._3 == 10001L)
    // A-ES keys (= ln(u)/w, negative) are non-increasing down the ranks
    assert(out.map(_._4) == out.map(_._4).sorted.reverse)
  }

  test("packingEfficiency: exact integer waste arithmetic at one L") {
    // w = {5, 130, 0} at L=64: seqs = 1 + 3 + 1 = 5,
    // pad = 59 + (192−130) + 64 = 185, slots = 5·64 = 320,
    // waste4 = (20000·185 + 320) DIV 640 / 10⁴ = 0.5781; chunked 1/3
    val docs = Seq("a b c d e", (1 to 130).map(_ => "t").mkString(" "), "")
      .toDF("text")
    val out = api.Graft.packingEfficiency(docs, "text", lengths = Seq(64))
      .as[(Long, Long, Long, Long, Long, Double, Double)].head()
    assert(out == ((64L, 3L, 135L, 5L, 185L, 0.5781, 0.3333)))
  }

  test("streamWeightedReservoir: drained stream state equals the batch draw") {
    val batch = queries.PipelineOps.weightedReservoir(spark, sf)
      .collect().toSeq.map(_.toSeq)
    val stream = streaming.StreamingQueries.streamWeightedReservoir(spark, sf)
      .collect().toSeq.map(_.toSeq)
    assert(stream == batch)
  }

  test("ksDrift: identical generations accept; a shifted one rejects") {
    val base = (1L to 400L)
      .map(i => s"the a of data point number $i with some more words here")
      .toDF("text")
    val same = api.Graft.ksDrift(base, base, "text")
      .as[(Long, Long, Long, Double, Double, Boolean)].head()
    assert(same._4 == 0.0 && !same._6, s"identical gens must accept: $same")
    // upper-casing kills the lowercase-sensitive score terms → big shift
    val shifted = api.Graft.ksDrift(base, base.select(upper(col("text")).as("text")), "text")
      .as[(Long, Long, Long, Double, Double, Boolean)].head()
    assert(shifted._6, s"shifted gen must reject: $shifted")
    assert(shifted._4 > shifted._5)
  }

  test("negativeSamplingTable: closed-form unigram^0.75 on a 2-word vocab") {
    // a×16, b×1: wq_a = ⌊2^20·16^0.75⌋ = 8·2^20, wq_b = 2^20 →
    // prob_a = 8/9, cum ends at 1.0
    val docs = Seq(Seq.fill(16)("a").mkString(" "), "b").toDF("text")
    val out = api.Graft.negativeSamplingTable(docs, "text", k = 64)
      .as[(Int, String, Long, Long, Double, Double)].collect().toSeq
    assert(out == Seq(
      (1, "a", 16L, 2L, 0.888889, 0.888889),
      (2, "b", 1L, 2L, 0.111111, 1.0)))
  }

  test("hllIntersect: inclusion-exclusion exact in the coupon regime") {
    val df = Seq(("A", 1L), ("A", 2L), ("A", 3L), ("B", 2L), ("B", 3L),
      ("B", 4L), ("C", 9L)).toDF("event_type", "user_id")
    val out = api.Graft.hllIntersect(df, "event_type", "user_id")
      .orderBy("type_a", "type_b")
      .as[(String, String, Long, Long, Long, Long, Double)].collect().toSeq
    assert(out == Seq(
      ("A", "B", 3L, 3L, 4L, 2L, 0.5),
      ("A", "C", 3L, 1L, 4L, 0L, 0.0),
      ("B", "C", 3L, 1L, 4L, 0L, 0.0)))
  }

  test("greedyBalance: the LPT fold on a hand-worked grid") {
    // token masses a=7 b=5 c=4 d=3 e=2 f=1 (words), W=3:
    // a→w1, b→w2, c→w3, d→w3(7), e→w2(7), f→w1(8) → makespan 8,
    // lb = max(⌈22/3⌉, 7) = 8 → balance 1.0
    val docs = Seq(("a", 7), ("b", 5), ("c", 4), ("d", 3), ("e", 2), ("f", 1))
      .map { case (s, n) => ((1 to n).map(_ => "t").mkString(" "), s) }
      .toDF("text", "source")
    val out = api.Graft.greedyBalance(docs, "text", "source", workers = 3)
      .orderBy("rank")
      .as[(Long, String, Long, Long, Long, Long, Long, Double)]
      .collect().toSeq
    assert(out.map(r => (r._2, r._4)) ==
      Seq(("a", 1L), ("b", 2L), ("c", 3L), ("d", 3L), ("e", 2L), ("f", 1L)))
    assert(out.head._6 == 8L && out.head._7 == 8L && out.head._8 == 1.0)
    // loads after each assignment
    assert(out.map(_._5) == Seq(7L, 5L, 4L, 7L, 7L, 8L))
  }

  test("qualityIsotonic: minimax fit equals a driver-side PAV; monotone; mass-conserving") {
    val out = queries.TextAnalysis.qualityIsotonic(spark, sf)
      .as[(Long, Long, Double, Double)].collect().toSeq.sortBy(_._1)
    assert(out.nonEmpty)
    // monotone non-decreasing in the bin order
    assert(out.map(_._4) == out.map(_._4).sorted, s"not isotone: $out")
    // classic pool-adjacent-violators recompute on (n, p)
    case class Blk(var n: Long, var p: Long)
    val blocks = scala.collection.mutable.ArrayBuffer.empty[Blk]
    out.foreach { case (_, n, rate6, _) =>
      blocks += Blk(n, math.rint(rate6 * n).toLong)
      while (blocks.length >= 2 && {
        val a = blocks(blocks.length - 2); val b = blocks.last
        a.p * b.n >= b.p * a.n // rate_a >= rate_b → pool
      }) {
        val b = blocks.remove(blocks.length - 1)
        blocks.last.n += b.n; blocks.last.p += b.p
      }
    }
    // expand PAV block means back onto the bins (blocks pool in bin order)
    val expand = scala.collection.mutable.ArrayBuffer.empty[Double]
    var bi = 0
    var left = blocks.head.n
    out.foreach { case (_, n, _, _) =>
      expand += blocks(bi).p.toDouble / blocks(bi).n.toDouble
      left -= n
      if (left == 0 && bi + 1 < blocks.length) { bi += 1; left = blocks(bi).n }
    }
    out.zip(expand).foreach { case ((bin, _, _, iso6), e) =>
      assert(math.abs(iso6 - e) < 5e-6, s"bin $bin: iso6 $iso6 vs PAV $e")
    }
    // weighted mass conserved: Σ n·iso ≈ Σ n·rate
    val massIso = out.map(r => r._2 * r._4).sum
    val massRaw = out.map(r => r._2 * r._3).sum
    assert(math.abs(massIso - massRaw) < 0.01 * out.map(_._2).sum,
      s"mass drift: $massIso vs $massRaw")
  }

  test("conformalGate: the order-statistic threshold honors the coverage bound") {
    val out = queries.TextAnalysis.conformalGate(spark, sf)
      .as[(Long, Long, Long, Double, Long, Double)].head()
    val (nCal, k, thrBin, calKeep, nTest, testKeep) = out
    assert(k == ((nCal + 1) * 1000 + 9999) / 10000)
    assert(thrBin >= 0 && thrBin <= 4095)
    // at most k−1 calibration docs sit strictly below the threshold bin →
    // keep ≥ (n_cal − k + 1)/n_cal, up to one ratio4 grid step
    assert(calKeep >= (nCal - k + 1).toDouble / nCal - 0.0001,
      s"cal keep $calKeep below the conformal bound (n=$nCal, k=$k)")
    assert(nTest > 0 && testKeep > 0.5 && testKeep <= 1.0)
  }

  test("streamConformalGate: drained counters agree with the batch gate") {
    val out = streaming.StreamingQueries.streamConformalGate(spark, sf)
      .as[(String, Long, Long, Long, Double)].collect().toSeq
    assert(out.nonEmpty)
    // same threshold the batch operator derives
    val batch = queries.TextAnalysis.conformalGate(spark, sf)
      .as[(Long, Long, Long, Double, Long, Double)].head()
    assert(out.forall(_._2 == batch._3), "thr_bin drifted from the batch gate")
    // the stream replays every nonempty doc exactly once
    val nonEmpty = Tables.documents(spark, sf)
      .filter(length(col("text")) > 0).count()
    assert(out.map(_._3).sum == nonEmpty)
    out.foreach { case (src, _, n, kept, share) =>
      assert(kept <= n && share > 0.0 && share <= 1.0, s"$src: $kept/$n")
    }
  }

  test("bootstrapMeanCi: interval brackets the point estimate near the truth") {
    val out = queries.TextAnalysis.bootstrapCi(spark, sf)
      .as[(String, Long, Long, Double, Double, Double, Double)].collect().toSeq
    assert(out.nonEmpty)
    val truth = Tables.documents(spark, sf)
      .select(expr("CAST(size(filter(split(text, ' ', -1), x -> length(x) > 0)) AS BIGINT)").as("w"),
        col("source"))
      .groupBy("source").agg(avg("w").as("m"))
      .as[(String, Double)].collect().toMap
    out.foreach { case (src, nDocs, nReps, mean6, sd6, lo6, hi6) =>
      assert(nDocs > 0 && nReps == 32L)
      assert(sd6 >= 0.0 && lo6 <= mean6 && mean6 <= hi6, s"$src interval")
      // half-sample replicate means track the full-sample mean: the truth
      // sits inside a generous 4σ of the replicate spread
      assert(math.abs(mean6 - truth(src)) <= 4.0 * sd6 + 1e-3,
        s"$src: mean6 $mean6 vs truth ${truth(src)} (sd6 $sd6)")
    }
  }

  test("psiDrift: constant grid, conserved counts, nonnegative contributions") {
    val out = queries.PipelineOps.psiDrift(spark, sf)
      .as[(Long, Long, Long, Double, Double)].collect().toSeq
    assert(out.map(_._1) == (0L until 10L), "grid must be exactly bins 0..9")
    val docs = Tables.documents(spark, sf)
    val n0 = docs.filter("doc_id % 13 <> 5 AND length(text) > 0").count()
    val n1 = docs.filter("doc_id % 13 <> 7 AND length(text) > 0").count()
    assert(out.map(_._2).sum == n0 && out.map(_._3).sum == n1)
    // (p1−p0) and ln(p1/p0) share sign, so every PSI term is ≥ 0 (the
    // floor-grid log can dip one 2^-20 step below, hence the epsilon)
    assert(out.forall(_._4 >= -2e-6), s"negative PSI term: $out")
    val tot = out.head._5
    assert(out.forall(_._5 == tot))
    assert(math.abs(tot - out.map(_._4).sum) < 1e-5, "total != sum of terms")
    // the uppercased %13==2 slice shifts scores: drift must register
    assert(tot > 0.0)
  }

  test("lDiversity: recount agrees and the flag is exactly l >= 5") {
    val out = queries.PipelineOps.lDiversity(spark, sf)
      .as[(String, Long, Long, Long, Boolean)].collect().toSeq
    assert(out.nonEmpty)
    assert(out.map(_._3).sum == Tables.events(spark, sf).count())
    out.foreach { case (_, hr, n, l, ok) =>
      assert(hr >= 0 && hr <= 23 && l >= 1 && l <= n)
      assert(ok == (l >= 5))
    }
    val recount = Tables.events(spark, sf)
      .groupBy(col("event_type"), hour(col("ts")).cast("long").as("hr"))
      .agg(countDistinct("user_id").as("l"))
      .as[(String, Long, Long)].collect()
      .map { case (t, h, l) => (t, h) -> l }.toMap
    out.foreach { case (t, h, _, l, _) => assert(recount((t, h)) == l) }
  }

  test("temporalEmbargoSplit: partition is exact and embargo spans one day") {
    val out = queries.PipelineOps.splitTemporalEmbargo(spark, sf)
      .as[(String, Long, Long, Long, Option[Double])].collect().toSeq
    val events = Tables.events(spark, sf)
    assert(out.map(_._2).sum == events.count(), "splits must partition events")
    val bySplit = out.map(r => r._1 -> r).toMap
    assert(bySplit.contains("test") && bySplit.contains("train"))
    // leak share only annotates the test row
    out.foreach { case (s, _, nu, ov, leak) =>
      assert(leak.isDefined == (s == "test"))
      assert(ov <= nu || nu == 0)
      leak.foreach(v => assert(v >= 0.0 && v <= 1.0))
    }
    // the embargo window is strictly inside [max-8d, max-7d): recount it
    val mx = events.agg(date_trunc("DAY", max("ts"))).head().getTimestamp(0)
    val emb = events.filter(
      col("ts") >= lit(mx) - expr("INTERVAL 8 DAYS") &&
      col("ts") < lit(mx) - expr("INTERVAL 7 DAYS")).count()
    assert(bySplit.get("embargo").map(_._2).getOrElse(0L) == emb)
  }

  test("uncertaintySample: min-k selection equals the window-sort answer") {
    val out = queries.TextAnalysis.uncertaintySample(spark, sf)
      .as[(String, Int, Long, Double)].collect().toSeq
    assert(out.nonEmpty)
    out.groupBy(_._1).foreach { case (src, rows) =>
      val sorted = rows.sortBy(_._2)
      assert(sorted.map(_._2) == (1 to sorted.length), s"$src ranks not dense")
      assert(sorted.length <= 10)
      // margins non-decreasing down the pick list, all in [0, 0.5]
      assert(sorted.map(_._4).sliding(2).forall(p => p.length < 2 || p(0) <= p(1) + 1e-9))
      assert(sorted.forall(r => r._4 >= 0.0 && r._4 <= 0.5 + 1e-9))
    }
    // cross-check the fused min-k against an in-engine window sort
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("__m").asc, col("__id").asc)
    val oracle = api.Graft.qualityScore(
        Tables.documents(spark, sf).filter(length(col("text")) > 0)
          .select(col("doc_id").as("__id"), col("source"), col("text")),
        "text", out = "__q")
      .withColumn("__m", abs(col("__q") - lit(0.5)))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select(col("source"), col("rank"), col("__id").as("doc_id"))
      .as[(String, Int, Long)].collect().toSet
    assert(out.map(r => (r._1, r._2, r._3)).toSet == oracle)
  }

  test("DamerauLevenshtein: true-DL fixed vectors (not the OSA variant)") {
    functions.VectorFunctions.register(spark)
    val cases = Seq(
      ("CA", "ABC", 2),       // true DL; OSA would say 3
      ("ab", "ba", 1),
      ("", "abc", 3),
      ("abc", "", 3),
      ("kitten", "sitting", 3),
      ("same", "same", 0),
      ("a cat", "an act", 2)) // insert + transposition
    cases.foreach { case (a, b, want) =>
      val got = spark.sql(
        s"SELECT damerau_levenshtein('$a', '$b')").head().getInt(0)
      assert(got == want, s"dl($a, $b) = $got, want $want")
      // symmetry
      val rev = spark.sql(
        s"SELECT damerau_levenshtein('$b', '$a')").head().getInt(0)
      assert(rev == want, s"dl($b, $a) = $rev, want $want")
    }
  }

  test("entityResolution: min_dl is witnessed and the block guard trips") {
    val out = queries.PipelineOps.entityResolution(spark, sf)
      .as[(String, Long, Long, Int)].collect().toSeq
    assert(out.nonEmpty)
    out.foreach { case (brand, pairs, matches, minDl) =>
      assert(pairs > 0 && matches >= 0 && matches <= pairs, brand)
      assert(minDl >= 0)
      // matches>0 iff some pair sits at or under the threshold
      assert((matches > 0) == (minDl <= 4), s"$brand: $matches vs min_dl $minDl")
    }
    // occupancy guard: a degenerate single block must abort, not go quadratic
    import spark.implicits._
    val flat = (1L to 40L).map(i => (i, s"name $i", "B", 1)).toDF(
      "id", "nm", "blk", "sz")
    val e = intercept[Exception] {
      api.Graft.entityResolution(flat, "id", "nm", Seq("blk", "sz"), "blk",
        maxBlock = 10L).collect()
    }
    assert(e.getMessage != null && e.getMessage.contains("maxBlock"),
      s"guard message: ${e.getMessage}")
  }

  test("importanceWeights: uniform scores give ESS = n, mixtures give less") {
    val out = queries.TextAnalysis.importanceWeights(spark, sf)
      .as[(String, Long, Double, Double, Double)].collect().toSeq
    assert(out.nonEmpty)
    out.foreach { case (src, n, wsum, ess, share) =>
      assert(n > 0 && wsum > 0.0)
      assert(ess > 0.0 && ess <= n + 1e-6, s"$src: ESS $ess > n $n")
      assert(share >= 0.0 && share <= 1.0)
    }
    // identical docs ⇒ identical weights ⇒ ESS exactly n (Jensen equality)
    import spark.implicits._
    val same = Seq.fill(8)("the same short doc the of and").toDF("text")
      .withColumn("source", lit("s"))
    val u = api.Graft.importanceWeights(same, "text", "source")
      .as[(String, Long, Double, Double, Double)].head()
    assert(u._2 == 8L && math.abs(u._4 - 8.0) < 1e-6, s"uniform ESS: $u")
  }

  test("bigramEntropy: deterministic text scores zero, alternation is ln 2") {
    import spark.implicits._
    // 'a b a b ...': every continuation is deterministic ⇒ H(w2|w1) = 0
    val det = Seq(("x", ("a b " * 20).trim)).toDF("lang", "text")
    val h0 = api.Graft.bigramEntropy(det, "text", "lang")
      .as[(String, Long, Long, Double)].head()
    assert(h0._4 == 0.0, s"deterministic text must score 0, got $h0")
    // 'a a b a b b ...' with a: {a->a, a->b} 50/50 would give ln2 on a's
    // mass; spot-check the registry row stays in (0, ln V] bounds instead
    val out = queries.TextAnalysis.bigramEntropy(spark, sf)
      .as[(String, Long, Long, Double)].collect().toSeq
    assert(out.nonEmpty)
    out.foreach { case (lang, n, types, h) =>
      assert(n >= types && types >= 1, lang)
      assert(h >= 0.0 && h <= math.log(types.toDouble) + 1e-6,
        s"$lang: H $h out of [0, ln types]")
    }
  }

  test("streamPsiGate: drained stream state reproduces the batch PSI exactly") {
    val stream = streaming.StreamingQueries.streamPsiGate(spark, sf)
      .as[(Long, Long, Long, Double, Double)].collect().toSeq
    val batch = queries.PipelineOps.psiDrift(spark, sf)
      .as[(Long, Long, Long, Double, Double)].collect().toSeq
    assert(stream == batch,
      s"stream PSI diverged from batch:\n$stream\nvs\n$batch")
  }

  test("vocabSizeSweep: hand-checked grid and monotone coverage") {
    import spark.implicits._
    // 3 types: a×5, b×3, c×1 ⇒ V=1 covers 5/9, V=2 covers 8/9, V≥3 all
    val docs = Seq("a a a a a b b b c").toDF("text")
    val out = api.Graft.vocabSizeSweep(docs, "text", sizes = Seq(1, 2, 3, 8))
      .orderBy("vocab_size")
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    assert(out.map(r => (r._1, r._3)) ==
      Seq((1L, 5L), (2L, 8L), (3L, 9L), (8L, 9L)), s"coverage wrong: $out")
    assert(out.forall(_._2 == 3L) && out.forall(_._4 == 9L))
    // registry row: coverage monotone in V, OOV share in [0,1] decreasing
    val reg = queries.TextAnalysis.vocabSizeSweep(spark, sf)
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    assert(reg.map(_._1) == Seq(1024L, 4096L, 16384L, 65536L))
    assert(reg.map(_._3).sliding(2).forall(p => p.length < 2 || p(0) <= p(1)))
    assert(reg.map(_._5).sliding(2).forall(p => p.length < 2 || p(0) >= p(1)))
    reg.foreach(r => assert(r._5 >= 0.0 && r._5 <= 1.0))
  }

  test("tCloseness: global distribution scores 0; a skewed class scores high") {
    import spark.implicits._
    // class g mirrors the global hourly shape exactly (EMD 0 against a
    // same-shape global needs g to BE the whole population: use one class)
    val uni = (0L until 24L).flatMap(h => Seq(("g", h), ("g", h)))
      .toDF("cls", "hr")
    val z = api.Graft.tCloseness(uni, col("cls"), col("hr"), bins = 24)
      .as[(String, Long, Double, Boolean)].head()
    assert(z._3 == 0.0 && z._4, s"self-distribution must score 0: $z")
    // two classes at opposite ends of the ordered domain: both far from
    // the pooled 50/50 global, t = (23/2)/23 = 0.5 each
    val polar = (Seq.fill(10)(("lo", 0L)) ++ Seq.fill(10)(("hi", 23L)))
      .toDF("cls", "hr")
    val p = api.Graft.tCloseness(polar, col("cls"), col("hr"), bins = 24)
      .as[(String, Long, Double, Boolean)].collect().toSeq.sortBy(_._1)
    p.foreach { case (c, n, t, ok) =>
      assert(n == 10L && math.abs(t - 0.5) < 1e-9 && !ok, s"$c: $t")
    }
    // registry row sanity: t in [0,1], n_rows conserved
    val reg = queries.PipelineOps.tCloseness(spark, sf)
      .as[(String, Long, Double, Boolean)].collect().toSeq
    assert(reg.map(_._2).sum == Tables.events(spark, sf).count())
    reg.foreach(r => assert(r._3 >= 0.0 && r._3 <= 1.0))
  }

  test("pagerank: symmetry on a cycle, hub dominance on a star") {
    import spark.implicits._
    // 2-cycle: perfectly symmetric ⇒ equal ranks
    val cyc = Seq(("a", "b"), ("b", "a")).toDF("src", "dst")
    val c = api.Graft.pagerank(cyc, "src", "dst", iters = 5, topK = 10)
      .as[(Int, String, Double)].collect().toSeq.sortBy(_._1)
    assert(c.map(_._2) == Seq("a", "b") && c(0)._3 == c(1)._3, s"cycle: $c")
    // star (bipartite both directions): the hub collects every leaf's mass
    val star = (1 to 4).flatMap(i => Seq(("h", s"l$i"), (s"l$i", "h")))
      .toDF("src", "dst")
    val s2 = api.Graft.pagerank(star, "src", "dst", iters = 5, topK = 10)
      .as[(Int, String, Double)].collect().toSeq
    assert(s2.head._2 == "h", s"hub must rank first: $s2")
    assert(s2.tail.map(_._3).distinct.size == 1, "leaves must tie")
    // registry row: 20 dense ranks, non-increasing pr, event-type hubs on top
    val reg = queries.PipelineOps.graphPagerank(spark, sf)
      .as[(Int, String, Double)].collect().toSeq.sortBy(_._1)
    assert(reg.map(_._1) == (1 to 20))
    assert(reg.map(_._3).sliding(2).forall(p => p.length < 2 || p(0) >= p(1)))
    assert(reg.head._2.startsWith("t"),
      s"an event-type hub should top the bipartite graph: ${reg.head}")
  }

  test("kfoldAssign: folds partition every stratum; shares re-sum to ~1") {
    val out = queries.PipelineOps.splitKfold(spark, sf)
      .as[(Long, String, Long, Double)].collect().toSeq
    assert(out.nonEmpty)
    assert(out.forall(r => r._1 >= 0 && r._1 < 5))
    val bySrc = out.groupBy(_._2)
    val truth = Tables.documents(spark, sf).groupBy("source").count()
      .as[(String, Long)].collect().toMap
    bySrc.foreach { case (src, rows) =>
      assert(rows.map(_._3).sum == truth(src), s"$src fold counts drifted")
      val s = rows.map(_._4).sum
      assert(math.abs(s - 1.0) < 0.002, s"$src shares sum to $s")
    }
  }

  test("robustScale: a planted far outlier flags; clean uniform data doesn't") {
    import spark.implicits._
    val clean = (1 to 100).map(i => ("g", i.toDouble)).toDF("grp", "v")
    val c = api.Graft.robustScale(clean, "grp", "v")
      .as[(String, Long, Double, Double, Long, Double)].head()
    assert(c._2 == 100L && c._5 == 0L, s"uniform ramp must not flag: $c")
    val dirty = clean.union(Seq(("g", 1e6)).toDF("grp", "v"))
    val d = api.Graft.robustScale(dirty, "grp", "v")
      .as[(String, Long, Double, Double, Long, Double)].head()
    assert(d._5 == 1L, s"the planted 1e6 must flag: $d")
    val reg = queries.PipelineOps.robustScale(spark, sf)
      .as[(String, Long, Double, Double, Long, Double)].collect().toSeq
    assert(reg.nonEmpty)
    reg.foreach { case (t, n, _, iqr, out, share) =>
      assert(iqr >= 0.0 && out >= 0 && out <= n, t)
      assert(share >= 0.0 && share <= 1.0)
    }
  }

  test("activityStreaks: hand case and day-mass conservation") {
    import spark.implicits._
    // user A: days 1,2,3 then 7,8 → islands of 3 and 2; user B: day 1 → 1
    val ev = Seq(("A", 1), ("A", 2), ("A", 3), ("A", 7), ("A", 8), ("B", 1))
      .map { case (u, day) => (u, java.sql.Timestamp.valueOf(
        f"1970-01-${day + 1}%02d 10:00:00")) }
      .toDF("u", "ts")
    val out = api.Graft.activityStreaks(ev, "u", "ts")
      .orderBy("streak_len")
      .as[(Long, Long, Long)].collect().toSeq
    assert(out == Seq((1L, 1L, 1L), (2L, 1L, 1L), (3L, 1L, 1L)), s"$out")
    // registry row: Σ len·islands = distinct (user, day) mass
    val reg = queries.PipelineOps.activityStreaks(spark, sf)
      .as[(Long, Long, Long)].collect().toSeq
    val mass = Tables.events(spark, sf)
      .select(col("user_id"), to_date(col("ts")).as("d")).distinct().count()
    assert(reg.map(r => r._1 * r._2).sum == mass, "streak mass drifted")
  }

  test("streamVocabGate: drained counters equal the batch OOV recompute") {
    val out = streaming.StreamingQueries.streamVocabGate(spark, sf)
      .as[(String, Long, Long, Double)].collect().toSeq
    assert(out.nonEmpty)
    val vocab = api.Graft.topVocab(
      Tables.documents(spark, sf).select(col("text")), "text", 4096)
    val batch = Tables.documents(spark, sf)
      .select(col("doc_id"), col("source"),
        explode(expr("filter(split(text, ' ', -1), t -> length(t) > 0)")).as("__tok"))
      .join(broadcast(vocab), Seq("__tok"), "left")
      .groupBy("doc_id", "source")
      .agg(count(lit(1)).as("nt"),
        count(when(col("__in_vocab").isNull, 1)).as("no"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("no") * 5 > col("nt"), 1L).otherwise(0L)).as("n_flagged"))
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    out.foreach { case (src, n, f, share) =>
      assert(batch(src) == ((n, f)), s"$src drifted from batch")
      assert(share >= 0.0 && share <= 1.0)
    }
  }

  test("streamEntityResolution: ordered pairs are exactly 2x the batch blocks") {
    val stream = streaming.StreamingQueries.streamEntityResolution(spark, sf)
      .as[(String, Long, Long, Int)].collect().toSeq
      .map(r => r._1 -> r).toMap
    val batch = queries.PipelineOps.entityResolution(spark, sf)
      .as[(String, Long, Long, Int)].collect().toSeq
    assert(batch.nonEmpty && stream.size == batch.size)
    batch.foreach { case (brand, pairs, matches, minDl) =>
      val s = stream(brand)
      // DL is symmetric: probe→ref ordered pairs double the a<b count
      assert(s._2 == 2 * pairs && s._3 == 2 * matches && s._4 == minDl,
        s"$brand: $s vs batch ($pairs, $matches, $minDl)")
    }
  }

  test("DamerauLevenshtein: metric properties against random strings") {
    functions.VectorFunctions.register(spark)
    val rnd = new scala.util.Random(14)
    def randStr(): String =
      (0 until rnd.nextInt(12)).map(_ => ('a' + rnd.nextInt(4)).toChar).mkString
    val cases = Seq.fill(200)((randStr(), randStr()))
    import spark.implicits._
    val df = cases.toDF("a", "b").selectExpr(
      "a", "b", "damerau_levenshtein(a, b) AS dl",
      "damerau_levenshtein(b, a) AS dlr", "levenshtein(a, b) AS lev")
    df.as[(String, String, Int, Int, Int)].collect().foreach {
      case (a, b, dl, dlr, lev) =>
        assert(dl == dlr, s"symmetry broke: $a/$b")
        assert(dl >= math.abs(a.length - b.length), s"lower bound: $a/$b")
        assert(dl <= math.max(a.length, b.length), s"upper bound: $a/$b")
        assert(dl <= lev, s"DL must never exceed Levenshtein: $a/$b $dl > $lev")
        assert((dl == 0) == (a == b), s"identity: $a/$b")
    }
  }

  test("rougeOverlap: hand-worked clipped overlap") {
    import spark.implicits._
    val pairs = Seq(
      (1L, "s", "a b c", "a b d"),  // uni 2/3, bi 1/2
      (2L, "s", "a a a", "a"),      // clipped: uni overlap 1; no cand/ref bigram pair
      (3L, "t", "x y", "x y")       // perfect
    ).toDF("doc_id", "source", "cand", "ref")
    val out = api.Graft.rougeOverlap(pairs, "doc_id", "cand", "ref", "source")
      .orderBy("source")
      .as[(String, Long, Double, Double, Double, Double, Double, Double)]
      .collect().toSeq
    // source s micro: uni o=2+1=3, lc=3+3=6, lr=3+1=4 → P=.5, R=.75, F=.6
    //               bi  o=1+0=1, lc=2+2=4, lr=2+0=2 → P=.25, R=.5, F≈.333333
    val sRow = out.head
    assert(sRow._1 == "s" && sRow._2 == 2L)
    assert(sRow._3 == 0.5 && sRow._4 == 0.75 && sRow._5 == 0.6, s"$sRow")
    assert(sRow._6 == 0.25 && sRow._7 == 0.5 && sRow._8 == 0.333333, s"$sRow")
    val tRow = out(1)
    assert(tRow._1 == "t" && tRow._3 == 1.0 && tRow._7 == 1.0 && tRow._8 == 1.0)
    // registry row: the %13==2 uppercase slice must pull overlap below 1
    val reg = queries.TextAnalysis.rougeOverlap(spark, sf)
      .as[(String, Long, Double, Double, Double, Double, Double, Double)]
      .collect().toSeq
    assert(reg.nonEmpty)
    reg.foreach { r =>
      assert(r._3 > 0.0 && r._3 < 1.0, s"${r._1}: uppercase slice must dent P")
      Seq(r._3, r._4, r._5, r._6, r._7, r._8).foreach(v =>
        assert(v >= 0.0 && v <= 1.0))
    }
  }

  test("bleuCorpus: identity is exact 1.0; truncation binds BP; reversal spares p1") {
    import spark.implicits._
    // identical pair: every clipped precision is 1 (smoothed (O+1)/(C+1)
    // included, since O = C), BP = 1, BLEU = 1 up to the 2^-20 grid
    val same = Seq((1L, "s", "a b c d e", "a b c d e"))
      .toDF("doc_id", "source", "cand", "ref")
    val r1 = api.Graft.bleuCorpus(same, "doc_id", "cand", "ref", "source")
      .as[(String, Long, Double, Double, Double, Double, Double, Double)]
      .collect().head
    assert(r1._3 == 1.0 && r1._4 == 1.0 && r1._5 == 1.0 && r1._6 == 1.0)
    assert(r1._7 == 1.0, s"BP must be 1 on equal lengths: $r1")
    assert(r1._8 >= 0.999998 && r1._8 <= 1.0, s"BLEU(identity) off grid: $r1")
    // truncated candidate: p_n stay 1 (prefix grams all match) but BP < 1
    val trunc = Seq((1L, "s", "a b c d", "a b c d e f"))
      .toDF("doc_id", "source", "cand", "ref")
    val r2 = api.Graft.bleuCorpus(trunc, "doc_id", "cand", "ref", "source")
      .as[(String, Long, Double, Double, Double, Double, Double, Double)]
      .collect().head
    assert(r2._3 == 1.0 && r2._7 < 1.0 && r2._8 < 1.0, s"$r2")
    // exp(1 - 6/4) quantized: ~0.606531
    assert(math.abs(r2._7 - math.exp(-0.5)) < 2e-6, s"BP value drifted: $r2")
    // reversed candidate: unigram precision survives, bigrams mostly die
    val rev = Seq((1L, "s", "e d c b a", "a b c d e"))
      .toDF("doc_id", "source", "cand", "ref")
    val r3 = api.Graft.bleuCorpus(rev, "doc_id", "cand", "ref", "source")
      .as[(String, Long, Double, Double, Double, Double, Double, Double)]
      .collect().head
    assert(r3._3 == 1.0 && r3._4 < 1.0, s"$r3")
    // registry row: every stratum carries the trunc+reverse mix
    val reg = queries.TextAnalysis.bleuCorpus(spark, sf)
      .as[(String, Long, Double, Double, Double, Double, Double, Double)]
      .collect().toSeq
    assert(reg.nonEmpty)
    reg.foreach { r =>
      assert(r._7 > 0.0 && r._7 < 1.0, s"${r._1}: 80% truncation must bind BP")
      assert(r._8 > 0.0 && r._8 < r._3, s"${r._1}: BLEU < p1 when BP binds")
    }
  }

  test("chrfScore: identity 1.0; hand-worked char-gram case") {
    import spark.implicits._
    val pairs = Seq(
      (1L, "s", "ab", "abc"), // n1: O2/C2/R3; n2: O1/C1/R2; n3: O0/C0/R1
      (2L, "t", "xy z", "xy z") // identical (space stripped → "xyz")
    ).toDF("doc_id", "source", "cand", "ref")
    val out = api.Graft.chrfScore(pairs, "doc_id", "cand", "ref", "source")
      .orderBy("source")
      .as[(String, Long, Double, Double, Double)].collect().toSeq
    val s = out.head
    // P = (1 + 1 + 0)/3, R = (2/3 + 1/2 + 0)/3; chrF = 5PR/(4P+R)
    val p = (2.0 / 2.0 + 1.0 / 1.0 + 0.0) / 3.0
    val r = (2.0 / 3.0 + 1.0 / 2.0 + 0.0) / 3.0
    val f = 5.0 * p * r / (4.0 * p + r)
    assert(s._1 == "s" && math.abs(s._3 - p) < 1e-6
      && math.abs(s._4 - r) < 1e-6 && math.abs(s._5 - f) < 1e-6, s"$s")
    val t = out(1)
    assert(t._3 == 1.0 && t._4 == 1.0 && t._5 == 1.0, s"$t")
    // registry row: the drop-'a' / truncate mix keeps recall strictly < 1
    val reg = queries.TextAnalysis.chrfScore(spark, sf)
      .as[(String, Long, Double, Double, Double)].collect().toSeq
    assert(reg.nonEmpty)
    reg.foreach(r0 => assert(r0._4 > 0.0 && r0._4 < 1.0, s"$r0"))
  }

  test("scoreAuc: separable → 1, constant score → 0.5, hand-worked ties") {
    import spark.implicits._
    val sep = Seq(("g", 1L, false), ("g", 2L, false), ("g", 3L, true), ("g", 4L, true))
      .toDF("s", "v", "lab")
    val a1 = api.Graft.scoreAuc(sep, "v", "lab", "s")
      .as[(String, Long, Long, Double)].collect().head
    assert(a1 == (("g", 2L, 2L, 1.0)), s"$a1")
    val const = Seq(("g", 7L, false), ("g", 7L, true), ("g", 7L, true), ("g", 7L, false))
      .toDF("s", "v", "lab")
    val a2 = api.Graft.scoreAuc(const, "v", "lab", "s")
      .as[(String, Long, Long, Double)].collect().head
    assert(a2._4 == 0.5, s"$a2")
    // ties at v=2: pos {2,3}, neg {1,2}: pairs (p,n): (2,1)=1, (2,2)=.5,
    // (3,1)=1, (3,2)=1 → AUC = 3.5/4
    val mix = Seq(("g", 1L, false), ("g", 2L, false), ("g", 2L, true), ("g", 3L, true))
      .toDF("s", "v", "lab")
    val a3 = api.Graft.scoreAuc(mix, "v", "lab", "s")
      .as[(String, Long, Long, Double)].collect().head
    assert(a3._4 == 0.875, s"$a3")
    // registry row: uniqueness score must genuinely separate repetition
    val reg = queries.TextAnalysis.qualityAuc(spark, sf)
      .as[(String, Long, Long, Double)].collect().toSeq
    assert(reg.nonEmpty)
    reg.foreach { r =>
      assert(r._2 > 0 && r._3 > 0, s"${r._1}: both classes must appear")
      assert(r._4 > 0.7, s"${r._1}: screen should beat 0.7 AUC, got ${r._4}")
    }
  }

  test("retrievalMetrics: hand-worked single query; grid-quantized readouts") {
    import spark.implicits._
    // one query, 3 candidates; DESCENDING score order "c" > "b" > "a"
    // fixes ranks (higher score = better, the r14-ADVICE convention fix).
    // rels by rank: [0, 2, 3] → first rel>=2 at rank 2 → MRR = 0.5;
    // DCG = 3*w(2) + 7*w(3); ideal rels [3,2,0] → IDCG = 7*w(1) + 3*w(2)
    val run = Seq((1L, "a", 3, 0L), (1L, "b", 2, 0L), (1L, "c", 0, 0L))
      .toDF("qid", "score", "rel", "bucket")
    val out = api.Graft.retrievalMetrics(run, "qid", "score", "rel", "bucket")
      .as[(Long, Long, Long, Double, Double)].collect().head
    def q(x: Double) = math.floor(x * 1048576.0) / 1048576.0
    def w(r: Int) = q(1.0 / (math.log(r + 1.0) / math.log(2.0)))
    val dcg = 3.0 * w(2) + 7.0 * w(3)
    val idcg = 7.0 * w(1) + 3.0 * w(2)
    assert(out._1 == 0L && out._2 == 1L && out._3 == 1L)
    assert(out._4 == 0.5, s"MRR: $out")
    assert(math.abs(out._5 - q(dcg / idcg)) < 1e-6, s"NDCG: $out")
    // registry row: every bucket scores within [0,1] and hits exist
    val reg = queries.Similarity.retrievalEval(spark, sf)
      .as[(Long, Long, Long, Double, Double)].collect().toSeq
    assert(reg.nonEmpty)
    reg.foreach { r =>
      assert(r._3 <= r._2 && r._4 >= 0.0 && r._4 <= 1.0 && r._5 >= 0.0 && r._5 <= 1.0, s"$r")
    }
  }

  test("cdcApply: latest wins out of order, deletes drop, delete-then-nothing stays dead") {
    import spark.implicits._
    // rows deliberately unordered: application must key on seq, not arrival
    val log = Seq(
      (1L, 2L, "U", 20L), (1L, 1L, "I", 10L),
      (2L, 3L, "D", 0L), (2L, 1L, "I", 5L), (2L, 2L, "U", 7L),
      (3L, 1L, "I", 42L)
    ).toDF("k", "seq", "op", "v")
    val live = api.Graft.cdcApply(log, "k", "seq", "op")
      .orderBy("k").as[(Long, Long, Long)].collect().toSeq
    assert(live == Seq((1L, 2L, 20L), (3L, 1L, 42L)), s"$live")
  }

  test("preferenceLengthBias: hand-worked rates") {
    import spark.implicits._
    // 3 pairs: chosen longer, chosen shorter, tie
    val pairs = Seq(
      ("s", 10L, 5L, 100L, 90L),
      ("s", 4L, 8L, 80L, 70L),
      ("s", 6L, 6L, 60L, 40L)
    ).toDF("source", "chosen_len", "rejected_len", "chosen_score", "rejected_score")
    val r = api.Graft.preferenceLengthBias(pairs, "chosen_len", "rejected_len",
        "chosen_score", "rejected_score", "source")
      .as[(String, Long, Double, Double, Double, Double)].collect().head
    assert(r._2 == 3L && r._3 == 0.3333 && r._4 == 0.3333, s"$r")
    assert(r._5 == 0.33 && r._6 == 13.33, s"$r") // Σdlen=1/3, Σdscore=40/3
  }

  test("dialogStats: parses real JSON transcripts; hand-worked stats") {
    import spark.implicits._
    val dialogs = Seq(
      ("s", """[{"role":"user","content":"a b"},{"role":"assistant","content":"c"}]"""),
      ("s", """[{"role":"user","content":"x"}]""")
    ).toDF("source", "dialog_json")
    val r = api.Graft.dialogStats(dialogs, "dialog_json", "source")
      .as[(String, Long, Long, Double, Double, Double)].collect().head
    // dialogs 2, turns 3, avg 1.5; asst tokens 1 of 4; ends-asst 1 of 2
    assert(r == (("s", 2L, 3L, 1.5, 0.25, 0.5)), s"$r")
    // registry row mirrors the closed-form oracle at sf0.001
    val reg = queries.PipelineOps.dialogStats(spark, sf)
      .as[(String, Long, Long, Double, Double, Double)].collect().toSeq
    assert(reg.nonEmpty)
    reg.foreach(x => assert(x._5 > 0.0 && x._5 < 0.5 && x._6 >= 0.0 && x._6 <= 1.0,
      s"assistant share must sit below the user side (odd turns are user): $x"))
  }

  test("matryoshkaRecall: prefix ties flip the top-1; full prefix is exact recall 1") {
    import spark.implicits._
    functions.VectorFunctions.register(spark)
    // q=(1,0,0,0); full top-1 is c3 (exact cos 1); under 2 dims c2 and c3
    // tie at cos 1 and the id tiebreak picks c2 → recall@1 = 0 at dim 2
    val vecs = Seq(
      (1L, Array(1f, 0f, 0f, 0f), true),
      (2L, Array(1f, 0f, 10f, 0f), false),
      (3L, Array(0.9f, 0f, 0f, 0f), false)
    ).toDF("vec_id", "embedding", "is_query")
    val out = api.Graft.matryoshkaRecall(vecs, "vec_id", "embedding",
        "is_query", dims = Seq(2, 4), k = 1)
      .orderBy("dim").as[(Int, Long, Long, Double)].collect().toSeq
    assert(out == Seq((2, 1L, 0L, 0.0), (4, 1L, 1L, 1.0)), s"$out")
  }

  test("cdcApply keepTombstones retains the delete; stream final state == batch") {
    import spark.implicits._
    val log = Seq((1L, 1L, "I", 10L), (1L, 3L, "D", 0L), (1L, 2L, "U", 20L))
      .toDF("k", "seq", "op", "v")
    // tombstone kept: an incremental version must remember the delete
    val v = api.Graft.cdcApply(log, "k", "seq", "op", keepTombstones = true)
      .as[(Long, Long, String, Long)].collect().toSeq
    assert(v == Seq((1L, 3L, "D", 0L)), s"$v")
    // and a late lower-seq row can NOT resurrect it
    val late = api.Graft.cdcApply(
      v.toDF("k", "seq", "op", "v").unionByName(
        Seq((1L, 2L, "U", 99L)).toDF("k", "seq", "op", "v")),
      "k", "seq", "op")
    assert(late.count() == 0L)
    // the streaming consumer's final rollup is pinned identical to the
    // batch application (same oracle row)
    val batch = queries.PipelineOps.cdcApply(spark, sf)
      .as[(String, Long, Double)].collect().toSeq
    val stream = streaming.StreamingQueries.streamCdcApply(spark, sf)
      .as[(String, Long, Double)].collect().toSeq
    assert(batch == stream, s"stream/batch diverged:\n$batch\n$stream")
  }

  test("labelNoiseAudit: a mislabeled vector flags toward its true class") {
    import spark.implicits._
    // class 0: (0,0), (2,0) → centroid (1,0), self-threshold 1;
    // class 1: (10,0), (12,0), plus the MISLABELED (0.5,0) → centroid
    // (7.5,0), threshold 25.1666…; only (0.5,0) sits inside class 0's
    // threshold (dist 0.25 ≤ 1) → exactly one suspect pair (1 → 0, rate 1/3)
    val vecs = Seq(
      (1L, Array(0f, 0f), 0), (2L, Array(2f, 0f), 0),
      (3L, Array(10f, 0f), 1), (4L, Array(12f, 0f), 1),
      (5L, Array(0.5f, 0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val out = api.Graft.labelNoiseAudit(vecs, "vec_id", "embedding", "label")
      .as[(Int, Int, Long, Double)].collect().toSeq
    assert(out == Seq((1, 0, 1L, 0.3333)), s"$out")
  }

  test("datasetCard: hand-worked dup share and language entropy") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b", "en", "s"), (2L, "a b", "en", "s"), (3L, "c d e", "zh", "s")
    ).toDF("doc_id", "text", "lang", "source")
    val r = api.Graft.datasetCard(docs, "doc_id", "text", "lang", "source")
      .as[(String, Long, Long, Long, Double, Long, Double, Double)]
      .collect().head
    def q(x: Double) = math.floor(x * 1048576.0) / 1048576.0
    val entropy = q(math.log(3.0)) - (2.0 * q(math.log(2.0)) + 1.0 * q(math.log(1.0))) / 3.0
    assert(r._1 == "s" && r._2 == 3L && r._3 == 7L && r._4 == 11L, s"$r")
    assert(r._5 == 0.6667, s"dup share: $r") // the two verbatim copies
    assert(r._6 == 2L && math.abs(r._7 - entropy) < 1e-6, s"entropy: $r")
    assert(r._8 == 1000000.0, s"all three docs are fully distinct-token: $r")
  }

  test("streamPackSequences: equals the arrival-order cumsum; carry crosses batches") {
    import spark.implicits._
    val out = streaming.StreamingQueries.streamPackSequences(spark, sf)
      .as[(Long, Long, Long, Long)].collect().toSeq
    // closed-form twin: one global cumsum under the (id % 2, id) arrival
    // order (fine at test scale; the operator itself never does this)
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"),
        size(split(col("text"), " ", -1)).cast("long").as("n_tokens"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy { case (id, _) => (id % 2, id) }
    var off = 0L
    val expected = docs.map { case (id, nt) =>
      val s = off / 2048; off += nt; (id, nt, s)
    }.groupBy(_._3).map { case (seq, rows) =>
      (seq, rows.length.toLong, rows.map(_._2).sum, rows.map(_._1).min)
    }.toSeq.sortBy(_._1)
    assert(out == expected, s"stream packing diverged from arrival cumsum")
    // conservation + the carry genuinely matters: batch 0's token total
    // must not be a multiple of the sequence length, else batch 1 would
    // pack identically from a zero carry and the equality above would
    // pass even with the carry broken
    assert(out.map(_._3).sum == docs.map(_._2).sum)
    val batch0Total = docs.filter(_._1 % 2 == 0).map(_._2).sum
    assert(batch0Total % 2048 != 0,
      s"batch-0 total $batch0Total is seqLen-aligned — carry untested")
  }

  test("signalCorrelation: perfect monotone, anti-monotone, and tie cases") {
    import spark.implicits._
    val mono = Seq(("g", 1L, 10L), ("g", 2L, 20L), ("g", 3L, 30L))
      .toDF("s", "x", "y")
    val m = api.Graft.signalCorrelation(mono, "x", "y", "s")
      .as[(String, Long, Double, Double)].collect().head
    assert(m._3 == 1.0 && m._4 == 1.0, s"$m")
    val anti = Seq(("g", 1L, 30L), ("g", 2L, 20L), ("g", 3L, 10L))
      .toDF("s", "x", "y")
    val a = api.Graft.signalCorrelation(anti, "x", "y", "s")
      .as[(String, Long, Double, Double)].collect().head
    assert(a._3 == -1.0 && a._4 == -1.0, s"$a")
    // x ties: ranks (1.5, 1.5, 3); y strictly increasing → ranks (1, 2, 3):
    // Σrxry = 1.5 + 3 + 9 = 13.5, Σrx² = 13.5, Σry² = 14 →
    // ρ = (3·13.5 − 36)/(√(3·13.5 − 36)·√(3·14 − 36)) = √4.5/√6 ≈ 0.866025
    val ties = Seq(("g", 5L, 10L), ("g", 5L, 20L), ("g", 7L, 30L))
      .toDF("s", "x", "y")
    val t = api.Graft.signalCorrelation(ties, "x", "y", "s")
      .as[(String, Long, Double, Double)].collect().head
    val expected = (3.0 * 13.5 - 36.0) /
      (math.sqrt(3.0 * 13.5 - 36.0) * math.sqrt(3.0 * 14.0 - 36.0))
    assert(math.abs(t._4 - expected) < 1e-6, s"spearman with ties: $t vs $expected")
    // registry row: uniqueness vs length is strongly NEGATIVE on this corpus
    val reg = queries.PipelineOps.signalCorrelation(spark, sf)
      .as[(String, Long, Double, Double)].collect().toSeq
    assert(reg.nonEmpty)
    reg.foreach(r => assert(r._3 < -0.5 && r._4 < -0.5,
      s"${r._1}: expected strong negative correlation, got $r"))
  }

  test("mutualInformation: identity gives MI == H(a); independence gives 0") {
    import spark.implicits._
    // a == b: MI = H(a) exactly (same quantized-ln machinery both sides)
    val dep = Seq(("g", "p", "p"), ("g", "p", "p"), ("g", "q", "q"))
      .toDF("s", "a", "b")
    val r1 = api.Graft.mutualInformation(dep, "a", "b", "s")
      .as[(String, Long, Double, Double)].collect().head
    // (3a−2b)/3 vs a−(2b)/3 are different IEEE sequences — compare to grid
    assert(math.abs(r1._3 - r1._4) < 1e-6 && r1._3 > 0.0, s"$r1")
    // uniform independence: counts factorize exactly → every term 0
    val ind = Seq(("g", "p", "u"), ("g", "p", "v"), ("g", "q", "u"), ("g", "q", "v"))
      .toDF("s", "a", "b")
    val r2 = api.Graft.mutualInformation(ind, "a", "b", "s")
      .as[(String, Long, Double, Double)].collect().head
    assert(r2._3 == 0.0, s"$r2")
  }

  test("skylineSelect: hand-worked front with duplicates and dominated ties") {
    import spark.implicits._
    // (5,5) dominates (5,4) [y strict] and (4,5) [x strict]; (6,1) and
    // (1,6) survive as corners; duplicate (5,5) counts multiplicity 2
    val pts = Seq(
      (1L, "g", 5L, 5L), (2L, "g", 5L, 5L), (3L, "g", 5L, 4L),
      (4L, "g", 4L, 5L), (5L, "g", 6L, 1L), (6L, "g", 1L, 6L)
    ).toDF("id", "s", "x", "y")
    val out = api.Graft.skylineSelect(pts, "id", "x", "y", "s")
      .orderBy("x").as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq(("g", 1L, 6L, 1L, 6L), ("g", 5L, 5L, 2L, 1L),
      ("g", 6L, 1L, 1L, 5L)), s"$out")
    // registry row: every front point must be undominated (brute check)
    val reg = queries.PipelineOps.skylineSelect(spark, sf)
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(reg.nonEmpty)
    reg.groupBy(_._1).foreach { case (_, pts0) =>
      pts0.foreach { p =>
        assert(!pts0.exists(q => q != p && q._2 >= p._2 && q._3 >= p._3
          && (q._2 > p._2 || q._3 > p._3)),
          s"front point $p dominated within the front")
      }
    }
  }

  test("incrementalView: delta application == full CDC recompute") {
    import spark.implicits._
    val ivm = queries.PipelineOps.incrementalView(spark, sf)
      .as[(String, Long, Double)].collect().toSeq
    val full = queries.PipelineOps.cdcApply(spark, sf)
      .as[(String, Long, Double)].collect().toSeq
    assert(ivm == full, s"IVM diverged from recompute:\n$ivm\n$full")
    // applyAggDelta drops a group whose count reaches zero
    val view = Seq(("a", 2L, 10L), ("b", 1L, 5L)).toDF("g", "c", "v")
    val delta = Seq(("b", -1L, -5L), ("c", 3L, 9L)).toDF("g", "c", "v")
    val out = api.Graft.applyAggDelta(view, delta, "g", "c", "v")
      .orderBy("g").as[(String, Long, Long)].collect().toSeq
    assert(out == Seq(("a", 2L, 10L), ("c", 3L, 9L)), s"$out")
  }

  test("knnGraphStats: reciprocity on a hand graph; registry rates in range") {
    import spark.implicits._
    import graft.functions.VectorFunctions
    VectorFunctions.register(spark)
    // registry row at sf0.001: rates in [0,1], edges ≤ 3·nodes per label
    val reg = queries.Similarity.knnGraph(spark, sf)
      .as[(Int, Long, Long, Double)].collect().toSeq
    assert(reg.nonEmpty)
    reg.foreach { r =>
      assert(r._4 >= 0.0 && r._4 <= 1.0, s"$r")
      assert(r._3 <= 3 * r._2, s"more than k edges per node: $r")
      assert(r._4 > 0.0, s"${r._1}: a kNN graph with zero reciprocal edges")
    }
  }

  test("abTest: hand-worked z; degenerate pool is defined") {
    import spark.implicits._
    // A: 4 users, 1 converts; B: 4 users, 3 convert → pool 0.5,
    // z = 0.5 / sqrt(0.25 · 0.5) = 1.414214 — not significant at 1.96
    val ev = (1L to 4L).map(u => (u, 0L, u == 1L)) ++
      (5L to 8L).map(u => (u, 1L, u <= 7L))
    val out = api.Graft.abTest(ev.toDF("user_id", "variant", "converted"),
        "user_id", "variant", "converted")
      .as[(Long, Long, Long, Long, Double, Double, Double, Double, Boolean)]
      .collect().head
    assert(out._1 == 4L && out._2 == 1L && out._3 == 4L && out._4 == 3L)
    assert(out._5 == 0.25 && out._6 == 0.75 && out._7 == 0.5, s"$out")
    assert(math.abs(out._8 - 0.5 / math.sqrt(0.125)) < 1e-6 && !out._9, s"$out")
    // everybody converts: zero variance → z defined as 0
    val all = (1L to 4L).map(u => (u, u % 2, true))
    val z0 = api.Graft.abTest(all.toDF("user_id", "variant", "converted"),
      "user_id", "variant", "converted").select("z6").as[Double].collect().head
    assert(z0 == 0.0)
  }

  test("ewmaMonitor: integer recursion flags the spike and the silence") {
    import spark.implicits._
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    // hours 0..6: 4 events each; hour 7: 40 (spike); hour 8: 0 — but a
    // zero-event hour must come from GAP-FILL, so stage hour 9 with 4
    // events and leave hour 8 empty
    val rows = (0 to 6).flatMap(h => (1 to 4).map(i =>
        ("x", new java.sql.Timestamp(base + h * 3600000L + i * 1000L)))) ++
      (1 to 40).map(i => ("x", new java.sql.Timestamp(base + 7 * 3600000L + i * 1000L))) ++
      (1 to 4).map(i => ("x", new java.sql.Timestamp(base + 9 * 3600000L + i * 1000L)))
    val out = api.Graft.ewmaMonitor(rows.toDF("event_type", "ts"), "ts", "event_type")
      .as[(String, Long, Long, Long, Long)].collect().head
    // s: 4,4,4,4,4,4,4 → spike (8·40 > 13·4, i=7 ≥ warmup) → s=13
    // → silence at i=8 (8·0 < 3·13) → s=9 → i=9: c=4, 8·4 < 27? no; > 13·9? no
    // final s = (3·9+4) div 4 = 7
    assert(out == (("x", 10L, 7L, 1L, 1L)), s"$out")
  }

  test("streamSkyline: drained grid front == the batch skyline") {
    val batch = queries.PipelineOps.skylineSelect(spark, sf).collect().toSeq
    val stream = streaming.StreamingQueries.streamSkyline(spark, sf).collect().toSeq
    assert(batch == stream, "streaming front diverged from the batch skyline")
  }

  test("attributionTouch: first/last touch before the FIRST conversion only") {
    import spark.implicits._
    def ts(m: Int) = new java.sql.Timestamp(1700000000000L + m * 60000L)
    val ev = Seq(
      (1L, 1L, ts(1), "click", false),
      (1L, 2L, ts(2), "view", false),
      (1L, 3L, ts(3), "purchase", true),
      (1L, 4L, ts(4), "click", false), // after conversion — must not count
      (2L, 5L, ts(1), "view", false),  // never converts — excluded
      (3L, 6L, ts(1), "purchase", true) // converts with no prior touch
    ).toDF("user_id", "event_id", "ts", "event_type", "conv")
    val out = api.Graft.attributionTouch(ev, "user_id", "ts", "event_id",
        "event_type", "conv")
      .orderBy("channel")
      .as[(String, Long, Long, Double, Double)].collect().toSeq
    assert(out == Seq(("click", 1L, 0L, 1.0, 0.0), ("view", 0L, 1L, 0.0, 1.0)),
      s"$out")
  }

  test("forecastBaseline: day-2 backtest against the day-1 hour-of-day mean") {
    import spark.implicits._
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    // day 1: h events at hour h (hod pattern); day 2: h + 2 events —
    // seasonal-naive pred = hod, so MAE = 2 exactly, bias = +48
    val rows = (0 to 47).flatMap { h =>
      val n = if (h < 24) h else (h - 24) + 2
      (1 to n).map(i => ("x", new java.sql.Timestamp(base + h * 3600000L + i * 1000L)))
    }
    val out = api.Graft.forecastBaseline(rows.toDF("event_type", "ts"),
        "ts", "event_type")
      .as[(String, Long, Double, Long)].collect().head
    assert(out == (("x", 24L, 2.0, 48L)), s"$out")
  }

  test("streamEwma: carried 4-integer state reproduces the batch monitor") {
    val batch = queries.PipelineOps.ewmaMonitor(spark, sf).collect().toSeq
    val stream = streaming.StreamingQueries.streamEwma(spark, sf).collect().toSeq
    assert(batch == stream, s"stream EWMA diverged:\n$batch\n$stream")
  }

  test("embeddingDrift: identical generations give cosine 1") {
    import spark.implicits._
    val vecs = Seq(
      (0L, Array(1f, 2f, 3f), 7, 0), (1L, Array(1f, 2f, 3f), 7, 1),
      (2L, Array(4f, 0f, 1f), 8, 0), (3L, Array(4f, 0f, 1f), 8, 1)
    ).toDF("vec_id", "embedding", "label", "gen")
    val out = api.Graft.embeddingDrift(vecs, "vec_id", "embedding", "label", "gen")
      .orderBy("label").as[(Int, Long, Long, Double)].collect().toSeq
    assert(out == Seq((7, 1L, 1L, 1.0), (8, 1L, 1L, 1.0)), s"$out")
    // registry row: on the iid-Gaussian synthetic corpus the per-label
    // centroids are noise estimates, so parity-half cosines sit NEAR ZERO
    // (the honest negative control — real embedding corpora cluster per
    // label and read close to 1); pin only validity + both halves present
    val reg = queries.Similarity.embeddingDrift(spark, sf)
      .as[(Int, Long, Long, Double)].collect().toSeq
    assert(reg.nonEmpty)
    reg.foreach(r => assert(r._4 >= -1.0 && r._4 <= 1.0
      && r._2 > 0 && r._3 > 0, s"$r"))
  }

  test("asofJoinTolerance: stale matches beyond the window drop") {
    import spark.implicits._
    def ts(m: Int) = new java.sql.Timestamp(1700000000000L + m * 60000L)
    val right = Seq((1L, ts(0), 100L)).toDF("k", "ts", "v")
    val left = Seq((1L, ts(30), 7L), (1L, ts(120), 8L)).toDF("k", "ts", "id")
    val out = api.Graft.asofJoinTolerance(left, right, "k", "ts", "v",
        toleranceSec = 3600L)
      .select("id", "v_asof").as[(Long, Long)].collect().toSeq
    assert(out == Seq((7L, 100L)), s"2h-old match must drop: $out")
    // registry row is a strict subset of the unbounded as-of join
    val bounded = queries.EventTime.asofJoinTolerance(spark, sf).collect().toSeq
    val unbounded = queries.EventTime.asofJoin(spark, sf).collect().toSeq
    assert(bounded.nonEmpty && bounded.size < unbounded.size
      && bounded.forall(unbounded.contains), "tolerance must strictly bound")
  }

  test("NfcNormalize: native expression composes; registry row provably fires") {
    import spark.implicits._
    functions.VectorFunctions.register(spark)
    // decomposed e + COMBINING ACUTE → composed e-acute, one char shorter
    val out = Seq("cafe\u0301").toDF("s")
      .selectExpr("nfc_normalize(s) AS n", "length(s) AS lb",
        "length(nfc_normalize(s)) AS la")
      .as[(String, Int, Int)].collect().head
    assert(out._1 == "caf\u00e9" && out._2 == 5 && out._3 == 4, s"$out")
    // already-NFC input is identity
    val id = Seq("plain ascii").toDF("s")
      .selectExpr("nfc_normalize(s) = s").as[Boolean].collect().head
    assert(id)
    val reg = queries.TextAnalysis.textNormalize(spark, sf)
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(reg.map(_._3).sum > 0, "injection must fire somewhere")
    reg.foreach(r => assert(r._5 == r._4 - r._3,
      s"each composed pair saves exactly one char: $r"))
  }

  test("skylineSelect property: equals brute-force domination on 200 random points") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val pts = (1 to 200).map(i =>
      (i.toLong, "g", rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
    val out = api.Graft.skylineSelect(pts.toDF("id", "s", "x", "y"),
        "id", "x", "y", "s")
      .as[(String, Long, Long, Long, Long)].collect().toSeq
      .map(r => (r._2, r._3, r._4, r._5)).sortBy(p => (p._1, p._2))
    // brute force: survivors = points no other point strictly dominates
    val survivors = pts.filter { case (_, _, x, y) =>
      !pts.exists { case (_, _, x2, y2) =>
        x2 >= x && y2 >= y && (x2 > x || y2 > y) }
    }
    val expected = survivors.groupBy(p => (p._3, p._4)).map { case ((x, y), g) =>
      (x, y, g.size.toLong, g.map(_._1).min)
    }.toSeq.sortBy(p => (p._1, p._2))
    assert(out == expected, s"front diverged from brute force:\n$out\n$expected")
  }

  test("cdcApply: arrival order is irrelevant (latest-wins keys on seq)") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val log = rnd.shuffle((1 to 60).map { i =>
      (i.toLong % 12, i.toLong, if (i % 9 == 0) "D" else if (i % 2 == 0) "U" else "I", i.toLong * 3)
    }).toDF("k", "seq", "op", "v")
    val a = api.Graft.cdcApply(log, "k", "seq", "op")
      .orderBy("k").collect().toSeq
    val b = api.Graft.cdcApply(log.orderBy(col("seq").desc), "k", "seq", "op")
      .orderBy("k").collect().toSeq
    assert(a == b && a.nonEmpty)
  }

  test("winsorizedStats: clamps the tail; degenerate bounds are identity") {
    import spark.implicits._
    val df = ((1 to 9).map(i => ("g", i.toDouble)) :+ (("g", 1000.0)))
      .toDF("g", "v")
    val r = api.Graft.winsorizedStats(df, "g", "v")
      .as[(String, Long, Long, Double, Double)].collect().head
    assert(r._2 == 10L && r._3 > 0L && r._4 < r._5,
      s"right-skew must clamp and pull the mean down: $r")
    // pLo = 0, pHi = 1 clamp to [min, max] — identity
    val id = api.Graft.winsorizedStats(df, "g", "v", pLo = 0.0, pHi = 1.0)
      .as[(String, Long, Long, Double, Double)].collect().head
    assert(id._3 == 0L && id._4 == id._5, s"$id")
  }

  test("streamAbTest: drained per-user state reproduces the batch readout") {
    val batch = queries.PipelineOps.abTest(spark, sf).collect().toSeq
    val stream = streaming.StreamingQueries.streamAbTest(spark, sf).collect().toSeq
    assert(batch == stream, s"stream A/B diverged:\n$batch\n$stream")
  }

  test("sqlScripting: bisection result satisfies the 40% invariant") {
    val r = queries.Modern.sqlScripting(spark, sf).collect().head
    val (thr, kept, total) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(kept * 5 >= total * 2, s"kept $kept of $total under threshold $thr")
    assert(thr >= 0L && thr <= 1000001L)
    // determinism: a second run lands on the same fixpoint
    val r2 = queries.Modern.sqlScripting(spark, sf).collect().head
    assert(r2.getLong(0) == thr && r2.getLong(1) == kept)
  }
}
