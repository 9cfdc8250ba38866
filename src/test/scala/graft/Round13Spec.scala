package graft

import org.apache.spark.sql.functions._

/** Round-13 pins (VERDICT r12 tasks):
  *   - constant-size audit slice arithmetic (task 1): the threshold is
  *     integer-exact, ∝ 1/N, and reproduces r12's 1-in-4 slice at sf0.1.
  *   - mixtureWaterfill solver-frame guard (task 6): a data-sized frame
  *     fails fast at execution instead of silently single-partitioning.
  *   - profile completeness (task 4): every registry row has a frozen
  *     per-query profile, so a new query can never debut under the
  *     family-median fallback where its own regression is invisible.
  */
class Round13Spec extends SparkSpec {
  import spark.implicits._

  test("auditSliceThresholdHex: integer-exact, 1/N fraction, r12 slice reproduced") {
    // no slicing when the corpus fits the target
    assert(api.Graft.auditSliceThresholdHex(500L, 1250L).isEmpty)
    assert(api.Graft.auditSliceThresholdHex(1250L, 1250L).isEmpty)
    // sf0.1: N=5000, target=1250 → exactly 2^30 → the r12 1-in-4
    // first-digit slice (prefix < '40000000' ⟺ first hex digit ∈ 0..3)
    assert(api.Graft.auditSliceThresholdHex(5000L, 1250L).contains("40000000"))
    // sf1: N=50000 → fraction 1/40 — ten times thinner, same slice SIZE
    assert(api.Graft.auditSliceThresholdHex(50000L, 1250L).contains("06666666"))
    // threshold/2^32 under-approximates target/n by < 1/2^32 (floor), and
    // the fraction halves when the corpus doubles
    val t1 = java.lang.Long.parseLong(
      api.Graft.auditSliceThresholdHex(100000L, 1250L).get, 16)
    val t2 = java.lang.Long.parseLong(
      api.Graft.auditSliceThresholdHex(200000L, 1250L).get, 16)
    assert(math.abs(t1 - 2L * t2) <= 1L, s"fraction not ∝ 1/N: $t1 vs 2*$t2")
  }

  test("screenEvalBase slicing: explicit digits and equivalent threshold agree") {
    // target 125 of the 500 suite docs → threshold 0x40000000 — the same
    // documents as the explicit first-digit-in-0..3 slice, so the two
    // slicing forms must produce the identical confusion row
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val auto = api.Graft.minhashScreenEval(docs, "doc_id", "text",
        tau = 0.2, targetSliceDocs = 125L, baseHash = api.Graft.md5Hash60)
      .collect().toSeq
    val explicit = api.Graft.minhashScreenEval(docs, "doc_id", "text",
        tau = 0.2, sampleHexDigits = Seq("0", "1", "2", "3"),
        baseHash = api.Graft.md5Hash60)
      .collect().toSeq
    assert(auto == explicit, s"auto-slice $auto vs explicit-digit $explicit")
  }

  test("mixtureWaterfill: solver-frame ceiling fails fast, guard leaves results intact") {
    // a data-sized frame breaches the ceiling at EXECUTION time — the
    // raise_error rides the solver's own global window, no extra job
    val big = Tables.documents(spark, sf)
      .select(col("doc_id").as("src"), col("n_chars").as("avail"),
        lit(1L).as("w"))
    val ex = intercept[Exception] {
      api.Graft.mixtureWaterfill(big, "src", "avail", "w",
        budget = 1000L, solverMaxRows = 10).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e =>
        String.valueOf(e.getMessage) +: messages(e.getCause))
    assert(messages(ex).exists(_.contains("mixtureWaterfill")),
      s"expected the solver-frame guard message, got: ${messages(ex)}")
    // and a solver-sized frame still allocates exactly (guard is inert):
    // budget 100 over (a: avail 10, w 1), (b: avail 1000, w 1) → a
    // saturates at 10, the freed 40 re-flows to b → b gets 90
    val small = Seq(("a", 10L, 1L), ("b", 1000L, 1L))
      .toDF("src", "avail", "w")
    val out = api.Graft.mixtureWaterfill(small, "src", "avail", "w",
        budget = 100L)
      .select("src", "alloc").as[(String, Long)].collect().toMap
    assert(out == Map("a" -> 10L, "b" -> 90L), s"waterfill drifted: $out")
  }

  test("shardManifest: two-phase prefix sum equals the global order; totals conserve") {
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val target = 4096L
    val out = queries.PipelineOps.shardManifest(spark, sf)
      .as[(Long, Long, Long, Long, Double)].collect().sortBy(_._1)
    assert(out.nonEmpty)
    // dense shard ids from 0
    assert(out.map(_._1).toSeq == out.indices.map(_.toLong),
      s"shard ids not dense: ${out.map(_._1).toSeq}")
    // driver-side recompute of the SINGLE global window form: md5 order,
    // exclusive token prefix, shard = pre DIV target — the two-phase
    // bucketed rank must reproduce it exactly
    val rows = docs.select(col("doc_id"),
        expr("CAST(size(filter(split(text, ' ', -1), x -> length(x) > 0)) AS BIGINT)"),
        md5(col("doc_id").cast("string")),
        api.Graft.md5Hash60(col("doc_id").cast("string")))
      .as[(Long, Long, String, Long)].collect()
      .sortBy { case (id, _, hk, _) => (hk, id) }
    var pre = 0L
    val byShard = rows.map { case (_, nt, _, h) =>
      val shard = pre / target; pre += nt; (shard, nt, h)
    }.groupBy(_._1)
    // ids densified exactly as the operator does (dense_rank − 1 over the
    // raw-shard grid): sort by raw shard, re-index from 0 (ADVICE r13)
    val expect = byShard.toSeq.sortBy(_._1).zipWithIndex
      .map { case ((_, xs), i) =>
        (i.toLong, xs.length.toLong, xs.map(_._2).sum,
          xs.map(_._3).reduce(_ ^ _))
      }
    assert(out.map(x => (x._1, x._2, x._3, x._4)).toSeq == expect,
      "two-phase manifest diverges from the global-order recompute")
    // conservation: every token and every document lands in exactly one shard
    assert(out.map(_._3).sum == rows.map(_._2).sum)
    assert(out.map(_._2).sum == rows.length.toLong)
    // every shard except possibly the last crosses the target boundary:
    // its exclusive end prefix reaches into the next shard's range
    out.dropRight(1).zipWithIndex.foreach { case ((id, _, _, _, fill), i) =>
      assert(fill > 0.0, s"shard $id empty fill")
    }
  }

  test("qualityAgreement: confusions partition, marginals match the gopher row") {
    val out = queries.TextAnalysis.qualityAgreement(spark, sf)
      .as[(String, Long, Long, Long, Long, Long, Double, Double)]
      .collect().sortBy(_._1)
    assert(out.map(_._1).toSeq ==
      Seq("classifier|perplexity", "gopher|classifier", "gopher|perplexity"))
    // one row per pair over the SAME scored population
    assert(out.map(_._2).distinct.length == 1)
    out.foreach { case (pair, n, n11, n00, n10, n01, agree4, exp4) =>
      assert(n11 + n00 + n10 + n01 == n, s"$pair: confusion does not partition")
      assert(agree4 >= 0.0 && agree4 <= 1.0 && exp4 >= 0.0 && exp4 <= 1.0)
    }
    // the gopher marginal (a-side of both gopher pairs) equals the
    // quality_gopher row's pass count on the same corpus
    val gopherPasses = queries.TextAnalysis.qualityGopher(spark, sf)
      .filter(col("passes")).count()
    val gc = out.find(_._1 == "gopher|classifier").get
    val gp = out.find(_._1 == "gopher|perplexity").get
    assert(gc._3 + gc._5 == gopherPasses, "gopher|classifier a-marginal drifted")
    assert(gp._3 + gp._5 == gopherPasses, "gopher|perplexity a-marginal drifted")
  }

  test("dupDepthProfile: paragraph mass conserves; shares cover the corpus") {
    val out = queries.Dedup.dedupClusterStats(spark, sf)
      .as[(Long, Long, Long, Double)].collect()
    assert(out.nonEmpty && out.forall(_._1 >= 1L))
    // Σ depth·n_fingerprints = total corpus paragraphs (independent recompute)
    val totalPars = Tables.documents(spark, sf)
      .select(expr("CAST(ceil(size(split(text, ' ', -1)) / 16.0) AS BIGINT)"))
      .as[Long].collect().sum
    assert(out.map(_._3).sum == totalPars,
      s"paragraph mass drifted: ${out.map(_._3).sum} vs $totalPars")
    out.foreach { case (d, nf, np, _) => assert(np == d * nf) }
  }

  test("qualityWeightedSample: gate is the documented integer inequality") {
    val kept = queries.TextAnalysis.sampleQualityWeighted(spark, sf)
      .as[(Long, Long, Double, Double)].collect()
    assert(kept.nonEmpty && kept.length < 500, "sample degenerate")
    // independent per-doc recompute: score → p_int, top-20 hash bits → u
    val all = api.Graft.linearClassify(
        Tables.documents(spark, sf).select(col("doc_id"), col("text")),
        "doc_id", "text", 1024)
      .select(col("doc_id"), col("score"),
        api.Graft.md5Hash60(col("doc_id").cast("string")))
      .as[(Long, Double, Long)].collect()
    val expect = all.filter { case (_, score, h) =>
      val p = math.max(0L, math.min(
        math.floor(score * 10000.0).toLong + 3000000L, 6000000L))
      (h >> 40) * 6000000L < p * 1048576L
    }.map(_._1).toSet
    assert(kept.map(_._1).toSet == expect, "sampled doc set drifted")
    kept.foreach { case (_, _, _, p) => assert(p >= 0.0 && p <= 1.0) }
  }

  test("qualityThresholdSweep: monotone retention; τ=0 row matches a direct count") {
    val out = queries.TextAnalysis.qualityThresholdSweep(spark, sf)
      .as[(Double, Long, Long, Double, Double)].collect().sortBy(_._1)
    assert(out.length == 9 && out.head._1 == -200.0 && out.last._1 == 200.0)
    // retention is non-increasing in τ
    assert(out.sliding(2).forall(w => w(0)._2 >= w(1)._2 && w(0)._3 >= w(1)._3))
    // independent recompute of the τ = 0 row straight off the classifier
    val mid = out.find(_._1 == 0.0).get
    val direct = api.Graft.linearClassify(
        Tables.documents(spark, sf).select(col("doc_id"), col("text")),
        "doc_id", "text", 1024)
      .filter(col("score") >= 0.0)
      .agg(count(lit(1)), coalesce(sum("n_tokens"), lit(0L)))
      .as[(Long, Long)].head()
    assert((mid._2, mid._3) == direct, s"τ=0 row $mid vs direct $direct")
    // the curve must actually discriminate at this model's score spread
    assert(out.head._2 > out.last._2, "sweep grid too narrow to discriminate")
  }

  test("doremiReweight: shares renormalize; harder domains gain weight") {
    val out = queries.PipelineOps.mixtureDoremi(spark, sf)
      .as[(String, Long, Long, Double, Long, Double, Double)].collect()
    assert(out.length == 5) // the 5 language domains
    // ratio4 shares sum to 1 within rounding (±k·10⁻⁴ half-ups)
    assert(math.abs(out.map(_._6).sum - 1.0) < 5e-4)
    assert(math.abs(out.map(_._7).sum - 1.0) < 5e-4)
    // the MW direction: w_after/w_before ∝ (10⁴ + excess) under one shared
    // normalizer, so the ratio is monotone in excess (checked where the
    // excess gap clears the ratio4 rounding noise)
    val byEx = out.sortBy(_._5)
    byEx.sliding(2).foreach { w =>
      val (lo, hi) = (w(0), w(1))
      if (hi._5 - lo._5 >= 20)
        assert(hi._7 / hi._6 > lo._7 / lo._6 - 1e-3,
          s"${lo._1}→${hi._1}: MW ratio not monotone in excess")
    }
    // doc mass is the full corpus (count_distinct over the token explode)
    assert(out.map(_._2).sum == Tables.documents(spark, sf).count())
  }

  test("lengthBucketPlan: token mass conserves; padding bounds hold") {
    val out = queries.PipelineOps.lengthBucketBatches(spark, sf)
      .as[(Long, Long, Long, Long, Double, Long)].collect()
    assert(out.nonEmpty && out.forall(_._1 % 16 == 0))
    val totTok = Tables.documents(spark, sf)
      .select(expr(
        "CAST(size(filter(split(text, ' ', -1), x -> length(x) > 0)) AS BIGINT)"))
      .as[Long].collect().sum
    assert(out.map(_._3).sum == totTok, "real token mass drifted")
    assert(out.map(_._2).sum == Tables.documents(spark, sf).count())
    out.foreach { case (cap, nd, real, padded, waste, nb) =>
      assert(padded == nd * cap && padded >= real)
      assert(waste >= 0.0 && waste < 1.0)
      // batch count bounds: ⌈nd / rpb⌉ with rpb = max(16384 DIV cap, 1)
      val rpb = math.max(16384L / cap, 1L)
      assert(nb == (nd + rpb - 1) / rpb)
    }
  }

  test("zipfFit + heapsCurve: type/token mass conserves against direct counts") {
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    // zipf over bigrams: n_types and n_tokens equal direct distinct/total
    val z = queries.TextAnalysis.zipfFit(spark, sf)
      .as[(Long, Long, Long, Double, Double)].head()
    val bigrams = docs.select(explode(expr(
        """CASE WHEN size(split(text, ' ', -1)) < 2 THEN CAST(array() AS ARRAY<STRING>)
          |ELSE transform(sequence(1, size(split(text, ' ', -1)) - 1),
          |  i -> array_join(slice(split(text, ' ', -1), i, 2), ' ')) END"""
          .stripMargin)).as("g"))
    assert(z._1 == bigrams.select("g").distinct().count(), "n_types drifted")
    assert(z._2 == bigrams.count(), "n_tokens drifted")
    // heaps over trigrams: cumulative curves are monotone, totals conserve
    val h = queries.TextAnalysis.heapsLaw(spark, sf)
      .as[(String, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(h.length == 16)
    assert(h.last._3 == h.map(_._2).sum && h.last._5 == h.map(_._4).sum)
    assert(h.sliding(2).forall(w => w(1)._3 > w(0)._3 && w(1)._5 >= w(0)._5))
    val trigrams = docs.select(explode(expr(
        """CASE WHEN size(split(text, ' ', -1)) < 3 THEN CAST(array() AS ARRAY<STRING>)
          |ELSE transform(sequence(1, size(split(text, ' ', -1)) - 2),
          |  i -> array_join(slice(split(text, ' ', -1), i, 3), ' ')) END"""
          .stripMargin)).as("g"))
    assert(h.last._5 == trigrams.select("g").distinct().count(),
      "cumulative type count != distinct trigram vocabulary")
    assert(h.last._3 == trigrams.count(), "cumulative tokens != trigram count")
  }

  test("sketchQuantiles: every group's sketch lands inside the 2% band") {
    val out = queries.Relational.sketchQuantiles(spark, sf)
      .as[(String, Long, Double, Double, Double, Boolean)].collect()
    assert(out.nonEmpty)
    out.foreach { case (f, n, q25, q50, q75, within) =>
      assert(within, s"$f: sketch outside the 2% band")
      assert(q25 <= q50 && q50 <= q75, s"$f: quantiles not monotone")
      assert(n > 0)
    }
  }

  test("centroidClassify: confusion partitions the corpus; probe beats chance") {
    val out = queries.Similarity.centroidClassify(spark, sf)
      .as[(Int, Int, Long, Double)].collect()
    val total = Tables.embeddings(spark, sf).count()
    assert(out.map(_._3).sum == total, "confusion does not partition")
    // per-true-label row shares sum to 1 within ratio4 rounding
    out.groupBy(_._1).foreach { case (lbl, rows) =>
      assert(math.abs(rows.map(_._4).sum - 1.0) < 1e-3, s"label $lbl shares")
    }
    // the probe must beat 10-class chance comfortably (real structure in
    // the synthetic embeddings; reads ~0.4 at suite scale)
    val acc = out.filter(r => r._1 == r._2).map(_._3).sum.toDouble / total
    assert(acc > 0.2, s"nearest-centroid accuracy $acc suspiciously low")
  }

  test("eventRateAnomalies: z matches a driver-side recompute on one type") {
    val out = queries.PipelineOps.eventAnomalies(spark, sf)
      .filter(col("event_type") === "click")
      .as[(String, java.sql.Timestamp, Long, Double, Double, Boolean)]
      .collect().sortBy(_._2.getTime)
    assert(out.nonEmpty)
    // independent recompute: hourly counts GAP-FILLED onto the dense
    // wall-clock hour grid (r14: the trailing frame is 24 wall-clock
    // hours; zero-event hours are rows) → trailing-24 mean/σ → z
    val observed = Tables.events(spark, sf)
      .filter(col("event_type") === "click")
      .select(date_trunc("hour", col("ts")).as("h"))
      .groupBy("h").agg(count(lit(1)).as("c"))
      .as[(java.sql.Timestamp, Long)].collect().sortBy(_._1.getTime)
    val byHour = observed.map { case (t, c) => t.getTime -> c }.toMap
    val hours = (observed.head._1.getTime to observed.last._1.getTime by 3600000L)
      .map(ms => (new java.sql.Timestamp(ms), byHour.getOrElse(ms, 0L))).toArray
    val cs = hours.map(_._2.toDouble)
    val expect = hours.indices.drop(24).map { i =>
      val w = cs.slice(i - 24, i)
      val mu = w.sum / 24.0
      val v = (w.map(x => x * x).sum - w.sum * w.sum / 24.0) / 24.0
      (hours(i)._1, (cs(i) - mu) / math.sqrt(math.max(v, 1e-12)))
    }
    assert(out.length == expect.length, s"${out.length} vs ${expect.length}")
    out.zip(expect).foreach { case ((_, h, _, _, z, flag), (eh, ez)) =>
      assert(h == eh)
      assert(math.abs(z - ez) < 1e-3, s"$h: z $z vs $ez")
      assert(flag == (math.abs(z) >= 2.0))
    }
  }

  test("qualityDrift: generation counts match corpus_diff's filters; drift is the delta") {
    val out = queries.PipelineOps.qualityDrift(spark, sf)
      .as[(String, Long, Double, Long, Double, Double)].collect()
    val docs = Tables.documents(spark, sf)
    assert(out.map(_._2).sum == docs.filter(col("doc_id") % 13 =!= 5).count())
    assert(out.map(_._4).sum == docs.filter(col("doc_id") % 13 =!= 7).count())
    out.foreach { case (src, _, q0, _, q1, drift) =>
      assert(math.abs(drift - BigDecimal(q1 - q0)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9,
        s"$src: drift $drift != $q1 - $q0")
    }
    // the %13=2 uppercase rewrite must actually move SOME source's mean
    assert(out.exists(r => math.abs(r._6) > 1.0), "drift suspiciously flat")
  }

  test("piiReport + tokenEntropy: injection fires; entropy bounds hold") {
    val pii = queries.TextAnalysis.piiReport(spark, sf)
      .as[(String, String, Long, Long, Double)].collect()
    // every (source, rule) cell fires (the injection guarantees >= 1 each)
    assert(pii.length == 40 && pii.forall(_._5 == 1.0))
    // even ids carry a second phone: phone matches > email matches overall
    val byRule = pii.groupBy(_._2).view.mapValues(_.map(_._4).sum).toMap
    assert(byRule("phone") > byRule("email"))
    val ent = queries.TextAnalysis.tokenEntropy(spark, sf)
      .as[(Long, Long, Long, Double, Boolean)].collect()
    assert(ent.length == 500)
    ent.foreach { case (id, n, d, h, flag) =>
      // 0 <= H <= ln(distinct) (+ quantization slack)
      assert(h >= 0.0 && h <= math.log(d.toDouble) + 1e-4, s"doc $id: H=$h")
      assert(flag == (h < 2.0))
      assert(d <= n)
    }
    // the synthetic corpus is drawn from a ~31-word pool: entropy must
    // actually discriminate (some spread across docs)
    assert(ent.map(_._4).distinct.length > 100)
  }

  test("minhashBandStats: pair mass predicts the actual banded-join candidate count") {
    val stats = queries.Dedup.minhashBandStats(spark, sf)
      .as[(Int, Long, Long, Long, Double)].collect()
    assert(stats.length == 8)
    stats.foreach { case (_, nb, mx, pm, ts) =>
      assert(mx >= 1 && nb >= 1 && pm >= 0 && ts >= 0.0 && ts <= 1.0)
    }
    // Σ per-band pair mass = the banded self-join's RAW pair count (before
    // the per-pair dedup) — recomputed from the signatures directly
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val sig = api.Graft.minhashSignatures(docs, "doc_id", "text",
      numHashes = 32, baseHash = api.Graft.md5Hash60)
    val banded = sig.filter(col("sig").isNotNull).select(col("doc_id"),
      posexplode(expr(
        "transform(sequence(0, 7), b -> slice(sig, b * 4 + 1, 4))"))
        .as(Seq("band", "bandsig")))
    val raw = banded.as("a").join(banded.as("b"),
      col("a.band") === col("b.band") && col("a.bandsig") === col("b.bandsig")
        && col("a.doc_id") < col("b.doc_id")).count()
    assert(stats.map(_._4).sum == raw,
      s"pair mass ${stats.map(_._4).sum} != banded join count $raw")
  }

  test("asofJoinNearest: nearest beats-or-ties both directional neighbors") {
    import org.apache.spark.sql.DataFrame
    val ev = Tables.events(spark, sf)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id").as("click_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"), col("ts"))
    val near = api.Graft.asofJoinNearest(purchases, clicks, "user_id", "ts", "click_id")
      .select(col("purchase_id"), col("ts"), col("ts_nearest"))
      .as[(Long, java.sql.Timestamp, java.sql.Timestamp)].collect()
      .map(r => r._1 -> (r._2, Option(r._3))).toMap
    // the backward as-of is one of the two candidates: nearest distance
    // must be <= the backward distance wherever backward exists
    val back = api.Graft.asofJoin(purchases, clicks, "user_id", "ts", "click_id")
      .select(col("purchase_id"), col("ts_asof"))
      .as[(Long, java.sql.Timestamp)].collect().toMap
    assert(near.nonEmpty && back.nonEmpty)
    back.foreach { case (pid, bts) =>
      val (pts, nOpt) = near(pid)
      val nts = nOpt.get // backward exists ⇒ nearest exists
      val dN = math.abs(pts.getTime - nts.getTime)
      val dB = pts.getTime - bts.getTime
      assert(dN <= dB, s"purchase $pid: nearest $dN further than backward $dB")
    }
    // every purchase row survives (left-join semantics)
    assert(near.size == purchases.count())
  }
}
