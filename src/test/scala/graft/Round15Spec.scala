package graft

import org.apache.spark.sql.functions._

/** Round-15 additions: the perceptual image fingerprint + near-dup join
  * (the r14 verdict's one thin modality), plus pins for this round's
  * performance work where it changed observable shapes (corpus-derived
  * knn_graph band width, retrievalMetrics descending rank convention is
  * pinned in Round14Spec's updated hand-worked test).
  */
class Round15Spec extends SparkSpec {
  test("imageDedup: planted perturbed twins are caught as near-dups, " +
      "exact text dups at Hamming 0, unrelated pairs absent") {
    import spark.implicits._
    val out = queries.Multimodal.imageDedup(spark, sf)
      .as[(Long, Long, Int)].collect().toSeq
    assert(out.nonEmpty, "no near-dup pairs found")
    // every planted twin (doc_id % 13 == 4 → ids 2d and 2d+1) must pair
    // with its base within the cutoff: the +96 pixel-0 perturbation can
    // move at most the two dHash bits that read sample column 0 of row 0
    val twinDocs = Tables.documents(spark, sf)
      .filter(col("doc_id") % 13 === 4)
      .select("doc_id").as[Long].collect().toSet
    val pairSet = out.map(p => (p._1, p._2)).toSet
    twinDocs.foreach { d =>
      assert(pairSet.contains((2 * d, 2 * d + 1)),
        s"twin of doc $d not caught")
    }
    out.foreach { case (a, b, h) =>
      assert(a < b && h >= 0 && h <= 3, s"bad pair ($a,$b,$h)")
      // a twin-vs-base pair differs only in bits fed by pixel 0
      if (b == a + 1 && a % 2 == 0) assert(h <= 2, s"twin pair at h=$h")
    }
    // fingerprints of unrelated docs sit near Hamming 24 of 48 — the
    // output must be far smaller than the all-pairs space
    val nAssets = Tables.documents(spark, sf).count() + twinDocs.size
    assert(out.size < nAssets, s"suspiciously many pairs: ${out.size}")
  }

  test("knnGraphBits: band width grows with corpus size (knob is code)") {
    import queries.Similarity.knnGraphBits
    assert(knnGraphBits(600) == 8)    // sf0.01 — committed oracle width
    assert(knnGraphBits(6000) == 8)   // sf0.1 — profile unchanged
    assert(knnGraphBits(60000) == 16) // sf1 — occupancy-constant width
    assert(knnGraphBits(180000) == 16)
  }

  test("abTest: non-binary variant encodings are derived, not assumed") {
    import spark.implicits._
    // variants encoded 1/2 (not 0/1): the r14-ADVICE silent-NULL case
    val ev = Seq((1L, 1L, true), (2L, 1L, false), (3L, 2L, true),
      (4L, 2L, true)).toDF("u", "v", "c")
    val row = api.Graft.abTest(ev, "u", "v", "c").collect().head
    assert(row.getAs[Long]("n_a") == 2L && row.getAs[Long]("conv_a") == 1L)
    assert(row.getAs[Long]("n_b") == 2L && row.getAs[Long]("conv_b") == 2L)
    // three variants must fail loudly, not fabricate a readout
    val bad = Seq((1L, 0L, true), (2L, 1L, false), (3L, 2L, true))
      .toDF("u", "v", "c")
    val e = intercept[Exception] {
      api.Graft.abTest(bad, "u", "v", "c").collect()
    }
    assert(e.getMessage != null)
  }

  test("bleuCorpus: zero-unigram-overlap stratum reads bleu6 = 0, not NULL") {
    import spark.implicits._
    val pairs = Seq(
      (1L, "aa bb cc dd", "xx yy zz ww", "s0"), // zero overlap
      (2L, "the cat sat here", "the cat sat here", "s1")) // perfect
      .toDF("id", "cand", "ref", "st")
    val out = api.Graft.bleuCorpus(pairs, "id", "cand", "ref", "st")
      .orderBy("st").collect()
    assert(out(0).getAs[Double]("bleu6") == 0.0, s"${out(0)}")
    assert(!out(0).isNullAt(out(0).fieldIndex("bleu6")))
    assert(out(1).getAs[Double]("bleu6") == 1.0, s"${out(1)}")
  }

  test("dialogStats: zero-turn dialog counts as not-ends-assistant, " +
      "empty stratum share guarded") {
    import spark.implicits._
    val d = Seq(
      ("""[]""", "s0"),
      ("""[{"role":"user","content":"hi"},{"role":"assistant","content":"yo"}]""", "s0"))
      .toDF("j", "st")
    val row = api.Graft.dialogStats(d, "j", "st").collect().head
    assert(row.getAs[Double]("ends_asst_rate4") == 0.5, s"$row")
    val empty = Seq(("""[]""", "s0")).toDF("j", "st")
    val r2 = api.Graft.dialogStats(empty, "j", "st").collect().head
    assert(r2.getAs[Double]("asst_token_share4") == 0.0, s"$r2")
    assert(r2.getAs[Double]("ends_asst_rate4") == 0.0, s"$r2")
  }
}
