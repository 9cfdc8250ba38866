package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop}
import org.scalacheck.rng.Seed

/** Property-based checks (SURVEY.md §5.2.3): engine results equal
  * Scala-collections models on generated inputs, and algebraic invariants
  * (dedup idempotence, union additivity) hold. Generators run with fixed
  * seeds so failures are reproducible. */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private val wordGen = Gen.oneOf("spark", "flink", "graft", "scan", "join", "sort")
  private val docGen = Gen.listOfN(20, wordGen).map(_.mkString(" "))
  private def sample[A](g: Gen[List[A]], seed: Long): List[A] =
    g.apply(Gen.Parameters.default, Seed(seed)).get

  test("word count equals a Scala-collections model on generated corpora") {
    for (seed <- 1L to 5L) {
      val docs = sample(Gen.listOfN(50, docGen), seed)
      val got = api.Graft.wordCount(docs.toDF("text"), "text")
        .as[(String, Long)].collect().toMap
      val model = docs.flatMap(_.split(" ")).filter(_.nonEmpty)
        .groupBy(identity).map { case (w, ws) => w -> ws.length.toLong }
      assert(got == model, s"seed=$seed")
    }
  }

  test("exact dedup is idempotent and complete on generated corpora") {
    val docs = sample(Gen.listOfN(80, docGen), 7L).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    val df = docs.toDF("doc_id", "text")
    val once = api.Graft.dedupExact(df, "doc_id", "text")
    val keepIds = once.select("keep_id").as[Long].collect().toSet
    // keep-set covers every distinct text exactly once
    assert(keepIds.size == docs.map(_._2.trim.toLowerCase).distinct.size)
    // dedup of the deduped keep-set is the identity (all n_copies == 1)
    val kept = df.filter(col("doc_id").isin(keepIds.toSeq: _*))
    val twice = api.Graft.dedupExact(kept, "doc_id", "text")
    assert(twice.filter(col("n_copies") =!= 1).count() == 0)
    assert(twice.count() == once.count())
  }

  test("word count distributes over union (count(a ++ b) == count(a) + count(b))") {
    val a = sample(Gen.listOfN(30, docGen), 11L)
    val b = sample(Gen.listOfN(30, docGen), 13L)
    val ca = api.Graft.wordCount(a.toDF("text"), "text").as[(String, Long)].collect().toMap
    val cb = api.Graft.wordCount(b.toDF("text"), "text").as[(String, Long)].collect().toMap
    val cu = api.Graft.wordCount((a ++ b).toDF("text"), "text")
      .as[(String, Long)].collect().toMap
    val merged = (ca.keySet ++ cb.keySet)
      .map(w => w -> (ca.getOrElse(w, 0L) + cb.getOrElse(w, 0L))).toMap
    assert(cu == merged)
  }

  test("minhash candidate estimates are within tolerance of exact Jaccard") {
    // near-duplicate corpus: base docs plus mutated copies
    val base = sample(Gen.listOfN(15, Gen.listOfN(40, wordGen).map(_.mkString(" "))), 17L)
    val docs = base.zipWithIndex.flatMap { case (t, i) =>
      val toks = t.split(" ")
      val mutated = (toks.take(36) ++ Array("x", "y", "z", "w")).mkString(" ")
      Seq((i * 2L, t), (i * 2L + 1, mutated))
    }
    val df = docs.toDF("doc_id", "text")
    val sig = api.Graft.minhashSignatures(df, "doc_id", "text")
    val cands = api.Graft.minhashCandidates(sig, "doc_id", minEstJaccard = 0.1)
      .as[(Long, Long, Double)].collect()
    assert(cands.nonEmpty, "mutated near-dups should surface as candidates")
    val byId = docs.toMap
    def shingleSet(t: String): Set[String] =
      t.split(" ").sliding(3).map(_.mkString(" ")).toSet
    val errs = cands.map { case (ia, ib, est) =>
      val sa = shingleSet(byId(ia)); val sb = shingleSet(byId(ib))
      math.abs(est - sa.intersect(sb).size.toDouble / sa.union(sb).size)
    }
    assert(errs.sum / errs.length < 0.25,
      s"mean minhash error ${errs.sum / errs.length}")
  }

  test("binned interval join equals the naive theta join on generated data") {
    import java.sql.Timestamp
    val base = 1700000000000L // fixed epoch anchor
    for (seed <- 1L to 3L) {
      val rnd = new scala.util.Random(seed)
      // sub-second jitter on purpose: second-truncated binning dropped pairs
      // whose interval end and point share a truncated second (regression)
      def jitter() = new Timestamp(
        base + rnd.nextInt(10000).toLong * 60000L + rnd.nextInt(1000))
      val points = Seq.tabulate(300)(i => (i.toLong, jitter()))
      val intervals = Seq.tabulate(40) { j =>
        val lo = rnd.nextInt(9000).toLong
        // widths from sub-minute up to several bins wide (bin = 1h below)
        val loTs = new Timestamp(base + lo * 60000L + rnd.nextInt(1000))
        (j.toLong, loTs, new Timestamp(
          loTs.getTime + 1 + rnd.nextInt(400 * 60000)))
      }
      val p = points.toDF("p_id", "p_ts")
      val iv = intervals.toDF("iv_id", "lo", "hi")
      val binned = api.Graft.binnedIntervalJoin(p, iv, "p_ts", "lo", "hi",
          binSeconds = 3600)
        .select("p_id", "iv_id").as[(Long, Long)].collect().toSet
      val naive = p.join(iv, col("p_ts") >= col("lo") && col("p_ts") < col("hi"))
        .select("p_id", "iv_id").as[(Long, Long)].collect().toSet
      assert(binned == naive, s"seed=$seed")
    }
  }

  test("connected components equal a union-find model on random graphs") {
    val edgeGen = for {
      a <- Gen.choose(0L, 29L); b <- Gen.choose(0L, 29L)
    } yield (a, b)
    for (seed <- 1L to 3L) {
      val edges = sample(Gen.listOfN(60, edgeGen), seed).filter(e => e._1 != e._2)
      val got = api.Graft.connectedComponents(edges.toDF("src", "dst"), "src", "dst")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // model: union-find where the root is always the component's min id
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val model = edges.flatMap(e => Seq(e._1, e._2)).distinct
        .map(n => n -> find(n)).toMap
      assert(got == model, s"seed=$seed")
    }
  }

  test("simhash multi-block candidates = exact all-pairs Hamming join (recall 100%)") {
    // mutated-copy corpus: base docs plus light and heavy mutations, so
    // true pairs span the whole Hamming range up to and beyond the cutoff
    for (seed <- Seq(23L, 29L)) {
      val base = sample(Gen.listOfN(25, Gen.listOfN(40, wordGen).map(_.mkString(" "))), seed)
      val docs = base.zipWithIndex.flatMap { case (t, i) =>
        val toks = t.split(" ")
        val light = (toks.take(37) ++ Array("x", "y", "q")).mkString(" ")
        val heavy = (toks.take(25) ++ Array.fill(15)("zz")).mkString(" ")
        Seq((i * 3L, t), (i * 3L + 1, light), (i * 3L + 2, heavy))
      }
      val sig = api.Graft.simhash64(docs.toDF("doc_id", "text"), "doc_id", "text",
        baseHash = api.Graft.md5Hash60)
      val got = api.Graft.simhashCandidates(sig, "doc_id", maxHamming = 12, bits = 60)
        .select("id_a", "id_b", "hamming").as[(Long, Long, Int)].collect().toSet
      // exact model: all-pairs Hamming over collected signatures
      val sigs = sig.as[(Long, Long)].collect().sortBy(_._1)
      val exact = (for {
        (ia, sa) <- sigs.iterator
        (ib, sb) <- sigs.iterator if ia < ib
        h = java.lang.Long.bitCount(sa ^ sb) if h <= 12
      } yield (ia, ib, h)).toSet
      assert(exact.nonEmpty, s"seed=$seed produced no close pairs")
      assert(got == exact,
        s"seed=$seed: blocking missed ${(exact -- got).size} pairs / invented ${(got -- exact).size}")
    }
  }

  test("wide (120-bit) simhash pigeonhole candidates = exact two-long Hamming join") {
    for (seed <- Seq(31L, 37L)) {
      val base = sample(Gen.listOfN(25, Gen.listOfN(40, wordGen).map(_.mkString(" "))), seed)
      // 120 bits ≈ doubles the Hamming distance of a given mutation at the
      // same cutoff, so pair the base with an EXACT copy (guaranteed h=0
      // pairs through the intra join) and a one-token append (near-range h)
      val docs = base.zipWithIndex.flatMap { case (t, i) =>
        val light = t + " x"
        val heavy = (t.split(" ").take(28) ++ Array.fill(12)("zz")).mkString(" ")
        Seq((i * 4L, t), (i * 4L + 1, t), (i * 4L + 2, light), (i * 4L + 3, heavy))
      }
      val sig = api.Graft.simhash128(docs.toDF("doc_id", "text"), "doc_id", "text",
        baseHashLo = api.Graft.md5Hash60, baseHashHi = api.Graft.md5Hash60b,
        bitsPerHalf = 60)
      val got = api.Graft.simhashCandidatesWide(sig, "doc_id",
          maxHamming = 12, bitsPerHalf = 60)
        .select("id_a", "id_b", "hamming").as[(Long, Long, Int)].collect().toSet
      val sigs = sig.as[(Long, Long, Long)].collect().sortBy(_._1)
      val exact = (for {
        (ia, la, ha) <- sigs.iterator
        (ib, lb, hb) <- sigs.iterator if ia < ib
        h = java.lang.Long.bitCount(la ^ lb) + java.lang.Long.bitCount(ha ^ hb)
        if h <= 12
      } yield (ia, ib, h)).toSet
      assert(exact.nonEmpty, s"seed=$seed produced no close pairs")
      assert(got == exact,
        s"seed=$seed: wide blocking missed ${(exact -- got).size} / invented ${(got -- exact).size}")
    }
  }

  test("waterfill conserves budget and respects caps on random instances") {
    // the solver behind mixture_waterfill / mixture_epochs /
    // cluster_balanced_sample: Σ alloc == min(budget, Σ avail) EXACTLY,
    // 0 ≤ alloc ≤ avail, and saturation is consistent
    val rowGen = for {
      a <- Gen.chooseNum(0L, 5000L)
      w <- Gen.chooseNum(1L, 50L)
    } yield (a, w)
    for (seed <- 1L to 8L) {
      val rows = sample(Gen.listOfN(12, rowGen), seed)
        .zipWithIndex.map { case ((a, w), i) => (s"s$i", a, w) }
      val totalAvail = rows.map(_._2).sum
      val budget = math.max(1L,
        sample(Gen.listOfN(1, Gen.chooseNum(0L, totalAvail * 3 / 2 + 1)), seed + 100).head)
      val out = api.Graft.mixtureWaterfill(
          rows.toDF("src", "avail", "w"), "src", "avail", "w", budget)
        .select(col("src"), col("avail"), col("alloc"), col("saturated"))
        .as[(String, Long, Long, Boolean)].collect()
      assert(out.map(_._3).sum == math.min(budget, totalAvail),
        s"seed=$seed: allocation not conserved")
      out.foreach { case (src, avail, alloc, sat) =>
        assert(alloc >= 0L && alloc <= avail, s"seed=$seed $src: alloc out of range")
        assert(!sat || alloc == avail, s"seed=$seed $src: saturated but alloc < avail")
      }
    }
  }
}
