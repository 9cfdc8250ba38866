package perfbench

import java.util.SplittableRandom
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The curation chain, closed loop, one job at a time. A seeded corpus with
  * planted exact copies, planted near-duplicates and low-quality documents
  * runs through the curation chain of `graft.api.Graft`:
  * gopherRules -> dedupExact -> minhashSignatures -> minhashCandidates ->
  * clustersFromEdges, keeping one representative per cluster. It runs in the
  * traced run of `tpch_batch`, for its layer metrics (see Main). */
object Curate {
  val Stopwords = Array("the", "a", "of", "and", "is")

  /** Document kinds; ids are assigned so every copy has a larger id than its
    * original, which makes the original the representative of its cluster. */
  final case class Corpus(ids: Array[Long], texts: Array[String],
      unique: Set[Long], exactCopies: Set[Long], nearDups: Set[Long], lowQuality: Set[Long])

  def generate(seed: Long, docs: Int, exactShare: Double, nearShare: Double,
      lowShare: Double): Corpus = {
    val rnd = new SplittableRandom(seed)
    val vocab = WordCount.vocabulary(seed + 1, 20000, minLen = 4)
    val cdf = WordCount.zipfCdf(vocab.length, 0.8)
    def word(): String = {
      var i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      if (i < 0) i = -i - 1
      vocab(math.min(i, vocab.length - 1))
    }
    // prose passes every quality rule by construction: >= 40 words of 4-10
    // letters with one word in eight a stopword, and two distinct stopwords
    def prose(n: Int): Array[String] = {
      val ws = Array.fill(n)(if (rnd.nextInt(8) == 0) Stopwords(rnd.nextInt(Stopwords.length)) else word())
      ws(0) = "the"
      ws(n / 2) = "of"
      ws
    }
    val nExact = (docs * exactShare).toInt
    val nNear = (docs * nearShare).toInt
    val nLow = (docs * lowShare).toInt
    val nUnique = docs - nExact - nNear - nLow
    val texts = mutable.ArrayBuffer.empty[String]
    val originals = Array.fill(nUnique)(prose(40 + rnd.nextInt(80)))
    originals.foreach(ws => texts += ws.mkString(" "))
    // low quality: mostly digits, so the alpha-share rule rejects them
    for (_ <- 0 until nLow)
      texts += Array.fill(30 + rnd.nextInt(30))(
        if (rnd.nextInt(10) == 0) word() else rnd.nextInt(100000).toString).mkString(" ")
    for (_ <- 0 until nExact) texts += texts(rnd.nextInt(nUnique))
    // near duplicates: one word in 25 replaced, so 3-gram Jaccard stays high
    for (_ <- 0 until nNear) {
      val ws = originals(rnd.nextInt(nUnique)).clone()
      for (j <- ws.indices if rnd.nextInt(25) == 0) ws(j) = word()
      texts += ws.mkString(" ")
    }
    def range(from: Int, n: Int) = (from until from + n).map(_.toLong).toSet
    Corpus(texts.indices.map(_.toLong).toArray, texts.toArray,
      range(0, nUnique), range(nUnique + nLow, nExact), range(nUnique + nLow + nExact, nNear),
      range(nUnique, nLow))
  }
}

final class CurateWorkload(seed: Long, tiny: Boolean, broken: Boolean) extends Workload {
  val Docs: Int = if (tiny) 1000 else 2000
  val ExactShare = 0.10
  val NearShare = 0.10
  val LowShare = 0.05
  /** Near-duplicate pairs kept at estimated Jaccard >= this. */
  val MinJaccard = 0.5
  /** Share of planted near-duplicates that must be removed. */
  val NearRecallBound = 0.9
  /** Share of unique documents that may be lost to false near-dup matches. */
  val UniqueLossBound = 0.001

  private var corpus: Curate.Corpus = _
  private var docs: DataFrame = _

  private def frame(spark: SparkSession, c: Curate.Corpus): DataFrame = {
    import spark.implicits._
    c.ids.zip(c.texts).toSeq.toDF("doc_id", "text")
      .repartition(spark.sparkContext.defaultParallelism).localCheckpoint(true)
  }

  /** Corpus generation, materialized in the session. */
  def setup(spark: SparkSession): Unit = {
    corpus = Curate.generate(seed, Docs, ExactShare, NearShare, LowShare)
    docs = frame(spark, corpus)
  }

  /** One job over the corpus. */
  def warm(spark: SparkSession): Unit = runJob(spark, docs, forced = false)

  /** A job's representatives, plus its candidate and kept pair frames
    * (counted after the job's timer stops, traced run only). */
  final case class Job(reps: Set[Long], cands: DataFrame, edges: DataFrame, ccJobs: Long)

  /** One curation job. `forced` materializes each stage before the next so a
    * stage's span covers that stage's own work (traced run only). */
  private def runJob(spark: SparkSession, docs: DataFrame, forced: Boolean): Job = {
    import graft.api.Graft
    def stage(df: DataFrame): DataFrame = if (forced) df.localCheckpoint(true) else df
    val gate = Trace.span("curate.gate")(stage(
      Graft.gopherRules(docs, "text").filter(col("passes")).select("doc_id", "text")))
    val kept = Trace.span("curate.exact") {
      val exact = Graft.dedupExact(gate, "doc_id", "text")
      stage(gate.join(exact.select(col("keep_id").as("doc_id")), "doc_id"))
    }
    val sig = Trace.span("curate.signature")(stage(Graft.minhashSignatures(kept, "doc_id", "text")))
    val (cands, edges) = Trace.span("curate.candidates") {
      val c = stage(Graft.minhashCandidates(sig, "doc_id", minEstJaccard = 0.0))
      (c, stage(c.filter(col("est_jaccard") >= MinJaccard)
        .select(col("id_a").as("a"), col("id_b").as("b"))))
    }
    val jobsBefore = if (forced) ExecListener.jobs(spark) else 0L
    val reps = Trace.span("curate.clusters") {
      Graft.clustersFromEdges(kept, "doc_id", edges)
        .groupBy("cluster_id").agg(min("doc_id").as("rep"))
        .collect().map(_.getLong(1)).toSet
    }
    val ccJobs = if (forced) ExecListener.jobs(spark) - jobsBefore else 0L
    Job(reps, cands, edges, ccJobs)
  }

  /** Output checks: every planted exact copy and low-quality doc removed,
    * near-duplicate recall at least its bound, unique docs lost at most theirs. */
  private def check(reps: Set[Long]): Seq[String] = {
    val c = corpus
    val lost = c.unique.count(id => !reps.contains(id))
    val nearRecall = c.nearDups.count(id => !reps.contains(id)).toDouble / math.max(1, c.nearDups.size)
    Seq(
      (c.exactCopies.exists(reps.contains), "a planted exact copy survived"),
      (c.lowQuality.exists(reps.contains), "a low-quality doc survived"),
      (lost > UniqueLossBound * c.unique.size, s"$lost unique docs removed"),
      (nearRecall < NearRecallBound, f"near-duplicate recall $nearRecall%.3f < $NearRecallBound"))
      .collect { case (true, why) => why }
  }

  def measure(spark: SparkSession, seconds: Double, traced: Boolean): Measurement = {
    val times = mutable.ArrayBuffer.empty[Double]
    val jobs = mutable.ArrayBuffer.empty[Job]
    val problems = mutable.LinkedHashSet.empty[String]
    var failed = 0L
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    while (System.nanoTime() < deadline) {
      Trace.newTrace()
      val t0 = System.nanoTime()
      val job = Trace.span("curate.job")(runJob(spark, docs, forced = traced))
      times += (System.nanoTime() - t0) / 1e9
      jobs += job
      // self-test: the first job's output keeps one planted exact copy
      val reps = if (broken && jobs.size == 1) job.reps + corpus.exactCopies.head else job.reps
      val bad = check(reps)
      if (bad.nonEmpty) { failed += 1; problems ++= bad }
    }
    val ms = times.map(_ * 1000)
    val docsPerS = times.map(Docs / _)
    val e2e = Map(
      "lat_p50_ms" -> Metric(Stats.median(ms), "ms", ms.size),
      "lat_tail_ms" -> Metric(Stats.quantile(ms, 0.9), "ms", ms.size),
      "throughput_per_s" -> Metric(Stats.median(docsPerS), "1/s", ms.size))
    def stageS(n: String) = Metric(Trace.selfSecondsP50(s"curate.$n"), "s", ms.size)
    val last = jobs.last
    lazy val candidatePairs = last.cands.count()
    lazy val pairsKept = last.edges.count()
    val layers =
      if (!traced) Map.empty[String, Metric]
      else Map(
        "curate.gate_s" -> stageS("gate"),
        "curate.exact_s" -> stageS("exact"),
        "curate.signature_s" -> stageS("signature"),
        "curate.candidates_s" -> stageS("candidates"),
        "curate.clusters_s" -> stageS("clusters"),
        "curate.candidate_pairs" -> Metric(candidatePairs, "count"),
        "curate.pairs_kept" -> Metric(pairsKept, "count"),
        "curate.candidate_yield" -> Metric(pairsKept.toDouble / math.max(1L, candidatePairs), "ratio"),
        "curate.cc_jobs" -> Metric(last.ccJobs, "count"),
        "curate.docs_kept" -> Metric(last.reps.size, "count"))
    val report = Map(
      "curate_docs_per_s" -> Metric(Stats.median(docsPerS), "1/s", ms.size),
      "curate_docs" -> Metric(Docs, "count"))
    Measurement(times.size, failed, e2e, layers, report, problems.toSeq.map(p => s"curate: $p"))
  }
}
