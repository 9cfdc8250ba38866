package graft.streaming

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState, OutputMode, StatefulProcessor, TimeMode, TimerValues, Trigger, TTLConfig, ValueState}
import graft.{Exact, Scoped, Tokens}

/** Per-key running count+sum on the Spark 4.x transformWithState API — the
  * reference's I6 rolling keyed aggregate as typed arbitrary state, emitting a
  * refreshed (n, total) per input batch. RocksDB-only (the API requires it). */
class RunningAggProcessor extends StatefulProcessor[Long, (Long, Double), (Long, Long, Double)] {
  @transient private var st: ValueState[(Long, Double)] = _
  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    st = getHandle.getValueState[(Long, Double)]("agg",
      Encoders.product[(Long, Double)], TTLConfig.NONE)
  override def handleInputRows(key: Long, rows: Iterator[(Long, Double)],
      timerValues: TimerValues): Iterator[(Long, Long, Double)] = {
    val cur: (Long, Double) = if (st.exists()) st.get() else (0L, 0.0)
    var n = cur._1
    var total = cur._2
    rows.foreach { r => n += 1; total += r._2 }
    st.update((n, total))
    Iterator((key, n, total))
  }
}

/** One scored candidate row flowing into the serving-shape kNN state. */
case class KnnCand(q_id: Long, c_id: Long, label: Int, score: Double,
    ts: java.sql.Timestamp)

/** Serving-shape streaming kNN state with IDLE-QUERY TTL (VERDICT r10 task
  * 4): per-query top-k in typed state, evicted by an EVENT-TIME TIMER when
  * the query has been idle past `ttlMs` — the piece that makes a query
  * firehose with unbounded distinct q_ids scale-safe (the complete-mode
  * aggregate variant `streamKnn` keeps every query's top-k forever, fine
  * for its bounded oracle contract, wrong for serving). Each input batch
  * merges its candidates into the stored top-k under the SAME ordering as
  * the fused TopKNeighbors aggregate (score DESC, c_id ASC), re-arms the
  * idle timer at maxEventTime + ttl, and emits the refreshed top-k tagged
  * with the cumulative candidate count `n_seen` (monotone per key — the
  * update-mode final-state readout, same max_by pattern as
  * streamRollingSumTws). On expiry the handler checks lastSeen: a timer
  * armed before later activity is stale and re-arms instead of evicting;
  * a genuinely idle query's state is CLEARED — a fresh probe then
  * re-creates it from scratch (pinned by the Round11 suite). */
class KnnServingProcessor(k: Int, ttlMs: Long)
    extends StatefulProcessor[Long, KnnCand, (Long, Int, Long, Int, Double, Long, Long)] {
  @transient private var topk: ListState[graft.functions.Neighbor] = _
  @transient private var meta: ValueState[(Long, Long)] = _ // (lastSeenTs, nSeen)
  @transient private var armed: ValueState[Long] = _ // currently registered expiry
  private val ord: Ordering[graft.functions.Neighbor] =
    Ordering.by((n: graft.functions.Neighbor) => (-n.score, n.c_id))

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    topk = getHandle.getListState[graft.functions.Neighbor]("topk",
      Encoders.product[graft.functions.Neighbor], TTLConfig.NONE)
    meta = getHandle.getValueState[(Long, Long)]("meta",
      Encoders.product[(Long, Long)], TTLConfig.NONE)
    armed = getHandle.getValueState[Long]("armed",
      Encoders.scalaLong, TTLConfig.NONE)
  }

  override def handleInputRows(key: Long, rows: Iterator[KnnCand],
      timerValues: TimerValues): Iterator[(Long, Int, Long, Int, Double, Long, Long)] = {
    val batch = rows.toArray
    val incoming = batch.map(r => graft.functions.Neighbor(r.c_id, r.label, r.score))
    // dedupe by candidate id, keeping the best score (ADVICE r11): a
    // candidate re-scored or re-delivered for the same query in a later
    // micro-batch must not occupy multiple top-k slots
    val merged = (topk.get().toArray ++ incoming)
      .groupBy(_.c_id).valuesIterator.map(_.min(ord)).toArray
      .sorted(ord).take(k)
    topk.clear()
    merged.foreach(topk.appendValue)
    val maxTs = batch.map(_.ts.getTime).max
    val nSeen = (if (meta.exists()) meta.get()._2 else 0L) + batch.length
    val lastSeen = math.max(maxTs, if (meta.exists()) meta.get()._1 else 0L)
    meta.update((lastSeen, nSeen))
    // ONE outstanding timer per key: delete the previously armed expiry
    // before registering the refreshed one — without this, timer state
    // grows by one entry per micro-batch inside each TTL window (the
    // firehose this class exists for makes that batches/TTL × keys)
    if (armed.exists()) getHandle.deleteTimer(armed.get())
    getHandle.registerTimer(lastSeen + ttlMs)
    armed.update(lastSeen + ttlMs)
    // last_ts rides along so a final-state readout can pick the LAST
    // emission per key even across an evict-and-re-form (n_seen resets on
    // re-form, so max_by(n_seen) alone can tie or pick a pre-eviction row
    // — the registry eviction scenario reads out by max_by(last_ts))
    merged.iterator.zipWithIndex.map { case (nb, i) =>
      (key, i + 1, nb.c_id, nb.label, nb.score, nSeen, lastSeen)
    }
  }

  override def handleExpiredTimer(key: Long, timerValues: TimerValues,
      expiredTimerInfo: ExpiredTimerInfo): Iterator[(Long, Int, Long, Int, Double, Long, Long)] = {
    val last = if (meta.exists()) meta.get()._1 else Long.MinValue
    if (expiredTimerInfo.getExpiryTimeInMs() >= last + ttlMs) {
      // idle past TTL: evict — the state store forgets this query entirely
      topk.clear(); meta.clear(); armed.clear()
    } else {
      // defensive: with delete-before-register only the freshest timer can
      // exist, so a stale firing shouldn't occur — but if one does (e.g. a
      // checkpoint from a pre-delete version), re-arm at the true expiry
      getHandle.registerTimer(last + ttlMs)
      armed.update(last + ttlMs)
    }
    Iterator.empty
  }
}

/** Structured Streaming operators — the north-star surface. Each registry
  * query here actually RUNS a streaming query (file source → micro-batch
  * engine → memory sink) and returns the final result table, so the driver's
  * oracle gate checks true streaming execution, not a batch stand-in.
  *
  * Semantics note (SURVEY.md §2.A I6): the reference's rolling keyed
  * aggregation emits a refreshed row per input record; Spark's update mode
  * emits refreshed rows per micro-batch — identical state at every batch
  * boundary. The registry queries use complete mode so the final table is the
  * full aggregate state (deterministic, oracle-comparable); the suite
  * exercises update mode and per-record semantics via flatMapGroupsWithState.
  *
  * Scale: state lives in the state store, partitioned by the grouping key
  * across executors; with the RocksDB provider (exercised by
  * streamRollingSum) keyed state may exceed memory — the declared-surface D6
  * (RocksDB state backend) equivalent.
  */
object StreamingQueries {

  /** Runs a streaming DataFrame to a memory sink, synchronously processes all
    * available input, and returns the (batch) result table. */
  private def runToMemory(s: SparkSession, stream: DataFrame, name: String,
      mode: String): DataFrame = {
    // Local-mode knob: each streaming query initializes one state store per
    // shuffle partition; for the small bounded test tables capping partitions
    // cuts the fixed startup cost. Round-5 A/B found 4 < 8 (17.5 s vs
    // 19.8 s over the then-14-query family); the round-15 re-A/B on the
    // calibration-bracketed bench read the 7-row probe family 8.9 s at 2
    // partitions vs ~2× that at 4, and 9.3 s at 1 (state work serializes)
    // — 2 kept. (r16 negative result: widening stream_decontaminate_
    // stateless's single batch to 8 partitions for its banded-screen
    // shuffle showed no calibrated win — the state-store init cost
    // dominates the extra parallelism even on that row's ~0.5M exploded
    // rows; SCALE.md Round-16.) On a cluster this stays whatever the
    // session sets — state partitioning is the scale mechanism.
    // the checkpoint lives under Scoped.dir, not in a `temporary-*` dir
    // under java.io.tmpdir that Spark keeps whenever a query fails; removed
    // before the start too, or a second run of the row in this session
    // would resume from its committed offsets and write an empty table
    val ckpt = Scoped.dir(s, "graft_stream_memory", name)
    Scoped.rm(ckpt)
    try capShuffle(s, 2) {
      val q = stream.writeStream.outputMode(mode).format("memory").queryName(name)
        .option("checkpointLocation", ckpt).start()
      try { q.processAllAvailable() } finally { q.stop() }
      q.awaitTermination()
    } finally Scoped.rm(ckpt)
    s.table(name)
  }

  /** The staged micro-batch loop, EXACTLY-ONCE: `df` is staged by
    * `stageOrderedBatches` (`n` ordered files under `base`/src) and drained
    * through `fn` as real micro-batches — Trigger.AvailableNow, one file per
    * trigger, checkpoint under `base`/ckpt — returning once every batch is
    * committed. A foreachBatch may RETRY a batch after a failure, so `fn`
    * writes only `BatchKeyed` partitions, each derived from the batch's own
    * rows and strictly-earlier partitions (`batch_id < id`, or the version
    * carried at `id - 1`): a retry rewrites its partitions byte-for-byte,
    * and the result does not depend on when or how often a batch runs.
    * Same local-mode knob as runToMemory: each per-batch job shuffles a
    * slice of a bounded table, so the shuffle width is capped at 4 (on a
    * cluster the session value stands). */
  private def runStaged(s: SparkSession, df: DataFrame, base: String,
      bucketCol: String, n: Int)(fn: (DataFrame, Long) => Unit): Unit = {
    val stream = stagedStream(s, df, base, bucketCol, n)
    capShuffle(s, 4) {
      val q = stream.writeStream
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", base + "/ckpt")
        .foreachBatch(fn)
        .start()
      try q.awaitTermination() finally q.stop()
    }
  }

  /** `df` staged by `stageOrderedBatches` and read back as a stream of one
    * staged file per trigger. */
  private def stagedStream(s: SparkSession, df: DataFrame, base: String,
      bucketCol: String, n: Int): DataFrame =
    s.readStream.schema(df.schema).option("maxFilesPerTrigger", "1")
      .parquet(stageOrderedBatches(df, base, bucketCol, n))

  /** A table at `path` kept as one `batch_id=<id>` partition per staged
    * micro-batch — the only form `runStaged`'s batches write. */
  private final case class BatchKeyed(path: String) {
    private val key = "batch_id="
    private def at(id: Long) = s"$path/$key$id"
    /** Overwrites batch `id`'s partition: a retried batch replaces it. */
    def write(df: DataFrame, id: Long): Unit = df.write.mode("overwrite").parquet(at(id))
    def read(s: SparkSession, id: Long): DataFrame = s.read.parquet(at(id))
    /** The partition of the highest batch id written. */
    def last(s: SparkSession): DataFrame = read(s,
      Option(new java.io.File(path).listFiles()).getOrElse(Array.empty)
        .map(_.getName).filter(_.startsWith(key))
        .map(_.stripPrefix(key).toLong).max)
  }

  /** Runs `body` with spark.sql.shuffle.partitions capped at `n`. */
  private def capShuffle[T](s: SparkSession, n: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    Scoped.conf(s, key, math.min(s.conf.get(key).toInt, n).toString)(body)
  }

  /** Runs `body` on the RocksDB state store provider. */
  private def onRocksDb[T](s: SparkSession)(body: => T): T =
    Scoped.conf(s, "spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")(body)

  /** Streaming read of a test table. The file source requires a DIRECTORY
    * (its basePath) while the test tables are single parquet files, so the
    * file is exposed through a per-table temp directory via symlink — the
    * shape a production deployment has anyway (a directory of files arriving
    * over time). The link dir is Scoped scratch; its JVM-exit cleanup removes
    * the link, never the table it points at. Needs an explicit schema,
    * which is the file's memoized one from graft.Tables; events
    * additionally needs the ns→NTZ conversion from graft.Tables. */
  private def readStreamTable(s: SparkSession, d: String, name: String): DataFrame = {
    val file = Paths.get(s"$d/$name.parquet")
    val dir = Paths.get(Scoped.dir(s, "graft_stream_src", d), name)
    Files.createDirectories(dir)
    val link = dir.resolve(s"$name.parquet")
    if (!Files.exists(link)) Files.createSymbolicLink(link, file)
    val path = dir.toString
    val raw = s.readStream.schema(graft.Tables.schema(s, d, name)).parquet(path)
    if (name == "events") graft.Tables.eventsTs(raw) else raw
  }

  /** The reference program on bounded input: streaming word count
    * (StreamSocket.scala:12-16 — source → tokenize → keyBy → rolling count),
    * with the file source standing in for the socket. Final state equals the
    * batch word count — asserted by the shared oracle. */
  def streamWordCount(s: SparkSession, d: String): DataFrame = {
    val counts = graft.api.Graft.rollingWordCount(
      readStreamTable(s, d, "documents"), "text")
    runToMemory(s, counts, "graft_stream_wordcount", "complete")
      .orderBy(col("cnt").desc, col("word").asc)
  }

  /** Streaming mergeable-sketch aggregation: per-event-type distinct users
    * via HLL sketches maintained as streaming state — each micro-batch's
    * partial sketches merge into the store's fixed-width state (2^lgK bytes
    * per group FOREVER, however many users arrive). The streaming face of
    * the hll_sketch / hll_union batch rollups; exact in the coupon regime,
    * so the exact-count oracle holds at gate scale. */
  def streamHllDistinct(s: SparkSession, d: String): DataFrame = {
    val agg = readStreamTable(s, d, "events")
      .groupBy("event_type")
      .agg(expr("CAST(round(hll_sketch_estimate(hll_sketch_agg(user_id, 14))) AS BIGINT)")
        .as("n_users"))
    runToMemory(s, agg, "graft_stream_hll", "complete")
      .orderBy("event_type")
  }

  /** The curation quality gate running ON A STREAM: repetition metrics are
    * pure row-local compute, so the same Graft.repetitionMetrics call
    * incrementalizes with zero state — documents flow through the filter as
    * they arrive (the shape of a continuously-ingesting corpus pipeline);
    * only the per-language tally keeps (tiny) aggregate state. */
  def streamQualityFilter(s: SparkSession, d: String): DataFrame = {
    val agg = graft.api.Graft.repetitionMetrics(
        readStreamTable(s, d, "documents"), "text")
      .filter(col("dup_ratio") <= 0.9 && col("mean_tok_len").between(2.0, 12.0) &&
        col("top_token_frac") <= 0.3)
      .groupBy("lang")
      // integer tally + exact long sum: no order-dependent float aggregation
      // (a rounded double avg here would re-create the q9 half-cent flake)
      .agg(count(lit(1)).as("n_pass"), sum("n_tokens").as("tok_volume"))
    runToMemory(s, agg, "graft_stream_quality", "complete")
      .orderBy("lang")
  }

  /** Boilerplate scrubbing at INGEST — the streaming twin of
    * boilerplate_scrub with the production division of labor: the
    * boilerplate fingerprint set is an AT-REST artifact (built once from
    * the batch corpus — corpus-frequency stats are inherently a batch
    * job), broadcast against the stream; arriving documents explode to
    * paragraph fingerprints ROW-LOCALLY (Graft.paragraphFingerprints — no
    * shuffle), mark boilerplate by stream-static left join, and the one
    * streaming aggregation keeps per-doc (n_pars, n_boiler) counters. The
    * final state hash-matches the batch operator's oracle verbatim —
    * batch/stream polymorphism pinned on the scrub. */
  def streamBoilerplateScrub(s: SparkSession, d: String): DataFrame = {
    val boilerFps = graft.api.Graft.paragraphFingerprints(
        graft.Tables.documents(s, d).select(col("doc_id"), col("text")),
        "doc_id", "text", parTokens = 16,
        baseHash = graft.api.Graft.md5Hash60)
      .groupBy("fp")
      .agg(count_distinct(col("doc_id")).as("__docs"))
      .filter(col("__docs") >= 3L)
      .select(col("fp"), lit(1L).as("__boiler"))
    val streamPars = graft.api.Graft.paragraphFingerprints(
      readStreamTable(s, d, "documents").select(col("doc_id"), col("text")),
      "doc_id", "text", parTokens = 16,
      baseHash = graft.api.Graft.md5Hash60)
    val agg = streamPars
      .join(boilerFps, Seq("fp"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_pars"),
        count_if(col("__boiler").isNotNull).as("n_boiler"))
    runToMemory(s, agg, "graft_stream_boiler", "complete")
      .select(col("doc_id"), col("n_pars"), col("n_boiler"),
        (col("n_pars") - col("n_boiler")).as("n_kept"),
        expr(Exact.ratio4("n_boiler", "n_pars"))
          .as("boiler4"))
      .orderBy("doc_id")
  }

  /** Mixture sampling at INGEST — the streaming twin of
    * pipeline_apply_mixture: the √n temperature rates FIT on the static
    * corpus (mixture planning is a batch decision), broadcast against the
    * stream, and Graft.applyMixture's 16-bit md5 gate admits documents
    * ROW-LOCALLY — zero keyed state in the gate itself; the one streaming
    * aggregation tallies per-language admitted docs + token volume. The
    * readout joins the static per-language corpus counts, so the final
    * table (and its achieved-rate readback) hash-matches the batch
    * operator's oracle verbatim. This is the shape a 100 TB ingest uses:
    * deterministic hash gates mean a replayed batch re-admits EXACTLY the
    * same documents — sampling that composes with exactly-once sinks. */
  def streamApplyMixture(s: SparkSession, d: String): DataFrame = {
    val docs = graft.Tables.documents(s, d)
    val rates = graft.api.Graft.temperatureMixture(docs, "lang", temperature = 2.0)
      .select(col("lang"), col("rate"))
    val mix = graft.api.Graft.applyMixture(
        readStreamTable(s, d, "documents"), "doc_id", "lang", rates)
      .withColumn("__nt", size(split(col("text"), " ", -1)).cast("long"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_sampled"), sum("__nt").as("tok_volume"))
    val sampled = runToMemory(s, mix, "graft_stream_mixture", "complete")
    docs.groupBy("lang").agg(count(lit(1)).as("n_docs"))
      .join(sampled, Seq("lang"), "left")
      .select(col("lang"), col("n_docs"),
        coalesce(col("n_sampled"), lit(0L)).as("n_sampled"),
        coalesce(col("tok_volume"), lit(0L)).as("tok_volume"))
      .withColumn("achieved4", expr(
        Exact.ratio4("n_sampled", "n_docs")))
      .orderBy("lang")
  }

  /** The weighted-lexicon wordlist gate at INGEST — the streaming twin of
    * lexicon_screen: the lexicon is a broadcast static side (a wordlist is
    * a versioned artifact, not stream state), arriving documents tokenize
    * and join ROW-LOCALLY, and the ONE streaming aggregation keeps the
    * per-doc (n_tokens, weighted hits) grain — Graft.lexiconDocScores
    * unchanged, batch/stream polymorphism pinned on the screen. The final
    * state rolls up through the same Graft.lexiconRollup, so the result
    * hash-matches the batch operator's oracle verbatim. */
  def streamLexiconGate(s: SparkSession, d: String): DataFrame = {
    val perDoc = graft.api.Graft.lexiconDocScores(
      readStreamTable(s, d, "documents")
        .select(col("doc_id"), col("text"), col("source")),
      "doc_id", "text", "source",
      lexicon = Seq(("slow", 3L), ("big", 2L), ("dup", 5L)))
    val state = runToMemory(s, perDoc, "graft_stream_lexgate", "complete")
    graft.api.Graft.lexiconRollup(state, "source", tauBp = 2000)
      .orderBy("source")
  }

  /** Event-rate anomaly readout over STREAMING hourly counters: the one
    * streaming aggregation keeps a (type, hour) counter per observed hour
    * — bounded state, the shape of a production rate monitor — and the
    * readout z-scores each hour against its type's own drained profile
    * (mean/σ over observed hours, σ floored at 0.5). Unlike the batch
    * event_anomalies (trailing-24h wall-clock frame over a gap-filled
    * spine), this gate scores SPIKES AND DIPS among hours that produced
    * events — a stream cannot count an hour that never arrives; the
    * silent-hour case is the batch operator's job. Integer count sums,
    * one fixed IEEE sequence for μ/σ/z, flag on the ROUNDED z. */
  def streamAnomalyGate(s: SparkSession, d: String): DataFrame = {
    val hourly = readStreamTable(s, d, "events")
      .groupBy(col("event_type"),
        date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("c"))
    val state = runToMemory(s, hourly, "graft_stream_anomgate", "complete")
    // self-join of the drained memory view: re-key the profile side so the
    // two scans don't share attribute ids
    val prof = state.groupBy("event_type")
      .agg(count(lit(1)).as("__n"), sum("c").as("__s1"),
        sum(expr("c * c")).as("__s2"))
      .select(col("event_type").as("__et"), col("__n"), col("__s1"),
        col("__s2"))
    state.join(prof, col("event_type") === col("__et"))
      .select(col("event_type"), col("hour"), col("c"),
        expr("""round((CAST(c AS DOUBLE) - CAST(__s1 AS DOUBLE) / CAST(__n AS DOUBLE))
               |  / greatest(sqrt((CAST(__s2 AS DOUBLE)
               |      - CAST(__s1 AS DOUBLE) * CAST(__s1 AS DOUBLE) / CAST(__n AS DOUBLE))
               |    / CAST(__n AS DOUBLE)), 0.5D), 4)""".stripMargin).as("z4"))
      .withColumn("anomaly", abs(col("z4")) >= 3.0)
      .orderBy("event_type", "hour")
  }

  /** Weighted reservoir sampling at INGEST — the streaming twin of
    * weighted_reservoir: the A-ES exponential-race key is ROW-LOCAL
    * (Graft.reservoirKeys unchanged on the stream), and the ONE streaming
    * aggregation is the fused min-k itself — O(k) state TOTAL, however
    * many documents arrive; every micro-batch folds its candidates into
    * the same k-slot buffer. Because the keys are content-deterministic,
    * the drained sample equals the batch draw exactly (shared oracle) —
    * continuous sampling that composes with exactly-once sinks and
    * replay. Weights re-attach batch-side from the static table. */
  def streamWeightedReservoir(s: SparkSession, d: String): DataFrame = {
    val keyed = graft.api.Graft.reservoirKeys(
      readStreamTable(s, d, "documents").select(col("doc_id"), col("text")),
      "doc_id", "text")
    val agg = keyed.agg(
      graft.api.Graft.reservoirMinK(50)(col("__id"), col("__d")).as("__top"))
    val state = runToMemory(s, agg, "graft_stream_wres", "complete")
    graft.api.Graft.reservoirFormat(state,
        graft.api.Graft.reservoirKeys(
          graft.Tables.documents(s, d).select(col("doc_id"), col("text")),
          "doc_id", "text"))
      .orderBy("rank")
  }

  /** The split-conformal quality gate at INGEST — the streaming twin of
    * conformal_gate: the threshold is a batch-calibrated VERSIONED
    * ARTIFACT (one (n_cal, k, thr_bin) row, computed once and shipped as
    * a literal — calibration is inherently a batch job), and arriving
    * documents score, bin, and compare ROW-LOCALLY; the one streaming
    * aggregation keeps per-source (n_docs, n_kept) counters. The kept
    * share inherits conformal_gate's ⌈(n_cal+1)·α⌉ finite-sample
    * wrong-drop guarantee on exchangeable arrivals. */
  def streamConformalGate(s: SparkSession, d: String): DataFrame = {
    val docs = graft.Tables.documents(s, d)
    val t = graft.api.Graft.conformalThreshold(
        docs.filter(col("doc_id") % 10 === 0)
          .select(col("doc_id"), col("text")),
        "text", alpha10000 = 1000, bins = 4096)
      .head()
    val thrBin = t.getLong(2)
    val scored = graft.api.Graft.qualityScore(
        readStreamTable(s, d, "documents")
          .filter(length(col("text")) > 0)
          .select(col("source"), col("text")),
        "text", out = "__q")
      .select(col("source"),
        Exact.scoreBin(col("__q"), 4096).as("bin"))
    val agg = scored.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("bin") >= lit(thrBin), 1L).otherwise(0L)).as("n_kept"))
    runToMemory(s, agg, "graft_stream_confgate", "complete")
      .select(col("source"), lit(thrBin).as("thr_bin"), col("n_docs"),
        col("n_kept"),
        expr(Exact.ratio4("n_kept", "n_docs")).as("kept_share4"))
      .orderBy("source")
  }

  /** PSI drift gate ON THE STREAM: the at-rest gen0 bin profile is the
    * frozen reference (a batch artifact, like the conformal threshold);
    * arriving gen1 documents score and bin row-locally, so the ONLY
    * streaming state is the 10-key grouped count on the constant grid.
    * The drained state joins the reference grid and reads out through
    * the SAME Graft.psiFromCounts the batch psi_drift uses — one oracle
    * pins both paths. */
  def streamPsiGate(s: SparkSession, d: String): DataFrame = {
    val docs = graft.Tables.documents(s, d)
    val gen0 = docs.filter(col("doc_id") % 13 =!= 5).select(col("text"))
    val b0 = graft.api.Graft.psiBinned(gen0, "text", 10, "__c0")
    // gen1 arrives on the stream; the %13==2 upper transform is row-local
    val gen1 = readStreamTable(s, d, "documents")
      .filter(col("doc_id") % 13 =!= 7)
      .select(when(col("doc_id") % 13 === 2, upper(col("text")))
        .otherwise(col("text")).as("text"))
    val b1s = graft.api.Graft.psiBinned(gen1, "text", 10, "__c1")
    val drained = runToMemory(s, b1s, "graft_stream_psi", "complete")
    graft.api.Graft.psiFromCounts(
        graft.api.Graft.psiGrid(b0, drained, 10), 10)
      .orderBy("bin")
  }

  /** OOV-rate gate on the stream: the top-4096 vocabulary is an at-rest
    * batch artifact (broadcast, model-sized); arriving documents explode
    * to tokens, left-join the vocab, and the ONE streaming aggregation is
    * the per-doc (n_tokens, n_oov) counters. The per-source rollup reads
    * the drained state (the streamClassify readout convention); the
    * >20% flag is the exact integer test n_oov·5 > n_tokens. */
  def streamVocabGate(s: SparkSession, d: String): DataFrame = {
    val vocab = graft.api.Graft.topVocab(
      graft.Tables.documents(s, d).select(col("text")), "text", 4096)
    val toks = readStreamTable(s, d, "documents")
      .select(col("doc_id"), col("source"),
        explode(expr(Tokens.array("text"))).as("__tok"))
    val perDoc = toks.join(broadcast(vocab), Seq("__tok"), "left")
      .groupBy("doc_id", "source")
      .agg(count(lit(1)).as("n_tokens"),
        count(when(col("__in_vocab").isNull, 1)).as("n_oov"))
    runToMemory(s, perDoc, "graft_stream_vocab_gate", "complete")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_oov") * 5L > col("n_tokens"), 1L).otherwise(0L))
          .as("n_flagged"))
      .withColumn("flagged_share4", expr(
        Exact.ratio4("n_flagged", "n_docs")))
      .orderBy("source")
  }

  /** Entity resolution ON THE SERVING PATH: every arriving record
    * resolves against the at-rest reference through its (brand, size)
    * equality block — a stream-static broadcast-block join with the
    * native damerau_levenshtein kernel inside, ordered probe→reference
    * pairs (self-pair excluded), and per-brand counters as the only
    * streaming state. */
  def streamEntityResolution(s: SparkSession, d: String): DataFrame = {
    graft.functions.VectorFunctions.register(s)
    val ref = graft.Tables.part(s, d)
      .select(col("p_brand"), col("p_size"),
        col("p_partkey").as("__rid"), col("p_name").as("__rnm"))
    val probes = readStreamTable(s, d, "part")
      .select(col("p_brand"), col("p_size"),
        col("p_partkey").as("__pid"), col("p_name").as("__pnm"))
    val pairs = probes.join(ref, Seq("p_brand", "p_size"))
      .filter(col("__pid") =!= col("__rid"))
      .withColumn("__dl", expr("damerau_levenshtein(__pnm, __rnm)"))
    val agg = pairs.groupBy("p_brand")
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("__dl") <= 4, 1L).otherwise(0L)).as("n_matches"),
        min("__dl").cast("int").as("min_dl"))
    runToMemory(s, agg, "graft_stream_entity_res", "complete")
      .orderBy("p_brand")
  }

  /** Linear-classifier INFERENCE on a stream — the SAME Graft.linearClassify
    * call as the batch quality_classifier query, unchanged, over the
    * documents stream: the (bucket, weight) model is a static side table
    * (stream-static broadcast join), per-doc scores incrementalize as
    * grouped state, and the output rolls up to per-label counts + token
    * volume (integer tally + exact long sum — no float aggregation).
    * Batch/stream polymorphism pinned on model inference. */
  def streamClassify(s: SparkSession, d: String): DataFrame = {
    // ONE streaming aggregation (per-doc scores — chained streaming aggs are
    // unsupported); the per-label rollup reads the final in-memory state as
    // a batch frame, which is exactly the complete-mode readout semantics.
    val scored = graft.api.Graft.linearClassify(
      readStreamTable(s, d, "documents"), "doc_id", "text", buckets = 1024)
    runToMemory(s, scored, "graft_stream_classify", "complete")
      .groupBy("label")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("tok_volume"))
      .orderBy("label")
  }

  /** DSIR importance scoring on a stream — the fit-once/apply-anywhere
    * seam made concrete: the 256-bucket log-ratio model FITS on the static
    * batch corpus (Graft.dsirModel), then the SAME Graft.dsirScore call
    * the batch dsir_select uses scores arriving documents — a stateless
    * token explode, a stream-static broadcast join of the model, and one
    * grouped integer sum per document as streaming state. The readout
    * rolls the final state up per language on exact integer sums, so the
    * whole flow (model fit + stream inference + rollup) hash-matches the
    * batch oracle. */
  def streamDsir(s: SparkSession, d: String): DataFrame = {
    val model = s.read.parquet(
      graft.queries.TextAnalysis.ensureDsirModel(s, d))
    val scored = graft.api.Graft.dsirScore(
      readStreamTable(s, d, "documents"), "doc_id", "text", model, buckets = 256)
    runToMemory(s, scored, "graft_stream_dsir", "complete")
      .join(graft.Tables.documents(s, d).select(col("doc_id"), col("lang")), "doc_id")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("tok_volume"),
        round(sum("llr_q").cast("double") / count(lit(1)).cast("double")
          / Exact.GridD, 4).as("avg_llr"))
      .orderBy("lang")
  }

  /** The ordered funnel running ON A STREAM — the exact same Graft.funnel
    * call as the batch funnel_analysis query, unchanged: its one
    * conditional-min aggregation incrementalizes (per-user firsts are
    * streaming state), and the stage derivation is a stateless projection
    * over the aggregate. Batch/stream polymorphism is the engine's core
    * design claim; this query pins it on a real operator. */
  def streamFunnel(s: SparkSession, d: String): DataFrame = {
    val staged = graft.api.Graft.funnel(readStreamTable(s, d, "events"),
      "user_id", "event_type", "ts", Seq("signup", "view", "click", "purchase"))
    runToMemory(s, staged, "graft_stream_funnel", "complete")
      .orderBy("user_id")
  }

  /** Event-time tumbling windows (1 h) per event type over the events stream,
    * with a watermark (late-data bound; complete mode keeps all windows). */
  def streamTumbling(s: SparkSession, d: String): DataFrame = {
    // withWatermark demands TimestampType (instant), not NTZ: cast in, and
    // cast the window bound back to NTZ for output — lossless under UTC.
    val agg = readStreamTable(s, d, "events")
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))
      .select(col("w.start").cast("timestamp_ntz").as("ws"),
        col("event_type"), col("n"), col("total"))
    runToMemory(s, agg, "graft_stream_tumbling", "complete")
      .orderBy("ws", "event_type")
  }

  /** Event-time sliding windows (2 h length, 1 h hop) per event type — each
    * event contributes to two windows; state per open window in the store. */
  def streamSliding(s: SparkSession, d: String): DataFrame = {
    val agg = readStreamTable(s, d, "events")
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "2 hours", "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))
      .select(col("w.start").cast("timestamp_ntz").as("ws"),
        col("event_type"), col("n"), col("total"))
    runToMemory(s, agg, "graft_stream_sliding", "complete")
      .orderBy("ws", "event_type")
  }

  /** Event-time session windows per user (30-minute gap) on a stream:
    * `session_window` merges overlapping per-key intervals in the state store.
    * Complete mode keeps every closed-and-merged session in the result table,
    * so the final state equals the batch session_windows aggregate (shared
    * oracle). */
  def streamSession(s: SparkSession, d: String): DataFrame = {
    val agg = readStreamTable(s, d, "events")
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))
      .select(col("user_id"),
        col("w.start").cast("timestamp_ntz").as("session_start"),
        col("w.end").cast("timestamp_ntz").as("session_end"),
        col("n"), col("total"))
    runToMemory(s, agg, "graft_stream_session", "complete")
      .orderBy("user_id", "session_start")
  }

  /** Streaming dedup: dropDuplicates on (user_id, event_type) keeps the first
    * arrival per pair in the state store; downstream counts distinct pairs
    * per type. (With a watermark this would be dropDuplicatesWithinWatermark
    * for bounded state — the suite covers that variant.) */
  def streamDedup(s: SparkSession, d: String): DataFrame = {
    val deduped = readStreamTable(s, d, "events")
      .select("user_id", "event_type")
      .dropDuplicates("user_id", "event_type")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"))
    runToMemory(s, deduped, "graft_stream_dedup", "complete")
      .orderBy("event_type")
  }

  /** Watermark-bounded streaming dedup: `dropDuplicatesWithinWatermark` keeps
    * one row per (user_id, event_type) and — unlike plain dropDuplicates —
    * EVICTS each key's state once the watermark passes it, so state is
    * bounded by the watermark horizon instead of growing forever (the
    * production-correct form). The distinct pairs stream to the sink in
    * append mode; the per-type count is a batch aggregate over the result. */
  def streamDedupWatermark(s: SparkSession, d: String): DataFrame = {
    val deduped = readStreamTable(s, d, "events")
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("user_id", "event_type")
      .select("user_id", "event_type")
    runToMemory(s, deduped, "graft_stream_dedup_wm", "append")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"))
      .orderBy("event_type")
  }

  /** Stream-static join: the events stream against the static customer
    * dimension (broadcast per micro-batch), then a keyed aggregate. */
  def streamStaticJoin(s: SparkSession, d: String): DataFrame = {
    val customers = broadcast(graft.Tables.customer(s, d))
    val joined = readStreamTable(s, d, "events")
      .join(customers, col("user_id") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))
    runToMemory(s, joined, "graft_stream_static_join", "complete")
      .orderBy("c_mktsegment")
  }

  /** Stream-stream time-interval join: clicks matched to same-user purchases
    * within the following hour — both sides unbounded, state bounded by the
    * watermarks (Spark evicts rows once they can no longer match). */
  def streamStreamJoin(s: SparkSession, d: String): DataFrame =
    clickPurchaseJoin(s, d, "inner", "graft_stream_stream_join")

  /** LEFT-OUTER stream-stream join (the registry row for the semantics
    * Round6Spec pins): matches emit eagerly; a click with no purchase in its
    * hour emits with NULL purchase once the watermark proves no match can
    * still arrive (state eviction in a no-data micro-batch). Clicks whose
    * match window is not yet closed by the final watermark (the last 3 hours
    * of the bounded input: 2 h delay + 1 h join upper bound) are still in
    * state when the stream ends and do NOT emit — exactly the online
    * semantics, which the oracle mirrors with the same watermark cutoff. */
  def streamStreamJoinLeft(s: SparkSession, d: String): DataFrame =
    clickPurchaseJoin(s, d, "left_outer", "graft_stream_stream_join_left")

  /** Clicks joined (`joinType`) to the same user's purchases within the
    * following hour, both sides streamed with a 2-hour watermark. */
  private def clickPurchaseJoin(s: SparkSession, d: String, joinType: String,
      name: String): DataFrame = {
    def side(tpe: String, idAs: String, tsAs: String) =
      readStreamTable(s, d, "events")
        .filter(col("event_type") === tpe)
        .select(col("event_id").as(idAs), col("user_id").as(s"${idAs}_uid"),
          col("ts").cast("timestamp").as(tsAs))
        .withWatermark(tsAs, "2 hours")
    val clicks = side("click", "click_id", "cts")
    val buys = side("purchase", "purchase_id", "bts")
    val joined = clicks.join(buys,
        expr("click_id_uid = purchase_id_uid AND bts BETWEEN cts AND cts + INTERVAL 1 HOUR"),
        joinType)
      .select(col("click_id"), col("purchase_id"), col("click_id_uid").as("user_id"))
    runToMemory(s, joined, name, "append")
      .orderBy("click_id", "purchase_id")
  }

  /** The I6 rolling aggregate on the Spark 4.x transformWithState typed-state
    * API (RocksDB-backed). The memory sink sees one refreshed row per key per
    * batch; the row with the highest row-count n per key is the final state —
    * equal to the batch aggregate, which the shared oracle asserts. (n is
    * monotone by construction; total is recovered via max_by(total, n), NOT
    * max(total), so correctness doesn't depend on event values being
    * positive.) */
  def streamRollingSumTws(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    onRocksDb(s) {
      val rolled = readStreamTable(s, d, "events")
        .select(col("user_id"), col("value"))
        .as[(Long, Double)]
        .groupByKey(_._1)
        .transformWithState(new RunningAggProcessor,
          TimeMode.None(), OutputMode.Update(), Encoders.product[(Long, Long, Double)])
        .toDF("user_id", "n", "total")
      runToMemory(s, rolled, "graft_stream_rolling_sum_tws", "update")
        .groupBy("user_id")
        .agg(max("n").as("n"), round(expr("max_by(total, n)"), 2).as("total"))
        .orderBy("user_id")
    }
  }

  /** Keyed-upsert connector sink (declared surface D2/D3 — the Redis/HBase
    * last-write-wins semantic): the rolling per-user aggregate streams through
    * `foreachBatch` into the parquet-backed KeyValueStore, and the query
    * returns the store's final snapshot — one row per key, equal to the batch
    * aggregate (shared oracle). A real deployment swaps the store's `upsert`
    * for a Redis/HBase client; the pipeline is unchanged. */
  def streamKvUpsert(s: SparkSession, d: String): DataFrame = {
    val dir = Scoped.dir(s, "graft_kv_upsert", d)
    // clean slate per run so the snapshot reflects exactly this run
    Scoped.rm(dir)
    val store = new graft.connectors.ParquetKeyValueStore(dir, "n")
    val agg = readStreamTable(s, d, "events")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))
    val sink = graft.connectors.KeyValueSink
    val name = "graft_stream_kv_upsert"
    try capShuffle(s, 4) {
      val q = sink.start(agg, store, "user_id", name)
      try q.processAllAvailable() finally q.stop()
    } finally Scoped.rm(sink.checkpoint(s, name))
    store.snapshot(s).orderBy("user_id")
  }

  /** Streaming DECONTAMINATION: training documents ARRIVE AS A STREAM and
    * are screened against the static eval-set MinHash index — the ingest
    * shape of decontaminate_minhash (a pretraining pipeline screens data
    * as it lands, not in a batch afterthought). The per-document signature
    * is ONE streaming aggregation (stateless shingle explode + 32 grouped
    * permutation minima as state — `keepEmpty = false` skips the batch
    * path's NULL-signature re-attach, which would be a disallowed second
    * stream join and is moot here: banded screening drops NULL signatures
    * anyway); the final signature state then runs the SAME banded
    * new×index screen as the batch query, so the flagged set hash-matches
    * the batch oracle verbatim. */
  def streamDecontaminate(s: SparkSession, d: String): DataFrame = {
    // the eval index is the SHARED at-rest signature table filter-pruned
    // to the eval split (a static artifact is exactly what the screen's
    // contract says the index side is)
    val evalSigs = s.read.parquet(
        graft.queries.Dedup.ensureSignatureTable(s, d))
      .filter(col("doc_id") % 17 === 0)
    val sigState = graft.api.Graft.minhashSignatures(
      readStreamTable(s, d, "documents")
        .filter(col("doc_id") % 17 =!= 0)
        .select(col("doc_id"), col("text")),
      "doc_id", "text", numHashes = 32,
      baseHash = graft.api.Graft.md5Hash60, keepEmpty = false)
    val finalSigs = runToMemory(s, sigState, "graft_stream_decontaminate", "complete")
    graft.api.Graft.minhashCandidatesAgainst(finalSigs, evalSigs,
        "doc_id", bands = 8, rowsPerBand = 4, minEstJaccard = 0.2)
      .select(col("new_id").as("doc_id"), col("index_id").as("eval_id"),
        col("est_jaccard"))
      .orderBy("doc_id", "eval_id")
  }

  /** Streaming kNN: query vectors ARRIVE AS A STREAM and probe the static
    * embedding corpus — the retrieval-serving shape (a query firehose
    * against an at-rest index; here the brute-force tier, on a 100 TB
    * corpus the same join targets an IVF list table). One stream-static
    * join (static side broadcast per micro-batch) scores every candidate,
    * and the top-5 per query id lives in the state store via the SAME
    * fused O(k)-state TopKNeighbors aggregate the batch knn_* tiers use —
    * the aggregate's merge() is what makes it incrementalize: each
    * micro-batch's partial top-k folds into the stored top-k. Final state
    * == the batch brute-force answer, so the oracle is knn_bruteforce's
    * verbatim. */
  def streamKnn(s: SparkSession, d: String): DataFrame = {
    graft.functions.VectorFunctions.register(s)
    val corpus = graft.Tables.embeddings(s, d)
      .select(col("vec_id").as("c_id"), col("embedding").as("cv"), col("label"))
    val queries = readStreamTable(s, d, "embeddings")
      .filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
    val topk = udaf(new graft.functions.TopKNeighbors(5),
      Encoders.product[graft.functions.Neighbor])
    val scored = queries.join(corpus, col("q_id") =!= col("c_id"))
      .withColumn("score6", round(expr(graft.queries.Similarity.cos), 6))
      .groupBy("q_id")
      .agg(topk(col("c_id"), col("label"), col("score6")).as("topk"))
    runToMemory(s, scored, "graft_stream_knn", "complete")
      .select(col("q_id"), posexplode(col("topk.items")).as(Seq("i", "nb")))
      .select(col("q_id"), (col("i") + 1).cast("int").as("rn"),
        col("nb.c_id").as("c_id"), col("nb.label").as("label"),
        round(col("nb.score"), 4).as("cos_sim"))
      .orderBy("q_id", "rn")
  }

  /** streamKnn through the TTL-evicting serving state (KnnServingProcessor)
    * — the scale-safe form of the query-firehose shape: per-query top-k
    * lives in transformWithState typed state with an idle-query TTL armed
    * by event-time timers, so an unbounded stream of distinct query ids
    * cannot grow state without bound (VERDICT r10 task 4). Here the TTL is
    * far beyond the bounded test stream (nothing evicts — eviction itself
    * is pinned deterministically by the Round11 suite with a small TTL),
    * so the final state equals the batch brute-force answer and the
    * oracle is knn_bruteforce's verbatim, unchanged. Final-state readout:
    * n_seen is monotone per query, so max_by(n_seen) rows are the last
    * emission — the same update-mode pattern streamRollingSumTws pins. */
  def streamKnnTtl(s: SparkSession, d: String): DataFrame =
    onRocksDb(s) {
      val queries = readStreamTable(s, d, "embeddings")
        .filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("qv"),
          lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")).as("ts"))
      knnServed(s, d, queries, ttlMs = 365L * 24 * 3600 * 1000,
          "graft_stream_knn_ttl", readout = "n_seen")
        .orderBy("q_id", "rn")
    }

  /** Probes (q_id, qv, ts) scored against every other embedding and served
    * through KnnServingProcessor's top-5 with idle TTL `ttlMs`; returns the
    * final top-5 per query, each slot read as its `max_by(_, readout)` row
    * over the update-mode emissions. */
  private def knnServed(s: SparkSession, d: String, probes: DataFrame,
      ttlMs: Long, name: String, readout: String): DataFrame = {
    import s.implicits._
    graft.functions.VectorFunctions.register(s)
    val corpus = graft.Tables.embeddings(s, d)
      .select(col("vec_id").as("c_id"), col("embedding").as("cv"), col("label"))
    val cands = probes.withWatermark("ts", "0 seconds")
      .join(corpus, col("q_id") =!= col("c_id"))
      .withColumn("score6", round(expr(graft.queries.Similarity.cos), 6))
      .select(col("q_id"), col("c_id"), col("label"),
        col("score6").as("score"), col("ts"))
      .as[KnnCand]
    val served = cands.groupByKey(_.q_id)
      .transformWithState(new KnnServingProcessor(5, ttlMs),
        TimeMode.EventTime(), OutputMode.Update(),
        Encoders.product[(Long, Int, Long, Int, Double, Long, Long)])
      .toDF("q_id", "rn", "c_id", "label", "score6", "n_seen", "last_ts")
    runToMemory(s, served, name, "update")
      .groupBy("q_id", "rn")
      .agg(expr(s"max_by(c_id, $readout)").as("c_id"),
        expr(s"max_by(label, $readout)").as("label"),
        round(expr(s"max_by(score6, $readout)"), 4).as("cos_sim"))
      .select(col("q_id"), col("rn").cast("int").as("rn"), col("c_id"),
        col("label"), col("cos_sim"))
  }

  /** REGISTRY-VISIBLE TTL eviction (VERDICT r11 task 8): streamKnnTtl's
    * registry row runs with a TTL the bounded stream never reaches, so
    * eviction was only suite-pinned. This scenario makes an
    * evicted-then-re-created key's final state ORACLE-checked: four staged
    * micro-batches against a 1-hour TTL —
    *   b0 (T0)        queries 0..9 probe their own embeddings;
    *   b1 (T0+2h)     sentinel query 10 advances the watermark past every
    *                  b0 key's idle deadline (T0+1h);
    *   b2 (T0+2h10m)  sentinel query 11 — processing it fires the expired
    *                  timers (timers fire one batch after the watermark
    *                  passes them), EVICTING queries 0..9;
    *   b3 (T0+2h20m)  queries 0..4 REVISIT under their old q_ids but with
    *                  the embeddings of vectors 20..24.
    * Because state was evicted, each revisited key re-forms from scratch:
    * its final top-k is the 20..24-vector answer ONLY. Had eviction not
    * happened, the revisit would have merged into the stored top-k (per-
    * candidate best score across BOTH probe vectors — a different set),
    * so the DuckDB oracle (per key: brute-force top-5 of its LAST probe
    * vector) hash-matches iff eviction and re-creation actually occurred.
    * Readout is max_by(last_ts) — n_seen resets on re-form, so the
    * n_seen readout of the no-evict row would tie pre- and post-eviction
    * emissions. */
  def streamKnnTtlEvict(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    onRocksDb(s) {
      val emb = graft.Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val spec = ((0L to 9L).map(q => (q, q, "2024-01-01 00:00:00", 0)) ++
        Seq((10L, 10L, "2024-01-01 02:00:00", 1),
            (11L, 11L, "2024-01-01 02:10:00", 2)) ++
        (0L to 4L).map(q => (q, q + 20L, "2024-01-01 02:20:00", 3)))
        .toDF("q_id", "src_id", "ts_s", "batch")
      val probes = spec.join(emb, col("src_id") === col("vec_id"))
        .select(col("q_id"), col("embedding").as("qv"),
          to_timestamp(col("ts_s")).as("ts"), col("batch"))
      val staged = stagedStream(s, probes,
        Scoped.dir(s, "graft_stream_ttl_evict", d), "batch", 4)
      knnServed(s, d, staged, ttlMs = 3600L * 1000,
          "graft_stream_knn_ttl_evict", readout = "last_ts")
        .filter(col("q_id") < 10)
        .orderBy("q_id", "rn")
    }
  }

  /** The query firehose against the AT-REST IVF index — the serving
    * architecture streamKnn's scaladoc promises ("on a 100 TB corpus the
    * same join targets an IVF list table"), made literal: query vectors
    * arrive in REAL micro-batches (ordered single-file sources, the
    * streamOnlineDedup harness) and every batch runs the SAME
    * Similarity.ivfSearch the batch serving row uses against the SAME
    * persisted index (Similarity.ensurePersistedIvf — one artifact, two
    * consumers): broadcast centroids pick each query's 3 probe lists, and
    * because the postings table is partitioned by `list_id`, the per-batch
    * probe join prunes the scan to the probed partitions (the dynamic
    * partition pruning PlanAuditSpec pins for knn_ivf_persisted — identical
    * physical plan per batch). Per-batch answers append to a result table;
    * each query id arrives exactly once, so the union over batches IS the
    * final answer set — zero streaming state, which is the point: the
    * serving state lives in the at-rest index, not the stream. Oracle:
    * knn_ivf's closed-form unroll verbatim (the index answers
    * bit-identically to the in-memory model). */
  def streamKnnIvf(s: SparkSession, d: String): DataFrame = {
    graft.functions.VectorFunctions.register(s)
    val (cPath, pPath) = graft.queries.Similarity.ensurePersistedIvf(s, d)
    val base = Scoped.dir(s, "graft_stream_knn_ivf", d)
    val queries = graft.Tables.embeddings(s, d).filter(col("vec_id") < 10)
      .select(col("vec_id"), col("embedding"))
    val answers = BatchKeyed(base + "/answers")
    runStaged(s, queries, base, "vec_id", 2) { (batch, id) =>
      answers.write(graft.queries.Similarity.ivfSearch(s,
          s.read.parquet(cPath), s.read.parquet(pPath),
          batch.select(col("vec_id").as("q_id"), col("embedding").as("qv"))), id)
    }
    s.read.parquet(answers.path)
      .select("q_id", "rn", "c_id", "label", "cos_sim")
      .orderBy("q_id", "rn")
  }

  /** STATELESS streaming decontamination — the scale-safe form of
    * streamDecontaminate's signature state (VERDICT r10 task 4's second
    * half). The grouped-aggregation variant keeps every arriving document's
    * 32-long signature in the state store FOREVER (each doc's state is
    * complete after its single input row, but a groupBy aggregation cannot
    * know that); at ingest scale that is unbounded state for zero benefit.
    * Since a document arrives as ONE row, its signature is computable
    * ROW-LOCALLY (the same shingle construction and permutation minima as
    * Graft.minhashSignatures, as array expressions instead of an exploded
    * groupBy — the batch path deliberately rejects this form because its
    * self-join reuses the materialized signature exchange; a stream doc is
    * screened once, so there is nothing to reuse), leaving only the banded
    * screen against the STATIC eval index and a per-candidate-pair max —
    * state bounded by FLAGGED pairs (output-sized), not by corpus size.
    * Oracle: identical flagged set to streamDecontaminate, hash-matched. */
  def streamDecontaminateStateless(s: SparkSession, d: String): DataFrame = {
    // eval index = the shared at-rest md5 signature table, filter-pruned;
    // the stream side pays the interpreted in-lambda md5 gram hash so DuckDB
    // can mirror the signatures (measured against xx63 at sf1: 1.00×,
    // SCALE.md)
    val evalSigs = s.read.parquet(graft.queries.Dedup.ensureSignatureTable(s, d))
      .filter(col("doc_id") % 17 === 0)
    val streamSigs = graft.api.Graft.minhashSignatureRowLocal(
      readStreamTable(s, d, "documents")
        .filter(col("doc_id") % 17 =!= 0)
        .select(col("doc_id"), col("text")),
      "doc_id", "text", numHashes = 32,
      gramHashSql = graft.api.Graft.md5GramSql)
    val flagged = graft.api.Graft.minhashCandidatesAgainst(streamSigs, evalSigs,
        "doc_id", bands = 8, rowsPerBand = 4, minEstJaccard = 0.2)
      .select(col("new_id").as("doc_id"), col("index_id").as("eval_id"),
        col("est_jaccard"))
    runToMemory(s, flagged, "graft_stream_decontaminate_stateless", "complete")
      .orderBy("doc_id", "eval_id")
  }

  /** Stage `df` as `n` ordered single-file parquet micro-batches under
    * `base`/src (mod-`n` buckets of `bucketCol`, pinned mod-times so the
    * file source's arrival order is deterministic), wiping `base` first —
    * the source `stagedStream` reads. Returns the source directory. */
  private[graft] def stageOrderedBatches(df: DataFrame, base: String,
      bucketCol: String, n: Int): String = {
    Scoped.rm(base)
    val srcDir = new java.io.File(base, "src"); srcDir.mkdirs()
    val t0 = 1700000000000L
    // ONE corpus pass stages every batch (VERDICT r12 task 7): the original
    // per-bucket `filter(...).coalesce(1).write` ran n separate jobs, and
    // coalesce(1) collapses the whole upstream chain to one task — n
    // SINGLE-THREADED corpus scans (measured 3×, the dominant harness
    // cost at sf1). Here one job shuffles on the bucket value and
    // partitionBy writes each bucket's rows as exactly one file (every
    // bucket lives in exactly one shuffle partition), which the per-bucket
    // move below renames into the ordered single-file layout the streaming
    // file source ingests.
    val stage = new java.io.File(base, "stage")
    df.withColumn("__b", pmod(col(bucketCol), lit(n)))
      .repartition(n, col("__b"))
      .write.partitionBy("__b").mode("overwrite").parquet(stage.toString)
    for (b <- 0 until n) {
      val bucketDir = new java.io.File(stage, s"__b=$b")
      val parts = Option(bucketDir.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet"))
      val dst = new java.io.File(srcDir, s"batch$b.parquet")
      if (parts.length > 1) sys.error(
        s"staging expected at most one part in $bucketDir, got ${parts.length}")
      else if (parts.length == 1)
        java.nio.file.Files.move(parts(0).toPath, dst.toPath)
      else {
        // a bucket with no rows writes no __b=<b> partition directory at
        // all (partitionBy emits only populated values) — the old
        // filter+coalesce(1) path wrote a valid empty batch file here, and
        // the ordered-arrival contract needs one file per slot, so restage
        // an empty single-file parquet with the same (partition-stripped)
        // schema (ADVICE r13)
        val tmp = new java.io.File(base, s"empty$b")
        df.limit(0).coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val p = Option(tmp.listFiles()).getOrElse(Array.empty)
          .filter(_.getName.endsWith(".parquet"))
        if (p.length != 1) sys.error(
          s"empty-batch staging expected one part in $tmp, got ${p.length}")
        java.nio.file.Files.move(p(0).toPath, dst.toPath)
        Scoped.rm(tmp.toString)
      }
      dst.setLastModified(t0 + b * 60000L): Unit
    }
    Scoped.rm(stage.toString)
    srcDir.toString
  }

  /** The ONLINE INGEST LOOP closed end-to-end: a document stream arrives in
    * REAL micro-batches (the corpus staged by `runStaged` as two files by
    * doc_id % 2, ingested in order as two true batches), and each
    * micro-batch (a) computes ROW-LOCAL minhash signatures (zero keyed
    * state — minhashSignatureRowLocal), (b) SCREENS against the at-rest
    * signature index (banded new×index, never index×index), (c) appends
    * the flagged (doc, dup_of, est) pairs, and (d) FOLDS its signatures
    * into the index — so batch N+1 is screened against everything ingested
    * before it. This is dedup_index_foldin's lifecycle driven by a real
    * stream: the keep-FIRST online dedup a 100 TB ingest pipeline runs.
    *
    * Contract (and what the oracle checks): a document is flagged iff some
    * EARLIER-batch document is a banded near-dup (est ≥ 0.2) — within-batch
    * pairs are deliberately not flagged (the fold happens at batch close;
    * intra-batch dedup is the batch operator's job, and a production loop
    * composes dedup_minhash per batch with this cross-batch screen). The
    * mod-2 batch assignment makes "earlier" a closed form
    * (doc_id % 2 ordering), so DuckDB mirrors the whole loop exactly. */
  def streamOnlineDedup(s: SparkSession, d: String): DataFrame = {
    val base = Scoped.dir(s, "graft_stream_online", d)
    val docs = graft.Tables.documents(s, d).select(col("doc_id"), col("text"))
    val indexPath = base + "/index"; val flagsPath = base + "/flags"
    runStaged(s, docs, base, "doc_id", 2)(onlineDedupBatch(s, indexPath, flagsPath))
    if (Files.exists(Paths.get(flagsPath)))
      s.read.parquet(flagsPath)
        .select(col("new_id").as("doc_id"), col("index_id").as("dup_of"),
          col("est_jaccard"))
        .orderBy("doc_id", "dup_of")
    else {
      import s.implicits._
      Seq.empty[(Long, Long, Double)].toDF("doc_id", "dup_of", "est_jaccard")
    }
  }

  /** One ingest batch of the online dedup loop, on `runStaged`'s
    * exactly-once contract: the screen reads `batch_id < id` explicitly —
    * strictly-earlier batches, the keep-first contract — so a replayed batch
    * neither double-appends its flags nor matches its own signatures.
    * Factored out so the suite can replay a batch and pin idempotence. */
  private[graft] def onlineDedupBatch(s: SparkSession, indexPath: String,
      flagsPath: String)(
      batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long): Unit = {
    val sigs = graft.api.Graft.minhashSignatureRowLocal(batch,
      "doc_id", "text", numHashes = 32,
      gramHashSql = graft.api.Graft.md5GramSql)
    // Index fold-in FIRST, screen from the re-read artifact: the screen's
    // new side reads this batch's just-committed partition back instead of
    // recomputing the shingle→digest→minima pass a second time (the sig
    // plan had two actions — flags and fold-in — so the screened batch
    // paid the signature pass twice; r16 measured the re-read at ~40% off
    // the row). The screen still reads strictly-earlier partitions (never
    // its own — no self-matches), and a retry rewrites both partitions
    // byte-for-byte whether the crash hit before or between the writes.
    BatchKeyed(indexPath).write(sigs, id)
    if (id > 0) {
      val all = s.read.parquet(indexPath)
      BatchKeyed(flagsPath).write(graft.api.Graft.minhashCandidatesAgainst(
          all.filter(col("batch_id") === id).drop("batch_id"),
          all.filter(col("batch_id") < id).drop("batch_id"), "doc_id",
          bands = 8, rowsPerBand = 4, minEstJaccard = 0.2), id)
    }
  }

  /** The ONLINE CURATION LOOP — pipeline_end_to_end's gates running AT
    * INGEST, the production shape where data is curated as it lands rather
    * than in a batch afterthought. Documents arrive in two REAL
    * micro-batches (the shared staged-file firehose); each batch runs:
    * (1) the Gopher quality gate — row-local, stateless; (2) EXACT
    * keep-first dedup — in-batch min-id per text hash, then a screen
    * against the at-rest hash index of earlier batches (`batch_id < id`),
    * folding this batch's kept hashes in (`runStaged`'s exactly-once
    * contract); (3) fuzzy DECONTAMINATION — row-local MinHash signatures
    * screened against the STATIC eval-split
    * signatures fit once before ingest (zero keyed state, the
    * stream_decontaminate_stateless shape); (4) DSIR importance scoring
    * with the static-corpus model, also fit once. Survivors append
    * batch-keyed. Arrival order is the doc_id%2 order, so the
    * keep-first winner is min by (doc_id%2, doc_id) — closed-form, which
    * is what makes the whole loop ORACLED: the flagged/kept/scored set
    * hash-matches a DuckDB unroll of gate → ordered keep-first → banded
    * eval screen → fixed-point DSIR. Scale: every stage is stateless or
    * index-backed — no keyed streaming state anywhere; state lives in the
    * at-rest hash index, the broadcast eval signatures, and the 256-row
    * model. */
  def streamOnlineCurate(s: SparkSession, d: String): DataFrame = {
    val base = Scoped.dir(s, "graft_stream_curate", d)
    val all = graft.Tables.documents(s, d)
    val stream0 = all.filter(col("doc_id") % 17 =!= 0)
      .select(col("doc_id"), col("text"))
    // static artifacts, fit ONCE before ingest and reused by every batch:
    // the eval-split signatures and the full-corpus DSIR model
    val evalSigs = s.read.parquet(
        graft.queries.Dedup.ensureSignatureTable(s, d))
      .filter(col("doc_id") % 17 === 0 && col("sig").isNotNull)
      .localCheckpoint(true)
    val model = s.read.parquet(
      graft.queries.TextAnalysis.ensureDsirModel(s, d))
    val indexPath = base + "/index"; val keptPath = base + "/kept"
    runStaged(s, stream0, base, "doc_id", 2)(
      onlineCurateBatch(s, indexPath, keptPath, evalSigs, model))
    s.read.parquet(keptPath)
      .select("doc_id", "n_tokens", "llr")
      .orderBy("doc_id")
  }

  /** One ingest batch of the online curation loop (see streamOnlineCurate),
    * on `runStaged`'s exactly-once contract; factored out so the suite can
    * replay a batch. */
  private[graft] def onlineCurateBatch(s: SparkSession, indexPath: String,
      keptPath: String, evalSigs: org.apache.spark.sql.DataFrame,
      model: org.apache.spark.sql.DataFrame)(
      batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long): Unit = {
    // 1. Gopher gate — row-local
    val gated = graft.api.Graft.gopherRules(batch.toDF(), "text")
      .filter(col("passes")).select(col("doc_id"), col("text"))
    // 2. exact keep-first: min doc_id per text hash IN batch, then screen
    //    against the at-rest index of strictly earlier batches
    val hashed = gated.withColumn("__h", md5(lower(trim(col("text")))))
    val inBatch = hashed.join(
      hashed.groupBy("__h").agg(min("doc_id").as("doc_id")),
      Seq("__h", "doc_id"))
    val kept = (if (id > 0 && Files.exists(Paths.get(indexPath)))
        inBatch.join(
          s.read.parquet(indexPath).filter(col("batch_id") < id).select("__h"),
          Seq("__h"), "left_anti")
      else inBatch)
      .localCheckpoint(true) // consumed by the index fold-in, sigs, and score
    // fold in: kept hashes cover every hash this batch saw (in-batch dups
    // share their keeper's hash; earlier-batch dups are already indexed)
    BatchKeyed(indexPath).write(kept.select("__h").distinct(), id)
    // 3. decontaminate: row-local signatures vs the static eval signatures
    val sigs = graft.api.Graft.minhashSignatureRowLocal(
      kept.select(col("doc_id"), col("text")), "doc_id", "text",
      numHashes = 32, gramHashSql = graft.api.Graft.md5GramSql)
    val flagged = graft.api.Graft.minhashCandidatesAgainst(sigs, evalSigs,
        "doc_id", bands = 8, rowsPerBand = 4, minEstJaccard = 0.2)
      .select(col("new_id").as("doc_id")).distinct()
    val clean = kept.join(flagged, Seq("doc_id"), "left_anti")
    // 4. DSIR score with the static model; survivors land batch-keyed
    BatchKeyed(keptPath).write(
      graft.api.Graft.dsirScore(clean, "doc_id", "text", model, buckets = 256)
        .select(col("doc_id"), col("n_tokens"), col("llr")), id)
  }

  /** The reference's I6 exactly: per-key rolling sum over an unbounded keyed
    * stream (`keyBy(0).sum(1)`), running on the RocksDB state store provider
    * (declared surface D6 — flink-statebackend-rocksdb, study/pom.xml:70-74). */
  def streamRollingSum(s: SparkSession, d: String): DataFrame = {
    onRocksDb(s) {
      val agg = readStreamTable(s, d, "events")
        .groupBy("user_id")
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))
      runToMemory(s, agg, "graft_stream_rolling_sum", "complete")
        .orderBy("user_id")
    }
  }

  /** CDC APPLIED AT INGEST — the log-consumer shape of cdc_apply run as a
    * stream: the same I/U/D change log arrives in two REAL micro-batches
    * in seq order (inserts, then updates+deletes — the staged single-file
    * firehose; latest-wins resolves seq WITHIN a batch, so co-arriving
    * U/D rows fold exactly like sequential ones, and a third batch was
    * pure scaffolding cost — VERDICT r15 headroom work), and each batch
    * INCREMENTALLY folds into an
    * at-rest snapshot: version v(id) = latestWins(v(id−1) ∪ batch id),
    * computed with `Graft.cdcApply(keepTombstones = true)` so a delete in
    * an intermediate version can never be resurrected by a late lower-seq
    * row. Versions are derived only from the previous version + this
    * batch's rows (`runStaged`'s exactly-once contract). The final version
    * filters tombstones and rolls up per priority — identical output to the
    * batch row, so the ORACLE IS cdc_apply's verbatim. Scale: per-batch
    * work is one key-shuffle of |snapshot| + |batch| (at 100 TB the
    * snapshot join would bucket on the key, exactly the partitioned-write
    * layout). */
  def streamCdcApply(s: SparkSession, d: String): DataFrame = {
    val base = Scoped.dir(s, "graft_stream_cdc", d)
    val log = graft.queries.PipelineOps.cdcLog(s, d)
      .withColumn("__bb", least(col("seq") - 1, lit(1L)))
    val snap = BatchKeyed(base + "/snap")
    runStaged(s, log, base, "__bb", 2) { (batch, id) =>
      val rows = batch.drop("__bb")
      val merged =
        if (id == 0) graft.api.Graft.cdcApply(rows, "k", "seq", "op",
          keepTombstones = true)
        else graft.api.Graft.cdcApply(snap.read(s, id - 1).unionByName(rows),
          "k", "seq", "op", keepTombstones = true)
      snap.write(merged, id)
    }
    graft.queries.PipelineOps.cdcRollup(snap.last(s).filter(col("op") =!= "D"))
  }

  /** SEQUENCE PACKING AT INGEST — pack_sequences' global token cumsum run
    * as a stream: documents arrive in two real micro-batches (mod-2
    * staging, so arrival order is (doc_id % 2, doc_id) — closed-form, the
    * streamOnlineDedup convention) and each batch packs FROM the running
    * token offset carried over all earlier batches
    * (`Graft.packSequences(startOffset)`): the carry is ONE number per
    * batch, written batch-keyed beside the batch's assignments and
    * re-derived from carry(id−1) (`runStaged`'s exactly-once contract) — no
    * keyed state store. The union of batch assignments IS the global
    * packing; oracle = the batch rollup's cumsum under the arrival
    * order. Scale: per-batch work is the two-phase prefix sum over the
    * BATCH only; the cross-batch dependency is one scalar. */
  def streamPackSequences(s: SparkSession, d: String): DataFrame = {
    val base = Scoped.dir(s, "graft_stream_pack", d)
    val docs = graft.Tables.documents(s, d).select(col("doc_id"), col("text"))
    val asg = BatchKeyed(base + "/asg"); val carries = BatchKeyed(base + "/carry")
    runStaged(s, docs, base, "doc_id", 2) { (batch, id) =>
      val carry = if (id == 0) 0L else carries.read(s, id - 1).head().getLong(0)
      val packed = graft.api.Graft.packSequences(batch, "doc_id",
        "text", seqLen = 2048, startOffset = carry)
        .localCheckpoint(true) // consumed twice: assignments + carry
      asg.write(packed, id)
      carries.write(packed.agg((sum("n_tokens") + lit(carry)).as("carry")), id)
    }
    s.read.parquet(asg.path)
      .groupBy("seq_id")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("seq_tokens"),
        min("doc_id").as("first_doc"))
      .orderBy("seq_id")
  }

  /** STREAMING SKYLINE: the Pareto front maintained at ingest. The only
    * keyed state is the (source, score, length) point GRID — a grouped
    * (count, min-id) aggregation whose state is bounded by the distinct
    * signal-value combinations, never the corpus (at 100 TB you'd bucket
    * the length axis to cap the domain); the front itself computes from
    * the DRAINED grid through the same `Graft.skylineFromGrid` the batch
    * operator uses — one artifact, two consumers, so the final front is
    * pinned identical to skyline_select and shares its oracle verbatim. */
  def streamSkyline(s: SparkSession, d: String): DataFrame = {
    val docs = readStreamTable(s, d, "documents")
      .withColumn("__t", expr(Tokens.array("text")))
      .select(col("source").as("__s"), col("doc_id").as("__id"),
        col("n_chars").cast("long").as("__y"),
        expr("(1000000L * size(array_distinct(__t))) div size(__t)").as("__x"))
    val grid = docs.groupBy("__s", "__x", "__y")
      .agg(count(lit(1)).as("__n"), min("__id").as("__m"))
    val drained = runToMemory(s, grid, "graft_stream_skyline", "complete")
    graft.api.Graft.skylineFromGrid(drained)
      .select(col("__s").as("source"), col("__x").as("score"),
        col("__y").as("n_chars"), col("n_docs"), col("min_id"))
      .orderBy("source", "score")
  }

  /** THE EWMA MONITOR AT INGEST: the same gap-filled per-type hour grid
    * arrives in two real micro-batches (contiguous GLOBAL hour-range
    * halves, so each type's spine rows stay in order across batches —
    * the fold is associative in the batch boundary, so two batches pin
    * the carry exactly as three did at one less scaffold unit)
    * and the integer recursion folds forward from a carried state of
    * FOUR INTEGERS PER TYPE — `Graft.ewmaFold(state)` — carried at
    * `id - 1` (`runStaged`'s exactly-once contract). A type with no rows in
    * a batch carries its state forward untouched. Final
    * state == the batch monitor (one fold, one grid), oracle verbatim. */
  def streamEwma(s: SparkSession, d: String): DataFrame = {
    val base = Scoped.dir(s, "graft_stream_ewma", d)
    val grid = graft.api.Graft.ewmaCounts(
      graft.Tables.events(s, d).select(col("ts"), col("event_type")),
      "ts", "event_type")
    val bounds = grid.agg(min("hour").as("__mn"), max("hour").as("__mx"))
    val bucketed = grid.crossJoin(broadcast(bounds))
      .withColumn("__bb", least(
        expr("""((unix_timestamp(hour) - unix_timestamp(__mn)) * 2)
               | div greatest(unix_timestamp(__mx) - unix_timestamp(__mn) + 3600, 1)""".stripMargin),
        lit(1L)))
      .select(col("event_type"), col("hour"), col("c"), col("__bb"))
    val state = BatchKeyed(base + "/state")
    runStaged(s, bucketed, base, "__bb", 2) { (batch, id) =>
      val prevState = if (id == 0) None else Some(state.read(s, id - 1))
      val folded = graft.api.Graft.ewmaFold(
          batch.select("event_type", "hour", "c"), prevState,
          warmupHours = 6)
        .select(col("event_type"), col("final_ewma").as("s"),
          col("n_hours").as("i"), col("n_high").as("hi"),
          col("n_low").as("lo"))
      val carried = prevState match {
        case Some(st) => folded.unionByName(
          st.join(folded, Seq("event_type"), "left_anti"))
        case None => folded
      }
      state.write(carried, id)
    }
    state.last(s)
      .select(col("event_type"), col("i").as("n_hours"),
        col("s").as("final_ewma"), col("hi").as("n_high"),
        col("lo").as("n_low"))
      .orderBy("event_type")
  }

  /** THE EXPERIMENT READOUT AT INGEST: per-user conversion state (ONE max
    * flag per user — the minimal keyed state an online A/B dashboard
    * carries) accumulates over the event stream; the drained state feeds
    * the SAME `Graft.abTest` readout as the batch row, so the final
    * (counts, rates, z) line is pinned identical and shares ab_test's
    * oracle verbatim. */
  def streamAbTest(s: SparkSession, d: String): DataFrame = {
    val perUser = readStreamTable(s, d, "events")
      .select(col("user_id"), (col("user_id") % 2).as("variant"),
        (col("event_type") === "purchase" && col("value") > 180.0).as("__c"))
      .groupBy("user_id", "variant")
      .agg(max(when(col("__c"), 1L).otherwise(0L)).as("__conv"))
    val drained = runToMemory(s, perUser, "graft_stream_ab_test", "complete")
    graft.api.Graft.abTest(
      drained.withColumn("converted", col("__conv") === 1L),
      "user_id", "variant", "converted")
  }
}
