package perfbench

import java.io.BufferedOutputStream
import java.net.{InetAddress, ServerSocket}
import java.nio.charset.StandardCharsets
import java.util.SplittableRandom
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.locks.LockSupport
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryProgress

/** The paper's program on its own source shape: a seeded open-loop generator
  * writes 8-word lines to a local TCP socket at a fixed rate, Spark's socket
  * source feeds `Graft.rollingWordCount` in update mode, and a benchmark-owned
  * `foreachBatch` sink records when each micro-batch's output was delivered.
  *
  * A line's latency runs from the moment the generator was DUE to send it to
  * the return of the sink call of the micro-batch that holds it; batches are
  * matched to lines through the socket source's start/end offsets in each
  * progress report. The generator never waits on the engine, so a slow engine
  * shows as latency rather than as a lower offered rate. */
object WordCount {
  val WordsPerLine = 8

  /** Seeded vocabulary of distinct lowercase words (single-space tokenizer safe). */
  def vocabulary(seed: Long, size: Int, minLen: Int = 3): Array[String] = {
    val rnd = new SplittableRandom(seed ^ 0x5eedL)
    val letters = "etaoinshrdlcumwfgypbvkjxqz"
    val seen = mutable.HashSet.empty[String]
    val out = new Array[String](size)
    var i = 0
    while (i < size) {
      val len = minLen + rnd.nextInt(11 - minLen)
      val w = new String(Array.fill(len)(letters.charAt(math.min(25, (rnd.nextDouble() * rnd.nextDouble() * 26).toInt))))
      if (seen.add(w)) { out(i) = w; i += 1 }
    }
    out
  }

  /** Cumulative Zipf(s) weights over ranks 1..n. */
  def zipfCdf(n: Int, s: Double): Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x; acc / total }
  }

  final case class Input(lines: Array[Array[Byte]], words: Array[Array[Int]],
      vocab: Array[String], expected: Map[String, Long])

  /** `n` lines of Zipf-drawn words plus an independent count of every word. */
  def generate(seed: Long, n: Int, vocab: Array[String], cdf: Array[Double]): Input = {
    val rnd = new SplittableRandom(seed)
    val counts = new Array[Long](vocab.length)
    val words = Array.fill(n) {
      Array.fill(WordsPerLine) {
        val u = rnd.nextDouble()
        var i = java.util.Arrays.binarySearch(cdf, u)
        if (i < 0) i = -i - 1
        i = math.min(i, vocab.length - 1)
        counts(i) += 1
        i
      }
    }
    val lines = words.map(ws => (ws.map(vocab).mkString(" ") + "\n").getBytes(StandardCharsets.UTF_8))
    val expected = counts.indices.iterator.filter(counts(_) > 0).map(i => vocab(i) -> counts(i)).toMap
    Input(lines, words, vocab, expected)
  }

  /** One part of the generator's schedule: `lines` lines offered at `rate`
    * lines/s, or all due at once when the rate is infinite. */
  final case class Segment(tag: String, rate: Double, lines: Int)

  /** What the batches ending in one segment of the schedule saw. */
  final case class StepResult(rate: Double, lines: Int, latMs: Array[Double],
      genLateMsMax: Double, backlogMax: Long, backlogGrew: Boolean,
      progress: Seq[StreamingQueryProgress], sinkMs: Seq[Double]) {
    def busyMs: Double = progress.map(p => dur(p, "triggerExecution")).sum
    def rowsProcessed: Long = progress.map(_.numInputRows).sum
  }

  final case class RunResult(steps: Map[String, StepResult], lines: Int,
      missingLines: Int, failedLines: Int, startToFirstBatchMs: Double)

  def dur(p: StreamingQueryProgress, key: String): Double =
    Option(p.durationMs.get(key)).map(_.doubleValue).getOrElse(0.0)

  private def offset(s: String): Long =
    if (s == null || s.isEmpty || s == "null") -1L else s.trim.toLong

  /** How many entries of the ascending `xs` are at most `x`. */
  private def countAtMost(xs: Array[Long], x: Long): Int = {
    var lo = 0
    var hi = xs.length
    while (lo < hi) {
      val m = (lo + hi) >>> 1
      if (xs(m) <= x) lo = m + 1 else hi = m
    }
    lo
  }

  /** Runs a schedule of segments on one fresh query, checkpoint and
    * connection; drains the backlog after the schedule ends, then checks the
    * final state. A batch counts toward the segment that holds its last line. */
  def runSchedule(spark: SparkSession, in: Input, segments: Seq[Segment], ckpt: String,
      loseWord: Boolean = false, drainTimeoutS: Double = 60.0): RunResult = {
    val n = in.lines.length
    require(segments.map(_.lines).sum == n, "schedule and input differ in size")
    // due time of every line (ns after t0) and the segment that offers it
    val dueNs = new Array[Long](n)
    val segOf = new Array[Int](n)
    val begin = segments.scanLeft(0)(_ + _.lines)
    locally {
      var start = 0.0
      for ((s, k) <- segments.zipWithIndex) {
        val period = if (s.rate.isInfinite) 0.0 else 1e9 / s.rate
        for (j <- 0 until s.lines) {
          dueNs(begin(k) + j) = (start + j * period).toLong
          segOf(begin(k) + j) = k
        }
        start += s.lines * period
      }
    }
    val server = new ServerSocket(0, 1, InetAddress.getLoopbackAddress)
    @volatile var t0 = 0L
    val lateNsMax = new Array[Long](segments.size)
    @volatile var genError: Throwable = null
    val allSent = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    val gen = new Thread(() => {
      try {
        val sock = server.accept()
        val out = new BufferedOutputStream(sock.getOutputStream, 1 << 16)
        t0 = System.nanoTime() + 50000000L // 50 ms lead before line 0 is due
        var i = 0
        while (i < n) {
          val now = System.nanoTime() - t0
          if (dueNs(i) <= now) {
            lateNsMax(segOf(i)) = math.max(lateNsMax(segOf(i)), now - dueNs(i))
            while (i < n && dueNs(i) <= now) { out.write(in.lines(i)); i += 1 }
            out.flush()
          } else LockSupport.parkNanos(dueNs(i) - now)
        }
        allSent.countDown()
        release.await()
        sock.close()
      } catch { case t: Throwable => genError = t; allSent.countDown() }
    }, "perfbench-generator")
    gen.setDaemon(true)
    gen.start()

    val state = new ConcurrentHashMap[String, java.lang.Long]()
    val sinkEnd = new ConcurrentHashMap[java.lang.Long, java.lang.Long]()
    val sinkMs = new ConcurrentHashMap[java.lang.Long, java.lang.Double]()
    val src = spark.readStream.format("socket")
      .option("host", InetAddress.getLoopbackAddress.getHostAddress)
      .option("port", server.getLocalPort.toLong).load()
    val counts = graft.api.Graft.rollingWordCount(src, "value")
    val startNs = System.nanoTime()
    val q = counts.writeStream.outputMode("update")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: Dataset[Row], id: Long) =>
        val rows = b.collect()
        val t = System.nanoTime()
        rows.foreach(r => state.put(r.getString(0), r.getLong(1)))
        val end = System.nanoTime()
        sinkMs.put(id, (end - t) / 1e6)
        sinkEnd.put(id, end)
        ()
      }
      .start()
    try {
      allSent.await(dueNs(n - 1) / 1000000L + 60000L, java.util.concurrent.TimeUnit.MILLISECONDS)
      if (genError != null) throw genError
      val deadline = System.nanoTime() + (drainTimeoutS * 1e9).toLong
      def covered: Long = Option(q.lastProgress)
        .map(p => offset(p.sources.head.endOffset)).getOrElse(-1L)
      while (covered < n - 1 && System.nanoTime() < deadline && q.isActive)
        Thread.sleep(5)
    } finally {
      release.countDown()
      q.stop()
      server.close()
      gen.join(5000)
    }
    q.exception.foreach(e => throw e)
    // self-test: the delivered state loses one word; the check must see it
    if (loseWord) state.remove(in.vocab(in.words(0)(0)))

    val progress = q.recentProgress.toSeq.filter(_.numInputRows > 0).sortBy(_.batchId)
    // each line belongs to the batch whose (start, end] offset range holds it
    val latMs = new Array[Double](n)
    java.util.Arrays.fill(latMs, Double.NaN)
    val batchesOf = Array.fill(segments.size)(mutable.ArrayBuffer.empty[StreamingQueryProgress])
    val backlogsOf = Array.fill(segments.size)(mutable.ArrayBuffer.empty[Long])
    for (p <- progress; d <- Option(sinkEnd.get(p.batchId)).map(_.longValue)) {
      val lo = offset(p.sources.head.startOffset) + 1
      val hi = math.min(offset(p.sources.head.endOffset), n - 1L).toInt
      var i = lo.toInt
      while (i <= hi) {
        latMs(i) = (d - t0 - dueNs(i)) / 1e6
        i += 1
      }
      // lines of its segment due by the time this batch was delivered,
      // minus those it held
      val k = segOf(hi)
      batchesOf(k) += p
      backlogsOf(k) += math.max(0L, math.min(countAtMost(dueNs, d - t0), begin(k + 1)) - (hi + 1L))
    }
    val steps = segments.zipWithIndex.map { case (s, k) =>
      val backlogs = backlogsOf(k).map(_.toDouble)
      val half = backlogs.length / 2
      val grew = backlogs.length >= 4 &&
        Stats.median(backlogs.drop(half)) > 2 * Stats.median(backlogs.take(half)) + s.rate * 0.5
      val lat = latMs.slice(begin(k), begin(k + 1)).filterNot(_.isNaN)
      val bs = batchesOf(k).toSeq
      s.tag -> StepResult(s.rate, s.lines, lat, lateNsMax(k) / 1e6,
        backlogsOf(k).foldLeft(0L)(math.max), grew, bs,
        bs.flatMap(p => Option(sinkMs.get(p.batchId)).map(_.doubleValue)))
    }.toMap
    val missing = latMs.count(_.isNaN)
    // a line fails if it never reached a batch or any of its words ended
    // with a final count that differs from the independent count
    val got = state.asScala.map { case (k, v) => k -> v.longValue }
    val badWords = (in.expected.keySet ++ got.keySet)
      .filter(w => in.expected.get(w) != got.get(w))
    val rank = in.vocab.zipWithIndex.toMap
    val badIdx = badWords.flatMap(rank.get)
    val failed = in.words.indices.count(i =>
      latMs(i).isNaN || in.words(i).exists(badIdx.contains))
    val firstBatchMs = progress.headOption.flatMap(p => Option(sinkEnd.get(p.batchId)))
      .map(e => (e.longValue - startNs) / 1e6).getOrElse(0.0)
    RunResult(steps, n, missing, failed + (if (badWords.nonEmpty && failed == 0) 1 else 0),
      firstBatchMs)
  }
}

/** `wordcount_stream`: per window, one query fed on one connection by an
  * open-loop schedule: a lead-in at `lo` (the query's first batches, not
  * measured), then fixed rates `lo` and `hi`, then a `burst` whose lines are
  * all due at once. */
final class WordCountWorkload(seed: Long, seconds: Double, parts: Int,
    tiny: Boolean, broken: Boolean, work: String) extends Workload {
  import WordCount._
  val VocabSize: Int = if (tiny) 2000 else 100000
  val ZipfS = 1.0
  /** Offered line rates (lines/s): at `lo` batches stay small, so fixed
    * per-batch cost dominates; `hi` sits near half the rate this engine
    * drains on 4 cores, where per-record cost dominates. */
  val LoRate: Double = if (tiny) 200.0 else 1000.0
  val HiRate: Double = if (tiny) 2000.0 else 6000.0

  /** The schedule of a window of `secs` seconds: lead-in up to 1 s, `lo` and
    * `hi` 45% each, and a burst of the lines `hi` offers in the whole window.
    * The burst is that large because each batch it splits into adds a fixed
    * cost of about a `lo` batch to its busy time. */
  def schedule(secs: Double): Seq[Segment] = Seq(
    Segment("lead", LoRate, math.max(1, (LoRate * math.min(1.0, 0.1 * secs)).toInt)),
    Segment("lo", LoRate, math.max(1, (LoRate * 0.45 * secs).toInt)),
    Segment("hi", HiRate, math.max(1, (HiRate * 0.45 * secs).toInt)),
    Segment("burst", Double.PositiveInfinity, math.max(1, (HiRate * secs).toInt)))

  private val window = schedule(seconds / parts)
  private val warmWindow = schedule(math.min(seconds / parts, 4.0))
  val WarmWindows = 4
  private var step = 0
  private var vocab: Array[String] = _
  private var cdf: Array[Double] = _
  private var input: Input = _

  /** Input generation: the seeded vocabulary and a window's lines with their
    * independent word counts. Both halves of a traced run replay them. */
  def setup(spark: SparkSession): Unit = {
    vocab = vocabulary(seed, VocabSize)
    cdf = zipfCdf(VocabSize, ZipfS)
    input = generate(seed * 31, window.map(_.lines).sum, vocab, cdf)
  }

  /** Shorter windows on other lines until the per-batch code has been
    * compiled: the median `lo` latency settles from the fifth such window on
    * (it reads about 4x, 1.4x, 1.25x, 1.25x of its settled value before). */
  def warm(spark: SparkSession): Unit = {
    val in = generate(seed * 31 + 1, warmWindow.map(_.lines).sum, vocab, cdf)
    for (_ <- 1 to WarmWindows) {
      val r = runSchedule(spark, in, warmWindow, nextCkpt())
      require(r.failedLines == 0, s"warm-up word count failed on ${r.failedLines} lines")
    }
  }

  private def nextCkpt(): String = {
    step += 1
    val dir = new java.io.File(s"$work/ckpt/wordcount-$step")
    Session.deleteRecursively(dir)
    dir.getAbsolutePath
  }

  private def stepLayers(tag: String, r: StepResult): Map[String, Metric] = {
    val ps = r.progress
    val nb = ps.size.toLong
    def durs(k: String) = ps.map(p => dur(p, k))
    def ops(f: org.apache.spark.sql.streaming.StateOperatorProgress => Double) =
      ps.flatMap(_.stateOperators.headOption).map(f)
    val idle = {
      val starts = ps.map(p => java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble)
      Stats.median(starts.zip(ps).sliding(2).collect {
        case Seq((s0, p0), (s1, _)) => math.max(0.0, s1 - s0 - dur(p0, "triggerExecution"))
      }.toSeq)
    }
    Map(
      "batches" -> Metric(nb, "count"),
      "rows_per_batch_p50" -> Metric(Stats.median(ps.map(_.numInputRows.toDouble)), "rows", nb),
      "trigger_ms_p50" -> Metric(Stats.median(durs("triggerExecution")), "ms", nb),
      "trigger_ms_p99" -> Metric(Stats.quantile(durs("triggerExecution"), 0.99), "ms", nb),
      "plan_ms" -> Metric(Stats.median(durs("queryPlanning")), "ms", nb),
      "offset_ms" -> Metric(Stats.median(ps.map(p => dur(p, "latestOffset") + dur(p, "getBatch"))), "ms", nb),
      "exec_ms" -> Metric(Stats.median(durs("addBatch")), "ms", nb),
      "wal_ms" -> Metric(Stats.median(durs("walCommit")), "ms", nb),
      "commit_ms" -> Metric(Stats.median(durs("commitOffsets")), "ms", nb),
      "idle_ms" -> Metric(idle, "ms", math.max(0L, nb - 1)),
      "state_rows" -> Metric(ops(_.numRowsTotal.toDouble).lastOption.getOrElse(0.0), "rows"),
      "state_rows_updated" -> Metric(ops(_.numRowsUpdated.toDouble).sum, "rows", nb),
      "state_mem_bytes" -> Metric(ops(_.memoryUsedBytes.toDouble).lastOption.getOrElse(0.0), "bytes"),
      "state_commit_ms" -> Metric(Stats.median(ops(_.commitTimeMs.toDouble)), "ms", nb),
      "state_update_ms" -> Metric(Stats.median(ops(_.allUpdatesTimeMs.toDouble)), "ms", nb),
      "backlog_lines_max" -> Metric(r.backlogMax, "lines", nb),
      "gen_late_ms_max" -> Metric(r.genLateMsMax, "ms", r.lines),
      "sink_ms" -> Metric(Stats.median(r.sinkMs), "ms", r.sinkMs.size))
      .map { case (k, v) => s"wc.$tag.$k" -> v }
  }

  def measure(spark: SparkSession, secs: Double, traced: Boolean): Measurement = {
    Trace.newTrace()
    val run = Trace.span("wc.window")(
      runSchedule(spark, input, window, nextCkpt(), loseWord = broken))
    val Seq(lo, hi, burst) = Seq("lo", "hi", "burst").map(run.steps)
    def q(r: StepResult, p: Double) = Stats.quantile(r.latMs.toSeq, p)
    val drainRate = burst.rowsProcessed / math.max(1e-9, burst.busyMs / 1000.0)
    val e2e = Map(
      "lat_p50_ms" -> Metric(q(lo, 0.5), "ms", lo.latMs.length),
      "lat_tail_ms" -> Metric(q(hi, 0.9), "ms", hi.latMs.length),
      "throughput_per_s" -> Metric(drainRate, "1/s", burst.lines))
    val report = Seq("lo" -> lo, "hi" -> hi).flatMap { case (tag, r) =>
      Seq(
        s"wc_lat_${tag}_p50_ms" -> Metric(q(r, 0.5), "ms", r.latMs.length),
        s"wc_lat_${tag}_p90_ms" -> Metric(q(r, 0.9), "ms", r.latMs.length),
        s"wc_lat_${tag}_p99_ms" -> Metric(q(r, 0.99), "ms", r.latMs.length),
        s"wc_${tag}_rate_lines_per_s" -> Metric(r.rate, "1/s"))
    }.toMap + ("wc_drain_lines_per_s" -> Metric(drainRate, "1/s", burst.lines))
    // open-loop hygiene: a late generator or a growing backlog makes a step's
    // latency something other than engine latency, so say so next to it
    val notes = Seq("lo" -> lo, "hi" -> hi).flatMap { case (tag, r) =>
      (if (r.genLateMsMax > math.max(50.0, 0.1 * q(r, 0.5)))
        Seq(f"step $tag INVALID: generator ran ${r.genLateMsMax}%.1f ms late") else Nil) ++
      (if (r.backlogGrew) Seq(s"step $tag: backlog grew (offered rate above sustained)") else Nil)
    } ++ (if (run.missingLines > 0) Seq(s"${run.missingLines} lines never reached a batch") else Nil)
    val layers = stepLayers("lo", lo) ++ stepLayers("hi", hi) +
      ("wc.startup_ms" -> Metric(run.startToFirstBatchMs, "ms"))
    Measurement(run.lines, run.failedLines, e2e, layers, report, notes)
  }

  /** A burst of a window's size at local[1]: its drain rate on one core. */
  override def hostContext(cpus: Int, work: String): Map[String, Metric] = {
    val spark = Session.create(1, work)
    try {
      val burst = window.filter(_.tag == "burst")
      val in = generate(seed * 31 + 2, burst.head.lines, vocab, cdf)
      val r = runSchedule(spark, in, burst, nextCkpt()).steps("burst")
      Map("wc.single_thread_lines_per_s" ->
        Metric(r.rowsProcessed / math.max(1e-9, r.busyMs / 1000.0), "1/s", r.lines))
    } finally spark.stop()
  }
}
