package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** What one measured window produced. `e2e` and `layers` carry the metrics
  * named in BENCHMARK.json; `report` carries the workload's own named figures
  * (printed for people, not gated). */
final case class Measurement(attempted: Long, failed: Long,
    e2e: Map[String, Metric], layers: Map[String, Metric] = Map.empty,
    report: Map[String, Metric] = Map.empty, notes: Seq[String] = Nil)

trait Workload {
  /** Input generation in a fresh session (timed as set-up, repeated). */
  def setup(spark: SparkSession): Unit
  /** Warm-up in the session that will be measured (timed as set-up, once). */
  def warm(spark: SparkSession): Unit
  /** One measured window of about `seconds`, with spans and listener
    * counters when `traced`. */
  def measure(spark: SparkSession, seconds: Double, traced: Boolean): Measurement
  /** Host-context readings taken after the traced window, session stopped. */
  def hostContext(cpus: Int, work: String): Map[String, Metric] = Map.empty
}

/** Runs one workload in this JVM and writes its raw result as JSON.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --work <dir> [--tiny 0|1] [--break 0|1] [--data <dir>]
  * }}}
  *
  * Set-up is session start and input generation, run `Setups` times in
  * fresh sessions, plus one warm-up in the last session, the one measured:
  * `setup_s` is the median of the former plus the latter. With `--trace 1`
  * the window is split: the first half runs untraced, the second traced
  * (spans plus listener counters) on the same inputs, and the difference of
  * their `lat_p50_ms` is reported as the tracing overhead. */
object Main {
  /** Set-ups per run; `setup_s` reports their median. */
  val Setups = 3
  private val t0 = System.nanoTime()
  private def phase(what: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - t0) / 1e9}%.2f s: $what")

  /** GC time of this JVM so far, summed over its collectors. */
  private def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = new File(opts("work")).getAbsolutePath
    val tiny = opts.getOrElse("tiny", "0") == "1"
    val broken = opts.getOrElse("break", "0") == "1"
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    new File(work).mkdirs()

    val parts = if (trace) 2 else 1
    val wl: Workload = workload match {
      case "wordcount_stream" =>
        new WordCountWorkload(seed, seconds, parts, tiny, broken, work)
      case "tpch_batch" => new TpchWorkload(seed, opts("data"), broken, work)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    // The curation chain has no workload of its own (a third workload does
    // not fit the benchmark's time budget); the traced run of `tpch_batch`
    // measures its layer after the workload's own traced half.
    val companion = if (trace && workload == "tpch_batch")
      Some(new CurateWorkload(seed, tiny, broken)) else None

    var spark: SparkSession = null
    val setupS = (1 to Setups).map { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = Session.create(cpus, work)
      wl.setup(spark)
      phase("setup done")
      (System.nanoTime() - t0) / 1e9
    }
    val warmS = { val t0 = System.nanoTime(); wl.warm(spark); (System.nanoTime() - t0) / 1e9 }
    phase("warm-up done")
    val setupMetric = "setup_s" -> Metric(Stats.median(setupS) + warmS, "s", setupS.size)
    val jit = java.lang.management.ManagementFactory.getCompilationMXBean
    val jitMs0 = jit.getTotalCompilationTime
    val gcMs0 = gcMs()
    val window0 = System.nanoTime()

    val (main, layers, overheadNotes) =
      if (!trace) (wl.measure(spark, seconds, traced = false), Map.empty[String, Metric], Nil)
      else {
        val probeRows = if (tiny) 2000000L else 40000000L
        val plain = wl.measure(spark, seconds / 2, traced = false)
        val listener = new ExecListener
        val probeBefore = Session.calProbe(spark, cpus, probeRows)
        spark.sparkContext.addSparkListener(listener)
        Trace.enabled = true
        val traced = wl.measure(spark, seconds / 2, traced = true)
        Trace.enabled = false
        val exec = listener.snapshot(spark)
        spark.sparkContext.removeSparkListener(listener)
        val probeAfter = Session.calProbe(spark, cpus, probeRows)
        val extra = companion.map { c =>
          c.setup(spark)
          c.warm(spark)
          val l = new ExecListener
          spark.sparkContext.addSparkListener(l)
          Trace.enabled = true
          val m = c.measure(spark, seconds / 2, traced = true)
          Trace.enabled = false
          spark.sparkContext.removeSparkListener(l)
          m
        }
        Trace.dump(s"$work/trace-$workload-$seed.json")
        val base = plain.e2e("lat_p50_ms").value
        val overheadPct = 100.0 * (traced.e2e("lat_p50_ms").value - base) / base
        val host = Map(
          "host.cal_probe_s" -> Metric((probeBefore + probeAfter) / 2, "s", 2),
          "trace.overhead_pct" -> Metric(overheadPct, "%", 2),
          "trace.spans" -> Metric(Trace.all.size, "count"))
        val merged = Measurement(plain.attempted + traced.attempted + extra.map(_.attempted).sum,
          plain.failed + traced.failed + extra.map(_.failed).sum, traced.e2e, traced.layers,
          traced.report ++ extra.map(_.report).getOrElse(Map.empty),
          plain.notes ++ traced.notes ++ extra.toSeq.flatMap(_.notes))
        (merged, traced.layers ++ exec ++ host ++ extra.map(_.layers).getOrElse(Map.empty),
          Seq(f"tracing overhead: lat_p50_ms untraced $base%.3f, traced " +
            f"${traced.e2e("lat_p50_ms").value}%.3f ($overheadPct%+.1f%%)"))
      }
    phase("measured")
    // context for noise: JIT and GC work that fell inside the measured window
    val jitNote = f"jvm: ${jit.getTotalCompilationTime - jitMs0}%d ms compiling and " +
      f"${gcMs() - gcMs0}%d ms in GC during the ${(System.nanoTime() - window0) / 1e9}%.1f s window"
    spark.stop()
    phase("session stopped")
    val context = if (trace) wl.hostContext(cpus, work) else Map.empty[String, Metric]

    val out = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "seed" -> seed.toString,
      "attempted" -> main.attempted.toString,
      "failed" -> main.failed.toString,
      "e2e" -> Json.metrics(main.e2e + setupMetric),
      "layers" -> Json.metrics(layers ++ context),
      "report" -> Json.metrics(main.report),
      "notes" -> (main.notes ++ overheadNotes :+ jitNote).map(Json.str).mkString("[", ", ", "]")))
    Json.write(s"$work/result.json", out + "\n")
    phase("result written")
  }
}
