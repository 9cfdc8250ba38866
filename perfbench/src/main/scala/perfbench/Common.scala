package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Order statistics over raw samples (linear interpolation between ranks). */
object Stats {
  def quantile(xs: collection.Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.toArray.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: collection.Seq[Double]): Double = quantile(xs, 0.5)
}

/** One reported metric: raw value, unit and how many samples it summarizes. */
final case class Metric(value: Double, unit: String, samples: Long = 1L)

/** Minimal JSON rendering for the flat result objects the benchmark emits. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def metrics(ms: collection.Map[String, Metric]): String =
    obj(ms.toSeq.sortBy(_._1).map { case (k, m) =>
      k -> obj(Seq("value" -> num(m.value), "unit" -> str(m.unit),
        "samples" -> m.samples.toString))
    })
  def write(path: String, text: String): Unit =
    Files.write(new File(path).toPath, text.getBytes(StandardCharsets.UTF_8))
}

/** In-memory spans for the traced run: name, start, end, parent, trace id.
  * Spans nest per thread; self time is a span minus its children. Nothing
  * is recorded unless `enabled`, so the untraced path only pays a flag read. */
object Trace {
  final case class Span(id: Int, parent: Int, traceId: Long, name: String,
      startNs: Long, var endNs: Long = 0L, var childNs: Long = 0L) {
    def durNs: Long = endNs - startNs
    def selfNs: Long = durNs - childNs
  }
  @volatile var enabled = false
  private val spans = ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Span]] { override def initialValue() = Nil }
  private var traceId = 0L

  /** Starts a new trace: the next top-level spans share its id. */
  def newTrace(): Unit = synchronized { traceId += 1 }

  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val parent = stack.get().headOption
      val s = synchronized {
        val sp = Span(spans.size, parent.map(_.id).getOrElse(-1), traceId, name, System.nanoTime())
        spans += sp; sp
      }
      stack.set(s :: stack.get())
      try f
      finally {
        s.endNs = System.nanoTime()
        stack.set(stack.get().tail)
        parent.foreach(p => p.childNs += s.durNs)
      }
    }

  def all: Seq[Span] = synchronized(spans.toList)

  /** Median self time (seconds) of the spans with this name. */
  def selfSecondsP50(name: String): Double =
    Stats.median(all.filter(_.name == name).map(_.selfNs / 1e9))

  def dump(path: String): Unit = {
    val t0 = all.headOption.map(_.startNs).getOrElse(0L)
    Json.write(path, all.map { s =>
      Json.obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString,
        "trace" -> s.traceId.toString, "name" -> Json.str(s.name),
        "start_us" -> ((s.startNs - t0) / 1000).toString,
        "end_us" -> ((s.endNs - t0) / 1000).toString,
        "self_us" -> (s.selfNs / 1000).toString))
    }.mkString("[\n", ",\n", "\n]\n"))
  }
}

/** Executor, shuffle and scheduler counters summed from task-end events. */
final class ExecListener extends SparkListener {
  @volatile var jobs, stages, tasks, taskFailures = 0L
  @volatile var runMs, cpuNs, waitMs, gcMs, peakMem = 0L
  @volatile var shuffleWrite, shuffleRead, fetchWaitMs, spillDisk = 0L
  @volatile var inputBytes, inputRows = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    ExecListener.jobsSeen += 1
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized { stages += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    if (e.reason != org.apache.spark.Success) taskFailures += 1
    val m = e.taskMetrics
    if (m != null) {
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      peakMem = math.max(peakMem, m.peakExecutionMemory)
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      spillDisk += m.diskBytesSpilled
      inputBytes += m.inputMetrics.bytesRead
      inputRows += m.inputMetrics.recordsRead
      val info = e.taskInfo
      val wall = info.finishTime - info.launchTime
      waitMs += math.max(0L, wall - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime)
    }
  }

  /** The counters after every event posted so far has been delivered. */
  def snapshot(spark: SparkSession): Map[String, Metric] = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    synchronized {
      Map(
        "exec.jobs" -> Metric(jobs, "count"),
        "exec.stages" -> Metric(stages, "count"),
        "exec.tasks" -> Metric(tasks, "count"),
        "exec.task_run_s" -> Metric(runMs / 1e3, "s", tasks),
        "exec.task_cpu_s" -> Metric(cpuNs / 1e9, "s", tasks),
        "exec.task_wait_s" -> Metric(waitMs / 1e3, "s", tasks),
        "exec.gc_s" -> Metric(gcMs / 1e3, "s", tasks),
        "exec.peak_mem_bytes" -> Metric(peakMem, "bytes", tasks),
        "exec.task_failures" -> Metric(taskFailures, "count"),
        "shuffle.write_bytes" -> Metric(shuffleWrite, "bytes", tasks),
        "shuffle.read_bytes" -> Metric(shuffleRead, "bytes", tasks),
        "shuffle.fetch_wait_s" -> Metric(fetchWaitMs / 1e3, "s", tasks),
        "spill.disk_bytes" -> Metric(spillDisk, "bytes", tasks),
        "scan.input_bytes" -> Metric(inputBytes, "bytes", tasks),
        "scan.input_rows" -> Metric(inputRows, "rows", tasks))
    }
  }
}

object ExecListener {
  @volatile private var jobsSeen = 0L
  /** Jobs started so far under any attached listener, all events delivered. */
  def jobs(spark: SparkSession): Long = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    jobsSeen
  }
}

/** Local Spark sessions confined to the benchmark's work directory. */
object Session {
  def create(cpus: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.default.parallelism", cpus.toLong)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000000")
      .config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/tmp")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The fixed hash + shuffle probe (as in graft.Bench): context for host
    * speed, never used to scale a reported value. */
  def calProbe(spark: SparkSession, cpus: Int, rows: Long): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, rows, 1L, cpus)
      .selectExpr("pmod(xxhash64(id), 1000) AS k")
      .groupBy("k").count().count()
    (System.nanoTime() - t0) / 1e9
  }

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete()
  }
}
