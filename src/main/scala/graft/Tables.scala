package graft

import java.util.concurrent.ConcurrentHashMap
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated test tables (see FIXTURES.md).
  *
  * Every query in the engine takes `(SparkSession, sfDir)` and resolves its
  * inputs through these helpers, so the same operator graph runs unchanged at
  * sf0.001 (smoke), sf0.01 (DuckDB-oracle correctness) and sf0.1 (bench) — and,
  * by design, on a real cluster against arbitrarily large parquet directories:
  * nothing here assumes a row count, only a schema.
  *
  * Scale note (100 TB design): these are plain parquet scans, so Catalyst
  * pushes filters and prunes columns into the scan (`PushedFilters`,
  * `ReadSchema` in `.explain`); partition-level parallelism comes from
  * `spark.sql.files.maxPartitionBytes` splitting, not from anything we do here.
  *
  * Schema memo: a schema-less `spark.read.parquet` infers the schema in a
  * Spark job of its own (one stage, one task, reading the footer) every time
  * a DataFrame is built. One round of the 22 TPC-H rows at sf0.01 ran 211
  * jobs, 73 of them this inference, and its median query took 730 ms
  * (4-core host). `load` therefore infers a table's schema once per session
  * and passes it to every later read, which starts no job: the round runs
  * 138 jobs and its median query takes 507 ms. The memo is weakly keyed by
  * the session, so a stopped session drops out and the confs that shape
  * inference (`inferTimestampNTZ`, `nanosAsLong`, ...) stay per session;
  * inside a session it is keyed by path, modification time and length, so
  * a rewritten file is inferred again.
  */
object Tables {
  /** The one session the mains run on: `local[$SPARK_GRAFT_CPUS]` (default
    * 4) unless spark-submit already set `spark.master`, one shuffle
    * partition per core, UTC, no UI, and `nanosAsLong` so `events` loads. */
  private[graft] def session(appName: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .appName(appName)
      .master(sys.props.getOrElse("spark.master", s"local[$cpus]"))
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Runs `body` on `session(appName)`, then stops that session only if this
    * call created it: a main called in a JVM that already runs a session (a
    * test suite, a notebook) leaves the caller's session running. */
  private[graft] def withSession[T](appName: String)(body: SparkSession => T): T = {
    val existing = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
    val spark = session(appName)
    try body(spark) finally if (!existing.exists(_ eq spark)) spark.stop()
  }

  private case class FileKey(path: String, mtime: Long, length: Long)
  private val schemas = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[FileKey, StructType]]())

  /** The parquet schema of fixture `name`, inferred once per session and
    * file version; the stream reads of `graft.streaming` share it. */
  private[graft] def schema(spark: SparkSession, sfDir: String, name: String): StructType = {
    val path = file(sfDir, name)
    val hPath = new Path(path)
    val st = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(hPath)
    schemas.computeIfAbsent(spark, _ => new ConcurrentHashMap[FileKey, StructType]())
      .computeIfAbsent(FileKey(path, st.getModificationTime, st.getLen),
        _ => spark.read.parquet(path).schema)
  }

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.schema(schema(spark, sfDir, name)).parquet(file(sfDir, name))

  private def file(sfDir: String, name: String): String = s"$sfDir/$name.parquet"

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame = eventsTs(load(s, d, "events"))

  /** events.ts is parquet TIMESTAMP(NANOS), which Spark's vectorized reader
    * rejects ([PARQUET_TYPE_ILLEGAL]). With
    * `spark.sql.legacy.parquet.nanosAsLong=true` (set by `session` and the
    * test sessions) the column arrives as LongType nanos; convert to
    * microsecond TIMESTAMP_NTZ here — `DIV 1000` is integer division (floor),
    * matching DuckDB's own nanos→micros truncation, and NTZ matches the
    * naive timestamps DuckDB reads, so oracle comparisons line up exactly.
    * The batch read above and the stream read of `events` both go through
    * this one conversion. */
  private[graft] def eventsTs(raw: DataFrame): DataFrame =
    if (raw.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      raw.withColumn("ts", expr("CAST(timestamp_micros(ts DIV 1000) AS TIMESTAMP_NTZ)"))
    else raw
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
