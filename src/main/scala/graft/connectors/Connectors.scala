package graft.connectors

import org.apache.spark.sql.{DataFrame, Dataset, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Connector analogues for the reference's declared external-system surface
  * (SURVEY.md §2.B): JDBC (D4 — mysql-connector-java, study/pom.xml:103-107),
  * keyed KV sinks standing in for Redis/HBase (D2/D3 — study/pom.xml:63-67,
  * 113-141), and a rate-source pipeline standing in for the Kafka connector
  * (D1 — study/pom.xml:80-89; the Kafka jar is absent offline, so the source
  * format is a parameter and `rate` is the test default).
  */
object Jdbc {

  /** Batch JDBC read — Spark's built-in partitioned JDBC source. At scale,
    * `partitionColumn/lowerBound/upperBound/numPartitions` shard the table
    * across executors; without them the read is single-task (never acceptable
    * for a big table). No live database SERVER exists in this environment;
    * the suite exercises the full write→read loop end-to-end against
    * embedded Derby (ships with Spark), including the partitioned-read path
    * — a real deployment only swaps the url. */
  def read(s: SparkSession, url: String, table: String,
      partitionColumn: Option[String] = None,
      bounds: Option[(Long, Long)] = None,
      numPartitions: Int = 8,
      props: Map[String, String] = Map.empty): DataFrame = {
    require(url.startsWith("jdbc:"), s"not a JDBC url: $url")
    val r = s.read.format("jdbc")
      .option("url", url).option("dbtable", table)
      .options(props)
    (partitionColumn, bounds) match {
      case (Some(c), Some((lo, hi))) =>
        r.option("partitionColumn", c).option("lowerBound", lo)
          .option("upperBound", hi).option("numPartitions", numPartitions)
          .load()
      case _ => r.load()
    }
  }

  /** Batch JDBC write; `batchsize` keeps round trips amortized. */
  def write(df: DataFrame, url: String, table: String,
      mode: SaveMode = SaveMode.Append,
      props: Map[String, String] = Map.empty): Unit = {
    require(url.startsWith("jdbc:"), s"not a JDBC url: $url")
    df.write.format("jdbc").mode(mode)
      .option("url", url).option("dbtable", table)
      .option("batchsize", "10000")
      .options(props).save()
  }
}

/** Keyed upsert sink — the semantic of the reference's declared Redis/HBase
  * sinks (last-write-wins per key). `foreachBatch` is the Spark-idiomatic
  * adapter: each micro-batch is a DataFrame the store implementation upserts
  * transactionally-enough for the target system. The parquet-backed
  * implementation is the offline stand-in: a real deployment would swap in a
  * Redis/HBase client inside `upsert` without touching the pipeline. */
trait KeyValueStore {
  def upsert(batch: DataFrame, keyCol: String): Unit
  def snapshot(s: SparkSession): DataFrame
}

/** Parquet-backed KV store: keeps exactly one row per key (max version wins
  * within a batch by `orderCol` desc; exact (key, orderCol) ties break on a
  * row-content hash so replays pick the same winner). Not concurrent — a
  * test/demo stub. */
class ParquetKeyValueStore(dir: String, orderCol: String) extends KeyValueStore {
  override def upsert(batch: DataFrame, keyCol: String): Unit = {
    val s = batch.sparkSession
    // only ABSENCE of prior state may fall back to empty: a transient read
    // failure must fail the micro-batch, not silently drop all stored keys.
    // The probe goes through the Hadoop filesystem API so it resolves the
    // same schemes the parquet reader does (file:/, hdfs://, s3a://) — a
    // java.io.File check is local-only and would report every remote store
    // absent, overwriting it with just this batch's keys.
    val p = new org.apache.hadoop.fs.Path(dir)
    val exists = p.getFileSystem(s.sparkContext.hadoopConfiguration).exists(p)
    val current = if (exists) s.read.parquet(dir) else batch.limit(0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCol).orderBy(col(orderCol).desc,
        graft.api.Graft.rowContentHash(batch).asc)
    val merged = current.unionByName(batch)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    // rewrite via a temp dir: parquet can't be read and overwritten in place
    val tmp = dir + ".tmp"
    merged.write.mode(SaveMode.Overwrite).parquet(tmp)
    val s2 = merged.sparkSession
    s2.read.parquet(tmp).write.mode(SaveMode.Overwrite).parquet(dir)
  }
  override def snapshot(s: SparkSession): DataFrame = s.read.parquet(dir)
}

/** JDBC-backed KV store (same last-write-wins contract as the parquet
  * stand-in, against a real database through a real JDBC url): each
  * micro-batch merges with the current table state and rewrites the table.
  * The merge is materialized (localCheckpoint) BEFORE the overwrite — Spark
  * JDBC overwrite drops the table first, and the merged plan still reads it.
  * Exercised end-to-end on embedded Derby in the suite; a server deployment
  * would instead push per-row UPSERT/MERGE statements inside foreachPartition
  * to avoid the rewrite — this implementation keeps the whole loop in
  * Spark-planned operations. */
class JdbcKeyValueStore(url: String, table: String, orderCol: String)
    extends KeyValueStore {

  /** Table-existence probe via a zero-row query, NOT getTables patterns: a
    * metadata pattern treats '_'/'%' as wildcards ('kv_state' matches
    * 'kv1state'), a schema-qualified name ('app.kv', valid as a Spark
    * dbtable) never matches the table-name pattern, and the standard
    * escape is unusable in practice (Derby returns "" from
    * getSearchStringEscape and honors no escape). `SELECT 1 FROM <table>
    * WHERE 1=0` resolves the name exactly the way the reads/writes will.
    * A table-not-found SQLState means absence. An UNRECOGNIZED (or null)
    * SQLState — drivers like SQLite report nonstandard states — falls back
    * to a getTables disambiguation (ADVICE r7): if metadata can't see the
    * escaped name either, the table is absent; if it CAN, the probe failure
    * was something else (lock timeout, permissions) and PROPAGATES — only
    * confirmed absence may initialize empty state. The identifier is
    * validated against an ident-chars whitelist before interpolation. */
  private def tableExists(): Boolean = {
    // table-not-found SQLStates: Derby 42X05, MySQL/ANSI 42S02,
    // Postgres 42P01, DB2 42704, ODBC-era S0002
    val notFound = Set("42X05", "42S02", "42P01", "42704", "S0002")
    require(table.matches("""[A-Za-z0-9_.]+"""),
      s"table identifier must be dotted plain identifiers, got: $table")
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      try { st.executeQuery(s"SELECT 1 FROM $table WHERE 1=0").close(); true }
      catch {
        case e: java.sql.SQLException
            if e.getSQLState != null && notFound.contains(e.getSQLState) =>
          false
        case e: java.sql.SQLException =>
          if (metadataSeesTable(conn)) throw e else false
      } finally st.close()
    } finally conn.close()
  }

  /** getTables fallback used ONLY when the probe's SQLState is unrecognized:
    * applies the driver's search-string escape (when it honors one) to
    * neutralize '_'/'%' wildcards, and checks the stored-case conventions
    * (as-is / UPPER / lower) since drivers fold unquoted identifiers
    * differently. */
  private def metadataSeesTable(conn: java.sql.Connection): Boolean = {
    val md = conn.getMetaData
    val parts = table.split("\\.")
    val (schema, name) =
      if (parts.length == 2) (Option(parts(0)), parts(1)) else (None, table)
    val esc = Option(md.getSearchStringEscape).getOrElse("")
    def escapePat(p: String): String =
      if (esc.isEmpty) p
      else p.replace(esc, esc + esc).replace("_", esc + "_").replace("%", esc + "%")
    Seq(name, name.toUpperCase, name.toLowerCase).distinct.exists { n =>
      val rs = md.getTables(null, schema.map(escapePat).orNull, escapePat(n), null)
      try rs.next() finally rs.close()
    }
  }

  override def upsert(batch: DataFrame, keyCol: String): Unit = {
    val s = batch.sparkSession
    // Explicit existence check, NOT a Try around the read: swallowing every
    // read failure (lock timeout, dropped connection) as "table missing"
    // would make the subsequent Overwrite rewrite the table with only this
    // batch's keys — destroying all previously stored state. Now a transient
    // failure fails the micro-batch (retryable); only genuine first-batch
    // absence initializes empty.
    val current =
      if (tableExists()) Jdbc.read(s, url, table) else batch.limit(0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCol).orderBy(col(orderCol).desc,
        graft.api.Graft.rowContentHash(batch).asc)
    val merged = current.unionByName(batch)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
      .localCheckpoint(true)
    Jdbc.write(merged, url, table, SaveMode.Overwrite)
  }
  override def snapshot(s: SparkSession): DataFrame = Jdbc.read(s, url, table)
}

object KeyValueSink {
  /** The query's checkpoint: under `graft.Scoped.dir`, not in a
    * `temporary-*` dir under java.io.tmpdir that Spark keeps whenever the
    * query fails. */
  def checkpoint(s: SparkSession, queryName: String): String =
    graft.Scoped.dir(s, "graft_kv_sink", queryName)

  /** Attaches a keyed-upsert foreachBatch sink to a streaming DataFrame. Its
    * [[checkpoint]] is removed before the start, so each start reads the
    * stream from its beginning; the caller removes it after the stop. */
  def start(stream: DataFrame, store: KeyValueStore, keyCol: String,
      queryName: String): StreamingQuery = {
    val ckpt = checkpoint(stream.sparkSession, queryName)
    graft.Scoped.rm(ckpt)
    stream.writeStream
      .queryName(queryName)
      .outputMode("update")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        store.upsert(batch.toDF(), keyCol)
      }
      .start()
  }
}

/** Kafka-connector stand-in (D1): the source format is a parameter; offline
  * tests use the built-in `rate` source (monotonic timestamps + values — the
  * same unbounded-append shape a Kafka topic presents). With the Kafka jar on
  * the classpath the same pipeline runs with
  * `format("kafka").option("subscribe", ...)` unchanged. */
object RatePipeline {
  def wordsPerSecond(s: SparkSession, rowsPerSecond: Int): DataFrame =
    s.readStream.format("rate")
      .option("rowsPerSecond", rowsPerSecond.toString)
      .load()
      .withColumn("word", concat(lit("w"), (col("value") % 7).cast("string")))
      .groupBy("word")
      .agg(count(lit(1)).as("n"))
}
