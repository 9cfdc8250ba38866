package graft
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * `runMain graft.Verify <sfDir> <outDir> [query...]`: with no names every
  * registry row is dumped; with names only those dirs are rewritten (the
  * fast loop while one oracle is being fixed). oracle_sql.json is always
  * refreshed, so `tools/check.py` can re-rule either way. */
object Verify {
  /** Every registry row, or just the named ones; an unknown name fails here,
    * before any session or output exists. */
  private[graft] def select(names: Seq[String]): Seq[String] = {
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    if (names.isEmpty) SparkEntry.queries.keys.toSeq else names.distinct
  }

  /** Dumps every named row, keeps going past a failed one, always writes
    * oracle_sql.json, and returns the names that failed. */
  private[graft] def dump(spark: SparkSession, sfDir: String, outDir: String,
      names: Seq[String]): Seq[String] = {
    new java.io.File(outDir).mkdirs()
    val failed = names.filter { name =>
      try {
        SparkEntry.queries(name)(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        false
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        true
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      new ObjectMapper().writeValueAsString(SparkEntry.oracleSql.asJava))
    failed
  }

  /** Throws, naming every failed row, so a failure ends the run non-zero. */
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Verify <sfDir> <outDir> [query...]")
    val names = select(args.drop(2).toSeq)
    val failed = Tables.withSession("graft-verify")(dump(_, args(0), args(1), names))
    if (failed.nonEmpty)
      throw new IllegalStateException(
        s"${failed.size} of ${names.size} rows failed: ${failed.mkString(", ")}")
  }
}
