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

  private[graft] def dump(spark: SparkSession, sfDir: String, outDir: String,
      names: Seq[String]): Unit = {
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      try SparkEntry.queries(name)(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      new ObjectMapper().writeValueAsString(SparkEntry.oracleSql.asJava))
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Verify <sfDir> <outDir> [query...]")
    val names = select(args.drop(2).toSeq)
    val spark = Tables.session("graft-verify")
    try dump(spark, args(0), args(1), names) finally spark.stop()
  }
}
