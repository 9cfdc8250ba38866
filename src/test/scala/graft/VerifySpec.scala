package graft

import com.fasterxml.jackson.databind.ObjectMapper
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** graft.Verify: the named-row dump and the oracle_sql.json it writes. */
class VerifySpec extends SparkSpec {

  test("Verify dumps a named row and an oracle_sql.json that parses back equal") {
    val out = Scoped.dir(spark, "graft_verify_spec", "named")
    Verify.dump(spark, sf, out, Verify.select(Seq("word_count")))
    assert(Files.isDirectory(Paths.get(out, "word_count")))
    assert(spark.read.parquet(s"$out/word_count").count() > 0)
    val json = new ObjectMapper().readValue(
      Paths.get(out, "oracle_sql.json").toFile, classOf[java.util.Map[String, String]])
    assert(json.asScala.toMap == SparkEntry.oracleSql)
  }

  test("Verify rejects an unknown name before it writes anything") {
    val out = Scoped.dir(spark, "graft_verify_spec", "unknown")
    val e = intercept[IllegalArgumentException] {
      Verify.main(Array(sf, out, "word_count", "no_such_query"))
    }
    assert(e.getMessage.contains("no_such_query"))
    assert(!Files.exists(Paths.get(out)))
  }

  test("a failed row is returned by dump and makes main throw, naming it") {
    val empty = Scoped.dir(spark, "graft_verify_spec", "empty_sf")
    Files.createDirectories(Paths.get(empty))
    val out = Scoped.dir(spark, "graft_verify_spec", "failed")
    assert(Verify.dump(spark, empty, out, Seq("word_count")) == Seq("word_count"))
    assert(Files.exists(Paths.get(out, "oracle_sql.json")))
    val e = intercept[IllegalStateException] {
      Verify.main(Array(empty, out, "word_count"))
    }
    assert(e.getMessage.contains("word_count"))
    // main ran on the suite's session, so it must leave it running
    assert(!spark.sparkContext.isStopped)
  }
}
