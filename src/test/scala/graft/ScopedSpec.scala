package graft

import java.nio.file.{Files, LinkOption, Paths}
import org.apache.spark.sql.GraftShims

/** graft.Scoped: where a row's scratch lives, how it is removed, and how a
  * borrowed session conf is given back. */
class ScopedSpec extends SparkSpec {

  test("Scoped.dir keeps /data/sf1 apart from /data_sf1 and '..' under its root") {
    val name = "graft_scoped_spec"
    assert(Scoped.dir(spark, name, "/data/sf1") != Scoped.dir(spark, name, "/data_sf1"))
    val root = Paths.get(GraftShims.localDir(spark.sparkContext), name,
      spark.sparkContext.applicationId)
    for (d <- Seq("/data/sf1", "/data_sf1", "..", ".", "../..")) {
      val p = Paths.get(Scoped.dir(spark, name, d))
      assert(p.normalize().getParent == root, s"$d -> $p is not a child of $root")
    }
  }

  test("Scoped.rm removes a symlink, never the directory it points at") {
    val target = Paths.get(Scoped.dir(spark, "graft_scoped_spec", "target"))
    Files.createDirectories(target)
    Files.write(target.resolve("part-0.parquet"), Array[Byte](1, 2, 3))
    val scratch = Paths.get(Scoped.dir(spark, "graft_scoped_spec", "links"))
    Files.createDirectories(scratch)
    Files.createSymbolicLink(scratch.resolve("events.parquet"), target)
    Scoped.rm(scratch.toString)
    assert(!Files.exists(scratch, LinkOption.NOFOLLOW_LINKS))
    assert(Files.exists(target.resolve("part-0.parquet")))
  }

  test("sql_scripting leaves spark.sql.scripting.enabled as it found it") {
    val key = "spark.sql.scripting.enabled"
    spark.conf.unset(key)
    def state = (spark.conf.getAll.get(key), spark.conf.getOption(key))
    val before = state
    queries.Modern.sqlScripting(spark, sf).collect()
    assert(state == before)
  }

  test("Scoped.conf restores a set key and unsets an unset one when body throws") {
    val set = "spark.sql.shuffle.partitions"
    val unset = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.get(set)
    spark.conf.unset(unset)
    intercept[IllegalStateException] {
      Scoped.conf(spark, set, "1") {
        Scoped.conf(spark, unset, "x.Provider") {
          assert(spark.conf.get(set) == "1" && spark.conf.get(unset) == "x.Provider")
          throw new IllegalStateException("body failed")
        }
      }
    }
    assert(spark.conf.get(set) == prev)
    assert(!spark.conf.getAll.contains(unset))
  }
}
