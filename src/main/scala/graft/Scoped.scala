package graft

import java.io.IOException
import java.nio.file.{FileVisitResult, Files, LinkOption, Path, Paths, SimpleFileVisitor}
import java.nio.file.attribute.BasicFileAttributes
import org.apache.spark.sql.{GraftShims, SparkSession}

/** Everything a registry row borrows from its session and must give back:
  * scratch directories (where they live, how they are removed, and how a
  * build-once artifact in one is committed) and session conf overrides. */
private[graft] object Scoped {
  private val cleanupRoots = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** App-unique, dataset-unique scratch directory
    * `<local dir>/<name>/<app id>/<sanitized d>_<md5 prefix of d>`.
    * The local dir is Spark's own (SPARK_LOCAL_DIRS, then spark.local.dir,
    * then java.io.tmpdir), so a session confined to a work dir keeps its
    * scratch there. Sanitizing alone maps distinct dirs (/data/sf1,
    * /data_sf1) to one key, so the md5 of the raw path disambiguates; the
    * suffix also keeps a relative `d` such as ".." from naming a parent.
    * The app-id tree is removed at JVM exit, so each session cleans only
    * its own tree and concurrent sessions never share a path. */
  def dir(s: SparkSession, name: String, d: String): String = {
    val root = Paths.get(GraftShims.localDir(s.sparkContext), name,
      s.sparkContext.applicationId).toString
    if (cleanupRoots.add(root))
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        try rm(root) catch { case _: IOException => () }))
    val pathHash = java.security.MessageDigest.getInstance("MD5")
      .digest(d.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
    s"$root/${d.replaceAll("[^A-Za-z0-9.]", "_")}_$pathHash"
  }

  /** The commit marker `once` writes into an artifact directory. */
  val built = "_BUILT"

  private val buildLock = new Object

  /** Build-once artifact `dir(s, name, d)`: state a registry row trains once
    * per (session, dataset) and then serves at rest. Under one JVM lock
    * (other sessions never share the path, see `dir`), a directory without
    * the `built` marker is removed, `build` fills it, and the marker is
    * written only after `build` returns. A build that throws or is cut off
    * leaves no marker, so the next call starts again from an empty
    * directory and a torn artifact is never served. Returns the directory. */
  def once(s: SparkSession, name: String, d: String)(build: String => Unit): String = {
    val path = dir(s, name, d)
    buildLock.synchronized {
      val marker = Paths.get(path, built)
      if (!Files.exists(marker)) {
        rm(path)
        Files.createDirectories(Paths.get(path))
        build(path)
        Files.createFile(marker)
      }
    }
    path
  }

  /** Recursive delete that never follows symlinks: a link is removed, its
    * target (a staged source table, say) is left intact. No-op when `path`
    * does not exist. */
  def rm(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p, LinkOption.NOFOLLOW_LINKS))
      Files.walkFileTree(p, new SimpleFileVisitor[Path] {
        override def visitFile(f: Path, a: BasicFileAttributes): FileVisitResult = {
          Files.delete(f); FileVisitResult.CONTINUE
        }
        override def postVisitDirectory(dir: Path, e: IOException): FileVisitResult = {
          if (e != null) throw e
          Files.delete(dir); FileVisitResult.CONTINUE
        }
      })
  }

  /** Runs `body` with session conf `key` set to `value`, then restores the
    * previous value — or unsets `key` if it was unset — also when `body`
    * throws. */
  def conf[T](s: SparkSession, key: String, value: String)(body: => T): T = {
    val prev = s.conf.getAll.get(key) // explicitly set values only, no defaults
    s.conf.set(key, value)
    try body
    finally prev.fold(s.conf.unset(key))(s.conf.set(key, _))
  }
}
