package graft

import java.io.{File, IOException}
import java.net.URI
import java.nio.file.{Files, InvalidPathException, Path => JPath}
import java.nio.file.attribute.PosixFilePermission
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local file system with its two per-file process forks
  * replaced by `java.nio` calls.
  *
  * Without the native Hadoop library (`libhadoop`), `RawLocalFileSystem`
  * forks `chmod` to set the mode of every file and directory it creates,
  * and `readlink` for every `getFileLinkStatus`. A streaming query's
  * micro-batch writes an offset log, a commit log and one state delta per
  * state partition, each with a `.crc` sidecar, and Spark's checkpoint file
  * manager renames each into place through `FileContext`, which asks for
  * the link status of both ends. One 10 s run of the benchmark's
  * `wordcount_stream` (4-core host) forked 1,286 `chmod` and 4,925
  * `readlink` processes; with this class it forks neither, and over 20
  * interleaved pairs of runs its median `lat_p50_ms` fell from 484 to
  * 239 ms. Each `readlink` is given the qualified `file:/…` name, so it
  * fails and returns "" every time.
  *
  * Here `setPermission` calls `Files.setPosixFilePermissions`, and
  * `getFileLinkStatus` reads the target with `Files.readSymbolicLink` on
  * `new File(f.toString)`, the name `FileUtil.readLink` hands to
  * `readlink`; an empty target returns `getFileStatus(f)`, as Hadoop does.
  *
  * Where `java.nio` cannot do what the fork does, the call goes to `super`,
  * so the result stays that of `RawLocalFileSystem`:
  *  - a mode with the sticky bit, which NIO cannot set;
  *  - a directory with a set-user-ID or set-group-ID bit (GNU `chmod 0755`
  *    keeps it on a directory, `chmod(2)` clears it), or a path that does
  *    not exist (the error is `chmod`'s);
  *  - a real symlink, whose status `super` builds from `readlink`.
  *
  * `src/main/resources/core-site.xml` makes this the `file:` scheme of every
  * JVM with the program on its classpath, through [[NioLocalFileSystem]]
  * (`FileSystem`) and [[NioLocalFs]] (`FileContext`). Under Spark's default
  * parent-first class loading, a cluster's `HADOOP_CONF_DIR/core-site.xml`
  * comes first on the classpath and wins, which makes that file inert there.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val path = pathToFile(p).toPath
    if (permission.getStickyBit || needsChmod(path)) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(path, NioRawLocalFileSystem.posix(permission.toShort))
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (NioRawLocalFileSystem.readLink(f).isEmpty) getFileStatus(f)
    else super.getFileLinkStatus(f)

  /** A directory with set-id bits, or a missing path. */
  private def needsChmod(path: JPath): Boolean =
    try {
      val mode = Files.getAttribute(path, "unix:mode").asInstanceOf[Int]
      (mode & 0xf000) == 0x4000 && (mode & 0xc00) != 0
    } catch { case _: IOException => true }
}

object NioRawLocalFileSystem {
  /** Owner rwx, group rwx, others rwx: mode bits 8 down to 0. */
  private val bits = PosixFilePermission.values.toSeq

  private def posix(mode: Int): java.util.Set[PosixFilePermission] =
    bits.zipWithIndex.collect { case (b, i) if (mode >> (8 - i) & 1) == 1 => b }.toSet.asJava

  /** `FileUtil.readLink` without the fork: the link target, or "". */
  private def readLink(f: Path): String =
    try Files.readSymbolicLink(new File(f.toString).toPath).toString.trim
    catch { case _: IOException | _: InvalidPathException => "" }
}

/** `fs.file.impl`: Hadoop's `LocalFileSystem` (the `.crc`-checksummed
  * `FileSystem`) over [[NioRawLocalFileSystem]]. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`: Hadoop's `local.LocalFs` (checksummed
  * `local.RawLocalFs`) over [[NioRawLocalFileSystem]], for `FileContext`
  * users such as Spark's streaming checkpoint file manager. Like `LocalFs`
  * it ignores `uri` and serves `file:///`. Spark's
  * `CheckpointFileManager.isLocal` reads false for it; Spark 4.1 never asks. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(conf))

/** `local.RawLocalFs` over [[NioRawLocalFileSystem]], with its overrides. */
private[graft] class NioRawLocalFs(conf: Configuration) extends DelegateToFileSystem(
    FsConstants.LOCAL_FS_URI, new NioRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme,
    false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  @deprecated("as in local.RawLocalFs", "")
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
