package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Try
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** The program's `file:` scheme ([[NioRawLocalFileSystem]] and its two
  * wrappers) against Hadoop's stock `RawLocalFileSystem`: resolution, mode
  * bits, link status, and a restarted streaming word count's checkpoint. */
class LocalFsSpec extends SparkSpec {
  import spark.implicits._

  private val local = URI.create("file:///")
  private lazy val base = Files.createDirectories(
    Paths.get(Scoped.dir(spark, "graft_localfs", getClass.getSimpleName)))

  private def raw(fs: RawLocalFileSystem): RawLocalFileSystem = {
    fs.initialize(local, new Configuration()); fs
  }

  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  /** Every field of a status but its identity; `equals` compares paths only. */
  private def fields(st: FileStatus) =
    (st.getPath, st.isFile, st.isDirectory, st.isSymlink, Try(st.getSymlink).toOption,
      st.getLen, st.getModificationTime, st.getPermission, st.getOwner, st.getGroup)

  test("file: resolves to the program's classes through FileSystem.get and FileContext") {
    for (conf <- Seq(new Configuration(), spark.sessionState.newHadoopConf())) {
      val fs = FileSystem.get(local, conf)
      assert(fs.isInstanceOf[NioLocalFileSystem], fs.getClass)
      assert(FileSystem.getLocal(conf).getRaw.isInstanceOf[NioRawLocalFileSystem])
      val afs = FileContext.getFileContext(local, conf).getDefaultFileSystem
      assert(afs.isInstanceOf[NioLocalFs], afs.getClass)
    }
  }

  test("create, mkdirs and setPermission give the stock mode bits, sticky and set-group-ID dirs included") {
    def perm(octal: String) = new FsPermission(Integer.parseInt(octal, 8).toShort)
    def modes(fs: RawLocalFileSystem, dir: String): Map[String, String] = {
      val root = Files.createDirectories(base.resolve(dir))
      val setgid = Files.createDirectories(root.resolve("setgid"))
      // GNU chmod 0755 keeps a directory's set-group-ID bit; chmod(2) clears it
      new ProcessBuilder("chmod", "2755", setgid.toString).start().waitFor()
      val made = Seq("644", "640", "755").map { m =>
        val p = root.resolve(s"f$m")
        fs.create(new Path(p.toUri), perm(m), true, 4096, 1.toShort, 1L << 25, null).close()
        p
      } ++ Seq("d755", "d1777", "setgid/d755").map { d =>
        val p = root.resolve(d)
        assert(fs.mkdirs(new Path(p.toUri), perm("755")))
        p
      }
      // mkdirs drops the sticky bit with the umask; only setPermission sets it
      fs.setPermission(new Path(root.resolve("d1777").toUri), perm("1777"))
      fs.setPermission(new Path(root.resolve("f644").toUri), perm("600"))
      intercept[java.io.IOException](
        fs.setPermission(new Path(root.resolve("missing").toUri), perm("644")))
      made.map(p => (root.relativize(p).toString, mode(p).toOctalString)).toMap
    }
    val stock = modes(raw(new RawLocalFileSystem), "stock")
    assert(stock("f644") == "600" && stock("d1777") == "1777" && stock("setgid/d755") == "2755",
      stock)
    assert(modes(raw(new NioRawLocalFileSystem), "nio") == stock)
  }

  test("getFileLinkStatus matches stock for a file, a missing path and a real symlink") {
    val dir = Files.createDirectories(base.resolve("links"))
    val file = Files.write(dir.resolve("file"), "x".getBytes)
    val link = Files.createSymbolicLink(dir.resolve("link"), file)
    // a plain name is readlink's to resolve; a qualified file: name never is
    val names = Seq(file, link).flatMap(p => Seq(new Path(p.toString), new Path(p.toUri)))
    val stock = raw(new RawLocalFileSystem)
    val nio = raw(new NioRawLocalFileSystem)
    names.foreach { n =>
      assert(fields(nio.getFileLinkStatus(n)) == fields(stock.getFileLinkStatus(n)), n)
    }
    assert(nio.getFileLinkStatus(new Path(link.toString)).isSymlink)
    val missing = Seq(new Path(dir.resolve("missing").toString), new Path(dir.resolve("missing").toUri))
    missing.foreach { n =>
      intercept[FileNotFoundException](stock.getFileLinkStatus(n))
      intercept[FileNotFoundException](nio.getFileLinkStatus(n))
    }
    // through FileContext, as Spark's checkpoint file manager asks
    val stockConf = new Configuration()
    stockConf.set("fs.AbstractFileSystem.file.impl", "org.apache.hadoop.fs.local.LocalFs")
    val stockFc = FileContext.getFileContext(local, stockConf)
    val nioFc = FileContext.getFileContext(local, new Configuration())
    names.foreach { n =>
      assert(fields(nioFc.getFileLinkStatus(n)) == fields(stockFc.getFileLinkStatus(n)), n)
    }
    intercept[FileNotFoundException](stockFc.getFileLinkStatus(missing.last))
    intercept[FileNotFoundException](nioFc.getFileLinkStatus(missing.last))
  }

  test("a restarted word count keeps its state and writes the stock checkpoint, .crc files included") {
    implicit val sqlCtx = spark.sqlContext
    val key = "fs.AbstractFileSystem.file.impl"
    assert(spark.sessionState.newHadoopConf().get(key) == classOf[NioLocalFs].getName)
    val batches = Seq(Seq("to be or not to be", "be quick"), Seq("not quick", "or slow to be"))
    val expected = batches.flatten.flatMap(_.split(" ")).groupBy(identity).map {
      case (w, ws) => (w, ws.size.toLong)
    }

    /** Counts `batches`, restarting the query between them; returns the final
      * state and each checkpoint file's relative name and mode. */
    def run(name: String): (Map[String, Long], Set[(String, Int)]) = {
      val ckpt = base.resolve(s"wordcount_$name")
      val input = MemoryStream[String]
      val state = batches.map { lines =>
        input.addData(lines: _*)
        val q = api.Graft.rollingWordCount(input.toDF(), "value").writeStream
          .outputMode("complete").format("memory").queryName(s"localfs_$name")
          .option("checkpointLocation", ckpt.toString).start()
        try {
          q.processAllAvailable()
          spark.table(s"localfs_$name").as[(String, Long)].collect().toMap
        } finally q.stop()
      }.last
      val files = Files.walk(ckpt).iterator.asScala.toSeq
      (state, files.map(p => (ckpt.relativize(p).toString, mode(p))).toSet)
    }

    val (nioState, nioFiles) = run("nio")
    val (stockState, stockFiles) = Scoped.conf(spark, key, "org.apache.hadoop.fs.local.LocalFs") {
      run("stock")
    }
    assert(nioState == expected)
    assert(stockState == expected)
    assert(nioFiles == stockFiles)
    val deltas = nioFiles.map(_._1).filter(_.endsWith(".delta"))
    assert(deltas.size >= 8, nioFiles) // 4 state partitions, 2 batches
    deltas.foreach { d =>
      val p = Paths.get(d)
      val crc = Option(p.getParent).fold(Paths.get(s".${p.getFileName}.crc"))(
        _.resolve(s".${p.getFileName}.crc"))
      assert(nioFiles.exists(_._1 == crc.toString), s"no .crc beside $d")
    }
  }
}
