package graft.sources

import java.net.URI
import java.nio.file.{Files, Paths}
import java.security.PrivilegedExceptionAction

import scala.jdk.CollectionConverters._

import graft.{GraftSession, LsdDb, SpecBase}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO
import org.apache.hadoop.security.UserGroupInformation

/** The engine's `file:` FileSystem: the stock checksummed local FS,
  * the same modes, `.crc` files and rename rule, set without a child
  * process, and installed by every session the engine builds. */
class LocalFsSpec extends SpecBase {

  private def fsOf(fs: LocalFileSystem, umask: String): LocalFileSystem = {
    val conf = new Configuration()
    conf.set("fs.permissions.umask-mode", umask)
    fs.initialize(URI.create("file:///"), conf)
    fs
  }

  private def mode(p: String): Int =
    Files.getAttribute(Paths.get(p), "unix:mode").asInstanceOf[Int] & 0xfff

  /** The command lines of the processes this JVM starts during `body`
    * (JFR's `jdk.ProcessStart`, recorded for every `ProcessBuilder`). */
  private def processesDuring(body: => Unit): Seq[String] = {
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    val out = Files.createTempFile("graft_procs", ".jfr")
    rec.start()
    try body
    finally {
      rec.stop()
      rec.dump(out)
      rec.close()
    }
    try jdk.jfr.consumer.RecordingFile.readAllEvents(out).asScala.toSeq
      .map(e => String.valueOf(e.getString("command")))
    finally Files.delete(out)
  }

  test("files and directories get the stock modes and .crc siblings") {
    for (umask <- Seq("022", "027")) {
      val base = Files.createTempDirectory("graft_lfs").toString
      val stock = fsOf(new LocalFileSystem(), umask)
      val ours = fsOf(new LocalFs, umask)
      for ((name, fs) <- Seq("stock" -> stock, "ours" -> ours)) {
        fs.mkdirs(new Path(s"$base/$name/d"))
        fs.mkdirs(new Path(s"$base/$name/d750"), new FsPermission("750"))
        fs.create(new Path(s"$base/$name/d/f")).close()
        FileSystem.create(fs, new Path(s"$base/$name/d/f640"),
          new FsPermission("640")).close()
      }
      for (rel <- Seq("", "/d", "/d750", "/d/f", "/d/.f.crc", "/d/f640",
                      "/d/.f640.crc"))
        assert(mode(s"$base/ours$rel") == mode(s"$base/stock$rel"),
          f"umask $umask, $rel: ${mode(s"$base/ours$rel")}%o vs " +
            f"${mode(s"$base/stock$rel")}%o")
      assert(Files.exists(Paths.get(s"$base/ours/d/.f.crc")))
    }
  }

  test("rename onto an existing file returns false and keeps both files") {
    val base = Files.createTempDirectory("graft_lfsr").toString
    val hive = new org.apache.hadoop.hive.ql.io.ProxyLocalFileSystem()
    hive.initialize(URI.create("file:///"), new Configuration())
    for ((name, fs) <- Seq("hive" -> hive, "ours" -> fsOf(new LocalFs, "022"))) {
      val (a, b) = (new Path(s"$base/$name-a"), new Path(s"$base/$name-b"))
      for ((p, body) <- Seq(a -> "a", b -> "b")) {
        val o = fs.create(p)
        o.writeBytes(body)
        o.close()
      }
      assert(!fs.rename(a, b), name)
      assert(new String(Files.readAllBytes(Paths.get(a.toString))) == "a", name)
      assert(new String(Files.readAllBytes(Paths.get(b.toString))) == "b", name)
      val c = new Path(s"$base/$name-c")
      assert(fs.rename(a, c) && fs.exists(c) && !fs.exists(a), name)
    }
  }

  test("a sticky-bit mode takes the stock call and keeps the bit") {
    val dir = Files.createTempDirectory("graft_lfss").toString
    val sticky = new FsPermission(Integer.parseInt("1777", 8).toShort)
    assert(LocalFs.posix(sticky).isEmpty)
    fsOf(new LocalFs, "022").setPermission(new Path(dir), sticky)
    assert(mode(dir) == Integer.parseInt("1777", 8), f"${mode(dir)}%o")
  }

  test("GraftSession.local and LsdDb serve file: with the engine FS") {
    val conf = spark.sparkContext.hadoopConfiguration
    assert(GraftSession.local(4) eq spark)
    assert(conf.get("fs.file.impl") == classOf[LocalFs].getName)
    assert(FileSystem.get(URI.create("file:///"), conf).isInstanceOf[LocalFs])
    conf.unset("fs.file.impl")
    try {
      LsdDb(spark, sfDir)
      assert(conf.get("fs.file.impl") == classOf[LocalFs].getName)
      assert(FileSystem.get(URI.create("file:///"), conf).isInstanceOf[LocalFs])
      // an fs.file.impl someone else set is left alone
      conf.set("fs.file.impl", classOf[LocalFileSystem].getName)
      LsdDb(spark, sfDir)
      assert(conf.get("fs.file.impl") == classOf[LocalFileSystem].getName)
    } finally conf.set("fs.file.impl", classOf[LocalFs].getName)
  }

  test("install reports, and does not replace, a file: FS cached before it") {
    // Hadoop's cache is per user: a fresh one stands for a JVM whose
    // first file: FileSystem was created before the install
    val ugi = UserGroupInformation.createRemoteUser("graft-localfs-spec")
    try ugi.doAs(new PrivilegedExceptionAction[Unit] {
      def run(): Unit = {
        val stock = FileSystem.get(URI.create("file:///"), new Configuration())
        assert(!stock.isInstanceOf[LocalFs])
        assert(!LocalFs.install(spark))
        assert(FileSystem.get(URI.create("file:///"),
          spark.sparkContext.hadoopConfiguration) eq stock)
      }
    })
    finally FileSystem.closeAllForUGI(ugi)
    assert(LocalFs.install(spark))
  }

  test("a partitioned SpatialWriter.write starts no child process") {
    import spark.implicits._
    val cat = (0L until 2000L).map { i =>
      val rnd = new scala.util.Random(i)
      (i, rnd.nextDouble() * 360,
        math.toDegrees(math.asin(rnd.nextDouble() * 2 - 1)))
    }.toDF("obj_id", "lon", "lat").cache()
    cat.count()
    val base = Files.createTempDirectory("graft_lfsw").toString
    // the control: the stock FS forks chmod when Hadoop has no native
    // library, and the recording sees it
    if (!NativeIO.isAvailable) {
      val stock = fsOf(new LocalFileSystem(), "022")
      val forked = processesDuring(
        stock.create(new Path(s"$base/stock/f")).close())
      assert(forked.exists(_.contains("chmod")), forked)
    }
    val path = s"$base/cat"
    val started = processesDuring(
      SpatialWriter.write(cat, "lon", "lat", level = 3, path = path))
    assert(new java.io.File(path).listFiles()
      .count(_.getName.startsWith("cell=")) > 4)
    assert(started.size == 0, s"processes started: ${started.take(5)}")
    cat.unpersist()
  }
}
