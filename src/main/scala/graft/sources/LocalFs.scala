package graft.sources

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession

/** The engine's `file:` FileSystem: Hadoop's checksummed
  * `LocalFileSystem`, except that its raw layer sets a mode in-process.
  *
  * Without Hadoop's native library, `RawLocalFileSystem.setPermission`
  * forks a `chmod` child (`Shell.execCommand`) for every file, `.crc`
  * sibling and directory it creates: three forks per `cell=` file of a
  * partitioned write (`docs/SCALE.md`, "Cell layouts pay per file").
  * Here the same mode goes through
  * `java.nio.file.Files.setPosixFilePermissions`. The rest is the stock
  * stack:
  *  - `.crc` checksums are still written (the `ChecksumFileSystem`
  *    layer);
  *  - the umask is still applied (the raw layer applies it before it
  *    calls `setPermission`);
  *  - `rename` onto an existing file returns false and touches
  *    nothing: the rule of Hive's `ProxyLocalFileSystem`, which serves
  *    `file:` whenever `hive-exec` is on the class path;
  *  - a mode NIO cannot express (the sticky bit), or a file store
  *    without POSIX attributes, takes the stock call.
  */
class LocalFs extends LocalFileSystem(new LocalFs.Raw) {
  override def rename(src: Path, dst: Path): Boolean = {
    val dstIsFile =
      try getFileStatus(dst).isFile
      catch { case _: FileNotFoundException => false }
    !dstIsFile && super.rename(src, dst)
  }
}

object LocalFs {
  private val log = org.slf4j.LoggerFactory.getLogger("graft.sources.LocalFs")

  /** The raw layer: `setPermission` without a child process. */
  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      posix(permission) match {
        case Some(perms) =>
          try Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
          catch {
            case _: UnsupportedOperationException =>
              super.setPermission(p, permission)
          }
        case None => super.setPermission(p, permission)
      }
  }

  /** The NIO set of `perm`'s nine rwx bits, or None when it carries
    * the sticky bit (NIO has no name for it). `PosixFilePermission`
    * lists OWNER_READ first, i.e. from bit 8 down to bit 0. */
  private[sources] def posix(perm: FsPermission)
      : Option[java.util.Set[PosixFilePermission]] =
    if (perm.getStickyBit) None
    else {
      val mode = perm.toShort.toInt
      val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      PosixFilePermission.values.zipWithIndex.foreach { case (bit, i) =>
        if ((mode & (0x100 >> i)) != 0) set.add(bit)
      }
      Some(set)
    }

  /** Serve `file:` with [[LocalFs]] in this JVM: set `fs.file.impl` on
    * the session's Hadoop conf, unless someone else has set it. Hadoop
    * caches one `file:` FileSystem per JVM (keyed by scheme and user,
    * not by conf), so this only takes effect before the first `file:`
    * FileSystem is cached; when a different class is already cached,
    * one WARN names it. True when `file:` is served by [[LocalFs]]. */
  def install(spark: SparkSession): Boolean = {
    val conf = spark.sparkContext.hadoopConfiguration
    val name = classOf[LocalFs].getName
    if (conf.get("fs.file.impl") == null) conf.set("fs.file.impl", name)
    conf.get("fs.file.impl") == name && {
      val cached = FileSystem.get(URI.create("file:///"), conf).getClass
      if (cached != classOf[LocalFs])
        log.warn(s"file: is already served by the cached ${cached.getName}; " +
          s"$name takes effect only if installed before the first file: " +
          "FileSystem is created")
      cached == classOf[LocalFs]
    }
  }
}
