package graft.sources

import java.io.File
import java.nio.channels.FileChannel
import java.nio.file.{Files, Paths, StandardOpenOption}
import java.security.MessageDigest

/** Write-once derived layouts (cell tablets, margin caches, snapshot
  * tables, exports, trained artifacts): each is built once per source
  * fingerprint and reused by every later query.
  *
  * The protocol, for every builder:
  *   - **Key.** The root is `<tmpdir>/<tag>_<digest>`, where the
  *     digest covers the SOURCE data's files (see [[path]]). A
  *     regenerated source gets a fresh root, so stale contents are
  *     never reused.
  *   - **Lock.** Builds run under one reentrant JVM lock, so a builder
  *     may build another layout inside its own build. Inside it, each
  *     root's build also holds an OS file lock on the sibling
  *     `<root>.lock`, so JVMs that share `java.io.tmpdir` build a root
  *     once: a second process waits for the first and then finds the
  *     marker. The OS drops the lock when its process dies, so a crash
  *     never leaves it held.
  *   - **Marker written last.** A layout is complete when its root
  *     holds the [[Marker]] file, created only after `build` returns.
  *     Sidecars, commit logs and join declarations are written inside
  *     `build`, so they land before the marker.
  *   - **Wipe on rebuild.** A root without the marker is deleted
  *     before `build` runs, so a torn build (crash, exception, killed
  *     JVM) never leaks partial files into the next one.
  */
object CacheKeys {

  /** Completion marker at a layout root. The `_` prefix keeps it out
    * of Spark's and the FITS reader's file listings. */
  val Marker = "_COMPLETE"

  private def walk(f: File): Seq[File] =
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty[File])
        .sortBy(_.getName).toSeq.flatMap(walk)
    else Seq(f)

  /** Cache dir `<tmpdir>/<tag>_<digest>` where the digest covers the
    * canonical source path plus every file's (relative path, size,
    * mtime) — cheap (metadata only), no data read. */
  def path(tag: String, srcPath: String): String = {
    val src = new File(srcPath)
    val base = src.getCanonicalPath
    val sig = (base +: walk(src).map(f =>
      s"${f.getCanonicalPath.stripPrefix(base)}|${f.length}|${f.lastModified}"))
      .mkString("\n")
    val md = MessageDigest.getInstance("MD5").digest(sig.getBytes("UTF-8"))
    val hex = md.map("%02x".format(_)).mkString.take(16)
    s"${sys.props("java.io.tmpdir")}/${tag}_$hex"
  }

  /** The layout `tag` of source `key`: its root, built by `build(root)`
    * unless already complete. */
  def writeOnce(tag: String, key: String)(build: String => Unit): String =
    writeOnceAt(path(tag, key))(build)

  /** [[writeOnce]] at an explicit root, for layouts without a source
    * path to key on. */
  def writeOnceAt(root: String)(build: String => Unit): String = {
    val marker = new File(root, Marker)
    if (!marker.exists()) synchronized {
      val lockFile = Paths.get(s"$root.lock")
      Files.createDirectories(lockFile.toAbsolutePath.getParent)
      val lock = FileChannel.open(lockFile,
        StandardOpenOption.CREATE, StandardOpenOption.WRITE)
      try {
        lock.lock()
        if (!marker.exists()) {
          delete(new File(root))
          build(root)
          marker.getParentFile.mkdirs()
          marker.createNewFile()
        }
      } finally lock.close()
    }
    root
  }

  private def delete(f: File): Unit = {
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(delete)
    f.delete()
  }
}
