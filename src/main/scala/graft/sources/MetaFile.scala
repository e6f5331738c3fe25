package graft.sources

import java.io.{FileNotFoundException, IOException}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, NoSuchFileException, Paths, StandardCopyOption}

import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}
import org.apache.spark.sql.SparkSession

/** The small metadata files that sit next to the data: the layout
  * sidecars of [[SpatialWriter]], [[TimeWriter]] and [[Fits]], a
  * [[Snapshots]] table's commit log, counters and writer lock, and a
  * database's [[graft.ql.JoinRegistry]] and its lock. Each is read,
  * replaced and created here, one way:
  *
  *  - **read** is one open. A missing file, or a missing directory, is
  *    `None`. There is no exists probe first: a probe that passes
  *    before a concurrent replace says nothing about the open after it.
  *  - **replace** writes the whole text to a uniquely named temp
  *    sibling and renames it over the target atomically, so a reader
  *    sees the old text or the new one, never a torn, empty or missing
  *    file. The branch is on the FileSystem the path resolves to (a
  *    schemeless path resolves to `fs.defaultFS`, which on a cluster is
  *    not a local file java.nio could reach):
  *    - on `file:` the text goes through java.nio and the rename is
  *      POSIX rename(2) (`ATOMIC_MOVE`; Hadoop's local FileSystem and
  *      FileContext refuse to rename onto an existing file). No `.crc`
  *      sibling is made, and a stale one from an earlier in-place
  *      Hadoop write is deleted first, because the next checksummed
  *      read would fail against it;
  *    - elsewhere it is FileContext's `OVERWRITE` rename, which HDFS
  *      does atomically.
  *  - **tryCreate** is an exclusive create: of any number of racing
  *    callers exactly one gets `true`. Hadoop's local
  *    `create(overwrite = false)` checks and then creates, which is not
  *    atomic, so `file:` goes through java.nio `createFile`
  *    (O_CREAT|O_EXCL); HDFS `create(false)` is atomic at the namenode.
  *    Object stores have neither, so a lock there needs an external
  *    lock service.
  *  - **One-line JSON sidecars** are written by [[jsonLine]] and read
  *    by [[str]] and [[num]]. A string value must be a [[plain]] name:
  *    the reader's pattern ends at the first quote, so a name holding
  *    one would read back cut short.
  */
object MetaFile {
  private def fs(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The java.nio path of `p` when `f` is the local file system. */
  private def local(f: FileSystem, p: Path): Option[java.nio.file.Path] =
    if (f.getScheme == "file") Some(Paths.get(f.makeQualified(p).toUri.getPath))
    else None

  /** The text of `dir/name`, or None when it does not exist. */
  def read(spark: SparkSession, dir: String, name: String): Option[String] =
    try {
      val in = fs(spark, dir).open(new Path(dir, name))
      try Some(new String(in.readAllBytes(), UTF_8)) finally in.close()
    } catch { case _: FileNotFoundException | _: NoSuchFileException => None }

  /** Atomically replace `dir/name` with `text`, creating `dir` when
    * missing. */
  def replace(spark: SparkSession, dir: String, name: String,
              text: String): Unit = {
    val f = fs(spark, dir)
    val dst = new Path(dir, name)
    val tmp = new Path(dir, s"$name.${java.util.UUID.randomUUID()}.tmp")
    val bytes = text.getBytes(UTF_8)
    local(f, dst) match {
      case Some(d) =>
        val t = d.resolveSibling(tmp.getName)
        Files.createDirectories(d.getParent)
        try {
          Files.write(t, bytes)
          Files.deleteIfExists(d.resolveSibling(s".$name.crc"))
          Files.move(t, d, StandardCopyOption.ATOMIC_MOVE,
            StandardCopyOption.REPLACE_EXISTING)
        } finally Files.deleteIfExists(t)
      case None =>
        val o = f.create(tmp, true)
        try o.write(bytes) finally o.close()
        try FileContext.getFileContext(f.getUri, f.getConf)
          .rename(tmp, dst, Options.Rename.OVERWRITE)
        finally f.delete(tmp, false)
    }
  }

  /** Create the empty file `dir/name` unless it exists; true when this
    * call created it. */
  def tryCreate(spark: SparkSession, dir: String, name: String): Boolean = {
    val f = fs(spark, dir)
    val p = new Path(dir, name)
    try {
      local(f, p) match {
        case Some(l) => Files.createFile(l)
        case None => f.create(p, false).close()
      }
      true
    } catch { case _: IOException => false }
  }

  /** `s`, when it is a plain name: non-empty, with no quote, backslash
    * or line break. */
  private def plain(s: String): String = {
    require(s.nonEmpty && !s.exists(c => c == '"' || c == '\\' ||
      c == '\n' || c == '\r'),
      s"metadata names must be plain identifiers, got '$s'")
    s
  }

  /** One JSON object of `fields` in order: a String value is quoted and
    * must be [[plain]]; any other value (a number or a boolean) is
    * written as its `toString`. */
  def jsonLine(fields: (String, Any)*): String =
    fields.map {
      case (k, v: String) => s""""$k":"${plain(v)}""""
      case (k, v) => s""""$k":$v"""
    }.mkString("{", ",", "}")

  /** The string field `field` of a [[jsonLine]] text. */
  def str(field: String, text: String): Option[String] =
    (s""""$field":"([^"]+)"""").r.findFirstMatchIn(text).map(_.group(1))

  /** The numeric field `field` of a [[jsonLine]] text, unparsed. */
  def num(field: String, text: String): Option[String] =
    (s""""$field":([-0-9.eE]+)""").r.findFirstMatchIn(text).map(_.group(1))
}
