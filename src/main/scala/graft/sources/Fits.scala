package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets

/** FITS binary-table import/export — the reference's bulk-import
  * surface (`lsd-import fits`; SURVEY.md §2A SC3, ref `lsd/importers`,
  * UNVERIFIED). Implemented from the public FITS standard (Pence et
  * al. 2010, A&A 524, A42: 2880-byte header/data blocks, 80-char
  * header cards, big-endian BINTABLE payload) — no external library.
  *
  * Layout: a DIRECTORY of `part-*.fits` files, one per input
  * partition — exactly how survey pipelines ship catalogs (one FITS
  * per sky chunk), and what makes both directions distributed:
  *   - write: each partition serializes itself and streams to its own
  *     file through the Hadoop FileSystem API (works on local disk,
  *     HDFS, or object stores — nothing driver-side);
  *   - read: `binaryFiles` gives one task per file; header parse +
  *     row decode happen executor-side.
  *
  * Supported TFORM codes (the lossless-by-construction set):
  * K = int64, J = int32, D = float64, E = float32, nA = fixed-width
  * ASCII. Integers and IEEE floats round-trip bit-exactly (big-endian
  * IEEE 754 is the FITS payload format), so FITS import is
  * oracle-checkable including double columns — unlike CSV, where only
  * the int/string subset survives text serialization.
  *
  * Nulls are rejected at write time (FITS null encoding via TNULLn /
  * NaN is survey-specific; the import contract here is dense
  * catalogs, the reference's case too).
  */
object Fits {
  private val Block = 2880
  private val CardLen = 80

  /** Java-serializable Hadoop Configuration carrier (Configuration
    * itself is Writable but not Serializable; Spark's own wrapper is
    * private[spark]). Ships the session's filesystem config — object
    * store credentials included — to the writer tasks. */
  private class SerializableHadoopConf(
      @transient private var conf: org.apache.hadoop.conf.Configuration)
    extends Serializable {
    def value: org.apache.hadoop.conf.Configuration = conf
    private def writeObject(out: java.io.ObjectOutputStream): Unit = {
      out.defaultWriteObject(); conf.write(out)
    }
    private def readObject(in: java.io.ObjectInputStream): Unit = {
      in.defaultReadObject()
      conf = new org.apache.hadoop.conf.Configuration(false)
      conf.readFields(in)
    }
  }

  private def card(key: String, value: String): String = {
    val k = key.padTo(8, ' ').take(8)
    (k + "= " + value.reverse.padTo(20, ' ').reverse).padTo(CardLen, ' ')
  }
  private def strCard(key: String, s: String): String = {
    val quoted = "'" + s.padTo(8, ' ') + "'"
    (key.padTo(8, ' ').take(8) + "= " + quoted).padTo(CardLen, ' ')
  }

  private def pad(n: Int): Int = (Block - n % Block) % Block

  /** (TFORM code, row bytes) for a Spark field; strings use the given
    * fixed width. Array columns use the variable-length-array P
    * descriptor (Pence et al. 2010 §7.3.5): the fixed cell is
    * (count, heap offset) as two int32s, elements live in the heap
    * after the main table; `(max)` is appended per file at write
    * time (each part file is its own table). */
  private def tform(f: StructField, strWidth: Int): (String, Int) =
    f.dataType match {
      case LongType    => ("K", 8)
      case IntegerType => ("J", 4)
      case DoubleType  => ("D", 8)
      case FloatType   => ("E", 4)
      case StringType  => (s"${strWidth}A", strWidth)
      case ArrayType(et, _) => (s"P${vlaCode(et)}", 8) // dense contract:
      // null ELEMENTS throw at encode time like null cells do
      case t => throw new IllegalArgumentException(
        s"FITS export: unsupported type $t for column ${f.name} " +
          "(supported: long, int, double, float, string, " +
          "array<numeric> without nulls)")
    }

  private def vlaCode(et: DataType): String = et match {
    case FloatType   => "E"
    case DoubleType  => "D"
    case IntegerType => "J"
    case LongType    => "K"
    case t => throw new IllegalArgumentException(
      s"FITS export: unsupported VLA element type $t")
  }
  private def vlaElemBytes(c: Char): Int = c match {
    case 'E' | 'J' => 4
    case _         => 8 // D, K
  }

  /** Per-column integer scaling for [[writeScaled]] — the FITS
    * TSCALn/TZEROn convention (Pence et al. 2010 §7.3.2): the stored
    * integer `raw` represents physical value `tzero + tscal·raw`.
    * Survey catalogs use it two ways, both supported:
    *   - quantized floats: `Scaled("J", 0.25, 0.0)` stores a double
    *     as int32 quarter-units (binary-exact scales like 2^-k
    *     round-trip bit-exactly — enforced at write time);
    *   - offset integers (the "unsigned" trick): `Scaled("I", 1.0,
    *     32768.0)` stores 0..65535 in a signed int16.
    * `tform` ∈ I (int16) / J (int32) / K (int64). */
  final case class Scaled(tform: String, tscal: Double, tzero: Double) {
    require(Set("I", "J", "K")(tform),
      s"Scaled TFORM must be I/J/K, got $tform")
    require(tscal != 0.0, "TSCAL must be nonzero")
    def bytes: Int = tform match {
      case "I" => 2; case "J" => 4; case _ => 8
    }
  }

  /** Export `df` as a directory of FITS BINTABLE files, one per
    * partition. `strWidth` is the fixed ASCII width for string
    * columns (longer values are rejected, not truncated). */
  def write(df: DataFrame, path: String, strWidth: Int = 24): Unit =
    writeScaled(df, path, Map.empty, strWidth)

  /** [[write]] with TSCAL/TZERO integer-scaled columns and a leading
    * IMAGE extension, the shape heterogeneous external survey
    * catalogs actually ship in (SURVEY.md §0.5 [H]: multi-HDU files,
    * scaled-integer photometry):
    *
    *   HDU 0  primary, header-only;
    *   HDU 1  small IMAGE extension (int16 + BSCALE/BZERO — a real
    *          data block, so [[read]] exercises HDU skipping, and a
    *          scaled-image header, so the metadata convention is
    *          present in both its forms);
    *   HDU 2  the BINTABLE, scaled columns carrying TSCALn/TZEROn.
    *
    * Lossless contract: each scaled write asserts
    * `tzero + tscal·raw == phys` bit-exactly (binary-exact scales
    * like 2^-k and integral offsets satisfy it; anything lossy throws
    * rather than silently corrupting a round-trip). */
  def writeScaled(df: DataFrame, path: String,
                  scaled: Map[String, Scaled],
                  strWidth: Int = 24): Unit = {
    val schema = df.schema
    scaled.keys.foreach { c =>
      val f = schema.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(s"Scaled column $c not in df"))
      require(Set("double", "long", "integer")(f.dataType.typeName),
        s"Scaled column $c must be numeric, got ${f.dataType.typeName}")
    }
    val forms = schema.fields.map { f =>
      scaled.get(f.name) match {
        case Some(sc) => (sc.tform, sc.bytes)
        case None     => tform(f, strWidth)
      }
    }
    val rowBytes = forms.map(_._2).sum
    val hadoopConf = new SerializableHadoopConf(
      df.sparkSession.sparkContext.hadoopConfiguration)
    val fields = schema.fields.map(f =>
      (f.name, f.dataType.typeName, scaled.get(f.name)))
    // Commit protocol: a previous (possibly killed) run may have left
    // part files behind, and a rerun with fewer partitions would leave
    // stale parts that read()'s glob would ingest as duplicate rows.
    // Clear all prior output (parts, temps, manifest) before writing.
    val driverFs = FileSystem.get(
      new java.net.URI(path), hadoopConf.value)
    val dirPath = new Path(path)
    if (driverFs.exists(dirPath)) {
      driverFs.globStatus(new Path(path, "part-*.fits"))
        .foreach(st => driverFs.delete(st.getPath, false))
      driverFs.globStatus(new Path(path, "_tmp-part-*"))
        .foreach(st => driverFs.delete(st.getPath, false))
      driverFs.delete(new Path(path, ManifestFile), false)
    }
    val nParts = df.rdd.getNumPartitions
    df.rdd.mapPartitionsWithIndex { (pid, rows) =>
      // the header needs NAXIS2 (row count) before the payload, so the
      // partition is buffered — bounded by the partition size, which
      // spark.sql.files.maxPartitionBytes keeps task-memory-sized
      val buf = rows.toArray
      val fs = FileSystem.get(
        new java.net.URI(path), hadoopConf.value)
      // task-attempt isolation: write to a temp name (not matched by
      // read()'s part-*.fits glob), rename into place on success —
      // a speculative/retried attempt can never interleave bytes into
      // a final file, and a failed attempt leaves only ignorable temps
      val attemptId = org.apache.spark.TaskContext.get() match {
        case null => 0L
        case tc => tc.taskAttemptId()
      }
      val tmpFile = new Path(path, f"_tmp-part-$pid%05d-$attemptId")
      val finalFile = new Path(path, f"part-$pid%05d.fits")
      val out = fs.create(tmpFile, true)
      try {
        // primary HDU: header only (NAXIS=0, no data block)
        val primary = new StringBuilder
        primary ++= card("SIMPLE", "T")
        primary ++= card("BITPIX", "8")
        primary ++= card("NAXIS", "0")
        primary ++= card("EXTEND", "T")
        primary ++= "END".padTo(CardLen, ' ')
        writePadded(out, primary.toString)
        // scaled exports carry a leading IMAGE extension (a real data
        // block): the multi-HDU shape external catalogs ship in, and
        // the skip path read() must handle
        if (scaled.nonEmpty) {
          val img = new StringBuilder
          img ++= strCard("XTENSION", "IMAGE")
          img ++= card("BITPIX", "16")
          img ++= card("NAXIS", "2")
          img ++= card("NAXIS1", "4")
          img ++= card("NAXIS2", "2")
          img ++= card("PCOUNT", "0")
          img ++= card("GCOUNT", "1")
          img ++= card("BSCALE", "0.5")
          img ++= card("BZERO", "100.0")
          img ++= "END".padTo(CardLen, ' ')
          writePadded(out, img.toString)
          val ib = ByteBuffer.allocate(16) // 8 int16 pixels
          (0 until 8).foreach(i => ib.putShort((pid * 8 + i).toShort))
          out.write(ib.array())
          out.write(new Array[Byte](pad(16)))
        }
        // VLA pre-pass: per-file max length (the TFORM "(max)") and
        // total heap bytes (PCOUNT) must precede the payload
        val vlaIdx = forms.indices.filter(i => forms(i)._1.startsWith("P"))
        val vlaMax = new Array[Int](forms.length)
        var heapBytes = 0L
        vlaIdx.foreach { i =>
          val eb = vlaElemBytes(forms(i)._1.charAt(1))
          buf.foreach { row =>
            if (!row.isNullAt(i)) {
              val len = row.getSeq[Any](i).length
              if (len > vlaMax(i)) vlaMax(i) = len
              heapBytes += len.toLong * eb
            }
          }
        }
        require(heapBytes < Int.MaxValue.toLong,
          s"FITS export: partition heap $heapBytes exceeds the 32-bit " +
            "VLA offset space; repartition smaller")
        // BINTABLE extension header
        val h = new StringBuilder
        h ++= strCard("XTENSION", "BINTABLE")
        h ++= card("BITPIX", "8")
        h ++= card("NAXIS", "2")
        h ++= card("NAXIS1", rowBytes.toString)
        h ++= card("NAXIS2", buf.length.toString)
        h ++= card("PCOUNT", heapBytes.toString)
        h ++= card("GCOUNT", "1")
        h ++= card("TFIELDS", fields.length.toString)
        fields.zip(forms).zipWithIndex.foreach {
          case (((name, _, sc), (code, _)), i) =>
            h ++= strCard(s"TTYPE${i + 1}", name)
            h ++= strCard(s"TFORM${i + 1}",
              if (code.startsWith("P")) s"$code(${vlaMax(i)})" else code)
            sc.foreach { s =>
              // Double.toString is shortest-round-trip: the reader's
              // .toDouble recovers bit-identical scale/offset
              h ++= card(s"TSCAL${i + 1}", s.tscal.toString)
              h ++= card(s"TZERO${i + 1}", s.tzero.toString)
            }
        }
        h ++= "END".padTo(CardLen, ' ')
        writePadded(out, h.toString)
        // heap accumulates VLA elements in row-major cell order; it
        // lands immediately after the main table (THEAP default)
        val heap = ByteBuffer.allocate(heapBytes.toInt)
        // big-endian payload
        val bb = ByteBuffer.allocate(rowBytes) // big-endian by default
        buf.foreach { row =>
          bb.clear()
          var i = 0
          while (i < fields.length) {
            if (row.isNullAt(i)) throw new IllegalArgumentException(
              s"FITS export: null in column ${fields(i)._1} (dense only)")
            if (forms(i)._1.startsWith("P")) {
              // VLA cell = (count, heap byte offset), elements → heap
              val off = heap.position()
              val name = fields(i)._1
              // null ELEMENTS would otherwise surface as a bare NPE
              // from unboxing — check explicitly so the error names
              // the column, same contract as the null-cell check above
              val elems = row.getSeq[Any](i)
              if (elems.exists(_ == null))
                throw new IllegalArgumentException(
                  s"FITS export: null element in VLA column $name " +
                    "(dense only)")
              forms(i)._1.charAt(1) match {
                case 'E' => elems.foreach { v =>
                  heap.putFloat(v.asInstanceOf[Float]) }
                case 'D' => elems.foreach { v =>
                  heap.putDouble(v.asInstanceOf[Double]) }
                case 'J' => elems.foreach { v =>
                  heap.putInt(v.asInstanceOf[Int]) }
                case _ => elems.foreach { v =>
                  heap.putLong(v.asInstanceOf[Long]) }
              }
              val n = (heap.position() - off) / vlaElemBytes(forms(i)._1.charAt(1))
              require(n <= vlaMax(i), s"FITS export: $name VLA grew")
              bb.putInt(n)
              bb.putInt(off)
              i += 1
            } else {
            fields(i) match {
              case (name, tn, Some(sc)) =>
                val phys = tn match {
                  case "double"  => row.getDouble(i)
                  case "long"    => row.getLong(i).toDouble
                  case _         => row.getInt(i).toDouble
                }
                if (tn == "long")
                  require(math.abs(row.getLong(i)) < (1L << 53),
                    s"FITS export: $name long value exceeds exact " +
                      "double range for scaling")
                val raw = math.rint((phys - sc.tzero) / sc.tscal).toLong
                require(sc.tzero + sc.tscal * raw == phys,
                  s"FITS export: $name value $phys is not losslessly " +
                    s"representable with TSCAL=${sc.tscal} " +
                    s"TZERO=${sc.tzero}")
                sc.tform match {
                  case "I" =>
                    require(raw >= Short.MinValue && raw <= Short.MaxValue,
                      s"FITS export: $name raw $raw overflows int16")
                    bb.putShort(raw.toShort)
                  case "J" =>
                    require(raw >= Int.MinValue && raw <= Int.MaxValue,
                      s"FITS export: $name raw $raw overflows int32")
                    bb.putInt(raw.toInt)
                  case _ => bb.putLong(raw)
                }
              case (_, "long", None)    => bb.putLong(row.getLong(i))
              case (_, "integer", None) => bb.putInt(row.getInt(i))
              case (_, "double", None)  => bb.putDouble(row.getDouble(i))
              case (_, "float", None)   => bb.putFloat(row.getFloat(i))
              case (name, _, None) =>
                val s = row.getString(i)
                val b = s.getBytes(StandardCharsets.US_ASCII)
                require(b.length <= strWidth && b.length == s.length,
                  s"FITS export: string '$s' in $name exceeds width " +
                    s"$strWidth or is non-ASCII")
                bb.put(b)
                var p = b.length
                while (p < strWidth) { bb.put(' '.toByte); p += 1 }
            }
            i += 1
            }
          }
          out.write(bb.array(), 0, rowBytes)
        }
        out.write(heap.array(), 0, heap.position())
        out.write(new Array[Byte](
          pad(((buf.length.toLong * rowBytes + heap.position()) % Block)
            .toInt)))
      } finally out.close()
      // commit: first attempt to finish wins; losers' temps are
      // cleaned up here (best-effort) and ignored by read()'s glob
      if (!fs.rename(tmpFile, finalFile)) fs.delete(tmpFile, false)
      Iterator.single(pid)
    }.count() // materialize the write
    // part-count manifest: read() validates the directory holds
    // exactly this many parts, so a torn/stale directory fails loudly
    MetaFile.replace(df.sparkSession, path, ManifestFile, nParts.toString)
  }

  private val ManifestFile = "_FITS_PARTS"

  private def writePadded(out: java.io.OutputStream, header: String): Unit = {
    val b = header.getBytes(StandardCharsets.US_ASCII)
    out.write(b)
    val padBytes = new Array[Byte](pad(b.length))
    java.util.Arrays.fill(padBytes, ' '.toByte)
    out.write(padBytes)
  }

  /** One parsed header: keyword → raw value string. */
  private def readHeader(bb: ByteBuffer): Map[String, String] = {
    val cards = Map.newBuilder[String, String]
    var done = false
    while (!done) {
      val block = new Array[Byte](Block)
      bb.get(block)
      val text = new String(block, StandardCharsets.US_ASCII)
      for (i <- 0 until Block / CardLen if !done) {
        val c = text.substring(i * CardLen, (i + 1) * CardLen)
        val key = c.take(8).trim
        if (key == "END") done = true
        else if (c.length > 10 && c.charAt(8) == '=') {
          val raw = c.substring(10)
          val v = (if (raw.trim.startsWith("'"))
            raw.trim.drop(1).takeWhile(_ != '\'')
          else raw.split('/')(0)).trim
          cards += key -> v
        }
      }
    }
    cards.result()
  }

  /** A primary-HDU 2-D FITS image, driver-resident. This is the
    * published format of the SFD98 dust maps (and most survey sky
    * maps): BITPIX −32/−64 big-endian IEEE floats (or 8/16/32-bit
    * ints under BSCALE/BZERO), row-major with NAXIS1 the fast axis.
    * Driver-sized by contract — a full-sky map at survey resolution
    * is tens of MB, which is exactly the "ingest once, broadcast
    * forever" regime of [[graft.functions.DustMap]]. */
  final case class Image2D(width: Int, height: Int, data: Array[Double],
      cards: Map[String, String]) {
    require(data.length == width.toLong * height, "data size mismatch")
    def apply(ix: Int, iy: Int): Double = data(iy * width + ix)
  }

  /** Read a single-file primary-HDU 2-D image (any Hadoop FileSystem). */
  def readImage2D(spark: SparkSession, path: String): Image2D = {
    val fs = FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    val st = fs.getFileStatus(new Path(path))
    val bytes = new Array[Byte](st.getLen.toInt)
    val in = fs.open(st.getPath)
    try in.readFully(0L, bytes) finally in.close()
    val bb = ByteBuffer.wrap(bytes)
    val h = readHeader(bb)
    require(h.get("NAXIS").exists(_.trim.toInt == 2),
      s"FITS image import: want NAXIS=2 primary HDU, got ${h.get("NAXIS")}")
    val w = h("NAXIS1").trim.toInt
    val ht = h("NAXIS2").trim.toInt
    val bscale = h.get("BSCALE").map(_.trim.toDouble).getOrElse(1.0)
    val bzero = h.get("BZERO").map(_.trim.toDouble).getOrElse(0.0)
    val data = new Array[Double](w * ht)
    val read: () => Double = h("BITPIX").trim.toInt match {
      case -32 => () => bb.getFloat().toDouble
      case -64 => () => bb.getDouble()
      case 8   => () => (bb.get() & 0xff).toDouble
      case 16  => () => bb.getShort().toDouble
      case 32  => () => bb.getInt().toDouble
      case b => throw new IllegalArgumentException(
        s"FITS image import: unsupported BITPIX $b")
    }
    var i = 0
    while (i < data.length) { data(i) = bzero + bscale * read(); i += 1 }
    Image2D(w, ht, data, h)
  }

  /** Write a primary-HDU 2-D float image (BITPIX −32, or −64 when
    * `asDouble`). Round-trips bit-exactly through [[readImage2D]]. */
  def writeImage2D(spark: SparkSession, path: String, img: Image2D,
      asDouble: Boolean = false,
      extraCards: Seq[(String, String)] = Nil): Unit = {
    val fs = FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new Path(path), true)
    try {
      val h = new StringBuilder
      h ++= card("SIMPLE", "T")
      h ++= card("BITPIX", if (asDouble) "-64" else "-32")
      h ++= card("NAXIS", "2")
      h ++= card("NAXIS1", img.width.toString)
      h ++= card("NAXIS2", img.height.toString)
      extraCards.foreach { case (k, v) => h ++= card(k, v) }
      h ++= "END".padTo(CardLen, ' ')
      writePadded(out, h.toString)
      val unit = if (asDouble) 8 else 4
      val bb = ByteBuffer.allocate(img.data.length * unit)
      img.data.foreach(v =>
        if (asDouble) bb.putDouble(v) else bb.putFloat(v.toFloat))
      out.write(bb.array())
      out.write(new Array[Byte](pad(bb.capacity())))
    } finally out.close()
  }

  /** Advance past the current HDU's data block. FITS data size =
    * |BITPIX|/8 · GCOUNT · (PCOUNT + NAXIS1·…·NAXISn), padded to the
    * 2880-byte block (Pence et al. 2010 §3.3). */
  private def skipData(bb: ByteBuffer, h: Map[String, String]): Unit = {
    val naxis = h.get("NAXIS").map(_.trim.toInt).getOrElse(0)
    val nElems =
      if (naxis == 0) 0L
      else (1 to naxis).map(i => h(s"NAXIS$i").trim.toLong).product
    val bitpix = math.abs(h.get("BITPIX").map(_.trim.toInt).getOrElse(8))
    val gcount = h.get("GCOUNT").map(_.trim.toLong).getOrElse(1L)
    val pcount = h.get("PCOUNT").map(_.trim.toLong).getOrElse(0L)
    val bytes = bitpix / 8L * gcount * (pcount + nElems)
    bb.position(bb.position() + bytes.toInt + pad((bytes % Block).toInt))
  }

  /** Walk HDUs (skipping image/other extensions, data blocks
    * included) to the first BINTABLE; returns its header with the
    * buffer positioned at its data. */
  private def firstBintable(bb: ByteBuffer): Map[String, String] = {
    val primary = readHeader(bb)
    skipData(bb, primary)
    var h = readHeader(bb)
    while (h.get("XTENSION").map(_.trim).getOrElse("") != "BINTABLE") {
      skipData(bb, h)
      if (!bb.hasRemaining) throw new IllegalArgumentException(
        "FITS import: no BINTABLE HDU in file")
      h = readHeader(bb)
    }
    h
  }

  /** One BINTABLE column: TTYPE/TFORM plus the TSCAL/TZERO scaling
    * pair (absent → identity). A scaled integer column surfaces as
    * DOUBLE with physical value `tzero + tscal·raw`. */
  private case class ColSpec(name: String, tform: String,
                             tscal: Double, tzero: Double) {
    def isScaled: Boolean = tscal != 1.0 || tzero != 0.0
    def isVla: Boolean = tform.startsWith("P") || tform.startsWith("1P")
    /** element code of a P descriptor ('PE(4096)' → 'E'). */
    def vlaElem: Char = tform.charAt(if (tform.startsWith("1P")) 2 else 1)
    def dataType: DataType =
      if (isVla) {
        require(!isScaled, "FITS import: TSCAL/TZERO on a VLA column")
        val et: DataType = vlaElem match {
          case 'E' => FloatType
          case 'D' => DoubleType
          case 'J' => IntegerType
          case 'K' => LongType
          case c => throw new IllegalArgumentException(
            s"FITS import: unsupported VLA element '$c' in $tform")
        }
        org.apache.spark.sql.types.ArrayType(et, containsNull = false)
      } else if (isScaled) {
        require(Set("I", "J", "K")(tform),
          s"FITS import: TSCAL/TZERO on unsupported TFORM $tform")
        DoubleType
      } else tform match {
        case "K" => LongType
        case "J" => IntegerType
        case "I" => ShortType
        case "D" => DoubleType
        case "E" => FloatType
        case a if a.endsWith("A") => StringType
        case t => throw new IllegalArgumentException(
          s"FITS import: unsupported TFORM $t")
      }
  }
  private def colSpecs(h: Map[String, String]): Seq[ColSpec] =
    (1 to h("TFIELDS").toInt).map { i =>
      ColSpec(h(s"TTYPE$i").trim, h(s"TFORM$i").trim,
        h.get(s"TSCAL$i").map(_.trim.toDouble).getOrElse(1.0),
        h.get(s"TZERO$i").map(_.trim.toDouble).getOrElse(0.0))
    }

  /** Import a directory of FITS BINTABLE files written by [[write]] /
    * [[writeScaled]] (or any standard FITS with supported TFORMs):
    * the first BINTABLE HDU is read — leading image or other
    * extensions are skipped — and TSCALn/TZEROn integer columns
    * surface as physical DOUBLEs. One task per file; schema comes
    * from the first file's header. */
  def read(spark: SparkSession, path: String): DataFrame = {
    // validate against the write manifest (if present): a killed
    // partial run or a rerun with fewer partitions must fail loudly,
    // not silently surface stale parts as duplicate rows
    val fs = FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    val nFound = fs.globStatus(new Path(path, "part-*.fits")).length
    MetaFile.read(spark, path, ManifestFile).map(_.trim.toInt).foreach {
      expected => require(nFound == expected,
        s"FITS import: $path holds $nFound part files but the write " +
          s"manifest says $expected — torn or stale export; re-run " +
          "Fits.write")
    }
    val files = spark.sparkContext.binaryFiles(s"$path/part-*.fits")
    val parsed = files.flatMap { case (_, stream) =>
      val bb = ByteBuffer.wrap(stream.toArray())
      val h = firstBintable(bb)
      val rowBytes = h("NAXIS1").toInt
      val nRows = h("NAXIS2").toInt
      val cols = colSpecs(h)
      val nFields = cols.length
      // VLA heap base: main-table start + THEAP (defaults to the main
      // table size per the standard)
      val heapStart = bb.position() + h.get("THEAP").map(_.trim.toInt)
        .getOrElse(rowBytes * nRows)
      // decoders compiled ONCE per file, not a TFORM string-match (and
      // for strings a regex) per CELL — at 600k rows × 5 columns the
      // per-cell dispatch dominated the parse
      val decoders: Array[() => Any] = cols.map { c =>
        def rawLong: () => Long = c.tform match {
          case "I" => () => bb.getShort().toLong
          case "J" => () => bb.getInt().toLong
          case "K" => () => bb.getLong()
          case t => throw new IllegalArgumentException(
            s"FITS import: TSCAL/TZERO on unsupported TFORM $t")
        }
        if (c.isVla) {
          val elem = c.vlaElem
          () => {
            val n = bb.getInt()
            val off = bb.getInt()
            val out = new Array[Any](n)
            var e = 0
            while (e < n) {
              out(e) = elem match {
                case 'E' => bb.getFloat(heapStart + off + 4 * e)
                case 'D' => bb.getDouble(heapStart + off + 8 * e)
                case 'J' => bb.getInt(heapStart + off + 4 * e)
                case _   => bb.getLong(heapStart + off + 8 * e)
              }
              e += 1
            }
            scala.collection.immutable.ArraySeq.unsafeWrapArray(out)
          }
        } else if (c.isScaled) {
          val (ts, tz) = (c.tscal, c.tzero)
          val rl = rawLong
          () => tz + ts * rl().toDouble
        } else c.tform match {
          case "K" => () => bb.getLong()
          case "J" => () => bb.getInt()
          case "I" => () => bb.getShort()
          case "D" => () => bb.getDouble()
          case "E" => () => bb.getFloat()
          case a if a.endsWith("A") =>
            val w = a.dropRight(1).toInt
            () => {
              val b = new Array[Byte](w)
              bb.get(b)
              // trailing spaces are padding per the standard
              var end = w
              while (end > 0 && b(end - 1) == ' '.toByte) end -= 1
              new String(b, 0, end, StandardCharsets.US_ASCII)
            }
          case t => throw new IllegalArgumentException(
            s"FITS import: unsupported TFORM $t")
        }
      }.toArray
      (0 until nRows).iterator.map { _ =>
        val vals = new Array[Any](nFields)
        val start = bb.position()
        var i = 0
        while (i < nFields) {
          vals(i) = decoders(i)()
          i += 1
        }
        bb.position(start + rowBytes)
        Row.fromSeq(scala.collection.immutable.ArraySeq.unsafeWrapArray(vals))
      }
    }
    // schema from the first file's header (all parts share it)
    val one = spark.sparkContext.binaryFiles(s"$path/part-*.fits")
      .first()._2
    val schema = StructType(
      colSpecs(firstBintable(ByteBuffer.wrap(one.toArray()))).map(c =>
        StructField(c.name, c.dataType, nullable = false)))
    spark.createDataFrame(parsed, schema)
  }
}
