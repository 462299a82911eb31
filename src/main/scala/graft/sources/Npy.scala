package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** NumPy `.npy` / `.npz` ingestion (public format spec: numpy's
  * `lib/format.py` docs) — the container embedding matrices, teacher
  * logits, and precomputed features actually ship in.
  *
  * `.npy`: `\\x93NUMPY` magic, version, a Python-dict header
  * (`descr` / `fortran_order` / `shape`), then raw array bytes. 1-D
  * arrays read as (idx, value) rows; 2-D arrays as (row, values) rows —
  * the embedding-matrix shape that joins against a corpus by row id.
  *
  * Scale shape: the header gives dtype + shape, so row ranges map to byte
  * ranges ARITHMETICALLY — a C-order matrix fans out row-range partitions
  * of positioned reads, no scan, no shuffle (exactly how the Zarr/TIFF
  * readers here parallelize). Fortran-order 2-D is supported but
  * single-partition per file (rows are strided across the whole file;
  * numpy writes C-order by default). `.npz` is a zip of `.npy` members
  * (stored or deflated): one task per archive walks the entries
  * sequentially, adding the member name as `array_name`.
  */
object Npy {

  final case class UnsupportedNpy(msg: String)
      extends RuntimeException(s"unsupported npy: $msg")

  final case class Header(descr: String, fortranOrder: Boolean,
      shape: Seq[Long], dataOffset: Long) {
    def elemSize: Int = descr.drop(2).toInt
    def littleEndian: Boolean = descr.head != '>'
    def typeChar: Char = descr.charAt(1)
  }

  // ------------------------------------------------------------- header

  private[graft] def parseHeader(read: (Long, Int) => Array[Byte],
      fileLen: Long): Header = {
    val magicLen = 8
    require(fileLen >= magicLen + 2, "not an npy: too short")
    val m = read(0, magicLen)
    if ((m(0) & 0xff) != 0x93 || new String(m, 1, 5, "US-ASCII") != "NUMPY")
      throw UnsupportedNpy("bad magic (not an npy file)")
    val major = m(6) & 0xff
    val (hlen, hoff) =
      if (major == 1) {
        val b = read(8, 2)
        (((b(0) & 0xff) | ((b(1) & 0xff) << 8)).toLong, 10L)
      } else if (major == 2 || major == 3) {
        val b = read(8, 4)
        ((b(0) & 0xffL) | ((b(1) & 0xffL) << 8) | ((b(2) & 0xffL) << 16) |
          ((b(3) & 0xffL) << 24), 12L)
      } else throw UnsupportedNpy(s"npy version $major")
    if (hoff + hlen > fileLen) throw UnsupportedNpy("truncated header")
    val header = new String(read(hoff, hlen.toInt), "UTF-8")
    val descr = "'descr'\\s*:\\s*'([^']+)'".r.findFirstMatchIn(header)
      .map(_.group(1)).getOrElse(throw UnsupportedNpy("header without descr"))
    val fortran = "'fortran_order'\\s*:\\s*(True|False)".r
      .findFirstMatchIn(header).map(_.group(1) == "True")
      .getOrElse(throw UnsupportedNpy("header without fortran_order"))
    val shape = "'shape'\\s*:\\s*\\(([^)]*)\\)".r.findFirstMatchIn(header)
      .map(_.group(1).split(",").map(_.trim).filter(_.nonEmpty).map(_.toLong).toSeq)
      .getOrElse(throw UnsupportedNpy("header without shape"))
    if (!"<>|=".contains(descr.head) || descr.length < 3)
      throw UnsupportedNpy(s"descr '$descr'")
    if (!"fiub".contains(descr.charAt(1)))
      throw UnsupportedNpy(s"dtype class '${descr.charAt(1)}' " +
        "(float/int/uint/bool only — strings and objects have no row mapping)")
    val h = Header(descr, fortran, shape, hoff + hlen)
    // a lying or truncated file must fail HERE with context, not as a raw
    // EOFException deep inside some executor task
    if (h.dataOffset + shape.product * h.elemSize > fileLen)
      throw UnsupportedNpy(s"truncated: shape ${shape.mkString("x")} " +
        s"${h.descr} needs ${shape.product * h.elemSize} data bytes, file has " +
        s"${fileLen - h.dataOffset}")
    h
  }

  private[graft] def decodeValue(b: Array[Byte], off: Int, h: Header): Double = {
    val n = h.elemSize
    var bits = 0L
    var j = 0
    while (j < n) {
      val byte = b(off + j) & 0xffL
      bits |= (if (h.littleEndian) byte << (8 * j) else byte << (8 * (n - 1 - j)))
      j += 1
    }
    (h.typeChar, n) match {
      case ('f', 8) => java.lang.Double.longBitsToDouble(bits)
      case ('f', 4) => java.lang.Float.intBitsToFloat(bits.toInt).toDouble
      case ('f', 2) => CfDecode.halfToDouble(bits.toInt)
      case ('i', 1) => bits.toByte.toDouble
      case ('i', 2) => bits.toShort.toDouble
      case ('i', 4) => bits.toInt.toDouble
      case ('i', 8) => bits.toDouble
      case ('u', 8) =>
        if (bits >= 0) bits.toDouble
        else (bits & Long.MaxValue).toDouble + 9.223372036854776e18
      case ('u', _) => bits.toDouble
      case ('b', 1) => if (bits != 0) 1.0 else 0.0
      case (c, w) => throw UnsupportedNpy(s"dtype $c$w")
    }
  }

  // ------------------------------------------------------------- readers

  private val schema1d = StructType(Seq(
    StructField("file_uri", StringType, nullable = false),
    StructField("idx", LongType, nullable = false),
    StructField("value", DoubleType, nullable = false)))

  private val schema2d = StructType(Seq(
    StructField("file_uri", StringType, nullable = false),
    StructField("row", LongType, nullable = false),
    StructField("values", ArrayType(DoubleType, containsNull = false),
      nullable = false)))

  /** Read every `.npy` matching `pattern`. All files must share the same
    * rank (1-D -> (file_uri, idx, value); 2-D -> (file_uri, row, values)).
    * C-order 2-D files fan out row-range partitions of positioned reads. */
  def read(spark: SparkSession, pattern: String, partitions: Int = 0): DataFrame = {
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    val p = new Path(pattern)
    val fs = p.getFileSystem(conf)
    val files = Option(fs.globStatus(p)).map(_.toSeq).getOrElse(Nil)
      .filter(_.isFile).map(_.getPath.toString)
    require(files.nonEmpty, s"no npy files match $pattern")
    val tconf = TaskConf(conf)
    // headers parse on the driver (O(KiB) each) to plan the partitions
    val heads = files.map { uri =>
      val path = new Path(uri)
      val f = path.getFileSystem(conf)
      val in = f.open(path)
      try {
        val len = f.getFileStatus(path).getLen
        uri -> parseHeader((off, n) => {
          val b = new Array[Byte](n); in.readFully(off, b, 0, n); b
        }, len)
      } finally in.close()
    }
    val ranks = heads.map(_._2.shape.size).distinct
    require(ranks.size == 1, s"mixed ranks $ranks under one pattern")
    val rank = ranks.head
    if (rank != 1 && rank != 2)
      throw UnsupportedNpy(s"$rank-D array (1-D and 2-D only; reshape upstream)")
    val want = if (partitions > 0) partitions
      else spark.sparkContext.defaultParallelism
    // plan against the GLOBAL row count (per-file-x-want task lists explode
    // on many-file globs), and cap every element's byte span so a single
    // task buffer can never approach the 2 GiB array limit
    val totalRows = heads.map(_._2.shape.head).sum
    val rowsPerTask = math.max(1L, (totalRows + want - 1) / want)
    // task list: (uri, header, firstRow, rowCount), file-major so each
    // partition holds contiguous runs per file
    val tasks = heads.flatMap { case (uri, h) =>
      val rows = h.shape.head
      val esz = h.elemSize
      val rowBytes = (if (rank == 2) h.shape(1) else 1L) * esz
      if (rowBytes > MaxTaskBytes)
        throw UnsupportedNpy(s"one row of $uri spans $rowBytes bytes " +
          s"(cap $MaxTaskBytes)")
      if (rank == 2 && h.fortranOrder) {
        // fortran rows are strided across the whole body: one task must
        // hold it all, so it has to fit one buffer
        if (rows * rowBytes > MaxTaskBytes)
          throw UnsupportedNpy(s"fortran-order $uri spans ${rows * rowBytes} " +
            s"bytes (cap $MaxTaskBytes for strided reads — convert to C order)")
        Seq((uri, h, 0L, rows))
      } else {
        val per = math.min(rowsPerTask, math.max(1L, MaxTaskBytes / rowBytes))
        (0L until rows by per).map(r0 => (uri, h, r0, math.min(per, rows - r0)))
      }
    }
    val nPart = math.max(1, math.min(tasks.size, want))
    val rdd = spark.sparkContext.parallelize(tasks, nPart).mapPartitions { it =>
      // one open stream per contiguous per-file run, through the shared
      // ranged-read lifecycle (close on exhaustion AND task completion)
      RangedIO.contiguousRuns(it)(_._1).flatMap { case (uri, elems) =>
        RangedIO.rows(uri, tconf) { in =>
          elems.iterator.flatMap { case (_, h, row0, nRows) =>
            val esz = h.elemSize
            if (rank == 1) {
              val raw = new Array[Byte]((nRows * esz).toInt)
              in.readFully(h.dataOffset + row0 * esz, raw)
              (0L until nRows).iterator.map { k =>
                Row(uri, row0 + k, decodeValue(raw, (k * esz).toInt, h))
              }
            } else {
              val cols = h.shape(1).toInt
              if (!h.fortranOrder) {
                val rowBytes = cols.toLong * esz
                val raw = new Array[Byte]((nRows * rowBytes).toInt)
                in.readFully(h.dataOffset + row0 * rowBytes, raw)
                (0L until nRows).iterator.map { k =>
                  val base = (k * rowBytes).toInt
                  Row(uri, row0 + k,
                    (0 until cols).map(j => decodeValue(raw, base + j * esz, h)))
                }
              } else {
                // fortran order: element (r, c) sits at (c*rows + r); the
                // single task walks the whole body strided
                val rows = h.shape.head
                val raw = new Array[Byte]((rows * cols * esz).toInt)
                in.readFully(h.dataOffset, raw)
                (0L until rows).iterator.map { r =>
                  Row(uri, r, (0 until cols).map(j =>
                    decodeValue(raw, ((j * rows + r) * esz).toInt, h)))
                }
              }
            }
          }
        }
      }
    }
    spark.createDataFrame(rdd, if (rank == 1) schema1d else schema2d)
  }

  /** Per-task byte-span cap: keeps buffers far from the JVM's 2 GiB array
    * limit and bounds executor memory per element. */
  private val MaxTaskBytes: Long = 256L << 20

  /** One row per array row from whole-file BYTES columns — the streaming
    * surface: `readStream.format("binaryFile")` delivers newly-landed
    * `.npy` files as (path, content) rows and this stateless flatMap
    * yields the 2-D schema (1-D files become singleton `values`), so
    * embedding deliveries stream through unchanged pipelines. Works on
    * batch DataFrames too. */
  def recordsFrom(df: DataFrame, uriCol: String = "path",
      bytesCol: String = "content"): DataFrame = {
    import org.apache.spark.sql.functions.col
    df.select(col(uriCol).cast("string"), col(bytesCol).cast("binary"))
      .flatMap { r =>
        val uri = r.getString(0)
        val bytes = r.getAs[Array[Byte]](1)
        if (bytes == null || bytes.isEmpty) Iterator.empty
        else {
          val h = parseHeader((off, n) => java.util.Arrays.copyOfRange(
            bytes, off.toInt, off.toInt + n), bytes.length.toLong)
          if (h.shape.size > 2)
            throw UnsupportedNpy(s"${h.shape.size}-D array in $uri")
          val esz = h.elemSize
          val rows = if (h.shape.isEmpty) 1L else h.shape.head
          val cols = if (h.shape.size == 2) h.shape(1).toInt else 1
          (0L until rows).iterator.map { r0 =>
            Row(uri, r0, (0 until cols).map { j =>
              val flat = if (h.fortranOrder && h.shape.size == 2)
                j * rows + r0 else r0 * cols + j
              decodeValue(bytes, (h.dataOffset + flat * esz).toInt, h)
            })
          }
        }
      }(org.apache.spark.sql.Encoders.row(schema2d))
  }

  private val schemaNpz = StructType(
    StructField("array_name", StringType, nullable = false) +: schema2d.fields)

  /** Read `.npz` archives (zip of `.npy` members, stored or deflated):
    * one task per archive; every member must be 1-D or 2-D and rows come
    * back in the 2-D shape (1-D members get single-element `values`). */
  def readNpz(spark: SparkSession, pattern: String): DataFrame = {
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    val p = new Path(pattern)
    val fs = p.getFileSystem(conf)
    val files = Option(fs.globStatus(p)).map(_.toSeq).getOrElse(Nil)
      .filter(_.isFile).map(_.getPath.toString)
    require(files.nonEmpty, s"no npz files match $pattern")
    val tconf = TaskConf(conf)
    val nPart = math.max(1, math.min(files.size,
      spark.sparkContext.defaultParallelism))
    val rdd = spark.sparkContext.parallelize(files, nPart).flatMap { uri =>
      val c = tconf.value
      val path = new Path(uri)
      val zin = new java.util.zip.ZipInputStream(path.getFileSystem(c).open(path))
      Option(org.apache.spark.TaskContext.get())
        .foreach(_.addTaskCompletionListener[Unit](_ =>
          try zin.close() catch { case _: java.io.IOException => }))
      Iterator.continually(zin.getNextEntry)
        .takeWhile(_ != null)
        .filter(e => !e.isDirectory && e.getName.endsWith(".npy"))
        .flatMap { e =>
          val name = e.getName.stripSuffix(".npy")
          val bytes = {
            val bos = new java.io.ByteArrayOutputStream()
            val buf = new Array[Byte](64 * 1024)
            var n = zin.read(buf)
            while (n >= 0) { bos.write(buf, 0, n); n = zin.read(buf) }
            bos.toByteArray
          }
          val h = parseHeader((off, len) => java.util.Arrays.copyOfRange(
            bytes, off.toInt, off.toInt + len), bytes.length.toLong)
          val esz = h.elemSize
          h.shape.size match {
            case 1 =>
              (0L until h.shape.head).iterator.map { k =>
                Row(name, uri, k, Seq(decodeValue(bytes,
                  (h.dataOffset + k * esz).toInt, h)))
              }
            case 2 =>
              val rows = h.shape.head
              val cols = h.shape(1).toInt
              (0L until rows).iterator.map { r =>
                Row(name, uri, r, (0 until cols).map { j =>
                  val flat = if (h.fortranOrder) j * rows + r else r * cols + j
                  decodeValue(bytes, (h.dataOffset + flat * esz).toInt, h)
                })
              }
            case d => throw UnsupportedNpy(
              s"$d-D member '$name' in $uri (1-D and 2-D only)")
          }
        }
    }
    spark.createDataFrame(rdd, schemaNpz)
  }

  // ------------------------------------------------------------- writer

  /** Fixture/export writer: C-order `.npy` (version 1.0) from row-major
    * doubles; `descr` picks the storage dtype. */
  def write(path: String, shape: Seq[Long], values: Seq[Double],
      descr: String = "<f8", fortranOrder: Boolean = false,
      conf: Configuration = new Configuration()): Unit = {
    require(shape.product == values.size, "shape/value count mismatch")
    val dict = s"{'descr': '$descr', 'fortran_order': " +
      s"${if (fortranOrder) "True" else "False"}, " +
      s"'shape': (${shape.mkString(", ")}${if (shape.size == 1) "," else ""}), }"
    val padTo = {
      val base = 10 + dict.length + 1
      ((base + 63) / 64) * 64
    }
    val header = dict + (" " * (padTo - 10 - dict.length - 1)) + "\n"
    val out = new java.io.ByteArrayOutputStream()
    out.write(0x93); out.write("NUMPY".getBytes("US-ASCII"))
    out.write(1); out.write(0)
    out.write(header.length & 0xff); out.write((header.length >> 8) & 0xff)
    out.write(header.getBytes("US-ASCII"))
    val esz = descr.drop(2).toInt
    val le = descr.head != '>'
    values.foreach { v =>
      val bits = (descr.charAt(1), esz) match {
        case ('f', 8) => java.lang.Double.doubleToLongBits(v)
        case ('f', 4) => java.lang.Float.floatToIntBits(v.toFloat).toLong
        case ('i', _) | ('u', _) => v.toLong
        case ('b', 1) => if (v != 0) 1L else 0L
        case _ => throw UnsupportedNpy(s"writer dtype $descr")
      }
      var j = 0
      while (j < esz) {
        val shift = if (le) 8 * j else 8 * (esz - 1 - j)
        out.write(((bits >> shift) & 0xff).toInt)
        j += 1
      }
    }
    val hp = new Path(path)
    val os = hp.getFileSystem(conf).create(hp, true)
    try os.write(out.toByteArray) finally os.close()
  }

  /** Fixture `.npz` writer. STORED entries by default (numpy's `np.savez`
    * layout); `compressed = true` deflates them (`np.savez_compressed`). */
  def writeNpz(path: String, arrays: Seq[(String, Seq[Long], Seq[Double])],
      compressed: Boolean = false,
      conf: Configuration = new Configuration()): Unit = {
    val hp = new Path(path)
    val os = hp.getFileSystem(conf).create(hp, true)
    val zos = new java.util.zip.ZipOutputStream(os)
    try {
      arrays.foreach { case (name, shape, values) =>
        val tmp = java.nio.file.Files.createTempFile("npz", ".npy")
        write(tmp.toString, shape, values)
        val bytes = java.nio.file.Files.readAllBytes(tmp)
        java.nio.file.Files.delete(tmp)
        val entry = new java.util.zip.ZipEntry(s"$name.npy")
        if (!compressed) {
          // STORED needs size + crc declared up front
          entry.setMethod(java.util.zip.ZipEntry.STORED)
          entry.setSize(bytes.length.toLong)
          entry.setCompressedSize(bytes.length.toLong)
          val crc = new java.util.zip.CRC32
          crc.update(bytes, 0, bytes.length)
          entry.setCrc(crc.getValue)
        }
        zos.putNextEntry(entry)
        zos.write(bytes)
        zos.closeEntry()
      }
    } finally zos.close()
  }
}
