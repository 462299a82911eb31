package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods

/** safetensors ingestion (public format: huggingface/safetensors docs) —
  * the de-facto container for model weights and, increasingly, cached
  * activations / embedding dumps: a u64-LE header length, a JSON header
  * mapping tensor name -> {dtype, shape, data_offsets}, then one flat
  * byte buffer all offsets index into.
  *
  * Scale shape: the header is O(KiB) and gives every tensor's byte span
  * exactly, so the driver plans (tensor, row-range) tasks and each task
  * issues positioned reads of just its rows — the same
  * arithmetic-addressing pattern as [[Npy]] and the Zarr chunk grid. 1-D
  * tensors read as one row per element (singleton `values`); 2-D as
  * (row, values); higher ranks collapse their trailing dimensions into
  * the row vector (rank-N tensors are row-major, so rows stay
  * contiguous byte ranges).
  */
object Safetensors {

  final case class UnsupportedSafetensors(msg: String)
      extends RuntimeException(s"unsupported safetensors: $msg")

  final case class TensorInfo(name: String, dtype: String, shape: Seq[Long],
      begin: Long, end: Long)

  val schema: StructType = StructType(Seq(
    StructField("file_uri", StringType, nullable = false),
    StructField("tensor", StringType, nullable = false),
    StructField("row", LongType, nullable = false),
    StructField("values", ArrayType(DoubleType, containsNull = false),
      nullable = false)))

  val metaSchema: StructType = StructType(Seq(
    StructField("file_uri", StringType, nullable = false),
    StructField("tensor", StringType, nullable = false),
    StructField("dtype", StringType, nullable = false),
    StructField("shape", ArrayType(LongType, containsNull = false),
      nullable = false),
    StructField("n_bytes", LongType, nullable = false)))

  private def elemSize(dtype: String): Int = dtype match {
    case "F64" | "I64" | "U64" => 8
    case "F32" | "I32" | "U32" => 4
    case "F16" | "BF16" | "I16" | "U16" => 2
    case "I8" | "U8" | "BOOL" => 1
    case other => throw UnsupportedSafetensors(s"dtype $other")
  }

  private[graft] def decode(b: Array[Byte], off: Int, dtype: String): Double = {
    val n = elemSize(dtype)
    var bits = 0L
    var j = 0
    while (j < n) { bits |= (b(off + j) & 0xffL) << (8 * j); j += 1 } // LE
    dtype match {
      case "F64" => java.lang.Double.longBitsToDouble(bits)
      case "F32" => java.lang.Float.intBitsToFloat(bits.toInt).toDouble
      case "F16" => half(bits.toInt)
      case "BF16" => // top half of an IEEE float32
        java.lang.Float.intBitsToFloat((bits.toInt & 0xffff) << 16).toDouble
      case "I64" => bits.toDouble
      case "I32" => bits.toInt.toDouble
      case "I16" => bits.toShort.toDouble
      case "I8" => bits.toByte.toDouble
      case "U64" =>
        if (bits >= 0) bits.toDouble
        else (bits & Long.MaxValue).toDouble + 9.223372036854776e18
      case "U32" | "U16" | "U8" => bits.toDouble
      case "BOOL" => if (bits != 0) 1.0 else 0.0
      case other => throw UnsupportedSafetensors(s"dtype $other")
    }
  }

  private def half(h: Int): Double =
    CfDecode.halfToDouble(h)

  /** Parse the header: tensor table + the absolute byte offset of the
    * data buffer. `__metadata__` is skipped (free-form string map). */
  private[graft] def parseHeader(read: (Long, Int) => Array[Byte],
      fileLen: Long): (Seq[TensorInfo], Long) = {
    require(fileLen >= 8, "not safetensors: too short")
    val lb = read(0, 8)
    var hlen = 0L
    var j = 0
    while (j < 8) { hlen |= (lb(j) & 0xffL) << (8 * j); j += 1 }
    if (hlen <= 0 || hlen > fileLen - 8 || hlen > (100L << 20))
      throw UnsupportedSafetensors(s"header length $hlen")
    val json = try JsonMethods.parse(new String(read(8, hlen.toInt), "UTF-8"))
      catch { case e: Exception =>
        throw UnsupportedSafetensors(s"header is not JSON: ${e.getMessage}") }
    val obj = json match {
      case JObject(fields) => fields
      case _ => throw UnsupportedSafetensors("header is not a JSON object")
    }
    val tensors = obj.collect { case (name, JObject(f)) if name != "__metadata__" =>
      val m = f.toMap
      val dtype = m.get("dtype") match {
        case Some(JString(s)) => s
        case _ => throw UnsupportedSafetensors(s"tensor $name without dtype")
      }
      val shape = m.get("shape") match {
        case Some(JArray(xs)) => xs.map {
          case JInt(i) => i.toLong
          case other => throw UnsupportedSafetensors(s"shape element $other")
        }
        case _ => throw UnsupportedSafetensors(s"tensor $name without shape")
      }
      val (b, e) = m.get("data_offsets") match {
        case Some(JArray(List(JInt(b0), JInt(e0)))) => (b0.toLong, e0.toLong)
        case _ => throw UnsupportedSafetensors(s"tensor $name without data_offsets")
      }
      // scalar tensors have an empty shape; Seq.empty.product == 1 gives
      // exactly the one-element span the format stores for them
      val expect = shape.product * elemSize(dtype)
      if (e - b != expect)
        throw UnsupportedSafetensors(
          s"tensor $name spans ${e - b} bytes for shape $shape $dtype")
      TensorInfo(name, dtype, shape, b, e)
    }
    val dataStart = 8 + hlen
    tensors.foreach { t =>
      // a truncated download must fail HERE with tensor context, not as a
      // raw EOFException deep inside some executor task
      if (dataStart + t.end > fileLen)
        throw UnsupportedSafetensors(s"truncated: tensor ${t.name} ends at " +
          s"byte ${dataStart + t.end}, file has $fileLen")
    }
    (tensors, dataStart)
  }

  /** Header-only tensor listing across `pattern` — O(KiB) per file. */
  def readMeta(spark: SparkSession, pattern: String): DataFrame = {
    val (conf, files) = glob(spark, pattern)
    val rows = files.flatMap { uri =>
      val (tensors, _) = headerOf(conf, uri)
      tensors.map(t => Row(uri, t.name, t.dtype, t.shape, t.end - t.begin))
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, math.max(1, math.min(rows.size, 4))),
      metaSchema)
  }

  /** One row per tensor row across every file matching `pattern`. */
  def read(spark: SparkSession, pattern: String, partitions: Int = 0): DataFrame = {
    val (conf, files) = glob(spark, pattern)
    val tconf = TaskConf(conf)
    val want = if (partitions > 0) partitions
      else spark.sparkContext.defaultParallelism
    // plan against the GLOBAL row count (a 300-tensor checkpoint split
    // per-tensor-x-want would fan out thousands of tiny reads), with a
    // byte-span cap per element; file-major order keeps per-file runs
    // contiguous inside partitions
    val headers = files.map(uri => uri -> headerOf(conf, uri))
    val totalRows = headers.flatMap(_._2._1)
      .map(t => if (t.shape.isEmpty) 1L else t.shape.head).sum
    val rowsPerTask = math.max(1L, (totalRows + want - 1) / want)
    val tasks = headers.flatMap { case (uri, (tensors, dataStart)) =>
      tensors.flatMap { t =>
        val rows = if (t.shape.isEmpty) 1L else t.shape.head
        val rowElems =
          if (t.shape.size <= 1) 1L else t.shape.drop(1).product
        val rowBytes = rowElems * elemSize(t.dtype)
        if (rowBytes > MaxTaskBytes)
          throw UnsupportedSafetensors(s"one row of ${t.name} spans " +
            s"$rowBytes bytes (cap $MaxTaskBytes)")
        val per = math.min(rowsPerTask, math.max(1L, MaxTaskBytes / rowBytes))
        (0L until rows by per).map { r0 =>
          (uri, t.name, t.dtype, rowElems,
            dataStart + t.begin, r0, math.min(per, rows - r0))
        }
      }
    }
    require(tasks.nonEmpty, s"no tensors in $pattern")
    val nPart = math.max(1, math.min(tasks.size, want))
    val rdd = spark.sparkContext.parallelize(tasks, nPart).mapPartitions { it =>
      // one open stream per contiguous per-file run (shared ranged-read
      // lifecycle: close on exhaustion AND task completion)
      RangedIO.contiguousRuns(it)(_._1).flatMap { case (uri, elems) =>
        RangedIO.rows(uri, tconf) { in =>
          elems.iterator.flatMap {
            case (_, name, dtype, rowElems, byteStart, row0, nRows) =>
              val esz = elemSize(dtype)
              val rowBytes = rowElems * esz
              val raw = new Array[Byte]((nRows * rowBytes).toInt)
              in.readFully(byteStart + row0 * rowBytes, raw)
              (0L until nRows).iterator.map { k =>
                val base = (k * rowBytes).toInt
                Row(uri, name, row0 + k, (0 until rowElems.toInt)
                  .map(j => decode(raw, base + j * esz, dtype)))
              }
          }
        }
      }
    }
    spark.createDataFrame(rdd, schema)
  }

  /** Per-task byte-span cap (see [[Npy.read]]'s twin): buffers stay far
    * from the JVM's 2 GiB array limit. */
  private val MaxTaskBytes: Long = 256L << 20

  private def glob(spark: SparkSession, pattern: String): (Configuration, Seq[String]) = {
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    val p = new Path(pattern)
    val fs = p.getFileSystem(conf)
    val files = Option(fs.globStatus(p)).map(_.toSeq).getOrElse(Nil)
      .filter(_.isFile).map(_.getPath.toString)
    require(files.nonEmpty, s"no safetensors files match $pattern")
    (conf, files)
  }

  private def headerOf(conf: Configuration, uri: String): (Seq[TensorInfo], Long) = {
    val path = new Path(uri)
    val fs = path.getFileSystem(conf)
    val in = fs.open(path)
    try {
      val len = fs.getFileStatus(path).getLen
      parseHeader((off, n) => {
        val b = new Array[Byte](n); in.readFully(off, b, 0, n); b
      }, len)
    } finally in.close()
  }

  // ------------------------------------------------------------- writer

  /** Fixture/export writer: tensors as (name, shape, row-major doubles)
    * stored at `dtype` (F64/F32/I32/U8/...). */
  def write(path: String, tensors: Seq[(String, Seq[Long], Seq[Double])],
      dtype: String = "F32", conf: Configuration = new Configuration()): Unit = {
    val esz = elemSize(dtype)
    var off = 0L
    val entries = tensors.map { case (name, shape, values) =>
      require(shape.product == values.size || (shape.isEmpty && values.size == 1),
        s"tensor $name shape/value mismatch")
      val begin = off
      off += values.size.toLong * esz
      (name, shape, values, begin, off)
    }
    val header = entries.map { case (name, shape, _, b, e) =>
      s""""$name":{"dtype":"$dtype","shape":[${shape.mkString(",")}],""" +
        s""""data_offsets":[$b,$e]}"""
    }.mkString("{", ",", "}")
    val hb = header.getBytes("UTF-8")
    val out = new java.io.ByteArrayOutputStream()
    var j = 0
    while (j < 8) { out.write(((hb.length.toLong >> (8 * j)) & 0xff).toInt); j += 1 }
    out.write(hb)
    entries.foreach { case (_, _, values, _, _) =>
      values.foreach { v =>
        val bits = dtype match {
          case "F64" => java.lang.Double.doubleToLongBits(v)
          case "F32" => java.lang.Float.floatToIntBits(v.toFloat).toLong
          case "BF16" => (java.lang.Float.floatToIntBits(v.toFloat) >>> 16).toLong
          case "I64" | "I32" | "I16" | "I8" | "U64" | "U32" | "U16" | "U8" => v.toLong
          case "BOOL" => if (v != 0) 1L else 0L
          case other => throw UnsupportedSafetensors(s"writer dtype $other")
        }
        var k = 0
        while (k < esz) { out.write(((bits >> (8 * k)) & 0xff).toInt); k += 1 }
      }
    }
    val hp = new Path(path)
    val os = hp.getFileSystem(conf).create(hp, true)
    try os.write(out.toByteArray) finally os.close()
  }
}
