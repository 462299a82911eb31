package graft.sources.grib

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.sources.TaskConf

/** Edition-agnostic view of one decodable GRIB unit — an edition-1 message
  * or one edition-2 field. Everything the distributed row scan needs:
  * channel metadata, grid geometry, and the byte spans for task-side ranged
  * reads. [[Grib1.Message]] and [[Grib2.Field]] both implement it, so one
  * scan path serves both editions and mixed-edition files (which cfgrib —
  * the reference's decoder, weather_mv sinks.py:371-389 — reads
  * transparently; so does this). */
trait GribUnit extends Serializable {
  def ni: Int
  def nj: Int
  def nPoints: Int
  def levelName: String
  def levelHeight: Double
  def stepType: String
  def shortName: String
  def validTimeEpochSec: Long
  def latOf(j: Int): Double
  def lonOf(i: Int): Double
  def bitmapOffset: Long
  def bitmapBytes: Int
  def dataOffset: Long
  def dataBytes: Int

  /** Decode this unit's packed values (edition-specific codec). */
  def decode(data: Array[Byte], bitmap: Array[Byte]): Array[Double]

  /** Triangular truncation M of a spectral unit; None for gridded data. */
  def spectralM: Option[Int] = None

  /** (lat, lon) of linear point index `k` in scan order. Rectangular grids
    * derive row/column from `ni`; ragged grids (reduced Gaussian) override
    * with their per-row geometry. */
  def coordOf(k: Int): (Double, Double) = (latOf(k / ni), lonOf(k % ni))

  /** Exact identity of the point set [[coordOf]] walks: every field it
    * reads, as text. `Double.toString` is exact and NaN-safe, where
    * case-class equality on a NaN field (a spherical projection's minor
    * axis) is false. Units with equal keys have identical coordinates. */
  private[grib] def gridKey: String

  final def channel: String = graft.operators.Mover.channelName(
    levelName, levelHeight, stepType, shortName)
}

/** Long-format builder for SPECTRAL units of either edition: one row per
  * spherical-harmonic coefficient — (time, short_name, level, m, n, re, im)
  * in m-major stream order (the layout eccodes exposes as a spectral
  * message's `values`). One task per field/message. */
object GribSpectral {
  def fromUnits(spark: SparkSession, path: String, units: Seq[GribUnit]): DataFrame = {
    require(units.nonEmpty, s"no spectral fields in $path")
    require(units.forall(_.spectralM.isDefined), "non-spectral unit in spectral read")
    val schema = StructType(Seq(
      StructField("time", TimestampNTZType, nullable = false),
      StructField("short_name", StringType, nullable = false),
      StructField("level", DoubleType, nullable = false),
      StructField("m", LongType, nullable = false),
      StructField("n", LongType, nullable = false),
      StructField("re", DoubleType, nullable = false),
      StructField("im", DoubleType, nullable = false)))
    val nPart = math.max(1, math.min(units.size, spark.sparkContext.defaultParallelism))
    val tconf = TaskConf(new Configuration(spark.sparkContext.hadoopConfiguration))
    val pathLocal = path
    val rdd = spark.sparkContext.parallelize(units, nPart).flatMap { u =>
      graft.sources.RangedIO.rows(pathLocal, tconf) { fin =>
        val data = new Array[Byte](u.dataBytes)
        fin.readFully(u.dataOffset, data)
        val vals = u.decode(data, null)
        val mt = u.spectralM.get
        val t = java.time.LocalDateTime.ofEpochSecond(
          u.validTimeEpochSec, 0, java.time.ZoneOffset.UTC)
        val name = u.shortName
        val level = u.levelHeight
        var vi = 0
        (0 to mt).iterator.flatMap { m =>
          (m to mt).iterator.map { n =>
            val r = Row(t, name, level, m.toLong, n.toLong, vals(vi), vals(vi + 1))
            vi += 2
            r
          }
        }
      }
    }
    spark.createDataFrame(rdd, schema)
  }
}

/** Buffered ranged reader for header indexing: serves the indexer's many
  * small, mostly-monotonic header reads from one 64 KiB window, so indexing
  * a 10k-message file costs O(fileLen / 64 KiB) filesystem round-trips
  * instead of ~4 per message. Reads at or above the window size pass
  * through untouched (the magic-scan fallback already reads 64 KiB chunks).
  * Single-threaded use only (one indexer per stream, the existing shape). */
final class BufferedReads(underlying: (Long, Int) => Array[Byte],
    fileLen: Long, bufSize: Int = 64 * 1024) extends ((Long, Int) => Array[Byte]) {
  private var bufOff = 0L
  private var buf: Array[Byte] = Array.emptyByteArray
  /** Underlying filesystem reads issued — observable for the IO-shape spec. */
  var fetches: Long = 0L

  def apply(off: Long, len: Int): Array[Byte] = {
    if (off >= bufOff && off + len <= bufOff + buf.length)
      java.util.Arrays.copyOfRange(buf, (off - bufOff).toInt, (off - bufOff).toInt + len)
    else if (len >= bufSize) { fetches += 1; underlying(off, len) }
    else {
      val want = math.min(math.max(bufSize, len).toLong, fileLen - off).toInt
      fetches += 1
      buf = underlying(off, want)
      bufOff = off
      java.util.Arrays.copyOfRange(buf, 0, len)
    }
  }
}

/** The one GRIB index and scan, for either edition and mixed-edition
  * files: per-MESSAGE edition dispatch, buffered header IO, and the
  * distributed multi-file (glob) ingest path — the reference's primary
  * invocation shape (`pattern_to_uris` then one element per URI,
  * weather_mv/loader_pipeline/pipeline.py:42-48). [[messages]] is the only
  * walk over a file's messages. */
object GribIndex {

  val longSchema: StructType = StructType(Seq(
    StructField("time", TimestampNTZType, nullable = false),
    StructField("latitude", DoubleType, nullable = false),
    StructField("longitude", DoubleType, nullable = false),
    StructField("level", StringType, nullable = false),
    StructField("height", DoubleType, nullable = false),
    StructField("step_type", StringType, nullable = false),
    StructField("short_name", StringType, nullable = false),
    StructField("channel", StringType, nullable = false),
    StructField("value", DoubleType, nullable = true)))

  /** [[longSchema]] plus the originating file URI — the multi-file frames
    * carry provenance like the reference's BQ rows (sinks.py: data_uri
    * column). */
  val longSchemaUri: StructType = StructType(
    StructField("data_uri", StringType, nullable = false) +: longSchema.fields.toSeq)

  /** Next offset >= `from` where a VALID GRIB message starts. Fast path:
    * probe `from` directly, so contiguous-message files keep the
    * header-only-IO indexing shape (no bulk scans). Fallback: scan forward
    * for the magic (real files carry WMO bulletin wrappers and padding),
    * validating each hit's edition + total length so ASCII "GRIB" inside
    * bulletin text can't derail the index. -1 when none. */
  private def nextMessage(read: (Long, Int) => Array[Byte], fileLen: Long,
      from: Long): Long = {
    def valid(off: Long): Boolean = {
      if (off + 8 > fileLen) return false
      val b = read(off, math.min(16L, fileLen - off).toInt)
      if (!(b(0) == 'G' && b(1) == 'R' && b(2) == 'I' && b(3) == 'B')) return false
      (b(7) & 0xff) match {
        case 1 =>
          val total = Grib1.u24(b, 4)
          total >= 40 && off + total <= fileLen
        case 2 =>
          b.length >= 16 && {
            val total = Grib2.u64(b, 8)
            total >= 30 && off + total <= fileLen
          }
        case _ => false
      }
    }
    if (from + 4 <= fileLen && valid(from)) return from
    val chunk = 64 * 1024
    var off = from
    while (off + 4 <= fileLen) {
      val len = math.min(chunk.toLong, fileLen - off).toInt
      val b = read(off, len)
      var i = 0
      while (i + 4 <= len) {
        if (b(i) == 'G' && b(i + 1) == 'R' && b(i + 2) == 'I' && b(i + 3) == 'B' &&
            valid(off + i))
          return off + i
        i += 1
      }
      off += math.max(len - 3, 1)
    }
    -1L
  }

  /** Every message of a file as (offset, length, units), dispatching PER
    * MESSAGE on the edition byte (indicator octet 8), so mixed-edition
    * operational archives read transparently. An edition-1 message is one
    * unit; an edition-2 message may carry several fields. Spectral units
    * are kept — the caller decides. Non-GRIB bytes between messages are
    * skipped by the magic scan. */
  def messages(read: (Long, Int) => Array[Byte],
      fileLen: Long): Seq[(Long, Long, Seq[GribUnit])] = {
    val out = Seq.newBuilder[(Long, Long, Seq[GribUnit])]
    var off = nextMessage(read, fileLen, 0L)
    while (off >= 0 && off + 8 <= fileLen) {
      val (units, total) = Grib1.u8(read(off, 8), 7) match {
        case 1 =>
          val m = Grib1.parseMessage(read, off)
          (Seq(m), m.totalLength.toLong)
        case 2 => Grib2.parseMessage(read, off)
        case e => throw Grib1.UnsupportedGrib(s"edition $e at offset $off")
      }
      out += ((off, total, units))
      off = nextMessage(read, fileLen, off + total)
    }
    out.result()
  }

  /** The gridded units of a walk: spectral units have no lat/lon row
    * model ([[GribReader.readSpectral]] is their access path). */
  private def gridded(msgs: Seq[(Long, Long, Seq[GribUnit])]): Seq[GribUnit] =
    msgs.flatMap(_._3).filter(_.spectralM.isEmpty)

  /** Every gridded unit of a file, in file order. */
  def indexUnits(read: (Long, Int) => Array[Byte], fileLen: Long): Seq[GribUnit] =
    gridded(messages(read, fileLen))

  /** [[messages]] over a stream the caller opened on `path` and closes:
    * header-only ranged reads served from a [[BufferedReads]] 64 KiB
    * window, so a 10k-message file costs O(fileLen / 64 KiB) filesystem
    * round-trips, not ~4 per message. */
  private def walk(conf: Configuration, path: String,
      in: org.apache.hadoop.fs.FSDataInputStream): Seq[(Long, Long, Seq[GribUnit])] = {
    val p = new Path(path)
    val fileLen = p.getFileSystem(conf).getFileStatus(p).getLen
    val raw = (off: Long, len: Int) => {
      val b = new Array[Byte](len)
      in.readFully(off, b)
      b
    }
    messages(new BufferedReads(raw, fileLen), fileLen)
  }

  /** [[messages]] of one file — each message keeps its byte span, the
    * unit of GRIB virtualization (`Kerchunk.scanGrib`) and of the
    * byte-copy split ([[GribSplitter]]). */
  def indexMessageSpans(conf: Configuration,
      path: String): Seq[(Long, Long, Seq[GribUnit])] = {
    val p = new Path(path)
    val in = p.getFileSystem(conf).open(p)
    try walk(conf, path, in) finally in.close()
  }

  /** Header-only index of one file's gridded units. */
  def indexFile(conf: Configuration, path: String): Seq[GribUnit] =
    gridded(indexMessageSpans(conf, path))

  /** Expand a concrete path, glob pattern, or directory into file URIs
    * (S6 `pattern_to_uris`, pipeline.py:42-48; directories list their
    * plain files). Deterministic (sorted) order. */
  def expand(conf: Configuration, pattern: String): Seq[String] = {
    val p = new Path(pattern)
    val fs = p.getFileSystem(conf)
    val matched = Option(fs.globStatus(p)).map(_.toSeq).getOrElse(Nil)
    matched.flatMap { st =>
      if (st.isDirectory) fs.listStatus(st.getPath).toSeq.filter(_.isFile)
      else Seq(st)
    }.map(_.getPath.toString).sorted
  }

  /** True when `uri` needs [[expand]] (glob metacharacters or a directory). */
  def isMulti(conf: Configuration, uri: String): Boolean =
    uri.exists(c => c == '*' || c == '?' || c == '[' || c == '{') || {
      val p = new Path(uri)
      val fs = p.getFileSystem(conf)
      try fs.getFileStatus(p).isDirectory catch { case _: java.io.IOException => false }
    }

  /** Rows of one unit; the caller owns the stream. */
  private def unitRows(in: org.apache.hadoop.fs.FSDataInputStream,
      u: GribUnit, uri: Option[String]): Iterator[Row] = {
    val data = new Array[Byte](u.dataBytes)
    in.readFully(u.dataOffset, data)
    val bitmap =
      if (u.bitmapOffset >= 0) {
        val b = new Array[Byte](u.bitmapBytes)
        in.readFully(u.bitmapOffset, b)
        b
      } else null
    val values = u.decode(data, bitmap)
    val time = java.time.LocalDateTime.ofEpochSecond(
      u.validTimeEpochSec, 0, java.time.ZoneOffset.UTC)
    val level = u.levelName
    val height = u.levelHeight
    val stepType = u.stepType
    val shortName = u.shortName
    val channel = u.channel
    (0 until u.nPoints).iterator.map { k =>
      val (lat, lon) = u.coordOf(k)
      val v = values(k)
      val boxed = if (v.isNaN) null else java.lang.Double.valueOf(v)
      uri match {
        case Some(uq) => Row(uq, time, lat, lon, level, height,
          stepType, shortName, channel, boxed)
        case None => Row(time, lat, lon, level, height,
          stepType, shortName, channel, boxed)
      }
    }
  }

  /** One row per (unit, grid point) over a pre-built single-file index:
    * units spread across tasks, each task ranged-reads exactly its own
    * packed-data spans. `withUri` adds the data_uri column. */
  def fromUnits(spark: SparkSession, path: String, units: Seq[GribUnit],
      withUri: Boolean = false): DataFrame = {
    require(units.nonEmpty, s"no GRIB messages in $path")
    val nPart = math.max(1, math.min(units.size, spark.sparkContext.defaultParallelism))
    val pathLocal = path
    val uriOpt = if (withUri) Some(path) else None
    val tconf = TaskConf(new Configuration(spark.sparkContext.hadoopConfiguration))
    val rdd = spark.sparkContext.parallelize(units, nPart).mapPartitions { it =>
      graft.sources.RangedIO.rows(pathLocal, tconf) { in =>
        it.flatMap(u => unitRows(in, u, uriOpt))
      }
    }
    spark.createDataFrame(rdd, if (withUri) longSchemaUri else longSchema)
  }

  /** Wide per-channel frame over one file's gridded units: the GRIB
    * normalize path (sinks.py:251-342) — long rows merged on the
    * synthesized channel name over the coordinate key — carrying the
    * index's [[GridFacts]]. The body behind [[GribReader.readMerged]]. */
  private[grib] def readMerged(spark: SparkSession, path: String,
      units: Seq[GribUnit]): DataFrame = {
    val long = fromUnits(spark, path, units)
      .select("time", "latitude", "longitude", "channel", "value")
    val merged = graft.operators.Mover.mergeChannels(
      long, Seq("time", "latitude", "longitude"), "channel", "value",
      units.map(_.channel).distinct)
    GridFacts.attach(merged, GridFacts.fromUnits(units))
  }

  /** Distributed multi-file scan: ONE TASK PER FILE indexes and decodes its
    * own file (no driver round-trips — this is what fixes the driver-serial
    * per-file indexing for many-file corpora). A single-path list keeps
    * message-level parallelism via [[fromUnits]] instead. Rows carry
    * data_uri. */
  def readLongFormatFiles(spark: SparkSession, paths: Seq[String]): DataFrame = {
    require(paths.nonEmpty, "no GRIB files matched")
    if (paths.size == 1)
      return fromUnits(spark, paths.head,
        indexFile(new Configuration(spark.sparkContext.hadoopConfiguration), paths.head),
        withUri = true)
    val nPart = math.max(1, math.min(paths.size,
      spark.sparkContext.defaultParallelism))
    val tconf = TaskConf(new Configuration(spark.sparkContext.hadoopConfiguration))
    val rdd = spark.sparkContext.parallelize(paths, nPart).mapPartitions { files =>
      files.flatMap { path =>
        graft.sources.RangedIO.rows(path, tconf) { in =>
          gridded(walk(tconf.value, path, in))
            .iterator.flatMap(u => unitRows(in, u, Some(path)))
        }
      }
    }
    spark.createDataFrame(rdd, longSchemaUri)
  }

  /** Channel inventory of many files from HEADERS only (parallel, one task
    * per file) — feeds the wide merge without decoding any data. */
  def channelsOfFiles(spark: SparkSession, paths: Seq[String]): Seq[String] = {
    val nPart = math.max(1, math.min(paths.size,
      spark.sparkContext.defaultParallelism))
    val tconf = TaskConf(new Configuration(spark.sparkContext.hadoopConfiguration))
    // a per-partition distinct, then the driver's: a few dozen names need
    // no shuffle stage
    spark.sparkContext.parallelize(paths, nPart)
      .mapPartitions(_.flatMap(path => indexFile(tconf.value, path).map(_.channel)).distinct)
      .collect().distinct.sorted.toSeq
  }

  /** Wide per-channel merge over a glob's files: the GRIB normalize path
    * (sinks.py:251-342) applied per file — the merge key includes data_uri,
    * which is exactly "extract_rows per URI, then union" in the reference's
    * Beam pipeline. */
  def readMergedFiles(spark: SparkSession, paths: Seq[String]): DataFrame = {
    val channels = channelsOfFiles(spark, paths)
    val long = readLongFormatFiles(spark, paths)
      .select("data_uri", "time", "latitude", "longitude", "channel", "value")
    graft.operators.Mover.mergeChannels(
      long, Seq("data_uri", "time", "latitude", "longitude"),
      "channel", "value", channels)
  }
}
