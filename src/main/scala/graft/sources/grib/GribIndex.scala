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

/** Shared long-format builder for SPECTRAL units of either edition: one row
  * per spherical-harmonic coefficient — (time, short_name, level, m, n, re,
  * im) in m-major stream order (the layout eccodes exposes as a spectral
  * message's `values`). One task per field/message. */
object GribSpectral {
  def fromUnits(spark: org.apache.spark.sql.SparkSession, path: String,
      units: Seq[GribUnit], partitions: Int = 0): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.types._
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
    val nPart = if (partitions > 0) partitions
      else math.max(1, math.min(units.size, spark.sparkContext.defaultParallelism))
    val tconf = graft.sources.TaskConf(
      new Configuration(spark.sparkContext.hadoopConfiguration))
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
            val r = org.apache.spark.sql.Row(
              t, name, level, m.toLong, n.toLong, vals(vi), vals(vi + 1))
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

/** Unified GRIB indexing and scanning: per-MESSAGE edition dispatch, buffered
  * header IO, and the distributed multi-file (glob) ingest path — the
  * reference's primary invocation shape (`pattern_to_uris` then one element
  * per URI, weather_mv/loader_pipeline/pipeline.py:42-48). */
object GribIndex {

  /** [[Grib1Reader.longSchema]] plus the originating file URI — the
    * multi-file frames carry provenance like the reference's BQ rows
    * (sinks.py: data_uri column). */
  val longSchemaUri: StructType = StructType(
    StructField("data_uri", StringType, nullable = false) +:
      Grib1Reader.longSchema.fields.toSeq)

  /** Index every decodable unit of a file, dispatching PER MESSAGE on the
    * edition byte (indicator octet 8) — mixed-edition operational archives
    * read transparently instead of failing mid-index. */
  def indexUnits(read: (Long, Int) => Array[Byte], fileLen: Long): Seq[GribUnit] = {
    val out = Seq.newBuilder[GribUnit]
    var off = Grib1Reader.nextMessage(read, fileLen, 0L)
    while (off >= 0 && off + 8 <= fileLen) {
      Grib1.u8(read(off, 8), 7) match {
        case 1 =>
          val m = Grib1.parseMessage(read, off)
          // spectral (type-50) messages are excluded like their GRIB2 kin;
          // Grib1Reader.readSpectral reads them
          if (m.spectral.isEmpty) out += m
          off = Grib1Reader.nextMessage(read, fileLen, off + m.totalLength)
        case 2 =>
          val (fields, total) = Grib2.parseMessage(read, off)
          // spectral (3.50) fields have no lat/lon row model — excluded from
          // the gridded index; Grib2Reader.readSpectral reads them
          out ++= fields.filterNot(_.spectral.isDefined)
          off = Grib1Reader.nextMessage(read, fileLen, off + total)
        case e => throw Grib1.UnsupportedGrib(s"edition $e at offset $off")
      }
    }
    out.result()
  }

  /** Mixed-edition walk that keeps each MESSAGE's byte span — the unit of
    * GRIB virtualization (`Kerchunk.scanGrib` references messages whole).
    * Returns (offset, length, units); edition-2 messages may carry several
    * fields. Spectral fields are NOT excluded here — the caller decides. */
  def indexMessageSpans(conf: Configuration,
      path: String): Seq[(Long, Long, Seq[GribUnit])] = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val fileLen = fs.getFileStatus(p).getLen
    val in = fs.open(p)
    try {
      val raw = (off: Long, len: Int) => {
        val b = new Array[Byte](len)
        in.readFully(off, b)
        b
      }
      val read = new BufferedReads(raw, fileLen)
      val out = Seq.newBuilder[(Long, Long, Seq[GribUnit])]
      var off = Grib1Reader.nextMessage(read, fileLen, 0L)
      while (off >= 0 && off + 8 <= fileLen) {
        val total = Grib1.u8(read(off, 8), 7) match {
          case 1 =>
            val m = Grib1.parseMessage(read, off)
            out += ((off, m.totalLength.toLong, Seq(m)))
            m.totalLength.toLong
          case 2 =>
            val (fields, t) = Grib2.parseMessage(read, off)
            out += ((off, t, fields))
            t
          case e => throw Grib1.UnsupportedGrib(s"edition $e at offset $off")
        }
        off = Grib1Reader.nextMessage(read, fileLen, off + total)
      }
      out.result()
    } finally in.close()
  }

  /** Header-only index of one file through a buffered reader. */
  def indexFile(conf: Configuration, path: String): Seq[GribUnit] = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val fileLen = fs.getFileStatus(p).getLen
    val in = fs.open(p)
    try {
      val raw = (off: Long, len: Int) => {
        val b = new Array[Byte](len)
        in.readFully(off, b)
        b
      }
      indexUnits(new BufferedReads(raw, fileLen), fileLen)
    } finally in.close()
  }

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
      partitions: Int = 0, withUri: Boolean = false): DataFrame = {
    require(units.nonEmpty, s"no GRIB messages in $path")
    val nPart = if (partitions > 0) partitions
      else math.max(1, math.min(units.size, spark.sparkContext.defaultParallelism))
    val pathLocal = path
    val uriOpt = if (withUri) Some(path) else None
    val tconf = TaskConf(new Configuration(spark.sparkContext.hadoopConfiguration))
    val rdd = spark.sparkContext.parallelize(units, nPart).mapPartitions { it =>
      graft.sources.RangedIO.rows(pathLocal, tconf) { in =>
        it.flatMap(u => unitRows(in, u, uriOpt))
      }
    }
    spark.createDataFrame(rdd, if (withUri) longSchemaUri else Grib1Reader.longSchema)
  }

  /** Wide per-channel frame over one file's index: the GRIB normalize path
    * (sinks.py:251-342) — long rows merged on the synthesized channel name
    * over the coordinate key — carrying the index's [[GridFacts]]. The one
    * body behind every single-file `readMerged`; each entry point keeps its
    * own edition and spectral guards on `units`. */
  private[grib] def readMerged(spark: SparkSession, path: String,
      units: Seq[GribUnit], partitions: Int): DataFrame = {
    val long = fromUnits(spark, path, units, partitions)
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
          val p = new Path(path)
          val fs = p.getFileSystem(tconf.value)
          val fileLen = fs.getFileStatus(p).getLen
          val raw = (off: Long, len: Int) => {
            val b = new Array[Byte](len)
            in.readFully(off, b)
            b
          }
          indexUnits(new BufferedReads(raw, fileLen), fileLen)
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
