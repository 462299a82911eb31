package graft.sources.grib

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.sources.TaskConf

/** Distributed long-format reader for GRIB edition 1 files, mirroring the
  * NetCDF-3/Zarr readers' row model: one row per grid point per message,
  * coordinate columns + cfgrib-style metadata + the decoded value.
  *
  * Parallelism: the driver indexes message HEADERS only (a few tiny ranged
  * reads per message — bitmap/data bodies are never touched), then messages
  * are spread across tasks and each task ranged-reads exactly its own
  * packed-data spans. A multi-GB many-message file scans fully in parallel.
  * Tasks get the session's Hadoop configuration (via [[TaskConf]]) and close
  * their input stream on task completion even when a consumer stops early
  * (limit/head/failure).
  *
  * [[readMerged]] is the reference's schema-normalization path (S3,
  * weather_mv/loader_pipeline/sinks.py:251-342): per-message channel names
  * via [[graft.operators.Mover.channelName]] synthesis, then the long->wide
  * merge with [[graft.operators.Mover.mergeChannels]].
  */
object Grib1Reader {

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

  /** Next offset >= `from` where a VALID GRIB message starts. Fast path:
    * probe `from` directly, so contiguous-message files keep the
    * header-only-IO indexing shape (no bulk scans). Fallback: scan forward
    * for the magic (real files carry WMO bulletin wrappers and padding),
    * validating each hit's edition + total length so ASCII "GRIB" inside
    * bulletin text can't derail the index. -1 when none. */
  private[grib] def nextMessage(read: (Long, Int) => Array[Byte], fileLen: Long,
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

  /** Index all messages in a file by hopping section lengths — header-only
    * ranged reads served from a [[BufferedReads]] 64 KiB window (a
    * 10k-message file costs O(fileLen / 64 KiB) filesystem round-trips, not
    * ~4 per message). Non-GRIB bytes between messages are skipped via magic
    * scan. Edition-strict: an edition-2 message raises a directed error
    * pointing at the edition-agnostic [[GribReader]]. */
  def indexMessages(conf: Configuration, path: String): Seq[Grib1.Message] =
    GribIndex.indexFile(conf, path).map {
      case m: Grib1.Message => m
      case f: Grib2.Field => throw Grib1.UnsupportedGrib(
        s"edition 2 field (data at offset ${f.dataOffset}) in a GRIB1-only " +
          s"index of $path — use GribReader, which reads mixed-edition files")
    }

  private def sessionConf(spark: SparkSession): Configuration =
    new Configuration(spark.sparkContext.hadoopConfiguration)

  /** One row per (message, grid point). `partitions` <= 0 uses the default
    * parallelism capped at the message count. */
  def readLongFormat(spark: SparkSession, path: String,
      partitions: Int = 0): DataFrame =
    fromIndex(spark, path, indexMessages(sessionConf(spark), path), partitions)

  /** [[readLongFormat]] over a pre-built message index (avoids re-reading
    * headers when the caller already indexed the file). */
  def fromIndex(spark: SparkSession, path: String, msgs: Seq[Grib1.Message],
      partitions: Int = 0): DataFrame =
    GribIndex.fromUnits(spark, path, msgs, partitions)

  /** Long format for SPECTRAL messages (grid type 50, simple spectral
    * packing): one row per spherical-harmonic coefficient —
    * [[GribSpectral.fromUnits]]'s schema and ordering. */
  def readSpectral(spark: SparkSession, path: String,
      partitions: Int = 0): DataFrame = {
    val conf = sessionConf(spark)
    // raw walk (GribIndex excludes spectral units from the gridded path)
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    val fileLen = fs.getFileStatus(p).getLen
    val in = fs.open(p)
    val msgs = try {
      val raw = (off: Long, len: Int) => {
        val b = new Array[Byte](len)
        in.readFully(off, b)
        b
      }
      val read = new BufferedReads(raw, fileLen)
      val out = Seq.newBuilder[Grib1.Message]
      var off = nextMessage(read, fileLen, 0L)
      while (off >= 0 && off + 8 <= fileLen) {
        val m = Grib1.parseMessage(read, off)
        if (m.spectral.isDefined) out += m
        off = nextMessage(read, fileLen, off + m.totalLength)
      }
      out.result()
    } finally in.close()
    require(msgs.nonEmpty, s"no spectral (type-50) messages in $path")
    GribSpectral.fromUnits(spark, path, msgs, partitions)
  }

  /** Wide per-channel frame: the GRIB normalize path (sinks.py:251-342) —
    * long rows merged on the synthesized channel name over the coordinate
    * key. One header index serves both the channel list and the row scan. */
  def readMerged(spark: SparkSession, path: String, partitions: Int = 0): DataFrame =
    GribIndex.readMerged(spark, path, indexMessages(sessionConf(spark), path), partitions)
}
