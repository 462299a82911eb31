package graft.sources.grib

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.sources.TaskConf

/** Distributed long-format reader for GRIB edition 2 — same row model,
  * channel synthesis, and scale shape as [[Grib1Reader]] (driver indexes
  * headers only; tasks ranged-read their own packed-data spans; streams
  * close on task completion). */
object Grib2Reader {

  /** Index per MESSAGE: (offset, length, fields) — header-only reads served
    * from a [[BufferedReads]] 64 KiB window. */
  def indexMessages(conf: Configuration,
      path: String): Seq[(Long, Long, Seq[Grib2.Field])] = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val fileLen = fs.getFileStatus(p).getLen
    val in = fs.open(p)
    val raw = (off: Long, len: Int) => {
      val b = new Array[Byte](len)
      in.readFully(off, b)
      b
    }
    val read = new BufferedReads(raw, fileLen)
    try {
      val out = Seq.newBuilder[(Long, Long, Seq[Grib2.Field])]
      var off = Grib1Reader.nextMessage(read, fileLen, 0L)
      while (off >= 0 && off + 16 <= fileLen) {
        if (Grib1.u8(read(off, 8), 7) != 2)
          throw Grib1.UnsupportedGrib(
            s"edition 1 message at offset $off in a GRIB2-only index of " +
              s"$path — use GribReader, which reads mixed-edition files")
        val (fields, total) = Grib2.parseMessage(read, off)
        out += ((off, total, fields))
        off = Grib1Reader.nextMessage(read, fileLen, off + total)
      }
      out.result()
    } finally in.close()
  }

  /** Every FIELD of the file (messages may carry several). */
  def indexFields(conf: Configuration, path: String): Seq[Grib2.Field] =
    indexMessages(conf, path).flatMap(_._3)

  private def sessionConf(spark: SparkSession): Configuration =
    new Configuration(spark.sparkContext.hadoopConfiguration)

  /** The file's grid fields: spectral fields have no lat/lon row model —
    * [[readSpectral]] is their access path. */
  private def gridded(spark: SparkSession, path: String): Seq[Grib2.Field] = {
    val all = indexFields(sessionConf(spark), path)
    val gridded = all.filterNot(_.spectral.isDefined)
    if (gridded.isEmpty && all.nonEmpty)
      throw Grib1.UnsupportedGrib(s"only spectral (3.50) fields in $path — " +
        "read them with Grib2Reader.readSpectral")
    gridded
  }

  def readLongFormat(spark: SparkSession, path: String,
      partitions: Int = 0): DataFrame =
    fromIndex(spark, path, gridded(spark, path), partitions)

  /** Long format for SPECTRAL fields (grid template 3.50 + representation
    * 5.50/5.51): one row per complex spherical-harmonic coefficient —
    * [[GribSpectral.fromUnits]]'s schema and ordering. */
  def readSpectral(spark: SparkSession, path: String,
      partitions: Int = 0): DataFrame = {
    val fields = indexFields(sessionConf(spark), path).filter(_.spectral.isDefined)
    require(fields.nonEmpty, s"no spectral (3.50) fields in $path")
    GribSpectral.fromUnits(spark, path, fields, partitions)
  }

  def fromIndex(spark: SparkSession, path: String, fields: Seq[Grib2.Field],
      partitions: Int = 0): DataFrame =
    GribIndex.fromUnits(spark, path, fields, partitions)

  def readMerged(spark: SparkSession, path: String, partitions: Int = 0): DataFrame =
    GribIndex.readMerged(spark, path, gridded(spark, path), partitions)
}

/** Edition-agnostic facade: the index dispatches PER MESSAGE on indicator
  * octet 8, so pure edition-1, pure edition-2, and mixed-edition files all
  * read through one path (cfgrib reads mixed archives transparently — so
  * does this). Glob/directory patterns fan out one indexing task per file
  * ([[GribIndex.readLongFormatFiles]]). */
object GribReader {
  /** Edition of the FIRST message (sniffing aid; the readers no longer
    * depend on file-wide edition uniformity). */
  def edition(conf: Configuration, path: String): Int = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val fileLen = fs.getFileStatus(p).getLen
    val in = fs.open(p)
    def read(off: Long, len: Int): Array[Byte] = {
      val b = new Array[Byte](len)
      in.readFully(off, b)
      b
    }
    try {
      // magic scan: bulletin headers may precede the first message
      val off = Grib1Reader.nextMessage(read _, fileLen, 0L)
      require(off >= 0 && off + 8 <= fileLen, s"not a GRIB file: $path")
      Grib1.u8(read(off, 8), 7)
    } finally in.close()
  }

  private def sessionConf(spark: SparkSession): Configuration =
    new Configuration(spark.sparkContext.hadoopConfiguration)

  private def units(spark: SparkSession, path: String): Seq[GribUnit] = {
    val units = GribIndex.indexFile(sessionConf(spark), path)
    require(units.nonEmpty, s"not a GRIB file: $path")
    units
  }

  def readLongFormat(spark: SparkSession, path: String, partitions: Int = 0): DataFrame =
    GribIndex.fromUnits(spark, path, units(spark, path), partitions)

  def readMerged(spark: SparkSession, path: String, partitions: Int = 0): DataFrame =
    GribIndex.readMerged(spark, path, units(spark, path), partitions)

  /** Long format over a glob/directory pattern — one indexing+decoding task
    * per file, rows carry data_uri (pattern_to_uris, pipeline.py:42-48). */
  def readLongFormatGlob(spark: SparkSession, pattern: String): DataFrame = {
    val paths = GribIndex.expand(sessionConf(spark), pattern)
    require(paths.nonEmpty, s"no files match GRIB pattern: $pattern")
    GribIndex.readLongFormatFiles(spark, paths)
  }

  /** Channel-merged frame over a glob/directory pattern; the merge key
    * includes data_uri (= the reference's per-URI extract then union). */
  def readMergedGlob(spark: SparkSession, pattern: String): DataFrame = {
    val paths = GribIndex.expand(sessionConf(spark), pattern)
    require(paths.nonEmpty, s"no files match GRIB pattern: $pattern")
    GribIndex.readMergedFiles(spark, paths)
  }
}
