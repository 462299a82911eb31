package graft.sources.grib

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The GRIB reader, for edition 1, edition 2 and mixed-edition files: the
  * index dispatches PER MESSAGE on indicator octet 8 (cfgrib reads mixed
  * archives transparently, weather_mv sinks.py:345-389 — so does this).
  * Row model as the NetCDF/Zarr readers: one row per grid point per unit,
  * coordinate columns + cfgrib-style metadata + the decoded value.
  *
  * Parallelism: the driver indexes message HEADERS only (a few small
  * ranged reads per message — bitmap/data bodies are never touched), then
  * units are spread over min(units, default parallelism) tasks and each
  * task ranged-reads exactly its own packed-data spans, closing its stream
  * on task completion even when a consumer stops early. Glob/directory
  * patterns fan out one indexing task per file
  * ([[GribIndex.readLongFormatFiles]]). */
object GribReader {

  private def sessionConf(spark: SparkSession): Configuration =
    new Configuration(spark.sparkContext.hadoopConfiguration)

  private def units(spark: SparkSession, path: String): Seq[GribUnit] =
    GribIndex.indexMessageSpans(sessionConf(spark), path).flatMap(_._3)

  /** The file's gridded units: spectral units have no lat/lon row model —
    * [[readSpectral]] is their access path. */
  private def gridded(spark: SparkSession, path: String): Seq[GribUnit] = {
    val all = units(spark, path)
    require(all.nonEmpty, s"not a GRIB file: $path")
    val grid = all.filter(_.spectralM.isEmpty)
    if (grid.isEmpty) throw Grib1.UnsupportedGrib(
      s"only spectral fields in $path — read them with GribReader.readSpectral")
    grid
  }

  /** One row per (unit, grid point). */
  def readLongFormat(spark: SparkSession, path: String): DataFrame =
    GribIndex.fromUnits(spark, path, gridded(spark, path))

  /** Wide per-channel frame: the GRIB normalize path (sinks.py:251-342) —
    * long rows merged on the synthesized channel name
    * ([[graft.operators.Mover.channelName]]) over the coordinate key by
    * [[graft.operators.Mover.mergeChannels]]. One header index serves both
    * the channel list and the row scan. */
  def readMerged(spark: SparkSession, path: String): DataFrame =
    GribIndex.readMerged(spark, path, gridded(spark, path))

  /** Long format for the SPECTRAL units of either edition (GRIB1 grid
    * type 50 with simple spectral packing; GRIB2 template 3.50 with
    * 5.50/5.51): one row per complex spherical-harmonic coefficient —
    * [[GribSpectral.fromUnits]]'s schema and ordering. */
  def readSpectral(spark: SparkSession, path: String): DataFrame =
    GribSpectral.fromUnits(spark, path, units(spark, path).filter(_.spectralM.isDefined))

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
