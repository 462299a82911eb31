package graft.sources.grib

import java.time.{LocalDateTime, ZoneOffset}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.trees.TreeNodeTag

/** Coordinate facts of a merged single-file GRIB frame, known from the
  * driver-side header index alone: per axis the min, max and distinct
  * count, and the file's first valid time. The reference's mover reads
  * the same facts off the dataset's 1-D coordinate arrays (bq.py:248-264,
  * 325-327); without them [[graft.operators.Mover.extractRows]] has to
  * aggregate over every decoded row.
  *
  * The facts ride on the reader's own frame as a tag on its analyzed root
  * plan, and are looked up on the root only: a derived frame (`filter`,
  * `select`, `withColumn`) has a new root, so a fact can never describe
  * rows it was not computed from. */
private[graft] final case class GridFacts(latitude: GridFacts.Axis,
    longitude: GridFacts.Axis, firstTime: Option[LocalDateTime]) {

  def axis(column: String): Option[GridFacts.Axis] = column match {
    case "latitude" => Some(latitude)
    case "longitude" => Some(longitude)
    case _ => None
  }

  /** Minimum of the `time` column over any area-filtered subset that keeps
    * a row: given only when every unit shares one grid, so every cell
    * exists at every time. */
  def firstStep(column: String): Option[LocalDateTime] =
    if (column == "time") firstTime else None
}

private[graft] object GridFacts {

  /** What Spark's `min`, `max` and `count_distinct` return over one
    * coordinate column of the merged rows. */
  final case class Axis(min: Double, max: Double, distinct: Long) {
    /** [[graft.functions.GeoFunctions.halfResolution]]'s double arithmetic. */
    def halfRes: Double = (max - min) / distinct.toDouble / 2
  }

  private val Tag = TreeNodeTag[GridFacts]("graft.grib.gridFacts")

  /** Facts over the points of each distinct grid among `units`. The merge
    * groups on latitude/longitude, which folds -0.0 into 0.0 and every NaN
    * into one; the `+ 0.0` and the sort order below do the same. */
  def fromUnits(units: Seq[GribUnit]): GridFacts = {
    val grids = units.distinctBy(_.gridKey)
    val n = grids.map(_.nPoints.toLong).sum
    require(n > 0 && n <= Int.MaxValue, s"GRIB grids hold $n points")
    val lats = new Array[Double](n.toInt)
    val lons = new Array[Double](n.toInt)
    var at = 0
    grids.foreach { u =>
      var k = 0
      while (k < u.nPoints) {
        val (la, lo) = u.coordOf(k)
        lats(at) = la + 0.0
        lons(at) = lo + 0.0
        at += 1
        k += 1
      }
    }
    val first =
      if (grids.size == 1) Some(LocalDateTime.ofEpochSecond(
        units.map(_.validTimeEpochSec).min, 0, ZoneOffset.UTC))
      else None
    GridFacts(axis(lats), axis(lons), first)
  }

  /** Sorted in place: NaN sorts last, above every value, as in Spark's
    * ordering, and `Double.compare` counts all NaNs as one value. */
  private def axis(xs: Array[Double]): Axis = {
    java.util.Arrays.sort(xs)
    var distinct = 1L
    var i = 1
    while (i < xs.length) {
      if (java.lang.Double.compare(xs(i - 1), xs(i)) != 0) distinct += 1
      i += 1
    }
    Axis(xs(0), xs(xs.length - 1), distinct)
  }

  def attach(df: DataFrame, facts: GridFacts): DataFrame = {
    df.queryExecution.analyzed.setTagValue(Tag, facts)
    df
  }

  /** The facts of exactly this frame; None for any frame derived from it. */
  def on(df: DataFrame): Option[GridFacts] =
    df.queryExecution.analyzed.getTagValue(Tag)
}
