package graft.operators

import java.time.LocalDateTime

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampNTZType

import graft.functions.{GeoFunctions, MoverFunctions}
import graft.sources.grib.GridFacts

/** The mover (`weather-mv bq`): hypercube -> denormalized rows -> sink.
  *
  * In the reference this is a Beam graph (Create(uris) -> prepare_coordinates
  * -> Reshuffle -> extract_rows -> WriteToBigQuery, SURVEY §3.2). On Spark the
  * prepare/Reshuffle/extract trio collapses into the scan's own partitioning:
  * a long-format DataFrame IS the flattened hypercube, so extraction is pure
  * column algebra — filter, project, append metadata/geo expressions — that
  * Catalyst pushes into the parquet scan. No per-element reopen, no manual
  * shuffle, no driver loops; at 100 TB each task streams its own row-groups.
  */
object Mover {

  /** Area filter `[N, W, S, E]` (bq.py:332-335; inclusive box). */
  final case class Area(north: Double, west: Double, south: Double, east: Double)

  final case class Options(
      variables: Seq[String] = Nil,       // data vars to keep ("" = all)
      area: Option[Area] = None,
      importTime: Option[String] = None,  // None = current_timestamp (ST7)
      latCol: String = "latitude",
      lonCol: String = "longitude",
      timeCol: String = "time",
      // half grid resolutions for the geo_polygon cell; None = infer (F5)
      latRes: Option[Double] = None,
      lonRes: Option[Double] = None)

  /** `_only_target_vars` (util.py:133-191): keep coordinate columns plus the
    * requested variables; for normalized GRIB schemas a target `t` also
    * matches columns `*_t` / `t_*`. Throws when a target matches nothing,
    * mirroring the reference's assert. */
  def onlyTargetVars(df: DataFrame, targets: Seq[String], coordCols: Seq[String]): DataFrame = {
    if (targets.isEmpty) return df
    val dataCols = df.columns.filterNot(coordCols.contains)
    val keep = targets.flatMap { t =>
      val hits = dataCols.filter(c => c == t || c.endsWith("_" + t) || c.startsWith(t + "_"))
      require(hits.nonEmpty, s"Target variable '$t' matches no column (have: ${dataCols.mkString(",")})")
      hits
    }.distinct
    df.select((coordCols ++ keep).map(col): _*)
  }

  /** GRIB channel-name synthesis (sinks.py:295-324):
    * `<level>_<height>_<stepType>_<shortName>`, heights below 10 rendered
    * with 2 decimals and '.' replaced by '_' (e.g. depthBelowLandLayer_0_07). */
  def channelName(level: String, height: Double, stepType: String, shortName: String): String = {
    val h =
      if (height < 10) f"$height%.2f".replace(".", "_")
      else if (height == math.rint(height)) height.toLong.toString
      else height.toString.replace(".", "_")
    s"${level}_${h}_${stepType}_$shortName"
  }

  /** Merge a long-format (coordKeys..., channel, value) frame into the wide
    * per-channel schema (S3/J2: `xr.merge` of per-variable arrays becomes one
    * aggregate on the coordinate key with a conditional `combine` per
    * channel — one shuffle, no N-way join). This is the form Spark's pivot
    * takes when `PivotFirst` does not apply; `pivot` itself would plan a
    * second aggregate on (coordKeys, channel) behind its own exchange. */
  def mergeChannels(long: DataFrame, coordKeys: Seq[String], channelCol: String,
      valueCol: String, channels: Seq[String],
      combine: Column => Column = first(_, ignoreNulls = true)): DataFrame = {
    val wide = channels.map(c => combine(when(col(channelCol) === c, col(valueCol))).as(c))
    long.groupBy(coordKeys.map(col): _*).agg(wide.head, wide.tail: _*)
  }

  /** Half grid resolution per F5 (bq.py:248-264) — one tiny driver-side job
    * over the distinct coordinate values of a *sample* (first-URI pattern,
    * pipeline.py:56-57). */
  def inferHalfRes(df: DataFrame, coordCol: String): Double =
    df.select(halfRes(coordCol)).head().getDouble(0)

  private def halfRes(coordCol: String): Column =
    GeoFunctions.halfResolution(col(coordCol)).cast("double")

  /** The extract_rows core (bq.py:321-386) as a single declarative plan:
    * area filter -> variable projection -> metadata columns (bq.py:50-54) ->
    * geo_point/geo_polygon GeoJSON.
    *
    * The half resolutions and, for a single-URI frame, `data_first_step`
    * (bq.py:325-327) become literals. On the GRIB reader's own frame they
    * come from the header index ([[GridFacts]]) and no job runs; otherwise
    * one aggregate row computes whatever is missing in one pass. */
  def extractRows(ds: DataFrame, uri: String, opts: Options = Options()): DataFrame = {
    // a multi-file (glob) frame already carries per-file data_uri — preserve
    // it through the variable projection and the per-file metadata below
    val hasUri = ds.columns.contains("data_uri")
    val coordCols = (Seq(opts.timeCol, opts.latCol, opts.lonCol) ++
      (if (hasUri) Seq("data_uri") else Nil)).filter(ds.columns.contains)
    val lat = col(opts.latCol)
    val lon = col(opts.lonCol)

    val inArea = opts.area.map(a => lat.between(a.south, a.north) && lon.between(a.west, a.east))
    val filtered = inArea.fold(ds)(p => ds.filter(p))
    val projected = onlyTargetVars(filtered, opts.variables, coordCols)

    val facts = GridFacts.on(ds)
    val latKnown = opts.latRes.orElse(facts.flatMap(_.axis(opts.latCol)).map(_.halfRes))
    val lonKnown = opts.lonRes.orElse(facts.flatMap(_.axis(opts.lonCol)).map(_.halfRes))
    val stepKnown = facts.flatMap(_.firstStep(opts.timeCol))
    val time = col(opts.timeCol).cast("timestamp_ntz")
    // data_first_step = first time step of this FILE (bq.py:325-327) under
    // the area filter; a glob frame's is per data_uri, below
    val wanted = Seq(
      (latKnown.isEmpty, halfRes(opts.latCol).as("lat")),
      (lonKnown.isEmpty, halfRes(opts.lonCol).as("lon")),
      (!hasUri && stepKnown.isEmpty, min(inArea.fold(time)(when(_, time))).as("step")))
      .collect { case (true, c) => c }
    lazy val agg: Row = ds.agg(wanted.head, wanted.tail: _*).head()
    val latRes = latKnown.getOrElse(agg.getDouble(agg.fieldIndex("lat")))
    val lonRes = lonKnown.getOrElse(agg.getDouble(agg.fieldIndex("lon")))

    val importTime: Column = opts.importTime
      .map(t => lit(t).cast("timestamp_ntz"))
      .getOrElse(current_timestamp().cast("timestamp_ntz"))
    val base = projected.withColumn("data_import_time", importTime)
    val withStep =
      if (hasUri)
        // per data_uri (the reference's per-URI semantics) as a broadcast
        // aggregate: partial aggregation over a column-pruned second scan,
        // then a broadcast join with one build row per file. The obvious
        // `min(time) OVER ()` instead moves EVERY row of the dataset into
        // one task — a guaranteed OOM at 100 TB.
        base.join(broadcast(projected.groupBy(col("data_uri"))
          .agg(min(time).as("data_first_step"))), Seq("data_uri"))
      else {
        val step = stepKnown.getOrElse(agg.getAs[LocalDateTime]("step"))
        base.withColumn("data_uri", lit(uri))
          .withColumn("data_first_step", MoverFunctions.nullableLit(step, TimestampNTZType))
      }
    withStep
      .withColumn("geo_point", GeoFunctions.geoPointJson(lat, lon))
      .withColumn("geo_polygon",
        GeoFunctions.geoPolygonJson(lat, lon, lit(latRes), lit(lonRes)))
  }

  /** Sink schema construction (§1.4, bq.py:244-296): either inferred from
    * the sample frame's dtypes or from user-declared variables (declared
    * variables are all FLOAT64 plus the coordinate columns, bq.py:287-292);
    * the five fixed metadata columns are always appended (bq.py:50-54,
    * 467-472). All columns nullable (NaN/NaT -> NULL semantics). */
  def sinkSchema(sample: DataFrame, declaredVars: Seq[String] = Nil,
      opts: Options = Options()): org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    val coordCols = Seq(opts.timeCol, opts.latCol, opts.lonCol)
    // the five fixed metadata columns are appended below — a sample that
    // already carries one (multi-file frames have data_uri) must not get it
    // inferred as a data variable too
    val metadataNames = Set("data_import_time", "data_uri", "data_first_step",
      "geo_point", "geo_polygon")
    val dataFields: Seq[StructField] =
      if (declaredVars.nonEmpty)
        declaredVars.map(v => StructField(v, DoubleType))
      else sample.schema.fields.toSeq
        .filterNot(f => coordCols.contains(f.name) || metadataNames.contains(f.name))
        .map(f => StructField(f.name, f.dataType match {
          case FloatType => DoubleType
          case ByteType | ShortType | IntegerType => LongType
          case other => other
        }))
    val coordFields = coordCols.flatMap { c =>
      sample.schema.fields.find(_.name == c).map(f => StructField(f.name, f.dataType))
    }
    val metadataFields = Seq(
      StructField("data_import_time", TimestampNTZType),
      StructField("data_uri", StringType),
      StructField("data_first_step", TimestampNTZType),
      StructField("geo_point", StringType),
      StructField("geo_polygon", StringType))
    StructType((coordFields ++ dataFields ++ metadataFields).map(_.copy(nullable = true)))
  }

  /** De-accumulation of cumulative forecast fields (the stepRange
    * differencing eccodes applies to accumulated products like total
    * precipitation): per key, the ordered difference `value - lag(value)`;
    * a NEGATIVE difference marks a new accumulation cycle (the counter
    * reset at each forecast start) and yields the raw value. One sort-based
    * window per key partition — the exchange is on the grid-cell key, so
    * at 100 TB each cell's (short) step series sorts locally; no global
    * sort, no driver state. Adds `step_value`. */
  def deaccumulate(df: DataFrame, keyCols: Seq[String], orderCols: Seq[String],
      valueCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*).orderBy(orderCols.map(col): _*)
    val prev = lag(col(valueCol), 1).over(w)
    df.withColumn("step_value",
      when(prev.isNull || col(valueCol) < prev, col(valueCol))
        .otherwise(col(valueCol) - prev))
  }

  /** Climatology + anomaly: the mean of `valueCol` per climatology key
    * (e.g. grid cell × day-of-year across years) joined back so each row
    * carries `clim` and `anomaly = value - clim` — the standard first step
    * of any reanalysis-era trend/extreme analysis. Scale shape: the
    * climatology is ONE hash aggregation (map-side partials) whose result
    * is keys-sized, broadcast back over the corpus — the full data never
    * shuffles. */
  def climatologyAnomaly(df: DataFrame, climKeys: Seq[Column],
      valueCol: String): DataFrame = {
    val keyed = df.withColumns(
      climKeys.zipWithIndex.map { case (k, i) => s"__ck$i" -> k }.toMap)
    val keyNames = climKeys.indices.map(i => s"__ck$i")
    val clim = keyed.groupBy(keyNames.map(col): _*)
      .agg(avg(col(valueCol)).as("clim"))
    keyed.join(broadcast(clim), keyNames)
      .withColumn("anomaly", col(valueCol) - col("clim"))
      .drop(keyNames: _*)
  }

  /** Reference type mapping for sink schemas (§1.2, bq.py:438-446). */
  def sqlTypeFor(sparkType: org.apache.spark.sql.types.DataType): String = {
    import org.apache.spark.sql.types._
    sparkType match {
      case FloatType | DoubleType => "FLOAT64"
      case ByteType | ShortType | IntegerType | LongType => "INT64"
      case TimestampType | TimestampNTZType | DateType => "TIMESTAMP"
      case StringType => "STRING"
      case _: ArrayType => "REPEATED"
      case _ => "STRING"
    }
  }
}
