package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.functions._

import graft.functions.{GeoFunctions => G}
import graft.operators._
import graft.sources.Tables

class GeoFunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("sanitizeLon wraps into [-180, 180)") {
    val got = Seq(-400.0, -180.0, 0.0, 179.9, 180.0, 359.0, 720.5).toDF("lon")
      .select(round(G.sanitizeLon($"lon"), 4).as("s")).as[Double].collect()
    assert(got.toSeq == Seq(-40.0, -180.0, 0.0, 179.9, -180.0, -1.0, 0.5))
  }

  test("geoPointJson renders the reference GeoJSON shape; invalid -> null") {
    val got = Seq((49.0, -108.0), (95.0, 0.0)).toDF("lat", "lon")
      .select(G.geoPointJson($"lat", $"lon").as("p")).collect().map(_.getString(0))
    assert(got(0) == """{"type": "Point", "coordinates": [-108.0, 49.0]}""")
    assert(got(1) == null)
  }

  test("geoPolygonJson: closed ring, pole clamp, antimeridian wrap") {
    val p = Seq((89.99, 179.99)).toDF("lat", "lon")
      .select(G.geoPolygonJson($"lat", $"lon", lit(0.05), lit(0.05)).as("p"))
      .head().getString(0)
    assert(p.startsWith("""{"type": "Polygon", "coordinates": [["""))
    assert(p.contains("90.0"))       // clamped at the pole
    assert(p.contains("-179.96"))    // wrapped across the antimeridian
    val corners = """\[([-0-9.]+), ([-0-9.]+)\]""".r.findAllIn(p).length
    assert(corners == 5)             // closed ring
  }
}

class WxSqlSpec extends SparkSpec {
  private def grid = Tables.lineitem(spark, sfDir)
    .selectExpr("l_shipdate AS time",
      "((l_orderkey * 131 + l_linenumber * 17) % 3600) / CAST(20 AS DOUBLE) - 90 AS latitude",
      "((l_orderkey * 89 + l_linenumber * 131) % 7200) / CAST(20 AS DOUBLE) - 180 AS longitude",
      "l_quantity AS temperature")

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq

  private def boxCount(kind: String, name: String): Long = {
    val b = graft.plans.GeoConstants.lookup(kind, name).get
    grid.filter(col("latitude").between(b.latMin, b.latMax) &&
      col("longitude").between(b.lonMin, b.lonMax)).count()
  }

  test("alias catalog + full sugar query end-to-end") {
    val wx = WxSql(spark)
    wx.set("lineitem", s"$sfDir/lineitem.parquet")
    Tables.lineitem(spark, sfDir)
      .selectExpr("l_shipdate AS time",
        "((l_orderkey * 131 + l_linenumber * 17) % 3600) / CAST(20 AS DOUBLE) - 90 AS latitude",
        "((l_orderkey * 89 + l_linenumber * 131) % 7200) / CAST(20 AS DOUBLE) - 180 AS longitude",
        "l_quantity AS temperature")
      .createOrReplaceTempView("grid")
    val df = wx.sql(
      "SELECT time_date, AVG(temperature) FROM grid " +
        "WHERE country = 'united states' GROUP BY time_date ORDER BY time_date LIMIT 5")
    assert(df.columns.toSeq.contains("avg_temperature"))
    assert(df.count() == 5)
  }

  test("geo box equals the manual filter; an unknown city is a directed error") {
    grid.createOrReplaceTempView("wx_geo")
    val wx = WxSql(spark)
    for ((kind, name) <- Seq("city" -> "new york", "country" -> "united states")) {
      val got = wx.sql(s"SELECT count(*) FROM wx_geo WHERE $kind = '$name'").head().getLong(0)
      assert(got == boxCount(kind, name), s"$kind = '$name'")
    }
    assert(boxCount("country", "united states") > 0)
    val e = intercept[IllegalArgumentException](
      wx.sql("SELECT * FROM wx_geo WHERE city = 'atlantis'"))
    assert(e.getMessage.contains("Unsupported city: 'atlantis'"), e.getMessage)
  }

  test("agg naming: unaliased gets the xql name, AS wins, a sub-expression keeps Spark's") {
    Tables.lineitem(spark, sfDir).createOrReplaceTempView("wx_li")
    val wx = WxSql(spark)
    assert(wx.sql("SELECT AVG(l_quantity), SUM(l_tax) AS total FROM wx_li").columns.toSeq
      == Seq("avg_l_quantity", "total"))
    val half = "SELECT AVG(l_quantity) / 2 FROM wx_li"
    assert(wx.sql(half).columns.toSeq == spark.sql(half).columns.toSeq)
    assert(wx.sql(half).columns.head != "avg_l_quantity")
  }

  test("agg naming: HAVING/ORDER BY aggregates untouched; subquery SELECT lists named") {
    Tables.lineitem(spark, sfDir).createOrReplaceTempView("wx_li")
    val wx = WxSql(spark)
    // (Spark itself cannot resolve a new ORDER BY aggregate above a HAVING)
    for (tail <- Seq("HAVING AVG(l_tax) > 0 ORDER BY l_returnflag", "ORDER BY MAX(l_extendedprice)")) {
      val q = s"SELECT l_returnflag, AVG(l_quantity) FROM wx_li GROUP BY l_returnflag $tail"
      val got = wx.sql(q)
      assert(got.columns.toSeq == Seq("l_returnflag", "avg_l_quantity"))
      assert(rows(got) == rows(spark.sql(q)) && got.count() == 3, tail)
    }
    def aggNames(df: DataFrame): Seq[Seq[String]] =
      df.queryExecution.analyzed.collectWithSubqueries { case a: Aggregate => a.output.map(_.name) }
    // a scalar subquery's own SELECT list is named
    val sub = wx.sql("SELECT l_returnflag, (SELECT SUM(l_tax) FROM wx_li) FROM wx_li")
    assert(aggNames(sub) == Seq(Seq("sum_l_tax")))
    // a CLOSED sibling subquery does not shadow the outer SELECT list
    val sib = wx.sql("SELECT (SELECT MAX(l_tax) FROM wx_li) AS m, AVG(l_quantity) FROM wx_li")
    assert(sib.columns.toSeq == Seq("m", "avg_l_quantity"))
    assert(aggNames(sib).toSet == Set(Seq("m", "avg_l_quantity"), Seq("max_l_tax")))
  }

  test("time_date, time_month and time_year buckets equal date_trunc") {
    grid.createOrReplaceTempView("wx_time")
    val wx = WxSql(spark)
    for ((sugar, unit) <- Seq("time_date" -> "DAY", "time_month" -> "MONTH", "time_year" -> "YEAR")) {
      val got = wx.sql(s"SELECT $sugar, count(*) AS n FROM wx_time GROUP BY $sugar ORDER BY $sugar")
      assert(got.columns.toSeq == Seq(sugar, "n"))
      assert(rows(got) == rows(spark.sql(s"SELECT date_trunc('$unit', time) AS $sugar, " +
        "count(*) AS n FROM wx_time GROUP BY 1 ORDER BY 1")), sugar)
    }
  }

  test("sugar tokens inside string literals survive all three rules") {
    grid.createOrReplaceTempView("wx_lit")
    val r = WxSql(spark).sql(
      "SELECT 'city = ''atlantis''' AS note, 'time_month' AS s, 'AVG(x)' AS a, time_month " +
        "FROM wx_lit WHERE country = 'united states' LIMIT 1").head()
    assert(r.getString(0) == "city = 'atlantis'" && r.getString(1) == "time_month" &&
      r.getString(2) == "AVG(x)")
    assert(!r.isNullAt(3)) // the real time_month next to the literal is bucketed
  }

  test("plan-rule path: sugar in literal content survives; HAVING aggregates work") {
    assert(WxSql.hasPlanRules(spark)) // GraftSession carries the rules
    val wx = WxSql(spark)
    Tables.lineitem(spark, sfDir).createOrReplaceTempView("li_wx")
    // a literal whose CONTENT looks like the geo sugar must pass through
    val lit1 = wx.sql("SELECT 'city = ''rome''' AS note FROM li_wx LIMIT 1").head()
    assert(lit1.getString(0) == "city = 'rome'")
    // unaliased aggregate in HAVING: parses and runs; SELECT list gets named
    val hav = wx.sql(
      "SELECT l_returnflag, AVG(l_quantity) FROM li_wx " +
        "GROUP BY l_returnflag HAVING AVG(l_quantity) > 0 ORDER BY l_returnflag")
    assert(hav.columns.toSeq == Seq("l_returnflag", "avg_l_quantity"))
    assert(hav.count() == 3)
    // the thread-local gate resets: plain spark.sql keeps default aggregate naming
    val plain = spark.sql("SELECT AVG(l_quantity) FROM li_wx")
    assert(plain.columns.head != "avg_l_quantity")
  }

  test("xqlCompat: LIMIT counts from the original start, OR keeps first term") {
    def parse(q: String) = spark.sessionState.sqlParser.parsePlan(q)
    def compat(q: String, expected: String): Unit =
      assert(WxSql.compatPlan(parse(q)) == parse(expected), q)
    compat("SELECT * FROM t LIMIT 20 OFFSET 10", "SELECT * FROM t LIMIT 10 OFFSET 10")
    compat("SELECT * FROM t LIMIT 5 OFFSET 9", "SELECT * FROM t LIMIT 0 OFFSET 9")
    compat("SELECT a FROM t WHERE (x > 1 AND y < 2) OR z = 3 ORDER BY a",
      "SELECT a FROM t WHERE (x > 1 AND y < 2) ORDER BY a")
    // end-to-end: compat mode returns only the first OR branch
    Tables.lineitem(spark, sfDir).createOrReplaceTempView("li_compat")
    val compatN = WxSql(spark, xqlCompat = true).sql(
      "SELECT count(*) AS n FROM li_compat WHERE l_returnflag = 'A' OR l_returnflag = 'R'")
      .head().getLong(0)
    val firstOnly = Tables.lineitem(spark, sfDir)
      .filter(col("l_returnflag") === "A").count()
    assert(compatN == firstOnly)
  }

  /** `query` in compat mode returns what `firstTermQuery` returns by
    * default, and (when the two differ) the dropped terms would change it. */
  private def compatMatches(query: String, firstTermQuery: String): Unit = {
    val expected = rows(WxSql(spark).sql(firstTermQuery))
    assert(expected.nonEmpty && rows(WxSql(spark, xqlCompat = true).sql(query)) == expected, query)
    assert(query == firstTermQuery || rows(WxSql(spark).sql(query)) != expected, query)
  }

  test("xqlCompat: literal content never moves the WHERE or LIMIT split") {
    // real rows carry sugar-like literals: line 1 notes 'limit', line 2
    // ships 'AIR OR RAIL'
    Tables.lineitem(spark, sfDir)
      .withColumn("l_comment", when(col("l_linenumber") === 1, lit("limit")).otherwise(lit("-")))
      .withColumn("l_shipmode", when(col("l_linenumber") === 2, lit("AIR OR RAIL"))
        .otherwise(lit("RAIL")))
      .createOrReplaceTempView("li_lits")
    for (first <- Seq("l_comment = 'limit'", "l_shipmode = 'AIR OR RAIL'")) {
      val q = s"SELECT l_orderkey, l_linenumber FROM li_lits WHERE $first"
      compatMatches(s"$q OR l_returnflag = 'R' ORDER BY 1, 2", s"$q ORDER BY 1, 2")
    }
    val s = WxSql(spark, xqlCompat = true)
      .sql("SELECT 'LIMIT 20 OFFSET 10' AS s FROM li_lits LIMIT 1").head().getString(0)
    assert(s == "LIMIT 20 OFFSET 10")
  }

  test("xqlCompat: HAVING keeps every OR term; subquery and CTE WHEREs keep the first") {
    Tables.lineitem(spark, sfDir).createOrReplaceTempView("li_compat")
    val having = "HAVING l_returnflag = 'A' OR l_returnflag = 'R' ORDER BY l_returnflag"
    compatMatches(
      "SELECT l_returnflag, count(*) FROM li_compat WHERE l_quantity > 10 OR l_quantity < 5 " +
        s"GROUP BY l_returnflag $having",
      s"SELECT l_returnflag, count(*) FROM li_compat WHERE l_quantity > 10 GROUP BY l_returnflag $having")
    val global = "SELECT count(*) AS n FROM li_compat WHERE l_quantity > 0 " +
      "HAVING count(*) > 1000000 OR count(*) > 0 ORDER BY n"
    compatMatches(global, global)
    val first = "l_returnflag = 'A'"
    for (shape <- Seq[String => String](
        w => s"SELECT count(*) FROM li_compat WHERE l_orderkey IN " +
          s"(SELECT l_orderkey FROM li_compat WHERE $w)",
        w => s"SELECT count(*) FROM (SELECT * FROM li_compat WHERE $w) s",
        w => s"WITH s AS (SELECT * FROM li_compat WHERE $w) SELECT count(*) FROM s"))
      compatMatches(shape(s"$first OR l_returnflag = 'R'"), shape(first))
  }
}

class MoverSpec extends SparkSpec {
  import spark.implicits._

  private def grid = Tables.lineitem(spark, sfDir).selectExpr(
    "l_shipdate AS time",
    "((l_orderkey * 131 + l_linenumber * 17) % 3600) / CAST(20 AS DOUBLE) - 90 AS latitude",
    "((l_orderkey * 89 + l_linenumber * 131) % 7200) / CAST(20 AS DOUBLE) - 180 AS longitude",
    "l_quantity AS temperature", "l_extendedprice AS pressure")

  test("deaccumulate differences per key and restarts on counter reset") {
    val df = Seq((1L, 1, 5.0), (1L, 2, 8.0), (1L, 3, 2.0), (1L, 4, 6.0),
      (2L, 1, 3.0)).toDF("cell", "step", "acc")
    val got = Mover.deaccumulate(df, Seq("cell"), Seq("step"), "acc")
      .orderBy("cell", "step").select("step_value").as[Double].collect().toSeq
    // 2.0 < 8.0 marks a new accumulation cycle: raw value, not a negative step
    assert(got == Seq(5.0, 3.0, 2.0, 4.0, 3.0))
  }

  test("climatologyAnomaly joins the keys-sized means back broadcast") {
    val df = Seq(("a", 0L, 1.0), ("a", 0L, 3.0), ("b", 1L, 10.0)).toDF("t", "h", "v")
    val out = Mover.climatologyAnomaly(df, Seq(col("t"), col("h")), "v")
    val rows = out.select("t", "h", "clim", "anomaly")
      .as[(String, Long, Double, Double)].collect().toSet
    assert(rows == Set(("a", 0L, 2.0, -1.0), ("a", 0L, 2.0, 1.0), ("b", 1L, 10.0, 0.0)))
    assert(out.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      "climatology must broadcast, never shuffle the corpus")
  }

  test("extractRows: area filter + metadata + geo columns (golden row)") {
    val out = Mover.extractRows(grid, "file://fixture",
      Mover.Options(variables = Seq("temperature"),
        area = Some(Mover.Area(north = 10, west = 0, south = -10, east = 40)),
        importTime = Some("2026-01-01 00:00:00"),
        latRes = Some(0.025), lonRes = Some(0.025)))
    assert(out.columns.toSet == Set("time", "latitude", "longitude", "temperature",
      "data_import_time", "data_uri", "data_first_step", "geo_point", "geo_polygon"))
    val r = out.orderBy($"latitude", $"longitude", $"time").head()
    val lat = r.getAs[Double]("latitude")
    val lon = r.getAs[Double]("longitude")
    assert(lat >= -10 && lat <= 10 && lon >= 0 && lon <= 40)
    // geo_point renders 6-dp-rounded values; parse back and compare numerically
    val coords = """\[([-0-9.]+), ([-0-9.]+)\]""".r
      .findFirstMatchIn(r.getAs[String]("geo_point")).get
    assert(math.abs(coords.group(1).toDouble - lon) < 1e-6)
    assert(math.abs(coords.group(2).toDouble - lat) < 1e-6)
    assert(r.getAs[String]("data_uri") == "file://fixture")
  }

  test("onlyTargetVars: exact, prefix and suffix matching; missing raises") {
    val df = Seq((1.0, 2.0, 3.0, 4.0)).toDF("latitude", "z", "isobaric_500_z", "q_surface")
    val kept = Mover.onlyTargetVars(df, Seq("z"), Seq("latitude")).columns.toSet
    assert(kept == Set("latitude", "z", "isobaric_500_z"))
    val kept2 = Mover.onlyTargetVars(df, Seq("q"), Seq("latitude")).columns.toSet
    assert(kept2 == Set("latitude", "q_surface"))
    intercept[IllegalArgumentException](
      Mover.onlyTargetVars(df, Seq("nope"), Seq("latitude")))
  }

  test("sinkSchema: declared vars all FLOAT64 + 5 metadata columns; inference upcasts") {
    val declared = Mover.sinkSchema(grid, declaredVars = Seq("temperature"))
    assert(declared.fieldNames.toSeq == Seq("time", "latitude", "longitude",
      "temperature", "data_import_time", "data_uri", "data_first_step",
      "geo_point", "geo_polygon"))
    assert(declared("temperature").dataType.typeName == "double")
    assert(declared.fields.forall(_.nullable))
    val inferred = Mover.sinkSchema(
      Seq((1.0f, 2, "x")).toDF("v_f32", "v_i32", "name"))
    assert(inferred("v_f32").dataType.typeName == "double")
    assert(inferred("v_i32").dataType.typeName == "long")
    assert(inferred("name").dataType.typeName == "string")
  }

  test("channelName: height formatting matches the reference rules") {
    assert(Mover.channelName("isobaricInhPa", 500.0, "instant", "z")
      == "isobaricInhPa_500_instant_z")
    assert(Mover.channelName("depthBelowLandLayer", 0.07, "instant", "st")
      == "depthBelowLandLayer_0_07_instant_st")
    assert(Mover.channelName("heightAboveGround", 2.0, "instant", "t")
      == "heightAboveGround_2_00_instant_t")
  }

  test("mergeChannels: long -> wide on the coordinate key") {
    val long = Seq(
      (1L, 10.0, "t", 280.0), (1L, 10.0, "q", 0.1),
      (2L, 10.0, "t", 281.0)).toDF("time", "latitude", "channel", "value")
    val wide = Mover.mergeChannels(long, Seq("time", "latitude"), "channel", "value", Seq("t", "q"))
    assert(wide.columns.toSet == Set("time", "latitude", "t", "q"))
    val r = wide.filter($"time" === 2L).head()
    assert(r.getAs[Double]("t") == 281.0 && r.isNullAt(r.fieldIndex("q")))
  }
}

class SplitterSpec extends SparkSpec {
  import spark.implicits._

  test("withOutputPaths formats {dim} templates") {
    val df = Seq(("z", 500), ("t", 850)).toDF("shortName", "level")
    val got = Splitter.withOutputPaths(df, "out/{shortName}/{level}.grib")
      .select("output_path").as[String].collect().toSet
    assert(got == Set("out/z/500.grib", "out/t/850.grib"))
  }

  test("skipExisting drops already-written targets") {
    val pending = Seq("a", "b", "c").toDF("output_path")
    val existing = Seq("b").toDF("output_path")
    val got = Splitter.skipExisting(pending, existing).as[String].collect().toSet
    assert(got == Set("a", "c"))
  }

  test("split writes one directory per dim value and is idempotent") {
    // subdir: SaveMode.Ignore skips entirely if the target dir already exists
    val tmp = java.nio.file.Files.createTempDirectory("splitter").toString + "/out"
    val ev = Tables.events(spark, sfDir).select($"event_id", $"event_type", $"value")
    Splitter.split(ev, Seq("event_type"), tmp)
    val dirs = new java.io.File(tmp).listFiles().filter(_.isDirectory).map(_.getName).toSet
    assert(dirs == Set("click", "error", "purchase", "signup", "view")
      .map(v => s"event_type=$v"))
    Splitter.split(ev, Seq("event_type"), tmp) // SaveMode.Ignore: no error, no dup
    val n = spark.read.parquet(tmp).count()
    assert(n == ev.count())
  }
}

class PartitionerSpec extends SparkSpec {

  private val cfg = Partitioner.DlConfig(
    name = "era5",
    selection = Map(
      "year" -> Seq("2020", "2021"),
      "month" -> Seq("01", "02", "03"),
      "pressure_level" -> Seq("500", "850")),
    partitionKeys = Seq("year", "month", "pressure_level"),
    targetPath = "gs://out/{year}/{month}/{pressure_level}.nc")

  test("fanout is the cartesian product with formatted targets") {
    val df = Partitioner.fanout(spark, cfg)
    assert(df.count() == 2 * 3 * 2)
    assert(df.columns.toSet ==
      Set("config_name", "partition_idx", "target", "year", "month", "pressure_level"))
    val first = df.orderBy(col("partition_idx")).head()
    assert(first.getAs[String]("target") == "gs://out/2020/01/500.nc")
  }

  test("skipExisting removes downloaded targets (license balance invariant)") {
    import spark.implicits._
    val parts = Partitioner.assignSubsections(
      Partitioner.fanout(spark, cfg), Seq("lic-a", "lic-b", "lic-c"))
    // balance: counts differ by at most one (partition_test.py:323 invariant)
    val counts = parts.groupBy("subsection").count().select("count").as[Long].collect()
    assert(counts.max - counts.min <= 1)
    val existing = Seq("gs://out/2020/01/500.nc", "gs://out/2021/03/850.nc").toDF("target")
    val remaining = Partitioner.skipExisting(parts, existing)
    assert(remaining.count() == 12 - 2)
    // skipping must not unbalance licenses by more than the skipped rows
    val counts2 = remaining.groupBy("subsection").count().select("count").as[Long].collect()
    assert(counts2.max - counts2.min <= 2)
  }

  test("fairOrder interleaves configs round-robin") {
    import spark.implicits._
    val two = Partitioner.fanout(spark, cfg)
      .union(Partitioner.fanout(spark, cfg.copy(name = "gfs")))
    val ordered = Partitioner.fairOrder(two)
      .select("config_name").as[String].collect()
    // first two rows must be one partition of each config
    assert(ordered.take(2).toSet == Set("era5", "gfs"))
  }

  test("manifest: transact writes transitions; currentState picks latest") {
    val tmp = java.nio.file.Files.createTempDirectory("manifest").toString + "/ledger"
    Manifest.transact(spark, tmp, "era5", "gs://out/a.nc", "u", "{}") { 42 }
    val failed = Manifest.transact(spark, tmp, "era5", "gs://out/b.nc", "u", "{}") {
      throw new RuntimeException("boom")
    }
    assert(failed.isLeft)
    val state = Manifest.currentState(Manifest.read(spark, tmp))
    val byLoc = state.collect().map(r =>
      r.getAs[String]("location") -> r.getAs[String]("status")).toMap
    assert(byLoc("gs://out/a.nc") == Manifest.Status.Success)
    assert(byLoc("gs://out/b.nc") == Manifest.Status.Failure)
    val ok = Manifest.succeeded(Manifest.read(spark, tmp))
    assert(ok.collect().map(_.getString(0)).toSeq == Seq("gs://out/a.nc"))
  }

  test("manifest: same-microsecond failure beats in-progress (terminal rank)") {
    import spark.implicits._
    // the regression: raw status-string DESC ordering sorted 'failure' below
    // 'in-progress', masking a failure recorded in the same microsecond
    val t = 1700000000000000L
    val ledger = Seq(
      ("era5", "loc", "u", Manifest.Status.InProgress, "fetch", "", "{}", 0L, t),
      ("era5", "loc", "u", Manifest.Status.Failure, "upload", "boom", "{}", 0L, t))
      .toDF("configName", "location", "user", "status", "stage", "error",
        "selectionJson", "sizeBytes", "eventTimeUs")
    val state = Manifest.currentState(ledger).collect()
    assert(state.length == 1)
    assert(state.head.getAs[String]("status") == Manifest.Status.Failure)
  }
}
