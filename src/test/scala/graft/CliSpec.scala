package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.cli._

/** Arg-validation table mirroring the reference's CLI error cases
  * (weather_mv pipeline_test.py:85-156 style): each row is (argv, expected
  * error fragment). Execution smoke tests drive the Spark operators. */
class CliSpec extends AnyFunSuite {

  private def err(f: => Any): String =
    intercept[CliError](f).msg

  test("weather-mv validation table") {
    val cases: Seq[(Seq[String], String)] = Seq(
      (Seq.empty, "subcommand is required"),
      (Seq("copy"), "invalid choice: 'copy'"),
      (Seq("bq"), "required: -i/--uris"),
      (Seq("bq", "-i", "gs://b/*.nc"), "required: -o/--output_table"),
      (Seq("bq", "-i", "in.nc", "-o", "t", "--area", "10", "20", "30"),
        "Must specify exactly 4 lat/long values for area: N, W, S, E boundaries."),
      (Seq("bq", "-i", "in.nc", "-o", "t", "--area", "x", "2", "3", "4"),
        "invalid float value: 'x'"),
      (Seq("bq", "-i", "in.nc", "-o", "t", "--topic", "a", "--subscription", "b"),
        "only one argument can be provided at a time: `topic` or `subscription`."),
      (Seq("bq", "-i", "store.zarr", "-o", "t", "--topic", "a"),
        "streaming updates to a Zarr file is not (yet) supported."),
      (Seq("bq", "-i", "in.tif", "-o", "t"),
        "'--tif_metadata_for_start_time' is required for tif files."),
      (Seq("bq", "-i", "in.nc", "-o", "t", "--tif_metadata_for_start_time", "m"),
        "can be specified only for tif files."),
      (Seq("bq", "-i", "in.nc", "-o", "t", "--bogus", "1"),
        "unrecognized arguments: --bogus"),
      (Seq("rg", "-i", "in.grib"), "required: --output_path"),
      (Seq("ee", "-i", "in.grib"), "required: --asset_location"))
    cases.foreach { case (argv, frag) =>
      val got = err(WeatherMv.parse(argv))
      assert(got.contains(frag), s"argv=$argv got='$got'")
    }
    // negative area values parse as values, not flags
    val ok = WeatherMv.parse(Seq("bq", "-i", "in.nc", "-o", "t",
      "--area", "10", "-10", "-20", "20", "-v", "t2m", "u10"))
    assert(ok.area == Seq(10.0, -10.0, -20.0, 20.0))
    assert(ok.variables == Seq("t2m", "u10"))
    assert(WeatherMv.parse(Seq("bigquery", "-i", "s.zarr", "-o", "t")).zarr)
  }

  test("weather-dl validation table") {
    assert(err(WeatherDl.parse(Seq.empty)).contains("required: config"))
    assert(err(WeatherDl.parse(Seq("c.cfg", "-s", "random")))
      .contains("invalid choice: 'random'"))
    val ok = WeatherDl.parse(Seq("era5.cfg", "-s", "fair", "-d", "-n", "3"))
    assert(ok.configs == Seq("era5.cfg") && ok.schedule == "fair" &&
      ok.dryRun && ok.numRequests == 3)
  }

  test("weather-sp validation table") {
    assert(err(WeatherSp.parse(Seq.empty)).contains("required: -i/--input-pattern"))
    assert(err(WeatherSp.parse(Seq("-i", "in/*.grib")))
      == "No output specified")
    assert(err(WeatherSp.parse(Seq("-i", "p", "--output-template", "out.[T].nc")))
      == "Tokens `[]` are disallowed in the file output.")
    assert(err(WeatherSp.parse(Seq("-i", "p", "--output-dir", "o",
      "--topic", "a", "--subscription", "b")))
      .contains("only one argument can be provided at a time"))
    val ok = WeatherSp.parse(Seq("-i", "in/*.grib", "--output-dir", "out", "-d"))
    assert(ok.inputPattern == "in/*.grib" && ok.dryRun)
  }

  test("xql validation table") {
    assert(Xql.parse(Seq("--set", "era5=/d/era5.zarr")).query.isEmpty) // -> REPL
    assert(err(Xql.parse(Seq("--set", "noequals", "-q", "SELECT 1")))
      .contains("expected alias=uri"))
    assert(err(Xql.parse(Seq("-q", "SELECT 1", "-n", "1o0")))
      .contains("invalid int value"))
    val ok = Xql.parse(Seq("--set", "era5=/d.zarr", "-q", "SELECT 1", "--xql-compat"))
    assert(ok.sets == Seq(("era5", "/d.zarr")) && ok.xqlCompat &&
      ok.query.contains("SELECT 1"))
  }

  test("weather-dl cfg parser: reference INI layout with MARS expansion") {
    val cfg = WeatherDl.parseCfg("era5", """
      |[parameters]
      |client = cds
      |target_path = gs://b/era5/{year}/{month}.nc
      |partition_keys = year, month
      |
      |[selection]
      |year = 2019/to/2021
      |month = 01/02/03
      |variable = 2t/10u
      |""".stripMargin)
    assert(cfg.client == "cds")
    assert(cfg.selection("year") == Seq("2019", "2020", "2021"))
    assert(cfg.selection("month") == Seq("01", "02", "03"))
    assert(cfg.partitionKeys == Seq("year", "month"))
    val bad = intercept[CliError](WeatherDl.parseCfg("x",
      "[parameters]\npartition_keys = day\n[selection]\nyear = 2020"))
    assert(bad.msg.contains("partition key 'day' is not in the selection"))
  }
}

/** Execution smoke: the CLIs drive real operators end-to-end. */
class CliRunSpec extends SparkSpec {

  test("xql REPL: .set/.show meta-commands, SQL rows, error keeps session alive") {
    val outLines = scala.collection.mutable.ArrayBuffer.empty[String]
    val lines = Iterator(
      s".set li $sfDir/lineitem.parquet",
      ".show",
      "SELECT count(*) AS n FROM li",
      "SELECT bogus FROM nowhere",  // error, session must survive
      "SELECT count(*) AS n2 FROM li WHERE l_returnflag = 'A'",
      ".exit",
      "SELECT never_reached FROM li")
    Xql.repl(spark, Xql.Config(Nil, None, xqlCompat = false, numRows = 5),
      lines, l => { outLines += l; () })
    assert(outLines.exists(_.startsWith("li -> ")))
    assert(outLines.contains("n"))
    val total = graft.sources.Tables.lineitem(spark, sfDir).count()
    assert(outLines.contains(total.toString))
    assert(outLines.exists(_.startsWith("error: ")))
    assert(outLines.contains("n2")) // survived the error
    assert(!outLines.exists(_.contains("never_reached")))
  }

  test("weather-mv bq extracts a GRIB file into a parquet sink") {
    val dir = java.nio.file.Files.createTempDirectory("climv").toString
    val grib = s"$dir/in.grib"
    graft.sources.grib.Grib1Writer.write(grib, Seq(
      graft.sources.grib.Grib1Writer.FieldSpec(167, 105, 2,
        java.time.LocalDateTime.of(2026, 2, 1, 0, 0),
        (0 until 12).map(_.toDouble), 4, 3, 50.0, 0.0, 48.0, 3.0)))
    WeatherMv.run(spark, WeatherMv.parse(Seq("bq", "-i", grib,
      "-o", s"$dir/out", "--import_time", "2026-02-01 00:00:00")))
    val out = spark.read.parquet(s"$dir/out")
    assert(out.count() == 12)
    assert(out.columns.contains("geo_point") &&
      out.columns.contains("heightAboveGround_2_00_instant_2t"))
  }

  test("weather-mv rg regrids onto the requested grid; ee stages asset + ledger") {
    val dir = java.nio.file.Files.createTempDirectory("climvrg").toString
    val grib = s"$dir/in.grib"
    graft.sources.grib.Grib1Writer.write(grib, Seq(
      graft.sources.grib.Grib1Writer.FieldSpec(167, 105, 2,
        java.time.LocalDateTime.of(2026, 2, 1, 0, 0),
        (0 until 12).map(_.toDouble), 4, 3, 50.0, 0.0, 48.0, 3.0)))
    WeatherMv.run(spark, WeatherMv.parse(Seq("rg", "-i", grib,
      "--output_path", s"$dir/rg", "--regrid_kwargs", """{"grid": [2, 2]}""")))
    val pooled = spark.read.parquet(s"$dir/rg")
    assert(pooled.columns.contains("lat_cell") && pooled.count() > 0)
    WeatherMv.run(spark, WeatherMv.parse(Seq("ee", "-i", grib,
      "--asset_location", s"$dir/ee", "--import_time", "2026-02-01 00:00:00")))
    assert(spark.read.parquet(s"$dir/ee/asset").count() == 12)
    val ledger = graft.operators.Manifest.read(spark, s"$dir/ee/manifest")
    assert(ledger.filter(org.apache.spark.sql.functions.col("status") === "success").count() == 1)
  }

  test("weather-dl dry-run fans out partitions from a cfg file") {
    val dir = java.nio.file.Files.createTempDirectory("clidl").toString
    val cfgPath = s"$dir/era5.cfg"
    java.nio.file.Files.writeString(java.nio.file.Path.of(cfgPath), """
      |[parameters]
      |client = cds
      |target_path = out/{year}-{month}.nc
      |partition_keys = year, month
      |[selection]
      |year = 2020/to/2021
      |month = 01/02
      |""".stripMargin)
    WeatherDl.run(spark, WeatherDl.parse(Seq(cfgPath, "-d", "-s", "fair")))
  }

  test("weather-dl local-run executes the download lifecycle: targets + ledger + skip-existing") {
    val dir = java.nio.file.Files.createTempDirectory("clidlrun").toString
    val cfgPath = s"$dir/era5.cfg"
    java.nio.file.Files.writeString(java.nio.file.Path.of(cfgPath), s"""
      |[parameters]
      |client = cds
      |target_path = $dir/out/{year}-{month}.nc
      |partition_keys = year, month
      |[selection]
      |year = 2020/to/2021
      |month = 01/02
      |""".stripMargin)
    val argv = Seq(cfgPath, "-l", "-m", s"file:$dir/ledger")
    WeatherDl.run(spark, WeatherDl.parse(argv))
    val outs = new java.io.File(s"$dir/out").listFiles().map(_.getName)
      .filterNot(_.startsWith(".")).toSet
    assert(outs == Set("2020-01.nc", "2020-02.nc", "2021-01.nc", "2021-02.nc"))
    val ledger = graft.operators.Manifest.read(spark, s"$dir/ledger")
    assert(ledger.filter(org.apache.spark.sql.functions.col("status") === "success")
      .count() == 4)
    // second invocation: everything skip-existing via the manifest
    WeatherDl.run(spark, WeatherDl.parse(argv))
    assert(graft.operators.Manifest.read(spark, s"$dir/ledger")
      .filter(org.apache.spark.sql.functions.col("status") === "success").count() == 4)
  }

  test("weather-sp splits a GRIB file into per-shortName GRIB outputs") {
    val dir = java.nio.file.Files.createTempDirectory("clisp").toString
    val grib = s"$dir/in.grib"
    val t0 = java.time.LocalDateTime.of(2026, 2, 1, 0, 0)
    def f(param: Int, vals: Seq[Double]) = graft.sources.grib.Grib1Writer.FieldSpec(
      param, 105, 2, t0, vals, 4, 3, 50.0, 0.0, 48.0, 3.0)
    graft.sources.grib.Grib1Writer.write(grib, Seq(
      f(167, (0 until 12).map(_.toDouble)),
      f(165, (0 until 12).map(i => i * 2.0))))
    WeatherSp.run(spark, WeatherSp.parse(
      Seq("-i", s"$dir/*.grib", "--output-dir", s"$dir/out")))
    val outs = new java.io.File(s"$dir/out").listFiles().map(_.getName)
      .filterNot(_.startsWith(".")).toSet // drop Hadoop .crc sidecars
    assert(outs == Set("in_2t.grib", "in_10u.grib"))
    val conf = new org.apache.hadoop.conf.Configuration()
    assert(graft.sources.grib.GribIndex
      .indexFile(conf, s"$dir/out/in_2t.grib").head.shortName == "2t")
  }

  test("weather-sp splits a NetCDF file by variable (unpivot path)") {
    import graft.sources.netcdf.{NetCDF3, NetCDF3Writer => NW}
    val dir = java.nio.file.Files.createTempDirectory("clispnc").toString
    NW.write(s"$dir/in.nc",
      dims = Seq(NW.DimSpec("time", 2, record = true)),
      vars = Seq(
        NW.VarSpec("time", Seq("time"), NetCDF3.NC_DOUBLE, Seq(0.0, 3600.0),
          attrs = Seq("units" -> "seconds since 1970-01-01")),
        NW.VarSpec("a", Seq("time"), NetCDF3.NC_DOUBLE, Seq(1.0, 2.0)),
        NW.VarSpec("b", Seq("time"), NetCDF3.NC_DOUBLE, Seq(3.0, 4.0))))
    WeatherSp.run(spark, WeatherSp.parse(
      Seq("-i", s"$dir/*.nc", "--output-dir", s"$dir/out")))
    val dirs = new java.io.File(s"$dir/out").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(dirs == Set("variable=a", "variable=b"))
  }
}
