package graft

import org.apache.spark.sql.functions._

import graft.sources.netcdf.{NetCDF3, NetCDF3Reader, NetCDF3Writer => NW}

/** Golden tests for the NetCDF-3 classic reader: write a file with the
  * pure-JVM writer (record time dimension + fixed coords, float64 and
  * packed-int16 variables), read back distributed, check values. */
class NetCDF3Spec extends SparkSpec {
  import spark.implicits._

  private val (nt, ny, nx) = (3, 4, 5)
  private lazy val file: String = {
    val dir = java.nio.file.Files.createTempDirectory("nc3").toString
    val path = s"$dir/test.nc"
    def cube(f: (Int, Int, Int) => Double): Seq[Double] =
      for (t <- 0 until nt; y <- 0 until ny; x <- 0 until nx) yield f(t, y, x)
    NW.write(path,
      dims = Seq(NW.DimSpec("time", nt, record = true),
        NW.DimSpec("latitude", ny), NW.DimSpec("longitude", nx)),
      vars = Seq(
        NW.VarSpec("time", Seq("time"), NetCDF3.NC_DOUBLE,
          (0 until nt).map(t => 3600.0 * t),
          attrs = Seq("units" -> "seconds since 1970-01-01")),
        NW.VarSpec("latitude", Seq("latitude"), NetCDF3.NC_DOUBLE,
          (0 until ny).map(y => 40.0 + y)),
        NW.VarSpec("longitude", Seq("longitude"), NetCDF3.NC_DOUBLE,
          (0 until nx).map(x => -110.0 + 2.0 * x)),
        NW.VarSpec("d2m", Seq("time", "latitude", "longitude"), NetCDF3.NC_DOUBLE,
          cube((t, y, x) => 242.0 + t + 0.1 * y + 0.01 * x)),
        NW.VarSpec("swvl1", Seq("time", "latitude", "longitude"), NetCDF3.NC_SHORT,
          cube((t, y, x) => if (t == 1 && y == 1 && x == 1) -32767 else (10 * t + x).toDouble),
          attrs = Seq("scale_factor" -> 0.25, "add_offset" -> 100.0,
            "missing_value" -> (-32767.0)))))
    path
  }

  private lazy val df = NetCDF3Reader.readLongFormat(spark, file)

  test("header parses: dims, record count, var attrs") {
    val conf = new org.apache.hadoop.conf.Configuration()
    val h = NetCDF3.parseHeader(NetCDF3.readBytes(conf, file))
    assert(h.numRecs == nt)
    assert(h.dims.map(_.name) == Seq("time", "latitude", "longitude"))
    assert(h.dims.head.isRecord)
    val sw = h.vars.find(_.name == "swvl1").get
    assert(sw.cf.scale == 0.25 && sw.cf.offset == 100.0)
    assert(h.vars.find(_.name == "time").get.epochSecondsTime)
  }

  test("long-format read: schema, row count, exact values (ExtractRows-style golden)") {
    assert(df.columns.toSeq == Seq("time", "latitude", "longitude", "d2m", "swvl1"))
    assert(df.schema("time").dataType.typeName == "timestamp_ntz")
    assert(df.count() == nt * ny * nx)
    // golden row in the bq_test.py style: exact values at a known point
    val r = df.filter($"latitude" === 42.0 && $"longitude" === -108.0 &&
      date_format($"time", "HH") === "02").head()
    assert(math.abs(r.getAs[Double]("d2m") - (242.0 + 2 + 0.2 + 0.01)) < 1e-9)
    assert(r.getAs[Double]("swvl1") == (10 * 2 + 1) * 0.25 + 100.0)
  }

  test("CDF-5 (64-bit data) files parse and read identically to classic") {
    val dir = java.nio.file.Files.createTempDirectory("nc5").toString
    val path = s"$dir/test5.nc"
    def cube(f: (Int, Int, Int) => Double): Seq[Double] =
      for (t <- 0 until nt; y <- 0 until ny; x <- 0 until nx) yield f(t, y, x)
    NW.write(path,
      dims = Seq(NW.DimSpec("time", nt, record = true),
        NW.DimSpec("latitude", ny), NW.DimSpec("longitude", nx)),
      vars = Seq(
        NW.VarSpec("time", Seq("time"), NetCDF3.NC_DOUBLE,
          (0 until nt).map(t => 3600.0 * t),
          attrs = Seq("units" -> "seconds since 1970-01-01")),
        NW.VarSpec("latitude", Seq("latitude"), NetCDF3.NC_DOUBLE,
          (0 until ny).map(y => 40.0 + y)),
        NW.VarSpec("longitude", Seq("longitude"), NetCDF3.NC_DOUBLE,
          (0 until nx).map(x => -110.0 + 2.0 * x)),
        // CDF-5-only types: unsigned + 64-bit integers
        NW.VarSpec("counts", Seq("time", "latitude", "longitude"), NetCDF3.NC_INT64,
          cube((t, y, x) => (5000000000L + t * 100 + y * 10 + x).toDouble)),
        NW.VarSpec("flags", Seq("time", "latitude", "longitude"), NetCDF3.NC_UBYTE,
          cube((t, y, x) => ((t + y + x) % 250).toDouble))),
      version = 5)
    val conf = new org.apache.hadoop.conf.Configuration()
    val bytes = NetCDF3.readBytes(conf, path)
    assert(bytes(3) == 5, "CDF-5 magic byte")
    val h = NetCDF3.parseHeader(bytes)
    assert(h.numRecs == nt && h.dims.map(_.name) == Seq("time", "latitude", "longitude"))
    val df5 = NetCDF3Reader.readLongFormat(spark, path)
    assert(df5.count() == nt * ny * nx)
    val r = df5.filter($"latitude" === 42.0 && $"longitude" === -108.0 &&
      date_format($"time", "HH") === "02").head()
    assert(r.getAs[Double]("counts") == 5.000000221e9, s"int64 value: $r")
    assert(r.getAs[Double]("flags") == ((2 + 2 + 1) % 250).toDouble)
  }

  test("curvilinear 2-D lat/lon (auxiliary coordinates) surface as columns") {
    // the classic-format ROMS layout: dims [time, y, x] are indices,
    // lat/lon are 2-D non-record arrays — they must surface as value
    // columns indexed by each row's (y, x), with CDL decode applied
    val dir = java.nio.file.Files.createTempDirectory("nc3curv").toString
    val path = s"$dir/curv.nc"
    def plane(f: (Int, Int) => Double): Seq[Double] =
      for (y <- 0 until 3; x <- 0 until 4) yield f(y, x)
    NW.write(path,
      dims = Seq(NW.DimSpec("time", 2, record = true),
        NW.DimSpec("y", 3), NW.DimSpec("x", 4)),
      vars = Seq(
        NW.VarSpec("time", Seq("time"), NetCDF3.NC_DOUBLE, Seq(0.0, 3600.0),
          attrs = Seq("units" -> "seconds since 1970-01-01")),
        NW.VarSpec("y", Seq("y"), NetCDF3.NC_DOUBLE,
          (0 until 3).map(_.toDouble)),
        NW.VarSpec("x", Seq("x"), NetCDF3.NC_DOUBLE,
          (0 until 4).map(_.toDouble)),
        NW.VarSpec("lat", Seq("y", "x"), NetCDF3.NC_DOUBLE,
          plane((y, x) => 40.0 + y + 0.1 * x)),
        // packed aux: scale/offset decode must apply to aux columns too
        NW.VarSpec("lon", Seq("y", "x"), NetCDF3.NC_SHORT,
          plane((y, x) => (x * 10 + y).toDouble),
          attrs = Seq("scale_factor" -> 0.5, "add_offset" -> (-100.0))),
        NW.VarSpec("sst", Seq("time", "y", "x"), NetCDF3.NC_DOUBLE,
          (for (t <- 0 until 2; y <- 0 until 3; x <- 0 until 4)
            yield 10.0 * t + y + 0.01 * x))))
    val cdf = NetCDF3Reader.readLongFormat(spark, path)
    assert(cdf.columns.toSeq == Seq("time", "y", "x", "sst", "lat", "lon"))
    assert(cdf.count() == 24)
    val bad = cdf.where(
      abs($"lat" - (lit(40.0) + $"y" + $"x" * 0.1)) > 1e-9 or
      abs($"lon" - (($"x" * 10 + $"y") * 0.5 - 100.0)) > 1e-9)
    assert(bad.count() == 0)
  }

  test("streaming numrecs sentinel resolves the record count from file length") {
    // the classic spec defines numrecs = 0xFFFFFFFF as "indeterminate"
    // (streaming writers); records then run from the record start to EOF
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(file))
    (4 until 8).foreach(i => bytes(i) = 0xFF.toByte)
    val h = NetCDF3.parseHeader(bytes)
    assert(h.numRecs == nt, s"streaming numrecs resolved to ${h.numRecs}")
  }

  test("packed short with missing value decodes to null") {
    val m = df.filter($"latitude" === 41.0 && $"longitude" === -108.0)
      .orderBy($"time").collect()
    assert(m(1).isNullAt(m(1).fieldIndex("swvl1"))) // t=1,y=1,x=1 planted
    assert(m(0).getAs[Double]("swvl1") == 1 * 0.25 + 100.0)
  }

  test("reads are distributed across outer-dimension ranges") {
    val parts = NetCDF3Reader.readLongFormat(spark, file)
    assert(parts.rdd.getNumPartitions ==
      math.min(nt, spark.sparkContext.defaultParallelism))
    assert(parts.count() == nt * ny * nx)
    assert(parts.agg(round(sum($"d2m"), 6)).head().getDouble(0) ==
      df.agg(round(sum($"d2m"), 6)).head().getDouble(0))
  }

  test("mover extract pipeline runs on the NetCDF hypercube") {
    val out = graft.operators.Mover.extractRows(df, s"file://$file",
      graft.operators.Mover.Options(variables = Seq("d2m"),
        importTime = Some("2026-01-01 00:00:00"),
        latRes = Some(0.5), lonRes = Some(1.0)))
    assert(out.count() == nt * ny * nx)
    assert(out.columns.contains("geo_polygon") && !out.columns.contains("swvl1"))
  }

  test("FormatRegistry dispatches .nc to the NetCDF3 reader") {
    assert(graft.sources.FormatRegistry.open(spark, file).count() == nt * ny * nx)
  }

  test("fractional-second time coordinates decode exactly (no double-count)") {
    val dir = java.nio.file.Files.createTempDirectory("nc3frac").toString
    val path = s"$dir/frac.nc"
    NW.write(path,
      dims = Seq(NW.DimSpec("time", 2, record = true)),
      vars = Seq(
        NW.VarSpec("time", Seq("time"), NetCDF3.NC_DOUBLE, Seq(0.5, 1.6),
          attrs = Seq("units" -> "seconds since 1970-01-01")),
        NW.VarSpec("v", Seq("time"), NetCDF3.NC_DOUBLE, Seq(1.0, 2.0))))
    val times = NetCDF3Reader.readLongFormat(spark, path)
      .orderBy($"time").select(date_format($"time", "ss.SSS")).as[String].collect()
    // the regression: 1.6s used round(1.6)=2 for the seconds AND re-added the
    // 0.6 fraction, yielding 02.600 instead of 01.600
    assert(times.toSeq == Seq("00.500", "01.600"))
  }

  test("time coordinates round to the microsecond") {
    val path = java.nio.file.Files.createTempDirectory("nc3ms").toString + "/ms.nc"
    NW.write(path,
      dims = Seq(NW.DimSpec("time", 2, record = true)),
      vars = Seq(
        NW.VarSpec("time", Seq("time"), NetCDF3.NC_DOUBLE,
          Seq(1700000000001.0, 1700000000300.0),
          attrs = Seq("units" -> "milliseconds since 1970-01-01")),
        NW.VarSpec("v", Seq("time"), NetCDF3.NC_DOUBLE, Seq(1.0, 2.0))))
    val times = NetCDF3Reader.readLongFormat(spark, path).orderBy($"time")
      .select(date_format($"time", "HH:mm:ss.SSSSSS")).as[String].collect()
    // truncation read the doubles' representation error: .000999, .299999
    assert(times.toSeq == Seq("22:13:20.001000", "22:13:20.300000"))
  }

  test("NC_CHAR variables collapse the trailing strlen dim into StringType columns") {
    val dir = java.nio.file.Files.createTempDirectory("nc3chars").toString
    val path = s"$dir/stations.nc"
    val names = Seq("oslo", "bergen", "tromso", "trondheim")
    val strlen = 12
    def charBytesN(ss: Seq[String], n: Int): Seq[Double] = ss.flatMap { s =>
      val b = s.getBytes("UTF-8")
      (b.map(_.toDouble) ++ Seq.fill(n - b.length)(0.0)).toSeq // NUL pad
    }
    def charBytes(ss: Seq[String]): Seq[Double] = charBytesN(ss, strlen)
    NW.write(path,
      dims = Seq(NW.DimSpec("station", names.size, record = true),
        NW.DimSpec("name_strlen", strlen)),
      vars = Seq(
        NW.VarSpec("station", Seq("station"), NetCDF3.NC_DOUBLE,
          names.indices.map(_.toDouble)),
        // record char var: strlen bytes per record, record-stride reads
        NW.VarSpec("station_name", Seq("station", "name_strlen"),
          NetCDF3.NC_CHAR, charBytes(names)),
        NW.VarSpec("elev", Seq("station"), NetCDF3.NC_INT,
          names.indices.map(i => 100.0 + i))))
    val got = NetCDF3Reader.readLongFormat(spark, path)
    assert(got.schema("station_name").dataType.typeName == "string")
    assert(got.schema("elev").dataType.typeName == "double")
    val rows = got.orderBy($"station").collect()
    assert(rows.map(_.getAs[String]("station_name")).toSeq == names)
    assert(rows.map(_.getAs[Double]("elev")).toSeq ==
      names.indices.map(i => 100.0 + i))

    // fixed (non-record) char var over a 2-D grid: per-outer-index slices
    val path2 = s"$dir/grid.nc"
    val flags = for (t <- 0 until 3; s <- 0 until 2) yield s"f$t$s"
    NW.write(path2,
      dims = Seq(NW.DimSpec("t", 3), NW.DimSpec("s", 2), NW.DimSpec("len", 4)),
      vars = Seq(
        NW.VarSpec("t", Seq("t"), NetCDF3.NC_DOUBLE, Seq(0.0, 1.0, 2.0)),
        NW.VarSpec("s", Seq("s"), NetCDF3.NC_DOUBLE, Seq(0.0, 1.0)),
        NW.VarSpec("flag", Seq("t", "s", "len"), NetCDF3.NC_CHAR,
          charBytesN(flags, 4)),
        NW.VarSpec("v", Seq("t", "s"), NetCDF3.NC_DOUBLE,
          (0 until 6).map(_.toDouble))))
    val got2 = NetCDF3Reader.readLongFormat(spark, path2)
    val rows2 = got2.orderBy($"t", $"s").collect()
    assert(rows2.map(_.getAs[String]("flag")).toSeq == flags)
    assert(rows2.map(_.getAs[Double]("v")).toSeq == (0 until 6).map(_.toDouble))

    // a char var whose TRAILING dim is shared with a numeric variable is
    // NOT a string: it keeps full rank and decodes as numeric char codes
    // (no silent drop when its rank ties the hypercube)
    val path3 = s"$dir/shareddim.nc"
    NW.write(path3,
      dims = Seq(NW.DimSpec("t", 2), NW.DimSpec("s", 3)),
      vars = Seq(
        NW.VarSpec("t", Seq("t"), NetCDF3.NC_DOUBLE, Seq(0.0, 1.0)),
        NW.VarSpec("s", Seq("s"), NetCDF3.NC_DOUBLE, Seq(0.0, 1.0, 2.0)),
        NW.VarSpec("grade", Seq("t", "s"), NetCDF3.NC_CHAR,
          "ABCDEF".map(_.toDouble.toInt.toDouble)),
        NW.VarSpec("v", Seq("t", "s"), NetCDF3.NC_DOUBLE,
          (0 until 6).map(_.toDouble))))
    val got3 = NetCDF3Reader.readLongFormat(spark, path3)
    assert(got3.schema("grade").dataType.typeName == "double")
    assert(got3.orderBy($"t", $"s").select($"grade").collect()
      .map(_.getDouble(0)).toSeq == "ABCDEF".map(_.toInt.toDouble))
  }

  test("splitter demuxes the NetCDF file by dimension value and by variable") {
    import graft.operators.Splitter
    val outRoot = java.nio.file.Files.createTempDirectory("ncsplit").toString
    // by dimension value (weather-sp GribSplitter semantics: one output per
    // time step), via the partitioned write
    val byTime = df.withColumn("hour", date_format($"time", "HH"))
    Splitter.split(byTime, Seq("hour"), s"$outRoot/by_time")
    val timeDirs = new java.io.File(s"$outRoot/by_time").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(timeDirs == Set("hour=00", "hour=01", "hour=02"))
    // by variable (NetCdfSplitter semantics): unpivot then partition
    val byVar = df.selectExpr("time", "latitude", "longitude",
      "stack(2, 'd2m', d2m, 'swvl1', swvl1) AS (variable, value)")
    Splitter.split(byVar, Seq("variable"), s"$outRoot/by_var")
    val varDirs = new java.io.File(s"$outRoot/by_var").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(varDirs == Set("variable=d2m", "variable=swvl1"))
    assert(spark.read.parquet(s"$outRoot/by_var").count() == 2L * nt * ny * nx)
  }
}
