package graft

import org.apache.hadoop.conf.Configuration

import graft.sources.grib._

/** Unified GRIB index: per-message edition dispatch, buffered header IO,
  * and the glob-driven multi-file ingest path. */
class GribIndexSpec extends SparkSpec {
  import spark.implicits._

  private def conf = new Configuration(spark.sparkContext.hadoopConfiguration)

  private def g1spec(values: Seq[Double], refTime: java.time.LocalDateTime,
      p1: Int = 0) =
    Grib1Writer.FieldSpec(167, 105, 2, refTime, values, 4, 3,
      50.0, 0.0, 48.0, 3.0, p1 = p1)

  private def g2spec(values: Seq[Double], refTime: java.time.LocalDateTime) =
    Grib2Writer.FieldSpec(0, 0, 0, 103, 2, refTime, values, 4, 3,
      50.0, 0.0, 48.0, 3.0)

  test("mixed-edition file reads through per-message dispatch") {
    val dir = java.nio.file.Files.createTempDirectory("gribmix").toString
    val path = s"$dir/mixed.grib"
    val t = java.time.LocalDateTime.of(2026, 4, 1, 0, 0)
    val b1 = Grib1Writer.message(g1spec((1 to 12).map(_.toDouble), t))
    val b2 = Grib2Writer.message(g2spec((13 to 24).map(_.toDouble), t.plusHours(6)))
    java.nio.file.Files.write(java.nio.file.Paths.get(path), b1 ++ b2)
    val df = GribReader.readLongFormat(spark, path)
    assert(df.count() == 24)
    assert(df.select($"time").distinct().count() == 2)
    // both editions land on the same synthesized channel (2 m temperature)
    assert(df.select($"channel").distinct().as[String].collect().toSeq ==
      Seq("heightAboveGround_2_00_instant_2t"))
    val vals = df.select($"value").as[Double].collect().toSet
    assert((1 to 24).map(_.toDouble).toSet == vals)
  }

  test("header indexing issues O(file/64KiB) reads on a 10k-message file") {
    val dir = java.nio.file.Files.createTempDirectory("gribmany").toString
    val path = s"$dir/many.grib"
    val t0 = java.time.LocalDateTime.of(2026, 1, 1, 0, 0)
    Grib1Writer.write(path,
      (0 until 10000).map(i => g1spec(Seq.fill(12)((i % 97).toDouble), t0, p1 = i % 200)))
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    var underlying = 0L
    val raw = (off: Long, len: Int) => {
      underlying += 1
      java.util.Arrays.copyOfRange(bytes, off.toInt, off.toInt + len)
    }
    val buffered = new BufferedReads(raw, bytes.length.toLong)
    val units = GribIndex.indexUnits(buffered, bytes.length.toLong)
    assert(units.size == 10000)
    // the driver-serial shape was ~4 reads per message (~40k); buffered
    // indexing must stay within a small multiple of file/64KiB windows
    val bound = 2L * (bytes.length / (64 * 1024)) + 8
    assert(underlying <= bound,
      s"$underlying underlying reads for ${bytes.length} bytes (bound $bound)")
    assert(underlying == buffered.fetches)
  }

  test("expand + isMulti: globs, directories, single files") {
    val dir = java.nio.file.Files.createTempDirectory("gribglob").toString
    val t = java.time.LocalDateTime.of(2026, 4, 2, 0, 0)
    Grib1Writer.write(s"$dir/f0.grib", Seq(g1spec((1 to 12).map(_.toDouble), t)))
    Grib1Writer.write(s"$dir/f1.grib", Seq(g1spec((1 to 12).map(_.toDouble), t)))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/notes.txt"), "x")
    assert(GribIndex.expand(conf, s"$dir/*.grib").size == 2)
    assert(GribIndex.expand(conf, dir).size == 3) // a directory lists all files
    assert(GribIndex.expand(conf, s"$dir/f0.grib").size == 1)
    assert(GribIndex.expand(conf, s"$dir/zzz*.grib").isEmpty)
    assert(GribIndex.isMulti(conf, s"$dir/*.grib"))
    assert(GribIndex.isMulti(conf, dir))
    assert(!GribIndex.isMulti(conf, s"$dir/f0.grib"))
    assert(!GribIndex.isMulti(conf, s"$dir/absent.grib"))
  }

  test("multi-file glob scan carries data_uri and merges per file") {
    val dir = java.nio.file.Files.createTempDirectory("gribmulti").toString
    val t0 = java.time.LocalDateTime.of(2026, 4, 3, 0, 0)
    Grib1Writer.write(s"$dir/f0.grib", Seq(g1spec((1 to 12).map(_.toDouble), t0)))
    Grib1Writer.write(s"$dir/f1.grib", Seq(g1spec((13 to 24).map(_.toDouble), t0.plusHours(6))))
    Grib2Writer.write(s"$dir/f2.grib", Seq(g2spec((25 to 36).map(_.toDouble), t0.plusHours(12))))
    val long = GribReader.readLongFormatGlob(spark, s"$dir/*.grib")
    assert(long.columns.head == "data_uri")
    assert(long.count() == 36)
    assert(long.select($"data_uri").distinct().count() == 3)
    val merged = GribReader.readMergedGlob(spark, s"$dir/*.grib")
    assert(merged.columns.contains("data_uri"))
    assert(merged.columns.contains("heightAboveGround_2_00_instant_2t"))
    assert(merged.count() == 36) // 12 grid points x 3 (uri, time) planes
    // FormatRegistry routes glob URIs onto the multi-file path
    val viaRegistry = graft.sources.FormatRegistry.open(spark, s"$dir/*.grib")
    assert(viaRegistry.count() == 36)
    assert(viaRegistry.columns.contains("data_uri"))
  }

  test("weather-mv bq ingests a GRIB glob with per-file data_uri and first step") {
    val dir = java.nio.file.Files.createTempDirectory("gribmv").toString
    val t0 = java.time.LocalDateTime.of(2026, 4, 4, 0, 0)
    Grib1Writer.write(s"$dir/a.grib", Seq(g1spec((1 to 12).map(_.toDouble), t0)))
    Grib1Writer.write(s"$dir/b.grib", Seq(g1spec((13 to 24).map(_.toDouble), t0.plusHours(6))))
    graft.cli.WeatherMv.run(spark, graft.cli.WeatherMv.parse(Seq(
      "bq", "-i", s"$dir/*.grib", "-o", s"$dir/out",
      "--import_time", "2026-04-04 00:00:00")))
    val out = spark.read.parquet(s"$dir/out")
    assert(out.count() == 24)
    assert(out.select($"data_uri").distinct().count() == 2)
    // data_first_step is per FILE (the reference's per-URI extract), not a
    // global min over the pattern
    val steps = out.select($"data_uri", $"data_first_step").distinct().collect()
    assert(steps.length == 2)
    assert(steps.map(_.get(1)).distinct.length == 2)
    // sink schema on a multi-file frame carries data_uri exactly ONCE (it
    // arrives in the sample AND in the fixed metadata columns)
    val schema = graft.operators.Mover.sinkSchema(
      graft.sources.FormatRegistry.open(spark, s"$dir/*.grib"))
    assert(schema.fieldNames.count(_ == "data_uri") == 1)
  }
}
