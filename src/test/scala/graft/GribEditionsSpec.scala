package graft

import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration

import graft.sources.FormatRegistry
import graft.sources.grib.{Grib1, Grib1Writer => GW1, Grib2Writer => GW2, GribIndex, GribReader,
  GribSplitter}

/** One reader and one splitter for either edition: edition-1, edition-2 and
  * mixed-edition files split into every message they hold, spectral ones
  * included, and read their spectral fields through `GribReader.readSpectral`. */
class GribEditionsSpec extends SparkSpec {
  import spark.implicits._

  private val t0 = java.time.LocalDateTime.of(2026, 5, 1, 0, 0)
  private def conf = new Configuration(spark.sparkContext.hadoopConfiguration)
  private def tmp(name: String): String = Files.createTempDirectory(name).toString

  private def write(path: String, msgs: Seq[Array[Byte]]): String = {
    Files.write(Paths.get(path), msgs.reduce(_ ++ _))
    path
  }

  private def grid1(param: Int, hours: Int = 0) = GW1.message(GW1.FieldSpec(param, 105, 2,
    t0, (1 to 12).map(_.toDouble), 4, 3, 50.0, 0.0, 48.0, 3.0, p1 = hours))

  private def grid2(cat: Int, num: Int, level: Int, hours: Int) = GW2.message(GW2.FieldSpec(
    0, cat, num, level, 2, t0, (13 to 24).map(_.toDouble), 4, 3, 50.0, 0.0, 48.0, 3.0,
    forecastTime = hours))

  // T5 triangular truncation: 21 complex coefficients, integer-valued so
  // E=0/D=0 packing is exact
  private val t = 5
  private val coeffs = (0 until (t + 1) * (t + 2)).map(k => ((k * 37) % 101 - 50).toDouble)

  private def spectral1 = GW1.message(GW1.FieldSpec(129, 100, 500, t0, coeffs,
    ni = coeffs.size, nj = 1, la1 = 0, lo1 = 0, la2 = 0, lo2 = 0, tableVersion = 128,
    decimalScale = 0, bitsPerValue = 24, spectralT = t))

  private def spectral2 = GW2.message(GW2.FieldSpec(0, 3, 5, 100, 50000, t0, coeffs,
    coeffs.size, 1, 0.0, 0.0, 0.0, 0.0, decimalScale = 0, bitsPerValue = 24,
    packing = 50, spectralT = t))

  private def messageCount(path: String): Int = GribIndex.indexMessageSpans(conf, path).size

  test("an edition-1 split keeps its spectral message") {
    val dir = tmp("gribsplit1")
    val in = write(s"$dir/in.grib", Seq(grid1(167), spectral1))
    val spName = GribIndex.indexMessageSpans(conf, in).flatMap(_._3)
      .find(_.spectralM.isDefined).get.shortName
    val outs = GribSplitter.split(spark, in, s"$dir/out")
    assert(outs.keySet == Set("2t", spName))
    assert(outs.values.toSeq.map(messageCount).sum == messageCount(in))
  }

  test("a mixed-edition file splits into one byte-identical output per shortName") {
    val dir = tmp("gribsplitmix")
    val msgs = Seq(grid1(167), grid2(0, 0, 103, 6), grid2(3, 1, 101, 0), grid1(165))
    val in = write(s"$dir/in.grib", msgs)
    val names = GribIndex.indexMessageSpans(conf, in).map(_._3.head.shortName)
    assert(names == Seq("2t", "2t", "msl", "10u"))
    val outs = GribSplitter.split(spark, in, s"$dir/out")
    assert(outs.keySet == names.toSet)
    for ((name, out) <- outs) {
      val want = msgs.zip(names).collect { case (m, n) if n == name => m }.reduce(_ ++ _)
      assert(Files.readAllBytes(Paths.get(new java.net.URI(out).getPath)).sameElements(want),
        s"$name output is not the input's messages verbatim")
    }
  }

  test("GribReader.readSpectral reads the edition-2 spectral field of a mixed file") {
    val in = write(s"${tmp("gribspmix")}/in.grib", Seq(grid1(167), spectral2))
    val df = GribReader.readSpectral(spark, in)
    assert(df.count() == coeffs.size / 2)
    val got = df.orderBy($"m", $"n").select($"re", $"im").collect()
      .flatMap(r => Seq(r.getDouble(0), r.getDouble(1))).toSeq
    assert(got == coeffs)
    assert(df.select($"short_name").distinct().as[String].collect().toSeq == Seq("gh"))
    // the gridded message still reads through the long format
    assert(GribReader.readLongFormat(spark, in).count() == 12)
  }

  test("spectral-only files point at readSpectral; junk is not a GRIB file") {
    val dir = tmp("gribsponly")
    val readers: Seq[(String, String => Unit)] = Seq(
      "FormatRegistry.open" -> (p => FormatRegistry.open(spark, p)),
      "readMerged" -> (p => GribReader.readMerged(spark, p)),
      "readLongFormat" -> (p => GribReader.readLongFormat(spark, p)))
    for ((ed, msg) <- Seq(1 -> spectral1, 2 -> spectral2); (name, read) <- readers) {
      val p = write(s"$dir/sp$ed.grib", Seq(msg))
      val e = intercept[Grib1.UnsupportedGrib](read(p))
      assert(e.getMessage.contains("GribReader.readSpectral"), s"edition $ed $name: $e")
    }
    val junk = s"$dir/junk.grib"
    Files.write(Paths.get(junk), Array.fill[Byte](64)(7))
    for ((name, read) <- readers) {
      val e = intercept[IllegalArgumentException](read(junk))
      assert(e.getMessage.contains("not a GRIB file"), s"$name: $e")
    }
  }
}
