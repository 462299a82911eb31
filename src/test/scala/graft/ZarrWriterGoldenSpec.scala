package graft

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.sources.grib.{GribProjection, Grib2Writer => GW2}
import graft.sources.hdf5.{Hdf5Writer => HW}
import graft.sources.tiff.{TiffWriter => TW}
import graft.sources.zarr.{Kerchunk, ZarrDistributedWriter, ZarrWriter => ZW}

/** Golden output of every Zarr writer: the fixture writer (v2 and v3), the
  * distributed writer (v2 and v3) and the Kerchunk scans and combine.
  *
  * Each case writes its store or refs file into a fresh directory; the
  * manifest lists every file (Hadoop's `.crc` sidecars aside) with the
  * SHA-256 of chunk files and the parsed, key-sorted JSON of metadata
  * files. Refs files have their escaped `.zarray`/`.zattrs`/`.zgroup`
  * strings parsed too, and the case directory replaced by `<scratch>` in
  * every reference target. The manifests live in
  * `src/test/resources/zarr-golden/`; set `ZARR_GOLDEN_OUT=<dir>` to write
  * fresh ones there instead of comparing. Chunk bytes depend on the JDK's
  * zlib: a JDK whose deflate output differs is the reason to regenerate. */
class ZarrWriterGoldenSpec extends SparkSpec {

  private val conf = new Configuration()
  private val metaNames =
    Set(".zarray", ".zattrs", ".zgroup", ".zmetadata", "zarr.json")

  private def norm(j: JValue): JValue = j match {
    case JObject(fs) => JObject(fs.map { case (k, v) => k -> norm(v) }.sortBy(_._1))
    case JArray(xs) => JArray(xs.map(norm))
    case o => o
  }

  private def normRefs(j: JValue): JValue = j.transformField {
    case ("refs", JObject(fs)) => "refs" -> JObject(fs.map {
      case (k, JString(s)) if metaNames.exists(n => k == n || k.endsWith("/" + n)) =>
        k -> JsonMethods.parse(s)
      case kv => kv
    })
  }

  /** One line per file, sorted by path: `path<TAB>sha256` or
    * `path<TAB>json`. */
  private def manifest(root: File, scratch: String): Seq[String] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(root)
      .filterNot(f => f.getName.startsWith(".") && f.getName.endsWith(".crc"))
      .map { f =>
        val rel = root.toPath.relativize(f.toPath).toString
        val bytes = Files.readAllBytes(f.toPath)
        val value =
          if (metaNames(f.getName))
            JsonMethods.compact(JsonMethods.render(norm(JsonMethods.parse(
              new String(bytes, UTF_8)))))
          else if (f.getName.endsWith(".json"))
            JsonMethods.compact(JsonMethods.render(norm(normRefs(JsonMethods.parse(
              new String(bytes, UTF_8).replace(scratch, "<scratch>"))))))
          else java.security.MessageDigest.getInstance("SHA-256").digest(bytes)
            .map(b => f"${b & 0xff}%02x").mkString
        s"$rel\t$value"
      }.sorted
  }

  /** Runs `build(in, out)` in a fresh scratch directory and compares the
    * manifest of `out` with the case's golden file. */
  private def golden(name: String)(build: (String, String) => Unit): Unit = {
    val scratch = Files.createTempDirectory("zgold").toString
    val (in, out) = (s"$scratch/in", s"$scratch/out")
    new File(in).mkdirs()
    new File(out).mkdirs()
    build(in, out)
    val got = manifest(new File(out), scratch)
    sys.env.get("ZARR_GOLDEN_OUT") match {
      case Some(dir) =>
        new File(dir).mkdirs()
        Files.write(Paths.get(dir, s"$name.txt"), got.mkString("", "\n", "\n").getBytes(UTF_8))
      case None =>
        val res = getClass.getResourceAsStream(s"/zarr-golden/$name.txt")
        assert(res != null, s"no golden manifest for $name")
        val want = try scala.io.Source.fromInputStream(res, "UTF-8").getLines().toSeq
          finally res.close()
        assert(got.map(_.split('\t')(0)) == want.map(_.split('\t')(0)),
          s"$name: file names differ")
        got.zip(want).foreach { case (g, w) => assert(g == w, s"$name: $g != $w") }
    }
  }

  // ---- the fixture writer

  private val (nt, ny, nx) = (5, 3, 4)
  private def cube(f: (Int, Int, Int) => Double): Seq[Double] =
    for (t <- 0 until nt; y <- 0 until ny; x <- 0 until nx) yield f(t, y, x)
  private val dims3 = Seq("time", "latitude", "longitude")
  private val shape3 = Seq(nt, ny, nx)

  private def coords(timeDtype: String): Seq[ZW.VarSpec] = Seq(
    ZW.VarSpec("time", Seq("time"), Seq(nt), Seq(2), timeDtype,
      (0 until nt).map(_ * 30.0), units = Some("days since 2000-01-01"),
      calendar = Some("360_day")),
    ZW.VarSpec("latitude", Seq("latitude"), Seq(ny), Seq(2), "<f4",
      (0 until ny).map(40.0 + 0.25 * _)),
    ZW.VarSpec("longitude", Seq("longitude"), Seq(nx), Seq(4), "<f8",
      (0 until nx).map(-5.0 + 1.5 * _)))

  private def numericVars(comp: Option[String], chunks: Seq[Int]): Seq[ZW.VarSpec] = Seq(
    ZW.VarSpec("t2m", dims3, shape3, chunks, "<f8",
      cube((t, y, x) => if (t == 4) Double.NaN else 270.0 + t + 0.1 * y + 0.01 * x),
      compressor = comp, units = Some("K")),
    ZW.VarSpec("f4v", dims3, shape3, chunks, "<f4",
      cube((t, y, x) => t * 0.5f + y - x), compressor = comp),
    ZW.VarSpec("i8v", dims3, shape3, chunks, "<i8",
      cube((t, y, x) => (1L << 40 | (t * 100 + y * 10 + x)).toDouble), compressor = comp),
    ZW.VarSpec("i4v", dims3, shape3, chunks, "<i4",
      cube((t, y, x) => -(t * 100 + y * 10 + x)), compressor = comp,
      missingValue = Some(-999)),
    ZW.VarSpec("cape", dims3, shape3, chunks, "<i2",
      cube((t, y, x) => if (t == 0 && y == 0 && x == 0) -32767 else t * 37 + x),
      compressor = comp, scaleFactor = Some(0.5), addOffset = Some(1000.0),
      missingValue = Some(-32767)),
    ZW.VarSpec("u1v", dims3, shape3, chunks, "|u1",
      cube((t, y, x) => (t * 50 + y * 7 + x) % 256), compressor = comp),
    ZW.VarSpec("mask", dims3, shape3, chunks, "|b1",
      cube((t, y, x) => (t + y + x) % 2), compressor = comp),
    ZW.VarSpec("station", dims3, shape3, chunks, "|O", Nil,
      sdata = cube((t, y, x) => 0).indices.map(i => s"st-${i * 7 % 13}é"),
      compressor = comp))

  Seq(None, Some("zlib"), Some("blosc"), Some("zstd")).foreach { comp =>
    val tag = comp.getOrElse("none")
    test(s"golden: fixture writer v2, compressor $tag") {
      golden(s"zw-v2-$tag") { (_, out) =>
        ZW.write(s"$out/s.zarr", coords("<f8") ++ numericVars(comp, Seq(2, 2, 3)) :+
          ZW.VarSpec("code", dims3, shape3, Seq(2, 2, 3), "|S4", Nil,
            sdata = cube((t, y, x) => 0).indices.map(i => "ab" * (i % 3)),
            compressor = comp))
      }
    }
  }

  Seq(
    ("gzip", "/", None, false),
    ("zstd", ".", None, true),
    ("blosc", "/", Some(Seq(4, 2, 6)), true),
    ("gzip", ".", Some(Seq(2, 4, 6)), false)).foreach { case (comp, sep, shard, crc) =>
    val tag = s"$comp-${if (sep == ".") "dot" else "slash"}" +
      shard.fold("")(_ => "-sharded") + (if (crc) "-crc" else "")
    test(s"golden: fixture writer v3, $tag") {
      golden(s"zw-v3-$tag") { (_, out) =>
        ZW.writeV3(s"$out/s.zarr", coords("<i8") ++
          numericVars(Some(comp), Seq(2, 2, 3)).map(_.copy(shard = shard, crc32c = crc)),
          sep = sep)
      }
    }
  }

  // ---- the distributed writer

  private def frame: org.apache.spark.sql.DataFrame = {
    val s = spark
    import s.implicits._
    val rows = for {
      t <- 0 until 4; y <- 0 until 5; x <- 0 until 6
      // sparse: one cell and one whole (t, y) strip are absent
      if !(t == 1 && y == 2 && x == 3) && !(t == 3 && y >= 3)
    } yield (
      java.time.LocalDateTime.of(2020, 1, 1, 0, 0).plusHours(6L * t),
      -10.0 + 5.0 * y,
      if (x == 0) -0.0 else 10.0 * x,
      if (t == 2 && x == 5) None else Some(250.0 + t + 0.1 * y + 0.01 * x),
      (t * 100 + y * 10 + x).toLong,
      if (y == 1 && x == 1) None else Some(s"st-$y/$x"))
    rows.toDF("time", "latitude", "longitude", "t2m", "n", "station")
  }

  Seq(Some("zlib"), None).foreach { comp =>
    val tag = comp.getOrElse("none")
    test(s"golden: distributed writer v2, compressor $tag") {
      golden(s"dw-v2-$tag") { (_, out) =>
        ZarrDistributedWriter.write(frame, s"$out/s.zarr", dims3, Seq(2, 3, 4), comp)
      }
    }
  }

  Seq(
    (Some("gzip"), None), (None, None),
    (Some("gzip"), Some(Seq(4, 3, 8))), (None, Some(Seq(2, 6, 4)))).foreach {
    case (comp, shard) =>
      val tag = comp.getOrElse("none") + shard.fold("")(_ => "-sharded")
      test(s"golden: distributed writer v3, $tag") {
        golden(s"dw-v3-$tag") { (_, out) =>
          ZarrDistributedWriter.writeV3(frame, s"$out/s.zarr", dims3, Seq(2, 3, 4),
            shard, comp)
        }
      }
  }

  // ---- Kerchunk

  private def writeRefs(path: String, json: String): Unit =
    Files.write(Paths.get(path), json.getBytes(UTF_8))

  test("golden: Kerchunk.scanNetCDF4 (chunked, contiguous, zstd/blosc, attrs)") {
    golden("kc-netcdf4") { (in, out) =>
      val vals = (0 until 60).map(i => (i * 7 % 23).toDouble)
      val axes = Seq(
        HW.VarSpec("time", Seq("time"), Seq(3), (0 until 3).map(_ * 3600.0),
          units = Some("seconds since 2020-01-01")),
        HW.VarSpec("lat", Seq("lat"), Seq(4), (0 until 4).map(10.0 + _)),
        HW.VarSpec("lon", Seq("lon"), Seq(5), (0 until 5).map(_ * 2.0)))
      HW.write(s"$in/a.nc", axes ++ Seq(
        HW.VarSpec("t2m", Seq("time", "lat", "lon"), Seq(3, 4, 5), vals,
          chunks = Some(Seq(2, 2, 3)), deflate = true, shuffle = true,
          units = Some("K")),
        HW.VarSpec("p", Seq("time", "lat", "lon"), Seq(3, 4, 5), vals.map(_ * 1.5)),
        HW.VarSpec("q", Seq("time", "lat", "lon"), Seq(3, 4, 5), vals, dtype = "i2",
          chunks = Some(Seq(1, 4, 5)), scaleFactor = Some(0.25),
          addOffset = Some(-3.0), fillValue = Some(-1.0))))
      HW.write(s"$in/z.nc", axes ++ Seq(
        HW.VarSpec("t2m", Seq("time", "lat", "lon"), Seq(3, 4, 5), vals,
          chunks = Some(Seq(2, 2, 3)), shuffle = true, zstd = true),
        HW.VarSpec("p", Seq("time", "lat", "lon"), Seq(3, 4, 5), vals.map(_ * 1.5),
          chunks = Some(Seq(2, 2, 3)), blosc = true)))
      writeRefs(s"$out/a.refs.json", Kerchunk.scanNetCDF4(conf, s"$in/a.nc"))
      writeRefs(s"$out/z.refs.json", Kerchunk.scanNetCDF4(conf, s"$in/z.nc"))
    }
  }

  private def gField(values: Seq[Double], fcst: Int, cat: Int = 0, num: Int = 0,
      lvlType: Int = 103, lvlScaled: Long = 2, packing: Int = 0) =
    GW2.FieldSpec(0, cat, num, lvlType, lvlScaled,
      java.time.LocalDateTime.of(2026, 4, 1, 0, 0), values, 5, 4,
      50.0, 0.0, 47.0, 4.0, forecastTime = fcst, packing = packing)

  test("golden: Kerchunk.scanGrib (regular, projected, rotated)") {
    golden("kc-grib") { (in, out) =>
      def vals(seed: Int, n: Int) = (0 until n).map(i => ((seed * 31 + i * 7) % 211).toDouble)
      GW2.write(s"$in/a.grib2", (0 until 3).flatMap(t => Seq(
        gField(vals(t, 20), t * 6),
        gField(vals(t + 10, 20), t * 6, cat = 3, num = 1, lvlType = 101,
          lvlScaled = 0, packing = 2))))
      val lcc = GribProjection.LambertConformal(33.0, 45.0, 262.5, 6371229.0)
      GW2.write(s"$in/l.grib2", Seq(0, 6).map(f => GW2.FieldSpec(0, 0, 0, 103, 2,
        java.time.LocalDateTime.of(2026, 4, 1, 0, 0), vals(f, 30), 6, 5,
        38.0, 262.0, 0, 0, forecastTime = f, projection = Some(lcc),
        dxMeters = 3000.0, dyMeters = 3000.0)))
      GW2.write(s"$in/r.grib2", Seq(GW2.FieldSpec(0, 0, 0, 103, 2,
        java.time.LocalDateTime.of(2026, 4, 1, 0, 0), vals(1, 35), 7, 5,
        la1 = 10.0, lo1 = -15.0, la2 = -10.0, lo2 = 15.0,
        projection = Some(GribProjection.RotatedLatLon(-40.0, 10.0)))))
      Seq("a", "l", "r").foreach { n =>
        writeRefs(s"$out/$n.refs.json", Kerchunk.scanGrib(conf, s"$in/$n.grib2"))
      }
    }
  }

  test("golden: Kerchunk.scanTiff (geographic, projected, with time)") {
    golden("kc-tiff") { (in, out) =>
      TW.write(s"$in/g.tif", TW.Spec(12, 8, 1, (0 until 96).map(i => (i * 7 % 53).toDouble),
        pixelScale = (0.5, 0.5), tiepointXY = (10.0, 55.0), epsg = 4326,
        rowsPerStrip = 2, deflate = true))
      TW.write(s"$in/p.tif", TW.Spec(4, 4, 1, (0 until 16).map(i => (i * 3 % 11).toDouble),
        pixelScale = (1000, 1000), tiepointXY = (0, 0), epsg = 3857,
        rowsPerStrip = 2, bitsPerSample = 16, sampleFormat = 1))
      writeRefs(s"$out/g.refs.json", Kerchunk.scanTiff(conf, s"$in/g.tif"))
      writeRefs(s"$out/p.refs.json", Kerchunk.scanTiff(conf, s"$in/p.tif"))
      writeRefs(s"$out/t.refs.json",
        Kerchunk.scanTiff(conf, s"$in/g.tif", timeEpochSec = 1.7e9))
    }
  }

  test("golden: Kerchunk.combine (netCDF-4 days, GeoTIFF stack)") {
    golden("kc-combine") { (in, out) =>
      val ncRefs = Seq(1 -> 4, 2 -> 4, 3 -> 3).map { case (day, n) =>
        HW.write(s"$in/d$day.nc", Seq(
          HW.VarSpec("time", Seq("time"), Seq(n), (0 until n).map(_ * 6.0),
            units = Some(f"hours since 2021-01-0$day")),
          HW.VarSpec("lat", Seq("lat"), Seq(4), (0 until 4).map(10.0 + _)),
          HW.VarSpec("lon", Seq("lon"), Seq(5), (0 until 5).map(_ * 2.0)),
          HW.VarSpec("t2m", Seq("time", "lat", "lon"), Seq(n, 4, 5),
            (0 until n * 20).map(i => day * 1000.0 + (i * 7 % 23)),
            chunks = Some(Seq(2, 2, 3)), deflate = true, shuffle = true)))
        val r = s"$in/d$day.refs.json"
        writeRefs(r, Kerchunk.scanNetCDF4(conf, s"$in/d$day.nc"))
        r
      }
      writeRefs(s"$out/nc.json", Kerchunk.combine(conf, ncRefs.reverse))
      val tifRefs = (0 until 3).map { day =>
        TW.write(s"$in/c$day.tif", TW.Spec(6, 4, 1, (0 until 24).map(i => day * 100.0 + i),
          pixelScale = (1.0, 1.0), tiepointXY = (0.0, 50.0), epsg = 4326,
          rowsPerStrip = 2, deflate = true))
        val r = s"$in/c$day.refs.json"
        writeRefs(r, Kerchunk.scanTiff(conf, s"$in/c$day.tif",
          timeEpochSec = 1.75e9 + day * 86400.0))
        r
      }
      writeRefs(s"$out/tif.json", Kerchunk.combine(conf, tifRefs, concatDim = "time"))
    }
  }
}
