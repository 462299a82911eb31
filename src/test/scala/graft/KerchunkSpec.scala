package graft

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.functions._

import graft.sources.hdf5.{Hdf5Writer => HW}
import graft.sources.netcdf.NetCDF4Reader
import graft.sources.zarr.{Kerchunk, ZarrMeta}

/** Kerchunk-style reference stores: a native netCDF-4/HDF5 file indexed
  * ONCE into `zarr key -> [uri, offset, length]` JSON, then served through
  * the Zarr DataSource-V2 reader without rewriting a byte — the fsspec
  * ReferenceFileSystem pattern that virtualizes 100 TB archives. */
class KerchunkSpec extends SparkSpec {
  import spark.implicits._

  private val conf = new Configuration()

  private def fixture(dir: String, chunked: Boolean = true): String = {
    val nc = s"$dir/t.nc"
    val vals = (0 until 60).map(i => (i * 7 % 23).toDouble)
    HW.write(nc, Seq(
      HW.VarSpec("time", Seq("time"), Seq(3), (0 until 3).map(_ * 3600.0),
        units = Some("seconds since 2020-01-01")),
      HW.VarSpec("lat", Seq("lat"), Seq(4), (0 until 4).map(10.0 + _)),
      HW.VarSpec("lon", Seq("lon"), Seq(5), (0 until 5).map(_ * 2.0)),
      HW.VarSpec("t2m", Seq("time", "lat", "lon"), Seq(3, 4, 5), vals,
        chunks = if (chunked) Some(Seq(2, 2, 3)) else None,
        deflate = chunked, shuffle = chunked),
      HW.VarSpec("p", Seq("time", "lat", "lon"), Seq(3, 4, 5),
        vals.map(_ * 1.5),
        chunks = if (chunked) Some(Seq(2, 2, 3)) else None)))
    nc
  }

  test("refs over chunked deflate+shuffle netCDF-4 equal the direct read") {
    val dir = java.nio.file.Files.createTempDirectory("kcs").toString
    val nc = fixture(dir)
    val refsJson = Kerchunk.scanNetCDF4(conf, nc)
    val refsPath = s"$dir/t.refs.json"
    java.nio.file.Files.write(java.nio.file.Paths.get(refsPath),
      refsJson.getBytes("UTF-8"))
    val k = Seq($"time", $"lat", $"lon")
    val viaRefs = spark.read.format("zarr").load(refsPath)
      .select($"time", $"lat", $"lon", $"t2m", $"p")
      .orderBy(k: _*).collect().toSeq
    val direct = NetCDF4Reader.readLongFormat(spark, nc)
      .select($"time", $"lat", $"lon", $"t2m", $"p")
      .orderBy(k: _*).collect().toSeq
    assert(viaRefs.size == 60 && viaRefs == direct)
    // partition planning = the referenced chunk grid (2x2x2 chunks)
    assert(spark.read.format("zarr").load(refsPath).rdd.getNumPartitions == 8)
    // no data bytes were copied: the only new artifact is the (small) json
    assert(new java.io.File(refsPath).length() < 4096)
  }

  test("coordinate predicates prune referenced chunks like a real store") {
    val dir = java.nio.file.Files.createTempDirectory("kcp").toString
    val nc = fixture(dir)
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/t.refs.json"),
      Kerchunk.scanNetCDF4(conf, nc).getBytes("UTF-8"))
    val df = spark.read.format("zarr").load(s"$dir/t.refs.json")
      .filter($"lat" >= 12.0 && $"lon" < 4.0)
    // lat 12,13 (chunk row 1), lon 0,2 (chunk col 0): 3 time x 2 lat x 2 lon
    assert(df.count() == 12)
    assert(df.rdd.getNumPartitions == 2) // (2 time chunks) x 1 x 1
    assert(df.agg(sum($"t2m")).head().getDouble(0) ==
      NetCDF4Reader.readLongFormat(spark, nc)
        .filter($"lat" >= 12.0 && $"lon" < 4.0)
        .agg(sum($"t2m")).head().getDouble(0))
  }

  test("contiguous layouts reference one whole-array extent") {
    val dir = java.nio.file.Files.createTempDirectory("kcc").toString
    val nc = fixture(dir, chunked = false)
    val refsPath = s"$dir/t.refs.json"
    java.nio.file.Files.write(java.nio.file.Paths.get(refsPath),
      Kerchunk.scanNetCDF4(conf, nc).getBytes("UTF-8"))
    val viaRefs = spark.read.format("zarr").load(refsPath)
      .orderBy($"time", $"lat", $"lon").collect().toSeq
    val direct = NetCDF4Reader.readLongFormat(spark, nc)
      .select(viaRefs.head.schema.fieldNames.map(col): _*)
      .orderBy($"time", $"lat", $"lon").collect().toSeq
    assert(viaRefs == direct)
  }

  test("hand-written refs: inline strings, base64 chunks, whole-file refs") {
    val dir = java.nio.file.Files.createTempDirectory("kch").toString
    // a raw little-endian f8 chunk as its own file (whole-file ref, no
    // offset/length) and one inline base64 chunk
    val c0 = java.nio.ByteBuffer.allocate(16)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putDouble(1.5).putDouble(2.5).array()
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/c0.bin"), c0)
    val c1 = java.nio.ByteBuffer.allocate(16)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putDouble(3.5).putDouble(4.5).array()
    val b64 = java.util.Base64.getEncoder.encodeToString(c1)
    val xs = java.nio.ByteBuffer.allocate(32)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putDouble(0).putDouble(1).putDouble(2).putDouble(3).array()
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/x.bin"), xs)
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val za = """{"zarr_format": 2, "shape": [4], "chunks": [2], "dtype": "<f8", "compressor": null, "filters": null, "fill_value": "NaN", "order": "C"}"""
    val refs =
      s"""{"version": 1, "refs": {
         |  ".zgroup": ${q("""{"zarr_format": 2}""")},
         |  "x/.zarray": ${q(za)},
         |  "x/.zattrs": ${q("""{"_ARRAY_DIMENSIONS": ["x"]}""")},
         |  "x/0": ["x.bin", 0, 16], "x/1": ["x.bin", 16, 16],
         |  "v/.zarray": ${q(za)},
         |  "v/.zattrs": ${q("""{"_ARRAY_DIMENSIONS": ["x"]}""")},
         |  "v/0": ["c0.bin"],
         |  "v/1": "base64:$b64"
         |}}""".stripMargin
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/r.json"),
      refs.getBytes("UTF-8"))
    val got = spark.read.format("zarr").load(s"$dir/r.json")
      .orderBy($"x").select($"v").as[Double].collect().toSeq
    assert(got == Seq(1.5, 2.5, 3.5, 4.5))
  }

  test("prunedToWindow ships only the partition's chunk references") {
    val dir = java.nio.file.Files.createTempDirectory("kcw").toString
    val nc = fixture(dir)
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/t.refs.json"),
      Kerchunk.scanNetCDF4(conf, nc).getBytes("UTF-8"))
    val store = ZarrMeta.openRefs(conf, s"$dir/t.refs.json")
    val t2m = store.dataVars.find(_.name == "t2m").get
    assert(t2m.refs.get.size == 8) // full 2x2x2 chunk grid
    val pruned = t2m.prunedToWindow(Seq(0, 0, 0), Seq(1, 1, 2))
    assert(pruned.refs.get.keySet == Set("0.0.0")) // one chunk window
    val pruned2 = t2m.prunedToWindow(Seq(2, 0, 3), Seq(2, 3, 4))
    assert(pruned2.refs.get.keySet == Set("1.0.1", "1.1.1"))
  }

  test("zstd- and blosc-filtered netCDF-4 virtualize through zarr codecs") {
    // hdf5plugin's registered filters store payloads byte-identical to the
    // numcodecs zstd/blosc codecs, so refs decode them with no new code;
    // shuffle composes before the compressor as in the deflate pipeline
    val dir = java.nio.file.Files.createTempDirectory("kcz").toString
    val nc = s"$dir/z.nc"
    val vals = (0 until 60).map(i => (i * 11 % 37).toDouble)
    HW.write(nc, Seq(
      HW.VarSpec("time", Seq("time"), Seq(3), (0 until 3).map(_ * 3600.0),
        units = Some("seconds since 2020-01-01")),
      HW.VarSpec("lat", Seq("lat"), Seq(4), (0 until 4).map(10.0 + _)),
      HW.VarSpec("lon", Seq("lon"), Seq(5), (0 until 5).map(_ * 2.0)),
      HW.VarSpec("t2m", Seq("time", "lat", "lon"), Seq(3, 4, 5), vals,
        chunks = Some(Seq(2, 2, 3)), shuffle = true, zstd = true),
      HW.VarSpec("p", Seq("time", "lat", "lon"), Seq(3, 4, 5),
        vals.map(_ * 1.5), chunks = Some(Seq(2, 2, 3)), blosc = true)))
    val refsPath = s"$dir/z.refs.json"
    java.nio.file.Files.write(java.nio.file.Paths.get(refsPath),
      Kerchunk.scanNetCDF4(conf, nc).getBytes("UTF-8"))
    val k = Seq($"time", $"lat", $"lon")
    val viaRefs = spark.read.format("zarr").load(refsPath)
      .select($"time", $"lat", $"lon", $"t2m", $"p")
      .orderBy(k: _*).collect().toSeq
    val direct = NetCDF4Reader.readLongFormat(spark, nc)
      .select($"time", $"lat", $"lon", $"t2m", $"p")
      .orderBy(k: _*).collect().toSeq
    assert(viaRefs.size == 60 && viaRefs == direct)
    // lz4 (32004) frames blocks unlike numcodecs lz4: directed, never wrong
    val bad = s"$dir/bad.nc"
    HW.write(bad, Seq(
      HW.VarSpec("x", Seq("x"), Seq(8), (0 until 8).map(_.toDouble)),
      HW.VarSpec("v", Seq("x"), Seq(8), (0 until 8).map(_ * 2.0),
        chunks = Some(Seq(4)), lz4 = true)))
    val e = intercept[Exception] { Kerchunk.scanNetCDF4(conf, bad) }
    assert(e.getMessage.contains("32004"), e.getMessage)
  }

  test("unsupported shapes fail directed: odd filters and string vars") {
    val dir = java.nio.file.Files.createTempDirectory("kcx").toString
    val nc = s"$dir/f.nc"
    HW.write(nc, Seq(
      HW.VarSpec("x", Seq("x"), Seq(4), (0 until 4).map(_.toDouble)),
      HW.VarSpec("v", Seq("x"), Seq(4), (0 until 4).map(_ * 2.0),
        dtype = "i4", chunks = Some(Seq(2)), szip = true)))
    val e = intercept[Exception] { Kerchunk.scanNetCDF4(conf, nc) }
    assert(e.getMessage.contains("filter"), e.getMessage)
  }

  /** One "daily" file: `nt` time steps on a per-file CF base ("hours
    * since 2021-01-0d") — the combine must normalize the bases. */
  private def dayFile(dir: String, day: Int, nt: Int,
      lat0: Double = 10.0): String = {
    val nc = s"$dir/d$day.nc"
    val vals = (0 until nt * 4 * 5).map(i => day * 1000.0 + (i * 7 % 23))
    HW.write(nc, Seq(
      HW.VarSpec("time", Seq("time"), Seq(nt), (0 until nt).map(_ * 6.0),
        units = Some(f"hours since 2021-01-0$day")),
      HW.VarSpec("lat", Seq("lat"), Seq(4), (0 until 4).map(lat0 + _)),
      HW.VarSpec("lon", Seq("lon"), Seq(5), (0 until 5).map(_ * 2.0)),
      HW.VarSpec("t2m", Seq("time", "lat", "lon"), Seq(nt, 4, 5), vals,
        chunks = Some(Seq(2, 2, 3)), deflate = true, shuffle = true)))
    nc
  }

  test("combine: daily files with different time bases read as one store") {
    val dir = java.nio.file.Files.createTempDirectory("kcm").toString
    val ncs = Seq(dayFile(dir, 1, 4), dayFile(dir, 2, 4), dayFile(dir, 3, 3))
    val refs = Kerchunk.scanAllSpark(spark, s"$dir/*.nc")
    assert(refs.size == 3)
    // shuffled input order: combine sorts by the first time value
    val combined = Kerchunk.combine(conf, Seq(refs(2), refs(0), refs(1)))
    val cPath = s"$dir/combined.json"
    java.nio.file.Files.write(java.nio.file.Paths.get(cPath),
      combined.getBytes("UTF-8"))
    val got = spark.read.format("zarr").load(cPath)
      .orderBy($"time", $"lat", $"lon")
      .select($"time", $"lat", $"lon", $"t2m").collect().toSeq
    val want = ncs.flatMap(nc => NetCDF4Reader.readLongFormat(spark, nc)
        .select($"time", $"lat", $"lon", $"t2m").collect())
      .sortBy(r => (r.getAs[java.time.LocalDateTime](0)
        .toEpochSecond(java.time.ZoneOffset.UTC), r.getDouble(1), r.getDouble(2)))
    assert(got.size == 11 * 4 * 5 && got == want)
    // partition grid: 11 time steps / chunk 2 = 6, x 2 lat x 2 lon
    assert(spark.read.format("zarr").load(cPath).rdd.getNumPartitions == 24)
    // a one-day predicate plans only the owning file's time chunks
    val day2 = spark.read.format("zarr").load(cPath)
      .filter($"time" >= java.time.LocalDateTime.of(2021,1,2,0,0) &&
        $"time" < java.time.LocalDateTime.of(2021,1,3,0,0))
    assert(day2.rdd.getNumPartitions == 8) // 2 time chunks x 2 x 2
    assert(day2.count() == 4 * 4 * 5)
  }

  test("combine rejects overlap, grid drift, and mid-archive ragged tails") {
    val dir = java.nio.file.Files.createTempDirectory("kcr").toString
    val r1 = Kerchunk.scanAll(conf, dayFile(dir, 1, 4)).head
    val r1b = {
      val d2 = java.nio.file.Files.createTempDirectory("kcr1b").toString
      Kerchunk.scanAll(conf, dayFile(d2, 1, 4)).head // same day again
    }
    val e1 = intercept[IllegalArgumentException] {
      Kerchunk.combine(conf, Seq(r1, r1b))
    }
    assert(e1.getMessage.contains("overlap"), e1.getMessage)
    val rShift = {
      val d3 = java.nio.file.Files.createTempDirectory("kcr2").toString
      Kerchunk.scanAll(conf, dayFile(d3, 2, 4, lat0 = 20.0)).head
    }
    val e2 = intercept[IllegalArgumentException] {
      Kerchunk.combine(conf, Seq(r1, rShift))
    }
    assert(e2.getMessage.contains("coordinate lat"), e2.getMessage)
    // a ragged (non-chunk-multiple) extent is legal only in the LAST file
    val rRagged = {
      val d4 = java.nio.file.Files.createTempDirectory("kcr3").toString
      Kerchunk.scanAll(conf, dayFile(d4, 2, 3)).head
    }
    val r3 = {
      val d5 = java.nio.file.Files.createTempDirectory("kcr4").toString
      Kerchunk.scanAll(conf, dayFile(d5, 3, 4)).head
    }
    val e3 = intercept[IllegalArgumentException] {
      Kerchunk.combine(conf, Seq(r1, rRagged, r3))
    }
    assert(e3.getMessage.contains("ragged"), e3.getMessage)
    assert(Kerchunk.combine(conf, Seq(r1, rRagged)).nonEmpty) // tail ok
  }

  // ------------------------------------------------------------ GRIB2
  import graft.sources.grib.{Grib2Writer => GW2, GribReader}

  private def gSpec(values: Seq[Double], fcst: Int,
      disc: Int = 0, cat: Int = 0, num: Int = 0, lvlType: Int = 103,
      lvlScaled: Long = 2, packing: Int = 0) =
    GW2.FieldSpec(disc, cat, num, lvlType, lvlScaled,
      java.time.LocalDateTime.of(2026, 4, 1, 0, 0), values, 5, 4,
      50.0, 0.0, 47.0, 4.0, forecastTime = fcst, packing = packing)

  test("grib2 virtualization: refs equal the direct merged read") {
    val dir = java.nio.file.Files.createTempDirectory("kcg").toString
    val path = s"$dir/a.grib2"
    def vals(seed: Int) = (0 until 20).map(i => ((seed * 31 + i * 7) % 211).toDouble)
    // 3 times x 2 vars; msl complex-packed to prove per-message packing
    // params stay out of the array metadata
    GW2.write(path, (0 until 3).flatMap(t => Seq(
      gSpec(vals(t), t * 6),
      gSpec(vals(t + 10), t * 6, cat = 3, num = 1, lvlType = 101,
        lvlScaled = 0, packing = 2))))
    val refsPath = s"$dir/a.refs.json"
    java.nio.file.Files.write(java.nio.file.Paths.get(refsPath),
      Kerchunk.scanGrib(conf, path).getBytes("UTF-8"))
    val df = spark.read.format("zarr").load(refsPath)
    assert(df.columns.toSet == Set("time", "latitude", "longitude", "2t", "msl"))
    // chunk grid partitions: 3 time x 1 x 1
    assert(df.rdd.getNumPartitions == 3)
    val got = df.orderBy($"time", $"latitude", $"longitude")
      .select($"time", $"latitude", $"longitude", $"2t", $"msl")
      .collect().toSeq
    val merged = GribReader.readMerged(spark, path)
    val c2t = graft.operators.Mover.channelName(
      "heightAboveGround", 2.0, "instant", "2t")
    val cMsl = graft.operators.Mover.channelName(
      "meanSea", 0.0, "instant", "msl")
    val want = merged.orderBy($"time", $"latitude", $"longitude")
      .select($"time", $"latitude", $"longitude", col(c2t), col(cMsl))
      .collect().toSeq
    assert(got.size == 60 && got == want)
    // a time predicate prunes to the owning message's chunk
    val one = df.filter($"time" === java.time.LocalDateTime.of(2026, 4, 1, 6, 0))
    assert(one.rdd.getNumPartitions == 1 && one.count() == 20)
  }

  test("grib2 virtualization: level demux, absent steps, combine over files") {
    val dir = java.nio.file.Files.createTempDirectory("kcg2").toString
    val path = s"$dir/b.grib2"
    def tvals(seed: Int) = (0 until 20).map(i => (seed * 100 + i).toDouble)
    // t at 850/500 hPa (same shortName, two levels) and msl missing the
    // second step
    GW2.write(path, Seq(
      gSpec(tvals(1), 0, lvlType = 100, lvlScaled = 85000),
      gSpec(tvals(2), 0, lvlType = 100, lvlScaled = 50000),
      gSpec(tvals(3), 6, lvlType = 100, lvlScaled = 85000),
      gSpec(tvals(4), 6, lvlType = 100, lvlScaled = 50000),
      gSpec(tvals(5), 0, cat = 3, num = 1, lvlType = 101, lvlScaled = 0)))
    val refsPath = s"$dir/b.refs.json"
    java.nio.file.Files.write(java.nio.file.Paths.get(refsPath),
      Kerchunk.scanGrib(conf, path).getBytes("UTF-8"))
    val df = spark.read.format("zarr").load(refsPath)
    assert(df.columns.toSet == Set("time", "latitude", "longitude",
      "t_isobaricInhPa_850", "t_isobaricInhPa_500", "msl"))
    // msl has no field at t=6h: the chunk is absent -> fill
    val atT6 = df.filter($"time" === java.time.LocalDateTime.of(2026, 4, 1, 6, 0))
    assert(atT6.count() == 20)
    assert(atT6.filter($"msl".isNull || $"msl".isNaN).count() == 20)
    assert(atT6.filter($"t_isobaricInhPa_850".isNotNull).count() == 20)
  }

  test("grib2 virtualization composes with combine across daily files") {
    val dir = java.nio.file.Files.createTempDirectory("kcg3").toString
    def day(n: Int): String = {
      val p = s"$dir/d$n.grib2"
      GW2.write(p, (0 until 2).map { t =>
        gSpec((0 until 20).map(i => (n * 1000 + t * 100 + i).toDouble), t * 12)
          .copy(refTime = java.time.LocalDateTime.of(2026, 4, n, 0, 0))
      })
      p
    }
    val refs = (1 to 3).map { n =>
      val rp = s"$dir/d$n.refs.json"
      java.nio.file.Files.write(java.nio.file.Paths.get(rp),
        Kerchunk.scanGrib(conf, day(n)).getBytes("UTF-8"))
      rp
    }
    val combined = s"$dir/c.json"
    java.nio.file.Files.write(java.nio.file.Paths.get(combined),
      Kerchunk.combine(conf, refs).getBytes("UTF-8"))
    val df = spark.read.format("zarr").load(combined)
    assert(df.count() == 3 * 2 * 20)
    assert(df.rdd.getNumPartitions == 6)
    val want = (1 to 3).flatMap { n =>
      GribReader.readMerged(spark, s"$dir/d$n.grib2")
        .select($"time", $"latitude", $"longitude",
          col(graft.operators.Mover.channelName(
            "heightAboveGround", 2.0, "instant", "2t"))).collect()
    }.sortBy(r => (r.getAs[java.time.LocalDateTime](0)
      .toEpochSecond(java.time.ZoneOffset.UTC), r.getDouble(1), r.getDouble(2)))
    val got = df.orderBy($"time", $"latitude", $"longitude")
      .select($"time", $"latitude", $"longitude", $"2t").collect().toSeq
    assert(got == want)
  }

  test("mixed GRIB1+GRIB2 archive: one variable stays one array") {
    import graft.sources.grib.{Grib1Writer => GW1, GribReader}
    val dir = java.nio.file.Files.createTempDirectory("kcg5").toString
    val path = s"$dir/mixed.grib"
    val t0 = java.time.LocalDateTime.of(2026, 4, 1, 0, 0)
    def v(seed: Int) = (0 until 12).map(i => (seed * 50 + i).toDouble)
    // the reanalysis-archive shape: old epochs in edition 1, new in 2 —
    // 2t = (ECMWF table 128 param 167, level 105/2) = (0/0/0, 103/2)
    val b1a = GW1.message(GW1.FieldSpec(167, 105, 2, t0, v(1), 4, 3,
      50.0, 0.0, 48.0, 3.0))
    val b1b = GW1.message(GW1.FieldSpec(167, 105, 2, t0, v(2), 4, 3,
      50.0, 0.0, 48.0, 3.0, p1 = 6))
    val b2 = graft.sources.grib.Grib2Writer.message(
      graft.sources.grib.Grib2Writer.FieldSpec(0, 0, 0, 103, 2,
        t0, v(3), 4, 3, 50.0, 0.0, 48.0, 3.0, forecastTime = 12))
    java.nio.file.Files.write(java.nio.file.Paths.get(path), b1a ++ b1b ++ b2)
    val refsPath = s"$dir/mixed.refs.json"
    java.nio.file.Files.write(java.nio.file.Paths.get(refsPath),
      Kerchunk.scanGrib(conf, path).getBytes("UTF-8"))
    val df = spark.read.format("zarr").load(refsPath)
    // ONE array spans both editions; the time axis has all three steps
    assert(df.columns.toSet == Set("time", "latitude", "longitude", "2t"))
    assert(df.rdd.getNumPartitions == 3)
    val got = df.orderBy($"time", $"latitude", $"longitude")
      .select($"time", $"latitude", $"longitude", $"2t").collect().toSeq
    val want = GribReader.readLongFormat(spark, path)
      .orderBy($"time", $"latitude", $"longitude")
      .select($"time", $"latitude", $"longitude", $"value").collect().toSeq
    assert(got.size == 36 &&
      got.map(r => (r.get(0), r.get(1), r.get(2), r.get(3))) ==
        want.map(r => (r.get(0), r.get(1), r.get(2), r.get(3))))
  }

  test("projected grib virtualizes as [time, y, x] with synthesized 2-D lat/lon") {
    import graft.sources.grib.GribProjection
    val dir = java.nio.file.Files.createTempDirectory("kcgp").toString
    val path = s"$dir/l.grib2"
    val (niP, njP) = (6, 5)
    def vals(seed: Int) =
      (0 until niP * njP).map(i => ((seed * 13 + i * 3) % 97).toDouble)
    val lcc = GribProjection.LambertConformal(33.0, 45.0, 262.5, 6371229.0)
    def spec(seed: Int, fcst: Int) = GW2.FieldSpec(0, 0, 0, 103, 2,
      java.time.LocalDateTime.of(2026, 4, 1, 0, 0), vals(seed), niP, njP,
      38.0, 262.0, 0, 0, forecastTime = fcst, projection = Some(lcc),
      dxMeters = 3000.0, dyMeters = 3000.0)
    GW2.write(path, Seq(spec(1, 0), spec(2, 6)))
    val refsPath = s"$dir/l.refs.json"
    java.nio.file.Files.write(java.nio.file.Paths.get(refsPath),
      Kerchunk.scanGrib(conf, path).getBytes("UTF-8"))
    val df = spark.read.format("zarr").load(refsPath)
    assert(df.columns.toSet ==
      Set("time", "y", "x", "2t", "latitude", "longitude"))
    assert(df.count() == 2 * niP * njP)
    // y/x axes walk plane meters from the projected first point
    val (x0, y0) = lcc.forward(38.0, 262.0)
    val row0 = df.orderBy($"time", $"y", $"x").head()
    assert(math.abs(row0.getAs[Double]("x") - x0) < 1e-6)
    assert(math.abs(row0.getAs[Double]("y") - y0) < 1e-6)
    // the synthesized lat/lon equal the direct reader's per-point coords
    val got = df.filter($"time" === java.time.LocalDateTime.of(2026, 4, 1, 0, 0))
      .select($"latitude", $"longitude", $"2t")
      .collect().map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2)))
      .sortBy(t => (t._1, t._2)).toSeq
    val want = GribReader.readMerged(spark, path)
      .filter($"time" === java.time.LocalDateTime.of(2026, 4, 1, 0, 0))
      .select($"latitude", $"longitude",
        col(graft.operators.Mover.channelName("heightAboveGround", 2.0,
          "instant", "2t")))
      .collect().map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(got.size == want.size)
    got.zip(want).foreach { case (g, w) =>
      assert(math.abs(g._1 - w._1) < 1e-9 && math.abs(g._2 - w._2) < 1e-9 &&
        g._3 == w._3, s"$g != $w")
    }
    // plane-coordinate predicates prune chunks (1 time chunk of 2)
    val one = df.filter($"time" === java.time.LocalDateTime.of(2026, 4, 1, 6, 0))
    assert(one.rdd.getNumPartitions == 1 && one.count() == niP * njP)

    // combine across daily projected files: aux lat/lon carried once
    val p2 = s"$dir/l2.grib2"
    GW2.write(p2, Seq(GW2.FieldSpec(0, 0, 0, 103, 2,
      java.time.LocalDateTime.of(2026, 4, 2, 0, 0), vals(3), niP, njP,
      38.0, 262.0, 0, 0, projection = Some(lcc),
      dxMeters = 3000.0, dyMeters = 3000.0)))
    val refs2 = s"$dir/l2.refs.json"
    java.nio.file.Files.write(java.nio.file.Paths.get(refs2),
      Kerchunk.scanGrib(conf, p2).getBytes("UTF-8"))
    val combined = s"$dir/lc.refs.json"
    java.nio.file.Files.write(java.nio.file.Paths.get(combined),
      Kerchunk.combine(conf, Seq(refsPath, refs2)).getBytes("UTF-8"))
    val cdf = spark.read.format("zarr").load(combined)
    assert(cdf.count() == 3 * niP * njP)
    assert(cdf.select(countDistinct($"time")).head().getLong(0) == 3)
    // day-2 rows still carry correct synthesized lat/lon
    val d2 = cdf.filter($"time" === java.time.LocalDateTime.of(2026, 4, 2, 0, 0))
      .select($"latitude", $"longitude")
      .collect().map(r => (r.getDouble(0), r.getDouble(1)))
      .sortBy(identity).toSeq
    assert(d2 == got.map(t => (t._1, t._2)).sorted)

    // a same-plane different-projection file fails combine directed
    val p3 = s"$dir/l3.grib2"
    GW2.write(p3, Seq(GW2.FieldSpec(0, 0, 0, 103, 2,
      java.time.LocalDateTime.of(2026, 4, 3, 0, 0), vals(4), niP, njP,
      38.0, 262.0, 0, 0,
      projection = Some(GribProjection.LambertConformal(30.0, 45.0, 262.5,
        6371229.0)),
      dxMeters = 3000.0, dyMeters = 3000.0)))
    val refs3 = s"$dir/l3.refs.json"
    java.nio.file.Files.write(java.nio.file.Paths.get(refs3),
      Kerchunk.scanGrib(conf, p3).getBytes("UTF-8"))
    val e = intercept[Exception] {
      Kerchunk.combine(conf, Seq(refsPath, refs3))
    }
    assert(e.getMessage.contains("attributes differ") ||
      e.getMessage.contains("coordinate"), e.getMessage)
  }

  test("rotated grib virtualizes as [time, rlat, rlon] with synthesized lat/lon") {
    import graft.sources.grib.GribProjection
    val dir = java.nio.file.Files.createTempDirectory("kcgr").toString
    val path = s"$dir/r.grib2"
    val (niR, njR) = (7, 5)
    val rot = GribProjection.RotatedLatLon(-40.0, 10.0)
    def vals(seed: Int) =
      (0 until niR * njR).map(i => ((seed * 17 + i * 5) % 83).toDouble)
    GW2.write(path, Seq(GW2.FieldSpec(0, 0, 0, 103, 2,
      java.time.LocalDateTime.of(2026, 4, 1, 0, 0), vals(1), niR, njR,
      la1 = 10.0, lo1 = -15.0, la2 = -10.0, lo2 = 15.0,
      decimalScale = 0, projection = Some(rot))))
    val refsPath = s"$dir/r.refs.json"
    java.nio.file.Files.write(java.nio.file.Paths.get(refsPath),
      Kerchunk.scanGrib(conf, path).getBytes("UTF-8"))
    val df = spark.read.format("zarr").load(refsPath)
    assert(df.columns.toSet ==
      Set("time", "rlat", "rlon", "2t", "latitude", "longitude"))
    assert(df.count() == niR * njR)
    // rlat axis descends from la1 (scan -j); rlon ascends from lo1
    val r0 = df.orderBy($"rlat".desc, $"rlon").head()
    assert(r0.getAs[Double]("rlat") == 10.0 && r0.getAs[Double]("rlon") == -15.0)
    // synthesized true lat/lon equal the direct reader's unrotated coords
    val got = df.select($"latitude", $"longitude", $"2t")
      .collect().map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2)))
      .sortBy(t => (t._1, t._2)).toSeq
    val want = GribReader.readMerged(spark, path)
      .select($"latitude", $"longitude",
        col(graft.operators.Mover.channelName("heightAboveGround", 2.0,
          "instant", "2t")))
      .collect().map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(got.size == want.size)
    got.zip(want).foreach { case (g, w) =>
      assert(math.abs(g._1 - w._1) < 1e-9 && math.abs(g._2 - w._2) < 1e-9 &&
        g._3 == w._3, s"$g != $w")
    }
    // a rotated-frame predicate prunes like any axis predicate (residual
    // filter correctness over the rotated frame)
    assert(df.filter($"rlat" > 0.0 && $"rlon" < 0.0).count() == 2 * 3)

    // the mover extract pipeline (weather-mv's core path) composes
    // unchanged: area filters and geo_point build from the SYNTHESIZED
    // lat/lon columns of a grid with no lat/lon axes
    val out = graft.operators.Mover.extractRows(df, refsPath,
      graft.operators.Mover.Options(variables = Seq("2t"),
        area = Some(graft.operators.Mover.Area(
          north = 90, west = -180, south = 0, east = 180)),
        importTime = Some("2026-04-02 00:00:00")))
    val expected = want.count(_._1 >= 0.0)
    assert(out.count() == expected && expected > 0)
    assert(out.columns.contains("geo_point"))
  }

  test("grib2 virtualization fails directed off the rectangular model") {
    import graft.sources.grib.GaussianGrid
    val dir = java.nio.file.Files.createTempDirectory("kcg4").toString
    val reduced = s"$dir/r.grib2"
    val gn = 2
    val lats = GaussianGrid.latitudes(gn)
    val pl = Seq(4, 8, 8, 4)
    val vals = pl.zipWithIndex.flatMap { case (c, j) =>
      (0 until c).map(i => 100.0 * j + i) }
    GW2.write(reduced, Seq(GW2.FieldSpec(0, 0, 0, 103, 2,
      java.time.LocalDateTime.of(2026, 4, 1, 0, 0), vals,
      ni = 8, nj = pl.size, la1 = lats.head, lo1 = 0.0,
      la2 = lats.last, lo2 = 315.0, decimalScale = 0,
      gaussianN = gn, reducedPl = Some(pl))))
    val e = intercept[Exception] { Kerchunk.scanGrib(conf, reduced) }
    assert(e.getMessage.contains("reduced"), e.getMessage)
  }

  test("netCDF-4 curvilinear 2-D lat/lon virtualize as auxiliary columns") {
    // the ROMS/WRF ocean-model layout in netCDF-4: dims are grid indices,
    // latitude/longitude are 2-D arrays — they must surface as value
    // columns through the refs store, not vanish from the row model
    val dir = java.nio.file.Files.createTempDirectory("kcnc2").toString
    val nc = s"$dir/c.nc"
    def plane(f: (Int, Int) => Double): Seq[Double] =
      for (y <- 0 until 3; x <- 0 until 4) yield f(y, x)
    HW.write(nc, Seq(
      HW.VarSpec("time", Seq("time"), Seq(2), Seq(0.0, 3600.0),
        units = Some("seconds since 2020-01-01")),
      HW.VarSpec("y", Seq("y"), Seq(3), (0 until 3).map(_.toDouble)),
      HW.VarSpec("x", Seq("x"), Seq(4), (0 until 4).map(_.toDouble)),
      HW.VarSpec("latitude", Seq("y", "x"), Seq(3, 4),
        plane((y, x) => 40.0 + y + 0.1 * x), chunks = Some(Seq(2, 2)),
        deflate = true),
      HW.VarSpec("longitude", Seq("y", "x"), Seq(3, 4),
        plane((y, x) => -100.0 + x + 0.2 * y)),
      HW.VarSpec("sst", Seq("time", "y", "x"), Seq(2, 3, 4),
        (for (t <- 0 until 2; y <- 0 until 3; x <- 0 until 4)
          yield 10.0 * t + y + 0.01 * x),
        chunks = Some(Seq(1, 2, 2)), deflate = true, shuffle = true)))
    val refsPath = s"$dir/c.refs.json"
    java.nio.file.Files.write(java.nio.file.Paths.get(refsPath),
      Kerchunk.scanNetCDF4(conf, nc).getBytes("UTF-8"))
    val df = spark.read.format("zarr").load(refsPath)
    assert(df.columns.toSet ==
      Set("time", "y", "x", "sst", "latitude", "longitude"))
    assert(df.count() == 24)
    val bad = df.where(
      abs($"latitude" - (lit(40.0) + $"y" + $"x" * 0.1)) > 1e-9 or
      abs($"longitude" - (lit(-100.0) + $"x" + $"y" * 0.2)) > 1e-9)
    assert(bad.count() == 0)
    // index-dim pruning composes with aux columns in edge partitions
    val sel = df.where($"y" >= 1 && $"x" >= 2)
    assert(sel.count() == 2 * 2 * 2)
    assert(sel.where(abs($"latitude" - (lit(40.0) + $"y" + $"x" * 0.1)) > 1e-9)
      .count() == 0)

    // combine: a second day on the SAME grid concatenates (aux values are
    // decoded and compared — metadata alone cannot prove value equality
    // when refs point into different files)...
    def day(n: Int, latShift: Double): String = {
      val f = s"$dir/d$n.nc"
      HW.write(f, Seq(
        HW.VarSpec("time", Seq("time"), Seq(2),
          Seq(n * 86400.0, n * 86400.0 + 3600.0),
          units = Some("seconds since 2020-01-01")),
        HW.VarSpec("y", Seq("y"), Seq(3), (0 until 3).map(_.toDouble)),
        HW.VarSpec("x", Seq("x"), Seq(4), (0 until 4).map(_.toDouble)),
        HW.VarSpec("latitude", Seq("y", "x"), Seq(3, 4),
          plane((y, x) => latShift + y + 0.1 * x)),
        HW.VarSpec("longitude", Seq("y", "x"), Seq(3, 4),
          plane((y, x) => -100.0 + x + 0.2 * y)),
        HW.VarSpec("sst", Seq("time", "y", "x"), Seq(2, 3, 4),
          (for (t <- 0 until 2; y <- 0 until 3; x <- 0 until 4)
            yield n * 100.0 + 10.0 * t + y + 0.01 * x))))
      val rp = s"$f.refs.json"
      java.nio.file.Files.write(java.nio.file.Paths.get(rp),
        Kerchunk.scanNetCDF4(conf, f).getBytes("UTF-8"))
      rp
    }
    val good = Seq(day(1, 40.0), day(2, 40.0))
    val cPath = s"$dir/stack.json"
    java.nio.file.Files.write(java.nio.file.Paths.get(cPath),
      Kerchunk.combine(conf, good).getBytes("UTF-8"))
    val cdf = spark.read.format("zarr").load(cPath)
    assert(cdf.count() == 2 * 24)
    assert(cdf.where(
      abs($"latitude" - (lit(40.0) + $"y" + $"x" * 0.1)) > 1e-9).count() == 0)
    // ...but a same-shape file over a DIFFERENT domain fails directed
    // instead of silently serving the first file's coordinates
    val drifted = day(3, 45.0)
    val e = intercept[Exception] {
      Kerchunk.combine(conf, Seq(good.head, drifted))
    }
    assert(e.getMessage.contains("values differ"), e.getMessage)
  }

  test("FormatRegistry sniffs refs .json files as virtual zarr stores") {
    val dir = java.nio.file.Files.createTempDirectory("kcfr").toString
    val nc = fixture(dir)
    val refsPath = s"$dir/t.nc.refs.json"
    java.nio.file.Files.write(java.nio.file.Paths.get(refsPath),
      Kerchunk.scanNetCDF4(conf, nc).getBytes("UTF-8"))
    val df = graft.sources.FormatRegistry.open(spark, refsPath)
    assert(df.columns.toSet == Set("time", "lat", "lon", "t2m", "p"))
    assert(df.count() == 60)
    // an ordinary json file still routes to the JSON source
    val plain = s"$dir/rows.json"
    java.nio.file.Files.write(java.nio.file.Paths.get(plain),
      "{\"a\": 1}\n{\"a\": 2}\n".getBytes("UTF-8"))
    val jdf = graft.sources.FormatRegistry.open(spark, plain)
    assert(jdf.columns.toSeq == Seq("a") && jdf.count() == 2)
    // an EXPLICIT engine option always wins: the refs file inspected as
    // JSON rows when the user asks for the JSON source
    val forced = graft.sources.FormatRegistry.open(spark, refsPath,
      Map("engine" -> "json"))
    assert(forced.columns.contains("refs") || forced.columns.contains("version"))
  }

  test("scanAll writes one refs json per matched file") {
    val dir = java.nio.file.Files.createTempDirectory("kca").toString
    fixture(dir)
    val outs = Kerchunk.scanAll(conf, s"$dir/*.nc")
    assert(outs.size == 1 && outs.head.endsWith("t.nc.refs.json"))
    assert(spark.read.format("zarr").load(outs.head).count() == 60)
  }

  // -------------------------------------------- templates + edge guards

  private def qj(s: String) =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  private def f8b64(vs: Double*): String = {
    val bb = java.nio.ByteBuffer.allocate(vs.size * 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    vs.foreach(bb.putDouble)
    java.util.Base64.getEncoder.encodeToString(bb.array())
  }

  test("templated refs expand {{name}} url substitutions") {
    val dir = java.nio.file.Files.createTempDirectory("kcj").toString
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/data"))
    val xs = java.nio.ByteBuffer.allocate(32)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putDouble(0).putDouble(1).putDouble(2).putDouble(3).array()
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/data/x.bin"), xs)
    val za = """{"zarr_format": 2, "shape": [4], "chunks": [4], "dtype": "<f8", "compressor": null, "filters": null, "fill_value": "NaN", "order": "C"}"""
    // templates may reference each other (published MultiZarrToZarr jsons
    // dedupe directory prefixes this way)
    val refs =
      s"""{"version": 1,
         | "templates": {"u": "$dir/data", "f": "{{ u }}/x"},
         | "refs": {
         |  ".zgroup": ${qj("""{"zarr_format": 2}""")},
         |  "x/.zarray": ${qj(za)},
         |  "x/.zattrs": ${qj("""{"_ARRAY_DIMENSIONS": ["x"]}""")},
         |  "x/0": "base64:${f8b64(0.0, 1.0, 2.0, 3.0)}",
         |  "v/.zarray": ${qj(za)},
         |  "v/.zattrs": ${qj("""{"_ARRAY_DIMENSIONS": ["x"]}""")},
         |  "v/0": ["{{f}}.bin", 0, 32]
         |}}""".stripMargin
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/r.json"),
      refs.getBytes("UTF-8"))
    val got = spark.read.format("zarr").load(s"$dir/r.json")
      .orderBy($"x").select($"v").as[Double].collect().toSeq
    assert(got == Seq(0.0, 1.0, 2.0, 3.0))
    // an undeclared template name is a directed error, not a bad path
    val bad = refs.replace("{{f}}", "{{nope}}")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/bad.json"),
      bad.getBytes("UTF-8"))
    val e1 = intercept[Exception] {
      spark.read.format("zarr").load(s"$dir/bad.json").collect()
    }
    assert(e1.getMessage.contains("not a declared template"), e1.getMessage)
  }

  test("gen refs expand ranges with arithmetic offsets; jinja stays directed") {
    val dir = java.nio.file.Files.createTempDirectory("kcgen").toString
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$dir/data"))
    // 6 doubles; chunks 1..4 of a shape-[4] array live at offsets
    // (i + 1) * 8 — the reference spec's own arithmetic example shape
    val bb = java.nio.ByteBuffer.allocate(48)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    Seq(9.9, 10.0, 11.0, 12.0, 13.0, 9.9).foreach(bb.putDouble)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/data/g.bin"), bb.array())
    val za1 = """{"zarr_format": 2, "shape": [4], "chunks": [1], "dtype": "<f8", "compressor": null, "filters": null, "fill_value": "NaN", "order": "C"}"""
    val refs =
      s"""{"version": 1,
         | "templates": {"u": "$dir/data"},
         | "gen": [{
         |   "key": "w/{{i}}",
         |   "url": "{{u}}/g.bin",
         |   "offset": "{{(i + 1) * 8}}",
         |   "length": "8",
         |   "dimensions": {"i": {"stop": 4}}
         | }],
         | "refs": {
         |  ".zgroup": ${qj("""{"zarr_format": 2}""")},
         |  "x/.zarray": ${qj(za1)},
         |  "x/.zattrs": ${qj("""{"_ARRAY_DIMENSIONS": ["x"]}""")},
         |  "x/0": "base64:${f8b64(0.0)}",
         |  "x/1": "base64:${f8b64(1.0)}",
         |  "x/2": "base64:${f8b64(2.0)}",
         |  "x/3": "base64:${f8b64(3.0)}",
         |  "w/.zarray": ${qj(za1)},
         |  "w/.zattrs": ${qj("""{"_ARRAY_DIMENSIONS": ["x"]}""")}
         |}}""".stripMargin
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/gen.json"),
      refs.getBytes("UTF-8"))
    val got = spark.read.format("zarr").load(s"$dir/gen.json")
      .orderBy($"x").select($"w").as[Double].collect().toSeq
    assert(got == Seq(10.0, 11.0, 12.0, 13.0))
    // an explicit ref SHADOWS a generated key (x/3 worth of w/3 override)
    val shadowed = refs.replace(
      s""""w/.zattrs"""",
      s""""w/3": "base64:${f8b64(99.0)}",
         |  "w/.zattrs"""".stripMargin)
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/shadow.json"),
      shadowed.getBytes("UTF-8"))
    val got2 = spark.read.format("zarr").load(s"$dir/shadow.json")
      .orderBy($"x").select($"w").as[Double].collect().toSeq
    assert(got2 == Seq(10.0, 11.0, 12.0, 99.0))
    // a value-LIST dimension expands too
    val listDim = refs.replace(
      """"dimensions": {"i": {"stop": 4}}""",
      """"dimensions": {"i": [0, 1, 2, 3]}""")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/list.json"),
      listDim.getBytes("UTF-8"))
    val got3 = spark.read.format("zarr").load(s"$dir/list.json")
      .orderBy($"x").select($"w").as[Double].collect().toSeq
    assert(got3 == Seq(10.0, 11.0, 12.0, 13.0))
    // jinja beyond names/arithmetic is still a directed error
    val bad = refs.replace("{{(i + 1) * 8}}", "{{ i | int * 8 }}")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/bad.json"),
      bad.getBytes("UTF-8"))
    val e = intercept[Exception] {
      spark.read.format("zarr").load(s"$dir/bad.json").collect()
    }
    assert(e.getMessage.contains("gen expression"), e.getMessage)
    // ONE oversized dimension is bounded BEFORE any materialization
    val huge = refs.replace(""""dimensions": {"i": {"stop": 4}}""",
      """"dimensions": {"i": {"stop": 10000000000}}""")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/huge.json"),
      huge.getBytes("UTF-8"))
    val e2 = intercept[Exception] {
      spark.read.format("zarr").load(s"$dir/huge.json").collect()
    }
    assert(e2.getMessage.contains("materialization bound"), e2.getMessage)
  }

  /** A one-time-step hand-written refs store; `sep` is the declared v2
    * dimension_separator (chunk keys follow it). */
  private def sepStore(dir: String, name: String, t0: Double,
      v: (Double, Double), sep: String): String = {
    val sepDecl = if (sep == ".") "" else s""", "dimension_separator": "$sep""""
    val zav = s"""{"zarr_format": 2, "shape": [1, 2], "chunks": [1, 2], "dtype": "<f8", "compressor": null, "filters": null, "fill_value": "NaN", "order": "C"$sepDecl}"""
    val zac = """{"zarr_format": 2, "shape": [2], "chunks": [2], "dtype": "<f8", "compressor": null, "filters": null, "fill_value": "NaN", "order": "C"}"""
    val zat = """{"zarr_format": 2, "shape": [1], "chunks": [1], "dtype": "<f8", "compressor": null, "filters": null, "fill_value": "NaN", "order": "C"}"""
    val key = if (sep == "/") "v/0/0" else "v/0.0"
    val refs =
      s"""{"version": 1, "refs": {
         |  ".zgroup": ${qj("""{"zarr_format": 2}""")},
         |  "time/.zarray": ${qj(zat)},
         |  "time/.zattrs": ${qj("""{"_ARRAY_DIMENSIONS": ["time"], "units": "seconds since 1970-01-01"}""")},
         |  "time/0": "base64:${f8b64(t0)}",
         |  "x/.zarray": ${qj(zac)},
         |  "x/.zattrs": ${qj("""{"_ARRAY_DIMENSIONS": ["x"]}""")},
         |  "x/0": "base64:${f8b64(0.0, 1.0)}",
         |  "v/.zarray": ${qj(zav)},
         |  "v/.zattrs": ${qj("""{"_ARRAY_DIMENSIONS": ["time", "x"]}""")},
         |  "$key": "base64:${f8b64(v._1, v._2)}"
         |}}""".stripMargin
    val p = s"$dir/$name.json"
    java.nio.file.Files.write(java.nio.file.Paths.get(p), refs.getBytes("UTF-8"))
    p
  }

  test("combine handles dimension_separator '/' chunk keys, even mixed") {
    val dir = java.nio.file.Files.createTempDirectory("kcsep").toString
    val a = sepStore(dir, "a", 0.0, (1.5, 2.5), "/")
    val b = sepStore(dir, "b", 100.0, (3.5, 4.5), "/")
    val cPath = s"$dir/c.json"
    java.nio.file.Files.write(java.nio.file.Paths.get(cPath),
      Kerchunk.combine(conf, Seq(b, a), concatDim = "time").getBytes("UTF-8"))
    val got = spark.read.format("zarr").load(cPath)
      .orderBy($"time", $"x").select($"v").as[Double].collect().toSeq
    assert(got == Seq(1.5, 2.5, 3.5, 4.5))
    // MIXED separators: a "/" store and a default-"." store combine —
    // the declaration is key layout, not codec metadata, so each store's
    // keys parse under its own separator
    val c = sepStore(dir, "cc", 200.0, (5.5, 6.5), ".")
    val mPath = s"$dir/m.json"
    java.nio.file.Files.write(java.nio.file.Paths.get(mPath),
      Kerchunk.combine(conf, Seq(a, c), concatDim = "time").getBytes("UTF-8"))
    val mixed = spark.read.format("zarr").load(mPath)
      .orderBy($"time", $"x").select($"v").as[Double].collect().toSeq
    assert(mixed == Seq(1.5, 2.5, 5.5, 6.5))
  }

  test("combine rejects an internally unsorted concat axis") {
    val dir = java.nio.file.Files.createTempDirectory("kcun").toString
    // two time steps, DESCENDING — head/last would pass the old
    // overlap check and pruning would silently drop rows
    val zat = """{"zarr_format": 2, "shape": [2], "chunks": [2], "dtype": "<f8", "compressor": null, "filters": null, "fill_value": "NaN", "order": "C"}"""
    val refs =
      s"""{"version": 1, "refs": {
         |  ".zgroup": ${qj("""{"zarr_format": 2}""")},
         |  "time/.zarray": ${qj(zat)},
         |  "time/.zattrs": ${qj("""{"_ARRAY_DIMENSIONS": ["time"], "units": "seconds since 1970-01-01"}""")},
         |  "time/0": "base64:${f8b64(3.0, 1.0)}",
         |  "v/.zarray": ${qj(zat)},
         |  "v/.zattrs": ${qj("""{"_ARRAY_DIMENSIONS": ["time"]}""")},
         |  "v/0": "base64:${f8b64(7.0, 8.0)}"
         |}}""".stripMargin
    val p = s"$dir/u.json"
    java.nio.file.Files.write(java.nio.file.Paths.get(p), refs.getBytes("UTF-8"))
    val e = intercept[IllegalArgumentException] {
      Kerchunk.combine(conf, Seq(p), concatDim = "time")
    }
    assert(e.getMessage.contains("strictly increasing"), e.getMessage)
  }

  test("a chunk extent beyond 2 GiB fails directed at openRefs") {
    val dir = java.nio.file.Files.createTempDirectory("kcbig").toString
    val za = """{"zarr_format": 2, "shape": [4], "chunks": [4], "dtype": "<f8", "compressor": null, "filters": null, "fill_value": "NaN", "order": "C"}"""
    val refs =
      s"""{"version": 1, "refs": {
         |  ".zgroup": ${qj("""{"zarr_format": 2}""")},
         |  "x/.zarray": ${qj(za)},
         |  "x/.zattrs": ${qj("""{"_ARRAY_DIMENSIONS": ["x"]}""")},
         |  "x/0": ["huge.bin", 0, 3000000000]
         |}}""".stripMargin
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/r.json"),
      refs.getBytes("UTF-8"))
    val e = intercept[UnsupportedOperationException] {
      ZarrMeta.openRefs(conf, s"$dir/r.json")
    }
    assert(e.getMessage.contains("2 GiB"), e.getMessage)
  }

  test("tiff virtualization: refs equal the direct read, chunks prune") {
    import graft.sources.tiff.{TiffReader, TiffWriter => TW}
    val dir = java.nio.file.Files.createTempDirectory("kctif").toString
    val tif = s"$dir/r.tif"
    // 12x8, deflate strips of 2 rows -> a 4x1 chunk grid
    TW.write(tif, TW.Spec(12, 8, 1, (0 until 96).map(i => (i * 7 % 53).toDouble),
      pixelScale = (0.5, 0.5), tiepointXY = (10.0, 55.0), epsg = 4326,
      rowsPerStrip = 2, deflate = true))
    val refsPath = s"$dir/r.refs.json"
    java.nio.file.Files.write(java.nio.file.Paths.get(refsPath),
      Kerchunk.scanTiff(conf, tif).getBytes("UTF-8"))
    val viaRefs = spark.read.format("zarr").load(refsPath)
      .select($"latitude", $"longitude", $"band_1")
      .orderBy($"latitude", $"longitude").collect().toSeq
    val direct = TiffReader.readLongFormat(spark, tif)
      .orderBy($"latitude", $"longitude").collect().toSeq
    assert(viaRefs.size == 96 && viaRefs == direct)
    // chunk grid plans partitions; a lat predicate prunes strip chunks
    // even though the latitude axis DESCENDS (north-to-south scan order)
    val df = spark.read.format("zarr").load(refsPath)
    assert(df.rdd.getNumPartitions == 4)
    val top = df.filter($"latitude" > 54.2) // rows 0-1 -> strip 0 only
    assert(top.rdd.getNumPartitions == 1 && top.count() == 24)
    val mid = df.filter($"latitude" >= 53.0 && $"latitude" < 54.5)
    assert(mid.rdd.getNumPartitions == 2 && mid.count() == 36) // rows 1-3
    // unsupported shapes fail directed, naming the gap
    val lzw = s"$dir/l.tif"
    TW.write(lzw, TW.Spec(4, 4, 1, (0 until 16).map(_.toDouble),
      pixelScale = (1, 1), tiepointXY = (0, 4), epsg = 4326,
      rowsPerStrip = 2, lzw = true, bitsPerSample = 16, sampleFormat = 1))
    val e1 = intercept[Exception] { Kerchunk.scanTiff(conf, lzw) }
    assert(e1.getMessage.contains("compression"), e1.getMessage)
    // PROJECTED rasters virtualize over y/x model-unit axes (the
    // HRRR-derived / Web-Mercator COG shape): values match the direct
    // read, axes walk the affine, and y predicates prune strips
    val proj = s"$dir/p.tif"
    TW.write(proj, TW.Spec(4, 4, 1, (0 until 16).map(i => (i * 3 % 11).toDouble),
      pixelScale = (1000, 1000), tiepointXY = (0, 0), epsg = 3857,
      rowsPerStrip = 2, deflate = true))
    val pRefs = s"$dir/p.refs.json"
    java.nio.file.Files.write(java.nio.file.Paths.get(pRefs),
      Kerchunk.scanTiff(conf, proj).getBytes("UTF-8"))
    val pdf = spark.read.format("zarr").load(pRefs)
    assert(pdf.columns.toSeq == Seq("y", "x", "band_1"))
    val prows = pdf.orderBy($"y".desc, $"x").collect().toSeq
    assert(prows.size == 16)
    prows.zipWithIndex.foreach { case (r, k) =>
      val (j, i) = (k / 4, k % 4)
      assert(r.getDouble(0) == -(j + 0.5) * 1000.0, r) // y descends from tiepoint
      assert(r.getDouble(1) == (i + 0.5) * 1000.0, r)
      assert(r.getDouble(2) == (k * 3 % 11).toDouble, r)
    }
    val pTop = pdf.filter($"y" > -2000.0) // rows 0-1 -> strip 0 only
    assert(pTop.rdd.getNumPartitions == 1 && pTop.count() == 8)
    val ragged = s"$dir/g.tif"
    TW.write(ragged, TW.Spec(4, 5, 1, (0 until 20).map(_.toDouble),
      pixelScale = (1, 1), tiepointXY = (0, 5), epsg = 4326,
      rowsPerStrip = 2))
    val e3 = intercept[Exception] { Kerchunk.scanTiff(conf, ragged) }
    assert(e3.getMessage.contains("ragged"), e3.getMessage)
  }

  test("a daily COG stack combines into one virtual time/lat/lon store") {
    import graft.sources.tiff.{TiffWriter => TW}
    val dir = java.nio.file.Files.createTempDirectory("kctfs").toString
    val day0 = java.time.LocalDate.of(2026, 7, 1).toEpochDay * 86400.0
    val refs = (0 until 3).map { day =>
      val tif = s"$dir/d$day.tif"
      TW.write(tif, TW.Spec(6, 4, 1,
        (0 until 24).map(i => day * 100.0 + i),
        pixelScale = (1.0, 1.0), tiepointXY = (0.0, 50.0), epsg = 4326,
        rowsPerStrip = 2, deflate = true))
      val rp = s"$dir/d$day.refs.json"
      java.nio.file.Files.write(java.nio.file.Paths.get(rp),
        Kerchunk.scanTiff(conf, tif, timeEpochSec = day0 + day * 86400.0)
          .getBytes("UTF-8"))
      rp
    }
    val cPath = s"$dir/stack.json"
    java.nio.file.Files.write(java.nio.file.Paths.get(cPath),
      Kerchunk.combine(conf, refs, concatDim = "time").getBytes("UTF-8"))
    val df = spark.read.format("zarr").load(cPath)
    assert(df.count() == 72)
    assert(df.rdd.getNumPartitions == 6) // 3 days x 2 strips
    // one day's predicate prunes to that file's strip chunks
    val d1 = df.filter($"time" === java.time.LocalDateTime.of(2026, 7, 2, 0, 0))
    assert(d1.rdd.getNumPartitions == 2 && d1.count() == 24)
    assert(d1.agg(org.apache.spark.sql.functions.sum($"band_1"))
      .head().getDouble(0) == (0 until 24).map(_ + 100.0).sum)
  }

  test("multi-field GRIB1 projected files scan: NaN minor axis is not a grid mismatch") {
    // the GRIB1 spherical figure carries minorAxis = NaN; Scala case-class
    // equality on a NaN field is FALSE between distinct instances, so the
    // grid-agreement check must not compare projections with ==
    import graft.sources.grib.{Grib1Writer => GW1, GribProjection}
    val dir = java.nio.file.Files.createTempDirectory("kg1p").toString
    val path = s"$dir/m.grib1"
    val t0 = java.time.LocalDateTime.of(2026, 5, 1, 0, 0)
    def field(param: Int, hourOff: Int) = GW1.FieldSpec(
      param, 105, 2, t0.plusHours(hourOff),
      (0 until 50).map(k => 250.0 + k), ni = 10, nj = 5,
      la1 = 10.0, lo1 = -5.0, la2 = 0, lo2 = 0,
      projection = Some(GribProjection.Mercator(20.0, 6367470.0)),
      dxMeters = 25000.0, dyMeters = 25000.0)
    GW1.write(path, Seq(field(167, 0), field(167, 6))) // two messages
    val refs = Kerchunk.scanGrib(conf, path) // must not throw
    val refsPath = s"$dir/m.refs.json"
    java.nio.file.Files.write(java.nio.file.Paths.get(refsPath),
      refs.getBytes("UTF-8"))
    val df = spark.read.format("zarr").load(refsPath)
    assert(df.count() == 100) // 2 times x 5 x 10
  }

  test("scanGrib rejects one message carrying a field at two valid times") {
    val dir = java.nio.file.Files.createTempDirectory("kcmt").toString
    val vals = (0 until 20).map(_.toDouble)
    // splice two single-field messages of the SAME identity at different
    // forecast times into ONE message (s1 + A's s3..s7 + B's s3..s7):
    // multi-PDS messages like this are legal GRIB2 and reference-decodable
    // per field only if identities stay unique within the message
    val mA = GW2.message(gSpec(vals, 0))
    val mB = GW2.message(gSpec(vals.map(_ + 1), 6))
    def u32be(b: Array[Byte], o: Int): Int =
      ((b(o) & 0xff) << 24) | ((b(o + 1) & 0xff) << 16) |
        ((b(o + 2) & 0xff) << 8) | (b(o + 3) & 0xff)
    def sections(m: Array[Byte]): Seq[Array[Byte]] = {
      val out = Seq.newBuilder[Array[Byte]]
      var o = 16
      while (o < m.length - 4) {
        val len = u32be(m, o)
        out += java.util.Arrays.copyOfRange(m, o, o + len)
        o += len
      }
      out.result()
    }
    val bodyA = java.util.Arrays.copyOfRange(mA, 16, mA.length - 4)
    val tailB = sections(mB).filter(_(4) != 1) // drop B's section 1
    val total = 16L + bodyA.length + tailB.map(_.length).sum + 4
    val o = new java.io.ByteArrayOutputStream(total.toInt)
    o.write(mA, 0, 8) // GRIB + reserved + discipline + edition
    (7 to 0 by -1).foreach(i => o.write(((total >> (8 * i)) & 0xff).toInt))
    o.write(bodyA)
    tailB.foreach(o.write)
    o.write('7'); o.write('7'); o.write('7'); o.write('7')
    val path = s"$dir/multi.grib2"
    java.nio.file.Files.write(java.nio.file.Paths.get(path), o.toByteArray)
    // sanity: the spliced message parses as TWO fields of one message
    assert(GribReader.readLongFormat(spark, path).count() == 40)
    val e = intercept[IllegalArgumentException] {
      Kerchunk.scanGrib(conf, path)
    }
    assert(e.getMessage.contains("valid times"), e.getMessage)
  }
}
