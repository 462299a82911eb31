package graft

import org.apache.spark.sql.functions._

import graft.sources.hdf5.{Hdf5, Hdf5Writer => HW}
import graft.sources.netcdf.NetCDF4Reader

/** Golden tests for the pure-JVM HDF5/NetCDF-4 reader: structure parsing
  * (superblock, object headers, symbol tables, chunk B-trees, global heap),
  * filters (deflate/shuffle), netCDF-4 dimension-scale conventions, and the
  * distributed long-format scan. Fixtures come from [[Hdf5Writer]]. */
class Hdf5Spec extends SparkSpec {
  import spark.implicits._

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory("hdf5").toString + s"/$name"

  private val t0 = 1750000000L // epoch seconds

  private def writeWeather(path: String, chunks: Option[Seq[Int]],
      deflate: Boolean = false, shuffle: Boolean = false,
      chunkIndex: String = "btree1", eaIdxBlkElmts: Int = 4,
      eaDataBlkMinElmts: Int = 16, eaSupBlkMinDataPtrs: Int = 4,
      eaMaxDblkPageBits: Int = 10): Unit = {
    val (nt, ny, nx) = (3, 4, 5)
    HW.write(path, Seq(
      HW.VarSpec("time", Seq("time"), Seq(nt),
        (0 until nt).map(t => (t0 + 3600L * t).toDouble), dtype = "f8",
        units = Some("seconds since 1970-01-01")),
      HW.VarSpec("latitude", Seq("latitude"), Seq(ny),
        (0 until ny).map(60.0 - _), dtype = "f8"),
      HW.VarSpec("longitude", Seq("longitude"), Seq(nx),
        (0 until nx).map(10.0 + _), dtype = "f8"),
      HW.VarSpec("t2m", Seq("time", "latitude", "longitude"), Seq(nt, ny, nx),
        (0 until nt * ny * nx).map(k => 250.0 + k * 0.25),
        dtype = "f4", chunks = chunks, deflate = deflate, shuffle = shuffle,
        units = Some("K"), chunkIndex = chunkIndex,
        eaIdxBlkElmts = eaIdxBlkElmts, eaDataBlkMinElmts = eaDataBlkMinElmts,
        eaSupBlkMinDataPtrs = eaSupBlkMinDataPtrs,
        eaMaxDblkPageBits = eaMaxDblkPageBits),
      HW.VarSpec("tp", Seq("time", "latitude", "longitude"), Seq(nt, ny, nx),
        (0 until nt * ny * nx).map(k => if (k % 17 == 0) -999.0 else k * 10.0),
        dtype = "i2", chunks = chunks, deflate = deflate, shuffle = shuffle,
        scaleFactor = Some(0.001), addOffset = Some(5.0),
        fillValue = Some(-999.0), chunkIndex = chunkIndex,
        eaIdxBlkElmts = eaIdxBlkElmts, eaDataBlkMinElmts = eaDataBlkMinElmts,
        eaSupBlkMinDataPtrs = eaSupBlkMinDataPtrs,
        eaMaxDblkPageBits = eaMaxDblkPageBits)))
  }

  private def localRead(path: String): ((Long, Int) => Array[Byte], Long) = {
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    ((off: Long, len: Int) =>
      java.util.Arrays.copyOfRange(bytes, off.toInt, off.toInt + len),
      bytes.length.toLong)
  }

  test("structure parse: datasets, shapes, dtypes, dimension-scale attrs") {
    val p = tmp("flat.nc")
    writeWeather(p, chunks = None)
    val (read, len) = localRead(p)
    val meta = Hdf5.parse(read, len)
    val byPath = meta.byPath
    assert(byPath.keySet == Set("/time", "/latitude", "/longitude", "/t2m", "/tp"))
    val t2m = byPath("/t2m")
    assert(t2m.shape == Seq(3L, 4L, 5L))
    assert(t2m.dtype.clazz == 1 && t2m.dtype.size == 4)
    assert(byPath("/tp").dtype.clazz == 0 && byPath("/tp").dtype.size == 2)
    assert(byPath("/time").attrs.get("CLASS").contains("DIMENSION_SCALE"))
    assert(byPath("/time").attrs.get("units").contains("seconds since 1970-01-01"))
    // DIMENSION_LIST resolves through the global heap to the dim datasets
    val refs = t2m.attrs("DIMENSION_LIST").asInstanceOf[Seq[Long]]
    assert(refs == Seq(byPath("/time").objAddr, byPath("/latitude").objAddr,
      byPath("/longitude").objAddr))
  }

  test("long-format scan: contiguous layout, CDL decode, epoch time") {
    val p = tmp("flat.nc")
    writeWeather(p, chunks = None)
    val df = NetCDF4Reader.readLongFormat(spark, p)
    assert(df.columns.toSeq == Seq("time", "latitude", "longitude", "t2m", "tp"))
    assert(df.count() == 3 * 4 * 5)
    val r = df.filter($"latitude" === 59.0 && $"longitude" === 12.0)
      .orderBy($"time").collect()
    assert(r.length == 3)
    // t2m value at (t=0, y=1, x=2): k = 0*20 + 1*5 + 2 = 7 -> 251.75
    assert(math.abs(r(0).getAs[Double]("t2m") - 251.75) < 1e-6)
    // time decodes as TimestampNTZ from epoch units
    assert(r(0).getAs[java.time.LocalDateTime]("time") ==
      java.time.LocalDateTime.ofEpochSecond(t0, 0, java.time.ZoneOffset.UTC))
    // tp: k=7 -> 70 * 0.001 + 5.0 = 5.07; k=17 -> fill -> null
    assert(math.abs(r(0).getAs[Double]("tp") - 5.07) < 1e-9)
    val fills = df.filter($"tp".isNull).count()
    assert(fills == (0 until 60).count(_ % 17 == 0))
  }

  test("time coordinates round to the microsecond") {
    val p = tmp("ms.nc")
    HW.write(p, Seq(
      HW.VarSpec("time", Seq("time"), Seq(2),
        Seq(1700000000001.0, 1700000000300.0), dtype = "f8",
        units = Some("milliseconds since 1970-01-01")),
      HW.VarSpec("v", Seq("time"), Seq(2), Seq(1.0, 2.0), dtype = "f8")))
    val times = NetCDF4Reader.readLongFormat(spark, p).orderBy($"time")
      .select(date_format($"time", "HH:mm:ss.SSSSSS")).as[String].collect()
    // truncation read the doubles' representation error: .000999, .299999
    assert(times.toSeq == Seq("22:13:20.001000", "22:13:20.300000"))
  }

  test("chunked + deflate + shuffle: same values, one task unit per chunk") {
    val flat = tmp("flat.nc")
    writeWeather(flat, chunks = None)
    val packed = tmp("packed.nc")
    // 2x3x2 chunks over (3,4,5): edge chunks exercise the padding clip
    writeWeather(packed, chunks = Some(Seq(2, 3, 2)), deflate = true, shuffle = true)
    val a = NetCDF4Reader.readLongFormat(spark, flat)
      .orderBy($"time", $"latitude", $"longitude").collect()
    val b = NetCDF4Reader.readLongFormat(spark, packed)
      .orderBy($"time", $"latitude", $"longitude").collect()
    assert(a.sameElements(b), "chunked+filtered values diverge from contiguous")
    // the chunk B-tree really fans out: ceil(3/2)*ceil(4/3)*ceil(5/2) = 12
    val (read, len) = localRead(packed)
    val meta = Hdf5.parse(read, len)
    assert(Hdf5.chunkRefs(read, meta.byPath("/t2m")).size == 12)
  }

  test("mixed per-variable chunk grids read correctly (no repack requirement)") {
    // netCDF-C accepts any per-variable chunking; t2m on a 2x3x2 grid and
    // tp on 3x2x5 (plus a contiguous sibling via the flat file as the
    // expected values) must read identically to the contiguous layout —
    // non-head vars resolve cells through their OWN chunk maps
    val flat = tmp("flat.nc")
    writeWeather(flat, chunks = None)
    val expected = NetCDF4Reader.readLongFormat(spark, flat)
      .orderBy($"time", $"latitude", $"longitude").collect()
    val mixed = tmp("mixed.nc")
    val (nt, ny, nx) = (3, 4, 5)
    HW.write(mixed, Seq(
      HW.VarSpec("time", Seq("time"), Seq(nt),
        (0 until nt).map(t => (t0 + 3600L * t).toDouble), dtype = "f8",
        units = Some("seconds since 1970-01-01")),
      HW.VarSpec("latitude", Seq("latitude"), Seq(ny),
        (0 until ny).map(60.0 - _), dtype = "f8"),
      HW.VarSpec("longitude", Seq("longitude"), Seq(nx),
        (0 until nx).map(10.0 + _), dtype = "f8"),
      HW.VarSpec("t2m", Seq("time", "latitude", "longitude"), Seq(nt, ny, nx),
        (0 until nt * ny * nx).map(k => 250.0 + k * 0.25),
        dtype = "f4", chunks = Some(Seq(2, 3, 2)), deflate = true,
        shuffle = true, units = Some("K")),
      HW.VarSpec("tp", Seq("time", "latitude", "longitude"), Seq(nt, ny, nx),
        (0 until nt * ny * nx).map(k => if (k % 17 == 0) -999.0 else k * 10.0),
        dtype = "i2", chunks = Some(Seq(3, 2, 5)), deflate = true,
        scaleFactor = Some(0.001), addOffset = Some(5.0),
        fillValue = Some(-999.0))))
    val got = NetCDF4Reader.readLongFormat(spark, mixed)
      .orderBy($"time", $"latitude", $"longitude").collect()
    assert(got.sameElements(expected),
      "mixed-chunk-grid values diverge from contiguous")
  }

  test("curvilinear 2-D lat/lon (auxiliary coordinates) surface as columns") {
    // the ROMS/WRF netCDF-4 layout: dims [time, y, x] are indices,
    // latitude/longitude are 2-D arrays over [y, x]; the direct reader
    // must surface them as value columns (chunked AND contiguous paths),
    // indexed by each row's (y, x)
    val nc = tmp("curv.nc")
    val (nt, ny, nx) = (2, 3, 4)
    def plane(f: (Int, Int) => Double): Seq[Double] =
      for (y <- 0 until ny; x <- 0 until nx) yield f(y, x)
    HW.write(nc, Seq(
      HW.VarSpec("time", Seq("time"), Seq(nt),
        (0 until nt).map(t => (t0 + 3600L * t).toDouble), dtype = "f8",
        units = Some("seconds since 1970-01-01")),
      HW.VarSpec("y", Seq("y"), Seq(ny), (0 until ny).map(_.toDouble)),
      HW.VarSpec("x", Seq("x"), Seq(nx), (0 until nx).map(_.toDouble)),
      HW.VarSpec("latitude", Seq("y", "x"), Seq(ny, nx),
        plane((y, x) => 40.0 + y + 0.1 * x),
        chunks = Some(Seq(2, 2)), deflate = true),
      HW.VarSpec("longitude", Seq("y", "x"), Seq(ny, nx),
        plane((y, x) => -100.0 + x + 0.2 * y)),
      HW.VarSpec("sst", Seq("time", "y", "x"), Seq(nt, ny, nx),
        (for (t <- 0 until nt; y <- 0 until ny; x <- 0 until nx)
          yield 10.0 * t + y + 0.01 * x),
        chunks = Some(Seq(1, 2, 2)), deflate = true, shuffle = true)))
    val df = NetCDF4Reader.readLongFormat(spark, nc)
    assert(df.columns.toSeq ==
      Seq("time", "y", "x", "sst", "latitude", "longitude"))
    assert(df.count() == nt * ny * nx)
    val bad = df.where(
      abs($"latitude" - (lit(40.0) + $"y" + $"x" * 0.1)) > 1e-6 or
      abs($"longitude" - (lit(-100.0) + $"x" + $"y" * 0.2)) > 1e-6)
    assert(bad.count() == 0)
  }

  test("vlen-sequence (class 9 type 0, netCDF-4 VLEN) variables read as array columns") {
    val p = tmp("vlen.nc")
    val n = 4
    val ragged = Seq(Seq(1.5, 2.5), Seq.empty[Double], Seq(7.0), Seq(3.0, 4.0, 5.0))
    HW.write(p, Seq(
      HW.VarSpec("station", Seq("station"), Seq(n),
        (0 until n).map(_.toDouble), dtype = "f8"),
      HW.VarSpec("obs", Seq("station"), Seq(n), Nil, dtype = "vld",
        vdata = ragged),
      HW.VarSpec("cnt", Seq("station"), Seq(n),
        ragged.map(_.size.toDouble), dtype = "f8")))
    val df = NetCDF4Reader.readLongFormat(spark, p)
    assert(df.schema("obs").dataType.typeName == "array")
    val rows = df.orderBy($"station").collect()
    assert(rows.map(r => r.getSeq[Double](r.fieldIndex("obs")).toSeq).toSeq == ragged)
    assert(rows.map(_.getAs[Double]("cnt")).toSeq == ragged.map(_.size.toDouble))
    // the structure parse keeps the vlen base type
    val (read, len) = localRead(p)
    val obs = Hdf5.parse(read, len).byPath("/obs")
    assert(obs.dtype.isVlenSeq && obs.dtype.base.exists(_.clazz == 1))
  }

  test("opaque (class 5) variables read as BinaryType columns") {
    val p = tmp("opaque.nc")
    val n = 3
    val blobs = Seq(
      Array[Byte](1, 2, 3, 4),
      Array[Byte](-1, 0, 127, -128),
      Array[Byte](9, 9, 9, 9))
    HW.write(p, Seq(
      HW.VarSpec("station", Seq("station"), Seq(n),
        (0 until n).map(_.toDouble), dtype = "f8"),
      HW.VarSpec("thumb", Seq("station"), Seq(n), Nil, dtype = "o4",
        bdata = blobs)))
    val df = NetCDF4Reader.readLongFormat(spark, p)
    assert(df.schema("thumb").dataType.typeName == "binary")
    val rows = df.orderBy($"station").collect()
    rows.zip(blobs).foreach { case (r, b) =>
      assert(r.getAs[Array[Byte]]("thumb").toSeq == b.toSeq)
    }
    val (read, len) = localRead(p)
    assert(Hdf5.parse(read, len).byPath("/thumb").dtype.isOpaque)
  }

  test("array datatype (class 10) variables read as fixed-length array columns") {
    val p = tmp("arrdt.nc")
    val n = 3
    val cells = Seq(Seq(1.0, 2.0, 3.0), Seq(4.5, 5.5, 6.5), Seq(-1.0, 0.0, 1.0))
    HW.write(p, Seq(
      HW.VarSpec("station", Seq("station"), Seq(n),
        (0 until n).map(_.toDouble), dtype = "f8"),
      HW.VarSpec("vec", Seq("station"), Seq(n), Nil, dtype = "a3",
        vdata = cells)))
    val df = NetCDF4Reader.readLongFormat(spark, p)
    assert(df.schema("vec").dataType.typeName == "array")
    val rows = df.orderBy($"station").collect()
    assert(rows.map(r => r.getSeq[Double](r.fieldIndex("vec")).toSeq).toSeq == cells)
    val (read, len) = localRead(p)
    val dt = Hdf5.parse(read, len).byPath("/vec").dtype
    assert(dt.isFixedArray && dt.arrayDims == Seq(3) && dt.base.exists(_.clazz == 1))
  }

  test("randomized per-variable chunk grids read identically to contiguous (fixed seed)") {
    // deterministic fuzz over the newest reader path: two vars with
    // INDEPENDENT random chunk grids (or contiguous) must always read
    // identically to the all-contiguous layout — exercises the head-grid
    // planning, the own-grid LRU cache, and edge-chunk clipping
    val rnd = new scala.util.Random(97L)
    val (nt, ny, nx) = (3, 4, 5)
    def vars(c1: Option[Seq[Int]], c2: Option[Seq[Int]]) = Seq(
      HW.VarSpec("time", Seq("time"), Seq(nt),
        (0 until nt).map(t => (t0 + 3600L * t).toDouble), dtype = "f8",
        units = Some("seconds since 1970-01-01")),
      HW.VarSpec("latitude", Seq("latitude"), Seq(ny),
        (0 until ny).map(60.0 - _), dtype = "f8"),
      HW.VarSpec("longitude", Seq("longitude"), Seq(nx),
        (0 until nx).map(10.0 + _), dtype = "f8"),
      HW.VarSpec("a", Seq("time", "latitude", "longitude"), Seq(nt, ny, nx),
        (0 until nt * ny * nx).map(k => k * 1.5 - 7), dtype = "f8",
        chunks = c1, deflate = c1.isDefined),
      HW.VarSpec("b", Seq("time", "latitude", "longitude"), Seq(nt, ny, nx),
        (0 until nt * ny * nx).map(k => (k * 13 % 97).toDouble), dtype = "f8",
        chunks = c2))
    val flat = tmp("fuzzflat.nc")
    HW.write(flat, vars(None, None))
    val expected = NetCDF4Reader.readLongFormat(spark, flat)
      .orderBy($"time", $"latitude", $"longitude").collect()
    def randChunks(): Option[Seq[Int]] =
      if (rnd.nextInt(4) == 0) None
      else Some(Seq(1 + rnd.nextInt(nt), 1 + rnd.nextInt(ny), 1 + rnd.nextInt(nx)))
    for (trial <- 0 until 6) {
      val (c1, c2) = (randChunks(), randChunks())
      val p = tmp(s"fuzz$trial.nc")
      HW.write(p, vars(c1, c2))
      val got = NetCDF4Reader.readLongFormat(spark, p)
        .orderBy($"time", $"latitude", $"longitude").collect()
      assert(got.sameElements(expected), s"trial $trial: c1=$c1 c2=$c2 diverged")
    }
  }

  test("v4 fixed-array chunk index (HDF5 >= 1.10) reads identically to the v1 B-tree") {
    val bt = tmp("bt.nc")
    writeWeather(bt, chunks = Some(Seq(2, 3, 2)))
    // plain fixed array (client id 0: address-only entries)
    val fa = tmp("fa.nc")
    writeWeather(fa, chunks = Some(Seq(2, 3, 2)), chunkIndex = "fixedarray")
    // filtered fixed array (client id 1: address + stored size + mask)
    val faf = tmp("faf.nc")
    writeWeather(faf, chunks = Some(Seq(2, 3, 2)), deflate = true,
      shuffle = true, chunkIndex = "fixedarray")
    // paged data block: 12 chunks at 4 entries/page = 3 pages (the layout
    // libhdf5 writes past 1024 chunks; small page here to exercise it)
    val fap = tmp("fap.nc")
    HW.write(fap, Seq(
      HW.VarSpec("time", Seq("time"), Seq(3),
        (0 until 3).map(t => (t0 + 3600L * t).toDouble), dtype = "f8",
        units = Some("seconds since 1970-01-01")),
      HW.VarSpec("latitude", Seq("latitude"), Seq(4), (0 until 4).map(60.0 - _)),
      HW.VarSpec("longitude", Seq("longitude"), Seq(5), (0 until 5).map(10.0 + _)),
      HW.VarSpec("t2m", Seq("time", "latitude", "longitude"), Seq(3, 4, 5),
        (0 until 60).map(k => 250.0 + k * 0.25), dtype = "f4",
        chunks = Some(Seq(2, 3, 2)), deflate = true, shuffle = true,
        units = Some("K"), chunkIndex = "fixedarray", faPageBits = 2),
      HW.VarSpec("tp", Seq("time", "latitude", "longitude"), Seq(3, 4, 5),
        (0 until 60).map(k => if (k % 17 == 0) -999.0 else k * 10.0),
        dtype = "i2", chunks = Some(Seq(2, 3, 2)), deflate = true, shuffle = true,
        scaleFactor = Some(0.001), addOffset = Some(5.0),
        fillValue = Some(-999.0), chunkIndex = "fixedarray", faPageBits = 2)))
    // v2 B-tree chunk index, unfiltered and filtered
    val b2 = tmp("b2.nc")
    writeWeather(b2, chunks = Some(Seq(2, 3, 2)), chunkIndex = "btree2")
    val b2f = tmp("b2f.nc")
    writeWeather(b2f, chunks = Some(Seq(2, 3, 2)), deflate = true,
      shuffle = true, chunkIndex = "btree2")
    // extensible array (the one-unlimited-dimension / time-appending
    // shape): tiny creation params so the 12 chunks spread across ALL
    // THREE storage tiers — 2 inline index-block elements, 2 direct data
    // blocks (super blocks 0-1), and real EASB super blocks beyond
    val ea = tmp("ea.nc")
    writeWeather(ea, chunks = Some(Seq(2, 3, 2)), chunkIndex = "extensible",
      eaIdxBlkElmts = 2, eaDataBlkMinElmts = 2, eaSupBlkMinDataPtrs = 2)
    val eaf = tmp("eaf.nc")
    writeWeather(eaf, chunks = Some(Seq(2, 3, 2)), deflate = true,
      shuffle = true, chunkIndex = "extensible",
      eaIdxBlkElmts = 2, eaDataBlkMinElmts = 2, eaSupBlkMinDataPtrs = 2)
    // libhdf5-default params: everything fits inline + direct data blocks
    val ead = tmp("ead.nc")
    writeWeather(ead, chunks = Some(Seq(2, 3, 2)), chunkIndex = "extensible")
    // paged EA data blocks: 2-element pages force the super-block data
    // blocks (4+ elements) through the page bitmap + page-chain layout
    val eap = tmp("eap.nc")
    writeWeather(eap, chunks = Some(Seq(2, 3, 2)), deflate = true,
      shuffle = true, chunkIndex = "extensible", eaIdxBlkElmts = 2,
      eaDataBlkMinElmts = 2, eaSupBlkMinDataPtrs = 2, eaMaxDblkPageBits = 1)
    val a = NetCDF4Reader.readLongFormat(spark, bt)
      .orderBy($"time", $"latitude", $"longitude").collect()
    for (p <- Seq(fa, faf, fap, b2, b2f, ea, eaf, ead, eap)) {
      val b = NetCDF4Reader.readLongFormat(spark, p)
        .orderBy($"time", $"latitude", $"longitude").collect()
      assert(a.sameElements(b), s"fixed-array values diverge from v1 B-tree ($p)")
      // the index enumerates the full grid: ceil(3/2)*ceil(4/3)*ceil(5/2) = 12
      val (read, len) = localRead(p)
      val meta = Hdf5.parse(read, len)
      val refs = Hdf5.chunkRefs(read, meta.byPath("/t2m"))
      assert(refs.size == 12)
      assert(refs.map(_.offsets).distinct.size == 12, "C-order offsets must be unique")
    }
  }

  test("phony dims (no coordinate variable) fall back to indices") {
    val p = tmp("phony.nc")
    HW.write(p, Seq(
      HW.VarSpec("v", Seq("d0", "d1"), Seq(2, 3),
        Seq(1.0, 2.0, 3.0, 4.0, 5.0, 6.0), dtype = "f8")))
    val df = NetCDF4Reader.readLongFormat(spark, p)
    assert(df.count() == 6)
    assert(df.columns.toSeq == Seq("d0", "d1", "v"))
    // synthesized dimension scales read back as zeros (index placeholders)
    assert(df.select(sum($"v")).head().getDouble(0) == 21.0)
  }

  test("dense (fractal-heap) root group: the >8-link layout netCDF-4 writes") {
    val p = tmp("dense.nc")
    // 12 data vars + 1 dim = 13 links, past HDF5's compact limit of 8
    val n = 6
    HW.write(p,
      HW.VarSpec("x", Seq("x"), Seq(n), (0 until n).map(_.toDouble), dtype = "f8") +:
        (0 until 12).map(k => HW.VarSpec(f"v$k%02d", Seq("x"), Seq(n),
          (0 until n).map(i => k * 100.0 + i), dtype = "f8")),
      denseRoot = true)
    val (read, len) = localRead(p)
    val meta = Hdf5.parse(read, len)
    assert(meta.datasets.size == 13, s"got ${meta.datasets.map(_.path)}")
    val df = NetCDF4Reader.readLongFormat(spark, p)
    assert(df.columns.length == 13 && df.count() == n)
    assert(df.filter($"x" === 3.0).head().getAs[Double]("v07") == 703.0)
  }

  test("dense attributes (>8 per object) resolve through the fractal heap") {
    val p = tmp("denseattrs.nc")
    val n = 4
    HW.write(p, Seq(
      HW.VarSpec("x", Seq("x"), Seq(n), (0 until n).map(_.toDouble), dtype = "f8"),
      HW.VarSpec("v", Seq("x"), Seq(n), (0 until n).map(i => i * 2.0), dtype = "f8",
        units = Some("K"), scaleFactor = Some(2.0), addOffset = Some(1.0),
        denseAttrs = true,
        extraAttrs = Seq("long_name" -> "test variable", "standard_name" -> "v",
          "cell_methods" -> "time: mean", "grid_mapping" -> "crs",
          "coordinates" -> "x", "comment" -> "dense attr fixture"))))
    val (read, len) = localRead(p)
    val v = Hdf5.parse(read, len).byPath("/v")
    assert(v.attrs.get("units").contains("K"))
    assert(v.attrs.get("long_name").contains("test variable"))
    assert(v.attrs.get("scale_factor").contains(2.0))
    assert(v.attrs.contains("DIMENSION_LIST"))
    assert(v.attrs.size >= 9, s"only ${v.attrs.keySet}")
    // CDL decode still applies through the densely-stored attrs
    val df = NetCDF4Reader.readLongFormat(spark, p)
    assert(df.filter($"x" === 3.0).head().getAs[Double]("v") == 13.0) // 6*2+1
  }

  test("szip filter (id 4, CCSDS/Rice coding) round-trips chunked integers") {
    val p = tmp("szip.nc")
    val (nt, ny, nx) = (3, 8, 10)
    HW.write(p, Seq(
      HW.VarSpec("time", Seq("time"), Seq(nt),
        (0 until nt).map(t => (t0 + 3600L * t).toDouble), dtype = "f8"),
      HW.VarSpec("y", Seq("y"), Seq(ny), (0 until ny).map(_.toDouble), dtype = "f8"),
      HW.VarSpec("x", Seq("x"), Seq(nx), (0 until nx).map(_.toDouble), dtype = "f8"),
      HW.VarSpec("tp", Seq("time", "y", "x"), Seq(nt, ny, nx),
        (0 until nt * ny * nx).map(k => (k % 900).toDouble),
        dtype = "i2", chunks = Some(Seq(2, 4, 5)), szip = true,
        scaleFactor = Some(0.001)),
      HW.VarSpec("cnt", Seq("time", "y", "x"), Seq(nt, ny, nx),
        (0 until nt * ny * nx).map(k => (k * 7 % 100000).toDouble),
        dtype = "i4", chunks = Some(Seq(2, 4, 5)), szip = true)))
    val (read, len) = localRead(p)
    val meta = Hdf5.parse(read, len)
    assert(meta.byPath("/tp").filters.exists(_.id == 4), "szip filter recorded")
    val df = NetCDF4Reader.readLongFormat(spark, p)
    assert(df.count() == nt * ny * nx)
    // k = t*80 + yy*10 + xx; spot-check mid-grid values through the filter
    val r = df.filter($"y" === 3.0 && $"x" === 7.0)
      .orderBy($"time").select($"tp", $"cnt").collect()
    assert(r.length == nt)
    (0 until nt).foreach { t =>
      val k = t * 80 + 37
      assert(math.abs(r(t).getDouble(0) - (k % 900) * 0.001) < 1e-9, s"tp at t=$t")
      assert(r(t).getDouble(1) == (k * 7 % 100000).toDouble, s"cnt at t=$t")
    }
  }

  test("nbit filter (id 5) round-trips reduced-precision ints, offset and edge chunks") {
    val p = tmp("nbit.nc")
    val (nt, ny, nx) = (3, 4, 5)
    // 10-bit signed values (negative included) at bit offset 3 in i4, plus
    // a 7-bit i2 variable; 2x3x2 chunks exercise zero-padded edge chunks
    HW.write(p, Seq(
      HW.VarSpec("time", Seq("time"), Seq(nt),
        (0 until nt).map(t => (t0 + 3600L * t).toDouble), dtype = "f8"),
      HW.VarSpec("y", Seq("y"), Seq(ny), (0 until ny).map(_.toDouble), dtype = "f8"),
      HW.VarSpec("x", Seq("x"), Seq(nx), (0 until nx).map(_.toDouble), dtype = "f8"),
      HW.VarSpec("a", Seq("time", "y", "x"), Seq(nt, ny, nx),
        (0 until nt * ny * nx).map(k => (k * 13 % 1000 - 500).toDouble),
        dtype = "i4", chunks = Some(Seq(2, 3, 2)), nbit = Some((10, 3))),
      HW.VarSpec("b", Seq("time", "y", "x"), Seq(nt, ny, nx),
        (0 until nt * ny * nx).map(k => (k % 120 - 60).toDouble),
        dtype = "i2", chunks = Some(Seq(2, 3, 2)), nbit = Some((7, 0)))))
    val (read, len) = localRead(p)
    val meta = Hdf5.parse(read, len)
    val fa = meta.byPath("/a").filters
    assert(fa.exists(f => f.id == 5 && f.clientValues(6) == 10 &&
      f.clientValues(7) == 3), s"nbit parms recorded: $fa")
    // the chunk really shrank: 12 elems * 10 bits = 15 bytes, not 48
    assert(Hdf5.chunkRefs(read, meta.byPath("/a")).forall(_.nBytes == 15))
    val df = NetCDF4Reader.readLongFormat(spark, p)
    assert(df.count() == nt * ny * nx)
    val r = df.filter($"y" === 2.0 && $"x" === 3.0)
      .orderBy($"time").select($"a", $"b").collect()
    (0 until nt).foreach { t =>
      val k = t * 20 + 2 * 5 + 3
      assert(r(t).getDouble(0) == (k * 13 % 1000 - 500).toDouble, s"a at t=$t")
      assert(r(t).getDouble(1) == (k % 120 - 60).toDouble, s"b at t=$t")
    }
  }

  test("scaleoffset filter (id 6) round-trips ints with fill and float D-scaling") {
    val p = tmp("so.nc")
    val (nt, ny, nx) = (3, 4, 5)
    HW.write(p, Seq(
      HW.VarSpec("time", Seq("time"), Seq(nt),
        (0 until nt).map(t => (t0 + 3600L * t).toDouble), dtype = "f8"),
      HW.VarSpec("y", Seq("y"), Seq(ny), (0 until ny).map(_.toDouble), dtype = "f8"),
      HW.VarSpec("x", Seq("x"), Seq(nx), (0 until nx).map(_.toDouble), dtype = "f8"),
      // int auto-minbits with a fill value: fill encodes as the all-ones
      // sentinel, data as offsets from the chunk min (negatives included)
      HW.VarSpec("n", Seq("time", "y", "x"), Seq(nt, ny, nx),
        (0 until nt * ny * nx).map(k =>
          if (k % 11 == 0) -999.0 else (k * 37 % 5000 - 2500).toDouble),
        dtype = "i4", chunks = Some(Seq(2, 3, 2)), scaleoffset = true,
        fillValue = Some(-999.0)),
      // float D-scaling (2 decimal digits) + deflate stacked after it
      HW.VarSpec("t2m", Seq("time", "y", "x"), Seq(nt, ny, nx),
        (0 until nt * ny * nx).map(k => 250.0 + (k % 400) * 0.25),
        dtype = "f8", chunks = Some(Seq(2, 3, 2)), scaleoffsetD = Some(2),
        deflate = true),
      // constant chunks: minbits 0, header-only storage
      HW.VarSpec("c", Seq("time", "y", "x"), Seq(nt, ny, nx),
        Seq.fill(nt * ny * nx)(42.0), dtype = "i2", chunks = Some(Seq(2, 3, 2)),
        scaleoffset = true)))
    val (read, len) = localRead(p)
    val meta = Hdf5.parse(read, len)
    assert(meta.byPath("/n").filters.exists(f => f.id == 6 && f.clientValues(0) == 2))
    assert(meta.byPath("/t2m").filters.map(_.id) == Seq(6, 1),
      "D-scale before deflate in the pipeline")
    // interior constant chunks (edge chunks carry zero padding, so only
    // full chunks are single-valued) store just the 21-byte header
    val cRefs = Hdf5.chunkRefs(read, meta.byPath("/c"))
    assert(cRefs.filter(r => r.offsets == Seq(0L, 0L, 0L)).forall(_.nBytes == 21))
    assert(cRefs.forall(_.nBytes >= 21))
    val df = NetCDF4Reader.readLongFormat(spark, p)
    assert(df.count() == nt * ny * nx)
    val r = df.filter($"y" === 2.0 && $"x" === 3.0)
      .orderBy($"time").select($"n", $"t2m", $"c").collect()
    (0 until nt).foreach { t =>
      val k = t * 20 + 2 * 5 + 3
      val expectedN: Any =
        if (k % 11 == 0) null else (k * 37 % 5000 - 2500).toDouble
      assert(r(t).get(0) == expectedN, s"n at t=$t")
      // D=2 digits preserve .25 steps exactly: round(x*100)/100
      assert(math.abs(r(t).getDouble(1) - (250.0 + (k % 400) * 0.25)) < 1e-9,
        s"t2m at t=$t")
      assert(r(t).getDouble(2) == 42.0, s"c at t=$t")
    }
    // fill density survives the sentinel round-trip
    assert(df.filter($"n".isNull).count() == (0 until 60).count(_ % 11 == 0))
  }

  test("scaleoffset full-width fallback decodes verbatim (minbits == elem bits)") {
    // hand-built chunk: the H5Z layout when the span is too wide to pack —
    // minbits = 32, values stored verbatim LE from byte 21
    val vals = Seq(Int.MinValue, -7, 0, 42, Int.MaxValue)
    val chunk = new Array[Byte](21 + vals.size * 4)
    chunk(0) = 32; chunk(4) = 8 // minbits u32 LE; minval width (minval 0)
    vals.zipWithIndex.foreach { case (v, i) =>
      (0 until 4).foreach(j => chunk(21 + i * 4 + j) = ((v >> (8 * j)) & 0xff).toByte)
    }
    val f = Hdf5.Filter(6, Seq(2, 0, vals.size, 0, 4, 1, 0, 0) ++ Seq.fill(12)(0))
    val out = Hdf5.defilter(chunk, Seq(f), 0, 4, vals.size * 4)
    val decoded = Hdf5.decodeValues(out, Hdf5.Dtype(0, 4, littleEndian = true,
      signed = true), vals.size)
    assert(decoded.toSeq == vals.map(_.toDouble))
  }

  test("huge fractal-heap objects (> max-managed links) resolve via the huge B-tree") {
    // a link message whose name exceeds the heap's max managed object size
    // (1024) is stored as a HUGE object: bytes outside the heap, keyed by
    // the huge-object v2 B-tree (type 1 records; type 2 + whole-object
    // deflate when the heap is filtered) — the layout HDF5 produces for
    // programmatically-generated giant names
    val longA = "a" * 1500
    val longB = "b" * 2000
    for (filtered <- Seq(false, true)) {
      val p = tmp(s"huge$filtered.nc")
      HW.write(p, Seq(
        HW.VarSpec("x", Seq("x"), Seq(3), (0 until 3).map(_.toDouble),
          dtype = "f8"),
        HW.VarSpec(longA, Seq("x"), Seq(3), Seq(1.0, 2.0, 3.0), dtype = "f8"),
        HW.VarSpec(longB, Seq("x"), Seq(3), Seq(4.0, 5.0, 6.0), dtype = "f8"),
        HW.VarSpec("small", Seq("x"), Seq(3), Seq(7.0, 8.0, 9.0),
          dtype = "f8")),
        denseRoot = true, denseFiltered = filtered)
      val df = NetCDF4Reader.readLongFormat(spark, p)
      assert(df.columns.toSet == Set("x", longA, longB, "small"),
        s"filtered=$filtered: ${df.columns.map(_.take(8)).mkString(",")}")
      assert(df.count() == 3)
      assert(df.agg(sum(col(longB))).head().getDouble(0) == 15.0,
        s"filtered=$filtered")
      assert(df.orderBy($"x").select(col(longA)).collect()
        .map(_.getDouble(0)).toSeq == Seq(1.0, 2.0, 3.0))
    }
  }

  test("tiny fractal-heap ids decode the object from the id bytes themselves") {
    // no real link/attribute message fits the 6-byte id payload, so the
    // tiny path is exercised at the byte level: a dense file's name-index
    // record is re-pointed at a crafted tiny id and must yield its
    // embedded bytes (spec III.G normal sub-case: low flag nibble =
    // length - 1, data follows the flag byte)
    val rec = Array[Byte](0, 0, 0, 0, // name-hash prefix (type 5 record)
      (0x20 | 4).toByte, 1, 2, 3, 4, 5, 0) // tiny id: 5 bytes embedded
    val got = Hdf5.tinyObjectOf(rec, 4, heapIdLen = 7)
    assert(got.toSeq == Seq[Byte](1, 2, 3, 4, 5))
  }

  test("depth-1 v2 B-tree dense storage (BTIN internal root + leaf fan-out)") {
    val p = tmp("densebt1.nc")
    val n = 6
    // node size 64 caps a leaf at (64-10)/11 = 4 records, so 13 links force
    // a depth-1 tree: 3 leaves + 2 separator records in the internal root
    HW.write(p,
      HW.VarSpec("x", Seq("x"), Seq(n), (0 until n).map(_.toDouble), dtype = "f8") +:
        (0 until 12).map(k => HW.VarSpec(f"v$k%02d", Seq("x"), Seq(n),
          (0 until n).map(i => k * 100.0 + i), dtype = "f8")),
      denseRoot = true, denseBtNodeSize = 64)
    val (read, len) = localRead(p)
    val meta = Hdf5.parse(read, len)
    assert(meta.datasets.size == 13, s"got ${meta.datasets.map(_.path)}")
    val df = NetCDF4Reader.readLongFormat(spark, p)
    assert(df.columns.length == 13 && df.count() == n)
    assert(df.filter($"x" === 2.0).head().getAs[Double]("v11") == 1102.0)
  }

  test("indirect-root fractal heap: dense links spanning multiple direct blocks") {
    val p = tmp("denseindirect.nc")
    val n = 2
    // ~300 link messages (~15 B each) overflow one 4096 B direct block, so
    // the heap takes a root indirect block (row 0 of the doubling table);
    // 300 records also overflow one default-node-size leaf -> depth-1 tree
    val nVars = 300
    HW.write(p,
      HW.VarSpec("x", Seq("x"), Seq(n), (0 until n).map(_.toDouble), dtype = "f8") +:
        (0 until nVars).map(k => HW.VarSpec(f"v$k%03d", Seq("x"), Seq(n),
          (0 until n).map(i => k * 10.0 + i), dtype = "f8")),
      denseRoot = true)
    val (read, len) = localRead(p)
    val meta = Hdf5.parse(read, len)
    assert(meta.datasets.size == nVars + 1, s"got ${meta.datasets.size}")
    assert(meta.datasets.exists(_.path == "/v000") &&
      meta.datasets.exists(_.path == s"/v${nVars - 1}"))
    val df = NetCDF4Reader.readLongFormat(spark, p)
    assert(df.columns.length == nVars + 1)
    assert(df.filter($"x" === 1.0).head().getAs[Double]("v123") == 1231.0)
  }

  test("nested indirect fractal heap blocks (two-level doubling table)") {
    val p = tmp("densenested.nc")
    // 512 B starting blocks, 1024 B max direct: rows 0-2 are direct (4 x
    // 512, 4 x 512, 4 x 1024 = 8 KiB); ~9 KiB of padded link messages
    // push row 3 into CHILD indirect blocks (each spanning 2048 B as one
    // row of four 512 B direct blocks)
    val nVars = 300
    val pad = "x" * 12
    HW.write(p,
      HW.VarSpec("x", Seq("x"), Seq(2), Seq(0.0, 1.0), dtype = "f8") +:
        (0 until nVars).map(k => HW.VarSpec(f"v$k%03d$pad", Seq("x"), Seq(2),
          Seq(k * 10.0, k * 10.0 + 1), dtype = "f8")),
      denseRoot = true, denseStartBlock = 512L, denseMaxDirect = 1024L)
    val (read, len) = localRead(p)
    val meta = Hdf5.parse(read, len)
    assert(meta.datasets.size == nVars + 1, s"got ${meta.datasets.size}")
    assert(meta.datasets.exists(_.path == s"/v000$pad") &&
      meta.datasets.exists(_.path == s"/v299$pad"))
    val df = NetCDF4Reader.readLongFormat(spark, p)
    assert(df.filter($"x" === 1.0).head().getAs[Double](s"v123$pad") == 1231.0)
    // filtered + nested compose: deflated direct blocks behind child FHIBs
    val pf = tmp("densenestedfilt.nc")
    HW.write(pf,
      HW.VarSpec("x", Seq("x"), Seq(2), Seq(0.0, 1.0), dtype = "f8") +:
        (0 until nVars).map(k => HW.VarSpec(f"v$k%03d$pad", Seq("x"), Seq(2),
          Seq(k * 10.0, k * 10.0 + 1), dtype = "f8")),
      denseRoot = true, denseFiltered = true,
      denseStartBlock = 512L, denseMaxDirect = 1024L)
    val (readF, lenF) = localRead(pf)
    assert(Hdf5.parse(readF, lenF).datasets.size == nVars + 1)
  }

  test("filtered fractal heap: deflated dense-storage blocks, direct and indirect") {
    // direct filtered root: compressed size + mask + pipeline in the header
    val small = tmp("densefilt.nc")
    val n = 6
    HW.write(small,
      HW.VarSpec("x", Seq("x"), Seq(n), (0 until n).map(_.toDouble), dtype = "f8") +:
        (0 until 12).map(k => HW.VarSpec(f"v$k%02d", Seq("x"), Seq(n),
          (0 until n).map(i => k * 100.0 + i), dtype = "f8")),
      denseRoot = true, denseFiltered = true)
    val (readS, lenS) = localRead(small)
    assert(Hdf5.parse(readS, lenS).datasets.size == 13)
    val dfS = NetCDF4Reader.readLongFormat(spark, small)
    assert(dfS.filter($"x" === 3.0).head().getAs[Double]("v07") == 703.0)
    // indirect filtered root: per-child compressed sizes in the FHIB entries
    val big = tmp("densefiltbig.nc")
    val nVars = 300
    HW.write(big,
      HW.VarSpec("x", Seq("x"), Seq(2), Seq(0.0, 1.0), dtype = "f8") +:
        (0 until nVars).map(k => HW.VarSpec(f"v$k%03d", Seq("x"), Seq(2),
          Seq(k * 10.0, k * 10.0 + 1), dtype = "f8")),
      denseRoot = true, denseFiltered = true)
    val (readB, lenB) = localRead(big)
    val metaB = Hdf5.parse(readB, lenB)
    assert(metaB.datasets.size == nVars + 1, s"got ${metaB.datasets.size}")
    assert(metaB.datasets.exists(_.path == "/v299"))
  }

  test("latest-format container (superblock v2, OHDR headers, compact links)") {
    val flat = tmp("v0.nc")
    writeWeather(flat, chunks = None)
    val latest = tmp("v2.nc")
    val (nt, ny, nx) = (3, 4, 5)
    HW.write(latest, Seq(
      HW.VarSpec("time", Seq("time"), Seq(nt),
        (0 until nt).map(t => (t0 + 3600L * t).toDouble), dtype = "f8",
        units = Some("seconds since 1970-01-01")),
      HW.VarSpec("latitude", Seq("latitude"), Seq(ny),
        (0 until ny).map(60.0 - _), dtype = "f8"),
      HW.VarSpec("longitude", Seq("longitude"), Seq(nx),
        (0 until nx).map(10.0 + _), dtype = "f8"),
      HW.VarSpec("t2m", Seq("time", "latitude", "longitude"), Seq(nt, ny, nx),
        (0 until nt * ny * nx).map(k => 250.0 + k * 0.25),
        dtype = "f4", units = Some("K")),
      HW.VarSpec("tp", Seq("time", "latitude", "longitude"), Seq(nt, ny, nx),
        (0 until nt * ny * nx).map(k => if (k % 17 == 0) -999.0 else k * 10.0),
        dtype = "i2", scaleFactor = Some(0.001), addOffset = Some(5.0),
        fillValue = Some(-999.0))), latestFormat = true)
    // the container version really differs
    val hdr = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(latest))
    assert(hdr(8) == 2, s"superblock version ${hdr(8)}")
    val a = NetCDF4Reader.readLongFormat(spark, flat)
      .orderBy($"time", $"latitude", $"longitude").collect()
    val b = NetCDF4Reader.readLongFormat(spark, latest)
      .orderBy($"time", $"latitude", $"longitude").collect()
    assert(a.sameElements(b), "latest-format values diverge from v0 container")
  }

  test("multi-level chunk B-trees (the many-chunk shape of large files)") {
    val p = tmp("deepbtree.nc")
    val (nt, nx) = (30, 8) // 30 chunks of (1, 8) with fanout 4 -> level-2 tree
    HW.write(p, Seq(
      HW.VarSpec("t", Seq("t"), Seq(nt), (0 until nt).map(_.toDouble), dtype = "f8"),
      HW.VarSpec("x", Seq("x"), Seq(nx), (0 until nx).map(_.toDouble), dtype = "f8"),
      HW.VarSpec("v", Seq("t", "x"), Seq(nt, nx),
        (0 until nt * nx).map(k => k * 1.5), dtype = "f8",
        chunks = Some(Seq(1, nx)), deflate = true, chunkBtreeFanout = 4)))
    val (read, len) = localRead(p)
    val meta = Hdf5.parse(read, len)
    val refs = Hdf5.chunkRefs(read, meta.byPath("/v"))
    assert(refs.size == nt, s"walked ${refs.size} chunks") // through 2 levels
    assert(refs.map(_.offsets.head).sorted == (0 until nt).map(_.toLong))
    val df = NetCDF4Reader.readLongFormat(spark, p)
    assert(df.count() == nt * nx)
    assert(df.filter($"t" === 29.0 && $"x" === 7.0).head()
      .getAs[Double]("v") == (29 * 8 + 7) * 1.5)
  }

  test("directed error: non-HDF5 bytes name the format") {
    val p = tmp("bad.nc")
    java.nio.file.Files.write(java.nio.file.Paths.get(p),
      "not an hdf5 file at all".getBytes("UTF-8"))
    val (read, len) = localRead(p)
    val e = intercept[IllegalArgumentException](Hdf5.parse(read, len))
    assert(e.getMessage.contains("HDF5"))
  }

  test("string variables: fixed-length cells and vlen (global heap), mixed with chunked numerics") {
    val p = tmp("strings.nc")
    val n = 7
    val names = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta")
    HW.write(p, Seq(
      HW.VarSpec("station", Seq("station"), Seq(n),
        (0 until n).map(_.toDouble), dtype = "f8"),
      // fixed-length: 8-byte NUL-padded cells, contiguous
      HW.VarSpec("name_fix", Seq("station"), Seq(n), Nil,
        dtype = "s8", sdata = names),
      // variable-length: 16-byte descriptors -> GCOL, plus a vlen string attr
      HW.VarSpec("name_vl", Seq("station"), Seq(n), Nil,
        dtype = "vls", sdata = names.map(s => s + "-" + s.length),
        vlsAttrs = Seq("long_name" -> "station identifier")),
      // a CHUNKED numeric sibling: contiguous strings must index globally
      // while cells come from this var's chunk grid (incl. the edge chunk)
      HW.VarSpec("elev", Seq("station"), Seq(n),
        (0 until n).map(k => 100.0 + k), dtype = "f8",
        chunks = Some(Seq(3)))))
    val (read, len) = localRead(p)
    val meta = Hdf5.parse(read, len)
    val fix = meta.byPath("/name_fix")
    val vl = meta.byPath("/name_vl")
    assert(fix.dtype.clazz == 3 && fix.dtype.size == 8 && fix.dtype.isString)
    assert(vl.dtype.clazz == 9 && vl.dtype.vlenString && vl.dtype.isString)
    assert(vl.attrs("long_name") == "station identifier")

    val df = NetCDF4Reader.readLongFormat(spark, p)
    // data-var order = root-group symbol-table (alphabetical) order
    assert(df.columns.toSeq == Seq("station", "elev", "name_fix", "name_vl"))
    assert(df.schema("name_fix").dataType.typeName == "string")
    assert(df.schema("name_vl").dataType.typeName == "string")
    val rows = df.orderBy($"station").collect()
    assert(rows.map(_.getAs[String]("name_fix")).toSeq == names)
    assert(rows.map(_.getAs[String]("name_vl")).toSeq ==
      names.map(s => s + "-" + s.length))
    assert(rows.map(_.getAs[Double]("elev")).toSeq ==
      (0 until n).map(k => 100.0 + k))
  }

  test("enum (class 8) variables decode as their base numeric type") {
    val p = tmp("enum.nc")
    val n = 6
    val codes = Seq(0.0, 1.0, 2.0, 1.0, 0.0, 2.0)
    HW.write(p, Seq(
      HW.VarSpec("x", Seq("x"), Seq(n), (0 until n).map(_.toDouble), dtype = "f8"),
      HW.VarSpec("flag", Seq("x"), Seq(n), codes, dtype = "i2",
        enumMembers = Seq("clear" -> 0L, "cloudy" -> 1L, "missing" -> 2L))))
    val (read, len) = localRead(p)
    val dt = Hdf5.parse(read, len).byPath("/flag").dtype
    assert(dt.clazz == 0 && dt.size == 2) // exposed as the i2 base
    val df = NetCDF4Reader.readLongFormat(spark, p)
    assert(df.orderBy($"x").select($"flag").collect().map(_.getDouble(0)).toSeq
      == codes)
  }

  test("compound (class 6) variables flatten to one column per member") {
    val p = tmp("compound.nc")
    val n = 5
    val names = Seq("ws-a", "ws-b", "ws-c", "ws-d", "ws-e")
    HW.write(p, Seq(
      HW.VarSpec("obs", Seq("obs"), Seq(n),
        (0 until n).map(_.toDouble), dtype = "f8"),
      // struct { double lat; float lon; int count; char id[8]; } per point
      HW.VarSpec("sites", Seq("obs"), Seq(n), Nil,
        compound = Seq("lat" -> "f8", "lon" -> "f4", "count" -> "i4", "id" -> "s8"),
        cdata = (0 until n).map(i =>
          Seq(50.0 + i * 0.5, -10.0 - i, (100 + i).toDouble, names(i)))),
      // a chunked numeric sibling: compound vars stay contiguous
      HW.VarSpec("qc", Seq("obs"), Seq(n),
        (0 until n).map(k => k % 2.0), dtype = "f8", chunks = Some(Seq(2)))))
    val (read, len) = localRead(p)
    val meta = Hdf5.parse(read, len)
    val dt = meta.byPath("/sites").dtype
    assert(dt.isCompound && dt.size == 8 + 4 + 4 + 8)
    assert(dt.members.map(_.name) == Seq("lat", "lon", "count", "id"))
    assert(dt.members.map(_.offset) == Seq(0, 8, 12, 16))

    val df = NetCDF4Reader.readLongFormat(spark, p)
    assert(df.columns.toSeq ==
      Seq("obs", "qc", "sites_lat", "sites_lon", "sites_count", "sites_id"))
    val rows = df.orderBy($"obs").collect()
    assert(rows.map(_.getAs[Double]("sites_lat")).toSeq ==
      (0 until n).map(i => 50.0 + i * 0.5))
    assert(rows.map(_.getAs[Double]("sites_lon")).toSeq ==
      (0 until n).map(i => -10.0 - i.toDouble))
    assert(rows.map(_.getAs[Double]("sites_count")).toSeq ==
      (0 until n).map(i => 100.0 + i))
    assert(rows.map(_.getAs[String]("sites_id")).toSeq == names)
    assert(rows.map(_.getAs[Double]("qc")).toSeq == (0 until n).map(k => k % 2.0))
  }

  test("registered dynamic filters: blosc/lz4/bitshuffle/zstd round-trip") {
    // the hdf5plugin/h5py ecosystem: one variable per filter, chunks sized
    // so lz4 spans multiple 256-byte blocks (2*5*7 f8 cells = 560 B) and
    // bitshuffle (block of 16 elements) leaves a 6-element <8 raw leftover
    val p = tmp("plugins.nc")
    val (nt, ny, nx) = (3, 5, 7)
    def vals(seed: Int): Seq[Double] =
      (0 until nt * ny * nx).map(k => seed * 1000.0 + (k * k % 977) * 0.5)
    def spec(name: String, seed: Int) = HW.VarSpec(
      name, Seq("time", "y", "x"), Seq(nt, ny, nx), vals(seed),
      dtype = "f8", chunks = Some(Seq(2, 5, 7)))
    HW.write(p, Seq(
      HW.VarSpec("time", Seq("time"), Seq(nt),
        (0 until nt).map(t => (t0 + 3600L * t).toDouble), dtype = "f8"),
      HW.VarSpec("y", Seq("y"), Seq(ny), (0 until ny).map(_.toDouble), dtype = "f8"),
      HW.VarSpec("x", Seq("x"), Seq(nx), (0 until nx).map(_.toDouble), dtype = "f8"),
      spec("a_blosc", 1).copy(blosc = true),
      spec("b_lz4", 2).copy(lz4 = true),
      spec("c_bshuf_plain", 3).copy(bitshuffle = Some(0), bitshuffleBlockElems = 16),
      spec("d_bshuf_lz4", 4).copy(bitshuffle = Some(2), bitshuffleBlockElems = 16),
      spec("e_bshuf_zstd", 5).copy(bitshuffle = Some(3), bitshuffleBlockElems = 16),
      spec("f_zstd", 6).copy(zstd = true),
      // shuffle (2) composes before the registered compressor, the
      // netCDF-4 convention
      spec("g_shuffle_zstd", 7).copy(shuffle = true, zstd = true)))
    val (read, len) = localRead(p)
    val meta = Hdf5.parse(read, len)
    assert(meta.byPath("/a_blosc").filters.map(_.id) == Seq(32001))
    assert(meta.byPath("/b_lz4").filters.map(_.id) == Seq(32004))
    assert(meta.byPath("/d_bshuf_lz4").filters.map(_.id) == Seq(32008))
    assert(meta.byPath("/f_zstd").filters.map(_.id) == Seq(32015))
    assert(meta.byPath("/g_shuffle_zstd").filters.map(_.id) == Seq(2, 32015))
    val df = NetCDF4Reader.readLongFormat(spark, p)
    assert(df.count() == nt * ny * nx)
    val cols = Seq("a_blosc", "b_lz4", "c_bshuf_plain", "d_bshuf_lz4",
      "e_bshuf_zstd", "f_zstd", "g_shuffle_zstd")
    // ascending (time, y, x) is exactly the writer's C-order cell index
    val byIdx = df.orderBy($"time", $"y", $"x").select(cols.map(col): _*).collect()
    cols.zipWithIndex.foreach { case (c, ci) =>
      val expect = vals(ci + 1)
      byIdx.indices.foreach { k =>
        assert(byIdx(k).getDouble(ci) == expect(k), s"$c at cell $k")
      }
    }
  }
}
