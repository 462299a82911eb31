package graft

import org.apache.spark.sql.functions._

import org.apache.hadoop.conf.Configuration

import graft.sources.grib.{Grib2, Grib2Writer => GW2, GribIndex, GribReader}

/** Golden tests for the GRIB edition-2 reader: templates 3.0/4.0/4.8/5.0,
  * IEEE-float32 reference value, bitmap, cfgrib naming conventions, and the
  * edition-sniffing facade. */
class Grib2Spec extends SparkSpec {
  import spark.implicits._

  private val (ni, nj) = (5, 4)
  private val t0 = java.time.LocalDateTime.of(2026, 3, 1, 0, 0)

  /** Every edition-2 field of the file, spectral ones included. */
  private def indexFields(conf: Configuration, path: String): Seq[Grib2.Field] =
    GribIndex.indexMessageSpans(conf, path).flatMap(_._3).collect { case f: Grib2.Field => f }

  private def gridVals(f: (Int, Int) => Double): Seq[Double] =
    for (j <- 0 until nj; i <- 0 until ni) yield f(j, i)

  private lazy val file: String = {
    val dir = java.nio.file.Files.createTempDirectory("grib2").toString
    val path = s"$dir/test.grib2"
    def field(disc: Int, cat: Int, num: Int, levelType: Int, levelScaled: Long,
        fcst: Int, vals: Seq[Double], d: Int = 2, stat: Int = -1) =
      GW2.FieldSpec(disc, cat, num, levelType, levelScaled, t0, vals,
        ni, nj, la1 = 60.0, lo1 = -10.0, la2 = 45.0, lo2 = 10.0,
        forecastTime = fcst, decimalScale = d, statProcess = stat)
    GW2.write(path, Seq(
      // 2-metre temperature: discipline 0, cat 0, num 0 at heightAboveGround 2
      field(0, 0, 0, 103, 2, fcst = 0, vals = gridVals((j, i) => 270.0 + j + 0.25 * i)),
      field(0, 0, 0, 103, 2, fcst = 6, vals = gridVals((j, i) => 271.0 + j + 0.25 * i)),
      // accumulated total precipitation (template 4.8) with a masked cell
      field(0, 1, 8, 1, 0, fcst = 6, stat = 1,
        vals = gridVals((j, i) => if (j == 1 && i == 2) Double.NaN else 0.5 * i))))
    path
  }

  test("field headers parse: grid, product, representation, conventions") {
    val fs = indexFields(new org.apache.hadoop.conf.Configuration(), file)
    assert(fs.size == 3)
    val m = fs.head
    assert(m.ni == ni && m.nj == nj)
    assert(m.la1 == 60.0 && m.lo1 == -10.0 && m.la2 == 45.0 && m.lo2 == 10.0)
    assert(m.shortName == "2t" && m.levelName == "heightAboveGround")
    assert(m.levelHeight == 2.0 && m.stepType == "instant")
    assert(m.decimalScale == 2 && m.bitsPerValue == 16)
    val tp = fs(2)
    assert(tp.shortName == "tp" && tp.stepType == "accum")
    assert(tp.validTimeEpochSec == m.refTimeEpochSec + 6 * 3600)
  }

  test("values decode exactly through IEEE ref + simple packing") {
    val df = GribReader.readLongFormat(spark, file)
    assert(df.count() == 3L * ni * nj)
    val r = df.filter($"channel" === "heightAboveGround_2_00_instant_2t" &&
      date_format($"time", "HH") === "00" &&
      $"latitude" === 55.0 && $"longitude" === 0.0).head()
    assert(r.getAs[Double]("value") == 270.0 + 1 + 0.25 * 2)
    // bitmap-masked cell decodes to null; neighbors exact
    val tp = df.filter($"channel" === "surface_0_00_accum_tp")
    assert(tp.filter($"value".isNull).count() == 1)
    assert(tp.filter($"latitude" === 60.0 && $"longitude" === 10.0)
      .head().getAs[Double]("value") == 0.5 * 4)
  }

  test("edition-sniffing facade merges either edition through the mover path") {
    val wide = graft.sources.FormatRegistry.open(spark, file)
    assert(wide.columns.toSeq.sorted == Seq("heightAboveGround_2_00_instant_2t",
      "latitude", "longitude", "surface_0_00_accum_tp", "time").sorted)
    assert(wide.count() == 2L * ni * nj)
    val out = graft.operators.Mover.extractRows(wide, s"file://$file",
      graft.operators.Mover.Options(variables = Seq("2t"),
        importTime = Some("2026-03-01 12:00:00"),
        latRes = Some(2.5), lonRes = Some(2.5)))
    assert(out.count() == 2L * ni * nj)
    assert(out.columns.contains("heightAboveGround_2_00_instant_2t"))
  }

  test("edition-2 split writes per-shortName GRIB files by message byte copy") {
    import graft.sources.grib.GribSplitter
    val outDir = java.nio.file.Files.createTempDirectory("grib2split").toString
    val outputs = GribSplitter.split(spark, file, outDir)
    assert(outputs.keySet == Set("2t", "tp"))
    val conf = new org.apache.hadoop.conf.Configuration()
    val t2 = indexFields(conf, outputs("2t"))
    assert(t2.size == 2 && t2.forall(_.shortName == "2t"))
    // outputs decode identically (verbatim copy)
    val v = GribReader.readLongFormat(spark, outputs("2t"))
      .filter(date_format($"time", "HH") === "06" &&
        $"latitude" === 45.0 && $"longitude" === 10.0).head()
    assert(v.getAs[Double]("value") == 271.0 + 3 + 0.25 * 4)
  }

  test("negative level scale factors decode sign-magnitude (and missing -> 0)") {
    val dir = java.nio.file.Files.createTempDirectory("grib2lvl").toString
    val p = s"$dir/lvl.grib2"
    // isobaric level 320 hPa-equivalent encoded as scaled=32, scale=-1
    GW2.write(p, Seq(GW2.FieldSpec(0, 0, 0, 100, 32, t0,
      (0 until 4).map(_.toDouble), 2, 2, 50.0, 0.0, 49.0, 1.0,
      levelScaleFactor = -1)))
    val f = indexFields(new org.apache.hadoop.conf.Configuration(), p).head
    // 32 / 10^-1 = 320 Pa -> isobaricInhPa reports /100
    assert(f.levelValue == 320.0)
    assert(f.levelHeight == 3.2)
  }

  test("complex packing (5.2) round-trips, including bitmap-masked cells") {
    val dir = java.nio.file.Files.createTempDirectory("grib2cx").toString
    val p = s"$dir/cx.grib2"
    // values with locally-clustered magnitudes — the case group splitting
    // compresses — plus a masked cell and a group-boundary-exact count
    val vals = gridVals((j, i) =>
      if (j == 2 && i == 3) Double.NaN
      else (if (j < 2) 1000.0 + i else 20000.0 + 7 * i + j))
    GW2.write(p, Seq(GW2.FieldSpec(0, 0, 0, 103, 2, t0, vals, ni, nj,
      la1 = 60.0, lo1 = -10.0, la2 = 45.0, lo2 = 10.0,
      decimalScale = 1, packing = 2, groupSize = 5)))
    val fields = indexFields(new org.apache.hadoop.conf.Configuration(), p)
    assert(fields.head.reprTemplate == 2)
    assert(fields.head.complex.exists(_.spatialOrder == 0))
    val got = GribReader.readLongFormat(spark, p)
      .orderBy($"latitude".desc, $"longitude")
      .select($"value").collect()
      .map(r => if (r.isNullAt(0)) Double.NaN else r.getDouble(0))
    vals.zip(got).foreach { case (want, have) =>
      if (want.isNaN) assert(have.isNaN) else assert(want == have)
    }
  }

  test("complex packing with spatial differencing (5.3) round-trips at orders 1 and 2") {
    for (order <- Seq(1, 2)) {
      val dir = java.nio.file.Files.createTempDirectory(s"grib2sd$order").toString
      val p = s"$dir/sd.grib2"
      // a smooth field plus jumps — differencing shrinks the packed widths,
      // negative differences exercise the sign-magnitude minimum
      val vals = gridVals((j, i) => 5000.0 - 13 * (j * ni + i) +
        (if (i == 4) 250.0 else 0.0))
      GW2.write(p, Seq(GW2.FieldSpec(0, 3, 5, 100, 50000, t0, vals, ni, nj,
        la1 = 60.0, lo1 = -10.0, la2 = 45.0, lo2 = 10.0,
        decimalScale = 0, packing = 3, spatialOrder = order, groupSize = 6)))
      val fields = indexFields(new org.apache.hadoop.conf.Configuration(), p)
      assert(fields.head.reprTemplate == 3)
      assert(fields.head.complex.exists(_.spatialOrder == order))
      val got = GribReader.readLongFormat(spark, p)
        .orderBy($"latitude".desc, $"longitude")
        .select($"value").as[Double].collect()
      assert(got.toSeq == vals, s"order-$order spatial differencing mismatch")
    }
  }

  test("PNG packing (5.41) round-trips at every GRIB depth, with bitmap") {
    for (bits <- Seq(1, 2, 4, 8, 16, 24, 32)) {
      val dir = java.nio.file.Files.createTempDirectory(s"grib2png$bits").toString
      val p = s"$dir/png.grib2"
      val span = math.min((1L << math.min(bits, 16)) - 1, 40000L).toDouble
      val vals = gridVals((j, i) =>
        if (bits >= 8 && j == 1 && i == 4) Double.NaN // bitmap path
        else math.floor(span * (j * ni + i) / (ni * nj - 1)))
      GW2.write(p, Seq(GW2.FieldSpec(0, 0, 0, 103, 2, t0, vals, ni, nj,
        la1 = 60.0, lo1 = -10.0, la2 = 45.0, lo2 = 10.0,
        decimalScale = 0, packing = 41, bitsPerValue = bits)))
      val fields = indexFields(new org.apache.hadoop.conf.Configuration(), p)
      assert(fields.head.reprTemplate == 41)
      val got = GribReader.readLongFormat(spark, p)
        .orderBy($"latitude".desc, $"longitude")
        .select($"value").collect()
        .map(r => if (r.isNullAt(0)) Double.NaN else r.getDouble(0))
      vals.zip(got).foreach { case (want, have) =>
        if (want.isNaN) assert(have.isNaN) else assert(want == have, s"depth $bits")
      }
    }
  }

  test("IEEE packing (5.4) round-trips at both precisions, with bitmap") {
    for (bits <- Seq(32, 64)) {
      val dir = java.nio.file.Files.createTempDirectory(s"grib2ieee$bits").toString
      val p = s"$dir/ieee.grib2"
      // negative, fractional, zero, and non-float32-representable values:
      // the 64-bit path must carry full double precision verbatim
      val vals = gridVals((j, i) =>
        if (j == 1 && i == 4) Double.NaN // bitmap path
        else if (j == 0 && i == 0) 0.0
        else (j * ni + i - 7.5) / (if (bits == 64) 7.0 else 4.0))
      GW2.write(p, Seq(GW2.FieldSpec(0, 0, 0, 103, 2, t0, vals, ni, nj,
        la1 = 60.0, lo1 = -10.0, la2 = 45.0, lo2 = 10.0,
        decimalScale = 0, packing = 4, bitsPerValue = bits)))
      val fields = indexFields(new org.apache.hadoop.conf.Configuration(), p)
      assert(fields.head.reprTemplate == 4)
      assert(fields.head.bitsPerValue == bits)
      val got = GribReader.readLongFormat(spark, p)
        .orderBy($"latitude".desc, $"longitude")
        .select($"value").collect()
        .map(r => if (r.isNullAt(0)) Double.NaN else r.getDouble(0))
      vals.zip(got).foreach { case (want, have) =>
        if (want.isNaN) assert(have.isNaN)
        else {
          val expected = if (bits == 32) want.toFloat.toDouble else want
          assert(expected == have, s"precision $bits")
        }
      }
    }
  }

  test("JPEG2000 packing (5.40) round-trips at every GRIB depth, with bitmap") {
    for (bits <- Seq(1, 2, 8, 16, 24)) {
      val dir = java.nio.file.Files.createTempDirectory(s"grib2j2k$bits").toString
      val p = s"$dir/j2k.grib2"
      val span = math.min((1L << math.min(bits, 16)) - 1, 40000L).toDouble
      val vals = gridVals((j, i) =>
        if (bits >= 8 && j == 1 && i == 4) Double.NaN // bitmap -> n x 1 layout
        else math.floor(span * (j * ni + i) / (ni * nj - 1)))
      GW2.write(p, Seq(GW2.FieldSpec(0, 0, 0, 103, 2, t0, vals, ni, nj,
        la1 = 60.0, lo1 = -10.0, la2 = 45.0, lo2 = 10.0,
        decimalScale = 0, packing = 40, bitsPerValue = bits)))
      val fields = indexFields(new org.apache.hadoop.conf.Configuration(), p)
      assert(fields.head.reprTemplate == 40)
      val got = GribReader.readLongFormat(spark, p)
        .orderBy($"latitude".desc, $"longitude")
        .select($"value").collect()
        .map(r => if (r.isNullAt(0)) Double.NaN else r.getDouble(0))
      vals.zip(got).foreach { case (want, have) =>
        if (want.isNaN) assert(have.isNaN) else assert(want == have, s"depth $bits")
      }
    }
  }

  test("JPEG2000 lossy compression type raises a directed error") {
    val dir = java.nio.file.Files.createTempDirectory("grib2j2klossy").toString
    val p = s"$dir/lossy.grib2"
    GW2.write(p, Seq(GW2.FieldSpec(0, 0, 0, 103, 2, t0,
      gridVals((j, i) => j + i.toDouble), ni, nj,
      la1 = 60.0, lo1 = -10.0, la2 = 45.0, lo2 = 10.0,
      decimalScale = 0, packing = 40, bitsPerValue = 8)))
    // Flip the section-5 compression-type octet (22) from 0 to 1 (lossy).
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))
    // section order: 16B indicator + s1; find section 5 by walking lengths
    var off = 16
    def u32at(i: Int): Int =
      ((bytes(i) & 0xff) << 24) | ((bytes(i + 1) & 0xff) << 16) |
        ((bytes(i + 2) & 0xff) << 8) | (bytes(i + 3) & 0xff)
    while (bytes(off + 4) != 5) off += u32at(off)
    bytes(off + 21) = 1
    // fresh path: Hadoop's local FS would reject p against its stale .crc
    val p2 = s"$dir/lossy2.grib2"
    java.nio.file.Files.write(java.nio.file.Paths.get(p2), bytes)
    val e = intercept[graft.sources.grib.Grib1.UnsupportedGrib] {
      indexFields(new org.apache.hadoop.conf.Configuration(), p2)
    }
    assert(e.getMessage.contains("lossy"))
  }

  test("PNG decode reverses every scanline filter (Sub/Up/Average/Paeth)") {
    import graft.sources.grib.Png
    // 16-bit grayscale 4x3 image, one scanline per filter type 1..4 after a
    // type-0 first row — forward-filter by the spec, then decode must return
    // the original samples
    val w = 4; val h = 5
    val xs = Array.tabulate(w * h)(k => ((k * 9173) % 65536).toLong)
    val stride = w * 2
    val bpp = 2
    val unfiltered = Array.tabulate(h, stride) { (y, i) =>
      val v = xs(y * w + i / 2)
      (if (i % 2 == 0) (v >> 8) & 0xff else v & 0xff).toByte
    }
    def pred(ft: Int, y: Int, i: Int): Int = {
      val a = if (i >= bpp) unfiltered(y)(i - bpp) & 0xff else 0
      val b = if (y > 0) unfiltered(y - 1)(i) & 0xff else 0
      val c = if (y > 0 && i >= bpp) unfiltered(y - 1)(i - bpp) & 0xff else 0
      ft match {
        case 0 => 0
        case 1 => a
        case 2 => b
        case 3 => (a + b) >> 1
        case 4 =>
          val p = a + b - c
          val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
          if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
      }
    }
    val raw = new java.io.ByteArrayOutputStream()
    (0 until h).foreach { y =>
      val ft = y % 5
      raw.write(ft)
      (0 until stride).foreach { i =>
        raw.write(((unfiltered(y)(i) & 0xff) - pred(ft, y, i)) & 0xff)
      }
    }
    val def_ = new java.util.zip.Deflater()
    def_.setInput(raw.toByteArray); def_.finish()
    val idat = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    while (!def_.finished()) idat.write(buf, 0, def_.deflate(buf))
    val png = new java.io.ByteArrayOutputStream()
    png.write(Array(0x89, 'P', 'N', 'G', '\r', '\n', 0x1a, '\n').map(_.toByte))
    def chunk(t: String, body: Array[Byte]): Unit = {
      def u32(v: Long): Array[Byte] = Array(
        ((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
        ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
      png.write(u32(body.length))
      val tb = t.getBytes("US-ASCII")
      png.write(tb); png.write(body)
      val crc = new java.util.zip.CRC32(); crc.update(tb); crc.update(body)
      png.write(u32(crc.getValue))
    }
    val ihdr = new Array[Byte](13)
    ihdr(3) = w.toByte; ihdr(7) = h.toByte; ihdr(8) = 16; ihdr(9) = 0
    chunk("IHDR", ihdr); chunk("IDAT", idat.toByteArray); chunk("IEND", Array.emptyByteArray)
    val img = Png.decode(png.toByteArray)
    assert(img.width == w && img.height == h && img.bitDepth == 16)
    assert(img.samples.toSeq == xs.toSeq)
  }

  test("CCSDS codec round-trips every block-option regime") {
    import graft.sources.grib.Ccsds
    def rt(xs: Array[Long], bits: Int, j: Int = 16, rsi: Int = 8): Unit = {
      val p = Ccsds.Params(bits, j, rsi, preprocess = true)
      val got = Ccsds.decode(Ccsds.encode(xs, p), p, xs.length)
      assert(got.toSeq == xs.toSeq, s"bits=$bits J=$j rsi=$rsi")
    }
    rt(Array.fill(100)(7L), 8)                       // constant -> zero runs
    rt(Array.tabulate(257)(_.toLong % 251), 8)       // smooth ramps
    rt(Array.tabulate(1000)(k => (k * 9173L) % 65536), 16) // noisy -> high k
    rt(Array.tabulate(97)(k => if (k < 40) 3L else (k * 131L) % 256), 8)
    rt(Array(0L), 8)                                 // single sample
    rt(Array.tabulate(5000)(k =>                      // crosses RSI + segment
      if (k % 700 < 300) 42L else (k * 37L) % 4096), 12, j = 32, rsi = 128)
    // tiny deltas pick the second extension; spikes exercise the mapper's
    // out-of-theta branch
    rt(Array.tabulate(300)(k => 100L + (k % 2)), 8)
    rt(Array.tabulate(128)(k => if (k == 64) 250L else 2L), 8)
  }

  test("CCSDS packing (5.42) round-trips through GRIB2, including bitmap") {
    val dir = java.nio.file.Files.createTempDirectory("grib2ccsds").toString
    val p = s"$dir/ccsds.grib2"
    val vals = gridVals((j, i) =>
      if (j == 2 && i == 1) Double.NaN else 1000.0 + 13 * j + i * (i % 3))
    GW2.write(p, Seq(GW2.FieldSpec(0, 0, 0, 103, 2, t0, vals, ni, nj,
      la1 = 60.0, lo1 = -10.0, la2 = 45.0, lo2 = 10.0,
      decimalScale = 1, packing = 42, bitsPerValue = 16)))
    val fields = indexFields(new org.apache.hadoop.conf.Configuration(), p)
    assert(fields.head.reprTemplate == 42)
    assert(fields.head.ccsds.contains((12, 32, 128))) // preprocess+MSB, J, RSI
    val got = GribReader.readLongFormat(spark, p)
      .orderBy($"latitude".desc, $"longitude")
      .select($"value").collect()
      .map(r => if (r.isNullAt(0)) Double.NaN else r.getDouble(0))
    vals.zip(got).foreach { case (want, have) =>
      if (want.isNaN) assert(have.isNaN) else assert(want == have)
    }
  }

  test("Gaussian latitudes match the published quadrature parallels") {
    import graft.sources.grib.GaussianGrid
    // N=1: P_2 roots +-1/sqrt(3) -> +-35.264390; N=2 (ECMWF N2):
    // 59.44440 / 19.87572 and mirrors
    val n1 = GaussianGrid.latitudes(1)
    assert(n1.length == 2)
    assert(math.abs(n1(0) - 35.264390) < 1e-5 && math.abs(n1(1) + 35.264390) < 1e-5)
    val n2 = GaussianGrid.latitudes(2)
    assert(math.abs(n2(0) - 59.44440) < 1e-4)
    assert(math.abs(n2(1) - 19.87572) < 1e-4)
    assert(math.abs(n2(2) + 19.87572) < 1e-4)
    assert(math.abs(n2(3) + 59.44440) < 1e-4)
    // north-to-south ordering and hemispheric symmetry at a real resolution
    val n32 = GaussianGrid.latitudes(32)
    assert(n32.length == 64 && n32.head > 85 && n32.last < -85)
    assert(n32.zip(n32.reverse.map(-_)).forall { case (a, b) => math.abs(a - b) < 1e-9 })
    assert(n32.sliding(2).forall(p => p(0) > p(1)))
  }

  test("regular Gaussian grids (3.40 and GRIB1 type 4) read with root latitudes") {
    import graft.sources.grib.{GaussianGrid, Grib1Writer => GW}
    val gn = 4
    val lats = GaussianGrid.latitudes(gn) // 8 parallels
    val (gi, gj) = (5, lats.length)
    val vals = (0 until gj).flatMap(j => (0 until gi).map(i => 100.0 * j + i))
    // GRIB2 template 3.40
    val dir = java.nio.file.Files.createTempDirectory("gauss").toString
    val p2 = s"$dir/g.grib2"
    GW2.write(p2, Seq(GW2.FieldSpec(0, 0, 0, 103, 2, t0, vals, gi, gj,
      la1 = lats.head, lo1 = 0.0, la2 = lats.last, lo2 = 40.0,
      decimalScale = 1, gaussianN = gn)))
    val f2 = indexFields(new org.apache.hadoop.conf.Configuration(), p2).head
    assert(f2.gaussianN == gn)
    val got2 = GribReader.readLongFormat(spark, p2)
      .select($"latitude").distinct().orderBy($"latitude".desc)
      .as[Double].collect()
    got2.zip(lats).foreach { case (have, want) =>
      assert(math.abs(have - want) < 1e-9, s"GRIB2 parallel $have vs $want")
    }
    // the linear-interp answer would differ: root spacing is non-uniform
    assert(math.abs((got2(0) - got2(1)) - (got2(1) - got2(2))) > 1e-3)
    // GRIB1 grid type 4
    val p1 = s"$dir/g.grib"
    GW.write(p1, Seq(GW.FieldSpec(167, 105, 2, t0, vals, gi, gj,
      la1 = lats.head, lo1 = 0.0, la2 = lats.last, lo2 = 40.0,
      gaussianN = gn)))
    val got1 = GribReader.readLongFormat(spark, p1)
      .select($"latitude").distinct().orderBy($"latitude".desc)
      .as[Double].collect()
    got1.zip(lats).foreach { case (have, want) =>
      assert(math.abs(have - want) < 1e-9, s"GRIB1 parallel $have vs $want")
    }
    // values land on the right parallels
    val v = GribReader.readLongFormat(spark, p2)
      .filter($"longitude" === 10.0)
      .orderBy($"latitude".desc).select($"value").as[Double].collect()
    assert(v.toSeq == (0 until gj).map(100.0 * _ + 1.0))
  }

  test("reduced (quasi-regular) Gaussian grids read with ragged rows") {
    import graft.sources.grib.GaussianGrid
    val gn = 2
    val lats = GaussianGrid.latitudes(gn) // 4 parallels
    val pl = Seq(4, 8, 8, 4) // fewer points toward the poles (octahedral-ish)
    val vals = pl.zipWithIndex.flatMap { case (c, j) =>
      (0 until c).map(i => 100.0 * j + i)
    }
    val dir = java.nio.file.Files.createTempDirectory("redgauss").toString
    val p = s"$dir/red.grib2"
    GW2.write(p, Seq(GW2.FieldSpec(0, 0, 0, 103, 2, t0, vals,
      ni = 8, nj = pl.size,
      la1 = lats.head, lo1 = 0.0, la2 = lats.last, lo2 = 315.0,
      decimalScale = 0, gaussianN = gn, reducedPl = Some(pl))))
    val f = indexFields(new org.apache.hadoop.conf.Configuration(), p).head
    assert(f.pl.map(_.toSeq).contains(pl))
    assert(f.nPoints == pl.sum)
    val df = GribReader.readLongFormat(spark, p)
    assert(df.count() == pl.sum)
    // per-row longitude spacing: 360 / pl(row)
    val polar = df.filter($"latitude" > 50).orderBy($"longitude")
      .select($"longitude", $"value").as[(Double, Double)].collect()
    assert(polar.map(_._1).toSeq == Seq(0.0, 90.0, 180.0, 270.0))
    assert(polar.map(_._2).toSeq == Seq(0.0, 1.0, 2.0, 3.0))
    val tropical = df.filter($"latitude".between(10, 30)).orderBy($"longitude")
      .select($"longitude").as[Double].collect()
    assert(tropical.toSeq == (0 until 8).map(_ * 45.0))
    // Gaussian parallels, not linear
    val gotLats = df.select($"latitude").distinct()
      .orderBy($"latitude".desc).as[Double].collect()
    gotLats.zip(lats).foreach { case (have, want) =>
      assert(math.abs(have - want) < 1e-9)
    }
    // value at the last point of the last (short) row
    val last = df.orderBy($"latitude", $"longitude".desc).select($"value")
      .as[Double].head()
    assert(last == 303.0)
  }

  test("Lambert conformal and polar stereographic inverses round-trip") {
    import graft.sources.grib.GribProjection._
    val lcc = LambertConformal(latin1 = 38.5, latin2 = 38.5, lov = -97.5) // HRRR
    val lcc2 = LambertConformal(latin1 = 30.0, latin2 = 60.0, lov = 10.0)
    val psN = PolarStereographic(lad = 60.0, lov = -80.0, south = false)
    val psS = PolarStereographic(lad = -60.0, lov = 100.0, south = true)
    val pts = Seq((38.5, -97.5), (21.1, -122.7), (47.8, -60.9), (52.0, 15.0),
      (75.0, -45.0), (-70.0, 120.0), (-55.0, -170.0))
    for (proj <- Seq(lcc, lcc2, psN, psS); (lat, lon) <- pts
         if (proj != psS || lat < 0) && (proj == psS || lat > 0)) {
      val (x, y) = proj.forward(lat, lon)
      val (la, lo) = proj.inverse(x, y)
      assert(math.abs(la - lat) < 1e-9 && math.abs(lo - lon) < 1e-9,
        s"$proj: ($lat, $lon) -> ($x, $y) -> ($la, $lo)")
    }
    // the projection origin behaves: along lov, x = 0 and y increases north
    val (x0, y0) = lcc.forward(30.0, -97.5)
    val (x1, y1) = lcc.forward(45.0, -97.5)
    assert(math.abs(x0) < 1e-6 && math.abs(x1) < 1e-6 && y1 > y0)
  }

  test("ellipsoidal (oblate) projection inverses round-trip and keep unit scale") {
    import graft.sources.grib.GribProjection
    import graft.sources.grib.GribProjection._
    val a = 6378137.0; val bAx = 6356752.3142 // WGS 84
    val e2 = 1.0 - (bAx / a) * (bAx / a)
    val projs: Seq[(GribProjection, Double => Boolean)] = Seq(
      (LambertConformal(38.5, 38.5, -97.5, a, bAx), (lat: Double) => lat > 0),
      (LambertConformal(30.0, 60.0, 10.0, a, bAx), (lat: Double) => lat > 0),
      (PolarStereographic(60.0, -80.0, south = false, a, bAx), (lat: Double) => lat > 0),
      (PolarStereographic(-71.0, 100.0, south = true, a, bAx), (lat: Double) => lat < 0),
      // true scale AT the pole: the Snyder 21-33 closed-form limit
      (PolarStereographic(90.0, -45.0, south = false, a, bAx), (lat: Double) => lat > 0),
      (Mercator(20.0, a, bAx), (lat: Double) => math.abs(lat) < 85))
    val pts = Seq((38.5, -97.5), (21.1, -122.7), (52.0, 15.0), (75.0, -45.0),
      (-70.0, 120.0), (-55.0, -170.0), (5.0, 33.0))
    for ((proj, ok) <- projs; (lat, lon) <- pts if ok(lat)) {
      val (x, y) = proj.forward(lat, lon)
      val (la, lo) = proj.inverse(x, y)
      assert(math.abs(la - lat) < 1e-9 && math.abs(lo - lon) < 1e-9,
        s"$proj: ($lat, $lon) -> ($x, $y) -> ($la, $lo)")
    }
    // conformal normalization: the local scale factor is exactly 1 on the
    // standard parallels / true-scale latitude. Measured numerically (finite
    // difference along the parallel vs the ellipsoidal parallel radius
    // nu cos phi), so it checks n/F/k0 against geometry, not themselves.
    def scaleAt(p: GribProjection, lat: Double, lon: Double): Double = {
      val d = 1e-5
      val (x1, y1) = p.forward(lat, lon)
      val (x2, y2) = p.forward(lat, lon + math.toDegrees(d))
      val phi = math.toRadians(lat)
      val nu = a / math.sqrt(1 - e2 * math.sin(phi) * math.sin(phi))
      math.hypot(x2 - x1, y2 - y1) / (nu * math.cos(phi) * d)
    }
    val lcc = LambertConformal(33.0, 45.0, -96.0, a, bAx)
    assert(math.abs(scaleAt(lcc, 33.0, -96.0) - 1) < 1e-6)
    assert(math.abs(scaleAt(lcc, 45.0, -96.0) - 1) < 1e-6)
    assert(scaleAt(lcc, 39.0, -96.0) < 1.0) // secant: k < 1 between parallels
    val ps = PolarStereographic(60.0, -80.0, south = false, a, bAx)
    assert(math.abs(scaleAt(ps, 60.0, -80.0) - 1) < 1e-6)
    val mc = Mercator(20.0, a, bAx)
    assert(math.abs(scaleAt(mc, 20.0, 0.0) - 1) < 1e-6)
    assert(math.abs(scaleAt(mc, -20.0, 0.0) - 1) < 1e-6) // symmetric lad
    // equal axes collapse to the EXACT spherical code path
    for ((lat, lon) <- pts if lat > 0) {
      val sph = LambertConformal(30.0, 60.0, 10.0, a)
      val ell = LambertConformal(30.0, 60.0, 10.0, a, a)
      assert(sph.forward(lat, lon) == ell.forward(lat, lon))
    }
  }

  test("an oblate-declared GRIB2 grid round-trips writer -> reader") {
    import graft.sources.grib.GribProjection
    val a = 6378137.0; val bAx = 6356752.3142
    val lcc = GribProjection.LambertConformal(48.0, 48.0, 5.0, a, bAx)
    val (gi, gj) = (5, 4)
    val vals = (0 until gi * gj).map(_.toDouble)
    val dir = java.nio.file.Files.createTempDirectory("oblate").toString
    val p = s"$dir/oblate.grib2"
    GW2.write(p, Seq(GW2.FieldSpec(0, 0, 0, 103, 2, t0, vals, gi, gj,
      la1 = 45.0, lo1 = 0.0, la2 = 0, lo2 = 0, decimalScale = 0,
      projection = Some(lcc), dxMeters = 2500.0, dyMeters = 2500.0)))
    val f = indexFields(new org.apache.hadoop.conf.Configuration(), p).head
    val got = f.projection.get.asInstanceOf[GribProjection.LambertConformal]
    // axes survive the shape-7 centimetre encoding
    assert(math.abs(got.radius - a) < 0.01 && math.abs(got.minorAxis - bAx) < 0.01)
    val rows = GribReader.readLongFormat(spark, p)
      .orderBy($"value").select($"latitude", $"longitude", $"value").collect()
    assert(rows.length == gi * gj)
    assert(math.abs(rows(0).getDouble(0) - 45.0) < 1e-6)
    assert(math.abs(rows(0).getDouble(1) - 0.0) < 1e-6)
    // interior point agrees with the direct ellipsoidal inverse
    val (x0, y0) = lcc.forward(45.0, 0.0)
    val (wantLat, wantLon) = lcc.inverse(x0 + 3 * 2500.0, y0 + 2 * 2500.0)
    val r = rows(2 * gi + 3)
    assert(math.abs(r.getDouble(0) - wantLat) < 1e-7 &&
      math.abs(r.getDouble(1) - wantLon) < 1e-7)
    // the oblate figure MATTERS: a spherical read of the same walk would
    // land ~km away (guards against silently ignoring the minor axis)
    val sph = GribProjection.LambertConformal(48.0, 48.0, 5.0, a)
    val (sx0, sy0) = sph.forward(45.0, 0.0)
    val (sphLat, _) = sph.inverse(sx0 + 3 * 2500.0, sy0 + 2 * 2500.0)
    assert(math.abs(sphLat - wantLat) > 1e-5)
  }

  test("projected grids (3.30 Lambert / 3.20 polar stereo) read via inverse projection") {
    import graft.sources.grib.GribProjection
    val lcc = GribProjection.LambertConformal(38.5, 38.5, -97.5)
    val (gi, gj) = (6, 5)
    val vals = (0 until gi * gj).map(_.toDouble)
    val dir = java.nio.file.Files.createTempDirectory("lcc").toString
    val p = s"$dir/lcc.grib2"
    GW2.write(p, Seq(GW2.FieldSpec(0, 0, 0, 103, 2, t0, vals, gi, gj,
      la1 = 35.0, lo1 = -105.0, la2 = 0, lo2 = 0, decimalScale = 0,
      projection = Some(lcc), dxMeters = 3000.0, dyMeters = 3000.0)))
    val f = indexFields(new org.apache.hadoop.conf.Configuration(), p).head
    assert(f.projection.isDefined && f.dxMeters == 3000.0 && f.dyMeters == 3000.0)
    val rows = GribReader.readLongFormat(spark, p)
      .orderBy($"value").select($"latitude", $"longitude", $"value").collect()
    assert(rows.length == gi * gj)
    // first point decodes back to (la1, lo1)
    assert(math.abs(rows(0).getDouble(0) - 35.0) < 1e-6)
    assert(math.abs(rows(0).getDouble(1) + 105.0) < 1e-6)
    // an interior point matches the direct inverse computation
    val (x0, y0) = lcc.forward(35.0, -105.0)
    val k = 2 * gi + 4 // j = 2, i = 4
    val (wantLat, wantLon) = lcc.inverse(x0 + 4 * 3000.0, y0 + 2 * 3000.0)
    val r = rows(k)
    assert(math.abs(r.getDouble(0) - wantLat) < 1e-9 &&
      math.abs(r.getDouble(1) - wantLon) < 1e-9)
    // +j scan: later rows sit further north
    assert(rows(gi).getDouble(0) > rows(0).getDouble(0))
    // polar stereographic variant
    val ps = GribProjection.PolarStereographic(60.0, -80.0, south = false)
    val p2 = s"$dir/ps.grib2"
    GW2.write(p2, Seq(GW2.FieldSpec(0, 0, 0, 103, 2, t0, vals, gi, gj,
      la1 = 50.0, lo1 = -100.0, la2 = 0, lo2 = 0, decimalScale = 0,
      projection = Some(ps), dxMeters = 5000.0, dyMeters = 5000.0)))
    val rows2 = GribReader.readLongFormat(spark, p2)
      .orderBy($"value").select($"latitude", $"longitude").collect()
    assert(math.abs(rows2(0).getDouble(0) - 50.0) < 1e-6)
    assert(math.abs(rows2(0).getDouble(1) + 100.0) < 1e-6)
  }

  test("Albers equal-area grids (3.31) read via the Snyder inverse") {
    // template 3.31 shares 3.30's wire layout with a different mapping —
    // the NCEP conservation/land-products grid
    import graft.sources.grib.GribProjection
    val aea = GribProjection.AlbersEqualArea(29.5, 45.5, -96.0)
    val (gi, gj) = (6, 5)
    val vals = (0 until gi * gj).map(_.toDouble)
    val dir = java.nio.file.Files.createTempDirectory("aea").toString
    val p = s"$dir/aea.grib2"
    GW2.write(p, Seq(GW2.FieldSpec(0, 0, 0, 103, 2, t0, vals, gi, gj,
      la1 = 35.0, lo1 = -105.0, la2 = 0, lo2 = 0, decimalScale = 0,
      projection = Some(aea), dxMeters = 4000.0, dyMeters = 4000.0)))
    val f = indexFields(
      new org.apache.hadoop.conf.Configuration(), p).head
    assert(f.projection.exists(_.isInstanceOf[GribProjection.AlbersEqualArea]))
    val rows = GribReader.readLongFormat(spark, p)
      .orderBy($"value").select($"latitude", $"longitude", $"value").collect()
    assert(rows.length == gi * gj)
    assert(math.abs(rows(0).getDouble(0) - 35.0) < 1e-6)
    assert(math.abs(rows(0).getDouble(1) + 105.0) < 1e-6)
    val (x0, y0) = aea.forward(35.0, -105.0)
    val (wantLat, wantLon) = aea.inverse(x0 + 3 * 4000.0, y0 + 2 * 4000.0)
    val r = rows(2 * gi + 3)
    assert(math.abs(r.getDouble(0) - wantLat) < 1e-9 &&
      math.abs(r.getDouble(1) - wantLon) < 1e-9)
    // and it virtualizes through the projected scanGrib path
    val refsPath = s"$dir/aea.refs.json"
    java.nio.file.Files.write(java.nio.file.Paths.get(refsPath),
      graft.sources.zarr.Kerchunk.scanGrib(
        new org.apache.hadoop.conf.Configuration(), p).getBytes("UTF-8"))
    val vdf = spark.read.format("zarr").load(refsPath)
    assert(vdf.columns.toSet ==
      Set("time", "y", "x", "2t", "latitude", "longitude"))
    assert(vdf.count() == gi * gj)
    assert(vdf.filter(abs($"latitude" - 35.0) < 1e-6 &&
      abs($"longitude" + 105.0) < 1e-6).count() == 1)
  }

  test("Lambert azimuthal equal-area grids (3.140) read via the Snyder inverse") {
    import graft.sources.grib.GribProjection
    // spherical round-trip over a lattice (Snyder 24-1/24-2 vs 20-14..18)
    val sph = GribProjection.LambertAzimuthalEqualArea(52.0, 10.0)
    for (lat <- Seq(35.0, 48.0, 52.0, 60.0, 71.5); lon <- Seq(-10.0, 0.0, 10.0, 31.0)) {
      val (x, y) = sph.forward(lat, lon)
      val (la, lo) = sph.inverse(x, y)
      assert(math.abs(la - lat) < 1e-9 && math.abs(lo - lon) < 1e-9,
        s"sph ($lat,$lon) -> ($x,$y) -> ($la,$lo)")
    }
    assert(sph.forward(52.0, 10.0) == (0.0, 0.0))
    // ellipsoidal (GRS80, the EPSG:3035 figure): round-trips, anchors at
    // the projection centre, and is NOT the spherical mapping
    val grs = GribProjection.LambertAzimuthalEqualArea(52.0, 10.0,
      radius = 6378137.0, minorAxis = 6356752.314140)
    for (lat <- Seq(35.0, 48.0, 52.0, 60.0, 71.5); lon <- Seq(-10.0, 0.0, 10.0, 31.0)) {
      val (x, y) = grs.forward(lat, lon)
      val (la, lo) = grs.inverse(x, y)
      assert(math.abs(la - lat) < 1e-9 && math.abs(lo - lon) < 1e-9,
        s"grs ($lat,$lon) -> ($x,$y) -> ($la,$lo)")
    }
    val (gx, gy) = grs.forward(48.0, 2.0)
    val (sx, sy) = sph.forward(48.0, 2.0)
    assert(math.abs(gx - sx) > 100 || math.abs(gy - sy) > 100)
    // axes-equal ellipsoid collapses to the spherical path bit-identically
    val eq = GribProjection.LambertAzimuthalEqualArea(52.0, 10.0,
      radius = GribProjection.EarthRadius,
      minorAxis = GribProjection.EarthRadius)
    assert(eq.forward(48.0, 2.0) == sph.forward(48.0, 2.0))

    // wire round-trip through template 3.140 (EFAS-like grid)
    val (gi, gj) = (6, 5)
    val vals = (0 until gi * gj).map(_.toDouble)
    val dir = java.nio.file.Files.createTempDirectory("laea").toString
    val p = s"$dir/laea.grib2"
    GW2.write(p, Seq(GW2.FieldSpec(0, 0, 0, 103, 2, t0, vals, gi, gj,
      la1 = 48.0, lo1 = 2.0, la2 = 0, lo2 = 0, decimalScale = 0,
      projection = Some(grs), dxMeters = 5000.0, dyMeters = 5000.0)))
    val f = indexFields(
      new org.apache.hadoop.conf.Configuration(), p).head
    assert(f.projection.exists(
      _.isInstanceOf[GribProjection.LambertAzimuthalEqualArea]))
    val rows = GribReader.readLongFormat(spark, p)
      .orderBy($"value").select($"latitude", $"longitude", $"value").collect()
    assert(rows.length == gi * gj)
    assert(math.abs(rows(0).getDouble(0) - 48.0) < 1e-6)
    assert(math.abs(rows(0).getDouble(1) - 2.0) < 1e-6)
    val (x0, y0) = grs.forward(48.0, 2.0)
    val (wantLat, wantLon) = grs.inverse(x0 + 4 * 5000.0, y0 + 3 * 5000.0)
    val r = rows(3 * gi + 4)
    assert(math.abs(r.getDouble(0) - wantLat) < 1e-9 &&
      math.abs(r.getDouble(1) - wantLon) < 1e-9)
    // and the virtual path serves it as [time, y, x] + synthesized lat/lon
    val refsPath = s"$dir/laea.refs.json"
    java.nio.file.Files.write(java.nio.file.Paths.get(refsPath),
      graft.sources.zarr.Kerchunk.scanGrib(
        new org.apache.hadoop.conf.Configuration(), p).getBytes("UTF-8"))
    val vdf = spark.read.format("zarr").load(refsPath)
    assert(vdf.count() == gi * gj)
    assert(vdf.filter(abs($"latitude" - 48.0) < 1e-6 &&
      abs($"longitude" - 2.0) < 1e-6).count() == 1)
  }

  test("probability products (4.5/4.9) demux into per-threshold channels") {
    val dir = java.nio.file.Files.createTempDirectory("prob").toString
    val p = s"$dir/prob.grib2"
    val vals = (0 until 12).map(k => (k * 7 % 101).toDouble)
    def spec(prob: (Int, Double, Double), statP: Int) = GW2.FieldSpec(
      discipline = 0, category = 1, number = 8, levelType = 1,
      levelScaledValue = 0, refTime = t0, values = vals, ni = 4, nj = 3,
      la1 = 50.0, lo1 = 0.0, la2 = 48.0, lo2 = 3.0,
      forecastTime = 6, statProcess = statP, decimalScale = 0,
      probability = Some(prob))
    // 4.5 instant, above lower limit 1 mm; 4.9 accumulated, between
    // 0.5 and 2.5 mm; 4.9 with an unused (NaN) upper limit
    GW2.write(p, Seq(
      spec((1, 1.0, Double.NaN), -1),
      spec((2, 0.5, 2.5), 1),
      spec((0, 0.25, Double.NaN), 1)))
    val fs = indexFields(new org.apache.hadoop.conf.Configuration(), p)
    assert(fs.map(_.shortName) ==
      Seq("tp_p1_l1", "tp_p2_l0p5_u2p5", "tp_p0_l0p25"))
    assert(fs(0).stepType == "instant" && fs(1).stepType == "accum")
    assert(fs(0).probability.contains((1, 1.0, Double.NaN)) == false) // NaN != NaN
    assert(fs(0).probability.get._1 == 1 && fs(0).probability.get._2 == 1.0 &&
      fs(0).probability.get._3.isNaN)
    assert(fs(1).probability.contains((2, 0.5, 2.5)))
    // 4.9 carries the interval end: valid time = ref + 6 h
    assert(fs(1).validTimeEpochSec == fs(0).validTimeEpochSec)
    // values decode exactly; channels stay distinct through the long format
    val df = GribReader.readLongFormat(spark, p)
    assert(df.select($"short_name").distinct().count() == 3)
    val got = df.filter($"short_name" === "tp_p2_l0p5_u2p5")
      .orderBy($"latitude".desc, $"longitude").select($"value")
      .as[Double].collect()
    assert(got.toSeq == vals)
  }

  test("fuzz: rotated/probability/ensemble/radius combinations round-trip") {
    import graft.sources.grib.GribProjection
    val rnd = new scala.util.Random(2026)
    val dir = java.nio.file.Files.createTempDirectory("g2fuzz").toString
    val conf = new org.apache.hadoop.conf.Configuration()
    (0 until 8).foreach { trial =>
      val ni = 2 + rnd.nextInt(6)
      val nj = 2 + rnd.nextInt(5)
      val vals = (0 until ni * nj).map(_ => rnd.nextInt(4096).toDouble)
      val rot =
        if (trial % 2 == 0)
          Some(GribProjection.RotatedLatLon(
            -20.0 - rnd.nextInt(50), rnd.nextInt(360) - 180,
            Array(0.0f, 10.0f, -35.0f)(rnd.nextInt(3)).toDouble))
        else None
      val prob =
        if (trial % 4 < 2) None
        else Some((rnd.nextInt(5),
          if (rnd.nextBoolean()) rnd.nextInt(2000) / 1000.0 else Double.NaN,
          if (rnd.nextBoolean()) 2.0 + rnd.nextInt(3000) / 1000.0 else Double.NaN))
      val member = if (prob.isEmpty && trial % 4 == 1) rnd.nextInt(50) else -1
      val statP = if (rnd.nextBoolean()) 1 else -1
      val la1 = 30.0 + rnd.nextInt(30)
      val lo1 = rnd.nextInt(90) - 45.0
      val p = s"$dir/t$trial.grib2"
      GW2.write(p, Seq(GW2.FieldSpec(0, 1, 8, 103, 2, t0, vals, ni, nj,
        la1 = la1, lo1 = lo1, la2 = la1 - (nj - 1) * 0.5,
        lo2 = lo1 + (ni - 1) * 0.5,
        forecastTime = 3, statProcess = statP, decimalScale = 0,
        ensembleMember = member, probability = prob, projection = rot)))
      val f = indexFields(conf, p).head
      // exact value decode regardless of the header combination
      val data = {
        val raf = new java.io.RandomAccessFile(p, "r")
        val b = new Array[Byte](f.dataBytes); raf.seek(f.dataOffset)
        raf.readFully(b); raf.close(); b
      }
      assert(f.decode(data, null).toSeq == vals, s"trial $trial values")
      // metadata round-trips
      assert(f.projection == rot, s"trial $trial rot")
      prob.foreach { case (t, lo, up) =>
        val (gt, glo, gup) = f.probability.get
        assert(gt == t && (lo.isNaN && glo.isNaN || lo == glo) &&
          (up.isNaN && gup.isNaN || up == gup), s"trial $trial prob")
      }
      assert(f.ensembleMember == member || prob.isDefined, s"trial $trial member")
      // coords: rotated grids unrotate the interpolated rotated coords
      rot.foreach { r =>
        val k = rnd.nextInt(ni * nj)
        val (wantLat, wantLon) =
          r.inverse(lo1 + (k % ni) * 0.5, la1 - (k / ni) * 0.5)
        val (gla, glo2) = f.coordOf(k)
        assert(math.abs(gla - wantLat) < 1e-5 && math.abs(glo2 - wantLon) < 1e-5,
          s"trial $trial coord $k")
      }
    }
  }

  test("shape of earth: projected grids honor the declared sphere radius") {
    import graft.sources.grib.GribProjection
    val dir = java.nio.file.Files.createTempDirectory("shape").toString
    val vals = (0 until 12).map(_.toDouble)
    // custom radius (shape 1, cm-scaled) round-trips and changes the
    // inverse-projected coordinates of non-origin points
    val r0 = GribProjection.EarthRadius
    val rCustom = 6367470.0 // the shape-0 sphere, written as shape 1
    def write(path: String, radius: Double): Unit =
      GW2.write(path, Seq(GW2.FieldSpec(0, 0, 0, 103, 2, t0, vals, 4, 3,
        la1 = 35.0, lo1 = -105.0, la2 = 0, lo2 = 0, decimalScale = 0,
        projection = Some(GribProjection.LambertConformal(38.5, 38.5, -97.5,
          radius = radius)),
        dxMeters = 30000.0, dyMeters = 30000.0)))
    val pStd = s"$dir/std.grib2"; val pCus = s"$dir/cus.grib2"
    write(pStd, r0); write(pCus, rCustom)
    val conf = new org.apache.hadoop.conf.Configuration()
    val fStd = indexFields(conf, pStd).head
    val fCus = indexFields(conf, pCus).head
    assert(fStd.projection.get
      .asInstanceOf[GribProjection.LambertConformal].radius == r0)
    assert(fCus.projection.get
      .asInstanceOf[GribProjection.LambertConformal].radius == rCustom)
    // same first point, different interior points (the radius matters)
    assert(fStd.coordOf(0) == fCus.coordOf(0))
    val (laS, loS) = fStd.coordOf(11)
    val (laC, loC) = fCus.coordOf(11)
    assert(math.abs(laS - laC) > 1e-4 || math.abs(loS - loC) > 1e-4)
    // the custom point matches a direct inverse at the custom radius
    val lccC = GribProjection.LambertConformal(38.5, 38.5, -97.5, rCustom)
    val (x0, y0) = lccC.forward(35.0, -105.0)
    val want = lccC.inverse(x0 + 3 * 30000.0, y0 + 2 * 30000.0)
    assert(math.abs(laC - want._1) < 1e-9 && math.abs(loC - want._2) < 1e-9)
    // a fixed oblate shape code selects the named figure's axes
    val raw = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(pStd))
    // find section 3 (starts after 16-byte indicator + 21-byte section 1)
    val s3 = 16 + 21
    assert(raw(s3 + 4) == 3)
    raw(s3 + 14) = 2 // oblate IAU-65
    val pObl = s"$dir/obl.grib2"
    java.nio.file.Files.write(java.nio.file.Paths.get(pObl), raw)
    val lObl = indexFields(conf, pObl).head.projection.get
      .asInstanceOf[GribProjection.LambertConformal]
    assert(lObl.radius == 6378160.0 && lObl.minorAxis == 6356775.0)
    // and the figure changes interior coordinates vs the sphere
    val (laO, loO) = indexFields(conf, pObl).head.coordOf(11)
    assert(math.abs(laO - laS) > 1e-4 || math.abs(loO - loS) > 1e-4)
    // a reserved shape code still fails directed
    raw(s3 + 14) = 12
    val pBad = s"$dir/bad.grib2"
    java.nio.file.Files.write(java.nio.file.Paths.get(pBad), raw)
    val e = intercept[Exception] { indexFields(conf, pBad) }
    assert(e.getMessage.contains("shape of earth 12"), e.getMessage)
  }

  test("basic angle (3.0 octets 39-46) rescales coordinate units") {
    // a 1/3-degree grid encoded with basic angle 1 / subdivisions 3 must
    // read the same coordinates as the equivalent microdegree encoding
    val dir = java.nio.file.Files.createTempDirectory("bangle").toString
    val p = s"$dir/micro.grib2"
    val vals = (0 until 12).map(_.toDouble)
    GW2.write(p, Seq(GW2.FieldSpec(0, 0, 0, 103, 2, t0, vals, 4, 3,
      la1 = 50.0, lo1 = 0.0, la2 = 49.0 + 1.0 / 3, lo2 = 1.0,
      decimalScale = 0)))
    val conf = new org.apache.hadoop.conf.Configuration()
    val raw = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))
    val s3 = 16 + 21
    assert(raw(s3 + 4) == 3)
    def putU32At(off: Int, v: Long): Unit = {
      raw(off) = ((v >> 24) & 0xff).toByte; raw(off + 1) = ((v >> 16) & 0xff).toByte
      raw(off + 2) = ((v >> 8) & 0xff).toByte; raw(off + 3) = (v & 0xff).toByte
    }
    putU32At(s3 + 38, 1L)   // basic angle
    putU32At(s3 + 42, 3L)   // subdivisions: unit = 1/3 degree
    putU32At(s3 + 46, 150L) // la1 = 50
    putU32At(s3 + 50, 0L)   // lo1 = 0
    putU32At(s3 + 55, 148L) // la2 = 49 1/3
    putU32At(s3 + 59, 3L)   // lo2 = 1
    val p2 = s"$dir/basic.grib2"
    java.nio.file.Files.write(java.nio.file.Paths.get(p2), raw)
    val micro = indexFields(conf, p).head
    val basic = indexFields(conf, p2).head
    (0 until 12).foreach { k =>
      val (la1c, lo1c) = micro.coordOf(k)
      val (la2c, lo2c) = basic.coordOf(k)
      assert(math.abs(la1c - la2c) < 1e-6 && math.abs(lo1c - lo2c) < 1e-6,
        s"k=$k ($la1c,$lo1c) vs ($la2c,$lo2c)")
    }
    assert(math.abs(basic.la1 - 50.0) < 1e-12 &&
      math.abs(basic.la2 - (49.0 + 1.0 / 3)) < 1e-9)
  }

  test("rotated lat/lon: pole math, GRIB2 3.1 and GRIB1 type 10 read unrotated") {
    import graft.sources.grib.{GribProjection, Grib1Writer => GW}
    import GribProjection.RotatedLatLon
    // unrotated pole is the identity
    val id = RotatedLatLon(-90.0, 0.0)
    for ((la, lo) <- Seq((0.0, 0.0), (48.2, 16.4), (-33.9, 151.2))) {
      val (la2, lo2) = id.inverse(lo, la)
      assert(math.abs(la2 - la) < 1e-12 && math.abs(lo2 - lo) < 1e-12)
    }
    // COSMO-EU pole: rotated origin sits at true (50, 10); the rotated
    // north pole sits at true (40, -170)
    val cosmo = RotatedLatLon(-40.0, 10.0)
    val (oLat, oLon) = cosmo.inverse(0.0, 0.0)
    assert(math.abs(oLat - 50.0) < 1e-9 && math.abs(oLon - 10.0) < 1e-9)
    val (pLat, pLon) = cosmo.inverse(0.0, 90.0)
    assert(math.abs(pLat - 40.0) < 1e-9 && math.abs(pLon + 170.0) < 1e-9)
    // forward/inverse round-trip, with and without an angle of rotation
    for (r <- Seq(cosmo, RotatedLatLon(-35.0, -15.0, 25.0));
         (la, lo) <- Seq((50.0, 10.0), (62.3, -8.7), (37.1, 29.9))) {
      val (xr, yr) = r.forward(la, lo)
      val (la2, lo2) = r.inverse(xr, yr)
      assert(math.abs(la2 - la) < 1e-9 && math.abs(lo2 - lo) < 1e-9,
        s"$r: ($la, $lo) -> ($xr, $yr) -> ($la2, $lo2)")
    }
    // GRIB2 template 3.1: coordinates come back unrotated
    val (gi, gj) = (5, 4)
    val vals = (0 until gi * gj).map(_.toDouble)
    val dir = java.nio.file.Files.createTempDirectory("rot").toString
    val rot = RotatedLatLon(-40.0, 10.0, 15.0f)
    val p2 = s"$dir/rot.grib2"
    GW2.write(p2, Seq(GW2.FieldSpec(0, 0, 0, 103, 2, t0, vals, gi, gj,
      la1 = 1.5, lo1 = -2.0, la2 = -1.5, lo2 = 2.0, decimalScale = 0,
      projection = Some(rot))))
    val f = indexFields(new org.apache.hadoop.conf.Configuration(), p2).head
    assert(f.projection.contains(rot))
    val rows = GribReader.readLongFormat(spark, p2)
      .orderBy($"value").select($"latitude", $"longitude", $"value").collect()
    assert(rows.length == gi * gj)
    rows.zipWithIndex.foreach { case (r, k) =>
      val latR = 1.5 - (k / gi) * 1.0
      val lonR = -2.0 + (k % gi) * 1.0
      val (wantLat, wantLon) = rot.inverse(lonR, latR)
      assert(math.abs(r.getDouble(0) - wantLat) < 1e-6 &&
        math.abs(r.getDouble(1) - wantLon) < 1e-6,
        s"k=$k got (${r.getDouble(0)}, ${r.getDouble(1)}) want ($wantLat, $wantLon)")
    }
    // GRIB1 grid type 10: same grid through the edition-1 path (angle 0 —
    // the IBM-float angle octets round-trip exactly for 0)
    val rot1 = RotatedLatLon(-40.0, 10.0)
    val p1 = s"$dir/rot.grib"
    GW.write(p1, Seq(GW.FieldSpec(167, 105, 2, t0, vals, ni = gi, nj = gj,
      la1 = 1.5, lo1 = -2.0, la2 = -1.5, lo2 = 2.0, rotated = Some(rot1))))
    val rows1 = GribReader.readLongFormat(spark, p1)
      .orderBy($"value").select($"latitude", $"longitude", $"value").collect()
    assert(rows1.length == gi * gj)
    rows1.zipWithIndex.foreach { case (r, k) =>
      val (wantLat, wantLon) =
        rot1.inverse(-2.0 + (k % gi) * 1.0, 1.5 - (k / gi) * 1.0)
      assert(math.abs(r.getDouble(0) - wantLat) < 1e-6 &&
        math.abs(r.getDouble(1) - wantLon) < 1e-6)
    }
  }

  test("Mercator grids (3.10) and GRIB1 reduced Gaussian read natively") {
    import graft.sources.grib.{GaussianGrid, GribProjection, Grib1Writer => GW}
    val dir = java.nio.file.Files.createTempDirectory("merc").toString
    // Mercator round-trip
    val merc = GribProjection.Mercator(lad = 20.0)
    val (mx, my) = merc.forward(12.3, 45.6)
    val (la, lo) = merc.inverse(mx, my)
    assert(math.abs(la - 12.3) < 1e-9 && math.abs(lo - 45.6) < 1e-9)
    val vals = (0 until 12).map(_.toDouble)
    val pm = s"$dir/m.grib2"
    GW2.write(pm, Seq(GW2.FieldSpec(0, 0, 0, 103, 2, t0, vals, 4, 3,
      la1 = -5.0, lo1 = 100.0, la2 = 0, lo2 = 0, decimalScale = 0,
      projection = Some(merc), dxMeters = 20000.0, dyMeters = 20000.0)))
    val rows = GribReader.readLongFormat(spark, pm)
      .orderBy($"value").select($"latitude", $"longitude").collect()
    assert(math.abs(rows(0).getDouble(0) + 5.0) < 1e-6)
    assert(math.abs(rows(0).getDouble(1) - 100.0) < 1e-6)
    assert(rows(4).getDouble(0) > rows(0).getDouble(0)) // +j: north
    // GRIB1 reduced Gaussian: ragged rows through the PV/PL mechanism
    val gn = 2
    val lats = GaussianGrid.latitudes(gn)
    val pl = Seq(4, 8, 8, 4)
    val rvals = pl.zipWithIndex.flatMap { case (c, j) => (0 until c).map(i => 100.0 * j + i) }
    val p1 = s"$dir/red.grib"
    GW.write(p1, Seq(GW.FieldSpec(167, 105, 2, t0, rvals, ni = 8, nj = pl.size,
      la1 = lats.head, lo1 = 0.0, la2 = lats.last, lo2 = 315.0,
      gaussianN = gn, reducedPl = Some(pl))))
    val df = GribReader.readLongFormat(spark, p1)
    assert(df.count() == pl.sum)
    val polar = df.filter($"latitude" > 50).orderBy($"longitude")
      .select($"longitude").as[Double].collect()
    assert(polar.toSeq == Seq(0.0, 90.0, 180.0, 270.0))
    val gotLats = df.select($"latitude").distinct().orderBy($"latitude".desc)
      .as[Double].collect()
    gotLats.zip(lats).foreach { case (h, w) => assert(math.abs(h - w) < 1e-9) }
  }

  test("ensemble templates (4.1/4.11) demux members into channels") {
    val dir = java.nio.file.Files.createTempDirectory("ens").toString
    val p = s"$dir/ens.grib2"
    def member(m: Int, stat: Int) = GW2.FieldSpec(0, 0, 0, 103, 2, t0,
      gridVals((j, i) => 270.0 + m * 10 + j + 0.25 * i), ni, nj,
      la1 = 60.0, lo1 = -10.0, la2 = 45.0, lo2 = 10.0,
      forecastTime = 6, decimalScale = 2, statProcess = stat,
      ensembleMember = m)
    GW2.write(p, Seq(member(0, -1), member(1, -1), member(2, 1)))
    val fields = indexFields(new org.apache.hadoop.conf.Configuration(), p)
    assert(fields.map(_.ensembleMember) == Seq(0, 1, 2))
    assert(fields(0).shortName == "2t_m0" && fields(1).shortName == "2t_m1")
    assert(fields(2).stepType == "accum") // 4.11 carries the interval stat
    // derived ensemble products: instant (4.2) and over-interval (4.12 —
    // ENS means of accumulations) mean/spread channels
    val pd = s"$dir/derived.grib2"
    GW2.write(pd, Seq(member(1000, -1), member(1004, -1), member(1000, 1)))
    val dFields = indexFields(new org.apache.hadoop.conf.Configuration(), pd)
    assert(dFields.map(_.shortName) == Seq("2t_em", "2t_es", "2t_em"))
    assert(dFields.map(_.stepType) == Seq("instant", "instant", "accum"))
    // 4.12 carries the interval end explicitly: valid = ref + 6 h
    assert(dFields(2).intervalEndEpochSec ==
      dFields(0).refTimeEpochSec + 6 * 3600)
    val merged = GribReader.readMerged(spark, p)
    val cols = merged.columns.filter(_.contains("_m"))
    assert(cols.length == 3, s"member channels: ${cols.toSeq}")
    // member values stay separate through the pivot
    val r = merged.filter($"latitude" === 60.0 && $"longitude" === -10.0).head()
    val c0 = merged.columns.find(_.contains("2t_m0")).get
    val c1 = merged.columns.find(_.contains("2t_m1")).get
    assert(r.getAs[Double](c1) - r.getAs[Double](c0) == 10.0)
  }

  test("unsupported templates raise directed errors") {
    val raw = GW2.message(GW2.FieldSpec(0, 0, 0, 103, 2, t0,
      Seq(1.0, 2.0), 2, 1, 0.0, 0.0, 0.0, 1.0))
    // patch grid template number (section 3 starts at 16+21; template at +12)
    val dir = java.nio.file.Files.createTempDirectory("grib2bad").toString
    raw(16 + 21 + 13) = 110 // template 3.110 azimuthal equidistant (unsupported)
    val p = s"$dir/bad.grib2"
    val os = new java.io.FileOutputStream(p); os.write(raw); os.close()
    val e = intercept[graft.sources.grib.Grib1.UnsupportedGrib](
      indexFields(new org.apache.hadoop.conf.Configuration(), p))
    assert(e.getMessage.contains("grid template"))
    // a 5.0-sized section claiming template 5.50 is malformed (truncated)
    val raw2 = GW2.message(GW2.FieldSpec(0, 0, 0, 103, 2, t0,
      Seq(1.0, 2.0), 2, 1, 0.0, 0.0, 0.0, 1.0))
    raw2(16 + 21 + 72 + 34 + 10) = 50 // section-5 template number low byte
    val p2 = s"$dir/bad50.grib2"
    val os2 = new java.io.FileOutputStream(p2); os2.write(raw2); os2.close()
    val e2 = intercept[graft.sources.grib.Grib1.UnsupportedGrib](
      indexFields(new org.apache.hadoop.conf.Configuration(), p2))
    assert(e2.getMessage.contains("5.50") || e2.getMessage.contains("template 5."))
    // column-major / boustrophedonic scan orders fail fast in both editions
    // (interpolation would misplace every non-first row silently)
    for (bit <- Seq(0x20, 0x10)) {
      val r3 = GW2.message(GW2.FieldSpec(0, 0, 0, 103, 2, t0,
        Seq(1.0, 2.0), 2, 1, 0.0, 0.0, 0.0, 1.0))
      r3(16 + 21 + 71) = bit.toByte // section-3 scan mode octet 72
      val p3 = s"$dir/scan$bit.grib2"
      java.nio.file.Files.write(java.nio.file.Paths.get(p3), r3)
      val e3 = intercept[graft.sources.grib.Grib1.UnsupportedGrib](
        indexFields(new org.apache.hadoop.conf.Configuration(), p3))
      assert(e3.getMessage.contains("scan mode"), e3.getMessage)
      val g1 = graft.sources.grib.Grib1Writer.message(
        graft.sources.grib.Grib1Writer.FieldSpec(167, 105, 2, t0,
          Seq(1.0, 2.0), 2, 1, 60.0, 0.0, 59.0, 1.0))
      g1(8 + 28 + 27) = bit.toByte // GDS scan mode octet 28
      val p4 = s"$dir/scan$bit.grib"
      java.nio.file.Files.write(java.nio.file.Paths.get(p4), g1)
      val e4 = intercept[graft.sources.grib.Grib1.UnsupportedGrib](
        GribIndex.indexFile(new org.apache.hadoop.conf.Configuration(), p4))
      assert(e4.getMessage.contains("scan mode"), e4.getMessage)
    }
  }

  test("spectral fields (3.50 + 5.50/5.51) round-trip coefficient-exact") {
    import graft.sources.grib.Grib2
    val dir = java.nio.file.Files.createTempDirectory("grib2sh").toString
    val t = 9 // T9 triangular: 55 complex coefficients, 110 values
    val nCoeff = (t + 1) * (t + 2) / 2
    // integer-valued coefficients so E=0/D=0 packing is exact
    val vals = (0 until 2 * nCoeff).map(k => ((k * 37) % 501 - 250).toDouble)
    def spec(packing: Int, sub: Int = -1, p: Double = 0.0) =
      GW2.FieldSpec(0, 3, 5, 100, 50000, t0, vals, 2 * nCoeff, 1,
        0.0, 0.0, 0.0, 0.0, decimalScale = 0, bitsPerValue = 24,
        packing = packing, spectralT = t, subTruncation = sub, laplacianP = p)
    val p50 = s"$dir/t50.grib2"
    GW2.write(p50, Seq(spec(50)))
    val p51 = s"$dir/t51.grib2"
    GW2.write(p51, Seq(spec(51, sub = 3, p = 1.0)))

    // header parse: truncation + spectral params land on the Field
    val f50 = indexFields(new org.apache.hadoop.conf.Configuration(), p50).head
    assert(f50.spectral.exists(s => s.m == t && s.template == 50))
    assert(f50.spectral.get.realPart00 == vals.head)
    val f51 = indexFields(new org.apache.hadoop.conf.Configuration(), p51).head
    val sp51 = f51.spectral.get
    assert(sp51.template == 51 && sp51.subT == 3 && sp51.laplacianP == 1.0)
    assert(sp51.ts == 2 * (3 + 1) * (3 + 2) / 2) // IEEE subset value count

    // value decode: both packings reproduce every coefficient exactly
    // (integer values, E=0, D=0, integer Laplacian scaling)
    for (p <- Seq(p50, p51)) {
      val df = GribReader.readSpectral(spark, p)
      assert(df.columns.toSeq ==
        Seq("time", "short_name", "level", "m", "n", "re", "im"))
      assert(df.count() == nCoeff)
      val got = df.orderBy($"m", $"n").select($"re", $"im").collect()
        .flatMap(r => Seq(r.getDouble(0), r.getDouble(1))).toSeq
      // rows stream m-major: (m=0, n=0..9), (m=1, n=1..9), ... = write order
      assert(got == vals, s"$p coefficient mismatch")
      assert(df.head().getAs[String]("short_name") == "gh")
      assert(df.head().getAs[Double]("level") == 500.0)
    }
    // the grid long-format reader refuses to fake lat/lon for spectral data
    val eg = intercept[graft.sources.grib.Grib1.UnsupportedGrib](
      GribReader.readLongFormat(spark, p50))
    assert(eg.getMessage.contains("readSpectral"), eg.getMessage)
    // pentagonal (non-triangular) truncation is a directed error
    val raw = GW2.message(spec(50))
    raw(16 + 21 + 17) = (t + 1).toByte // K low byte != J
    val pBad = s"$dir/pent.grib2"
    val os = new java.io.FileOutputStream(pBad); os.write(raw); os.close()
    val e = intercept[graft.sources.grib.Grib1.UnsupportedGrib](
      indexFields(new org.apache.hadoop.conf.Configuration(), pBad))
    assert(e.getMessage.contains("triangular"), e.getMessage)
  }

  test("projected grids honor the -i scan bit (columns walk westward)") {
    import graft.sources.grib.GribProjection
    val dir = java.nio.file.Files.createTempDirectory("g2negi").toString
    val merc = GribProjection.Mercator(20.0, 6378137.0, 6356752.31)
    val msg = GW2.message(GW2.FieldSpec(0, 0, 0, 103, 2,
      java.time.LocalDateTime.of(2027, 3, 1, 0, 0),
      (0 until 20).map(_.toDouble), ni = 5, nj = 4,
      la1 = 10.0, lo1 = 30.0, la2 = 0, lo2 = 0, decimalScale = 0,
      projection = Some(merc), dxMeters = 50000.0, dyMeters = 40000.0))
    // flip scan bit 1 (0x80): rows now run east -> west from the first
    // point; template 3.10's scan octet is at section offset 59
    var off = 16
    def u32be(o: Int): Int =
      ((msg(o) & 0xff) << 24) | ((msg(o + 1) & 0xff) << 16) |
        ((msg(o + 2) & 0xff) << 8) | (msg(o + 3) & 0xff)
    while (msg(off + 4) != 3) off += u32be(off)
    msg(off + 59) = (msg(off + 59) | 0x80).toByte
    val p = s"$dir/negi.grib2"
    java.nio.file.Files.write(java.nio.file.Paths.get(p), msg)
    val rows = GribReader.readLongFormat(spark, p)
      .orderBy($"value").select($"latitude", $"longitude", $"value").collect()
    val (x0, y0) = merc.forward(10.0, 30.0)
    rows.foreach { r =>
      val k = r.getDouble(2).toInt
      val (lat, lon) = merc.inverse(x0 - (k % 5) * 50000.0,
        y0 + (k / 5) * 40000.0)
      assert(math.abs(r.getDouble(0) - lat) < 1e-9 &&
        math.abs(r.getDouble(1) - lon) < 1e-9, s"point $k")
    }
  }

  test("space view (3.90): off-limb pixels carry NaN coordinates") {
    import graft.sources.grib.GribProjection
    val dir = java.nio.file.Files.createTempDirectory("g2sv").toString
    val geos = GribProjection.Geostationary(0.0, (6.6107 - 1.0) * 6378137.0,
      sweepX = false, 6378137.0, 6356752.31)
    // 4x1 sector straddling the eastern limb: disk = 500 grid lengths
    // (half-disk = 250 pixels); columns sit at 248.5, 249.5, 250.5, 251.5
    // pixels east of the sub-satellite point -> two on-disk, two beyond
    val p = s"$dir/sv.grib2"
    GW2.write(p, Seq(GW2.FieldSpec(0, 0, 0, 103, 2,
      java.time.LocalDateTime.of(2027, 3, 1, 0, 0),
      Seq(1.0, 2.0, 3.0, 4.0), ni = 4, nj = 1,
      la1 = 0, lo1 = 0, la2 = 0, lo2 = 0, decimalScale = 0,
      projection = Some(geos), dxMeters = 1.0, dyMeters = -1.0,
      spaceView = Some(GW2.SpaceView(nrRaw = 6610700, dx = 500, dy = 500,
        xpMilli = -248500, ypMilli = 0)))))
    val rows = GribReader.readLongFormat(spark, p)
      .orderBy($"value")
      .select($"latitude", $"longitude", $"value").collect()
    assert(rows.length == 4)
    // on-disk: equatorial points east of the sub-satellite meridian
    assert(!rows(0).getDouble(0).isNaN && rows(0).getDouble(1) > 60.0)
    assert(!rows(1).getDouble(0).isNaN && rows(1).getDouble(1) > rows(0).getDouble(1))
    // beyond the limb: the ray misses the globe
    assert(rows(2).getDouble(0).isNaN && rows(2).getDouble(1).isNaN)
    assert(rows(3).getDouble(0).isNaN && rows(3).getDouble(1).isNaN)
  }

  test("transverse Mercator (3.12): scale factor at the reference applies") {
    import graft.sources.grib.GribProjection
    val dir = java.nio.file.Files.createTempDirectory("g2tm").toString
    val tm = GribProjection.TransverseMercator(-2.0, 6378137.0, 6356752.31)
    val vals = (0 until 50).map(_.toDouble)
    val spec = GW2.FieldSpec(0, 0, 0, 103, 2,
      java.time.LocalDateTime.of(2027, 2, 1, 0, 0), vals,
      ni = 10, nj = 5, la1 = 0.0, lo1 = -2.0, la2 = 0, lo2 = 0,
      decimalScale = 0, projection = Some(tm),
      dxMeters = 25000.0, dyMeters = 20000.0)
    val msg = GW2.message(spec)
    // locate section 3 (length-prefixed sections after the 16-byte
    // indicator) and patch the IEEE scale-at-reference field from 1.0 to
    // 0.9996 — the wire form real UKMO products carry
    var off = 16
    def u32be(o: Int): Int =
      ((msg(o) & 0xff) << 24) | ((msg(o + 1) & 0xff) << 16) |
        ((msg(o + 2) & 0xff) << 8) | (msg(o + 3) & 0xff)
    while (msg(off + 4) != 3) off += u32be(off)
    val k0At = off + 47
    assert(u32be(k0At) == java.lang.Float.floatToIntBits(1.0f),
      "scale-at-reference field not where expected")
    val bits = java.lang.Float.floatToIntBits(0.9996f)
    (0 until 4).foreach(i => msg(k0At + i) = ((bits >> (8 * (3 - i))) & 0xff).toByte)
    val p = s"$dir/tm.grib2"
    java.nio.file.Files.write(java.nio.file.Paths.get(p), msg)
    val rows = GribReader.readLongFormat(spark, p)
      .orderBy($"value").select($"latitude", $"longitude", $"value")
      .collect()
    assert(rows.length == 50)
    // expected: the k0-scaled projection (both axes x 0.9996f) applied to
    // the plane walk from (0, 0) in 25/20 km steps
    val k0 = 0.9996f.toDouble
    val scaled = GribProjection.TransverseMercator(-2.0,
      6378137.0 * k0, 6356752.31 * k0)
    rows.foreach { r =>
      val k = r.getDouble(2).toInt
      val (lat, lon) = scaled.inverse((k % 10) * 25000.0, (k / 10) * 20000.0)
      assert(math.abs(r.getDouble(0) - lat) < 1e-9 &&
        math.abs(r.getDouble(1) - lon) < 1e-9, s"point $k")
    }
  }
}
