package graft

import org.apache.spark.sql.functions._

import org.apache.hadoop.conf.Configuration

import graft.sources.grib.{Grib1, GribIndex, GribPacking, GribReader, GribSplitter, Grib1Writer => GW}

/** Golden tests for the pure-JVM GRIB1 reader: write edition-1 messages with
  * the fixture writer (simple packing, IBM-float reference value, optional
  * bitmap), read back distributed, and check exact values + the reference's
  * channel normalization (sinks.py:251-342) end-to-end through the mover. */
class Grib1Spec extends SparkSpec {
  import spark.implicits._

  private val (ni, nj) = (5, 4)
  private val t0 = java.time.LocalDateTime.of(2026, 1, 15, 0, 0)

  /** The file's gridded messages, from the one header index. */
  private def indexMessages(conf: Configuration, path: String): Seq[Grib1.Message] =
    GribIndex.indexFile(conf, path).collect { case m: Grib1.Message => m }

  private def gridVals(f: (Int, Int) => Double): Seq[Double] =
    for (j <- 0 until nj; i <- 0 until ni) yield f(j, i)

  // two channels x two forecast steps + one masked accumulation message
  private lazy val file: String = {
    val dir = java.nio.file.Files.createTempDirectory("grib1").toString
    val path = s"$dir/test.grib"
    def field(paramId: Int, levelType: Int, levelValue: Int, p1: Int,
        vals: Seq[Double], d: Int = 2, tri: Int = 0, p2: Int = 0) =
      GW.FieldSpec(paramId, levelType, levelValue, t0, vals,
        ni, nj, la1 = 60.0, lo1 = -10.0, la2 = 45.0, lo2 = 10.0,
        decimalScale = d, p1 = p1, timeRangeIndicator = tri, p2 = p2)
    GW.write(path, Seq(
      // 2t: 2-metre temperature (ECMWF 167, heightAboveGround 2)
      field(167, 105, 2, p1 = 0, vals = gridVals((j, i) => 270.0 + j + 0.25 * i)),
      field(167, 105, 2, p1 = 6, vals = gridVals((j, i) => 271.0 + j + 0.25 * i)),
      // swvl-style depth layer var on the same grid (table 128 -> p39)
      field(39, 112, 7 << 8, p1 = 0, vals = gridVals((j, i) => 0.05 * (j + i))),
      field(39, 112, 7 << 8, p1 = 6, vals = gridVals((j, i) => 0.06 * (j + i))),
      // tp: accumulated precip with a bitmap-masked cell
      field(228, 1, 0, p1 = 0, tri = 4, p2 = 6,
        vals = gridVals((j, i) => if (j == 1 && i == 2) Double.NaN else 0.5 * i))))
    path
  }

  test("ECMWF local definition 1 demuxes EPS members into channels") {
    val dir = java.nio.file.Files.createTempDirectory("grib1ens").toString
    val path = s"$dir/eps.grib"
    def f(member: Int, bump: Double) = GW.FieldSpec(167, 105, 2, t0,
      gridVals((j, i) => 270.0 + bump + j + 0.25 * i),
      ni, nj, la1 = 60.0, lo1 = -10.0, la2 = 45.0, lo2 = 10.0,
      decimalScale = 2, ensembleMember = member)
    GW.write(path, Seq(f(0, 0.0), f(1, 1.0), f(2, 2.0), f(-1, 5.0)))
    val msgs = indexMessages(
      new org.apache.hadoop.conf.Configuration(), path)
    assert(msgs.map(_.ensembleMember) == Seq(0, 1, 2, -1))
    assert(msgs.map(_.shortName) == Seq("2t_m0", "2t_m1", "2t_m2", "2t"))
    // members stay distinct channels through the wide merge
    val wide = GribReader.readMerged(spark, path)
    val chans = Seq("2t_m0", "2t_m1", "2t_m2", "2t")
      .map(n => s"heightAboveGround_2_00_instant_$n")
    assert(chans.forall(wide.columns.contains), wide.columns.mkString(","))
    val r = wide.filter($"latitude" === 60.0 && $"longitude" === -10.0).head()
    assert(r.getAs[Double](chans(1)) == 271.0 && r.getAs[Double](chans(3)) == 275.0)
  }

  test("IBM float round-trips integers exactly and handles signs") {
    for (v <- Seq(0.0, 1.0, 27000.0, 123456.0, -42.0, 0.0625)) {
      val enc = Grib1.toIbmFloat(v)
      assert(Grib1.ibmFloat(enc, 0) == v, s"round-trip of $v")
    }
  }

  test("bit unpacking handles non-byte-aligned widths") {
    // 12-bit values 0xABC, 0x123: bytes AB C1 23
    val packed = Array(0xab.toByte, 0xc1.toByte, 0x23.toByte)
    assert(GribPacking.unpack(new GribPacking.BitCursor(packed, 0), 12, 2).toSeq ==
      Seq(0xabcL, 0x123L))
    assert(GribPacking.unpack(new GribPacking.BitCursor(Array[Byte](0), 0), 0, 3).toSeq ==
      Seq(0L, 0L, 0L))
  }

  test("message headers parse: PDS/GDS fields, channel metadata") {
    val msgs = indexMessages(new org.apache.hadoop.conf.Configuration(), file)
    assert(msgs.size == 5)
    val m = msgs.head
    assert(m.ni == ni && m.nj == nj)
    assert(m.la1 == 60.0 && m.lo1 == -10.0 && m.la2 == 45.0 && m.lo2 == 10.0)
    assert(m.shortName == "2t" && m.levelName == "heightAboveGround")
    assert(m.levelHeight == 2.0 && m.stepType == "instant")
    assert(m.decimalScale == 2)
    // depth layer: top 7 cm -> 0.07 m (the reference's formatting example)
    val d = msgs(2)
    assert(d.levelName == "depthBelowLandLayer" && d.levelHeight == 0.07)
    assert(graft.operators.Mover.channelName(
      d.levelName, d.levelHeight, d.stepType, d.shortName)
      == "depthBelowLandLayer_0_07_instant_p39")
    // accumulation message: step ends at P2
    val a = msgs(4)
    assert(a.stepType == "accum" && a.validTimeEpochSec == m.refTimeEpochSec + 6 * 3600)
    // GDS Di/Dj land at octets 24-25/26-27 (external tools honor the
    // resolution flag; a one-octet slip corrupts the grid spacing)
    val raw = java.nio.file.Files.readAllBytes(java.nio.file.Path.of(file))
    val gds = 8 + 28
    assert(Grib1.u16(raw, gds + 23) == 5000, "Di: lon step 5.0 deg in millidegrees")
    assert(Grib1.u16(raw, gds + 25) == 5000, "Dj: lat step 5.0 deg in millidegrees")
    assert(Grib1.u8(raw, gds + 27) == 0)     // scan mode intact
  }

  test("long-format read: exact values at golden points, valid times") {
    val df = GribReader.readLongFormat(spark, file)
    assert(df.count() == 5L * ni * nj)
    // golden row (bq_test.py:247-326 style): 2t at t0, grid corner and interior
    val r = df.filter($"channel" === "heightAboveGround_2_00_instant_2t" &&
      date_format($"time", "yyyy-MM-dd HH") === "2026-01-15 00" &&
      $"latitude" === 55.0 && $"longitude" === 0.0).head()
    // j: 60 -> 45 over 4 rows => lat 55 is j=1; lon 0 is i=2
    assert(r.getAs[Double]("value") == 270.0 + 1 + 0.25 * 2)
    assert(r.getAs[String]("short_name") == "2t")
    // +6h message decodes under the same channel at the later valid time
    val r6 = df.filter($"channel" === "heightAboveGround_2_00_instant_2t" &&
      date_format($"time", "HH") === "06" &&
      $"latitude" === 45.0 && $"longitude" === 10.0).head()
    assert(r6.getAs[Double]("value") == 271.0 + 3 + 0.25 * 4)
  }

  test("bitmap-masked points decode to null, others to exact values") {
    val tp = GribReader.readLongFormat(spark, file)
      .filter($"channel" === "surface_0_00_accum_tp")
    assert(tp.count() == ni * nj)
    assert(tp.filter($"value".isNull).count() == 1)
    val masked = tp.filter($"value".isNull).head()
    assert(masked.getAs[Double]("latitude") == 55.0) // j=1
    assert(masked.getAs[Double]("longitude") == 0.0) // i=2
    assert(tp.filter($"latitude" === 60.0 && $"longitude" === 10.0)
      .head().getAs[Double]("value") == 0.5 * 4)
  }

  test("readMerged produces the wide per-channel schema (S3 normalize path)") {
    val wide = graft.sources.FormatRegistry.open(spark, file)
    assert(wide.columns.toSeq.sorted == Seq("depthBelowLandLayer_0_07_instant_p39",
      "heightAboveGround_2_00_instant_2t", "latitude", "longitude",
      "surface_0_00_accum_tp", "time").sorted)
    // one row per (time, lat, lon); the accum's valid time is t0+6h (P2
    // ends the interval), so tp is NULL on the t0 rows
    assert(wide.count() == 2L * ni * nj)
    val r00 = wide.filter(date_format($"time", "HH") === "00" &&
      $"latitude" === 50.0 && $"longitude" === 5.0).head() // j=2, i=3
    assert(r00.getAs[Double]("heightAboveGround_2_00_instant_2t") == 270.0 + 2 + 0.25 * 3)
    assert(r00.getAs[Double]("depthBelowLandLayer_0_07_instant_p39") == 0.05 * 5)
    assert(r00.isNullAt(r00.fieldIndex("surface_0_00_accum_tp")))
    val r06 = wide.filter(date_format($"time", "HH") === "06" &&
      $"latitude" === 50.0 && $"longitude" === 5.0).head()
    assert(r06.getAs[Double]("heightAboveGround_2_00_instant_2t") == 271.0 + 2 + 0.25 * 3)
    assert(r06.getAs[Double]("depthBelowLandLayer_0_07_instant_p39") == 0.06 * 5)
    assert(r06.getAs[Double]("surface_0_00_accum_tp") == 0.5 * 3)
  }

  test("mover extract pipeline runs end-to-end on the GRIB hypercube") {
    val wide = GribReader.readMerged(spark, file)
    val out = graft.operators.Mover.extractRows(wide, s"file://$file",
      graft.operators.Mover.Options(variables = Seq("2t"),
        importTime = Some("2026-01-15 12:00:00"),
        latRes = Some(2.5), lonRes = Some(2.5)))
    assert(out.count() == 2L * ni * nj)
    assert(out.columns.contains("heightAboveGround_2_00_instant_2t"))
    assert(!out.columns.contains("surface_0_00_accum_tp")) // projection applied
    assert(out.columns.contains("geo_polygon") && out.columns.contains("data_first_step"))
  }

  test("reads are distributed across messages") {
    val df = GribReader.readLongFormat(spark, file)
    val want = math.min(5, spark.sparkContext.defaultParallelism)
    assert(df.rdd.getNumPartitions == want)
    // every task decodes whole messages: its row count is a multiple of the grid
    val perTask = df.rdd.glom().map(_.length).collect().toSeq
    assert(perTask.count(_ > 0) == want && perTask.forall(_ % (ni * nj) == 0))
    assert(perTask.sum == 5 * ni * nj)
  }

  test("grib splitter writes per-key GRIB files by verbatim byte copy") {
    val outDir = java.nio.file.Files.createTempDirectory("gribsplit").toString
    val outputs = GribSplitter.split(spark, file, outDir)
    assert(outputs.keySet == Set("2t", "p39", "tp"))
    // each output is a valid GRIB file with exactly its group's messages
    val conf = new org.apache.hadoop.conf.Configuration()
    val by2t = indexMessages(conf, outputs("2t"))
    assert(by2t.size == 2 && by2t.forall(_.shortName == "2t"))
    assert(indexMessages(conf, outputs("tp")).size == 1)
    // values survive bit-identically (byte copy, no re-encode)
    val v = GribReader.readLongFormat(spark, outputs("2t"))
      .filter(date_format($"time", "HH") === "00" &&
        $"latitude" === 55.0 && $"longitude" === 0.0).head()
    assert(v.getAs[Double]("value") == 270.0 + 1 + 0.25 * 2)
  }

  test("bulletin headers and padding between messages are skipped (magic scan)") {
    val dir = java.nio.file.Files.createTempDirectory("bulletin").toString
    val p = s"$dir/bulletin.grib"
    val msg = GW.message(GW.FieldSpec(167, 105, 2, t0,
      (0 until 12).map(_.toDouble), 4, 3, 50.0, 0.0, 48.0, 3.0))
    val os = new java.io.FileOutputStream(p)
    os.write("ZCZC 123\r\nTTAA00 ECMF\r\n".getBytes) // WMO bulletin header
    os.write(msg)
    os.write("\r\n\r\nNNNN\r\n".getBytes)            // bulletin trailer
    os.write(msg)
    os.write("NNNN".getBytes)
    os.close()
    val msgs = indexMessages(new org.apache.hadoop.conf.Configuration(), p)
    assert(msgs.size == 2)
    assert(GribReader.readLongFormat(spark, p).count() == 2L * 12)
  }

  test("second-order packing round-trips, including bitmap-masked cells") {
    val conf = new org.apache.hadoop.conf.Configuration()
    val dir = java.nio.file.Files.createTempDirectory("grib1so").toString
    val p = s"$dir/so.grib"
    // clustered magnitudes (what grouping compresses), a masked cell, and a
    // non-multiple-of-groupSize count so the last group is short
    val vals = (0 until 60).map { k =>
      if (k == 17) Double.NaN
      else if (k < 30) 1000.0 + (k % 7) else 50000.0 + 3 * k
    }
    GW.write(p, Seq(GW.FieldSpec(167, 105, 2, t0, vals, 10, 6,
      la1 = 50.0, lo1 = 0.0, la2 = 45.0, lo2 = 9.0,
      decimalScale = 1, secondOrder = true, groupSize = 13)))
    val msgs = indexMessages(conf, p)
    assert(msgs.head.secondOrder)
    val got = GribReader.readLongFormat(spark, p)
      .orderBy($"latitude".desc, $"longitude")
      .select($"value").collect()
      .map(r => if (r.isNullAt(0)) Double.NaN else r.getDouble(0))
    vals.zip(got).foreach { case (want, have) =>
      if (want.isNaN) assert(have.isNaN) else assert(want == have, s"$want != $have")
    }
    // ECMWF general-extended flag bits keep a directed error
    val raw = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))
    val bdsOff = 8 + 28 + 32 + ((60 + 7) / 8 + 6) // IS+PDS+GDS+BMS
    raw(bdsOff + 13) = (raw(bdsOff + 13) | 0x08).toByte
    val pe = s"$dir/ext.grib"
    java.nio.file.Files.write(java.nio.file.Paths.get(pe), raw)
    val e = intercept[Grib1.UnsupportedGrib](indexMessages(conf, pe))
    assert(e.getMessage.contains("ECMWF"))
  }

  test("complex packing raises a directed error; garbage indexes empty") {
    val conf = new org.apache.hadoop.conf.Configuration()
    val dir = java.nio.file.Files.createTempDirectory("grib2").toString
    // complex-packing flag in an otherwise valid edition-1 message
    val msg = GW.message(GW.FieldSpec(167, 1, 0, t0,
      Seq(1.0, 2.0), 2, 1, 0.0, 0.0, 0.0, 1.0))
    val bdsOff = 8 + 28 + 32 // IS + PDS + GDS (no bitmap)
    msg(bdsOff + 3) = (msg(bdsOff + 3) | 0x40).toByte
    val p1 = s"$dir/complex.grib"
    val fs = new java.io.FileOutputStream(p1); fs.write(msg); fs.close()
    val e2 = intercept[Grib1.UnsupportedGrib](indexMessages(conf, p1))
    assert(e2.getMessage.contains("complex"))
    // pure garbage yields an empty index, not a crash (magic-scan validation)
    val pg = s"$dir/garbage.grib"
    val g = new java.io.FileOutputStream(pg)
    g.write("GRIB but not really a message, just prose mentioning GRIB twice".getBytes)
    g.close()
    assert(indexMessages(conf, pg).isEmpty)
  }

  test("spectral messages (grid type 50) round-trip coefficient-exact") {
    import spark.implicits._
    val conf = new org.apache.hadoop.conf.Configuration()
    val dir = java.nio.file.Files.createTempDirectory("grib1sh").toString
    val t = 9
    val nVals = (t + 1) * (t + 2) // 110 interleaved (re, im) values
    val vals = (0 until nVals).map(k => ((k * 53) % 401 - 200).toDouble)
    val t0 = java.time.LocalDateTime.of(2026, 4, 1, 12, 0)
    val p = s"$dir/sh.grib"
    GW.write(p, Seq(GW.FieldSpec(129, 100, 500, t0, vals,
      ni = nVals, nj = 1, la1 = 0, lo1 = 0, la2 = 0, lo2 = 0,
      tableVersion = 128, decimalScale = 0, bitsPerValue = 24,
      spectralT = t)))
    val df = GribReader.readSpectral(spark, p)
    assert(df.count() == nVals / 2)
    val got = df.orderBy($"m", $"n").select($"re", $"im").collect()
      .flatMap(r => Seq(r.getDouble(0), r.getDouble(1))).toSeq
    assert(got == vals)
    assert(df.head().getAs[Double]("level") == 500.0)
    // the gridded index excludes spectral messages (no fake lat/lon rows)
    assert(indexMessages(conf, p).isEmpty)
    // pentagonal truncation is a directed error
    val raw = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))
    raw(8 + 28 + 9) = (t + 1).toByte // K low byte != J in the GDS
    val pBad = s"$dir/pent.grib"
    java.nio.file.Files.write(java.nio.file.Paths.get(pBad), raw)
    val e = intercept[Grib1.UnsupportedGrib](
      GribReader.readSpectral(spark, pBad))
    assert(e.getMessage.contains("triangular"), e.getMessage)
  }

  test("projected grids (types 1/5): plane walk matches the Snyder inverse") {
    import graft.sources.grib.GribProjection
    val dir = java.nio.file.Files.createTempDirectory("g1proj").toString
    val vals = (0 until 50).map(_.toDouble)
    // Mercator on the GRIB1 sphere, true scale 20N, first point (10N, 5W)
    val merc = GribProjection.Mercator(20.0, 6367470.0)
    val pM = s"$dir/merc.grib"
    GW.write(pM, Seq(GW.FieldSpec(167, 105, 2, t0, vals,
      ni = 10, nj = 5, la1 = 10.0, lo1 = -5.0, la2 = 0, lo2 = 0,
      decimalScale = 0, projection = Some(merc),
      dxMeters = 50000.0, dyMeters = 60000.0)))
    val (mx0, my0) = merc.forward(10.0, -5.0)
    GribReader.readLongFormat(spark, pM)
      .select($"latitude", $"longitude", $"value").collect().foreach { r =>
        val k = r.getDouble(2).toInt
        val (lat, lon) = merc.inverse(mx0 + (k % 10) * 50000.0,
          my0 + (k / 10) * 60000.0)
        assert(math.abs(r.getDouble(0) - lat) < 1e-9 &&
          math.abs(r.getDouble(1) - lon) < 1e-9, s"mercator point $k")
      }
    // polar stereographic, IAU-65 oblate figure, southern aspect
    val ps = GribProjection.PolarStereographic(-60.0, 140.0, south = true,
      6378160.0, 6356775.0)
    val pP = s"$dir/ps.grib"
    val (px0, py0) = ps.forward(-70.0, 150.0)
    GW.write(pP, Seq(GW.FieldSpec(167, 105, 2, t0, vals,
      ni = 10, nj = 5, la1 = -70.0, lo1 = 150.0, la2 = 0, lo2 = 0,
      decimalScale = 0, projection = Some(ps),
      dxMeters = 25000.0, dyMeters = -25000.0)))
    GribReader.readLongFormat(spark, pP)
      .select($"latitude", $"longitude", $"value").collect().foreach { r =>
        val k = r.getDouble(2).toInt
        // the writer quantizes the first point to MILLIDEGREES; -70/150
        // are exact, so the walk anchors identically
        val (lat, lon) = ps.inverse(px0 + (k % 10) * 25000.0,
          py0 - (k / 10) * 25000.0)
        assert(math.abs(r.getDouble(0) - lat) < 1e-9 &&
          math.abs(r.getDouble(1) - lon) < 1e-9, s"ps point $k")
      }
  }
}
