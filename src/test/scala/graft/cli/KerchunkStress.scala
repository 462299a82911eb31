package graft.cli

import org.apache.spark.sql.functions._

import graft.sources.hdf5.{Hdf5Writer => HW}
import graft.sources.zarr.Kerchunk

/** Scale-shape evidence for the kerchunk virtualization path: a YEAR of
  * daily netCDF-4 files (each on its own CF time base, deflate+shuffle
  * chunked) indexed in parallel and concatenated into one virtual store,
  * then queried whole-archive and with a one-week predicate. What the
  * numbers must show for the 100 TB claim to hold:
  *  - the scan is one task per file and the driver holds only refs paths;
  *  - combine is a driver-side metadata pass, O(chunks) not O(bytes);
  *  - the combined refs json stays KBs/MBs;
  *  - a narrow time predicate plans ~window/year of the partitions.
  *
  * Usage: Test/runMain graft.cli.KerchunkStress [workDir] [days]
  * (defaults /tmp/graft-kerchunk-stress, 365).
  */
object KerchunkStress {
  def main(args: Array[String]): Unit = {
    val work = if (args.length > 0) args(0) else "/tmp/graft-kerchunk-stress"
    val days = if (args.length > 1) args(1).toInt else 365
    val spark = graft.GraftSession.local(32)
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val nt = 4; val nlat = 40; val nlon = 50
    val dir = s"$work/days"
    new java.io.File(dir).mkdirs()
    val t0 = System.nanoTime()
    val start = java.time.LocalDate.of(2025, 1, 1)
    for (d <- 0 until days) {
      val day = start.plusDays(d)
      val vals = (0 until nt * nlat * nlon).map(i =>
        ((d * 7919 + i * 13) % 4001).toDouble)
      HW.write(f"$dir/era_$day.nc", Seq(
        HW.VarSpec("time", Seq("time"), Seq(nt), (0 until nt).map(_ * 6.0),
          units = Some(s"hours since $day")),
        HW.VarSpec("lat", Seq("lat"), Seq(nlat),
          (0 until nlat).map(60.0 - _), dtype = "f8"),
        HW.VarSpec("lon", Seq("lon"), Seq(nlon),
          (0 until nlon).map(_ * 0.5), dtype = "f8"),
        HW.VarSpec("t2m", Seq("time", "lat", "lon"), Seq(nt, nlat, nlon),
          vals, dtype = "i2", chunks = Some(Seq(nt, nlat / 2, nlon / 2)),
          deflate = true, shuffle = true,
          scaleFactor = Some(0.1), addOffset = Some(200.0))))
    }
    val tWrite = (System.nanoTime() - t0) / 1e9

    val t1 = System.nanoTime()
    val refs = Kerchunk.scanAllSpark(spark, s"$dir/*.nc", outDir = s"$work/refs")
    val tScan = (System.nanoTime() - t1) / 1e9

    val t2 = System.nanoTime()
    val combined = Kerchunk.combine(
      spark.sparkContext.hadoopConfiguration, refs)
    val tCombine = (System.nanoTime() - t2) / 1e9
    val cPath = s"$work/combined.json"
    java.nio.file.Files.write(java.nio.file.Paths.get(cPath),
      combined.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(f"[stress] fixtures: $days files written in $tWrite%.1f s; " +
      f"scanAllSpark $tScan%.2f s (${refs.size} refs); " +
      f"combine $tCombine%.2f s; refs json ${combined.length / 1024} KiB")

    def timed[A](what: String)(f: => A): A = {
      val s = System.nanoTime(); val r = f
      println(f"[stress] $what: ${(System.nanoTime() - s) / 1e9}%.2f s")
      r
    }
    val df = spark.read.format("zarr").load(cPath)
    println(s"[stress] combined partitions: ${df.rdd.getNumPartitions}")
    val full = timed("full-year mean")(
      df.agg(avg($"t2m")).head().getDouble(0))
    val week = df.filter(
      $"time" >= java.time.LocalDateTime.of(2025, 6, 1, 0, 0) &&
        $"time" < java.time.LocalDateTime.of(2025, 6, 8, 0, 0))
    println(s"[stress] one-week partitions: ${week.rdd.getNumPartitions}")
    val wk = timed("one-week mean")(week.agg(avg($"t2m")).head().getDouble(0))
    val rows = timed("full-year count")(df.count())
    println(f"[stress] year mean $full%.4f, week mean $wk%.4f, rows $rows")

    // ---- the same year as daily GRIB2 files through scanGrib2 + combine
    import graft.sources.grib.{Grib2Writer => GW2}
    val gdir = s"$work/grib"
    new java.io.File(gdir).mkdirs()
    val tg0 = System.nanoTime()
    val tconf = spark.sparkContext.hadoopConfiguration
    for (d <- 0 until days) {
      val day = start.plusDays(d)
      GW2.write(s"$gdir/era_$day.grib2", (0 until nt).map { t =>
        GW2.FieldSpec(0, 0, 0, 103, 2,
          java.time.LocalDateTime.of(day.getYear, day.getMonthValue,
            day.getDayOfMonth, 0, 0),
          (0 until nlat * nlon).map(i => ((d * 7919 + t * 997 + i * 13) % 4001)
            .toDouble / 10.0),
          ni = nlon, nj = nlat, la1 = 60.0, lo1 = 0.0,
          la2 = 60.0 - (nlat - 1), lo2 = (nlon - 1) * 0.5,
          forecastTime = t * 6, decimalScale = 1)
      })
    }
    val tgWrite = (System.nanoTime() - tg0) / 1e9
    val tg1 = System.nanoTime()
    val grefs = spark.sparkContext.parallelize(
      new java.io.File(gdir).listFiles().map(_.toString)
        .filter(_.endsWith(".grib2")).sorted.toSeq, days)
      .map { f =>
        val json = graft.sources.zarr.Kerchunk.scanGrib(
          new org.apache.hadoop.conf.Configuration(), f)
        val out = f + ".refs.json"
        java.nio.file.Files.write(java.nio.file.Paths.get(out),
          json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        out
      }.collect().toSeq.sorted
    val tgScan = (System.nanoTime() - tg1) / 1e9
    val tg2 = System.nanoTime()
    val gCombined = graft.sources.zarr.Kerchunk.combine(tconf, grefs)
    val tgCombine = (System.nanoTime() - tg2) / 1e9
    val gPath = s"$work/grib-combined.json"
    java.nio.file.Files.write(java.nio.file.Paths.get(gPath),
      gCombined.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(f"[stress] grib: $days files written in $tgWrite%.1f s; " +
      f"scanGrib2 x$days $tgScan%.2f s; combine $tgCombine%.2f s; " +
      f"refs json ${gCombined.length / 1024} KiB")
    val gdf = spark.read.format("zarr").load(gPath)
    println(s"[stress] grib combined partitions: ${gdf.rdd.getNumPartitions}")
    val gFull = timed("grib full-year mean")(
      gdf.agg(avg($"2t")).head().getDouble(0))
    val gWeek = gdf.filter(
      $"time" >= java.time.LocalDateTime.of(2025, 6, 1, 0, 0) &&
        $"time" < java.time.LocalDateTime.of(2025, 6, 8, 0, 0))
    println(s"[stress] grib one-week partitions: ${gWeek.rdd.getNumPartitions}")
    val gWk = timed("grib one-week mean")(
      gWeek.agg(avg($"2t")).head().getDouble(0))
    println(f"[stress] grib year mean $gFull%.4f, week mean $gWk%.4f")

    // ---- the same year as daily COGs (deflate strips) through scanTiff
    // with a per-day time axis + combine: a raster stack becomes one
    // virtual hypercube, day predicates pruning to the owning file
    import graft.sources.tiff.{TiffWriter => TW}
    val tdir = s"$work/cog"
    new java.io.File(tdir).mkdirs()
    val tt0 = System.nanoTime()
    for (d <- 0 until days) {
      val day = start.plusDays(d)
      TW.write(f"$tdir/sst_$day.tif", TW.Spec(nlon, nlat, 1,
        (0 until nlat * nlon).map(i => ((d * 7919 + i * 13) % 4001) / 10.0),
        pixelScale = (0.5, 0.5), tiepointXY = (0.0, 60.0), epsg = 4326,
        rowsPerStrip = nlat / 4, deflate = true))
    }
    val ttWrite = (System.nanoTime() - tt0) / 1e9
    val tt1 = System.nanoTime()
    val trefs = spark.sparkContext.parallelize(
      new java.io.File(tdir).listFiles().map(_.toString)
        .filter(_.endsWith(".tif")).sorted.toSeq, days)
      .map { f =>
        val day = java.time.LocalDate.parse(
          f.substring(f.length - 14, f.length - 4))
        val json = graft.sources.zarr.Kerchunk.scanTiff(
          new org.apache.hadoop.conf.Configuration(), f,
          timeEpochSec = day.toEpochDay * 86400.0)
        val out = f + ".refs.json"
        java.nio.file.Files.write(java.nio.file.Paths.get(out),
          json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        out
      }.collect().toSeq.sorted
    val ttScan = (System.nanoTime() - tt1) / 1e9
    val tt2 = System.nanoTime()
    val tCombined = graft.sources.zarr.Kerchunk.combine(tconf, trefs)
    val ttCombine = (System.nanoTime() - tt2) / 1e9
    val tPath = s"$work/cog-combined.json"
    java.nio.file.Files.write(java.nio.file.Paths.get(tPath),
      tCombined.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(f"[stress] cog: $days files written in $ttWrite%.1f s; " +
      f"scanTiff x$days $ttScan%.2f s; combine $ttCombine%.2f s; " +
      f"refs json ${tCombined.length / 1024} KiB")
    val tdf = spark.read.format("zarr").load(tPath)
    println(s"[stress] cog combined partitions: ${tdf.rdd.getNumPartitions}")
    val tFull = timed("cog full-year mean")(
      tdf.agg(avg($"band_1")).head().getDouble(0))
    val tWeek = tdf.filter(
      $"time" >= java.time.LocalDateTime.of(2025, 6, 1, 0, 0) &&
        $"time" < java.time.LocalDateTime.of(2025, 6, 8, 0, 0))
    println(s"[stress] cog one-week partitions: ${tWeek.rdd.getNumPartitions}")
    val tWk = timed("cog one-week mean")(
      tWeek.agg(avg($"band_1")).head().getDouble(0))
    println(f"[stress] cog year mean $tFull%.4f, week mean $tWk%.4f")

    // ---- the same year as daily PROJECTED (Lambert conformal) GRIB2 —
    // the HRRR archive shape: [time, y, x] plane axes, true lat/lon as
    // SYNTHESIZED aux chunks. The aux columns must cost nothing at scan
    // time (no coordinate bytes stored) and combine must carry them once.
    import graft.sources.grib.GribProjection
    val pdir = s"$work/hrrr"
    new java.io.File(pdir).mkdirs()
    val lcc = GribProjection.LambertConformal(38.5, 38.5, 262.5, 6371229.0)
    val tp0 = System.nanoTime()
    for (d <- 0 until days) {
      val day = start.plusDays(d)
      GW2.write(s"$pdir/hrrr_$day.grib2", (0 until nt).map { t =>
        GW2.FieldSpec(0, 0, 0, 103, 2,
          java.time.LocalDateTime.of(day.getYear, day.getMonthValue,
            day.getDayOfMonth, 0, 0),
          (0 until nlat * nlon).map(i => ((d * 7919 + t * 997 + i * 13) % 4001)
            .toDouble / 10.0),
          ni = nlon, nj = nlat, la1 = 38.0, lo1 = 262.0, la2 = 0, lo2 = 0,
          forecastTime = t * 6, decimalScale = 1,
          projection = Some(lcc), dxMeters = 3000.0, dyMeters = 3000.0)
      })
    }
    val tpWrite = (System.nanoTime() - tp0) / 1e9
    val tp1 = System.nanoTime()
    val prefs = spark.sparkContext.parallelize(
      new java.io.File(pdir).listFiles().map(_.toString)
        .filter(_.endsWith(".grib2")).sorted.toSeq, days)
      .map { f =>
        val json = graft.sources.zarr.Kerchunk.scanGrib(
          new org.apache.hadoop.conf.Configuration(), f)
        val out = f + ".refs.json"
        java.nio.file.Files.write(java.nio.file.Paths.get(out),
          json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        out
      }.collect().toSeq.sorted
    val tpScan = (System.nanoTime() - tp1) / 1e9
    val tp2 = System.nanoTime()
    val pCombined = graft.sources.zarr.Kerchunk.combine(tconf, prefs)
    val tpCombine = (System.nanoTime() - tp2) / 1e9
    val pPath = s"$work/hrrr-combined.json"
    java.nio.file.Files.write(java.nio.file.Paths.get(pPath),
      pCombined.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(f"[stress] hrrr: $days files written in $tpWrite%.1f s; " +
      f"scanGrib x$days $tpScan%.2f s; combine $tpCombine%.2f s; " +
      f"refs json ${pCombined.length / 1024} KiB")
    val pdf = spark.read.format("zarr").load(pPath)
    println(s"[stress] hrrr combined partitions: ${pdf.rdd.getNumPartitions}" +
      s", columns ${pdf.columns.mkString(",")}")
    val pFull = timed("hrrr full-year mean")(
      pdf.agg(avg($"2t")).head().getDouble(0))
    // aux lat/lon decode per partition from the referenced message — the
    // bounded-box query every regional-model user runs
    val pBox = timed("hrrr lat/lon box count")(
      pdf.filter($"latitude" > 38.2 && $"longitude" < 262.6).count())
    val pWeek = pdf.filter(
      $"time" >= java.time.LocalDateTime.of(2025, 6, 1, 0, 0) &&
        $"time" < java.time.LocalDateTime.of(2025, 6, 8, 0, 0))
    println(s"[stress] hrrr one-week partitions: ${pWeek.rdd.getNumPartitions}")
    val pWk = timed("hrrr one-week mean")(
      pWeek.agg(avg($"2t")).head().getDouble(0))
    println(f"[stress] hrrr year mean $pFull%.4f, week mean $pWk%.4f, " +
      f"box rows $pBox")
    spark.stop()
  }
}
