package graft

import java.time.LocalDateTime
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, GraftBusDrain}
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.operators.Mover
import graft.sources.FormatRegistry
import graft.sources.grib.{Grib1Writer, Grib2, Grib2Writer, GribIndex, GribProjection,
  GribReader, GridFacts}
import graft.sources.netcdf.{NetCDF3, NetCDF3Writer}

/** The mover's grid facts from the GRIB header index: on the reader's own
  * frame `extractRows` launches no job and its output equals the aggregate
  * fallback's (forced by `filter(lit(true))`) row for row, schema included;
  * any other frame computes what is missing in one aggregate row. */
class MoverFactsSpec extends SparkSpec {
  import spark.implicits._

  private val t0 = LocalDateTime.of(2026, 3, 1, 0, 0)
  private val opts = Mover.Options(importTime = Some("2026-03-02 00:00:00"))

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(name).toString

  private def g2(cat: Int, num: Int, time: LocalDateTime, ni: Int, nj: Int,
      la1: Double, lo1: Double, la2: Double, lo2: Double) =
    Grib2Writer.FieldSpec(0, cat, num, 100, 85000, time,
      (0 until ni * nj).map(k => if (k % 7 == 3) Double.NaN else 250.0 + k + cat),
      ni, nj, la1, lo1, la2, lo2, decimalScale = 1)

  /** Two fields at two times on one 7x5 regular grid. */
  private def regular(dir: String): String = {
    val p = s"$dir/regular.grib2"
    Grib2Writer.write(p, Seq(0, 6).flatMap { h =>
      Seq(g2(0, 0, t0.plusHours(h), 7, 5, 50, -2, 46, 4),
        g2(2, 2, t0.plusHours(h), 7, 5, 50, -2, 46, 4))
    })
    p
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).sorted.toSeq

  /** Facts path vs forced fallback: equal rows, equal schemas (analyzed and
    * optimized, so the written files agree too). */
  private def sameAsFallback(ds: DataFrame, uri: String, o: Mover.Options): DataFrame = {
    assert(GridFacts.on(ds).isDefined, "the reader's frame carries its facts")
    val derived = ds.filter(lit(true))
    assert(GridFacts.on(derived).isEmpty, "a derived frame carries none")
    val fast = Mover.extractRows(ds, uri, o)
    val slow = Mover.extractRows(derived, uri, o)
    assert(fast.schema == slow.schema)
    assert(fast.queryExecution.optimizedPlan.schema == slow.queryExecution.optimizedPlan.schema)
    assert(fast.schema("data_first_step").nullable)
    assert(fast.queryExecution.optimizedPlan.schema("data_first_step").nullable)
    assert(rows(fast) == rows(slow))
    fast
  }

  /** Each axis fact is what Spark's min/max/count_distinct give over the
    * merged rows, and its half resolution is `inferHalfRes`, bit for bit. */
  private def factsMatchSpark(ds: DataFrame): GridFacts = {
    val f = GridFacts.on(ds).get
    Seq("latitude" -> f.latitude, "longitude" -> f.longitude).foreach { case (c, a) =>
      val r = ds.agg(min(c), max(c), count_distinct(col(c))).head()
      assert(java.lang.Double.compare(r.getDouble(0), a.min) == 0, s"$c min")
      assert(java.lang.Double.compare(r.getDouble(1), a.max) == 0, s"$c max")
      assert(r.getLong(2) == a.distinct, s"$c distinct")
      assert(java.lang.Double.compare(Mover.inferHalfRes(ds, c), a.halfRes) == 0, s"$c res")
    }
    f
  }

  private final class Counts extends SparkListener with QueryExecutionListener {
    val jobs, stages = new AtomicInteger
    val queries = new ConcurrentLinkedQueue[QueryExecution]
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = queries.add(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = queries.add(qe)
  }

  /** `body`'s result and the jobs, stages and queries it ran; the bus is
    * drained on both sides, so no sleep. */
  private def counted[A](body: => A): (A, Counts) = {
    val sc = spark.sparkContext
    val c = new Counts
    GraftBusDrain(sc)
    sc.addSparkListener(c)
    spark.listenerManager.register(c)
    try {
      val a = body
      GraftBusDrain(sc)
      (a, c)
    } finally {
      sc.removeSparkListener(c)
      spark.listenerManager.unregister(c)
    }
  }

  private def broadcasts(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.toString.contains("Broadcast")

  test("regular GRIB2 grid: facts path launches no job and equals the fallback") {
    val path = regular(tmp("factsreg"))
    val withArea = opts.copy(area = Some(Mover.Area(north = 49, west = -1, south = 47, east = 2)))
    Seq(FormatRegistry.open(spark, path), GribReader.readMerged(spark, path)).foreach { ds =>
      val f = factsMatchSpark(ds)
      assert(f.firstTime.contains(t0))
      val (fast, c) = counted(Mover.extractRows(ds, path, withArea))
      assert(c.jobs.get == 0 && c.queries.isEmpty, s"${c.jobs.get} jobs in extractRows")
      assert(!broadcasts(fast), "the write plan has no broadcast branch")
      val out = sameAsFallback(ds, path, withArea)
      assert(out.count() == 2 * 3 * 4)
      assert(out.select("data_first_step").distinct().as[LocalDateTime].collect().toSeq == Seq(t0))
      sameAsFallback(ds, path, opts)
    }
  }

  test("projected, GRIB1 and two-grid files: facts equal Spark's aggregates") {
    val dir = tmp("factsmix")
    // Lambert conformal: coordOf walks the plane through the inverse
    val lcc = s"$dir/lcc.grib2"
    Grib2Writer.write(lcc, Seq(0, 3).map(h => Grib2Writer.FieldSpec(0, 0, 0, 103, 2,
      t0.plusHours(h), (0 until 30).map(_.toDouble), 6, 5, la1 = 35.0, lo1 = -105.0,
      la2 = 0, lo2 = 0, projection = Some(GribProjection.LambertConformal(38.5, 38.5, -97.5)),
      dxMeters = 3000.0, dyMeters = 3000.0)))
    val lccDs = GribReader.readMerged(spark, lcc)
    assert(factsMatchSpark(lccDs).firstTime.contains(t0))
    val corner = lccDs.agg(min("latitude"), min("longitude")).head()
    val (la, lo) = (corner.getDouble(0), corner.getDouble(1))
    val lccOut = sameAsFallback(lccDs, lcc,
      opts.copy(area = Some(Mover.Area(north = la + 0.05, west = lo, south = la, east = lo + 0.05))))
    assert(!lccOut.isEmpty)
    // GRIB1
    val g1 = s"$dir/g1.grib"
    Grib1Writer.write(g1, Seq(0, 6).map(h => Grib1Writer.FieldSpec(167, 105, 2, t0,
      (1 to 12).map(_.toDouble), 4, 3, 50.0, 0.0, 48.0, 3.0, p1 = h)))
    val g1Ds = GribReader.readMerged(spark, g1)
    assert(factsMatchSpark(g1Ds).firstTime.contains(t0))
    sameAsFallback(g1Ds, g1,
      opts.copy(area = Some(Mover.Area(north = 49.5, west = 1, south = 48, east = 3))))
    // two grids: the earliest unit lies outside the area, so the minimum
    // over the units is not the area's first step — no time fact
    val two = s"$dir/two.grib2"
    Grib2Writer.write(two, Seq(
      g2(0, 0, t0, 3, 3, 30, 10, 28, 12),
      g2(0, 0, t0.plusHours(6), 7, 5, 50, -2, 46, 4)))
    val twoDs = GribReader.readMerged(spark, two)
    assert(factsMatchSpark(twoDs).firstTime.isEmpty)
    val area = opts.copy(area = Some(Mover.Area(north = 50, west = -2, south = 46, east = 4)))
    val (_, c) = counted(Mover.extractRows(twoDs, two, area))
    assert(c.queries.size == 1, "the time fact alone falls back to one aggregate")
    val out = sameAsFallback(twoDs, two, area)
    assert(out.select("data_first_step").distinct().as[LocalDateTime].collect().toSeq ==
      Seq(t0.plusHours(6)))
    sameAsFallback(twoDs, two, opts)
  }

  test("an area that keeps no row: empty on both paths, same schema") {
    val path = regular(tmp("factsnone"))
    val ds = GribReader.readMerged(spark, path)
    val out = sameAsFallback(ds, path,
      opts.copy(area = Some(Mover.Area(north = -60, west = 100, south = -70, east = 110))))
    assert(out.isEmpty)
  }

  test("axis facts fold -0.0 into 0.0 and count NaN once, like the pivot's grouping") {
    def unit(la1: Double, lo1: Double, ni: Int) = Grib2.Field(0, 0L, ni, 2, la1, lo1,
      la1 - 1, lo1 + ni - 1, 0, 0, 0, 1, 0, 1, 0.0, -1, -1L, 0.0, 0, 0, 8, -1L, 0, 0L, 0)
    val units = Seq(unit(-0.0, -0.0, 1), unit(0.0, 0.0, 1), unit(Double.NaN, 2.0, 3))
    val f = GridFacts.fromUnits(units)
    val coords = units.flatMap(u => (0 until u.nPoints).map(u.coordOf))
    assert(coords.exists(c => java.lang.Double.doubleToLongBits(c._2) ==
      java.lang.Double.doubleToLongBits(-0.0)), "the fixture holds a -0.0")
    // Spark's min/max take either zero (they compare -0.0 == 0.0); the
    // facts carry the folded 0.0 the pivot's grouping key outputs
    val r = coords.toDF("lat", "lon").agg(min("lat"), max("lat"), count_distinct($"lat"),
      min("lon"), max("lon"), count_distinct($"lon")).head()
    def same(a: Double, b: Double) = a == b || (a.isNaN && b.isNaN)
    assert(same(f.latitude.min, r.getDouble(0)) && same(f.latitude.max, r.getDouble(1)))
    assert(f.latitude.distinct == r.getLong(2) && f.latitude.distinct == 3)
    assert(same(f.longitude.min, r.getDouble(3)) && same(f.longitude.max, r.getDouble(4)))
    assert(f.longitude.distinct == r.getLong(5) && f.longitude.distinct == 4)
    assert(java.lang.Double.doubleToLongBits(f.longitude.min) == 0L && f.latitude.max.isNaN)
    assert(f.firstTime.isEmpty)
  }

  test("fallback: one aggregate on a NetCDF frame; a time-filtered frame re-derives its first step") {
    val nc = s"${tmp("factsnc")}/in.nc"
    val (nt, ny, nx) = (3, 4, 5)
    NetCDF3Writer.write(nc,
      dims = Seq(NetCDF3Writer.DimSpec("time", nt, record = true),
        NetCDF3Writer.DimSpec("latitude", ny), NetCDF3Writer.DimSpec("longitude", nx)),
      vars = Seq(
        NetCDF3Writer.VarSpec("time", Seq("time"), NetCDF3.NC_DOUBLE,
          (0 until nt).map(t => 3600.0 * t), attrs = Seq("units" -> "seconds since 2026-03-01")),
        NetCDF3Writer.VarSpec("latitude", Seq("latitude"), NetCDF3.NC_DOUBLE,
          (0 until ny).map(y => 40.0 + y)),
        NetCDF3Writer.VarSpec("longitude", Seq("longitude"), NetCDF3.NC_DOUBLE,
          (0 until nx).map(x => -110.0 + 2.0 * x)),
        NetCDF3Writer.VarSpec("t2m", Seq("time", "latitude", "longitude"), NetCDF3.NC_DOUBLE,
          (0 until nt * ny * nx).map(_.toDouble))))
    val ncDs = FormatRegistry.open(spark, nc)
    assert(GridFacts.on(ncDs).isEmpty)
    val area = opts.copy(area = Some(Mover.Area(north = 42, west = -108, south = 41, east = -104)))
    val (out, c) = counted(Mover.extractRows(ncDs, nc, area))
    assert(c.queries.size == 1 &&
      c.queries.peek().optimizedPlan.collect { case a: Aggregate => a }.nonEmpty,
      s"${c.queries.size} queries in extractRows")
    assert(!broadcasts(out))
    assert(out.count() == nt * 2 * 3)
    val r = out.filter($"latitude" === 41.0 && $"longitude" === -108.0)
      .select("geo_polygon", "data_first_step").head()
    assert(r.getAs[LocalDateTime]("data_first_step") == t0)
    // half resolutions 3/4/2 = 0.375 (lat) and 8/5/2 = 0.8 (lon)
    assert(r.getString(0).contains("[-108.8, 40.625]"), r.getString(0))
    // a time-filtered GRIB frame falls back; its first step is the filtered minimum
    val path = regular(tmp("factstime"))
    val late = GribReader.readMerged(spark, path).filter($"time" > t0)
    val (lateOut, lc) = counted(Mover.extractRows(late, path, area.copy(area = None)))
    assert(lc.queries.size == 1)
    assert(lateOut.select("data_first_step").distinct().as[LocalDateTime].collect().toSeq ==
      Seq(t0.plusHours(6)))
    // a glob frame keeps its per-file broadcast join
    val glob = FormatRegistry.open(spark, path.replace("regular", "regul*"))
    val (globOut, gc) = counted(Mover.extractRows(glob, path, opts))
    assert(gc.queries.size == 1 && broadcasts(globOut))
  }

  test("single-file readMerged keeps its junk and spectral guards") {
    import graft.sources.grib.Grib1
    val dir = tmp("factsguard")
    val junk = s"$dir/junk.grib"
    java.nio.file.Files.write(java.nio.file.Paths.get(junk), Array.fill[Byte](64)(7))
    assert(intercept[IllegalArgumentException](GribReader.readMerged(spark, junk))
      .getMessage.contains("not a GRIB file"))
    // readMerged takes readLongFormat's spectral guard: a spectral-only
    // file is a directed error, a mixed file merges its grids
    val t = 3
    val coeffs = (0 until (t + 1) * (t + 2)).map(_.toDouble)
    val spectral = Grib2Writer.FieldSpec(0, 3, 5, 100, 50000, t0, coeffs, coeffs.size, 1,
      0.0, 0.0, 0.0, 0.0, bitsPerValue = 24, packing = 50, spectralT = t)
    val sp = s"$dir/sp.grib2"
    Grib2Writer.write(sp, Seq(spectral))
    assert(intercept[Grib1.UnsupportedGrib](GribReader.readMerged(spark, sp))
      .getMessage.contains("readSpectral"))
    val mixed = s"$dir/mixed.grib2"
    Grib2Writer.write(mixed, Seq(spectral, g2(0, 0, t0, 7, 5, 50, -2, 46, 4)))
    val grid = s"$dir/grid.grib2"
    Grib2Writer.write(grid, Seq(g2(0, 0, t0, 7, 5, 50, -2, 46, 4)))
    assert(rows(GribReader.readMerged(spark, mixed)) == rows(GribReader.readMerged(spark, grid)))
  }

  test("splitter channel inventory: one stage, no shuffle, same sorted channels") {
    val dir = tmp("factschan")
    val paths = (0 until 3).map { i =>
      val p = s"$dir/f$i.grib2"
      Grib2Writer.write(p, Seq(g2(0, 0, t0, 3, 2, 50, 0, 49, 2), g2(i, 1, t0, 3, 2, 50, 0, 49, 2)))
      p
    }
    val (chans, c) = counted(GribIndex.channelsOfFiles(spark, paths))
    val want = paths.flatMap(p => GribIndex.indexFile(
      spark.sparkContext.hadoopConfiguration, p).map(_.channel)).distinct.sorted
    assert(chans == want)
    assert(c.jobs.get == 1 && c.stages.get == 1, s"${c.jobs.get} jobs, ${c.stages.get} stages")
  }
}
