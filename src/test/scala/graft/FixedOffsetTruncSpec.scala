package graft

import java.time.{Instant, LocalDateTime, ZoneOffset}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.TruncTimestamp
import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.types._

import graft.operators.WxSql
import graft.sources.zarr.{ZarrWriter => ZW}

/** `date_trunc` under a fixed-offset session zone runs as long arithmetic
  * (`FixedOffsetTruncRule`): its values equal Spark's own truncation, it
  * fires on the xql daily bucket, and it leaves DST zones, non-literal
  * units, filters and source pushdown alone. The reference side of every
  * comparison runs with the rule excluded through
  * `spark.sql.optimizer.excludedRules`. */
class FixedOffsetTruncSpec extends SparkSpec {
  private val Rule = "graft.plans.FixedOffsetTruncRule"
  private val FixedZones = Seq("UTC", "+05:30", "-08:00", "Etc/GMT+3")
  private val Levels = Seq("MICROSECOND", "MILLISECOND", "SECOND", "MINUTE", "HOUR", "DAY",
    "WEEK", "MONTH", "QUARTER", "YEAR", "dd", "mm", "yy", "week", "quarter")

  /** Runs `f` with the session confs set, restoring the previous values. */
  private def withConf[T](kv: (String, String)*)(f: => T): T = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def excluded[T](f: => T): T = withConf("spark.sql.optimizer.excludedRules" -> Rule)(f)

  /** Every level over one argument, bare and under the absorbed casts: a
    * TIMESTAMP argument `ts`, and a TIMESTAMP_NTZ argument `ntz` (which
    * `date_trunc` reads through an NTZ -> TIMESTAMP cast). */
  private val truncSql: String = Levels.flatMap { u =>
    Seq(s"date_trunc('$u', ts)", s"CAST(date_trunc('$u', ts) AS TIMESTAMP_NTZ)",
      s"date_trunc('$u', ntz)", s"CAST(date_trunc('$u', ntz) AS TIMESTAMP_NTZ)")
  }.zipWithIndex.map { case (e, i) => s"$e AS c$i" }.mkString("SELECT i, ", ", ", " FROM fot")

  private lazy val micros: Seq[Option[Long]] = {
    val day = 86400L * 1000000L
    val lo = LocalDateTime.of(1, 1, 1, 0, 0).toEpochSecond(ZoneOffset.UTC) * 1000000L
    val hi = LocalDateTime.of(9999, 12, 31, 23, 59, 59).toEpochSecond(ZoneOffset.UTC) * 1000000L +
      999999L
    val r = new scala.util.Random(20260101L)
    val uniform = Seq.fill(20000)(lo + Math.floorMod(r.nextLong(), hi - lo + 1))
    // whole half-hours +-1 us: every zone's unit boundaries, local or not
    val edges = Seq.fill(2000)(Math.floorMod(r.nextLong(), (hi - lo) / 1800000000L) * 1800000000L +
      lo + (r.nextInt(3) - 1))
    (Seq(0L, 1L, -1L, day, -day, lo, hi) ++ uniform ++ edges).map(Some(_)) :+ None
  }

  private def frame(): DataFrame = {
    val rows = micros.zipWithIndex.map { case (m, i) =>
      Row(i, m.map(v => Instant.ofEpochSecond(Math.floorDiv(v, 1000000L),
          Math.floorMod(v, 1000000L) * 1000L)).orNull,
        m.map(v => LocalDateTime.ofEpochSecond(Math.floorDiv(v, 1000000L),
          (Math.floorMod(v, 1000000L) * 1000L).toInt, ZoneOffset.UTC)).orNull)
    }
    val schema = StructType(Seq(StructField("i", IntegerType), StructField("ts", TimestampType),
      StructField("ntz", TimestampNTZType)))
    // an RDD, not a local Seq: a LocalRelation would be evaluated by
    // ConvertToLocalRelation before any operator rule runs
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
  }

  test("fixed-offset date_trunc equals Spark's own on every level, zone and type") {
    withConf("spark.sql.datetime.java8API.enabled" -> "true") {
      frame().createOrReplaceTempView("fot")
      for (zone <- FixedZones) withConf("spark.sql.session.timeZone" -> zone) {
        val want = excluded(spark.sql(truncSql).collect())
        val names = spark.sql(truncSql).columns
        // generated code, and the interpreted path
        for ((wholeStage, mode) <- Seq("true" -> "CODEGEN_ONLY", "false" -> "NO_CODEGEN")) {
          val got = withConf("spark.sql.codegen.wholeStage" -> wholeStage,
            "spark.sql.codegen.factoryMode" -> mode)(spark.sql(truncSql).collect())
          assert(got.length == micros.length && want.length == got.length)
          for ((g, w) <- got.zip(want); c <- 1 until g.length if g.get(c) != w.get(c))
            fail(s"zone $zone, $mode, ${names(c)} at ${micros(g.getInt(0))}: " +
              s"got ${g.get(c)}, want ${w.get(c)}")
        }
      }
    }
  }

  // the daily bucket of the xql_era5 benchmark on an ERA5-shaped store:
  // hourly NTZ time over two days, one time chunk per day
  private lazy val store: String = {
    val (nt, ny, nx) = (48, 5, 6)
    val hours0 = java.time.Duration.between(LocalDateTime.of(1900, 1, 1, 0, 0),
      LocalDateTime.of(2023, 1, 1, 0, 0)).toHours.toDouble
    val dir = java.nio.file.Files.createTempDirectory("fot").toString + "/era5.zarr"
    def cube(f: (Int, Int, Int) => Double): Seq[Double] =
      for (t <- 0 until nt; y <- 0 until ny; x <- 0 until nx) yield f(t, y, x)
    ZW.write(dir, Seq(
      ZW.VarSpec("time", Seq("time"), Seq(nt), Seq(nt), "<i8", (0 until nt).map(_ + hours0),
        units = Some("hours since 1900-01-01 00:00:00.0")),
      ZW.VarSpec("latitude", Seq("latitude"), Seq(ny), Seq(ny), "<f8", (0 until ny).map(90.0 - 45.0 * _)),
      ZW.VarSpec("longitude", Seq("longitude"), Seq(nx), Seq(nx), "<f8", (0 until nx).map(-180.0 + 60.0 * _)),
      ZW.VarSpec("t2m", Seq("time", "latitude", "longitude"), Seq(nt, ny, nx), Seq(24, 3, 4),
        data = cube((t, y, x) => 250.0 + t + 0.1 * y + 0.01 * x)),
      ZW.VarSpec("u10", Seq("time", "latitude", "longitude"), Seq(nt, ny, nx), Seq(24, 3, 4),
        data = cube((t, y, x) => t - 0.5 * y + x))))
    dir
  }

  private def xql(query: String): DataFrame = {
    val wx = WxSql(spark)
    wx.set("era5", store)
    wx.sql(query)
  }

  private def daily(bucket: String): String =
    s"SELECT $bucket AS day, AVG(t2m), MAX(u10) FROM era5 GROUP BY $bucket ORDER BY day"

  private def truncates(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.exists(_.expressions.exists(_.exists(_.isInstanceOf[TruncTimestamp])))

  /** The Zarr scans of `df`'s physical plan: description (with the pushed
    * filters) and input partition count. */
  private def scans(df: DataFrame): Seq[(String, Int)] =
    df.queryExecution.sparkPlan.collect {
      case b: BatchScanExec => (b.scan.description(), b.inputPartitions.size)
    }

  test("fixed-offset date_trunc: daily bucket rewritten; DST zones, filters, pushdown untouched") {
    for (bucket <- Seq("time_date", "date_trunc('DAY', time)")) {
      val df = xql(daily(bucket))
      assert(!truncates(df), s"$bucket:\n${df.queryExecution.optimizedPlan}")
      assert(df.collect().toSeq == excluded(xql(daily(bucket)).collect().toSeq))
      assert(df.collect().length == 2)
      withConf("spark.sql.session.timeZone" -> "America/Los_Angeles") {
        assert(truncates(xql(daily(bucket))), "a DST zone keeps Spark's date_trunc")
      }
    }
    // every level, both argument types, every fixed zone: no date_trunc left
    frame().createOrReplaceTempView("fot")
    for (zone <- FixedZones) withConf("spark.sql.session.timeZone" -> zone) {
      assert(!truncates(spark.sql(truncSql)), zone)
    }
    // a unit that is not a literal stays with Spark
    val byColumn = spark.sql("SELECT date_trunc(u, ts) FROM (SELECT ts, " +
      "CASE WHEN i % 2 = 0 THEN 'DAY' ELSE 'HOUR' END AS u FROM fot)")
    assert(truncates(byColumn))
    // a filter condition stays with Spark
    val where = xql("SELECT t2m FROM era5 WHERE date_trunc('DAY', time) = TIMESTAMP '2023-01-02 00:00:00'")
    assert(where.queryExecution.optimizedPlan.collect { case f: Filter => f.condition }
      .exists(_.exists(_.isInstanceOf[TruncTimestamp])), where.queryExecution.optimizedPlan.toString)
    assert(where.count() == 24 * 5 * 6)
    // pruned box queries: the same pushed filters and partitions either way
    for (q <- Seq(
        "SELECT AVG(t2m), MAX(u10), COUNT(t2m), COUNT(*) FROM era5 WHERE latitude BETWEEN 0 AND 45 " +
          "AND longitude BETWEEN -60 AND 0 AND time BETWEEN TIMESTAMP '2023-01-01 03:00:00' " +
          "AND TIMESTAMP '2023-01-01 11:00:00'",
        "SELECT time_date, AVG(t2m) FROM era5 WHERE latitude >= 45 AND longitude < 0 " +
          "GROUP BY time_date ORDER BY time_date")) {
      val got = scans(xql(q))
      assert(got.nonEmpty && got.forall(_._1.contains("latitude")), got)
      assert(got == excluded(scans(xql(q))), q)
      assert(xql(q).collect().toSeq == excluded(xql(q).collect().toSeq), q)
    }
  }
}
