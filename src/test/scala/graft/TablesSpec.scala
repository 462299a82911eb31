package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.Tables

/** Loader contract for the driver-generated `events` table (Tables.scala):
  * the generator has shipped `ts` as TIMESTAMP(NANOS) (physical long) or
  * TIMESTAMP(MICROS) (physical timestamp); the loader must expose an
  * IDENTICAL schema either way and fail loudly on anything else.
  */
class TablesSpec extends SparkSpec {

  private def writeEvents(df: org.apache.spark.sql.DataFrame): String = {
    val dir = Files.createTempDirectory("tables-spec").toString
    df.coalesce(1).write.parquet(s"$dir/events.parquet")
    dir
  }

  test("events loader: identical column order for nanos-long and micros-timestamp schemas") {
    import spark.implicits._
    val base = Seq((1L, 1700000000123456789L, "a"), (2L, 1700000001123456789L, "b"))
      .toDF("id", "ts", "tag")

    // generator variant A: ts is a nanosecond-epoch long
    val nanosDir = writeEvents(base)
    // generator variant B: ts is timestamp[us] (NTZ here; loader casts to LTZ)
    val microsDir = writeEvents(
      base.withColumn("ts", timestamp_micros(expr("ts div 1000")).cast(TimestampNTZType)))

    val a = Tables.events(spark, nanosDir)
    val b = Tables.events(spark, microsDir)

    assert(a.columns.toSeq === Seq("id", "ts", "ts_ns", "tag"))
    assert(b.columns.toSeq === a.columns.toSeq)
    assert(a.schema("ts").dataType === TimestampType)
    assert(b.schema("ts").dataType === TimestampType)
    assert(a.schema("ts_ns").dataType === LongType)
    assert(b.schema("ts_ns").dataType === LongType)

    // Same wall-clock values at microsecond precision via both routes.
    val aRows = a.select($"id", unix_micros($"ts")).sort("id").collect().map(r => (r.getLong(0), r.getLong(1)))
    val bRows = b.select($"id", unix_micros($"ts")).sort("id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(aRows.sameElements(bRows))
    // Nanos route keeps full nanosecond precision in ts_ns.
    assert(a.sort("id").select("ts_ns").as[Long].collect().toSeq ===
      Seq(1700000000123456789L, 1700000001123456789L))
  }

  test("schema memo: a fixture regenerated at the same path is re-inferred") {
    import spark.implicits._
    val dir = Files.createTempDirectory("tables-spec").toString
    val p = Tables.path(dir, "region")
    Seq((0L, "AFRICA")).toDF("r_regionkey", "r_name")
      .coalesce(1).write.parquet(p)
    assert(Tables.region(spark, dir).columns.toSeq ===
      Seq("r_regionkey", "r_name"))
    Seq((0L, "AFRICA", "lush")).toDF("r_regionkey", "r_name", "r_comment")
      .coalesce(1).write.mode("overwrite").parquet(p)
    assert(Tables.region(spark, dir).select("r_comment").as[String]
      .collect().toSeq === Seq("lush"))
  }

  test("events loader: directed error on an unexpected ts physical type") {
    import spark.implicits._
    val dir = writeEvents(Seq((1L, "2023-11-14T22:13:20Z")).toDF("id", "ts"))
    val e = intercept[IllegalArgumentException](Tables.events(spark, dir))
    assert(e.getMessage.contains("events.ts"))
    assert(e.getMessage.contains("unexpected physical type"))
    assert(e.getMessage.contains("StringType"))
  }
}
