package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

import graft.sources.zarr.{ZarrWriter => ZW}

/** [[graft.plans.OnePartitionExchangeRule]]: a global aggregate or sort over
  * a one-partition scan plans no exchange and returns the rows the same
  * query returns over a local copy of the data; a scan with zero partitions
  * keeps its exchange, so a global aggregate still returns its one row. */
class OnePartitionExchangeSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  // 6 x 4 x 5 (time x latitude x longitude) in chunks of 3 x 2 x 5
  private lazy val ds: DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("onepart").toString + "/s.zarr"
    val (nt, ny, nx) = (6, 4, 5)
    ZW.write(dir, Seq(
      ZW.VarSpec("time", Seq("time"), Seq(nt), Seq(3), "<i8", (0 until nt).map(_ * 3600.0),
        units = Some("seconds since 2024-06-01")),
      ZW.VarSpec("latitude", Seq("latitude"), Seq(ny), Seq(2), "<f8", (0 until ny).map(40.0 - _)),
      ZW.VarSpec("longitude", Seq("longitude"), Seq(nx), Seq(5), "<f8", (0 until nx).map(_ * 1.0)),
      ZW.VarSpec("t2m", Seq("time", "latitude", "longitude"), Seq(nt, ny, nx), Seq(3, 2, 5),
        // quarter steps: every sum is exact in any order
        data = (0 until nt * ny * nx).map(i => 280.0 + (i * 7919 % 101) * 0.25))))
    spark.read.format("zarr").load(dir)
  }

  /** The query over the store, and over a local relation of its rows. */
  private def both(q: DataFrame => DataFrame): (DataFrame, DataFrame) =
    (q(ds), q(spark.createDataFrame(ds.collect().toList.asJava, ds.schema)))

  private def scanPartitions(where: org.apache.spark.sql.Column): Int =
    ds.where(where).rdd.getNumPartitions

  private def exchanges(df: DataFrame): Int =
    collect(df.queryExecution.executedPlan) { case e: ShuffleExchangeExec => e }.size

  test("a global aggregate over a one-partition scan plans no exchange") {
    val box = $"latitude" >= 39.0 && $"time" < "2024-06-01 02:30:00"
    assert(scanPartitions(box) == 1)
    val (zarr, local) = both(_.where(box).agg(avg($"t2m"), max($"t2m"), count(lit(1))))
    val rows = zarr.collect()
    assert(exchanges(zarr) == 0, zarr.queryExecution.executedPlan.toString)
    assert(rows.toSeq == local.collect().toSeq && rows.head.getLong(2) == 3 * 2 * 5)
  }

  test("an ORDER BY over a one-partition scan plans no exchange") {
    val box = $"latitude" <= 38.0 && $"time" >= "2024-06-01 03:00:00"
    assert(scanPartitions(box) == 1)
    val (zarr, local) = both(_.where(box).orderBy($"t2m".desc, $"longitude", $"latitude", $"time"))
    val rows = zarr.collect()
    assert(exchanges(zarr) == 0, zarr.queryExecution.executedPlan.toString)
    assert(rows.toSeq == local.collect().toSeq && rows.length == 3 * 2 * 5)
  }

  test("two partitions keep the exchange") {
    assert(scanPartitions($"latitude" >= 39.0) == 2)
    val zarr = ds.where($"latitude" >= 39.0).agg(count(lit(1)))
    assert(zarr.collect().head.getLong(0) == 6 * 2 * 5)
    assert(exchanges(zarr) == 1)
  }

  test("a zero-partition global aggregate keeps its exchange and returns one row") {
    assert(scanPartitions($"latitude" > 1000.0) == 0)
    val zarr = ds.where($"latitude" > 1000.0).agg(count(lit(1)), max($"t2m"))
    val rows = zarr.collect()
    assert(rows.length == 1 && rows.head.getLong(0) == 0 && rows.head.isNullAt(1))
    assert(exchanges(zarr) == 1, zarr.queryExecution.executedPlan.toString)
  }
}
