package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{col, count, lit, sum, to_date}
import org.apache.spark.sql.sources.{Filter, GreaterThanOrEqual, LessThanOrEqual}

import graft.operators.{Mover, Splitter}
import graft.sources.{DeltaTable, DeltaWriter, FormatRegistry, IcebergTable, IcebergWriter}
import graft.streaming.TableFollow

/** Streaming file-arrival ingest: a closed loop of small GRIB2 arrivals,
  * alternately into a Delta and an Iceberg table, each followed until the
  * follower serves its rows. Every `redeliver`-th arrival re-delivers an
  * earlier file through MERGE; every `queryEvery`-th arrival also runs an
  * analyst box query over both tables; every 4th arrival the splitter demuxes the last four
  * landed files by day (weather-sp). A round of `arrivals` starts on fresh
  * tables. Files are simple- and complex-packed in turn. */
object IngestTables {
  final case class Size(arrivals: Int, grid: GribGrid, redeliver: Int, queryEvery: Int)
  val sizes: Map[String, Size] = Map(
    "full" -> Size(8, GribGrid(41, 31, 50.0, -10.0, 0.5), 8, 1),
    "mini" -> Size(8, GribGrid(21, 16, 50.0, -10.0, 1.0), 4, 2))
  val area: Mover.Area = Mover.Area(north = 48, west = -8, south = 38, east = 8)
  val options: Mover.Options =
    Mover.Options(area = Some(area), importTime = Some("2024-06-01 00:00:00"))
  val level = 850
  val keys: Seq[String] = Seq("time", "latitude", "longitude")
  val formats: Seq[String] = Seq("delta", "iceberg")

  final class Inputs(val size: Size, val model: GribModel, val dir: Path) {
    def file(a: Int): Path = dir.resolve(f"arrivals/a-$a%03d.grib2")
    def time(a: Int): java.time.LocalDateTime = model.base.plusHours(a.toLong)
    def isRedelivery(a: Int): Boolean = a % size.redeliver == size.redeliver - 1
    /** The table (0 Delta, 1 Iceberg) and source file of arrival `a` of
      * round `r`. Re-deliveries target the two tables in turn, counted
      * across rounds, and pick an earlier file of the targeted table. */
    def slot(a: Int, r: Int): (Int, Int) =
      if (!isRedelivery(a)) (a % 2, a)
      else {
        val fmt = ((r * size.arrivals + a) / size.redeliver) % 2
        var s = a - size.redeliver / 2
        while (s % 2 != fmt || isRedelivery(s)) s -= 1
        (fmt, s)
      }
    val cells: Seq[(Int, Int)] =
      size.grid.cellsIn(area.north, area.west, area.south, area.east)
    def keysOf(src: Int): Set[(java.time.LocalDateTime, Double, Double)] =
      cells.map { case (j, i) => (time(src), size.grid.lat(j), size.grid.lon(i)) }.toSet
  }

  def prepare(cache: Path, seed: Long, size: String): Inputs = {
    val sz = sizes(size)
    val model = new GribModel(seed, sz.grid)
    val dir = Cache.get(cache, s"ingest_tables-$size-$seed") { d =>
      Files.createDirectories(d.resolve("arrivals"))
      val in = new Inputs(sz, model, d)
      (0 until sz.arrivals).filterNot(in.isRedelivery).foreach { a =>
        model.write(in.file(a), a, in.time(a), Seq(level), packing = if ((a / 2) % 2 == 0) 0 else 3)
      }
    }
    new Inputs(sz, model, dir)
  }

  /** One round of arrivals on fresh tables, with its own inbox, follower
    * cursors and split outputs. */
  final class Round(run: Run, in: Inputs, r: Int, val dir: Path) {
    private val rec = run.rec
    private val spark = run.spark
    private val table = formats.map(f => dir.resolve(f).toString)
    private val cursor = formats.map(f => dir.resolve(s"$f.cursor").toString)
    private val commits = Array(0, 0)
    private val files = Array(mutable.ArrayBuffer.empty[Int], mutable.ArrayBuffer.empty[Int])
    private val tableBytes = Array(0L, 0L)
    var written = 0L
    var userBytes = 0L
    /** Per table read: the format, the table's commit count, the seconds. */
    val replay = mutable.ArrayBuffer.empty[(Int, Int, Double)]

    private def append(fmt: Int, rows: org.apache.spark.sql.DataFrame, merge: Boolean): Unit =
      (fmt, merge) match {
        case (0, false) => rec.call("commit.delta_append")(DeltaWriter.writeAppend(spark, rows, table(0)))
        case (1, false) => rec.call("commit.iceberg_append")(IcebergWriter.writeAppend(spark, rows, table(1)))
        case (0, true) => rec.call("commit.delta_merge")(DeltaWriter.writeMerge(spark, table(0), rows, keys))
        case _ => rec.call("commit.iceberg_merge")(IcebergWriter.writeMerge(spark, table(1), rows, keys))
      }

    private def follow(fmt: Int): Array[Row] = {
      var served: Array[Row] = null
      var polls = 0
      while (served == null && polls < 10) {
        polls += 1
        val serve = (df: org.apache.spark.sql.DataFrame, _: Long) =>
          served = df.select(keys.map(col): _*).collect()
        if (fmt == 0) rec.call("follow.delta")(TableFollow.followDeltaOnce(spark, table(0), cursor(0))(serve))
        else rec.call("follow.iceberg")(TableFollow.followIcebergOnce(spark, table(1), cursor(1))(serve))
      }
      served
    }

    def arrival(a: Int): Unit = {
      val (fmt, src) = in.slot(a, r)
      val redelivery = in.isRedelivery(a)
      val landed = dir.resolve(f"inbox/${a / 4}/a-$a%03d.grib2")
      Files.createDirectories(landed.getParent)
      Files.copy(in.file(src), landed, StandardCopyOption.REPLACE_EXISTING)
      val path = landed.toString
      run.op(if (redelivery) "ingest.redelivery" else "ingest.visible", shape = formats(fmt)) {
        val ds = rec.call("grib.open")(FormatRegistry.open(spark, path))
        val rows = rec.call("mover.call")(Mover.extractRows(ds, path, options))
        append(fmt, rows, redelivery)
        follow(fmt)
      } { served =>
        commits(fmt) += 1
        if (!redelivery) {
          files(fmt) += src
          val now = Cache.size(Path.of(table(fmt)))
          written += now - tableBytes(fmt)
          tableBytes(fmt) = now
          userBytes += in.cells.size * in.model.params.size * 8L
        }
        val got = served.map(r => (Check.time(r(0)), Check.num(r(1)), Check.num(r(2))))
        Check.all(
          Check.same(s"arrival $a served rows", got.length, in.cells.size),
          Check.same(s"arrival $a served keys", got.toSet, in.keysOf(src)))
      }
      if (redelivery) {
        val n = if (fmt == 0) DeltaTable.read(spark, table(0)).count()
          else IcebergTable.read(spark, table(1)).count()
        run.attempted += 1
        Check.same(s"re-delivery $a row count", n, files(fmt).size.toLong * in.cells.size)
          .foreach { why => run.failed += 1; run.failures += why }
      }
      // once both tables exist
      if (a >= 1 && a % in.size.queryEvery == in.size.queryEvery - 1) query()
      if (a % 4 == 3) split(a / 4)
    }

    /** The splitter over one inbox batch (a glob of four landed files),
      * partitioned by day; checked against the files' days and cells. */
    private def split(batch: Int): Unit = {
      val inbox = dir.resolve(s"inbox/$batch")
      val out = dir.resolve(s"split/$batch")
      val glob = inbox.toString + "/*.grib2"
      val srcs = (batch * 4 until batch * 4 + 4).map(a => in.slot(a, r)._2)
      run.op("ingest.split") {
        val ds = rec.call("grib.open")(FormatRegistry.open(spark, glob))
        rec.call("splitter.call")(
          Splitter.split(ds.withColumn("day", to_date(col("time"))), Seq("day"), out.toString))
      } { _ =>
        val days = java.nio.file.Files.list(out).iterator().asScala.map(_.getFileName.toString)
          .filter(_.startsWith("day=")).map(_.stripPrefix("day=")).toSet
        val n = spark.read.parquet(out.toString).count()
        val all = srcs.size.toLong * in.size.grid.cells
        Check.all(Check.same("split partitions", days, srcs.map(s => in.time(s).toLocalDate.toString).toSet),
          Check.same("split rows", n, all))
      }
    }

    /** Analyst box query over both tables; checked against the
      * generator's values. */
    private def query(): Unit = {
      val g = in.size.grid
      val (latLo, latHi, lonLo, lonHi) = (40.0, 46.0, -4.0, 4.0)
      val filters: Seq[Filter] = Seq(
        GreaterThanOrEqual("latitude", latLo), LessThanOrEqual("latitude", latHi),
        GreaterThanOrEqual("longitude", lonLo), LessThanOrEqual("longitude", lonHi))
      val channel = in.model.channel("t", level)
      val atCommits = commits.toSeq
      // the replay call alone, without any tracing around it
      def timed[T](fmt: Int)(body: => T): T = {
        val t0 = System.nanoTime()
        try body finally replay += ((fmt, atCommits(fmt), (System.nanoTime() - t0) / 1e9))
      }
      run.op("ingest.query", repeatable = true) {
        formats.indices.map { fmt =>
          val df =
            if (fmt == 0) rec.call("replay.delta")(timed(0)(DeltaTable.readWhere(spark, table(0), filters)))
            else rec.call("replay.iceberg")(timed(1)(IcebergTable.readWhere(spark, table(1), filters)))
          rec.call(s"read.${formats(fmt)}")(df.agg(count(lit(1)), sum(col(channel))).collect())
        }
      } { results =>
        val box = in.cells.filter { case (j, i) =>
          g.lat(j) >= latLo && g.lat(j) <= latHi && g.lon(i) >= lonLo && g.lon(i) <= lonHi
        }
        results.zipWithIndex.flatMap { case (rows, fmt) =>
          val want = files(fmt).map(f => box.map { case (j, i) => in.model.value(f, 0, level, j, i) }.sum).sum
          Check.all(
            Check.same(s"${formats(fmt)} query rows", Check.num(rows.head(0)).toLong, files(fmt).size.toLong * box.size),
            Check.near(s"${formats(fmt)} query sum", Check.num(rows.head(1)), want,
              1e-6 * math.max(1.0, math.abs(want))))
        }.headOption
      }
    }
  }

  /** Whole rounds of arrivals until the deadline, and at least `minOps`
    * arrivals: every round has the same mix of formats, re-deliveries,
    * queries and splits, and the same table lengths. */
  def run(run: Run, in: Inputs, deadline: Long, minOps: Int,
      maxOps: Int = Int.MaxValue): Unit = {
    var done = 0
    var r = 0
    val replay = mutable.ArrayBuffer.empty[(Int, Int, Double)]
    var written = 0L
    var userBytes = 0L
    while ((System.nanoTime() < deadline || done < minOps) && done < maxOps) {
      val round = new Round(run, in, r, run.work.resolve(s"ingest/round-$r"))
      var a = 0
      while (a < in.size.arrivals && done < maxOps) {
        run.rec.window = done < minOps
        round.arrival(a)
        a += 1
        done += 1
      }
      replay ++= round.replay
      written += round.written
      userBytes += round.userBytes
      Cache.deleteTree(round.dir)
      r += 1
    }
    if (userBytes > 0)
      run.layerValue("commit.bytes_written_per_user_byte", written.toDouble / userBytes)
    slope(replay.toSeq).foreach(b => run.layerValue("replay.s_per_100_commits", 100 * b))
  }

  /** Least-squares slope of seconds against commits, with an intercept of
    * its own for each format: the formats' different replay levels do not
    * leak into the slope, which is the growth within a format. */
  def slope(fxy: Seq[(Int, Int, Double)]): Option[Double] = {
    val centred = fxy.groupBy(_._1).values.toSeq.flatMap { g =>
      val mx = g.map(_._2.toDouble).sum / g.size
      val my = g.map(_._3).sum / g.size
      g.map(p => (p._2 - mx, p._3 - my))
    }
    val sxx = centred.map(p => p._1 * p._1).sum
    if (sxx == 0) None else Some(centred.map(p => p._1 * p._2).sum / sxx)
  }
}
