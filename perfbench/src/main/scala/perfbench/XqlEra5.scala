package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

import graft.operators.WxSql
import graft.plans.GeoConstants
import graft.sources.zarr.{Blosc, ZarrInputPartition}

/** xql analyst: a closed loop of seeded queries over an ERA5-shaped store.
  * `scan` queries aggregate the whole store; `pruned` queries hit a small
  * box, a country or city, or one grid point, so chunk pruning leaves them
  * with the per-query floor. */
object XqlEra5 {
  val sizes: Map[String, Era5Size] = Map(
    "1deg" -> Era5Size(48, 181, 360, 24, 46, 90),
    "mini" -> Era5Size(24, 73, 144, 24, 19, 36))

  final class Inputs(val seed: Long, val model: Era5, val stats: Era5Stats, val dir: Path) {
    def store: String = dir.resolve("era5.zarr").toString
  }

  def prepare(cache: Path, seed: Long, size: String): Inputs = {
    val sz = sizes(size)
    val dir = Cache.get(cache, s"xql_era5-$size-$seed")(d => new Era5(seed, sz).write(d))
    new Inputs(seed, new Era5(seed, sz), Era5Stats.read(dir.resolve("expect.tsv"), sz.nt), dir)
  }

  /** One query: its class, its shape within the class, its SQL, the
    * number of cells its predicate selects, and the check of its rows
    * against the generator. */
  final case class Query(cls: String, shape: String, sql: String, cells: Long,
      check: Array[Row] => Option[String])

  private def ts(m: Era5, t: Int): String =
    s"TIMESTAMP '${m.time(t).toString.replace('T', ' ')}:00'"

  /** The seeded query sequence: one scan, then `pruned` pruned queries,
    * repeated; scans rotate through aggregate, daily buckets and top-k, and
    * the daily buckets alternate the `time_date` sugar with `date_trunc`. */
  def queries(in: Inputs, pruned: Int, stream: Long = 0L): Iterator[Query] = {
    val m = in.model
    val s = in.stats
    val sz = m.size
    val r = new scala.util.Random(in.seed * 31 + stream)
    def dec(v: Int, q: Long): Double = q * m.scale(v) + m.offset(v)
    def avgOf(v: Int, ts: Seq[Int]): Double = {
      val n = ts.map(s.count(v)(_)).sum
      (m.scale(v) * ts.map(s.sumQ(v)(_)).sum + m.offset(v) * n) / n
    }
    val allT = 0 until sz.nt
    val allCells = sz.nt.toLong * sz.ny * sz.nx
    val tol = m.scale.map(_ / 2)

    def scan(k: Int): Query = k % 3 match {
      case 0 => Query("scan", "aggregate",
        "SELECT AVG(t2m), MIN(t2m), MAX(t2m), COUNT(t2m), AVG(u10) FROM era5", allCells, rows => {
          val row = rows.head
          Check.all(
            Check.near("avg t2m", Check.num(row(0)), avgOf(0, allT), tol(0)),
            Check.near("min t2m", Check.num(row(1)), dec(0, allT.map(s.minQ(0)(_)).min), 1e-9),
            Check.near("max t2m", Check.num(row(2)), dec(0, allT.map(s.maxQ(0)(_)).max), 1e-9),
            Check.same("count t2m", Check.num(row(3)).toLong, allT.map(s.count(0)(_)).sum),
            Check.near("avg u10", Check.num(row(4)), avgOf(1, allT), tol(1)))
        })
      case 1 =>
        val bucket = if (k / 3 % 2 == 0) "time_date" else "date_trunc('DAY', time)"
        Query("scan", "daily", s"SELECT $bucket AS day, AVG(t2m), MAX(u10) FROM era5 " +
          s"GROUP BY $bucket ORDER BY day", allCells, rows => {
          val days = allT.grouped(24).toSeq
          Check.same("days", rows.length, days.size).orElse(
            rows.zip(days).flatMap { case (row, d) =>
              Check.all(
                Check.same("day", Check.time(row(0)), m.time(d.head)),
                Check.near(s"avg t2m day ${d.head / 24}", Check.num(row(1)), avgOf(0, d), tol(0)),
                Check.near(s"max u10 day ${d.head / 24}", Check.num(row(2)),
                  dec(1, d.map(s.maxQ(1)(_)).max), 1e-9))
            }.headOption)
        })
      case _ => Query("scan", "top-k",
        "SELECT time, latitude, longitude, t2m FROM era5 ORDER BY t2m DESC LIMIT 10", allCells, rows => {
          val want = s.top10.map(q => dec(0, q))
          Check.same("top-k rows", rows.length, want.size).orElse(
            rows.zip(want).flatMap { case (row, w) =>
              val t = java.time.Duration.between(m.start, Check.time(row(0))).toHours.toInt
              val y = math.round((90.0 - Check.num(row(1))) * (sz.ny - 1) / 180.0).toInt
              val x = math.round((Check.num(row(2)) + 180.0) * sz.nx / 360.0).toInt
              Check.all(
                Check.near("top-k value", Check.num(row(3)), w, 1e-9),
                Check.near("top-k cell", m.decoded(0, m.q(0, t, y, x)), w, 1e-9))
            }.headOption)
        })
    }

    /** Aggregates over a box in a 9-hour window, recomputed from the
      * generator. The window lies inside one day, so inside one time chunk:
      * the seed moves the work of a query, not its amount. */
    def box(shape: String, name: String, where: String, lat0: Double, lat1: Double,
        lon0: Double, lon1: Double): Query = {
      val t0 = r.nextInt(sz.nt / sz.ct) * sz.ct + r.nextInt(sz.ct - 8)
      val ts = t0 to t0 + 8
      val ys = m.lat.indices.filter(y => m.lat(y) >= lat0 && m.lat(y) <= lat1)
      val xs = m.lon.indices.filter(x => m.lon(x) >= lon0 && m.lon(x) <= lon1)
      var n = 0L; var sum = 0L; var umax = Int.MinValue
      for (t <- ts; y <- ys; x <- xs) {
        val q0 = m.q(0, t, y, x)
        if (q0 != m.Missing) { n += 1; sum += q0 }
        umax = math.max(umax, m.q(1, t, y, x).toInt)
      }
      val cells = ts.size.toLong * ys.size * xs.size
      Query("pruned", shape, s"SELECT AVG(t2m), MAX(u10), COUNT(t2m), COUNT(*) FROM era5 WHERE $where " +
        s"AND time BETWEEN ${this.ts(m, ts.head)} AND ${this.ts(m, ts.last)}", cells, rows => {
        val row = rows.head
        val avg = if (n == 0) Double.NaN else (m.scale(0) * sum + m.offset(0) * n) / n
        Check.all(
          Check.same(s"$name cells", Check.num(row(3)).toLong, cells),
          Check.same(s"$name count t2m", Check.num(row(2)).toLong, n),
          Check.near(s"$name avg t2m", Check.num(row(0)), avg, tol(0)),
          Check.near(s"$name max u10", Check.num(row(1)),
            if (cells == 0) Double.NaN else dec(1, umax), 1e-9))
      })
    }

    /** First index of `n` cells that lie inside one whole chunk of `c`
      * cells along a dimension of `size` cells. */
    def inChunk(size: Int, c: Int, n: Int): Int = r.nextInt(size / c) * c + r.nextInt(c - n + 1)
    val countries = GeoConstants.countries.toSeq.sortBy(_._1)
    val cities = GeoConstants.cities.toSeq.sortBy(_._1)

    def prunedQuery(k: Int): Query = k % 4 match {
      case 0 =>
        // 9 x 13 cells inside one spatial chunk
        val y = inChunk(sz.ny, sz.cy, 9); val x = inChunk(sz.nx, sz.cx, 13)
        val (a, b, c, d) = (m.lat(y + 8), m.lat(y), m.lon(x), m.lon(x + 12))
        box("box", "box", s"latitude BETWEEN ${a}D AND ${b}D AND longitude BETWEEN ${c}D AND ${d}D",
          a, b, c, d)
      // countries and cities in turn, so every run draws the same ones
      case 1 =>
        val (name, b) = countries((k / 4) % countries.size)
        box("country", s"country $name", s"country = '$name'", b.latMin, b.latMax, b.lonMin, b.lonMax)
      case 2 =>
        val (name, b) = cities((k / 4) % cities.size)
        box("city", s"city $name", s"city = '$name'", b.latMin, b.latMax, b.lonMin, b.lonMax)
      case _ =>
        val y = r.nextInt(sz.ny); val x = r.nextInt(sz.nx)
        Query("pruned", "point", s"SELECT time, t2m, u10 FROM era5 WHERE latitude = ${m.lat(y)}D " +
          s"AND longitude = ${m.lon(x)}D ORDER BY time", sz.nt, rows =>
          Check.same("point rows", rows.length, sz.nt).orElse(
            rows.zipWithIndex.flatMap { case (row, t) =>
              Check.all(
                Check.same("point time", Check.time(row(0)), m.time(t)),
                Check.near("point t2m", Check.num(row(1)), m.decoded(0, m.q(0, t, y, x)), tol(0)),
                Check.near("point u10", Check.num(row(2)), m.decoded(1, m.q(1, t, y, x)), tol(1)))
            }.headOption))
    }

    Iterator.from(0).map { i =>
      if (i % (pruned + 1) == 0) scan(i / (pruned + 1)) else prunedQuery(i - i / (pruned + 1) - 1)
    }
  }

  /** Zarr chunks the executed plan read, the chunks the store holds for
    * the same variables, and the cells of the chunks read (each cell once,
    * whatever the number of variables). */
  def chunks(df: DataFrame, size: Era5Size): (Long, Long, Long) = {
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case other => other +: (other.children ++ other.subqueries).flatMap(walk)
    }
    val parts = walk(df.queryExecution.executedPlan).collect {
      case b: BatchScanExec => b.inputPartitions
    }.flatten.collect { case z: ZarrInputPartition => z }
    val (gt, gy, gx) = size.chunkGrid
    val perVar = gt.toLong * gy * gx
    def cells(p: ZarrInputPartition): Long = p.shape.indices.map { d =>
      math.min(p.chunks(d), p.shape(d) - p.chunkIdx(d) * p.chunks(d)).toLong
    }.product
    (parts.map(_.vars.length.toLong).sum,
      parts.headOption.map(_.vars.length * perVar).getOrElse(0L),
      parts.map(cells).sum)
  }

  /** The closed loop. Every group of one scan and `pruned` pruned queries
    * first opens the store (`WxSql.set`). The loop ends at the deadline, but
    * only after whole rounds of the three scan kinds, so every run samples
    * them in equal shares; and never before `minOps` queries, so the
    * structural window always completes. */
  def run(run: Run, in: Inputs, deadline: Long, minOps: Int, pruned: Int,
      maxOps: Int = Int.MaxValue): Unit = {
    val rec = run.rec
    val wx = WxSql(run.spark)
    val qs = queries(in, pruned)
    val round = 3 * (pruned + 1)
    var i = 0
    var read = 0L; var total = 0L; var kept = 0L; var decoded = 0L
    while ((i % round != 0 || System.nanoTime() < deadline || i < minOps) && i < maxOps) {
      rec.window = i < minOps
      if (i % (pruned + 1) == 0)
        run.op("xql.open", repeatable = true)(rec.call("zarr.open")(wx.set("era5", in.store)))(_ => None)
      val q = qs.next()
      run.op(s"xql.${q.cls}", repeatable = true, shape = q.shape) {
        val df = rec.call("wxsql.call")(wx.sql(q.sql))
        (df, rec.call("wxsql.exec")(df.collect()))
      } { case (df, rows) =>
        if (run.lastTraced && rec.window) {
          val (r, t, c) = chunks(df, in.model.size)
          read += r; total += t; decoded += c
          kept += q.cells
        }
        q.check(rows)
      }
      i += 1
    }
    if (rec.traced) {
      run.layerValue("zarr.chunks_read", read.toDouble / minOps)
      run.layerValue("zarr.chunks_pruned_share", if (total == 0) 0.0 else 1.0 - read.toDouble / total)
      // cells the predicate keeps (checked against the query's own
      // COUNT) over cells of the chunks the scan decoded
      if (decoded > 0) run.layerValue("wxsql.rows_kept_share", kept.toDouble / decoded)
    }
  }

  /** Rounds of the loop's query cycle on each of `stores` in turn (a
    * round has every scan kind once and every pruned shape three times),
    * drawn from a query stream of their own. */
  def warmup(run: Run, stores: Seq[(Inputs, Int)], pruned: Int): Unit = {
    val wx = WxSql(run.spark)
    for ((in, rounds) <- stores) {
      wx.set("era5", in.store)
      queries(in, pruned, stream = 1L).take(rounds * 3 * (pruned + 1)).foreach { q =>
        run.op("warmup")(wx.sql(q.sql).collect())(q.check)
      }
    }
  }

  /** Single-thread blosc decode rate over the store's own chunk files, in
    * MB of decoded bytes per second. */
  def bloscMbPerS(in: Inputs): Double = {
    val files = in.model.vars.flatMap { v =>
      Files.list(Path.of(in.store, v)).iterator().asScala
        .filterNot(_.getFileName.toString.startsWith(".")).toSeq
    }
    val raws = files.sorted.map(f => Files.readAllBytes(f))
    var bytes = 0L
    var passes = 0
    val t0 = System.nanoTime()
    while (passes < 2 || System.nanoTime() - t0 < 500000000L) {
      raws.foreach(r => bytes += Blosc.decompress(r).length)
      passes += 1
    }
    bytes / 1e6 / ((System.nanoTime() - t0) / 1e9)
  }
}
