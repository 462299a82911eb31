package perfbench

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Path, StandardCopyOption}
import java.time.LocalDateTime

import scala.jdk.CollectionConverters._

import graft.sources.grib.Grib2Writer
import graft.sources.zarr.Blosc

/** Seeded inputs, cached on disk by (workload, size, seed). Each entry has
  * a MANIFEST of every file's length and CRC-32; an entry that fails the
  * check is generated again. Generation never runs inside set-up. */
object Cache {
  /** Entries kept: a set of ten seeds on both workloads uses 40 (each run
    * reads its own inputs and the probe's small ones), about 130 MB. */
  private val Keep = 48

  def get(root: Path, key: String)(generate: Path => Unit): Path = {
    val dir = root.resolve(key)
    val manifest = dir.resolve("MANIFEST")
    if (Files.exists(manifest) && Files.readString(manifest) == digest(dir)) {
      Files.setLastModifiedTime(manifest,
        java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis()))
      return dir
    }
    val tmp = root.resolve(key + ".tmp")
    deleteTree(dir)
    deleteTree(tmp)
    Files.createDirectories(tmp)
    generate(tmp)
    Files.writeString(tmp.resolve("MANIFEST"), digest(tmp))
    Files.move(tmp, dir, StandardCopyOption.ATOMIC_MOVE)
    evict(root)
    dir
  }

  /** One line per file: CRC-32, length, relative path (sorted). */
  private def digest(dir: Path): String = {
    val files = Files.walk(dir).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString != "MANIFEST")
      .map(p => dir.relativize(p).toString).toSeq.sorted
    files.map { rel =>
      val crc = new java.util.zip.CRC32
      val bytes = Files.readAllBytes(dir.resolve(rel))
      crc.update(bytes)
      f"${crc.getValue}%08x ${bytes.length} $rel"
    }.mkString("", "\n", "\n")
  }

  /** Keep the most recently used entries; the rest are deleted. */
  private def evict(root: Path): Unit = {
    val entries = Files.list(root).iterator().asScala
      .filter(p => Files.exists(p.resolve("MANIFEST"))).toSeq
      .sortBy(p => -Files.getLastModifiedTime(p.resolve("MANIFEST")).toMillis)
    entries.drop(Keep).foreach(deleteTree)
  }

  /** Bytes of all files under `p`. */
  def size(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
}

/** 64-bit mixer: the per-cell noise is a pure function of (seed, cell), so
  * any box of the generated data can be recomputed to check a result. */
object Mix {
  def apply(x: Long): Long = {
    var z = x + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  /** Uniform in [-0.5, 0.5) from 16 bits of `h` starting at `shift`. */
  def unit(h: Long, shift: Int): Double = ((h >>> shift) & 0xffff) / 65536.0 - 0.5
}

/** Grid of an ERA5-shaped Zarr v2 store: time x latitude x longitude with
  * the reference's chunking pattern [24, lat/4, lon/4]. */
final case class Era5Size(nt: Int, ny: Int, nx: Int, ct: Int, cy: Int, cx: Int) {
  def tag: String = s"${nt}x${ny}x$nx"
  def chunkGrid: (Int, Int, Int) =
    ((nt + ct - 1) / ct, (ny + cy - 1) / cy, (nx + cx - 1) / cx)
}

/** The store's values: two int16 variables with scale_factor / add_offset
  * / missing_value, as ERA5 ships them. `q` is the stored integer. */
final class Era5(seed: Long, val size: Era5Size) {
  import size._
  val vars: Seq[String] = Seq("t2m", "u10")
  val scale: Array[Double] = Array(0.002, 0.001)
  val offset: Array[Double] = Array(265.0, 0.0)
  val Missing: Short = -32767
  val start: LocalDateTime =
    LocalDateTime.of(2023, 1, 1, 0, 0).plusDays(math.floorMod(seed, 365L))
  private val hours0: Long =
    java.time.Duration.between(LocalDateTime.of(1900, 1, 1, 0, 0), start).toHours

  val lat: Array[Double] = Array.tabulate(ny)(y => 90.0 - y * 180.0 / (ny - 1))
  val lon: Array[Double] = Array.tabulate(nx)(x => -180.0 + x * 360.0 / nx)
  def time(t: Int): LocalDateTime = start.plusHours(t)

  private val phase = Mix(seed) % 1000 / 100.0
  private val latR = lat.map(math.toRadians)
  private val lonR = lon.map(math.toRadians)
  private val base = latR.map(r => 288.0 - 50.0 * math.sin(r) * math.sin(r))
  private val diurnal = Array.tabulate(nt, nx)((t, x) =>
    6.0 * math.cos(2 * math.Pi * (t % 24) / 24.0 + lonR(x)))
  private val synoptic = Array.tabulate(nt, ny)((t, y) =>
    4.0 * math.sin(0.05 * (t + phase) + 3 * latR(y)))
  private val jet = latR.map(r => 12.0 * math.sin(2 * r))
  private val wave = Array.tabulate(nt, nx)((t, x) =>
    math.cos(0.08 * (t + phase) + 2 * lonR(x)))

  /** Stored int16 of variable `v` at (t, y, x). */
  def q(v: Int, t: Int, y: Int, x: Int): Short = {
    val h = Mix(seed * 0x100000001b3L + (t.toLong * ny + y) * nx + x)
    if (v == 0) {
      if (((h >>> 40) & 0x3ff) == 0) Missing
      else {
        val k = base(y) + diurnal(t)(x) + synoptic(t)(y) + Mix.unit(h, 0)
        math.round((k - offset(0)) / scale(0)).toShort
      }
    } else {
      val w = jet(y) * wave(t)(x) + 2 * Mix.unit(h, 16)
      math.round(w / scale(1)).toShort
    }
  }

  def decoded(v: Int, q: Short): Double =
    if (q == Missing) Double.NaN else q * scale(v) + offset(v)

  /** Write the store: consolidated metadata, coordinates, and blosc-lz4
    * byte-shuffled int16 chunks, plus the whole-store statistics. */
  def write(dir: Path): Unit = {
    val store = dir.resolve("era5.zarr")
    Files.createDirectories(store)
    val dims = """"_ARRAY_DIMENSIONS": """
    def arr(shape: Seq[Int], chunks: Seq[Int], dtype: String, comp: String, fill: String) =
      s"""{"zarr_format": 2, "shape": [${shape.mkString(", ")}], "chunks": [${chunks.mkString(", ")}], "dtype": "$dtype", "compressor": $comp, "fill_value": $fill, "order": "C", "filters": null}"""
    val blosc = """{"id": "blosc", "cname": "lz4", "clevel": 5, "shuffle": 1, "blocksize": 0}"""
    val meta = Seq(
      "time" -> (arr(Seq(nt), Seq(nt), "<i8", "null", "null"),
        s"""{$dims["time"], "units": "hours since 1900-01-01 00:00:00.0", "calendar": "gregorian"}"""),
      "latitude" -> (arr(Seq(ny), Seq(ny), "<f4", "null", "\"NaN\""),
        s"""{$dims["latitude"], "units": "degrees_north"}"""),
      "longitude" -> (arr(Seq(nx), Seq(nx), "<f4", "null", "\"NaN\""),
        s"""{$dims["longitude"], "units": "degrees_east"}""")) ++
      vars.zipWithIndex.map { case (name, v) =>
        name -> (arr(Seq(nt, ny, nx), Seq(ct, cy, cx), "<i2", blosc, "null"),
          s"""{$dims["time", "latitude", "longitude"], "scale_factor": ${scale(v)}, "add_offset": ${offset(v)}, "missing_value": $Missing, "units": "${if (v == 0) "K" else "m s**-1"}"}""")
      }
    Files.writeString(store.resolve(".zgroup"), """{"zarr_format": 2}""")
    val entries = ("\".zgroup\": {\"zarr_format\": 2}") +: meta.flatMap { case (n, (za, zat)) =>
      Files.createDirectories(store.resolve(n))
      Files.writeString(store.resolve(n).resolve(".zarray"), za)
      Files.writeString(store.resolve(n).resolve(".zattrs"), zat)
      Seq(s""""$n/.zarray": $za""", s""""$n/.zattrs": $zat""")
    }
    Files.writeString(store.resolve(".zmetadata"),
      entries.mkString("{\"metadata\": {", ", ", "}, \"zarr_consolidated_format\": 1}"))
    def le(n: Int) = ByteBuffer.allocate(n).order(ByteOrder.LITTLE_ENDIAN)
    val tb = le(8 * nt); (0 until nt).foreach(t => tb.putLong(hours0 + t))
    Files.write(store.resolve("time/0"), tb.array())
    val yb = le(4 * ny); lat.foreach(v => yb.putFloat(v.toFloat))
    Files.write(store.resolve("latitude/0"), yb.array())
    val xb = le(4 * nx); lon.foreach(v => xb.putFloat(v.toFloat))
    Files.write(store.resolve("longitude/0"), xb.array())

    val stats = new Era5Stats(nt)
    val (gt, gy, gx) = chunkGrid
    for (v <- vars.indices; it <- 0 until gt; iy <- 0 until gy; ix <- 0 until gx) {
      val buf = le(2 * ct * cy * cx)
      for (lt <- 0 until ct; ly <- 0 until cy; lx <- 0 until cx) {
        val t = it * ct + lt; val y = iy * cy + ly; val x = ix * cx + lx
        val qv: Short = if (t < nt && y < ny && x < nx) {
          val qq = q(v, t, y, x)
          stats.add(v, t, qq, qq != Missing)
          qq
        } else 0
        buf.putShort(qv)
      }
      Files.write(store.resolve(s"${vars(v)}/$it.$iy.$ix"),
        Blosc.compress(buf.array(), 2, shuffle = true))
    }
    Files.writeString(dir.resolve("expect.tsv"), stats.render)
  }
}

/** Exact integer statistics of the stored values, per variable and time
  * step, plus the ten largest stored t2m values. */
final class Era5Stats(nt: Int) {
  val count: Array[Array[Long]] = Array.fill(2, nt)(0L)
  val sumQ: Array[Array[Long]] = Array.fill(2, nt)(0L)
  val minQ: Array[Array[Int]] = Array.fill(2, nt)(Int.MaxValue)
  val maxQ: Array[Array[Int]] = Array.fill(2, nt)(Int.MinValue)
  private val top = new java.util.PriorityQueue[Integer]()

  def add(v: Int, t: Int, q: Short, present: Boolean): Unit = if (present) {
    count(v)(t) += 1; sumQ(v)(t) += q
    if (q < minQ(v)(t)) minQ(v)(t) = q
    if (q > maxQ(v)(t)) maxQ(v)(t) = q
    if (v == 0) addTop(q)
  }

  def addTop(q: Int): Unit = if (top.size < 10 || q > top.peek()) {
    top.add(q)
    if (top.size > 10) top.poll()
  }

  def top10: Seq[Int] = top.asScala.toSeq.map(_.toInt).sorted.reverse

  def render: String = {
    val rows = for (v <- 0 until 2; t <- 0 until nt) yield
      s"stat\t$v\t$t\t${count(v)(t)}\t${sumQ(v)(t)}\t${minQ(v)(t)}\t${maxQ(v)(t)}"
    (rows :+ s"top\t${top10.mkString("\t")}").mkString("", "\n", "\n")
  }
}

object Era5Stats {
  def read(path: Path, nt: Int): Era5Stats = {
    val s = new Era5Stats(nt)
    Files.readAllLines(path).asScala.foreach { line =>
      val f = line.split('\t')
      if (f(0) == "stat") {
        val v = f(1).toInt; val t = f(2).toInt
        s.count(v)(t) = f(3).toLong; s.sumQ(v)(t) = f(4).toLong
        s.minQ(v)(t) = f(5).toInt; s.maxQ(v)(t) = f(6).toInt
      } else f.drop(1).foreach(q => s.addTop(q.toInt))
    }
    s
  }
}

/** A regular lat/lon GRIB2 grid, north to south. */
final case class GribGrid(ni: Int, nj: Int, la1: Double, lo1: Double, step: Double) {
  def lat(j: Int): Double = la1 - j * step
  def lon(i: Int): Double = lo1 + i * step
  def la2: Double = lat(nj - 1)
  def lo2: Double = lon(ni - 1)
  def cells: Int = ni * nj
  /** Cells inside an inclusive [north, west, south, east] box. */
  def cellsIn(n: Double, w: Double, s: Double, e: Double): Seq[(Int, Int)] =
    for (j <- 0 until nj if lat(j) >= s && lat(j) <= n;
         i <- 0 until ni if lon(i) >= w && lon(i) <= e) yield (j, i)
}

/** GRIB2 fields on isobaric levels; values are multiples of 0.01 so the
  * decimal-scale-2 packing reproduces them. */
final class GribModel(seed: Long, val grid: GribGrid) {
  val params: Seq[(Int, Int, String)] = Seq((0, 0, "t"), (2, 2, "u"), (2, 3, "v"), (1, 1, "r"))
  val base: LocalDateTime = LocalDateTime.of(2024, 6, 1, 0, 0)

  def channel(param: String, hPa: Int): String = s"isobaricInhPa_${hPa}_instant_$param"

  def value(file: Int, p: Int, hPa: Int, j: Int, i: Int): Double = {
    val h = Mix(seed * 31 + ((file.toLong * 8 + p) * 2000 + hPa) * 1000003L + j * 4099L + i)
    val la = math.toRadians(grid.lat(j)); val lo = math.toRadians(grid.lon(i))
    val wave = math.sin(3 * lo + 0.3 * file) * math.cos(2 * la)
    val v = p match {
      case 0 => 300.0 - 0.06 * (1000 - hPa) - 25 * math.sin(la) * math.sin(la) + 3 * wave
      case 1 => 15 * wave + (1000 - hPa) * 0.02
      case 2 => 10 * math.cos(2 * lo + 0.2 * file) * math.sin(la)
      case _ => 60 + 30 * wave
    }
    math.round((v + Mix.unit(h, 0)) * 100) / 100.0
  }

  /** One file: every param at every level for one valid time. Packing 0 is
    * simple, 3 is complex with second-order spatial differencing. */
  def write(path: Path, file: Int, time: LocalDateTime, levels: Seq[Int], packing: Int): Unit = {
    val fields = for ((p, pi) <- params.zipWithIndex; hPa <- levels) yield {
      val vals = new Array[Double](grid.cells)
      for (j <- 0 until grid.nj; i <- 0 until grid.ni)
        vals(j * grid.ni + i) = value(file, pi, hPa, j, i)
      Grib2Writer.FieldSpec(0, p._1, p._2, 100, hPa * 100L, time,
        scala.collection.immutable.ArraySeq.unsafeWrapArray(vals),
        grid.ni, grid.nj, grid.la1, grid.lo1, grid.la2, grid.lo2,
        decimalScale = 2, bitsPerValue = 16, packing = packing)
    }
    Files.write(path, fields.map(Grib2Writer.message).reduce(_ ++ _))
  }
}
