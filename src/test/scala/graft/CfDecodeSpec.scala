package graft

import java.lang.Double.doubleToLongBits
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.DataFrame

import graft.sources.hdf5.{Hdf5, Hdf5Writer => HW}
import graft.sources.netcdf.{NetCDF3, NetCDF3Reader, NetCDF4Reader, NetCDF3Writer => NW}
import graft.sources.zarr.Kerchunk

/** One pair of variables written through every gridded format, read back
  * through every reader, and compared bit for bit with the values xarray
  * gives (`mask_and_scale=True`): every `_FillValue` and `missing_value`
  * value masks (a list too), the Zarr v2 `fill_value` masks when there is
  * no `_FillValue`, and a chunk that was never written reads as its fill
  * value, masked like a stored one.
  *
  * `v` is int16 over (y 4, x 6) in (2, 3) chunks with `_FillValue` -1,
  * `missing_value` [-9, -8], `scale_factor` 0.5 and `add_offset` 10; its
  * chunk (1, 1) is never written. `w` is float64 on the same grid with
  * `_FillValue` NaN and its chunk (0, 0) never written. Classic files have
  * no chunks, so they store the fill value in those cells, as netCDF-C
  * does. */
class CfDecodeSpec extends SparkSpec {

  private val conf = new Configuration()
  private val (ny, nx) = (4, 6)
  private val cells = for (y <- 0 until ny; x <- 0 until nx) yield (y, x)
  private def vUnwritten(y: Int, x: Int) = y >= 2 && x >= 3
  private def wUnwritten(y: Int, x: Int) = y < 2 && x < 3

  private val vRaw: Seq[Double] = cells.map {
    case (0, 0) => -1.0 // _FillValue
    case (0, 1) => -9.0 // missing_value, first of the list
    case (0, 2) => -8.0 // missing_value, second of the list
    case (1, 0) => 0.0 // a stored zero is data
    case (1, 1) => -32767.0 // netCDF's default short fill is data unless declared
    case (y, x) if vUnwritten(y, x) => -1.0
    case (y, x) => 10.0 * y + x
  }
  private val wRaw: Seq[Double] = cells.map { case (y, x) =>
    if (wUnwritten(y, x)) Double.NaN else 100.0 * y + x + 0.25
  }

  // xarray's values, worked by hand (null = masked)
  private val vWant: Seq[Option[Double]] = Seq(
    None, None, None, Some(11.5), Some(12.0), Some(12.5),
    Some(10.0), Some(-16373.5), Some(16.0), Some(16.5), Some(17.0), Some(17.5),
    Some(20.0), Some(20.5), Some(21.0), None, None, None,
    Some(25.0), Some(25.5), Some(26.0), None, None, None)
  private val wWant: Seq[Option[Double]] = Seq(
    None, None, None, Some(3.25), Some(4.25), Some(5.25),
    None, None, None, Some(103.25), Some(104.25), Some(105.25),
    Some(200.25), Some(201.25), Some(202.25), Some(203.25), Some(204.25), Some(205.25),
    Some(300.25), Some(301.25), Some(302.25), Some(303.25), Some(304.25), Some(305.25))

  private def bits(vs: Seq[Option[Double]]): Seq[Option[Long]] =
    vs.map(_.map(doubleToLongBits))

  /** (y, x, v, w) ordered by (y, x), the cells as bit patterns. */
  private def read(df: DataFrame): Seq[(Double, Double, Option[Long], Option[Long])] =
    df.select("y", "x", "v", "w").collect().toSeq.map { r =>
      def cell(i: Int) = Option(r.get(i)).map(c => doubleToLongBits(c.asInstanceOf[Double]))
      (r.getDouble(0), r.getDouble(1), cell(2), cell(3))
    }.sortBy(t => (t._1, t._2))

  private val want = cells.indices.map { i =>
    (cells(i)._1.toDouble, cells(i)._2.toDouble, bits(vWant)(i), bits(wWant)(i))
  }

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  private def netcdf3(version: Int): String = {
    val path = s"${tmp("cfnc3")}/cf.nc"
    NW.write(path, Seq(NW.DimSpec("y", ny), NW.DimSpec("x", nx)), Seq(
      NW.VarSpec("y", Seq("y"), NetCDF3.NC_DOUBLE, (0 until ny).map(_.toDouble)),
      NW.VarSpec("x", Seq("x"), NetCDF3.NC_DOUBLE, (0 until nx).map(_.toDouble)),
      NW.VarSpec("v", Seq("y", "x"), NetCDF3.NC_SHORT, vRaw, attrs = Seq(
        "_FillValue" -> (-1: Short), "missing_value" -> Seq[Short](-9, -8),
        "scale_factor" -> 0.5, "add_offset" -> 10.0)),
      NW.VarSpec("w", Seq("y", "x"), NetCDF3.NC_DOUBLE, wRaw,
        attrs = Seq("_FillValue" -> Double.NaN))), version = version)
    path
  }

  /** A netCDF-4 file whose chunks `v` (1, 1) and `w` (0, 0) are
    * unallocated: written whole, then their fixed-array index entries set
    * to the undefined address. */
  private def netcdf4(vFill: Option[Double] = Some(-1.0)): String = {
    val path = s"${tmp("cfnc4")}/cf.nc"
    HW.write(path, Seq(
      HW.VarSpec("y", Seq("y"), Seq(ny), (0 until ny).map(_.toDouble)),
      HW.VarSpec("x", Seq("x"), Seq(nx), (0 until nx).map(_.toDouble)),
      HW.VarSpec("v", Seq("y", "x"), Seq(ny, nx), vRaw, dtype = "i2",
        chunks = Some(Seq(2, 3)), chunkIndex = "fixedarray",
        scaleFactor = Some(0.5), addOffset = Some(10.0), fillValue = vFill,
        extraAttrs = Seq("missing_value" -> Seq(-9.0, -8.0))),
      HW.VarSpec("w", Seq("y", "x"), Seq(ny, nx), wRaw,
        chunks = Some(Seq(2, 3)), chunkIndex = "fixedarray",
        fillValue = Some(Double.NaN))))
    val bytes = Files.readAllBytes(Paths.get(path))
    val read = (off: Long, len: Int) => java.util.Arrays.copyOfRange(bytes, off.toInt, off.toInt + len)
    val meta = Hdf5.parse(read, bytes.length.toLong)
    for ((name, off) <- Seq("v" -> Seq(2L, 3L), "w" -> Seq(0L, 0L))) {
      val ds = meta.datasets.find(_.path.split('/').last == name).get
      val addr = Hdf5.chunkRefs(read, ds).find(_.offsets == off).get.addr
      val pat = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN).putLong(addr).array()
      val at = bytes.indices.filter(i => bytes.startsWith(pat, i))
      assert(at.size == 1, s"$name: chunk address $addr occurs once in the file")
      java.util.Arrays.fill(bytes, at.head, at.head + 8, 0xff.toByte)
      assert(Hdf5.chunkRefs(read, ds).size == 3, s"$name: one chunk unallocated")
    }
    Files.write(Paths.get(path), bytes)
    path
  }

  /** The Zarr store xarray writes for these variables: v2 moves
    * `_FillValue` into `fill_value`; v3 keeps it as an attribute. */
  private def zarr(v3: Boolean): String = {
    val dir = s"${tmp("cfzarr")}/cf.zarr"
    def put(rel: String, bytes: Array[Byte]): Unit = {
      val f = new java.io.File(dir, rel)
      f.getParentFile.mkdirs()
      Files.write(f.toPath, bytes)
    }
    def putS(rel: String, s: String): Unit = put(rel, s.getBytes("UTF-8"))
    def le(n: Int) = ByteBuffer.allocate(n).order(ByteOrder.LITTLE_ENDIAN)
    def chunk(raw: Seq[Double], cy: Int, cx: Int, w: Int)(put: (ByteBuffer, Double) => Unit) = {
      val b = le(6 * w)
      for (y <- 2 * cy until 2 * cy + 2; x <- 3 * cx until 3 * cx + 3) put(b, raw(y * nx + x))
      b.array()
    }
    def array(name: String, dims: Seq[String], shape: Seq[Int], chunks: Seq[Int],
        dtype: String, fill: String, attrs: String): Unit = {
      val dimsJ = dims.map(d => s""""$d"""").mkString("[", ", ", "]")
      if (v3) putS(s"$name/zarr.json",
        s"""{"zarr_format": 3, "node_type": "array", "shape": ${shape.mkString("[", ", ", "]")},
           | "data_type": "${if (dtype == "<i2") "int16" else "float64"}",
           | "chunk_grid": {"name": "regular", "configuration": {"chunk_shape": ${chunks.mkString("[", ", ", "]")}}},
           | "chunk_key_encoding": {"name": "v2", "configuration": {"separator": "."}},
           | "fill_value": $fill, "codecs": [{"name": "bytes", "configuration": {"endian": "little"}}],
           | "attributes": {$attrs}, "dimension_names": $dimsJ}""".stripMargin)
      else {
        putS(s"$name/.zarray",
          s"""{"zarr_format": 2, "shape": ${shape.mkString("[", ", ", "]")},
             | "chunks": ${chunks.mkString("[", ", ", "]")}, "dtype": "$dtype",
             | "compressor": null, "fill_value": $fill, "filters": null, "order": "C"}""".stripMargin)
        putS(s"$name/.zattrs", s"""{"_ARRAY_DIMENSIONS": $dimsJ${
          if (attrs.isEmpty) "" else ", " + attrs}}""")
      }
    }
    if (v3) putS("zarr.json", """{"zarr_format": 3, "node_type": "group", "attributes": {}}""")
    for ((d, n) <- Seq("y" -> ny, "x" -> nx)) {
      array(d, Seq(d), Seq(n), Seq(n), "<f8", "\"NaN\"", "")
      val b = le(8 * n)
      (0 until n).foreach(i => b.putDouble(i.toDouble))
      put(s"$d/0", b.array())
    }
    val cf = """"missing_value": [-9, -8], "scale_factor": 0.5, "add_offset": 10"""
    array("v", Seq("y", "x"), Seq(ny, nx), Seq(2, 3), "<i2", "-1",
      if (v3) s""""_FillValue": -1, $cf""" else cf)
    array("w", Seq("y", "x"), Seq(ny, nx), Seq(2, 3), "<f8", "\"NaN\"",
      if (v3) """"_FillValue": "NaN"""" else "")
    for (cy <- 0 until 2; cx <- 0 until 2) {
      if (!(cy == 1 && cx == 1))
        put(s"v/$cy.$cx", chunk(vRaw, cy, cx, 2)((b, d) => b.putShort(d.toShort)))
      if (!(cy == 0 && cx == 0))
        put(s"w/$cy.$cx", chunk(wRaw, cy, cx, 8)((b, d) => b.putDouble(d)))
    }
    dir
  }

  private def kerchunk: String = {
    val nc = netcdf4()
    val refs = nc + ".refs.json"
    Files.write(Paths.get(refs), Kerchunk.scanNetCDF4(conf, nc).getBytes("UTF-8"))
    refs
  }

  private val readers: Seq[(String, () => DataFrame)] = Seq(
    "NetCDF-3 CDF-1" -> (() => NetCDF3Reader.readLongFormat(spark, netcdf3(1))),
    "NetCDF-3 CDF-5" -> (() => NetCDF3Reader.readLongFormat(spark, netcdf3(5))),
    "NetCDF-4" -> (() => NetCDF4Reader.readLongFormat(spark, netcdf4())),
    "Kerchunk over NetCDF-4" -> (() => spark.read.format("zarr").load(kerchunk)),
    "Zarr v2" -> (() => spark.read.format("zarr").load(zarr(v3 = false))),
    "Zarr v3" -> (() => spark.read.format("zarr").load(zarr(v3 = true))))

  for ((name, df) <- readers)
    test(s"$name reads xarray's masked and scaled values bit for bit") {
      val got = read(df())
      assert(got.size == ny * nx, s"$name: every cell, unwritten chunks too")
      got.zip(want).foreach { case (g, w) => assert(g == w, s"$name at (${w._1}, ${w._2})") }
    }

  test("an unwritten NetCDF-4 chunk without a declared fill is a directed error") {
    val e = intercept[Exception] {
      NetCDF4Reader.readLongFormat(spark, netcdf4(vFill = None)).collect()
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains(
        "v: chunk at [2, 3] was never written")), e.toString)
  }

  test("Kerchunk passes the declared attributes through and writes the declared fill") {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val formats: Formats = DefaultFormats
    val refs = JsonMethods.parse(new String(Files.readAllBytes(Paths.get(kerchunk)), "UTF-8"))
    def inline(key: String) = JsonMethods.parse((refs \ "refs" \ key).extract[String])
    val attrs = inline("v/.zattrs")
    assert((attrs \ "_FillValue").extract[Double] == -1.0)
    assert((attrs \ "missing_value").extract[Seq[Double]] == Seq(-9.0, -8.0))
    assert((inline("v/.zarray") \ "fill_value") == JInt(-1))
    // the unallocated chunk has no reference
    assert((refs \ "refs" \ "v/1.1") == JNothing && (refs \ "refs" \ "v/0.0") != JNothing)
  }
}
