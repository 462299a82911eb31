package graft.sources.zarr

import java.io.{File, FileOutputStream}

/** Minimal Zarr v2 writer (S15: `ChunksToZarr`, weather_mv regrid.py:128-162
  * writes regridded chunks to a Zarr store). Writes xarray-convention
  * stores (`_ARRAY_DIMENSIONS`) with raw, zlib, zstd or blosc-lz4 chunks —
  * enough to round-trip through [[ZarrTableProvider]] and to build test
  * fixtures without zarr-python in the environment. Metadata, chunk
  * encoding and shard layout come from [[ZarrMeta]].
  *
  * Local-filesystem only: fixture/test scale. The distributed write path
  * is [[ZarrDistributedWriter]].
  */
object ZarrWriter {

  final case class VarSpec(
      name: String,
      dims: Seq[String],
      shape: Seq[Int],
      chunks: Seq[Int],
      dtype: String = "<f8",
      data: Seq[Double],                    // C-order, pre-encode values
      // C-order string cells for string dtypes: "|O" writes the xarray
      // default (object dtype + numcodecs vlen-utf8 filter); "|S<n>" writes
      // NUL-padded fixed-width bytes. `data` must be Nil for string vars.
      sdata: Seq[String] = Nil,
      compressor: Option[String] = None,    // None | Some("zlib") | Some("blosc")
      scaleFactor: Option[Double] = None,
      addOffset: Option[Double] = None,
      missingValue: Option[Double] = None,
      units: Option[String] = None,
      calendar: Option[String] = None,      // CF calendar attr for time axes
      shard: Option[Seq[Int]] = None, // v3 only: outer shard shape (elements)
      crc32c: Boolean = false) // v3 only: trailing CRC-32C on data chunks

  def write(storePath: String, vars: Seq[VarSpec]): Unit = {
    val root = new File(storePath)
    root.mkdirs()
    writeString(new File(root, ".zgroup"), ZarrMeta.renderZgroup)
    val metas = vars.map { v =>
      val dir = arrayDir(root, v)
      val za = ZarrMeta.renderZarray(v.shape, v.chunks, v.dtype, v.compressor)
      val zat = ZarrMeta.renderZattrs(v.dims, attrs(v))
      writeString(new File(dir, ".zarray"), za)
      writeString(new File(dir, ".zattrs"), zat)
      cartesian(grid(v.shape, v.chunks)).foreach { chunkIdx =>
        writeBytes(new File(dir, chunkIdx.mkString(".")), encode(v, chunkIdx, crc32c = false))
      }
      (v.name, za, zat)
    }
    // consolidated metadata: one read plans the whole store
    writeString(new File(root, ".zmetadata"), ZarrMeta.renderZmetadata(metas))
  }

  /** Minimal Zarr V3 writer (spec: zarr-specs v3.0): root `zarr.json` group
    * node with inline `consolidated_metadata`, per-array `zarr.json` (regular
    * chunk grid, `default` chunk-key encoding with `sep`, `bytes` little +
    * optional `gzip` codec, `dimension_names`), chunk files under
    * `name/c<sep>0<sep>1`. Fixture scale, same VarSpec surface as v2
    * (`compressor = Some("gzip")` selects the gzip codec). With `shard`,
    * all-NaN float inner chunks are left out of their shard. */
  def writeV3(storePath: String, vars: Seq[VarSpec], sep: String = "/"): Unit = {
    val root = new File(storePath)
    root.mkdirs()
    val metas = vars.map { v =>
      val dir = arrayDir(root, v)
      val j = ZarrMeta.renderZarrJson(v.shape, v.chunks, v.dtype, v.compressor, v.dims,
        attrs(v), v.shard, v.crc32c, sep)
      writeString(new File(dir, "zarr.json"), j)
      def writeKey(keyIdx: Seq[Int], out: Array[Byte]): Unit = {
        val f = new File(dir, ("c" +: keyIdx.map(_.toString)).mkString(sep))
        f.getParentFile.mkdirs()
        writeBytes(f, out)
      }
      v.shard match {
        case None =>
          cartesian(grid(v.shape, v.chunks)).foreach { chunkIdx =>
            writeKey(chunkIdx, encode(v, chunkIdx, v.crc32c))
          }
        case Some(sh) =>
          val per = sh.zip(v.chunks).map { case (o, c) => o / c }
          cartesian(grid(v.shape, sh)).foreach { shardIdx =>
            writeKey(shardIdx, ZarrMeta.packShard(cartesian(per).map { inner =>
              val chunkIdx = shardIdx.zip(per).zip(inner).map { case ((s, p), i) => s * p + i }
              val allMissing = v.dtype.startsWith("<f") &&
                cells(v, chunkIdx).forall(_.forall(v.data(_).isNaN))
              if (allMissing) None else Some(encode(v, chunkIdx, v.crc32c))
            }))
          }
      }
      v.name -> j
    }
    writeString(new File(root, "zarr.json"), ZarrMeta.renderV3Group(metas))
  }

  /** The array's directory, after checking its data covers its shape. */
  private def arrayDir(root: File, v: VarSpec): File = {
    require((if (isString(v)) v.sdata else v.data).size == v.shape.product,
      s"${v.name}: data size != shape product")
    val dir = new File(root, v.name)
    dir.mkdirs()
    dir
  }

  private def isString(v: VarSpec): Boolean =
    v.dtype == "|O" || v.dtype.drop(1).startsWith("S")

  private def attrs(v: VarSpec): Seq[(String, String)] = Seq(
    v.scaleFactor.map(x => "scale_factor" -> x.toString),
    v.addOffset.map(x => "add_offset" -> x.toString),
    v.missingValue.map(x => "missing_value" ->
      (if (v.dtype.startsWith("<i") || v.dtype.endsWith("u1")) x.toLong.toString else x.toString)),
    v.units.map(u => "units" -> ZarrMeta.jsonString(u)),
    v.calendar.map(c => "calendar" -> ZarrMeta.jsonString(c))).flatten

  /** The array index of every cell of one chunk, C-order over the full
    * chunk shape; `None` past the array's edge (zarr pads edge chunks). */
  private def cells(v: VarSpec, chunkIdx: Seq[Int]): Seq[Option[Int]] =
    cartesian(v.chunks).map { local =>
      val global = chunkIdx.zip(local).zip(v.chunks).map { case ((ci, l), c) => ci * c + l }
      if (global.zip(v.shape).exists { case (g, s) => g >= s }) None
      else Some(global.zip(v.shape).foldLeft(0) { case (acc, (g, s)) => acc * s + g })
    }

  /** One encoded chunk; padding cells hold 0 (numeric) or "" (strings). */
  private def encode(v: VarSpec, chunkIdx: Seq[Int], crc32c: Boolean): Array[Byte] = {
    val idx = cells(v, chunkIdx)
    if (isString(v))
      ZarrMeta.encodeChunk(v.dtype, idx.map(_.fold("")(v.sdata(_))).toArray, v.compressor, crc32c)
    else
      ZarrMeta.encodeChunk(v.dtype, idx.map(_.fold(0.0)(v.data(_))).toArray, v.compressor, crc32c)
  }

  private def grid(shape: Seq[Int], chunks: Seq[Int]): Seq[Int] =
    shape.zip(chunks).map { case (s, c) => (s + c - 1) / c }

  /** Every index of a grid of extents `dims`, C-order. */
  private def cartesian(dims: Seq[Int]): Seq[Seq[Int]] =
    dims.foldLeft(Seq(Seq.empty[Int])) { (acc, n) =>
      for (t <- acc; x <- 0 until n) yield t :+ x
    }

  private def writeString(f: File, s: String): Unit = writeBytes(f, s.getBytes("UTF-8"))

  private def writeBytes(f: File, b: Array[Byte]): Unit = {
    val fos = new FileOutputStream(f)
    try fos.write(b) finally fos.close()
  }
}
