package graft.sources.zarr

import scala.reflect.ClassTag

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, TimestampNTZType, TimestampType}

/** DISTRIBUTED Zarr store writer: the scale path for S15 (the reference's
  * ChunksToZarr, weather_mv regrid.py:128-162). Takes a long-format
  * hypercube frame (one row per grid point: dim columns + data-variable
  * columns) and writes an xarray-convention store where
  *
  *  - the DRIVER only derives the (small) coordinate axes, in one job, and
  *    writes metadata and the coordinate arrays;
  *  - rows are keyed by their chunk tuple and hash-partitioned, and each
  *    TASK encodes + writes exactly its own chunk files — memory per task
  *    is bounded by chunks.product, never by the dataset.
  *
  * Cells with no row (or a null value) encode as NaN; wholly absent chunks
  * are simply not written (the reader fills them). Timestamp dims become
  * epoch-second f8 axes with the `seconds since 1970-01-01` units
  * convention, so a round-trip through [[ZarrTableProvider]] restores
  * TIMESTAMP_NTZ. Duplicate rows for one cell resolve last-write-wins.
  * String columns write as `|O` vlen-utf8 (v2) or the `string` data type
  * (v3); their null cells encode as "". Metadata, chunk encoding and the
  * shard layout come from [[ZarrMeta]].
  */
object ZarrDistributedWriter {

  /** Zarr v2 store: `.zgroup`, per-array `.zarray`/`.zattrs`, and
    * `.zmetadata`; `compressor` is `zlib` or None. */
  def write(df: DataFrame, storePath: String, dims: Seq[String],
      chunks: Seq[Int], compressor: Option[String] = Some("zlib")): Unit =
    writeStore(df, storePath, dims, chunks, v3 = false, None, compressor)

  /** Zarr v3 store, optionally SHARDED (`sharding_indexed`): with `shard`
    * set, inner chunks pack into one object per shard — the v3 feature
    * that keeps a 100 TB store at sane object counts (a 1 PB-era store with
    * 1 MiB chunks is a billion objects unsharded; sharding divides that by
    * `shard.product / chunks.product`). One task builds each (variable,
    * shard): its inner chunks are hash-grouped to it, so task memory is
    * bounded by the shard size, never the dataset. The root `zarr.json`
    * carries inline `consolidated_metadata`; `compressor` is `gzip` or
    * None. */
  def writeV3(df: DataFrame, storePath: String, dims: Seq[String],
      chunks: Seq[Int], shard: Option[Seq[Int]] = None,
      compressor: Option[String] = Some("gzip")): Unit =
    writeStore(df, storePath, dims, chunks, v3 = true, shard, compressor)

  private def writeStore(df: DataFrame, storePath: String, dims: Seq[String],
      chunks: Seq[Int], v3: Boolean, shard: Option[Seq[Int]],
      compressor: Option[String]): Unit = {
    require(dims.nonEmpty && dims.size == chunks.size, "dims and chunks must align")
    val codec = if (v3) "gzip" else "zlib"
    require(compressor.forall(_ == codec), s"this writer compresses with $codec or null")
    val spark = df.sparkSession
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    // TIMESTAMP_NTZ has no direct double cast; route through TIMESTAMP
    // (session is UTC) -> epoch seconds
    val isTimeDim: Seq[Boolean] = dims.map { d =>
      df.schema(d).dataType match {
        case TimestampNTZType | TimestampType => true
        case _ => false
      }
    }
    val axes = dims.zip(isTimeDim).map { case (d, t) =>
      (if (t) col(d).cast("timestamp") else col(d)).cast("double")
    }
    val coords = deriveAxes(df.select(axes: _*))
    val shape = coords.map(_.length)
    val vars = df.columns.filterNot(dims.contains).toSeq
    val (stringVars, numVars) = vars.partition(v => df.schema(v).dataType == StringType)

    // driver: every array's metadata, the coordinate arrays (one chunk
    // each) and the root document
    val v2Meta = Seq.newBuilder[(String, String, String)]
    val v3Meta = Seq.newBuilder[(String, String)]
    def array(name: String, arrayDims: Seq[String], arrayShape: Seq[Int],
        arrayChunks: Seq[Int], dtype: String, attrs: Seq[(String, String)],
        comp: Option[String], arrayShard: Option[Seq[Int]]): Unit =
      if (v3) {
        val j = ZarrMeta.renderZarrJson(arrayShape, arrayChunks, dtype, comp, arrayDims,
          attrs, arrayShard, crc32c = false, sep = "/")
        writeText(conf, s"$storePath/$name/zarr.json", j)
        v3Meta += name -> j
      } else {
        val za = ZarrMeta.renderZarray(arrayShape, arrayChunks, dtype, comp)
        val zat = ZarrMeta.renderZattrs(arrayDims, attrs)
        writeText(conf, s"$storePath/$name/.zarray", za)
        writeText(conf, s"$storePath/$name/.zattrs", zat)
        v2Meta += ((name, za, zat))
      }
    dims.zipWithIndex.foreach { case (d, i) =>
      val units =
        if (isTimeDim(i)) Seq("units" -> ZarrMeta.jsonString("seconds since 1970-01-01"))
        else Nil
      array(d, Seq(d), Seq(shape(i)), Seq(shape(i)), "<f8", units, None, None)
      writeBytes(conf, s"$storePath/$d/${if (v3) "c/0" else "0"}",
        ZarrMeta.encodeChunk("<f8", coords(i), None, crc32c = false))
    }
    vars.foreach { v =>
      array(v, dims, shape, chunks, if (stringVars.contains(v)) "|O" else "<f8", Nil,
        compressor, shard)
    }
    if (v3) writeText(conf, s"$storePath/zarr.json", ZarrMeta.renderV3Group(v3Meta.result()))
    else {
      writeText(conf, s"$storePath/.zgroup", ZarrMeta.renderZgroup)
      writeText(conf, s"$storePath/.zmetadata", ZarrMeta.renderZmetadata(v2Meta.result()))
    }

    // tasks: (variable, chunk) buffers, encoded; numeric and string
    // variables aggregate in separate column-pruned passes, so the numeric
    // pass keeps its primitive Double buffers
    val num = numVars.toIndexedSeq
    val str = stringVars.toIndexedSeq
    val encoded: Seq[RDD[((String, String), Array[Byte])]] = Seq(
      if (num.isEmpty) None
      else Some(chunkBuffers[Double](df, axes, num.map(col(_).cast("double")), chunks,
          coords, Double.NaN, !_.isNaN, _.getDouble(_))
        .map { case ((vi, key), cells) =>
          ((num(vi), key), ZarrMeta.encodeChunk("<f8", cells, compressor, crc32c = false))
        }),
      if (str.isEmpty) None
      else Some(chunkBuffers[String](df, axes, str.map(col), chunks, coords, null,
          _ != null, _.getString(_))
        .map { case ((vi, key), cells) =>
          ((str(vi), key), ZarrMeta.encodeChunk("|O", cells, compressor, crc32c = false))
        })).flatten
    if (encoded.isEmpty) return
    val tconf = graft.sources.TaskConf(conf)
    val store = storePath
    val all = spark.sparkContext.union(encoded)
    shard match {
      case None =>
        all.foreachPartition { it: Iterator[((String, String), Array[Byte])] =>
          val c = tconf.value
          it.foreach { case ((v, key), raw) =>
            writeBytes(c, if (v3) s"$store/$v/c/${key.replace(".", "/")}" else s"$store/$v/$key",
              raw)
          }
        }
      case Some(sh) =>
        val per = sh.zip(chunks).map { case (s, c) => s / c }.toIndexedSeq
        all
          .map { case ((v, key), raw) =>
            val ci = key.split('.').map(_.toInt)
            val shardIdx = ci.indices.map(i => ci(i) / per(i))
            val linear = ci.indices.foldLeft(0) { (acc, i) => acc * per(i) + ci(i) % per(i) }
            ((v, shardIdx.mkString("/")), (linear, raw))
          }
          .groupByKey() // one (var, shard) group per task: memory = shard size
          .foreachPartition {
            it: Iterator[((String, String), Iterable[(Int, Array[Byte])])] =>
              val c = tconf.value
              it.foreach { case ((v, shardKey), inners) =>
                val present = inners.toMap
                writeBytes(c, s"$store/$v/c/$shardKey",
                  ZarrMeta.packShard((0 until per.product).map(present.get)))
              }
          }
    }
  }

  /** Every axis's distinct values, ascending, from ONE job: each task
    * collects its partition's values per axis, the driver merges them.
    * −0.0 folds into 0.0 and NaNs into one NaN sorted last, as Spark's
    * `distinct` + `orderBy` give them. */
  private def deriveAxes(axes: DataFrame): Seq[Array[Double]] = {
    val n = axes.columns.length
    val perTask = axes.rdd.mapPartitions { rows =>
      val seen = Array.fill(n)(scala.collection.mutable.HashSet.empty[Long])
      rows.foreach { r =>
        var i = 0
        while (i < n) {
          if (!r.isNullAt(i)) {
            val v = r.getDouble(i)
            seen(i) += java.lang.Double.doubleToLongBits(if (v == 0.0) 0.0 else v)
          }
          i += 1
        }
      }
      Iterator.single(seen)
    }.collect()
    (0 until n).map { i =>
      val a = perTask.iterator.flatMap(_(i)).toSet.toArray.map(java.lang.Double.longBitsToDouble)
      java.util.Arrays.sort(a)
      a
    }
  }

  /** The keyed aggregation both passes share: one (variable index,
    * chunk key) buffer per populated chunk, `empty`-filled, last write
    * wins where two rows land on one cell. */
  private def chunkBuffers[T: ClassTag](df: DataFrame, axes: Seq[Column],
      values: Seq[Column], chunks: Seq[Int], coords: Seq[Array[Double]], empty: T,
      present: T => Boolean, cell: (Row, Int) => T): RDD[((Int, String), Array[T])] = {
    val sc = df.sparkSession.sparkContext
    val chunkProd = chunks.product
    val bcIdx = sc.broadcast(coords.map(_.zipWithIndex.toMap))
    val chunksLocal = chunks.toIndexedSeq
    val nDims = axes.size
    val nVars = values.size
    val nChunksUpper = coords.map(_.length).zip(chunks)
      .map { case (s, c) => (s + c - 1) / c }.product * math.max(nVars, 1)
    df.select(axes ++ values: _*).rdd.flatMap { row =>
      val (key, localLinear) = cellIndex(row, nDims, bcIdx.value, chunksLocal)
      (0 until nVars).iterator.filterNot(vi => row.isNullAt(nDims + vi)).map { vi =>
        ((vi, key), (localLinear, cell(row, nDims + vi)))
      }
    }.aggregateByKey(null: Array[T],
      new HashPartitioner(math.min(nChunksUpper, sc.defaultParallelism * 4)))(
      (acc, kv) => {
        val a = if (acc == null) Array.fill(chunkProd)(empty) else acc
        a(kv._1) = kv._2
        a
      },
      (a, b) => {
        if (a == null) b
        else if (b == null) a
        else {
          var i = 0
          while (i < a.length) { if (present(b(i))) a(i) = b(i); i += 1 }
          a
        }
      })
  }

  /** (chunk key, local linear index) of one row's grid point. */
  private def cellIndex(row: Row, nDims: Int, idx: Seq[Map[Double, Int]],
      chunks: IndexedSeq[Int]): (String, Int) = {
    val gidx = new Array[Int](nDims)
    var i = 0
    while (i < nDims) { gidx(i) = idx(i)(row.getDouble(i)); i += 1 }
    var localLinear = 0
    val chunkIdx = new Array[Int](nDims)
    i = 0
    while (i < nDims) {
      chunkIdx(i) = gidx(i) / chunks(i)
      localLinear = localLinear * chunks(i) + gidx(i) % chunks(i)
      i += 1
    }
    (chunkIdx.mkString("."), localLinear)
  }

  private def writeText(conf: Configuration, path: String, s: String): Unit =
    writeBytes(conf, path, s.getBytes("UTF-8"))

  private def writeBytes(conf: Configuration, path: String, b: Array[Byte]): Unit = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val out = fs.create(p, true)
    try out.write(b) finally out.close()
  }
}
