package graft.sources.netcdf

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.sources.CfDecode
import graft.sources.hdf5.Hdf5
import graft.sources.hdf5.Hdf5.{Chunked, Contiguous, DatasetMeta, UnsupportedHdf5}

/** Distributed long-format reader for NetCDF-4 (HDF5-backed) files: one row
  * per grid point, coordinate columns + one FLOAT64 column per data
  * variable, mirroring [[NetCDF3Reader]] and the Zarr DSv2 row model — the
  * reference's remaining `.nc` capability (sinks.py:345-389 reads NetCDF-4
  * through xarray/netcdf4; round 2/3 bridged it with a directed
  * `nccopy -k classic` error, closed here).
  *
  * netCDF-4 conventions honored: dimension-scale datasets
  * (`CLASS=DIMENSION_SCALE`) name the dims, `DIMENSION_LIST` attaches them
  * to variables (resolved through the HDF5 global heap; falls back to
  * `_Netcdf4Dimid`-ordered size matching when absent), the CF mask and
  * scale ([[graft.sources.CfDecode]]; a chunk that was never written reads
  * as the declared fill value, decoded like a stored chunk) and
  * CF `"<unit> since <datetime>"` time coordinates (standard calendars;
  * [[graft.sources.CfTime]]).
  *
  * Parallelism: the driver parses HEADERS only (object headers, chunk
  * B-trees, the small coordinate vectors); tasks own chunk-grid indices
  * (chunked layout) or outer-dimension slabs (contiguous layout) and
  * ranged-read exactly their own byte spans. */
object NetCDF4Reader {

  private final case class VarPlan(
      name: String,
      ds: DatasetMeta,
      chunks: Map[Seq[Long], Hdf5.ChunkRef], // allocated chunks by offsets
      // indices of this var's dims within the hypercube dims — identity
      // for data variables; a strict subsequence for AUXILIARY coordinate
      // variables (curvilinear 2-D lat/lon over [y, x] beside 3-D data)
      dimsIdx: Seq[Int],
      cf: CfDecode) extends Serializable {
    def shapeInts: Seq[Int] = ds.shape.map(_.toInt)
  }

  private def isDimScale(d: DatasetMeta): Boolean =
    d.attrs.get("CLASS").contains("DIMENSION_SCALE")

  private def baseName(path: String): String = path.split('/').last

  def readLongFormat(spark: SparkSession, path: String): DataFrame = {
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val fileLen = fs.getFileStatus(p).getLen
    val in = fs.open(p)
    val (meta, coordValues) = try {
      val read = (off: Long, len: Int) => {
        val b = new Array[Byte](len)
        in.readFully(off, b)
        b
      }
      val m = Hdf5.parse(read, fileLen)
      // coordinate vectors decode on the driver (small, header-adjacent)
      val cv = m.datasets.filter(isDimScale).map { d =>
        d.objAddr -> decodeWhole(read, d)
      }.toMap
      (m, cv)
    } finally in.close()

    val dimScales = meta.datasets.filter(isDimScale)
    val dimByAddr: Map[Long, DatasetMeta] = dimScales.map(d => d.objAddr -> d).toMap
    val dataSets = meta.datasets.filterNot(isDimScale)
      .filter(d => d.dtype.isNumeric || d.dtype.isString || d.dtype.isCompound ||
        d.dtype.isVlenSeq || d.dtype.isOpaque || d.dtype.isFixedArray)
    require(dataSets.nonEmpty,
      s"$path contains no data variables (only dimension scales)")

    // dims of a variable: DIMENSION_LIST refs, else size matching in
    // _Netcdf4Dimid order
    def dimsOf(d: DatasetMeta): Seq[DatasetMeta] =
      d.attrs.get("DIMENSION_LIST") match {
        case Some(refs: Seq[_]) if refs.size == d.shape.size =>
          refs.map(r => dimByAddr.getOrElse(r.asInstanceOf[Long],
            throw UnsupportedHdf5(s"${d.path}: DIMENSION_LIST ref $r not a dimension scale")))
        case _ =>
          val byId = dimScales.sortBy(s =>
            s.attrs.get("_Netcdf4Dimid").collect { case x: Double => x }.getOrElse(1e9))
          d.shape.map { s =>
            byId.find(_.shape.headOption.contains(s)).getOrElse(
              throw UnsupportedHdf5(s"${d.path}: no dimension scale of size $s"))
          }
      }

    val maxRank = dataSets.map(_.shape.size).max
    val dataVars = dataSets.filter(_.shape.size == maxRank)
    val hyperDims = dimsOf(dataVars.head)
    require(dataVars.forall(v => dimsOf(v).map(_.objAddr) == hyperDims.map(_.objAddr)),
      s"$path: data variables disagree on dimensions")
    // AUXILIARY coordinate variables: sub-rank vars whose dims form an
    // order-preserving subsequence of the hypercube dims (the CF
    // curvilinear layout — 2-D latitude[y, x] beside sst[time, y, x]) —
    // extra value columns indexed by the matching subset of the cell
    // cursor; anything else sub-rank stays out, as before
    val hyperAddrs = hyperDims.map(_.objAddr)
    val auxVars: Seq[(DatasetMeta, Seq[Int])] = dataSets
      .filter(v => v.shape.nonEmpty && v.shape.size < maxRank)
      .flatMap { v =>
        try graft.sources.Dims.subsequenceIdx(
          dimsOf(v).map(_.objAddr), hyperAddrs).map(v -> _)
        catch { case _: UnsupportedHdf5 => None }
      }

    val shape: Seq[Int] = dataVars.head.shape.map(_.toInt)
    val dimNames = hyperDims.map(d => baseName(d.path))
    // CF time units ("<unit> since <datetime>", standard calendars):
    // coord vectors convert to epoch seconds at load, once
    val timeUnits = hyperDims.map(d => graft.sources.CfTime.parse(
      d.attrs.get("units").collect { case s: String => s },
      d.attrs.get("calendar").collect { case s: String => s }))
    val isTimeDim = timeUnits.map(_.isDefined)
    val coords: Seq[Array[Double]] = hyperDims.zip(timeUnits).map { case (d, u) =>
      graft.sources.CfTime.convert(coordValues(d.objAddr), u) }

    // output columns per var: compound vars flatten to `var_member` columns
    // (the mover's denormalized row model), others map 1:1
    def columnsOf(v: DatasetMeta): Seq[StructField] =
      if (v.dtype.isCompound)
        v.dtype.members.map(m => StructField(s"${baseName(v.path)}_${m.name}",
          if (m.dtype.clazz == 3) StringType else DoubleType))
      else Seq(StructField(baseName(v.path),
        if (v.dtype.isString) StringType
        else if (v.dtype.isVlenSeq) ArrayType(DoubleType) // netCDF-4 VLEN
        else if (v.dtype.isOpaque) BinaryType // NC_OPAQUE blobs
        else if (v.dtype.isFixedArray) ArrayType(DoubleType) // class 10
        else DoubleType))

    val schema = StructType(
      dimNames.zip(isTimeDim).map { case (n, t) =>
        // time is nullable: fixed-calendar dates Gregorian can't represent
        // (360_day Feb 30) decode to NaN -> null, see CfTime
        StructField(n, if (t) TimestampNTZType else DoubleType, nullable = t)
      } ++ dataVars.flatMap(columnsOf) ++ auxVars.map(_._1).flatMap(columnsOf))

    // chunk plan: every data var either contiguous (one whole-array "chunk")
    // or chunked on a SHARED grid — tasks own grid cells across all vars
    val conf2 = graft.sources.TaskConf(conf)
    val plans = (dataVars.map(_ -> (0 until maxRank: Seq[Int])) ++ auxVars)
      .map { case (v, dIdx) =>
      val chunks = v.layout match {
        case _: Chunked =>
          // chunkRefs needs header reads; reopen (driver-side, metadata-only)
          val in2 = fs.open(p)
          try Hdf5.chunkRefs((off, len) => {
            val b = new Array[Byte](len)
            in2.readFully(off, b)
            b
          }, v)
          finally in2.close()
        case _ => Nil
      }
      VarPlan(baseName(v.path), v, chunks.map(r => r.offsets -> r).toMap, dIdx,
        CfDecode.of(v.attrs))
    }
    // Task cells come from the FIRST chunked var's grid (the head grid).
    // Vars chunked on a DIFFERENT grid resolve each cell through their own
    // chunk map with a per-partition decoded-chunk cache; contiguous/compact
    // vars — label vars typically — decode whole once per partition and
    // index globally. So any mix of layouts and chunkings reads correctly
    // (netCDF-C accepts them all; requiring an nccopy repack would be a
    // usability regression vs the reference).
    // the task grid must be a FULL-RANK var's grid — aux chunk grids
    // span only their own dims
    val headChunked = plans.find(pl =>
      pl.ds.layout.isInstanceOf[Chunked] && pl.dimsIdx.size == maxRank)
    val chunkDims: Seq[Int] = headChunked
      .map(_.ds.layout.asInstanceOf[Chunked].chunkDims).getOrElse(shape)
    // task units: every cell of the head grid, allocated or not
    // (all-contiguous = one synthetic all-zeros offset)
    val cells: Seq[Seq[Long]] = shape.zip(chunkDims).foldLeft(Seq(Seq.empty[Long])) {
      case (acc, (s, c)) => for (o <- acc; k <- 0L until s by c) yield o :+ k
    }

    val nPart =
      math.max(1, math.min(cells.size, spark.sparkContext.defaultParallelism))
    val pathLocal = path
    val shapeLocal = shape
    val chunkLocal = chunkDims
    val plansLocal = plans
    val coordsLocal = coords
    val isTimeLocal = isTimeDim

    val rdd = spark.sparkContext.parallelize(cells, nPart).mapPartitions { it =>
      graft.sources.RangedIO.rows(pathLocal, conf2) { fin =>
        val read = (off: Long, len: Int) => {
          val b = new Array[Byte](len)
          fin.readFully(off, b)
          b
        }
        // raw bytes -> one or more typed column arrays
        // (Array[Double] | Array[String]; compound vars yield one per member)
        def decodeAny(pl: VarPlan, raw: Array[Byte], n: Int,
            mask: Int): Seq[AnyRef] = {
          val de = Hdf5.defilter(raw, pl.ds.filters, mask, pl.ds.dtype.size,
            n * pl.ds.dtype.size, pl.ds.dtype.signed)
          if (pl.ds.dtype.isCompound) Hdf5.decodeMembers(de, pl.ds.dtype, n).map(_._2)
          else if (pl.ds.dtype.isString)
            Seq(Hdf5.decodeStrings(de, pl.ds.dtype, n, read))
          else if (pl.ds.dtype.isVlenSeq)
            Seq(Hdf5.decodeVlenSeqs(de, pl.ds.dtype, n, read))
          else if (pl.ds.dtype.isOpaque)
            Seq(Hdf5.decodeOpaque(de, pl.ds.dtype, n))
          else if (pl.ds.dtype.isFixedArray)
            Seq(Hdf5.decodeFixedArrays(de, pl.ds.dtype, n))
          else Seq(pl.cf.decode(de, pl.ds.dtype.numpy, n))
        }
        // a chunk that was never written holds the declared fill value
        def chunk(pl: VarPlan, off: Seq[Long], n: Int): Seq[AnyRef] =
          pl.chunks.get(off) match {
            case Some(ref) =>
              decodeAny(pl, read(ref.addr, ref.nBytes.toInt), n, ref.filterMask)
            case None =>
              val fill = CfDecode.fillValue(pl.ds.attrs).filter(_ => pl.ds.dtype.isNumeric)
                .getOrElse(throw UnsupportedHdf5(s"${pl.name}: chunk at " +
                  s"${off.mkString("[", ", ", "]")} was never written and the " +
                  "variable declares no numeric fill value"))
              Seq(Array.fill(n)(pl.cf.cell(fill)))
          }
        // contiguous/compact vars decode whole ONCE per partition and index
        // by global C-order position (cells from a chunked sibling's grid
        // index into them globally)
        val wholeCache = scala.collection.mutable.HashMap.empty[String, Seq[AnyRef]]
        def whole(pl: VarPlan): Seq[AnyRef] = wholeCache.getOrElseUpdate(pl.name, {
          val nTotal = pl.shapeInts.product // own extent (aux vars are sub-rank)
          pl.ds.layout match {
            case Contiguous(addr, size) =>
              decodeAny(pl, read(addr, size.toInt), nTotal, 0)
            case Hdf5.Compact(data) => decodeAny(pl, data, nTotal, 0)
            case other => throw UnsupportedHdf5(s"layout $other")
          }
        })
        val strides = { // global C-order strides of the hypercube
          val st = new Array[Long](shapeLocal.size)
          var acc = 1L
          var d = shapeLocal.size - 1
          while (d >= 0) { st(d) = acc; acc *= shapeLocal(d); d -= 1 }
          st
        }
        // decoded-chunk cache for vars chunked on their OWN grid (not the
        // task grid): (var, chunk offsets) -> columns. LRU-bounded: C-order
        // cell iteration has high chunk locality, but a partition may walk
        // MANY head cells — an unbounded cache would retain every own-grid
        // chunk it ever touched (full f8 arrays) until the partition ends
        val ownGridCache =
          new java.util.LinkedHashMap[(String, Seq[Long]), Seq[AnyRef]](16, 0.75f, true) {
            override def removeEldestEntry(
                e: java.util.Map.Entry[(String, Seq[Long]), Seq[AnyRef]]): Boolean =
              size() > 8
          }
        it.flatMap { cellOffsets =>
          // decode this grid cell for every var: Left(cols, globallyIndexed)
          // for head-grid/whole vars, Right(ownChunkDims) for vars resolved
          // per row through their own grid
          val perVar: Seq[Either[(Seq[AnyRef], Boolean), Seq[Int]]] =
            plansLocal.map { pl =>
              pl.ds.layout match {
                case ck: Chunked if ck.chunkDims == chunkLocal =>
                  Left((chunk(pl, cellOffsets, chunkLocal.product), false))
                case ck: Chunked => Right(ck.chunkDims)
                case _ => Left((whole(pl), true))
              }
            }
          val rank = shapeLocal.size
          val localShape = chunkLocal
          val nLocal = localShape.product
          (0 until nLocal).iterator.flatMap { li =>
            // local C-order index -> global per-dim indices
            var rem = li
            val gIdx = new Array[Int](rank)
            var d = rank - 1
            var inBounds = true
            while (d >= 0) {
              val l = rem % localShape(d)
              rem /= localShape(d)
              gIdx(d) = cellOffsets(d).toInt + l
              if (gIdx(d) >= shapeLocal(d)) inBounds = false
              d -= 1
            }
            if (!inBounds) Iterator.empty // edge-chunk padding
            else {
              var gi = 0L // global C-order index
              var k = 0
              while (k < rank) { gi += gIdx(k) * strides(k); k += 1 }
              val coordCells: Seq[Any] = coordsLocal.indices.map { ci =>
                val c = coordsLocal(ci)(gIdx(ci))
                if (isTimeLocal(ci)) graft.sources.CfTime.timestamp(c)
                else java.lang.Double.valueOf(c)
              }
              def cellOf(col: AnyRef, idx: Int): Any = col match {
                case ds: Array[Double] =>
                  val v = ds(idx)
                  if (v.isNaN) null else java.lang.Double.valueOf(v)
                case ss: Array[String] => ss(idx)
                case vs: Array[Array[Double]] => // vlen sequence cell
                  val a = vs(idx)
                  if (a == null) null else a.toSeq
                case bs: Array[Array[Byte]] => bs(idx) // opaque cell
              }
              val dataCells: Seq[Any] = perVar.zip(plansLocal).flatMap {
                case (Left((cols, global)), pl) =>
                  // whole vars index by C-order position over their OWN
                  // dims — identical to gi for full-rank vars, the mapped
                  // subset for aux vars
                  val idx =
                    if (!global) li
                    else if (pl.dimsIdx.size == rank) gi.toInt
                    else {
                      val sh = pl.shapeInts
                      var giV = 0
                      var j = 0
                      while (j < sh.length) {
                        giV = giV * sh(j) + gIdx(pl.dimsIdx(j)); j += 1
                      }
                      giV
                    }
                  cols.map(cellOf(_, idx))
                case (Right(cdims), pl) =>
                  // var on its own grid (incl. sub-rank aux): chunk
                  // containing this cell's projection onto ITS dims
                  val vRank = pl.dimsIdx.size
                  val vOff: Seq[Long] = (0 until vRank).map(j =>
                    (gIdx(pl.dimsIdx(j)) / cdims(j)).toLong * cdims(j))
                  val cacheKey = (pl.name, vOff)
                  var cols = ownGridCache.get(cacheKey)
                  if (cols == null) {
                    cols = chunk(pl, vOff, cdims.product)
                    ownGridCache.put(cacheKey, cols)
                  }
                  var vli = 0
                  var d2 = 0
                  while (d2 < vRank) {
                    vli = vli * cdims(d2) + (gIdx(pl.dimsIdx(d2)) - vOff(d2).toInt)
                    d2 += 1
                  }
                  cols.map(cellOf(_, vli))
              }
              Iterator.single(Row.fromSeq(coordCells ++ dataCells))
            }
          }
        }
      }
    }
    spark.createDataFrame(rdd, schema)
  }

  /** Full decode of one (small) dataset on the driver — coordinate vectors. */
  private def decodeWhole(read: (Long, Int) => Array[Byte],
      d: DatasetMeta): Array[Double] = {
    val n = d.nPoints.toInt
    d.layout match {
      case Contiguous(addr, size) =>
        Hdf5.decodeValues(
          Hdf5.defilter(read(addr, size.toInt), d.filters, 0, d.dtype.size,
            n * d.dtype.size, d.dtype.signed),
          d.dtype, n)
      case ck: Chunked =>
        val out = new Array[Double](n)
        Hdf5.chunkRefs(read, d).foreach { ref =>
          val cn = ck.chunkDims.product
          val vals = Hdf5.decodeValues(
            Hdf5.defilter(read(ref.addr, ref.nBytes.toInt), d.filters,
              ref.filterMask, d.dtype.size, cn * d.dtype.size, d.dtype.signed),
            d.dtype, cn)
          // rank-1 coordinate chunks
          val base = ref.offsets.head.toInt
          var i = 0
          while (i < cn && base + i < n) { out(base + i) = vals(i); i += 1 }
        }
        out
      case Hdf5.Compact(data) =>
        Hdf5.decodeValues(data, d.dtype, n)
    }
  }
}
