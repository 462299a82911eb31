package graft.sources.netcdf

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import NetCDF3._

/** Distributed long-format reader for NetCDF-3 classic files: one row per
  * grid point, coordinate columns + one FLOAT64 column per data variable
  * (decoded), mirroring the Zarr DSv2 output and the mover's row model.
  *
  * Parallelism: tasks own ranges of the outermost dimension and perform
  * ranged reads of exactly their byte spans (record-var spans via the
  * record stride, fixed-var spans contiguously) — no driver-side data
  * movement, so a multi-GB file scans in parallel. The header and the
  * (small) coordinate vectors are parsed once on the driver.
  */
object NetCDF3Reader {

  private val HeaderProbeBytes = 1 << 20

  /** CF char convention: an NC_CHAR variable's TRAILING dimension is its
    * string length — it collapses into a StringType column (xarray's
    * `char_dim_name` decode, the classic station-label layout). The
    * heuristic applies only when that trailing dim is PRIVATE to char
    * variables: a char var whose last dim is shared with a numeric variable
    * keeps its full rank and decodes as numeric char codes (the pre-CF
    * behavior), so no variable is ever silently dropped. */
  private def isCharVar(v: Var): Boolean = v.ncType == NC_CHAR
  private def charStrlenDims(vars: Seq[Var]): Set[Int] = {
    val numericDims = vars.filterNot(isCharVar).flatMap(_.dimIds).toSet
    vars.filter(v => isCharVar(v) && v.dimIds.nonEmpty)
      .map(_.dimIds.last).filterNot(numericDims).toSet
  }
  private def collapses(v: Var, strlenDims: Set[Int]): Boolean =
    isCharVar(v) && v.dimIds.nonEmpty && strlenDims(v.dimIds.last)
  private def effRank(v: Var, strlenDims: Set[Int]): Int =
    if (collapses(v, strlenDims)) v.dimIds.size - 1 else v.dimIds.size

  def schemaOf(h: Header, dataVars: Seq[Var], dims: Seq[Dim],
      coordVars: Map[String, Var], strlenDims: Set[Int]): StructType = {
    val coordFields = dims.map { d =>
      val isTime = coordVars.get(d.name).exists(_.epochSecondsTime)
      // time is nullable: fixed-calendar dates Gregorian can't represent
      // (360_day Feb 30) decode to NaN -> null, see CfTime
      StructField(d.name, if (isTime) TimestampNTZType else DoubleType,
        nullable = isTime)
    }
    StructType(coordFields ++ dataVars.map(v =>
      StructField(v.name,
        if (collapses(v, strlenDims)) StringType else DoubleType)))
  }

  def readLongFormat(spark: SparkSession, path: String): DataFrame = {
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    val head = {
      // header lives at the front; probe enough bytes to parse it
      val p = new Path(path)
      val fs = p.getFileSystem(conf)
      val len = math.min(fs.getFileStatus(p).getLen, HeaderProbeBytes.toLong).toInt
      val buf = new Array[Byte](len)
      val in = fs.open(p)
      try in.readFully(0, buf) finally in.close()
      parseHeader(buf)
    }
    val dimById = head.dims.zipWithIndex.map(_.swap).toMap
    // coordinate variables (name == their own dim) are never data variables —
    // in a 1-D file they'd otherwise tie the max rank and duplicate a column
    val nonCoord = head.vars.filter(v =>
      !(v.dimIds.size == 1 && dimById(v.dimIds.head).name == v.name))
    require(nonCoord.nonEmpty,
      s"$path contains only coordinate (axis) variables — no data variables to read")
    // numeric usage considers EVERY variable (coordinate vars included):
    // a dim that any numeric variable indexes is never a string length
    val strlenDims = charStrlenDims(head.vars)
    val maxRank = nonCoord.map(effRank(_, strlenDims)).max
    val dataVars = nonCoord.filter(v => effRank(v, strlenDims) == maxRank)
    val hyperDims = dataVars.head.dimIds.take(maxRank).map(dimById)
    require(dataVars.forall(_.dimIds.take(maxRank).map(dimById) == hyperDims),
      "data variables disagree on dimensions")
    val coordVars = head.vars.filter(v => v.dimIds.size == 1 &&
      hyperDims.exists(_.name == v.name)).map(v => v.name -> v).toMap
    // AUXILIARY coordinate variables: numeric sub-rank vars whose dims
    // form an order-preserving subsequence of the hypercube dims (the
    // classic-format ROMS curvilinear layout — 2-D lat[y, x] beside
    // 3-D data) — extra value columns indexed by the matching subset of
    // the cell cursor. Record-dim aux vars are left out (their layout
    // interleaves per record; no real curvilinear file has them).
    val hyperIds = dataVars.head.dimIds.take(maxRank)
    val auxVars: Seq[(Var, Seq[Int])] = nonCoord
      .filter(v => effRank(v, strlenDims) < maxRank &&
        !collapses(v, strlenDims) && v.ncType != NC_CHAR &&
        !v.dimIds.headOption.exists(head.dims(_).isRecord))
      .flatMap(v => graft.sources.Dims.subsequenceIdx(v.dimIds, hyperIds)
        .map(v -> _))

    // coordinate vectors: small, fetched with ranged reads on the driver
    // (never the whole file), shipped inside the task closures
    val coords: Map[String, Array[Double]] = {
      val p = new Path(path)
      val fs = p.getFileSystem(conf)
      val in = fs.open(p)
      try coordVars.map { case (n, v) =>
        val isRec = v.dimIds.headOption.exists(head.dims(_).isRecord)
        val len = if (isRec) head.numRecs else head.dims(v.dimIds.head).size
        val w = typeBytes(v.ncType)
        val raw = new Array[Byte](len * w)
        if (isRec) {
          val one = new Array[Byte](w)
          for (r <- 0 until len) {
            in.readFully(v.begin + r.toLong * head.recSize, one)
            System.arraycopy(one, 0, raw, r * w, w)
          }
        } else in.readFully(v.begin, raw)
        // CF time coords convert to epoch seconds here, once
        n -> graft.sources.CfTime.convert(v.cf.decode(raw, v.dtype, len), v.timeUnits)
      } finally in.close()
    }
    val shape: Seq[Int] = hyperDims.map(d => if (d.isRecord) head.numRecs else d.size)
    val schema = StructType(
      schemaOf(head, dataVars, hyperDims, coordVars, strlenDims).fields ++
        auxVars.map { case (v, _) => StructField(v.name, DoubleType) })
    val isTimeDim = hyperDims.map(d => coordVars.get(d.name).exists(_.epochSecondsTime))

    val dim0 = shape.head
    val nPart = math.min(dim0, spark.sparkContext.defaultParallelism)
    val ranges = (0 until nPart).map { p =>
      val lo = (dim0.toLong * p / nPart).toInt
      val hi = (dim0.toLong * (p + 1) / nPart).toInt
      (lo, hi)
    }.filter { case (lo, hi) => hi > lo }

    val restShape = shape.tail
    val perSlice = if (restShape.isEmpty) 1 else restShape.product
    val varsLocal = dataVars
    val headLocal = head
    val pathLocal = path
    val coordsLocal = hyperDims.map(d => coords(d.name))
    val isTimeLocal = isTimeDim

    // char vars: bytes per point = trailing string-length dim
    val strLens: Seq[Int] = dataVars.map(v =>
      if (collapses(v, strlenDims)) head.dims(v.dimIds.last).size else 0)
    val strLensLocal = strLens
    val auxLocal = auxVars
    val auxShapes: Seq[Seq[Int]] =
      auxVars.map(_._1.dimIds.map(head.dims(_).size))
    val tconf = graft.sources.TaskConf(conf)
    val rdd = spark.sparkContext.parallelize(ranges, math.max(ranges.size, 1))
      .flatMap { case (lo, hi) =>
        graft.sources.RangedIO.rows(pathLocal, tconf) { in =>
        val w = varsLocal.map(v => typeBytes(v.ncType))
        // aux arrays decode ONCE per partition (one ranged read each —
        // non-record classic layout is a single contiguous block)
        val auxData: Seq[Array[Double]] = auxLocal.zip(auxShapes).map {
          case ((v, _), sh) =>
            val n = sh.product
            val buf = new Array[Byte](n * typeBytes(v.ncType))
            in.readFully(v.begin, buf)
            v.cf.decode(buf, v.dtype, n)
        }
        def rawSlice(v: Var, bytesPerPoint: Int, t: Int): Array[Byte] = {
          val isRec = v.dimIds.headOption.exists(headLocal.dims(_).isRecord)
          val bytesLen = perSlice * bytesPerPoint
          val offset =
            if (isRec) v.begin + t.toLong * headLocal.recSize
            else v.begin + t.toLong * bytesLen
          val buf = new Array[Byte](bytesLen)
          in.readFully(offset, buf)
          buf
        }
        def sliceOf(v: Var, vi: Int, t: Int): AnyRef = {
          val sl = strLensLocal(vi)
          if (sl > 0) {
            val buf = rawSlice(v, sl, t)
            Array.tabulate(perSlice) { i =>
              val s = new String(buf, i * sl, sl, java.nio.charset.StandardCharsets.UTF_8)
              val cut = s.indexOf('\u0000')
              if (cut >= 0) s.substring(0, cut) else s
            }
          } else v.cf.decode(rawSlice(v, w(vi), t), v.dtype, perSlice)
        }
        (lo until hi).iterator.flatMap { t =>
          val slices = varsLocal.zipWithIndex.map { case (v, vi) => sliceOf(v, vi, t) }
          (0 until perSlice).iterator.map { li =>
            // local index -> per-dim indices over restShape
            var rem = li
            val idx = new Array[Int](restShape.size)
            var d = restShape.size - 1
            while (d >= 0) { idx(d) = rem % restShape(d); rem /= restShape(d); d -= 1 }
            val coordCells: Seq[Any] = coordsLocal.indices.map { ci =>
              val pos = if (ci == 0) t else idx(ci - 1)
              val c = coordsLocal(ci)(pos)
              if (isTimeLocal(ci)) graft.sources.CfTime.timestamp(c)
              else java.lang.Double.valueOf(c)
            }
            val auxCells: Seq[Any] = auxData.zip(auxLocal).zip(auxShapes).map {
              case ((arr, (_, dIdx)), sh) =>
                // C-order index over the aux var's OWN dims, from the
                // matching subset of the (t, idx...) cursor
                var giV = 0
                var j = 0
                while (j < sh.size) {
                  val g = if (dIdx(j) == 0) t else idx(dIdx(j) - 1)
                  giV = giV * sh(j) + g
                  j += 1
                }
                val v = arr(giV)
                if (v.isNaN) null else java.lang.Double.valueOf(v)
            }
            val cells: Seq[Any] = coordCells ++ slices.map {
              case s: Array[Double] =>
                val v = s(li)
                if (v.isNaN) null else java.lang.Double.valueOf(v)
              case s: Array[String] => s(li)
            } ++ auxCells
            Row.fromSeq(cells)
          }
        }
        }
      }
    spark.createDataFrame(rdd, schema)
  }
}
