package graft.sources.zarr

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.{DataSourceRegister, Filter}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import ZarrMeta.{ArrayMeta, Store}

/** DataSource V2 reader for Zarr v2 hypercube stores — the "genuinely hard
  * custom piece" SURVEY §4 calls for: a scientific-format reader whose
  * chunk grid becomes Spark's partition planning and whose coordinate
  * predicates push down to chunk pruning, exactly like xql's index-based
  * `.sel` slicing (xql/src/xql/where.py:116-138) and xarray-beam's
  * DatasetToChunks (weather_mv bq.py:407-421).
  *
  * `spark.read.format("zarr").load(store)` yields the long-format row model
  * (SURVEY §1.5): one row per grid point, one column per coordinate
  * (epoch-seconds time coordinates surface as TIMESTAMP_NTZ) and per data
  * variable (FLOAT64 after scale/offset decode; missing -> NULL).
  *
  * Scale design: one input partition per (filter-surviving) chunk of the
  * hypercube — reads parallelize over the chunk grid with no driver-side
  * data movement; coordinate vectors (small by construction) ride inside
  * the partition descriptors. Cell-level coordinate ranges are applied in
  * the reader; Spark re-applies the full residual predicate, so pushdown is
  * a pure pruning optimization, never a correctness dependency.
  */
class ZarrTableProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "zarr"

  private def storePath(options: CaseInsensitiveStringMap): String = {
    val p = Option(options.get("path")).orElse(Option(options.get("paths")))
    p.getOrElse(throw new IllegalArgumentException("zarr source needs a path"))
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val store = ZarrMeta.openAny(ZarrTableProvider.sessionConf(), storePath(options))
    ZarrTableProvider.schemaOf(store)
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val path = properties.asScala.getOrElse("path",
      throw new IllegalArgumentException("zarr source needs a path"))
    new ZarrTable(path)
  }
}

object ZarrTableProvider {
  /** Driver-side Hadoop conf honoring `spark.hadoopConfiguration` overrides
    * (credentials, fs.defaultFS); bare `new Configuration()` would drop
    * them. */
  def sessionConf(): Configuration =
    org.apache.spark.sql.SparkSession.getActiveSession
      .map(s => new Configuration(s.sparkContext.hadoopConfiguration))
      .getOrElse(new Configuration())

  def schemaOf(store: Store): StructType = {
    val coordFields = store.dims.map { d =>
      val m = store.coordMeta.getOrElse(d,
        throw new IllegalArgumentException(s"dimension '$d' has no coordinate array"))
      // time is nullable: fixed-calendar dates Gregorian can't represent
      // (360_day Feb 30) decode to NaN -> null, see CfTime
      StructField(d, if (m.epochSecondsTime) TimestampNTZType else DoubleType,
        nullable = m.epochSecondsTime)
    }
    val varFields = (store.dataVars ++ store.auxVars).map(v =>
      StructField(v.name,
        if (ZarrMeta.isStringMeta(v)) StringType else DoubleType,
        nullable = true))
    StructType(coordFields ++ varFields)
  }
}

class ZarrTable(path: String) extends Table with SupportsRead {
  private lazy val store: Store = ZarrMeta.openAny(ZarrTableProvider.sessionConf(), path)
  override def name(): String = s"zarr:$path"
  override def schema(): StructType = ZarrTableProvider.schemaOf(store)
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ZarrScanBuilder(store)
}

class ZarrScanBuilder(store: Store) extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var accepted: Array[Filter] = Array.empty
  private var required: StructType = ZarrTableProvider.schemaOf(store)

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    accepted = filters.filter(f => ZarrScan.coordBound(store, f).isDefined)
    filters // everything stays residual: pruning is an optimization only
  }
  override def pushedFilters(): Array[Filter] = accepted
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def build(): Scan = new ZarrScan(store, required, accepted)
}

object ZarrScan {
  /** (dim, op, bound-as-double) for a filter this source can prune with. */
  def coordBound(store: Store, f: Filter): Option[(String, String, Double)] = {
    def num(v: Any): Option[Double] = v match {
      case n: Number => Some(n.doubleValue())
      // keep sub-second precision: truncating to whole seconds would SHRINK
      // the pruned range for <, <=, = bounds and drop matching rows — the
      // pruning must stay a pure optimization
      case t: java.sql.Timestamp => Some(t.getTime / 1000.0 + t.getNanos % 1000000 / 1e9)
      case i: java.time.Instant =>
        Some(i.getEpochSecond.toDouble + i.getNano / 1e9)
      case d: java.time.LocalDateTime =>
        Some(d.toEpochSecond(java.time.ZoneOffset.UTC).toDouble + d.getNano / 1e9)
      case _ => None
    }
    val x = f match {
      case sources.GreaterThan(a, v) => Some((a, ">", v))
      case sources.GreaterThanOrEqual(a, v) => Some((a, ">=", v))
      case sources.LessThan(a, v) => Some((a, "<", v))
      case sources.LessThanOrEqual(a, v) => Some((a, "<=", v))
      case sources.EqualTo(a, v) => Some((a, "=", v))
      case _ => None
    }
    x.flatMap { case (a, op, v) =>
      if (!store.dims.contains(a)) None else num(v).map(b => (a, op, b))
    }
  }

  /** Inclusive index range [lo, hi] of `coord` values satisfying all bounds
    * on one dim. Ascending coords are the xarray norm, but DESCENDING axes
    * are the norm for latitude (north-to-south raster scan order, GRIB
    * la1 > la2) — both prune; the descending case flips which end each
    * operator shrinks (the xql slice flip, where.py:109-114). A
    * non-monotonic axis gets no pruning (the residual filter still
    * applies, so rows are never wrong — just not skipped). */
  def indexRange(coord: Array[Double], bounds: Seq[(String, Double)]): (Int, Int) = {
    var lo = 0
    var hi = coord.length - 1
    val ascending = coord.length < 2 || coord(0) <= coord(coord.length - 1)
    val monotonic = {
      var i = 1
      var ok = true
      while (ok && i < coord.length) {
        ok = if (ascending) coord(i) >= coord(i - 1) else coord(i) <= coord(i - 1)
        i += 1
      }
      ok
    }
    if (!monotonic) return (lo, hi)
    bounds.foreach { case (op, b) =>
      op match {
        case ">" =>
          if (ascending) while (lo <= hi && coord(lo) <= b) lo += 1
          else while (hi >= lo && coord(hi) <= b) hi -= 1
        case ">=" =>
          if (ascending) while (lo <= hi && coord(lo) < b) lo += 1
          else while (hi >= lo && coord(hi) < b) hi -= 1
        case "<" =>
          if (ascending) while (hi >= lo && coord(hi) >= b) hi -= 1
          else while (lo <= hi && coord(lo) >= b) lo += 1
        case "<=" =>
          if (ascending) while (hi >= lo && coord(hi) > b) hi -= 1
          else while (lo <= hi && coord(lo) > b) lo += 1
        case "=" =>
          if (ascending) {
            while (lo <= hi && coord(lo) < b) lo += 1
            while (hi >= lo && coord(hi) > b) hi -= 1
          } else {
            while (lo <= hi && coord(lo) > b) lo += 1
            while (hi >= lo && coord(hi) < b) hi -= 1
          }
      }
    }
    (lo, hi)
  }
}

class ZarrScan(store: Store, required: StructType, pushed: Array[Filter])
    extends Scan with Batch {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"ZarrScan ${store.path} pushed=[${pushed.mkString(", ")}]"

  override def planInputPartitions(): Array[InputPartition] = {
    val shape = store.dataVars.head.shape
    val chunks = store.dataVars.head.chunks
    // per-dim inclusive index ranges after pushdown
    val ranges: Seq[(Int, Int)] = store.dims.zipWithIndex.map { case (d, i) =>
      val bounds = pushed.flatMap(f => ZarrScan.coordBound(store, f))
        .filter(_._1 == d).map(b => (b._2, b._3)).toSeq
      if (bounds.isEmpty) (0, shape(i) - 1)
      else ZarrScan.indexRange(store.coords(d), bounds)
    }
    if (ranges.exists { case (lo, hi) => lo > hi }) return Array.empty
    // chunks overlapping the ranges, cartesian across dims
    val perDimChunks: Seq[Seq[Int]] = ranges.zipWithIndex.map { case ((lo, hi), i) =>
      (lo / chunks(i)) to (hi / chunks(i))
    }
    val tuples = perDimChunks.foldLeft(Seq(Seq.empty[Int])) { (acc, cs) =>
      for (t <- acc; c <- cs) yield t :+ c
    }
    // aux vars ride the same partition descriptors: their window (for
    // reference pruning) is the partition window projected onto THEIR dims
    val neededVars = (store.dataVars ++ store.auxVars)
      .filter(v => required.fieldNames.contains(v.name))
    val dimIdx = store.dims.zipWithIndex.toMap
    val tconf = graft.sources.TaskConf(ZarrTableProvider.sessionConf())
    tuples.map { t =>
      // reference stores: narrow each var's chunk index to this
      // partition's cell window, so the task closure ships O(window)
      // entries instead of the whole archive index
      val winLo = t.indices.map(i => math.max(t(i) * chunks(i), ranges(i)._1))
      val winHi = t.indices.map(i =>
        math.min((t(i) + 1) * chunks(i) - 1, ranges(i)._2))
      val vars = neededVars.map { v =>
        val ds = v.dims.map(dimIdx)
        v.prunedToWindow(ds.map(winLo), ds.map(winHi))
      }
      ZarrInputPartition(store.path, store.dims.toArray,
        shape.toArray, chunks.toArray, t.toArray,
        ranges.map(_._1).toArray, ranges.map(_._2).toArray,
        store.dims.map(d => store.coords(d)).toArray,
        store.dims.map(d => store.coordMeta(d).epochSecondsTime).toArray,
        vars.toArray, required.fieldNames, tconf): InputPartition
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = new ZarrReaderFactory
}

final case class ZarrInputPartition(
    storePath: String,
    dims: Array[String],
    shape: Array[Int],
    chunks: Array[Int],
    chunkIdx: Array[Int],
    rangeLo: Array[Int],
    rangeHi: Array[Int],
    coords: Array[Array[Double]],
    coordIsTime: Array[Boolean],
    vars: Array[ArrayMeta],
    outputCols: Array[String],
    tconf: graft.sources.TaskConf) extends InputPartition

class ZarrReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new ZarrPartitionReader(partition.asInstanceOf[ZarrInputPartition])
}

class ZarrPartitionReader(p: ZarrInputPartition) extends PartitionReader[InternalRow] {
  private val conf = p.tconf.value
  private val nDims = p.dims.length

  /** Per-var chunk access. The partition grid is the HEAD data var's chunk
    * grid; a var chunked identically (the normal xarray layout — every
    * same-shape var shares one chunk scheme) reads exactly one chunk, as
    * before. A var with a DIFFERENT chunk grid resolves each global cell
    * through its own grid, caching decoded chunks — the cache is bounded by
    * the var-chunks overlapping this partition's hyper-rectangle, so memory
    * stays O(partition extent / var chunk extent) decoded chunks. */
  private final class VarChunks(v: ArrayMeta) {
    // AUXILIARY vars (2-D lat/lon beside 3-D data) carry a strict dim
    // subset: each of its axes maps to the matching store dim, and cells
    // index by that subset of the row cursor
    private val dimsIdx: Array[Int] = v.dims.map(d => p.dims.indexOf(d)).toArray
    private val nVDims = dimsIdx.length
    private val sameGrid = nVDims == nDims &&
      java.util.Arrays.equals(v.chunks.toArray, p.chunks)
    private var single: AnyRef = _
    private var cache: java.util.HashMap[java.util.List[Integer], AnyRef] = _
    private def load(idx: Seq[Int]): AnyRef =
      if (ZarrMeta.isStringMeta(v))
        ZarrMeta.readChunkStrings(conf, p.storePath, v, idx)
      else ZarrMeta.readChunk(conf, p.storePath, v, idx)
    /** Raw cell (Double, String, or null) at the reader's global cursor. */
    def value(globalBase: Array[Int], cursor: Array[Int]): Any = {
      if (sameGrid) {
        if (single == null) single = load(p.chunkIdx.toSeq)
        var li = 0
        var d = 0
        while (d < nDims) { li = li * p.chunks(d) + cursor(d); d += 1 }
        cell(single, li)
      } else {
        if (cache == null) cache = new java.util.HashMap()
        val vIdx = new Array[Int](nVDims)
        val key = new java.util.ArrayList[Integer](nVDims)
        var li = 0
        var j = 0
        while (j < nVDims) {
          val d = dimsIdx(j)
          val g = globalBase(d) + cursor(d)
          vIdx(j) = g / v.chunks(j)
          key.add(Integer.valueOf(vIdx(j)))
          li = li * v.chunks(j) + g % v.chunks(j)
          j += 1
        }
        var chunk = cache.get(key)
        if (chunk == null) { chunk = load(vIdx.toSeq); cache.put(key, chunk) }
        cell(chunk, li)
      }
    }
    private def cell(chunk: AnyRef, li: Int): Any = chunk match {
      case ds: Array[Double] => ds(li)
      case ss: Array[String] => ss(li)
    }
  }

  private var varData: Array[VarChunks] = _
  // output accessors: >=0 -> var index, (-1-d) -> coord of dim d
  private val accessors: Array[Int] = p.outputCols.map { c =>
    val d = p.dims.indexOf(c)
    if (d >= 0) -1 - d else p.vars.indexWhere(_.name == c)
  }

  // local C-order iteration over the chunk, bounded by shape + pushed ranges
  private val localShape = new Array[Int](nDims)
  private val globalBase = new Array[Int](nDims)
  private val cursor = new Array[Int](nDims)
  private var started = false
  private var finished = false
  locally {
    var d = 0
    while (d < nDims) {
      globalBase(d) = p.chunkIdx(d) * p.chunks(d)
      localShape(d) = math.min(p.chunks(d), p.shape(d) - globalBase(d))
      d += 1
    }
  }

  private def inRange: Boolean = {
    var d = 0
    while (d < nDims) {
      val g = globalBase(d) + cursor(d)
      if (g < p.rangeLo(d) || g > p.rangeHi(d)) return false
      d += 1
    }
    true
  }

  private def advance(): Boolean = {
    if (!started) { started = true }
    else {
      var d = nDims - 1
      var carry = true
      while (carry && d >= 0) {
        cursor(d) += 1
        if (cursor(d) < localShape(d)) carry = false
        else { cursor(d) = 0; d -= 1 }
      }
      if (carry) { finished = true; return false }
    }
    true
  }

  override def next(): Boolean = {
    if (finished) return false
    if (varData == null) varData = p.vars.map(new VarChunks(_))
    while (advance()) if (inRange) return true
    false
  }

  override def get(): InternalRow = {
    val row = new Array[Any](accessors.length)
    var i = 0
    while (i < accessors.length) {
      val a = accessors(i)
      if (a >= 0) {
        row(i) = varData(a).value(globalBase, cursor) match {
          case v: Double =>
            if (v.isNaN) null else java.lang.Double.valueOf(v)
          case s: String =>
            org.apache.spark.unsafe.types.UTF8String.fromString(s)
          case _ => null
        }
      } else {
        val dim = -1 - a
        val c = p.coords(dim)(globalBase(dim) + cursor(dim))
        row(i) =
          if (p.coordIsTime(dim)) {
            if (c.isNaN) null else java.lang.Long.valueOf(graft.sources.CfTime.micros(c))
          } else java.lang.Double.valueOf(c)
      }
      i += 1
    }
    new GenericInternalRow(row)
  }

  override def close(): Unit = { varData = null }
}
