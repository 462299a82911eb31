package graft.sources.zarr

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.execution.vectorized.{OnHeapColumnVector, WritableColumnVector}
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.{DataSourceRegister, Filter}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}

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
  * the partition descriptors. The read is columnar ([[ZarrColumnarReader]]):
  * each partition decodes its chunks once and fills column vectors over its
  * window, the chunk cut to the pushed coordinate index ranges, in C order.
  * Spark re-applies the full residual predicate, so pushdown is a pure
  * pruning optimization, never a correctness dependency.
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
    // every partition is serialized into its own task, so the effective
    // Hadoop conf (about 70 KB) rides one broadcast per scan: an executor
    // deserializes and builds it once, not once per task
    val tconf = org.apache.spark.sql.SparkSession.active.sparkContext
      .broadcast(graft.sources.TaskConf(ZarrTableProvider.sessionConf()))
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
    tconf: Broadcast[graft.sources.TaskConf]) extends InputPartition

class ZarrReaderFactory extends PartitionReaderFactory {
  override def supportColumnarReads(partition: InputPartition): Boolean = true
  // Spark reads through createColumnarReader whenever every partition is
  // columnar, and every zarr partition is
  override def createReader(partition: InputPartition): Nothing =
    throw new UnsupportedOperationException(
      "the zarr scan is columnar: read it through createColumnarReader")
  override def createColumnarReader(partition: InputPartition): PartitionReader[ColumnarBatch] =
    new ZarrColumnarReader(partition.asInstanceOf[ZarrInputPartition])
}

object ZarrColumnarReader {
  /** Rows per batch: the vectors are allocated once per partition. */
  val BatchRows = 4096
}

/** Reads one partition's window (its chunk ∩ the pushed index ranges) in C
  * order into reused column vectors. Along the last dimension a window row
  * is a contiguous run of cells, so each column fills a run at a time: a
  * coordinate by index arithmetic, a variable on the partition's chunk grid
  * by copying from its decoded chunk. */
class ZarrColumnarReader(p: ZarrInputPartition) extends PartitionReader[ColumnarBatch] {
  import ZarrColumnarReader.BatchRows

  private val conf = p.tconf.value.value
  private val nDims = p.dims.length
  private val last = nDims - 1
  private val base = Array.tabulate(nDims)(d => p.chunkIdx(d) * p.chunks(d))
  // the window, inclusive global indices per dim; never empty, because
  // planning emits only the chunks that overlap the pushed ranges
  private val lo = Array.tabulate(nDims)(d => math.max(base(d), p.rangeLo(d)))
  private val hi = Array.tabulate(nDims)(d => math.min(
    math.min(base(d) + p.chunks(d), p.shape(d)) - 1, p.rangeHi(d)))
  // C-order strides of a decoded chunk on the partition's grid
  private val stride = Array.tabulate(nDims)(d => p.chunks.drop(d + 1).product)

  // cursor: global index of every dim above the last, and of the next
  // cell along the last
  private val cur = lo.clone()
  private var inner = lo(last)
  private var done = false

  private def load(v: ArrayMeta, idx: Seq[Int]): AnyRef =
    if (ZarrMeta.isStringMeta(v))
      ZarrMeta.readChunkStrings(conf, p.storePath, v, idx).map(s =>
        if (s == null) null else s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    else ZarrMeta.readChunk(conf, p.storePath, v, idx)

  /** Writes cell `li` of a decoded chunk (doubles or UTF-8 strings). */
  private def put(vec: WritableColumnVector, row: Int, data: AnyRef, li: Int): Unit =
    data match {
      case ds: Array[Double] =>
        if (ds(li).isNaN) vec.putNull(row) else vec.putDouble(row, ds(li))
      case bs: Array[Array[Byte]] =>
        if (bs(li) == null) vec.putNull(row) else vec.putByteArray(row, bs(li))
    }

  /** One output column: fills `take` rows from `row` on, for the cells at
    * the cursor's run along the last dim. */
  private abstract class Column(val dataType: DataType) {
    def fill(vec: WritableColumnVector, row: Int, take: Int): Unit
  }

  private final class DoubleCoord(d: Int) extends Column(DoubleType) {
    private val coord = p.coords(d)
    def fill(vec: WritableColumnVector, row: Int, take: Int): Unit =
      if (d == last) vec.putDoubles(row, take, coord, inner)
      else vec.putDoubles(row, take, coord(cur(d)))
  }

  /** A time axis maps through CfTime once per window index; NaT is null. */
  private final class TimeCoord(d: Int) extends Column(TimestampNTZType) {
    private val nat = Array.tabulate(hi(d) - lo(d) + 1)(i => p.coords(d)(lo(d) + i).isNaN)
    private val micros = Array.tabulate(hi(d) - lo(d) + 1)(i =>
      if (nat(i)) 0L else graft.sources.CfTime.micros(p.coords(d)(lo(d) + i)))
    def fill(vec: WritableColumnVector, row: Int, take: Int): Unit =
      if (d == last) {
        var i = 0
        while (i < take) {
          val w = inner - lo(d) + i
          if (nat(w)) vec.putNull(row + i) else vec.putLong(row + i, micros(w))
          i += 1
        }
      } else {
        val w = cur(d) - lo(d)
        if (nat(w)) vec.putNulls(row, take) else vec.putLongs(row, take, micros(w))
      }
  }

  private def varType(v: ArrayMeta): DataType =
    if (ZarrMeta.isStringMeta(v)) StringType else DoubleType

  /** A variable on the partition's chunk grid reads its one chunk. */
  private final class SameGridVar(v: ArrayMeta) extends Column(varType(v)) {
    private var data: AnyRef = _
    def fill(vec: WritableColumnVector, row: Int, take: Int): Unit = {
      if (data == null) data = load(v, p.chunkIdx.toSeq)
      var off = inner - base(last)
      var d = 0
      while (d < last) { off += (cur(d) - base(d)) * stride(d); d += 1 }
      data match {
        case ds: Array[Double] =>
          vec.putDoubles(row, take, ds, off)
          var i = 0
          while (i < take) { if (ds(off + i).isNaN) vec.putNull(row + i); i += 1 }
        case _ =>
          var i = 0
          while (i < take) { put(vec, row + i, data, off + i); i += 1 }
      }
    }
  }

  /** A variable on another chunk grid, or an auxiliary variable over a
    * subset of the dims, resolves each cell through its own grid. Decoded
    * chunks are cached in a dense array over the var-chunks the window
    * overlaps, keyed by their linear index. */
  private final class OtherGridVar(v: ArrayMeta) extends Column(varType(v)) {
    private val dimsIdx = v.dims.map(d => p.dims.indexOf(d)).toArray
    private val vch = v.chunks.toArray
    private val n = dimsIdx.length
    private val cacheLo = Array.tabulate(n)(j => lo(dimsIdx(j)) / vch(j))
    private val cacheN = Array.tabulate(n)(j => hi(dimsIdx(j)) / vch(j) - cacheLo(j) + 1)
    private val cache = new Array[AnyRef](cacheN.product)
    private val vIdx = new Array[Int](n)
    def fill(vec: WritableColumnVector, row: Int, take: Int): Unit = {
      var i = 0
      while (i < take) {
        var key = 0
        var li = 0
        var j = 0
        while (j < n) {
          val d = dimsIdx(j)
          val g = if (d == last) inner + i else cur(d)
          vIdx(j) = g / vch(j)
          key = key * cacheN(j) + (vIdx(j) - cacheLo(j))
          li = li * vch(j) + (g - vIdx(j) * vch(j))
          j += 1
        }
        if (cache(key) == null) cache(key) = load(v, vIdx.toSeq)
        put(vec, row + i, cache(key), li)
        i += 1
      }
    }
  }

  private val columns: Array[Column] = p.outputCols.map { c =>
    val d = p.dims.indexOf(c)
    if (d >= 0) { if (p.coordIsTime(d)) new TimeCoord(d) else new DoubleCoord(d) }
    else {
      val v = p.vars.find(_.name == c).get
      val sameGrid = v.dims.map(p.dims.indexOf(_)) == p.dims.indices &&
        v.chunks == p.chunks.toSeq
      if (sameGrid) new SameGridVar(v) else new OtherGridVar(v)
    }
  }

  private val vectors = OnHeapColumnVector.allocateColumns(BatchRows,
    StructType(p.outputCols.zip(columns).map { case (c, col) => StructField(c, col.dataType) }))
  private val batch = new ColumnarBatch(vectors.toArray[ColumnVector])

  /** Moves the cursor to the next run; false past the window's end. */
  private def advanceOuter(): Boolean = {
    var d = last - 1
    while (d >= 0) {
      cur(d) += 1
      if (cur(d) <= hi(d)) return true
      cur(d) = lo(d)
      d -= 1
    }
    false
  }

  override def next(): Boolean = {
    if (done) return false
    vectors.foreach(_.reset())
    var filled = 0
    while (filled < BatchRows && !done) {
      val take = math.min(BatchRows - filled, hi(last) - inner + 1)
      var c = 0
      while (c < columns.length) { columns(c).fill(vectors(c), filled, take); c += 1 }
      filled += take
      inner += take
      if (inner > hi(last)) {
        inner = lo(last)
        done = !advanceOuter()
      }
    }
    batch.setNumRows(filled)
    true
  }

  override def get(): ColumnarBatch = batch

  override def close(): Unit = batch.close()
}
