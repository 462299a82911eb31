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
  * The index windows ARE the pushed coordinate predicates: a comparison
  * with a literal of the column's type on a clean (NaN/NaT-free, monotonic)
  * axis is applied by the window alone and planned with no `Filter`, as
  * xql's `.sel` applies it. Spark re-applies only the residual: every other
  * filter, which the window narrows to a superset of its matches.
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

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = ZarrTableProvider.schemaOf(store)

  /** Keeps the filters that narrow or are applied by a dim's window, and
    * hands back as residual every filter the windows do not apply exactly. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val w = ZarrScan.windows(store, filters.toSeq)
    pushed = filters.filter(w.used.contains)
    filters.filterNot(w.exact.contains)
  }
  override def pushedFilters(): Array[Filter] = pushed
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def build(): Scan = new ZarrScan(store, required, pushed)
}

object ZarrScan {
  /** Per store dim, the inclusive index window [lo, hi] the filters leave;
    * the filters that narrowed a window or that a window applies; and of
    * those, the ones the windows apply exactly. */
  final case class Windows(ranges: IndexedSeq[(Int, Int)], used: Seq[Filter], exact: Seq[Filter])

  /** A store dim's coordinate as the reader emits it: the stored doubles,
    * or on a time axis each value's [[graft.sources.CfTime.micros]], NaN
    * being NaT. */
  private final class Axis(coord: Array[Double], val time: Boolean) {
    private val micros = if (time) coord.map(graft.sources.CfTime.micros) else null
    val missing: Boolean = coord.exists(_.isNaN)

    /** Sign of index `i`'s value minus the bound `b`, in Spark's order
      * (NaN above every number, -0.0 equal to 0.0). */
    private def sign(i: Int, b: Any): Int = b match {
      case m: Long => java.lang.Long.compare(micros(i), m)
      case d: Double => if (coord(i).isNaN || coord(i) > d) 1 else if (coord(i) < d) -1 else 0
    }

    /** No NaN or NaT and monotonic, ascending or descending: the indices
      * whose value satisfies a comparison are then one contiguous run. */
    val clean: Boolean = !missing && {
      val steps = (1 until coord.length)
        .map(i => sign(i, if (time) micros(i - 1) else coord(i - 1))).filter(_ != 0)
      steps.forall(_ > 0) || steps.forall(_ < 0)
    }

    /** Whether index `i` satisfies `op` against the bound `b`; NaT
      * satisfies no comparison. */
    def sat(i: Int, op: String, b: Any): Boolean =
      if (time && coord(i).isNaN) false
      else {
        val s = sign(i, b)
        op match {
          case ">" => s > 0
          case ">=" => s >= 0
          case "<" => s < 0
          case "<=" => s <= 0
          case "=" => s == 0
        }
      }
  }

  /** A comparison's literal as a bound on `axis`, when it is the column's
    * own type: a non-NaN Double on a double dim, a LocalDateTime in whole
    * microseconds on a TIMESTAMP_NTZ dim. Any other literal narrows
    * nothing. */
  private def bound(axis: Axis, v: Any): Option[Any] = (axis.time, v) match {
    case (true, t: java.time.LocalDateTime) if t.getNano % 1000 == 0 =>
      Some(org.apache.spark.sql.catalyst.util.DateTimeUtils.localDateTimeToMicros(t))
    case (false, d: java.lang.Double) if !d.isNaN => Some(d.doubleValue)
    case _ => None
  }

  /** The one place that maps filters to index windows. A comparison on a
    * dim trims its window from both ends to the first and last index that
    * satisfy it. The indices between always hold every match; on a clean
    * axis they are exactly the matches, so a comparison with a literal of
    * the column's own type is applied exactly, as is `IsNotNull` on an
    * axis without NaN/NaT. Everything else (other columns, `In`, `Or`,
    * casts, dirty axes, other literal types) stays residual. */
  def windows(store: Store, filters: Seq[Filter]): Windows = {
    val used = Seq.newBuilder[Filter]
    val exact = Seq.newBuilder[Filter]
    val ranges = store.dims.toIndexedSeq.map { d =>
      val axis = new Axis(store.coords(d), store.coordMeta(d).epochSecondsTime)
      var lo = 0
      var hi = store.coords(d).length - 1
      filters.foreach { f =>
        val cmp = f match {
          case sources.GreaterThan(`d`, v) => Some((">", v))
          case sources.GreaterThanOrEqual(`d`, v) => Some((">=", v))
          case sources.LessThan(`d`, v) => Some(("<", v))
          case sources.LessThanOrEqual(`d`, v) => Some(("<=", v))
          case sources.EqualTo(`d`, v) => Some(("=", v))
          case sources.IsNotNull(`d`) if !axis.missing =>
            used += f; exact += f
            None
          case _ => None
        }
        for ((op, v) <- cmp; b <- bound(axis, v)) {
          while (lo <= hi && !axis.sat(lo, op, b)) lo += 1
          while (hi >= lo && !axis.sat(hi, op, b)) hi -= 1
          used += f
          if (axis.clean) exact += f
        }
      }
      (lo, hi)
    }
    Windows(ranges, used.result(), exact.result())
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
    val ranges = ZarrScan.windows(store, pushed.toSeq).ranges
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
