package graft.sources

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._
import scala.language.existentials // parquet's raw Statistics[_] footer type

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods

/** File-level column statistics: collection from parquet FOOTERS at
  * commit time, the two table formats' stat encodings, and the
  * min/max/null-count pruning rule every scan planner applies before
  * touching data.
  *
  * This is the scan-planning half of both table formats — the reason a
  * 100 TB table with a selective predicate reads MB, not TB: Delta adds
  * carry a `stats` JSON (numRecords/minValues/maxValues/nullCount,
  * PROTOCOL.md "Per-file Statistics"), Iceberg manifest entries carry
  * `lower_bounds`/`upper_bounds`/`value_counts`/`null_value_counts`
  * (table spec "Manifests" + Appendix D single-value serialization).
  * Collection costs one footer read per committed file — O(KB) driver
  * metadata, the same pass [[TableCommit.rowCounts]] already performs —
  * never a data scan.
  *
  * Pruning is CONSERVATIVE by construction: any missing stat, unknown
  * type, or unsupported predicate keeps the file, and the caller always
  * applies the full residual predicate after the scan, so a pruning
  * decision can only ever remove files that provably hold no matching
  * row. Float/double upper bounds additionally never prune `>`/`>=`
  * predicates: footer statistics exclude NaN while Spark orders NaN
  * greater than every value, so a stats-silent NaN row could satisfy
  * the predicate (the same rule Iceberg encodes as nan_value_counts).
  */
object ColumnStats {
  private implicit val formats: Formats = DefaultFormats

  /** One column's per-file stats, values in the NORMALIZED comparison
    * domain of [[norm]] (integral/date/timestamp → Long, fractional →
    * Double, decimal → BigDecimal, string → String, boolean → Boolean). */
  final case class ColStats(min: Option[Any], max: Option[Any],
      nullCount: Option[Long])

  /** One file's stats: row count + per-TOP-LEVEL-column stats. Either
    * side may be absent (files committed before stats were collected,
    * foreign writers) — absence keeps the file. */
  final case class FileStats(numRecords: Option[Long],
      cols: Map[String, ColStats]) {
    def isEmptyStats: Boolean = numRecords.isEmpty && cols.isEmpty
  }

  val NoStats: FileStats = FileStats(None, Map.empty)

  /** The top-level primitive columns stats cover — nested, binary, and
    * complex types are skipped (kept conservative on read). */
  private[sources] def statColumns(schema: StructType): Seq[StructField] =
    schema.fields.toSeq.filter(f => f.dataType match {
      case ByteType | ShortType | IntegerType | LongType | FloatType |
        DoubleType | StringType | BooleanType | DateType | TimestampType |
        TimestampNTZType => true
      case _: DecimalType => true
      case _ => false
    })

  /** [[statColumns]] by name. */
  private[sources] def statTypes(schema: StructType): Map[String, DataType] =
    statColumns(schema).map(f => f.name -> f.dataType).toMap

  // ------------------------------------------------- footer collection

  /** Collect (numRecords, per-column min/max/nullCount) from ONE parquet
    * file's footer. `schema` is the table's DATA schema (partition
    * columns, which the files exclude, carry no footer stats). A column
    * chunk without statistics, or with any unset piece, contributes
    * nothing for that piece. */
  def footerStats(path: String, schema: StructType,
      conf: Configuration): FileStats = {
    val blocks = TableScan.footer(path, conf).getBlocks.asScala.toSeq
    val numRecords = blocks.map(_.getRowCount).sum
    val wanted = statTypes(schema)
    // per column: collected chunk bounds + null sum; a chunk WITH
    // values but undecodable bounds poisons the file's bounds (they
    // would understate), an all-null chunk contributes none and
    // poisons nothing
    final case class Acc(mins: List[Any], maxs: List[Any],
      nulls: Option[Long], boundsOk: Boolean)
    val acc = scala.collection.mutable.Map.empty[String, Acc]
    blocks.foreach { b =>
      b.getColumns.asScala.foreach { c =>
        val pathParts = c.getPath.toArray
        if (pathParts.length == 1 && wanted.contains(pathParts(0))) {
          val name = pathParts(0)
          val dt = wanted(name)
          val st = c.getStatistics
          val hasStats = st != null && !st.isEmpty
          val hasValues = hasStats && st.hasNonNullValue
          val (mn, mx) =
            if (!hasValues) (None, None)
            else (footerValue(st.genericGetMin.asInstanceOf[AnyRef], c, dt),
              footerValue(st.genericGetMax.asInstanceOf[AnyRef], c, dt))
          val nulls: Option[Long] =
            if (!hasStats || !st.isNumNullsSet || st.getNumNulls < 0) None
            else Some(st.getNumNulls)
          val ok = hasStats && (!hasValues || (mn.isDefined && mx.isDefined))
          val p = acc.getOrElse(name, Acc(Nil, Nil, Some(0L), true))
          acc(name) = Acc(
            mn.fold(p.mins)(_ :: p.mins), mx.fold(p.maxs)(_ :: p.maxs),
            for (a <- p.nulls; b2 <- nulls) yield a + b2,
            p.boundsOk && ok)
        }
      }
    }
    val cols = acc.toMap.flatMap { case (name, a) =>
      val dt = wanted(name)
      val mn = if (a.boundsOk && a.mins.nonEmpty)
        Some(a.mins.reduce((x, y) => if (cmp(x, y, dt) <= 0) x else y))
      else None
      val mx = if (a.boundsOk && a.maxs.nonEmpty)
        Some(a.maxs.reduce((x, y) => if (cmp(x, y, dt) >= 0) x else y))
      else None
      val c = ColStats(mn, mx, a.nulls)
      if (c.min.isEmpty && c.max.isEmpty && c.nullCount.isEmpty) None
      else Some(name -> c)
    }
    FileStats(Some(numRecords), cols)
  }

  /** Parquet footer generic value → normalized domain, by the TABLE
    * type. Timestamp chunks honor the footer's own MILLIS/MICROS
    * annotation (foreign files may store millis). */
  private def footerValue(v: AnyRef,
      c: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData,
      dt: DataType): Option[Any] = {
    if (v == null) return None
    import org.apache.parquet.io.api.Binary
    dt match {
      case ByteType | ShortType | IntegerType => v match {
        case i: java.lang.Integer => Some(i.longValue)
        case _ => None
      }
      case LongType => v match {
        case l: java.lang.Long => Some(l.longValue)
        case _ => None
      }
      case DateType => v match {
        case i: java.lang.Integer => Some(i.longValue)
        case _ => None
      }
      case TimestampType | TimestampNTZType => v match {
        case l: java.lang.Long =>
          val ann = c.getPrimitiveType.getLogicalTypeAnnotation
          ann match {
            case t: org.apache.parquet.schema
              .LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
              t.getUnit match {
                case org.apache.parquet.schema
                  .LogicalTypeAnnotation.TimeUnit.MICROS => Some(l.longValue)
                case org.apache.parquet.schema
                  .LogicalTypeAnnotation.TimeUnit.MILLIS =>
                  Some(Math.multiplyExact(l.longValue, 1000L))
                case _ => None // nanos and friends: skip, stay conservative
              }
            case _ => None // INT96 and unannotated: no usable stats
          }
        case _ => None
      }
      case FloatType => v match {
        case f: java.lang.Float =>
          if (f.isNaN) None else Some(f.doubleValue)
        case _ => None
      }
      case DoubleType => v match {
        case d: java.lang.Double =>
          if (d.isNaN) None else Some(d.doubleValue)
        case _ => None
      }
      case StringType => v match {
        case b: Binary => Some(new String(b.getBytes, StandardCharsets.UTF_8))
        case _ => None
      }
      case BooleanType => v match {
        case b: java.lang.Boolean => Some(b.booleanValue)
        case _ => None
      }
      case d: DecimalType => v match {
        case i: java.lang.Integer =>
          Some(BigDecimal(java.math.BigDecimal.valueOf(i.longValue, d.scale)))
        case l: java.lang.Long =>
          Some(BigDecimal(java.math.BigDecimal.valueOf(l.longValue, d.scale)))
        case b: Binary => Some(BigDecimal(
          new java.math.BigDecimal(new java.math.BigInteger(b.getBytes),
            d.scale)))
        case _ => None
      }
      case _ => None
    }
  }

  // ------------------------------------------- normalized comparisons

  /** Filter-literal → normalized domain of the column's type. None when
    * the literal's runtime shape doesn't fit (keeps the file). */
  private[sources] def norm(v: Any, dt: DataType): Option[Any] = {
    if (v == null) return None
    dt match {
      case ByteType | ShortType | IntegerType | LongType => v match {
        case n: Byte => Some(n.toLong)
        case n: Short => Some(n.toLong)
        case n: Int => Some(n.toLong)
        case n: Long => Some(n)
        case _ => None
      }
      case DateType => v match {
        case d: java.sql.Date => Some(d.toLocalDate.toEpochDay)
        case d: java.time.LocalDate => Some(d.toEpochDay)
        case _ => None
      }
      case TimestampType | TimestampNTZType => v match {
        case t: java.sql.Timestamp =>
          val i = t.toInstant
          Some(i.getEpochSecond * 1000000L + i.getNano / 1000L)
        case t: java.time.Instant =>
          Some(t.getEpochSecond * 1000000L + t.getNano / 1000L)
        case t: java.time.LocalDateTime =>
          Some(t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L +
            t.getNano / 1000L)
        case _ => None
      }
      case FloatType => v match {
        case f: Float => Some(f.toDouble)
        case d: Double => Some(d)
        case _ => None
      }
      case DoubleType => v match {
        case f: Float => Some(f.toDouble)
        case d: Double => Some(d)
        case _ => None
      }
      case StringType => v match {
        case s: String => Some(s)
        case _ => None
      }
      case BooleanType => v match {
        case b: Boolean => Some(b)
        case _ => None
      }
      case _: DecimalType => v match {
        case d: BigDecimal => Some(d)
        case d: java.math.BigDecimal => Some(BigDecimal(d))
        case n: Int => Some(BigDecimal(n))
        case n: Long => Some(BigDecimal(n))
        case _ => None
      }
      case _ => None
    }
  }

  /** CODE-POINT string comparison — identical to the unsigned UTF-8
    * byte order Spark's binary collation, parquet footers, and Iceberg
    * bounds all use. `String.compareTo` (UTF-16 code units) would order
    * supplementary characters BELOW U+E000..U+FFFF and mis-prune files
    * holding non-BMP text. */
  private[graft] def cmpUtf8(x: String, y: String): Int = {
    var i = 0; var j = 0
    while (i < x.length && j < y.length) {
      val cx = x.codePointAt(i); val cy = y.codePointAt(j)
      if (cx != cy) return Integer.compare(cx, cy)
      i += Character.charCount(cx); j += Character.charCount(cy)
    }
    Integer.compare(x.length - i, y.length - j)
  }

  private[sources] def cmp(a: Any, b: Any, dt: DataType): Int = (a, b) match {
    case (x: Long, y: Long) => java.lang.Long.compare(x, y)
    case (x: Double, y: Double) =>
      // Spark SQL compares -0.0 equal to +0.0 (UnsafeRow normalization),
      // but Double.compare orders -0.0 below +0.0 — a foreign writer's
      // bound carrying the other zero (min=+0.0 over -0.0 rows, or
      // max=-0.0 vs an EqualTo(+0.0) literal) would mis-prune files
      // whose rows DO match. Fold both zeros together before comparing
      // (the float/double bound adjustment the parquet and Iceberg
      // specs prescribe).
      val xn = if (x == 0.0d) 0.0d else x
      val yn = if (y == 0.0d) 0.0d else y
      java.lang.Double.compare(xn, yn)
    case (x: String, y: String) => cmpUtf8(x, y)
    case (x: Boolean, y: Boolean) => java.lang.Boolean.compare(x, y)
    case (x: BigDecimal, y: BigDecimal) => x.compare(y)
    case _ => throw new IllegalArgumentException(
      s"incomparable stat values ${a.getClass}/${b.getClass} for $dt")
  }

  /** NaN can hide above a footer upper bound — `>`/`>=` never prune
    * fractional columns. */
  private def fractional(dt: DataType): Boolean =
    dt == FloatType || dt == DoubleType

  // ------------------------------------------------- pruning predicate

  /** May this file hold a row matching `f`? Conservative: true on any
    * unknown. `types`: top-level column name → type. */
  def mayMatch(f: Filter, st: FileStats,
      types: Map[String, DataType]): Boolean = {
    def colStats(a: String): Option[(ColStats, DataType)] =
      for (t <- types.get(a); c <- st.cols.get(a)) yield (c, t)
    def allNull(a: String): Boolean = (for {
      c <- st.cols.get(a); n <- c.nullCount; r <- st.numRecords
    } yield n >= r).getOrElse(false)
    def range(a: String, v: Any)(
        keep: (Option[Int], Option[Int], DataType) => Boolean): Boolean =
      colStats(a) match {
        case _ if allNull(a) => false // value predicates never match null
        case Some((c, t)) => norm(v, t) match {
          // a NaN literal: footer bounds EXCLUDE NaN, so they can never
          // prove its absence — and Spark's NaN = NaN is TRUE, so an
          // EqualTo(NaN) prune would lose real rows. Keep.
          case Some(nv: Double) if nv.isNaN => true
          case Some(nv) =>
            val vsMin = c.min.map(m => cmp(nv, m, t))
            val vsMax = c.max.map(m => cmp(nv, m, t))
            keep(vsMin, vsMax, t)
          case None => true
        }
        case None => true
      }
    f match {
      case EqualTo(_, null) => false // SQL: = NULL matches nothing
      case EqualTo(a, v) => range(a, v) { (vsMin, vsMax, _) =>
        vsMin.forall(_ >= 0) && vsMax.forall(_ <= 0)
      }
      case EqualNullSafe(a, null) => mayMatch(IsNull(a), st, types)
      case EqualNullSafe(a, v) => mayMatch(EqualTo(a, v), st, types)
      case GreaterThan(a, v) => range(a, v) { (_, vsMax, t) =>
        fractional(t) || vsMax.forall(_ < 0)
      }
      case GreaterThanOrEqual(a, v) => range(a, v) { (_, vsMax, t) =>
        fractional(t) || vsMax.forall(_ <= 0)
      }
      case LessThan(a, v) => range(a, v) { (vsMin, _, _) =>
        vsMin.forall(_ > 0)
      }
      case LessThanOrEqual(a, v) => range(a, v) { (vsMin, _, _) =>
        vsMin.forall(_ >= 0)
      }
      case In(a, vs) =>
        // null members never match (SQL `=` semantics) — dropped
        val nonNull = if (vs == null) Array.empty[Any]
          else vs.filter(_ != null)
        nonNull.exists(v => mayMatch(EqualTo(a, v), st, types))
      case IsNull(a) => (for {
        c <- st.cols.get(a); n <- c.nullCount
      } yield n > 0L).getOrElse(true)
      case IsNotNull(a) => !allNull(a)
      case StringStartsWith(a, p) => colStats(a) match {
        case _ if allNull(a) => false
        case Some((c, StringType)) if p != null =>
          // compare on the shared prefix (code-point order = UTF-8 byte
          // order); char-truncation could split a surrogate pair, so any
          // non-BMP text involved keeps the file instead
          def bmp(s: String) = s.forall(ch => !Character.isSurrogate(ch))
          def pfx(s: String) = s.substring(0, math.min(p.length, s.length))
          val okMin = c.min.forall { m =>
            val s = m.asInstanceOf[String]
            !bmp(s) || !bmp(p) || cmpUtf8(pfx(p), pfx(s)) >= 0
          }
          val okMax = c.max.forall { m =>
            val s = m.asInstanceOf[String]
            !bmp(s) || !bmp(p) || cmpUtf8(pfx(p), pfx(s)) <= 0
          }
          okMin && okMax
        case _ => true
      }
      case And(l, r) =>
        mayMatch(l, st, types) && mayMatch(r, st, types)
      case Or(l, r) =>
        mayMatch(l, st, types) || mayMatch(r, st, types)
      case Not(EqualTo(a, v)) => colStats(a) match {
        // only a file constant at v with no nulls can be pruned
        case _ if allNull(a) => true // null rows: NOT(null=v) is null,
        // not a match — but unknown-count non-null rows may exist; keep
        case Some((c, t)) => norm(v, t) match {
          case Some(nv) =>
            val constAtV = c.min.exists(m => cmp(m, nv, t) == 0) &&
              c.max.exists(m => cmp(m, nv, t) == 0) &&
              c.nullCount.contains(0L)
            !constAtV
          case None => true
        }
        case None => true
      }
      case Not(_) => true
      case AlwaysTrue() => true
      case AlwaysFalse() => false
      case _ => true
    }
  }

  /** The residual predicate the caller applies AFTER the pruned scan —
    * the exact `Column` form of `f`. Directed error on a filter shape
    * outside the supported set (the caller's API contract). */
  def filterColumn(f: Filter): Column = f match {
    case EqualTo(a, v) => col(a) === lit(v)
    case EqualNullSafe(a, v) => col(a) <=> lit(v)
    case GreaterThan(a, v) => col(a) > lit(v)
    case GreaterThanOrEqual(a, v) => col(a) >= lit(v)
    case LessThan(a, v) => col(a) < lit(v)
    case LessThanOrEqual(a, v) => col(a) <= lit(v)
    case In(a, vs) => col(a).isInCollection(vs.toSeq)
    case IsNull(a) => col(a).isNull
    case IsNotNull(a) => col(a).isNotNull
    case StringStartsWith(a, p) => col(a).startsWith(p)
    case StringEndsWith(a, p) => col(a).endsWith(p)
    case StringContains(a, p) => col(a).contains(p)
    case And(l, r) => filterColumn(l) && filterColumn(r)
    case Or(l, r) => filterColumn(l) || filterColumn(r)
    case Not(c) => !filterColumn(c)
    case AlwaysTrue() => lit(true)
    case AlwaysFalse() => lit(false)
    case other => throw new IllegalArgumentException(
      s"unsupported pruning filter $other — supported: comparisons, " +
        "In, IsNull/IsNotNull, string matches, And/Or/Not")
  }

  // --------------------------------------------- Delta stats JSON codec

  private def jsonEscape(v: String): String =
    TableCommit.jsonEscape(v)

  /** String bounds are TRUNCATED before serialization (delta-spark caps
    * stats strings at 32 chars; Iceberg's default metrics mode is
    * truncate(16)) — a wide text column would otherwise copy its full
    * min/max into every add action and again into every checkpoint row.
    * A truncated MIN prefix is already a valid lower bound. */
  private[sources] val StatsStringLimit = 32

  private[sources] def truncateMin(s: String,
      limit: Int = StatsStringLimit): String =
    if (s.length <= limit) s
    else {
      // never split a surrogate pair — the result must stay valid UTF-8
      var cut = limit
      if (Character.isHighSurrogate(s.charAt(cut - 1))) cut -= 1
      s.substring(0, cut)
    }

  /** A truncated MAX must round UPWARD to stay a valid upper bound: the
    * last code point with a successor increments (skipping the surrogate
    * gap — those are not scalar values), and when none has one (all
    * U+10FFFF) the bound is omitted entirely. */
  private[sources] def truncateMax(s: String,
      limit: Int = StatsStringLimit): Option[String] =
    if (s.length <= limit) Some(s)
    else {
      var cut = limit
      if (Character.isHighSurrogate(s.charAt(cut - 1))) cut -= 1
      val cps = s.substring(0, cut).codePoints.toArray
      var i = cps.length - 1
      var out: Option[String] = None
      while (i >= 0 && out.isEmpty) {
        val next =
          if (cps(i) + 1 == Character.MIN_SURROGATE.toInt)
            Character.MAX_SURROGATE.toInt + 1
          else cps(i) + 1
        if (next <= Character.MAX_CODE_POINT) {
          val sb = new java.lang.StringBuilder
          var j = 0
          while (j < i) { sb.appendCodePoint(cps(j)); j += 1 }
          sb.appendCodePoint(next)
          out = Some(sb.toString)
        }
        i -= 1
      }
      out
    }

  /** Serialize [[FileStats]] as the Delta `add.stats` JSON. Timestamps
    * are ISO-8601 UTC with MICROSECOND precision (exact round-trip
    * through this reader; delta-spark's millis form parses too). */
  def deltaStatsJson(st: FileStats, schema: StructType): String = {
    val types = statColumns(schema).map(f => f.name -> f.dataType).toMap
    def render(name: String, v: Any): Option[String] = types.get(name).map {
      case ByteType | ShortType | IntegerType | LongType =>
        v.asInstanceOf[Long].toString
      case DateType => "\"" + java.time.LocalDate
        .ofEpochDay(v.asInstanceOf[Long]).toString + "\""
      case TimestampType | TimestampNTZType =>
        val us = v.asInstanceOf[Long]
        val i = java.time.Instant.ofEpochSecond(
          Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L)
        "\"" + java.time.format.DateTimeFormatter
          .ofPattern("uuuu-MM-dd'T'HH:mm:ss.SSSSSS'Z'")
          .withZone(java.time.ZoneOffset.UTC).format(i) + "\""
      case FloatType | DoubleType =>
        val d = v.asInstanceOf[Double]
        if (d.isInfinite || d.isNaN)
          "\"" + d.toString + "\"" // protocol stores non-finite as strings
        else d.toString
      case StringType => "\"" + jsonEscape(v.asInstanceOf[String]) + "\""
      case BooleanType => v.toString
      case _: DecimalType => v.asInstanceOf[BigDecimal].toString
      case _ => "null"
    }
    def obj(pick: ColStats => Option[Any], upper: Boolean): String =
      st.cols.toSeq.sortBy(_._1).flatMap { case (n, c) =>
        pick(c).flatMap {
          case s: String if !upper => Some(truncateMin(s))
          case s: String => truncateMax(s)
          case v => Some(v)
        }.flatMap(render(n, _))
          .map(s => s""""${jsonEscape(n)}":$s""")
      }.mkString(",")
    val nulls = st.cols.toSeq.sortBy(_._1).flatMap { case (n, c) =>
      c.nullCount.map(x => s""""${jsonEscape(n)}":$x""")
    }.mkString(",")
    s"""{"numRecords":${st.numRecords.getOrElse(-1L)},""" +
      s""""minValues":{${obj(_.min, upper = false)}},""" +
      s""""maxValues":{${obj(_.max, upper = true)}},""" +
      s""""nullCount":{$nulls}}"""
  }

  /** Parse an `add.stats` JSON against the table schema. Unknown
    * columns, nested stats, and unparseable values are dropped (never a
    * failure — stats are advisory). A timestamp UPPER bound that parses
    * on a whole millisecond widens by 999 µs: a millis-precision writer
    * (delta-spark's stats form) floors the true maximum. */
  def parseDeltaStats(json: String, schema: StructType): FileStats = {
    if (json == null || json.isEmpty) return NoStats
    val types = statColumns(schema).map(f => f.name -> f.dataType).toMap
    // useBigDecimalForDouble: a decimal(38,_) bound squeezed through a
    // 53-bit double could round past the true min/max and mis-prune
    val j = try JsonMethods.parse(json, useBigDecimalForDouble = true)
    catch { case _: Exception => return NoStats }
    def parseVal(dt: DataType, v: JValue, upper: Boolean): Option[Any] =
      (dt, v) match {
        case (ByteType | ShortType | IntegerType | LongType, JInt(n)) =>
          Some(n.toLong)
        case (ByteType | ShortType | IntegerType | LongType, JLong(n)) =>
          Some(n)
        case (DateType, JString(s)) =>
          try Some(java.time.LocalDate.parse(s).toEpochDay)
          catch { case _: Exception => None }
        case (TimestampType | TimestampNTZType, JString(s)) =>
          try {
            val i =
              try java.time.Instant.parse(s)
              catch { case _: Exception =>
                java.time.LocalDateTime.parse(s)
                  .toInstant(java.time.ZoneOffset.UTC)
              }
            val us = i.getEpochSecond * 1000000L + i.getNano / 1000L
            Some(if (upper && us % 1000L == 0L) us + 999L else us)
          } catch { case _: Exception => None }
        case (FloatType | DoubleType, JDouble(d)) => Some(d)
        case (FloatType | DoubleType, JDecimal(d)) => Some(d.toDouble)
        case (FloatType | DoubleType, JInt(n)) => Some(n.toDouble)
        case (FloatType | DoubleType, JLong(n)) => Some(n.toDouble)
        case (FloatType | DoubleType, JString(s)) =>
          s match { // non-finite forms; NaN bounds are unusable
            case "Infinity" | "+Infinity" => Some(Double.PositiveInfinity)
            case "-Infinity" => Some(Double.NegativeInfinity)
            case _ => None
          }
        case (StringType, JString(s)) => Some(s)
        case (BooleanType, JBool(b)) => Some(b)
        case (_: DecimalType, JDecimal(d)) => Some(d)
        case (_: DecimalType, JDouble(d)) => Some(BigDecimal(d))
        case (_: DecimalType, JInt(n)) => Some(BigDecimal(n))
        case _ => None
      }
    def section(name: String, upper: Boolean): Map[String, Any] =
      (j \ name) match {
        case JObject(fields) => fields.flatMap { case (k, v) =>
          types.get(k).flatMap(dt => parseVal(dt, v, upper)).map(k -> _)
        }.toMap
        case _ => Map.empty
      }
    val mins = section("minValues", upper = false)
    val maxs = section("maxValues", upper = true)
    val nulls: Map[String, Long] = (j \ "nullCount") match {
      case JObject(fields) => fields.flatMap {
        case (k, JInt(n)) if types.contains(k) => Some(k -> n.toLong)
        case (k, JLong(n)) if types.contains(k) => Some(k -> n)
        case _ => None
      }.toMap
      case _ => Map.empty
    }
    val names = mins.keySet ++ maxs.keySet ++ nulls.keySet
    val cols = names.map(n =>
      n -> ColStats(mins.get(n), maxs.get(n), nulls.get(n))).toMap
    val nr = (j \ "numRecords") match {
      case JInt(n) if n >= 0 => Some(n.toLong)
      case JLong(n) if n >= 0 => Some(n)
      case _ => None
    }
    FileStats(nr, cols)
  }

  /** Point stats for a Delta PARTITION VALUE (directory-encoded string,
    * null for the hive null dir): min = max = the typed value, all-null
    * when null — partition pruning through the same [[mayMatch]] rule. */
  def partitionValueStats(raw: Option[String], dt: DataType,
      numRecords: Option[Long]): ColStats = raw match {
    case None | Some(null) =>
      ColStats(None, None, numRecords.orElse(Some(Long.MaxValue)))
    case Some(s) =>
      val v: Option[Any] = try dt match {
        case ByteType | ShortType | IntegerType | LongType =>
          Some(s.trim.toLong)
        case DateType => Some(java.time.LocalDate.parse(s).toEpochDay)
        case TimestampType | TimestampNTZType =>
          // the directory value is a UTC wall-clock string (the session
          // timezone is pinned UTC) — java.sql.Timestamp.valueOf would
          // read it in the MACHINE's zone and mis-prune off-UTC hosts
          val t = java.time.LocalDateTime.parse(s.trim.replace(' ', 'T'))
          Some(t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L +
            t.getNano / 1000L)
        case FloatType | DoubleType => Some(s.trim.toDouble)
        case StringType => Some(s)
        case BooleanType => Some(s.trim.toBoolean)
        case _: DecimalType => Some(BigDecimal(s.trim))
        case _ => None
      } catch { case _: Exception => None }
      ColStats(v, v, Some(0L))
  }

  // ----------------------------------- Iceberg bound codec (Appendix D)

  /** Single-value serialization, Iceberg table spec Appendix D: fixed-
    * width little-endian numerics, UTF-8 strings, minimal two's-
    * complement big-endian decimals. */
  def icebergBound(dt: DataType, v: Any): Option[Array[Byte]] = dt match {
    case ByteType | ShortType | IntegerType =>
      val b = ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN)
      b.putInt(v.asInstanceOf[Long].toInt); Some(b.array)
    case DateType =>
      val b = ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN)
      b.putInt(v.asInstanceOf[Long].toInt); Some(b.array)
    case LongType | TimestampType | TimestampNTZType =>
      val b = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
      b.putLong(v.asInstanceOf[Long]); Some(b.array)
    case FloatType =>
      val b = ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN)
      b.putFloat(v.asInstanceOf[Double].toFloat); Some(b.array)
    case DoubleType =>
      val b = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
      b.putDouble(v.asInstanceOf[Double]); Some(b.array)
    case StringType =>
      Some(v.asInstanceOf[String].getBytes(StandardCharsets.UTF_8))
    case BooleanType =>
      Some(Array[Byte](if (v.asInstanceOf[Boolean]) 1 else 0))
    case _: DecimalType =>
      Some(v.asInstanceOf[BigDecimal].underlying.unscaledValue.toByteArray)
    case _ => None
  }

  /** Decode an Appendix D bound into the normalized domain. */
  def icebergBoundValue(dt: DataType, bytes: Array[Byte]): Option[Any] = {
    if (bytes == null) return None
    def le = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    try dt match {
      case ByteType | ShortType | IntegerType | DateType
        if bytes.length == 4 => Some(le.getInt.toLong)
      case LongType | TimestampType | TimestampNTZType
        if bytes.length == 8 => Some(le.getLong)
      // a 4-byte bound under a LONG/DOUBLE column is a file written
      // before a spec type PROMOTION (int -> long, float -> double) —
      // the spec's rule is to promote the bound on read
      case LongType if bytes.length == 4 => Some(le.getInt.toLong)
      case FloatType if bytes.length == 4 =>
        val f = le.getFloat
        if (f.isNaN) None else Some(f.toDouble)
      case DoubleType if bytes.length == 8 =>
        val d = le.getDouble
        if (d.isNaN) None else Some(d)
      case DoubleType if bytes.length == 4 =>
        val f = le.getFloat
        if (f.isNaN) None else Some(f.toDouble)
      case StringType => Some(new String(bytes, StandardCharsets.UTF_8))
      case BooleanType if bytes.length == 1 => Some(bytes(0) != 0)
      case d: DecimalType => Some(BigDecimal(
        new java.math.BigDecimal(new java.math.BigInteger(bytes), d.scale)))
      case _ => None
    } catch { case _: Exception => None }
  }
}
