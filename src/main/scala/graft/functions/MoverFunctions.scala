package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType

/** Remaining mover scalar semantics (SURVEY §2.9) as column expressions. */
object MoverFunctions {

  /** `match_datetime` (S5/F17, weather_mv/loader_pipeline/sinks.py:96-146):
    * extract a timestamp from a filename using a strftime-style template
    * (`%Y %m %d %H %M %S` supported). Missing parts default to the
    * reference's epoch: year 1978, month/day 1, time 0. */
  def matchDatetime(uri: Column, template: String): Column = {
    val fieldPat = Map(
      "%Y" -> "([0-9]{4})", "%m" -> "([0-9]{2})", "%d" -> "([0-9]{2})",
      "%H" -> "([0-9]{2})", "%M" -> "([0-9]{2})", "%S" -> "([0-9]{2})")
    // order of fields as they appear in the template drives group numbers
    val fields = "%[YmdHMS]".r.findAllIn(template).toSeq
    val regex = fields.foldLeft(java.util.regex.Pattern.quote(template)) {
      // quote() wraps in \Q…\E; splice the groups into the quoted text
      (acc, f) => acc.replace(f, "\\E" + fieldPat(f) + "\\Q")
    }
    def grp(f: String, default: Int): Column =
      if (fields.contains(f)) {
        // regexp_extract yields "" on no-match; ANSI mode forbids casting that
        val e = regexp_extract(uri, regex, fields.indexOf(f) + 1)
        when(e === "", lit(default)).otherwise(e.cast("int"))
      } else lit(default)
    make_timestamp_ntz(
      grp("%Y", 1978), grp("%m", 1), grp("%d", 1),
      grp("%H", 0), grp("%M", 0), grp("%S", 0))
  }

  /** Packed-integer decode (F20, the Zarr scale/offset convention,
    * weather_mv/test_data/test_data.zarr metadata): mask the missing value,
    * then `value * scale + offset`. */
  def packedDecode(raw: Column, scale: Double, offset: Double, missing: Long): Column =
    when(raw === missing, lit(null).cast("double"))
      .otherwise(raw.cast("double") * scale + offset)

  /** `to_json_serializable_type` NaN handling (F1, util.py:83-130): NaN and
    * infinities become NULL (BigQuery NULLABLE semantics). */
  def nanToNull(c: Column): Column =
    when(isnan(c) || c === Double.PositiveInfinity || c === Double.NegativeInfinity,
      lit(null).cast("double")).otherwise(c)

  /** Timedelta seconds (F1: timedelta64 -> total seconds as double,
    * util.py:121-125), from a microsecond interval column. */
  def timedeltaSeconds(micros: Column): Column =
    micros.cast("double") / 1e6

  /** A constant column that stays nullable, like the aggregate it stands
    * for (see [[NullableConstant]]). */
  private[graft] def nullableLit(value: Any, dataType: DataType): Column =
    GraftColumnBridge.column(NullableConstant(Literal.create(value, dataType)))
}

/** A constant that keeps `nullable = true` through optimization. Spark
  * folds every foldable expression into a `Literal`, whose nullability
  * follows its value, so even `KnownNullable(lit(x))` ends non-nullable in
  * the optimized plan, and parquet writers then mark the column REQUIRED.
  * Not foldable, so it stays; codegen emits the literal itself. */
private[graft] case class NullableConstant(lit: Literal) extends LeafExpression {
  override def dataType: DataType = lit.dataType
  override def nullable: Boolean = true
  override def foldable: Boolean = false
  override def eval(input: InternalRow): Any = lit.value
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = lit.genCode(ctx)
    ev.copy(code = c.code, isNull = c.isNull, value = c.value)
  }
  override def toString: String = lit.toString
}
