package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.types.DataType
import org.apache.spark.unsafe.types.UTF8String

/** `date_trunc(level, ts)` under a fixed-offset zone as long arithmetic:
  * with no DST there is no zone lookup to make, so the local time-line is
  * the instant plus one constant. Spark's `TruncTimestamp` goes through
  * `ZonedDateTime` per row for MINUTE, HOUR and DAY (and the date levels),
  * and a TIMESTAMP_NTZ <-> TIMESTAMP cast around it through
  * `LocalDateTime.atZone`.
  *
  * `inOffset`: seconds from the child to local time (0 when the child is
  * TIMESTAMP_NTZ, an absorbed NTZ -> TIMESTAMP cast); `outOffset`: seconds
  * from the truncated local time back to the result (0 when `dataType` is
  * TIMESTAMP_NTZ, an absorbed TIMESTAMP -> NTZ cast on top). Built only by
  * [[graft.plans.FixedOffsetTruncRule]]; nullable like the `date_trunc` it
  * replaces, so the plan's schema does not change.
  */
case class FixedOffsetTrunc(child: Expression, level: Int, inOffset: Long, outOffset: Long,
    dataType: DataType) extends UnaryExpression {

  override def nullable: Boolean = true
  override def prettyName: String = "fixed_offset_trunc"

  private val unitMicros: Long = FixedOffsetTrunc.unitMicros(level)

  override protected def nullSafeEval(micros: Any): Any =
    FixedOffsetTrunc.compute(micros.asInstanceOf[Long], level, unitMicros, inOffset, outOffset)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.FixedOffsetTrunc.compute($c, $level, " +
        s"${unitMicros}L, ${inOffset}L, ${outOffset}L);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object FixedOffsetTrunc {
  private final val MicrosPerSecond = 1000000L
  private final val MicrosPerDay = 86400L * MicrosPerSecond

  private def parse(unit: String): Int = DateTimeUtils.parseTruncLevel(UTF8String.fromString(unit))

  /** Micros per unit of the levels MICROSECOND to DAY; the date levels
    * (WEEK to YEAR) are absent and truncate through `truncDate`. */
  private val unitOf: Map[Int, Long] = Map(
    "MICROSECOND" -> 1L, "MILLISECOND" -> 1000L, "SECOND" -> MicrosPerSecond,
    "MINUTE" -> 60 * MicrosPerSecond, "HOUR" -> 3600 * MicrosPerSecond, "DAY" -> MicrosPerDay)
    .map { case (u, m) => parse(u) -> m }

  /** 0 for a date level. */
  def unitMicros(level: Int): Long = unitOf.getOrElse(level, 0L)

  /** The truncation level `unit` names, if `date_trunc` accepts it (the
    * check `TruncTimestamp` makes: invalid names parse below MICROSECOND). */
  def levelOf(unit: UTF8String): Option[Int] = {
    val level = DateTimeUtils.parseTruncLevel(unit)
    if (level >= parse("MICROSECOND")) Some(level) else None
  }

  /** Truncates `micros` on the local time-line `micros + inOffset` and
    * returns it shifted back by `outOffset` (offsets in seconds). No
    * intermediate can overflow, so the result overflows (and throws) only
    * when it is not a long, where Spark's own truncation throws too. Static
    * so generated code can call it directly. */
  def compute(micros: Long, level: Int, unitMicros: Long, inOffset: Long, outOffset: Long): Long = {
    val in = inOffset * MicrosPerSecond
    if (unitMicros > 0) {
      val below = Math.floorMod(Math.floorMod(micros, unitMicros) + Math.floorMod(in, unitMicros),
        unitMicros)
      Math.addExact(micros, in - outOffset * MicrosPerSecond - below)
    } else {
      val days = Math.floorDiv(micros, MicrosPerDay) +
        Math.floorDiv(Math.floorMod(micros, MicrosPerDay) + in, MicrosPerDay)
      val first = DateTimeUtils.truncDate(days.toInt, level)
      Math.multiplyExact(first * 86400L - outOffset, MicrosPerSecond)
    }
  }
}
