package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode, Expression, Literal, TruncTimestamp}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.FixedOffsetTrunc

/** `date_trunc(<literal unit>, ts)` under a fixed-offset session zone ->
  * [[FixedOffsetTrunc]], long arithmetic instead of a `ZonedDateTime` per
  * row. This is what the xql buckets (`time_date|time_month|time_year`,
  * apply.py:56-60) and the `date_trunc(...).cast("timestamp_ntz")` grouping
  * keys run as. It also absorbs a TIMESTAMP_NTZ -> TIMESTAMP cast directly
  * under the truncation and a TIMESTAMP -> TIMESTAMP_NTZ cast directly over
  * it, when their zone has the same fixed offset (not a `try_cast`, which
  * nulls the out-of-range values the absorbed cast would have raised).
  *
  * Scope: Project and Aggregate expressions only (which covers the
  * `_groupingexpression` Project of `PullOutGroupingExpressions`); Filter and
  * join conditions keep Spark's expression, so source pushdown and table
  * pruning see the plans they always saw. An Aggregate whose grouping
  * expressions still hold a `date_trunc` is skipped: rewriting its output
  * alone could break their match. A DST zone, a non-literal or invalid
  * unit: left to Spark.
  */
object FixedOffsetTruncRule extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case p: Project => p.transformExpressionsDown(rewrite)
    case a: Aggregate if !a.groupingExpressions.exists(_.exists(_.isInstanceOf[TruncTimestamp])) =>
      a.transformExpressionsDown(rewrite)
  }

  /** The offset in seconds of a zone without DST. */
  private def fixedOffset(tz: Option[String]): Option[Long] = tz.map(DateTimeUtils.getZoneId)
    .map(_.getRules).filter(_.isFixedOffset)
    .map(_.getOffset(java.time.Instant.EPOCH).getTotalSeconds.toLong)

  private val rewrite: PartialFunction[Expression, Expression] = {
    case Cast(Fixed(f), TimestampNTZType, tz, mode) if mode != EvalMode.TRY &&
        fixedOffset(tz).contains(f.outOffset) =>
      f.copy(outOffset = 0L, dataType = TimestampNTZType)
    case Fixed(f) => f
  }

  /** A `TruncTimestamp` this rule can replace, as its replacement. */
  private object Fixed {
    def unapply(e: Expression): Option[FixedOffsetTrunc] = e match {
      case TruncTimestamp(Literal(unit: UTF8String, _), ts, tz) =>
        for (level <- FixedOffsetTrunc.levelOf(unit); off <- fixedOffset(tz)) yield ts match {
          case Cast(local, TimestampType, castTz, mode) if local.dataType == TimestampNTZType &&
              mode != EvalMode.TRY && fixedOffset(castTz).contains(off) =>
            FixedOffsetTrunc(local, level, 0L, off, TimestampType)
          case _ => FixedOffsetTrunc(ts, level, off, off, TimestampType)
        }
      case _ => None
    }
  }
}
