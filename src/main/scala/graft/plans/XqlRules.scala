package graft.plans

import org.apache.spark.sql.catalyst.analysis.{UnresolvedAlias, UnresolvedAttribute, UnresolvedFunction}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.toPrettySQL

/** Plan-level forms of the xql sugar (apply.py:56-60, 132-155) behind
  * WxSql. Operating on the logical plan keeps them clear of sugar tokens
  * inside string literals and of aggregates in HAVING/ORDER BY: Catalyst
  * only hands us real attribute/function nodes, never literal content.
  */
object XqlRules {
  /** Thread-local gate for [[XqlAggNamingRule]]: the `{func}_{var}` output
    * naming is an xql-dialect behavior, so it only fires while a WxSql query
    * is being analyzed — never on plain `spark.sql`. Analysis is eager and
    * runs on the calling thread, so a thread-local scopes the flag to exactly
    * the one `spark.sql` call inside [[withAggNaming]]; a session-wide conf
    * would leak the renaming into concurrent queries on the same session (or
    * lose it for a parallel WxSql query when the first finally-unset ran). */
  private val aggNaming = ThreadLocal.withInitial[java.lang.Boolean](() => false)

  private[graft] def aggNamingEnabled: Boolean = aggNaming.get()

  /** Run `f` with the xql aggregate-naming rule enabled on this thread. */
  def withAggNaming[T](f: => T): T = {
    val prev = aggNaming.get()
    aggNaming.set(true)
    try f finally aggNaming.set(prev)
  }
}

/** `time_date` / `time_month` / `time_year` -> `date_trunc(unit, time)`
  * (apply.py:56-60). Fires only on UNRESOLVED attributes: a relation that
  * really has a `time_date` column keeps it (resolution already won by the
  * time extended rules run). Injects an unresolved `date_trunc` call so the
  * normal function-resolution path picks the exact semantics the SQL form
  * would get. */
object TimeBucketRule extends Rule[LogicalPlan] {
  private val Buckets = Map("time_date" -> "DAY", "time_month" -> "MONTH", "time_year" -> "YEAR")

  private def isBucket(a: UnresolvedAttribute): Boolean =
    a.nameParts.size == 1 && Buckets.contains(a.nameParts.head.toLowerCase)

  private def truncOf(a: UnresolvedAttribute): Expression =
    UnresolvedFunction(
      Seq("date_trunc"),
      Seq(Literal(Buckets(a.nameParts.head.toLowerCase)), UnresolvedAttribute("time")),
      isDistinct = false)

  private val repl: PartialFunction[Expression, Expression] = {
    case a: UnresolvedAttribute if isBucket(a) => truncOf(a)
  }

  /** Output-list positions need a NamedExpression, so a bare sugar attribute
    * there becomes `Alias(date_trunc(...), <sugar name>)` — which also keeps
    * the xql-style output column name, and lets an outer ORDER BY `time_date`
    * resolve against the projected name the normal way. */
  private def named(ne: NamedExpression): NamedExpression = ne match {
    case a: UnresolvedAttribute if isBucket(a) => Alias(truncOf(a), a.nameParts.head)()
    case other => other.transformUp(repl).asInstanceOf[NamedExpression]
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperatorsUp {
    case p: Project => p.copy(projectList = p.projectList.map(named))
    case a: Aggregate => a.copy(
      groupingExpressions = a.groupingExpressions.map(_.transformUp(repl)),
      aggregateExpressions = a.aggregateExpressions.map(named))
    // Elsewhere (Filter, Sort, ...): rewrite only once the children are
    // resolved AND none of them exposes the sugar name — a Project/Aggregate
    // below may have aliased its output `time_date`, and then plain
    // name resolution (ORDER BY time_date) is the right binding.
    case other if other.children.forall(_.resolved) =>
      other.transformExpressionsUp {
        case a: UnresolvedAttribute if isBucket(a) &&
            !other.children.exists(_.output.exists(
              _.name.equalsIgnoreCase(a.nameParts.head))) =>
          truncOf(a)
      }
  }
}

/** Unaliased `AVG/SUM/MIN/MAX(col)` in the SELECT list gets the reference's
  * `{func}_{col}` output name (apply.py:155). Scope is exactly the SELECT
  * list — only top-level entries of Project/Aggregate output lists are
  * touched, so aggregates inside HAVING or ORDER BY (which live in
  * Filter/Sort conditions, or as exprId-referenced extra columns) keep
  * working. Gated per-thread: see [[XqlRules.withAggNaming]]. */
object XqlAggNamingRule extends Rule[LogicalPlan] {
  private val Fns = Set("avg", "sum", "min", "max")

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!XqlRules.aggNamingEnabled) plan
    else plan.resolveOperatorsUp {
      case p: Project => p.copy(projectList = p.projectList.map(rename))
      case a: Aggregate => a.copy(aggregateExpressions = a.aggregateExpressions.map(rename))
    }

  private def argName(e: Expression): Option[String] = e match {
    case a: UnresolvedAttribute if a.nameParts.size == 1 => Some(a.nameParts.head)
    case a: Attribute => Some(a.name)
    case _ => None
  }

  private def fnOf(af: AggregateFunction): Option[String] = af match {
    case _: Average => Some("avg")
    case _: Sum => Some("sum")
    case _: Min => Some("min")
    case _: Max => Some("max")
    case _ => None
  }

  private def rename(ne: NamedExpression): NamedExpression = ne match {
    // Seen before function resolution: the direct unaliased form.
    case UnresolvedAlias(f: UnresolvedFunction, _)
        if f.nameParts.size == 1 && Fns(f.nameParts.head.toLowerCase) &&
          !f.isDistinct && f.arguments.size == 1 && argName(f.arguments.head).isDefined =>
      Alias(f, s"${f.nameParts.head.toLowerCase}_${argName(f.arguments.head).get}")()
    // Seen after ResolveAliases already stamped the auto-generated name:
    // rename only when the alias is exactly the auto form (a user's explicit
    // AS wins), and keep the exprId so downstream references stay bound.
    case al @ Alias(ae @ AggregateExpression(af, _, false, None, _), name)
        if fnOf(af).isDefined && af.children.size == 1 &&
          argName(af.children.head).isDefined && name == toPrettySQL(ae) =>
      Alias(ae, s"${fnOf(af).get}_${argName(af.children.head).get}")(exprId = al.exprId)
    case other => other
  }
}
