package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, GraftPlanBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, IntegerLiteral, Literal, Or}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Limit, LogicalPlan, Offset, UnresolvedWith}

import graft.plans.XqlRules

/** xql-equivalent SQL front-end: a thin sugar layer over `spark.sql`.
  *
  * The reference xql (xql/src/xql/apply.py) parses a small SELECT dialect with
  * sqlglot, applies its own projection/filter/group-by over xarray, and
  * post-processes in pandas. Spark SQL already covers that whole surface, so
  * this layer only re-expresses xql's three *extensions*:
  *
  *  1. a session alias catalog (`.set alias uri`, apply.py:37, 367-386) —
  *     [[WxSql.set]] registers a store path as a temp view;
  *  2. custom geo predicates `city = 'x'` / `country = 'y'` as bounding-box
  *     conjunctions (where.py:140-171, constant.py:16-34) —
  *     [[graft.plans.GeoPredicateRule]];
  *  3. `GROUP BY time_date | time_month | time_year` bucketing sugar and
  *     `{func}_{variable}` aggregate naming (apply.py:56-60, 132-155) —
  *     [[graft.plans.TimeBucketRule]], [[graft.plans.XqlAggNamingRule]].
  *
  * The sugar lives only in those Catalyst resolution rules, so it sees real
  * attribute and function nodes, never literal content; WxSql never edits
  * the SQL text. The rules come with [[graft.plans.GraftExtensions]]
  * (`GraftSession` registers them), and a session without them is refused.
  *
  * Divergences from the reference, by design (SURVEY §7.4): WHERE handles OR
  * correctly (xql evaluates only the first DNF term, where.py:229-238), and
  * ORDER BY/LIMIT/OFFSET follow standard SQL semantics and stay distributed
  * instead of running in pandas on the driver. `xqlCompat` restores the
  * reference's results on both ([[WxSql.compatPlan]]).
  */
class WxSql(spark: SparkSession, xqlCompat: Boolean = false) {
  require(WxSql.hasPlanRules(spark),
    "WxSql needs the graft resolution rules: build the session with graft.GraftSession, " +
      "or start it with --conf spark.sql.extensions=graft.plans.GraftExtensions")

  private val aliases = mutable.Map.empty[String, String]

  /** `.set alias uri` — alias a store path (parquet, zarr, csv, …; format
    * sniffed like the reference's engine dispatch); registers a temp view. */
  def set(alias: String, path: String): Unit = {
    aliases(alias) = path
    graft.sources.FormatRegistry.open(spark, path).createOrReplaceTempView(alias)
  }

  /** `.show` meta-command analog. */
  def show: Map[String, String] = aliases.toMap

  /** Analysis is eager on this thread, so the thread-local scopes the xql
    * naming to this one query — concurrent `spark.sql` / WxSql calls on the
    * same session are unaffected. */
  def sql(query: String): DataFrame = XqlRules.withAggNaming {
    if (!xqlCompat) spark.sql(query)
    else GraftPlanBridge.ofRows(spark,
      WxSql.compatPlan(spark.sessionState.sqlParser.parsePlan(query)))
  }
}

object WxSql {
  def apply(spark: SparkSession): WxSql = new WxSql(spark)
  def apply(spark: SparkSession, xqlCompat: Boolean): WxSql = new WxSql(spark, xqlCompat)

  /** True when the session's analyzer carries the graft resolution rules
    * (injected by [[graft.plans.GraftExtensions]]). */
  def hasPlanRules(spark: SparkSession): Boolean =
    spark.sessionState.analyzer.extendedResolutionRules
      .exists(_ eq graft.plans.GeoPredicateRule)

  /** Opt-in bug-for-bug xql semantics (SURVEY §7.4 "known hazards") for
    * users migrating result-exact workloads, applied to the parsed plan:
    *  - every WHERE, at any query level (subqueries and CTEs too), keeps only
    *    the leftmost operand of its top-level OR chain (the reference
    *    computes the full DNF but returns `or_ds[0]`, where.py:229-238).
    *    HAVING parses as `UnresolvedHaving`, not `Filter`, and keeps all of
    *    its terms;
    *  - `LIMIT n OFFSET m` slices rows [m, n) of the ORIGINAL result — xql
    *    applies `iloc[m:]` then `iloc[:n]` against the original start
    *    (apply.py:326-364) — i.e. standard-SQL `LIMIT max(n-m,0) OFFSET m`.
    * Default mode keeps correct SQL semantics (the DuckDB oracle's). */
  private[graft] def compatPlan(plan: LogicalPlan): LogicalPlan =
    plan.transformDownWithSubqueries {
      case Filter(cond, child) => Filter(firstOrTerm(cond), child)
      case Limit(IntegerLiteral(n), o @ Offset(IntegerLiteral(m), _)) =>
        Limit(Literal(math.max(n - m, 0)), o)
      case w: UnresolvedWith => w.copy(cteRelations = w.cteRelations.map {
        case (name, q, depth) => (name, q.copy(child = compatPlan(q.child)), depth)
      })
    }

  private def firstOrTerm(e: Expression): Expression = e match {
    case Or(left, _) => firstOrTerm(left)
    case other => other
  }
}
