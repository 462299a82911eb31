package graft.plans

import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** Analysis-time rewrite of the xql custom geo predicates (P7,
  * xql/src/xql/where.py:140-171): `city = 'new york'` / `country = 'india'`
  * become bounding-box conjunctions over the `latitude`/`longitude`
  * coordinate columns before resolution, so they work anywhere in a WHERE
  * clause Catalyst sees — `spark.sql`, Dataset.filter(expr), views.
  *
  * The rule only fires on an UNRESOLVED `city`/`country` attribute: if the
  * relation actually has such a column, normal resolution wins and the
  * predicate keeps its ordinary meaning.
  */
object GeoPredicateRule extends Rule[LogicalPlan] {

  private def boxPredicate(kind: String, name: String): Option[Expression] =
    GeoConstants.lookup(kind, name).map { b =>
      val lat = UnresolvedAttribute("latitude")
      val lon = UnresolvedAttribute("longitude")
      And(
        And(GreaterThanOrEqual(lat, Literal(b.latMin)), LessThanOrEqual(lat, Literal(b.latMax))),
        And(GreaterThanOrEqual(lon, Literal(b.lonMin)), LessThanOrEqual(lon, Literal(b.lonMax))))
    }

  /** `attribute = 'string'` in either operand order, as (lower-cased
    * attribute name, string). */
  private object AttrEqString {
    def unapply(e: Expression): Option[(String, String)] = e match {
      case EqualTo(l: Literal, a: UnresolvedAttribute) => unapply(EqualTo(a, l))
      case EqualTo(a: UnresolvedAttribute, Literal(v: UTF8String, StringType)) =>
        Some((a.name.toLowerCase, v.toString))
      case _ => None
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperatorsUp {
    case f @ Filter(cond, child) =>
      val rewritten = cond.transformUp {
        case AttrEqString(kind, name) if kind == "city" || kind == "country" =>
          boxPredicate(kind, name).getOrElse(
            throw new IllegalArgumentException(s"Unsupported $kind: '$name'"))
      }
      if (rewritten fastEquals cond) f else Filter(rewritten, child)
  }
}
