package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{DotProduct, HaversineDistance, SquaredDistance}

/** Session extensions registering the engine's Catalyst-level pieces:
  *
  *  - [[GeoPredicateRule]]: analysis-time rewrite of `city`/`country`
  *    predicates into bounding boxes (P7);
  *  - [[TimeBucketRule]]: `time_date|time_month|time_year` bucketing sugar;
  *  - [[XqlAggNamingRule]]: conf-gated `{func}_{var}` aggregate naming for
  *    WxSql queries;
  *  - `haversine_km`: the custom codegen scalar [[HaversineDistance]]
  *    available from SQL.
  *
  * Wire-up: `GraftSession.builder` registers them for every session it
  * builds; externally built sessions can use
  * `--conf spark.sql.extensions=graft.plans.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectResolutionRule(_ => GeoPredicateRule)
    e.injectResolutionRule(_ => TimeBucketRule)
    e.injectResolutionRule(_ => XqlAggNamingRule)
    e.injectFunction((
      org.apache.spark.sql.catalyst.FunctionIdentifier("haversine_km"),
      new ExpressionInfo(classOf[HaversineDistance].getName, "haversine_km"),
      (children: Seq[Expression]) => {
        require(children.size == 4, "haversine_km(lat1, lon1, lat2, lon2)")
        HaversineDistance(children(0), children(1), children(2), children(3))
      }))
    e.injectFunction((
      org.apache.spark.sql.catalyst.FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "vec_dot"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "vec_dot(a, b)")
        DotProduct(children(0), children(1))
      }))
    e.injectFunction((
      org.apache.spark.sql.catalyst.FunctionIdentifier("vec_sqdist"),
      new ExpressionInfo(classOf[SquaredDistance].getName, "vec_sqdist"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "vec_sqdist(a, b)")
        SquaredDistance(children(0), children(1))
      }))
  }
}
