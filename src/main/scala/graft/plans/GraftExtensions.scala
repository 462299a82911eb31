package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{DotProduct, HaversineDistance, SquaredDistance}

/** Session extensions registering the engine's Catalyst-level pieces:
  *
  *  - [[GeoPredicateRule]]: analysis-time rewrite of `city`/`country`
  *    predicates into bounding boxes (P7);
  *  - [[TimeBucketRule]]: `time_date|time_month|time_year` bucketing sugar;
  *  - [[XqlAggNamingRule]]: thread-local-gated `{func}_{var}` aggregate
  *    naming for WxSql queries ([[XqlRules.withAggNaming]]);
  *  - [[FixedOffsetTruncRule]] (optimizer): `date_trunc` under a
  *    fixed-offset zone, with the NTZ casts around it, as long arithmetic;
  *  - [[OnePartitionExchangeRule]] (AQE query-stage preparation): no
  *    gathering or range exchange above a one-partition V2 scan;
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
    e.injectOptimizerRule(_ => FixedOffsetTruncRule)
    e.injectQueryStagePrepRule(_ => OnePartitionExchangeRule)
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
