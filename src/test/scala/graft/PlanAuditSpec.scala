package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FormattedMode

/** The plan-shape checks as a regression suite: the seven audits the
  * 100 TB design depends on (pushdown, pruning, broadcast, top-k, partial
  * aggregation) plus the CartesianProduct lint over the ENTIRE query
  * inventory, so a regressed join strategy can't ship silently between
  * rounds. `graft.cli.Harness explain` prints the full plans; this spec is
  * the gate. Runs at sf0.001 and only inspects plans — nothing executes.
  */
class PlanAuditSpec extends SparkSpec {

  private def plan(name: String): String =
    Queries.byName(name)(spark, sfDir)
      .queryExecution.explainString(FormattedMode)

  private def planOf(df: DataFrame): String =
    df.queryExecution.explainString(FormattedMode)

  test("q03 pushes its filters into the parquet scan") {
    assert(plan("q03_where_coords").contains("PushedFilters: [IsNotNull(l_shipdate)"))
  }

  test("q03 prunes columns (scan does not read the full lineitem schema)") {
    assert(!plan("q03_where_coords").contains("ReadSchema: struct<l_orderkey:bigint,l_partkey"))
  }

  test("q10 broadcasts the dimension side of its joins") {
    assert(plan("q10_join_dims").contains("BroadcastHashJoin"))
  }

  test("q02 plans limit+sort as TakeOrderedAndProject, not a full sort") {
    assert(plan("q02_select_limit").contains("TakeOrderedAndProject"))
  }

  test("q26 ANN top-k plans as TakeOrderedAndProject") {
    assert(plan("q26_ann_topk").contains("TakeOrderedAndProject"))
  }

  test("q11 plans a broadcast anti join") {
    val p = plan("q11_anti_join")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"))
  }

  test("q01 aggregates with a map-side partial before the shuffle") {
    assert(plan("q01_pricing_summary").contains("partial_sum"))
  }

  test("no query in the inventory plans a CartesianProduct") {
    // Intentional tiny cross joins (literal fan-outs, 1-row query vectors,
    // constant-bounded plane/centroid tables) plan as
    // BroadcastNestedLoopJoin over a broadcast side bounded by a constant —
    // allowed. A CartesianProduct node (both sides unbounded) is a scale
    // bug anywhere in the inventory.
    val offenders = Queries.everything.flatMap { q =>
      val p = plan(q.name) // a query that fails to PLAN is itself a failure
      if (p.contains("CartesianProduct")) Some(q.name) else None
    }
    assert(offenders.isEmpty, s"CartesianProduct in: ${offenders.mkString(", ")}")
  }

  test("the lint actually detects a cartesian (positive control)") {
    // Two unbounded parquet scans cross-joined: exactly the plan shape the
    // lint exists to reject. At sf0.001 the tables fit under the broadcast
    // threshold, so disable auto-broadcast for the control — at real scale
    // neither side would be broadcastable, which is the case the lint
    // guards. If Spark ever stops labelling the node CartesianProduct,
    // this fails and the lint must be re-targeted.
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      val a = spark.read.parquet(s"$sfDir/lineitem.parquet")
      val b = spark.read.parquet(s"$sfDir/orders.parquet")
      val crossed = a.crossJoin(b)
      assert(planOf(crossed).contains("CartesianProduct"),
        "positive control: crossJoin of two scans must lint as CartesianProduct")
    } finally spark.conf.set(key, prev)
  }
}
