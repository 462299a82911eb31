package graft.plans

import scala.annotation.tailrec

import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, RangePartitioning, SinglePartition}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, Exchange, ShuffleExchangeExec}

/** AQE query-stage preparation: drops the exchange that gathers
  * (`SinglePartition`) or range-partitions the rows of a V2 scan that has
  * exactly one input partition. Those rows already sit in one partition, in
  * which a global aggregate, a global sort or a limit runs correctly; the
  * exchange only adds a second job (and, for a range exchange, a sampling
  * job). A pruned Zarr query over one chunk then runs as one job.
  *
  * Only an `ENSURE_REQUIREMENTS` exchange moves, and only when nothing but
  * unary, non-exchange nodes sit between it and the scan. A scan with zero
  * partitions keeps its exchange: a global aggregate over nothing must
  * still return its one row. Hash exchanges stay, and so do scans with
  * runtime filters, whose partitions are not known yet.
  */
object OnePartitionExchangeRule extends Rule[SparkPlan] {
  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case e: ShuffleExchangeExec if e.shuffleOrigin == ENSURE_REQUIREMENTS &&
        gathers(e.outputPartitioning) && onePartitionScan(e.child) => e.child
  }

  private def gathers(p: Partitioning): Boolean = p match {
    case SinglePartition | _: RangePartitioning => true
    case _ => false
  }

  @tailrec private def onePartitionScan(p: SparkPlan): Boolean = p match {
    case s: BatchScanExec => s.runtimeFilters.isEmpty && s.inputPartitions.length == 1
    case _: Exchange => false
    case u: UnaryExecNode => onePartitionScan(u.child)
    case _ => false
  }
}
