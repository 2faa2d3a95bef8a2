package perfbench

import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}

/** Structural counters of an executed (AQE-final) physical plan. */
final case class PlanStats(exchanges: Int, broadcasts: Int, topk: Int, roundRobin: Int) {
  def +(o: PlanStats): PlanStats = PlanStats(exchanges + o.exchanges,
    broadcasts + o.broadcasts, topk + o.topk, roundRobin + o.roundRobin)
}

object PlanStats {
  val zero: PlanStats = PlanStats(0, 0, 0, 0)

  /** Every node of the plan, descending through adaptive wrappers, query
    * stages and subqueries; a reused exchange counts once, where it was
    * first planned.
    */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec        => nodes(s.plan)
    case r: ReusedExchangeExec    => Seq(r)
    case o                        => o +: (o.children ++ o.subqueries).flatMap(nodes)
  }

  def of(plan: SparkPlan): PlanStats = {
    val ns = nodes(plan)
    PlanStats(
      exchanges = ns.count(_.isInstanceOf[ShuffleExchangeLike]),
      broadcasts = ns.count(_.isInstanceOf[BroadcastExchangeLike]),
      topk = ns.count(_.nodeName.contains("TopK")),
      // graft.Spread's repartition(n) plans as a round-robin shuffle
      roundRobin = ns.count {
        case s: ShuffleExchangeLike => s.outputPartitioning.isInstanceOf[RoundRobinPartitioning]
        case _                      => false
      })
  }
}
