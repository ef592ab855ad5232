package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike

/** Shuffle exchanges in a physical plan, including those AQE keeps inside
  * its adaptive plan and query stages. */
object PlanShuffles {
  def count(p: SparkPlan): Int = {
    val own = p match {
      case _: ShuffleExchangeLike => 1
      case a: AdaptiveSparkPlanExec => count(a.executedPlan)
      case q: QueryStageExec => count(q.plan)
      case _ => 0
    }
    own + p.children.map(count).sum
  }
}
