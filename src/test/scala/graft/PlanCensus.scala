package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{GenerateExec, ReusedSubqueryExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.window.WindowExec

/** Plan statistics of one query, read off its plan without running it:
  * shuffle exchanges, broadcast exchanges, `Generate`s, and
  * `WindowExec`s with no partition spec (a window that runs all its
  * rows in one task).
  *
  * The counts come from AQE's initial plans (`initialPlan`): the query's
  * own, its subqueries', and that of every session-cached plan it reads,
  * each cached plan walked once however often the query reads it. An
  * initial plan holds the exchanges the planner inserted before any
  * stage ran, so it does not move with AQE's runtime join choice.
  */
final case class PlanCensus(shuffles: Int, broadcasts: Int, generates: Int,
    globalWindows: Int) {
  def line(query: String): String = s"$query $shuffles $broadcasts $generates $globalWindows"
}

object PlanCensus {
  val header = "# query shuffle_exchanges broadcast_exchanges generates global_windows"

  def of(df: DataFrame): PlanCensus = {
    val cached = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.initialPlan)
      case m: InMemoryTableScanExec =>
        m +: (if (cached.add(m.relation.cachedPlan)) walk(m.relation.cachedPlan) else Nil)
      // the subquery it reuses is walked where it is planned
      case _: ReusedSubqueryExec => Nil
      case other => other +: (other.children ++ other.subqueries).flatMap(walk)
    }
    val ops = walk(df.queryExecution.executedPlan)
    PlanCensus(
      ops.count(_.isInstanceOf[ShuffleExchangeLike]),
      ops.count(_.isInstanceOf[BroadcastExchangeLike]),
      ops.count(_.isInstanceOf[GenerateExec]),
      ops.count { case w: WindowExec => w.partitionSpec.isEmpty; case _ => false })
  }
}
