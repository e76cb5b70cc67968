package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** SQL metrics of an executed plan, read after the action ran. */
object Plans {
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  /** (node name, metric name → value) for every node of `df`'s final plan. */
  def metrics(df: DataFrame): Seq[(String, Map[String, Long])] =
    nodes(df.queryExecution.executedPlan).map { n =>
      n.nodeName -> n.metrics.map { case (k, m) => k -> m.value }
    }
}
