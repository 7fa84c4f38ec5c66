package graft

import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/** Shared plan-walking for specs/probes: AQE hides the real operators
  * behind AdaptiveSparkPlanExec / QueryStageExec / ReusedExchangeExec
  * wrappers — walk through them so plan pins reach the executed nodes.
  */
object PlanWalk {
  /** Every node `pick` matches, walking through the AQE wrappers. */
  def collect[T](p: SparkPlan)(pick: PartialFunction[SparkPlan, T]): Seq[T] = p match {
    case a: AdaptiveSparkPlanExec => collect(a.executedPlan)(pick)
    case q: QueryStageExec        => collect(q.plan)(pick)
    case r: ReusedExchangeExec    => collect(r.child)(pick)
    case n if pick.isDefinedAt(n) => Seq(pick(n))
    case other                    => other.children.flatMap(collect(_)(pick))
  }

  def batchScans(p: SparkPlan): Seq[BatchScanExec] = collect(p) { case b: BatchScanExec => b }

  def fileScans(p: SparkPlan): Seq[FileSourceScanExec] = collect(p) { case f: FileSourceScanExec => f }
}
