package graft.plans

import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{BroadcastQueryStageExec, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ENSURE_REQUIREMENTS, ShuffleExchangeExec, ShuffleExchangeLike}

/** A global ORDER BY over small input gathers into one sorted partition.
  *
  * Spark plans a global sort as a range exchange. Before that exchange's
  * map stage runs, `RangePartitioner` runs a separate sampling job over
  * the exchange's whole input to pick the range bounds — so every
  * operator below the sort (scan, UDFs, aggregations) runs twice. On
  * small input that work only buys bounds AQE then coalesces away: the
  * final stage runs as one task anyway. Presto never samples; its ORDER
  * BY gathers into one merging stage (`operator/MergeOperator.java`,
  * SURVEY.md §2.6). With one range partition `RangePartitioner` skips
  * sampling, so the pipeline runs once and one task sorts.
  *
  * The rule rewrites an `ENSURE_REQUIREMENTS` range exchange with more
  * than one partition to one partition when every input streaming into
  * its child's stage has a known size and those sizes add up to at most
  * `spark.sql.autoBroadcastJoinThreshold` — the size the session already
  * trusts to one task's memory. Known sizes are file scans (their
  * selected file bytes) and materialized shuffle stages (their runtime
  * map-output bytes); broadcast build sides are not counted. Any other
  * input — a shuffle not yet materialized, a cached relation, an RDD —
  * leaves the exchange alone: AQE re-plans after each stage completes,
  * so a sort above an aggregation is sized once its input stage has run.
  *
  * Left alone as well: user `repartitionByRange` (its origin is not
  * ENSURE_REQUIREMENTS), sessions with broadcasting off (threshold ≤ 0),
  * and plans outside AQE (stage-prep rules run only in AQE, so stateful
  * streams keep their partitioning). Injected by `GraftExtensions`.
  */
object GatherSmallSort extends Rule[SparkPlan] {

  override def apply(plan: SparkPlan): SparkPlan = {
    val limit = conf.autoBroadcastJoinThreshold
    if (limit <= 0) plan
    else plan.transformUp {
      case e @ ShuffleExchangeExec(r: RangePartitioning, child, ENSURE_REQUIREMENTS, _)
          if r.numPartitions > 1 && stageInputBytes(child).exists(_ <= limit) =>
        e.copy(outputPartitioning = r.copy(numPartitions = 1))
    }
  }

  /** Bytes streaming into the stage that computes `plan`, or None when
    * any of its inputs has no known size. */
  private def stageInputBytes(plan: SparkPlan): Option[Long] = plan match {
    case s: ShuffleQueryStageExec if s.isMaterialized =>
      Some(s.mapStats.map(_.bytesByPartitionId.sum).getOrElse(0L))
    case _: BroadcastQueryStageExec | _: BroadcastExchangeLike => Some(0L)
    case _: ShuffleExchangeLike => None
    case s: FileSourceScanExec => Some(s.selectedPartitions.totalFileSize)
    case p if p.children.isEmpty => None
    case p => p.children.foldLeft(Option(0L)) { (acc, c) =>
      acc.flatMap(a => stageInputBytes(c).map(a + _))
    }
  }
}
