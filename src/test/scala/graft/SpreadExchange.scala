package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}

/** The exchange [[graft.ext.Dedup.spread]] adds, told apart from the join
  * and aggregation key exchanges by origin: the spread is a
  * `repartition(n, …)` (REPARTITION_BY_NUM), while the planner's own key
  * exchanges are ENSURE_REQUIREMENTS. Matching on origin holds whatever
  * the spread partitions by (round-robin before r19, a row hash since). */
object SpreadExchange {
  def is(e: ShuffleExchangeExec): Boolean = e.shuffleOrigin == REPARTITION_BY_NUM

  def count(p: SparkPlan): Int =
    p.collect { case e: ShuffleExchangeExec if is(e) => e }.size
}
