package graft.compile

import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}

/** Shared fused-scan plan accounting — ONE counting convention for the
  * plan gates (PlanSpec), so every gate measures the same thing. */
object FusedPlanStats {
  /** All JsonFusedEval occurrences anywhere in the plan's expressions. */
  def totalFused(plan: LogicalPlan): Int =
    plan.collect { case p =>
      p.expressions.flatMap(_.collect { case j: JsonFusedEval => j })
    }.flatten.size

  /** JsonFusedEval occurrences inline in Filter conditions — the
    * double-parse smell the fusion rules exist to eliminate (a healthy
    * fused Filter reads struct fields of a below-filter scan instead). */
  def filterFused(plan: LogicalPlan): Int =
    plan.collect { case f: Filter =>
      f.condition.collect { case j: JsonFusedEval => j }.size
    }.sum
}
