package graft

import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec

/** Interpreted-expression finder for plan assertions: PERF §47 found
  * the engine's hottest operator hiding a 55× CPU tax behind a CORRECT
  * plan — the LSH est/recheck expressions were HigherOrderFunctions,
  * i.e. CodegenFallback, invisible to every plan-shape assertion
  * because only the expressions inside the plan were interpreted.
  * Specs run a query, then assert [[fallbackHits]] of its executed
  * plan is empty. */
object CodegenFallbacks {

  /** All plan nodes reachable from `p`, descending through AQE's
    * executed plan, materialized query stages (the pre-execution
    * AdaptiveSparkPlan string hides both), and cached relations'
    * build plans (an InMemoryTableScan is a leaf whose
    * relation.cachedPlan is the plan that actually computed the
    * cache). */
  private def walk(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => p +: walk(a.executedPlan)
    case q: QueryStageExec        => p +: walk(q.plan)
    case c: InMemoryTableScanExec => p +: walk(c.relation.cachedPlan)
    case _                        => p +: p.children.flatMap(walk)
  }

  /** Distinct `expressionClass @ planNode` fallback hits in the plan
    * tree under `root`, subqueries included. Run the query first:
    * AQE finalizes its stages only at runtime. */
  def fallbackHits(root: SparkPlan): Set[String] = {
    val plans = walk(root)
    val withSubqueries = plans ++ plans.flatMap(_.subqueries.flatMap(walk))
    withSubqueries.flatMap { node =>
      node.expressions.flatMap(_.collect {
        case e: CodegenFallback =>
          s"${e.getClass.getSimpleName} @ ${node.getClass.getSimpleName}"
      })
    }.toSet
  }
}
