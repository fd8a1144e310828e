package graft

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.{FilterExec, InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec

import graft.plans.ComputeOncePerRow

/** Costly calls in an executed plan, by [[ComputeOncePerRow]]'s own
  * list, so the checks and the rule cannot drift apart. */
object CostlyCalls {

  /** Every operator with the operator directly above it, through AQE
    * wrappers, query stages, codegen stage boundaries, subqueries and
    * into the plans of cached relations. */
  def operators(plan: SparkPlan, parent: Option[SparkPlan] = None): Seq[(SparkPlan, Option[SparkPlan])] =
    plan match {
      case a: AdaptiveSparkPlanExec => operators(a.executedPlan, parent)
      case s: QueryStageExec => operators(s.plan, parent)
      case w: WholeStageCodegenExec => operators(w.child, parent)
      case i: InputAdapter => operators(i.child, parent)
      case m: InMemoryTableScanExec => (m, parent) +: operators(m.relation.cachedPlan)
      case p => (p, parent) +: (p.children.flatMap(operators(_, Some(p))) ++
        p.subqueries.flatMap(operators(_)))
    }

  def calls(e: Expression): Seq[Expression] = e.collect { case x if ComputeOncePerRow.isCostly(x) => x }

  /** All costly calls the plan's operators evaluate, nested ones included. */
  def all(plan: SparkPlan): Seq[Expression] =
    operators(plan).flatMap(_._1.expressions).flatMap(calls)

  /** Each costly call a Filter evaluates twice, or that the operator
    * directly above the Filter also evaluates. */
  def repeated(plan: SparkPlan): Seq[String] = operators(plan).flatMap {
    case (f: FilterExec, parent) =>
      val inFilter = calls(f.condition)
      val above = parent.toSeq.flatMap(_.expressions).flatMap(calls)
      inFilter.filter(x => inFilter.count(_.semanticEquals(x)) > 1 || above.exists(_.semanticEquals(x)))
        .map(x => s"${x.sql} in ${f.nodeName} under ${parent.fold("nothing")(_.nodeName)}").distinct
    case _ => Nil
  }
}
