package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Attribute, InterpretedOrdering}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Sort}
import org.apache.spark.sql.catalyst.rules.Rule

/** A global sort over a driver-local relation, run on the driver.
  *
  * Spark's ConvertToLocalRelation folds a Project, Filter or Limit over a
  * LocalRelation into its rows, but plans a Sort over one as a range
  * exchange: a sampling job and a shuffle of rows that already sit on the
  * driver, one task per row up to the leaf parallelism. A pinned tail
  * (`Loops.pin`, then `orderBy`, so the order stays in the plan) is that
  * shape; on q184's 12-row tail it cost 2 jobs and 12 tasks
  * (`graft.tools.ProbeJobs`, sf0.01, local[32] on a 4-vCPU machine).
  * This rule sorts the rows instead — a stable sort under Spark's own
  * interpreted row ordering — so the sorted relation is again a
  * LocalRelation and collecting it runs no job. Only attribute sort keys
  * are folded, the form every pinned tail uses. */
object SortLocalRelation extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan transformUp {
    case Sort(order, true, l: LocalRelation, _)
        if !l.isStreaming && order.forall(_.child.isInstanceOf[Attribute]) =>
      l.copy(data = l.data.sorted(new InterpretedOrdering(order, l.output)))
  }
}
