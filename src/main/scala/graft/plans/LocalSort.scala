package graft.plans

import org.apache.spark.sql.catalyst.expressions.InterpretedOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Sort}
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer rule: a global ORDER BY directly over in-memory rows (a
  * `LocalRelation`) sorts those rows during optimization.
  *
  * Spark folds a projection, filter or limit over a `LocalRelation` into
  * a new `LocalRelation` (`ConvertToLocalRelation`), but not a sort: a
  * `Sort` plans as a range-partitioning exchange over a local table scan,
  * which under AQE is a sampling job plus a shuffle-stage job plus the
  * result job — three jobs to order a handful of rows already in
  * memory. Answers the engine collects and hands back (the Hamming k-NN's
  * ≤ k rows, say) are exactly such relations, and an interactive
  * `SELECT … ORDER BY` over them should stay job-free.
  *
  * The ordering is Spark's own interpreted form of the same `SortOrder`s
  * (direction, null placement, type orderings), so the rows come out in
  * the order the physical sort would produce. Fires only for batch
  * relations and deterministic sort keys over the relation's own output. */
object LocalSort extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case Sort(order, true, l: LocalRelation, _)
        if !l.isStreaming && order.forall(o =>
          o.deterministic && o.references.subsetOf(l.outputSet)) =>
      l.copy(data = l.data.sorted(new InterpretedOrdering(order, l.output)))
  }
}
