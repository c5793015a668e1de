package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}

/** Shared plan red-flag detection for the Explain CLI and the
  * PlanAuditSpec CI gate: unintended cartesians, broadcast
  * nested-loop joins, and single-partition ("global") windows — the
  * three plan shapes that silently stop scaling at 100 TB. */
object PlanAudit {

  final case class Flags(cartesian: Boolean, bnl: Boolean,
      globalWindow: Boolean, exchanges: Int) {
    def names: Seq[String] =
      (if (cartesian) Seq("CartesianProduct") else Nil) ++
        (if (bnl) Seq("BroadcastNestedLoop") else Nil) ++
        (if (globalWindow) Seq("global-window") else Nil)
  }

  /** Audit a frame's physical plan. Works with AQE on or off by
    * unwrapping AdaptiveSparkPlanExec (whose TreeNode traversal does
    * NOT descend into the wrapped plan). */
  def audit(df: DataFrame): Flags = {
    val root = unwrap(df.queryExecution.executedPlan)
    val plan = root.toString
    // a window is global when ITS OWN partition spec is empty (one
    // task sorts everything) — a scalar .agg()'s SinglePartition
    // exchange elsewhere in the plan is fine — OR when every
    // partition expression is foldable: partitionBy(lit(1)) hashes
    // all rows into one partition exactly like an empty spec, it just
    // spells differently after FoldablePropagation inlines constant
    // aliases into the spec. Subqueries count: a scalar subquery's
    // global window sorts its whole input in one task all the same.
    val globalWin = nodes(root).collect {
      case w: WindowExec
        if w.partitionSpec.isEmpty || w.partitionSpec.forall(_.foldable) => w
      case w: WindowGroupLimitExec
        if w.partitionSpec.isEmpty || w.partitionSpec.forall(_.foldable) => w
    }.nonEmpty
    Flags(
      cartesian = plan.contains("CartesianProduct"),
      bnl = plan.contains("BroadcastNestedLoop"),
      globalWindow = globalWin,
      exchanges = "Exchange".r.findAllIn(plan).length)
  }

  /** Every node of `p`, its subqueries' included. Under AQE each
    * subquery is wrapped in its own AdaptiveSparkPlanExec and, once
    * run, each stage in a QueryStageExec leaf, unwrapped here in turn;
    * a reused subquery or exchange is a leaf, counted once. */
  private[graft] def nodes(p: SparkPlan): Seq[SparkPlan] =
    unwrap(p).collectWithSubqueries { case n => n }.flatMap {
      case a: AdaptiveSparkPlanExec => nodes(a)
      case s: QueryStageExec => s +: nodes(s.plan)
      case n => Seq(n)
    }

  private def unwrap(p: SparkPlan): SparkPlan = p match {
    // executedPlan is the current physical plan — before any
    // execution that is the initial plan WITH exchanges planned
    // (inputPlan would predate EnsureRequirements)
    case a: AdaptiveSparkPlanExec => a.executedPlan
    case other => other
  }
}
