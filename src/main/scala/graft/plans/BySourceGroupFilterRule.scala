package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Exists, Expression, Or}
import org.apache.spark.sql.catalyst.expressions.Literal.TrueLiteral
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan, MergeRows, Project, ReplaceData}
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer rule: give a copy-on-write MERGE with `WHEN NOT MATCHED BY
  * SOURCE` clauses the runtime group filter Spark leaves out.
  *
  * Spark's `RewriteMergeIntoTable` builds such a `ReplaceData` with no
  * group filter, so every file of the target is rewritten. When every
  * by-source clause carries a condition, the files that can change are
  * exactly those holding a matched row or a row satisfying some by-source
  * condition. This rule sets the group filter to
  *
  *   EXISTS (SELECT 1 FROM source WHERE on) OR byCond1 OR ... OR byCondN
  *
  * The `EXISTS` is Spark's own `toGroupFilterCondition` in the decorrelated
  * form the earlier `PullupCorrelatedPredicates` batch leaves it in: `on`
  * is the join condition, the target columns it reads are the outer
  * attributes. Spark's `RowLevelOperationRuntimeGroupFiltering` (a later
  * batch) then evaluates the filter and hands the matching `_file` set to
  * the scan, exactly as for a MERGE without by-source clauses.
  *
  * An unconditioned by-source clause may change any row, so the plan is
  * left alone. The trailing `Keep(Copy, true, ...)` instruction is Spark's
  * carry-over of untouched rows, not a user clause. Any plan whose root is
  * not such a `ReplaceData` returns at once, with no tree walk.
  */
object BySourceGroupFilterRule extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    case rd @ ReplaceData(_, _, m: MergeRows, _, _, None, _) =>
      groupFilter(m).fold(plan)(f => rd.copy(groupFilterCondition = Some(f)))
    case _ => plan
  }

  private def groupFilter(m: MergeRows): Option[Expression] = {
    val bySource = m.notMatchedBySourceInstructions.filter {
      case MergeRows.Keep(MergeRows.Copy, _, _) => false
      case _ => true
    }
    val join = m.child match {
      case j: Join => Some(j)
      case Project(_, j: Join) => Some(j)
      case _ => None
    }
    join.collect {
      case Join(target, source, _, Some(on), _)
          if bySource.nonEmpty && bySource.forall(_.condition != TrueLiteral) =>
        val outerRefs = on.references.filter(target.outputSet.contains).toSeq
        val matched: Expression = Exists(source, outerRefs, joinCond = Seq(on))
        (matched +: bySource.map(_.condition)).reduce(Or)
    }
  }
}
