package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, Expression, GreaterThan, GreaterThanOrEqual, IntegerLiteral, LessThan, LessThanOrEqual, Literal, RowNumber, WindowExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Window}
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer rule: `row_number() OVER (PARTITION BY p ORDER BY o)`
  * immediately filtered to `rn <= k` is THE top-k-per-key idiom — and
  * the built-in plan sorts every group in full before it can filter.
  * This rule plants a [[TopKPerKey]] under the Window, so the sort and
  * shuffle only ever see k rows per key per input partition; the
  * original Window + Filter stay on top (now over ≤ k rows per key) to
  * reproduce the row_number column and the exact filter.
  *
  * Semantics: identical up to row_number's own tie nondeterminism —
  * rows the window could rank either way may differ, exactly as two
  * runs of the unrewritten plan may. Rewrite fires only for the
  * conservative shape: single row_number window expression, non-empty
  * ordering, a `rn <= k` / `rn < k` predicate on the window output.
  */
object RowNumberTopKRewrite extends Rule[LogicalPlan] {

  private def boundFrom(cond: Expression, rn: Attribute): Option[Long] = cond match {
    case LessThanOrEqual(a: Attribute, IntegerLiteral(k)) if a.semanticEquals(rn) => Some(k.toLong)
    case LessThan(a: Attribute, IntegerLiteral(k)) if a.semanticEquals(rn) => Some(k.toLong - 1)
    case GreaterThanOrEqual(IntegerLiteral(k), a: Attribute) if a.semanticEquals(rn) => Some(k.toLong)
    case GreaterThan(IntegerLiteral(k), a: Attribute) if a.semanticEquals(rn) => Some(k.toLong - 1)
    case LessThanOrEqual(a: Attribute, Literal(k: Long, _)) if a.semanticEquals(rn) => Some(k)
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case f @ Filter(cond,
        w @ Window(Seq(alias @ Alias(WindowExpression(_: RowNumber, _), _)), ps, os, child, _))
        if os.nonEmpty && ps.nonEmpty && !child.isInstanceOf[TopKPerKey] =>
      boundFrom(cond, alias.toAttribute) match {
        case Some(k) if k > 0 && k <= Int.MaxValue =>
          f.copy(child = w.copy(child = TopKPerKey(ps, os, k.toInt, child)))
        case _ => f
      }
  }
}
