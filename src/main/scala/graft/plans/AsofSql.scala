package graft.plans

import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet, Expression, ExpressionInfo, FunctionTableSubqueryArgumentExpression, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.unsafe.types.UTF8String

/** SQL-visible entry point for the [[AsofJoin]] physical operator.
  *
  * The DataFrame API reaches AsofJoinExec through [[Asof.joinKeys]];
  * a pure-SQL user gets there with the table-valued function
  *
  * {{{
  *   SELECT * FROM asof_join(TABLE(clicks), TABLE(quotes),
  *                           'user_id', 'cts', 'qts', 'quote_id')
  * }}}
  *
  * args: left table, right table, comma-separated key column names,
  * left time column, right time column, optional comma-separated
  * right tiebreak columns. Table args accept both `TABLE(v)` syntax
  * and a plain `'view_name'` string literal.
  *
  * Mechanics: the TVF builder runs during analysis, before the table
  * plans resolve, so it plants a BY-NAME placeholder
  * ([[AsofJoinByName]]) whose output derives from the children once
  * the analyzer resolves them; the [[ResolveAsofJoinByName]] rule
  * (an optimizer rule injected by GraftExtensions, like
  * [[RowNumberTopKRewrite]]) then binds the column names to
  * attributes and rewrites to the [[AsofJoin]] node the strategy
  * plans. The placeholder's `references` covers BOTH children's full
  * output so column pruning between analysis and the rewrite cannot
  * strip columns the name binding still needs.
  */
case class AsofJoinByName(
    left: LogicalPlan,
    right: LogicalPlan,
    keys: Seq[String],
    leftTime: String,
    rightTime: String,
    tiebreak: Seq[String]) extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  // block column pruning: the by-name binding happens post-analysis
  override def references: AttributeSet =
    AttributeSet(left.output ++ right.output)
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsofJoinByName =
    copy(left = newLeft, right = newRight)
}

/** Rewrites [[AsofJoinByName]] (planted by the `asof_join` TVF) to
  * the attribute-bound [[AsofJoin]].
  *
  * Self-joins (asof_join(TABLE(v), TABLE(v), ...)): the analyzer's
  * DeduplicateRelations renews the right child's exprIds during
  * analysis — BEFORE this optimizer rule runs — so overlapping child
  * outputs cannot legitimately reach this point. Re-aliasing here
  * (post-analysis) would mint fresh exprIds that parent operators
  * were never resolved against, so an overlap FAILS LOUDLY instead
  * (ADVICE r10: the silent re-alias could dangle downstream
  * references); AsofJoinSpec pins the TABLE(v) self-join path green. */
object ResolveAsofJoinByName extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case AsofJoinByName(lp, rp, keys, lt, rt, tb) =>
      if (lp.outputSet.intersect(rp.outputSet).nonEmpty)
        throw new IllegalStateException(
          "asof_join: left and right sides share attribute ids after " +
            "analysis (self-join dedup did not fire) — alias one side: " +
            "asof_join(TABLE(v), TABLE(SELECT * FROM v), ...)")
      def attr(p: LogicalPlan, n: String, side: String): Attribute =
        p.output.filter(_.name.equalsIgnoreCase(n)) match {
          case Seq(a) => a
          case Seq() => throw new IllegalArgumentException(
            s"asof_join: no column '$n' on the $side side " +
              s"(have ${p.output.map(_.name).mkString(", ")})")
          case dup => throw new IllegalArgumentException(
            s"asof_join: column '$n' is ambiguous on the $side side " +
              s"(${dup.size} matches) — project distinct names first")
        }
      AsofJoin(lp, rp,
        keys.map(attr(lp, _, "left")), keys.map(attr(rp, _, "right")),
        attr(lp, lt, "left"), attr(rp, rt, "right"),
        tb.map(attr(rp, _, "right")))
  }
}

object AsofSql {

  private def tablePlan(e: Expression, pos: String): LogicalPlan = e match {
    case f: FunctionTableSubqueryArgumentExpression => f.plan
    case Literal(s: UTF8String, org.apache.spark.sql.types.StringType) =>
      UnresolvedRelation(Seq(s.toString))
    case other => throw new IllegalArgumentException(
      s"asof_join: $pos argument must be TABLE(...) or a view-name " +
        s"string literal, got $other")
  }

  private def str(e: Expression, pos: String): String = e match {
    case Literal(s: UTF8String, org.apache.spark.sql.types.StringType) => s.toString
    case other => throw new IllegalArgumentException(
      s"asof_join: $pos argument must be a string literal, got $other")
  }

  /** The TVF builder: asof_join(left, right, keysCsv, leftTime,
    * rightTime[, tiebreakCsv]). */
  val builder: Seq[Expression] => LogicalPlan = { args =>
    if (args.length < 5 || args.length > 6)
      throw new IllegalArgumentException(
        "asof_join(left, right, 'k1[,k2…]', 'leftTime', 'rightTime'" +
          "[, 'tb1[,tb2…]']) takes 5 or 6 arguments, got " + args.length)
    AsofJoinByName(
      tablePlan(args(0), "first"), tablePlan(args(1), "second"),
      str(args(2), "keys").split(",").map(_.trim).filter(_.nonEmpty).toSeq,
      str(args(3), "leftTime"), str(args(4), "rightTime"),
      if (args.length == 6)
        str(args(5), "tiebreak").split(",").map(_.trim).filter(_.nonEmpty).toSeq
      else Nil)
  }

  val info = new ExpressionInfo(classOf[AsofJoinByName].getName, "asof_join")
}
