package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BoundReference, Expression, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.graftbridge.Bridge

/** Whole-operator AS-OF JOIN — the second custom LogicalPlan +
  * Strategy + SparkPlan (after [[TopKPerKey]]), for the other shape
  * the built-ins execute poorly: "each left row matched to the
  * LATEST right row at or before its timestamp, per key".
  *
  * The composable formulations all pay something real:
  *  - union + last-value window (q53's relational form): one combined
  *    shuffle+sort of BOTH inputs, plus the union bookkeeping;
  *  - range join: an inequality join explodes to O(matches) pairs
  *    before a per-left-row argmax prunes them back.
  *
  * This operator is the classic sort-merge as-of: both sides
  * co-partition on the key (EnsureRequirements inserts the
  * exchanges + sorts from the declared requirements — nothing is
  * hand-scheduled) and each task does ONE forward pass over the two
  * sorted streams, carrying a single "best right row so far" per key.
  * Per-task state is O(1) rows; nothing is buffered, nothing
  * re-sorted, no pair blow-up. At 100 TB this is the same exchange
  * cost as any shuffled join and strictly less work after it.
  *
  * Semantics: LEFT OUTER as-of — every left row appears once; right
  * columns are null when no right row of the same key has
  * rightTime <= leftTime. Ties on rightTime resolve to the row the
  * child sort placed last — pass a tiebreaker column in
  * `rightTiebreak` to pin that order (the public API threads it).
  */
case class AsofJoin(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    rightTiebreak: Seq[Expression]) extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsofJoin =
    copy(left = newLeft, right = newRight)
}

class AsofJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsofJoin(l, r, lk, rk, lt, rt, tb) =>
      AsofJoinExec(lk, rk, lt, rt, tb, planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

case class AsofJoinExec(
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    rightTiebreak: Seq[Expression],
    left: SparkPlan,
    right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  /** Co-partition both sides on the key; EnsureRequirements inserts
    * compatible exchanges exactly as for a shuffled equi-join. */
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  /** Both streams arrive (key, time)-sorted; the right side adds the
    * caller's tiebreaker so equal-time winners are deterministic. */
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    leftKeys.map(SortOrder(_, Ascending)) :+ SortOrder(leftTime, Ascending),
    rightKeys.map(SortOrder(_, Ascending)) :+ SortOrder(rightTime, Ascending)
      :++ rightTiebreak.map(SortOrder(_, Ascending)))

  /** The merge preserves the left child's order. */
  override def outputOrdering: Seq[SortOrder] = left.outputOrdering
  override def outputPartitioning = left.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    val lKeyExprs = leftKeys; val rKeyExprs = rightKeys
    val lTimeExpr = leftTime; val rTimeExpr = rightTime
    val lOut = left.output; val rOut = right.output
    val outAttrs = output
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyProj = UnsafeProjection.create(lKeyExprs, lOut)
      val rKeyProj = UnsafeProjection.create(rKeyExprs, rOut)
      val lTimeProj = UnsafeProjection.create(Seq(lTimeExpr), lOut)
      val rTimeProj = UnsafeProjection.create(Seq(rTimeExpr), rOut)
      val keyOrd = GenerateOrdering.generate(
        lKeyExprs.zipWithIndex.map { case (e, i) =>
          SortOrder(BoundReference(i, e.dataType, nullable = true), Ascending)
        })
      val timeOrd = GenerateOrdering.generate(
        SortOrder(BoundReference(0, lTimeExpr.dataType, nullable = true), Ascending) :: Nil)

      val nullRight = new GenericInternalRow(rOut.size)
      val joined = new JoinedRow
      val resultProj = UnsafeProjection.create(outAttrs, outAttrs)

      // next unconsumed right row (copied — Unsafe buffers are reused)
      var rRow: InternalRow = null
      var rKey: UnsafeRow = null
      var rTime: UnsafeRow = null
      def advanceRight(): Unit =
        if (rIter.hasNext) {
          rRow = rIter.next().copy()
          rKey = rKeyProj(rRow).copy()
          rTime = rTimeProj(rRow).copy()
        } else { rRow = null; rKey = null; rTime = null }
      advanceRight()

      // latest right row (and its key) at or before the current left time
      var best: InternalRow = null
      var bestKey: UnsafeRow = null

      lIter.map { lRow =>
        val lKey = lKeyProj(lRow)
        val lTime = lTimeProj(lRow)
        // consume right rows that are now usable (key behind, or same
        // key with time <= left time); the last same-key one wins
        var continue = rRow != null
        while (continue) {
          val kc = keyOrd.compare(rKey, lKey)
          if (kc < 0) advanceRight() // can never match a later left key either — drop
          else if (kc == 0 && timeOrd.compare(rTime, lTime) <= 0) {
            best = rRow; bestKey = rKey
            advanceRight()
          } else continue = false
          if (rRow == null) continue = false
        }
        val matched = best != null && keyOrd.compare(bestKey, lKey) == 0
        resultProj(joined(lRow, if (matched) best else nullRight))
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsofJoinExec =
    copy(left = newLeft, right = newRight)
}

/** User-facing API. */
object Asof {
  /** `left ASOF JOIN right` on equal `keys` with
    * `right.rightTimeCol <= left.leftTimeCol`, latest right row wins
    * (ties on the time column resolve by `rightTiebreak` ascending —
    * last one wins). Column names must be disjoint apart from the
    * keys; rename before joining as with any join. Needs a session
    * from [[graft.Harness.session]], whose extensions carry the
    * planner strategy. */
  def join(leftDf: DataFrame, rightDf: DataFrame, keys: Seq[String],
      leftTimeCol: String, rightTimeCol: String,
      rightTiebreak: Seq[String] = Nil): DataFrame =
    joinKeys(leftDf, rightDf, keys, keys, leftTimeCol, rightTimeCol, rightTiebreak)

  /** As [[join]], with per-side key column names (rename-free when the
    * sides already use different names — the join-output columns then
    * stay unambiguous). Keys are matched positionally. */
  def joinKeys(leftDf: DataFrame, rightDf: DataFrame,
      leftKeys: Seq[String], rightKeys: Seq[String],
      leftTimeCol: String, rightTimeCol: String,
      rightTiebreak: Seq[String] = Nil): DataFrame = {
    require(leftKeys.length == rightKeys.length && leftKeys.nonEmpty,
      "asof: need one or more key columns, matched positionally")
    val spark: SparkSession = leftDf.sparkSession
    val lp = Bridge.analyzedPlan(leftDf)
    val rp0 = Bridge.analyzedPlan(rightDf)
    // self-join hygiene: when both sides descend from the same frame
    // they share attribute ids, and downstream rules would attribute a
    // shared id to one side only (the analyzer dedups built-in Joins
    // this way; a custom node must do it itself) — re-alias the right
    // output to fresh ids
    val rp =
      if (lp.outputSet.intersect(rp0.outputSet).isEmpty) rp0
      else org.apache.spark.sql.catalyst.plans.logical.Project(
        rp0.output.map(a =>
          org.apache.spark.sql.catalyst.expressions.Alias(a, a.name)()), rp0)
    def attr(p: LogicalPlan, n: String, side: String): Attribute =
      p.output.find(_.name == n).getOrElse(throw new IllegalArgumentException(
        s"asof: no column '$n' on the $side side (have ${p.output.map(_.name).mkString(", ")})"))
    val node = AsofJoin(lp, rp,
      leftKeys.map(attr(lp, _, "left")), rightKeys.map(attr(rp, _, "right")),
      attr(lp, leftTimeCol, "left"), attr(rp, rightTimeCol, "right"),
      rightTiebreak.map(attr(rp, _, "right")))
    Bridge.ofRows(spark, node)
  }
}
