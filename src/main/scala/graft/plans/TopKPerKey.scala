package graft.plans

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BindReferences, Descending, Expression, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.graftbridge.Bridge

/** Whole-operator top-k-per-key — the custom LogicalPlan + Strategy +
  * SparkPlan path (builder prompt preference (c)), for the one shape
  * the built-ins genuinely don't execute well: "k best rows per key"
  * via `row_number().over(Window...)` must SORT every partition's full
  * group data before it can filter rn <= k.
  *
  * This operator never sorts the data: each task keeps a bounded
  * binary heap of k rows per key. Shuffle traffic after the partial
  * pass is ≤ k rows per (key, input partition) instead of the whole
  * input — at 100 TB, the difference between shuffling terabytes and
  * megabytes. Plan shape:
  *
  *   TopKPerKeyExec(final, requires ClusteredDistribution(keys))
  *     +- Exchange hashpartitioning(keys)        [EnsureRequirements]
  *        +- TopKPerKeyExec(partial)             [map-side prune to k]
  *           +- child
  *
  * Output row order within a key is unspecified (like any aggregate) —
  * callers ORDER BY for presentation.
  *
  * Memory contract: each task holds ≤ k rows per DISTINCT KEY seen in
  * its partition, in a plain on-heap map with no spill integration.
  * That is the right trade for grouped top-k (keys ≪ rows); for
  * near-unique keys (where top-k degenerates to a plain sort) the
  * built-in window path with its spilling external sort is the correct
  * operator — don't rewrite those.
  */
case class TopKPerKey(
    keys: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    child: LogicalPlan) extends UnaryNode {
  require(k > 0, "k must be positive")
  override def output: Seq[Attribute] = child.output
  // QueryPlan.expressions auto-collects `keys` and `order` from the
  // constructor, so the analyzer resolves UnresolvedAttributes in both
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKey =
    copy(child = newChild)
}

class TopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKey(keys, order, k, child) =>
      TopKPerKeyExec(keys, order, k, partial = false,
        TopKPerKeyExec(keys, order, k, partial = true, planLater(child))) :: Nil
    case _ => Nil
  }
}

case class TopKPerKeyExec(
    keys: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    partial: Boolean,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output
  override def outputPartitioning = child.outputPartitioning

  /** The final pass must see all candidates of a key together; the
    * partial pass runs wherever the data already is. */
  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) UnspecifiedDistribution :: Nil
    else ClusteredDistribution(keys) :: Nil

  override protected def doExecute(): RDD[InternalRow] = {
    val keyExprs = keys
    val sortExprs = order
    val kk = k
    child.execute().mapPartitions { iter =>
      val keyProj = UnsafeProjection.create(keyExprs, child.output)
      val ord = GenerateOrdering.generate(
        sortExprs.map(BindReferences.bindReference(_, child.output)))
      // min-heap keyed by "worst of the kept": head is the first row
      // to evict. ord sorts best-first, so the heap comparator flips.
      val worstFirst = new java.util.Comparator[InternalRow] {
        override def compare(a: InternalRow, b: InternalRow): Int = ord.compare(b, a)
      }
      val heaps = mutable.HashMap.empty[UnsafeRow, java.util.PriorityQueue[InternalRow]]
      while (iter.hasNext) {
        val row = iter.next()
        val key = keyProj(row)
        heaps.get(key) match {
          case None =>
            val h = new java.util.PriorityQueue[InternalRow](kk, worstFirst)
            h.add(row.copy())
            heaps.put(key.copy(), h)
          case Some(h) =>
            if (h.size < kk) h.add(row.copy())
            else if (ord.compare(row, h.peek()) < 0) { h.poll(); h.add(row.copy()) }
        }
      }
      import scala.jdk.CollectionConverters._
      heaps.valuesIterator.flatMap(_.iterator().asScala)
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyExec =
    copy(child = newChild)
}

/** User-facing API. */
object TopK {
  /** Top-k rows per key, ordered by `orderCol` (desc by default).
    * Needs a session from [[graft.Harness.session]], whose extensions
    * carry the planner strategy. */
  def perKey(df: DataFrame, keyCols: Seq[String], orderCol: String, k: Int,
      descending: Boolean = true): DataFrame = {
    val spark: SparkSession = df.sparkSession
    val direction = if (descending) Descending else Ascending
    val node = TopKPerKey(
      keyCols.map(UnresolvedAttribute(_)),
      SortOrder(UnresolvedAttribute(orderCol), direction) :: Nil,
      k,
      Bridge.analyzedPlan(df))
    Bridge.ofRows(spark, node)
  }
}
