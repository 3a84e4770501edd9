package graft.queries

import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, EqualNullSafe, EqualTo, Expression, Lag, Lead, NTile, RowNumber, WindowExpression}
import org.apache.spark.sql.catalyst.plans.{Cross, Inner, LeftAnti, LeftOuter, LeftSemi, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Generate, GlobalLimit, Join, LocalLimit, LocalRelation, LogicalPlan, OneRowRelation, Project, Range, Repartition, RepartitionByExpression, Sort, Window => LWindow}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.scalatest.funsuite.AnyFunSuite

/** Class-B robustness sweep (VERDICT r11 item 2): no query may let a
  * LIMIT cut or an order-SENSITIVE window function (row_number, ntile,
  * lead, lag — NOT rank/dense_rank, which are tie-stable) run over a
  * sort axis that cannot break ties deterministically. On a non-unique
  * axis the returned multiset is engine- and input-order-arbitrary:
  * the q11/q02 LIMIT cut split a duplicate-key tie group and q269's
  * row_number assigned arbitrary positions between duplicate rows
  * (lineitem's (l_orderkey, l_linenumber) has 1161 duplicate groups —
  * it is NOT a primary key; fuzz seed 4's stable-set sample caught all
  * three).
  *
  * Mechanism: for every registered query's optimized plan (final plan
  * + ckpt segments), derive UNIQUE attribute sets bottom-up —
  *
  *  - base-table primary keys measured unique in the driver data
  *    (every table except lineitem, which has none);
  *  - grouping keys of an Aggregate (one output row per group);
  *  - global aggregates / OneRowRelation / Range (≤1 row or generated
  *    distinct);
  *  - LocalRelations whose literal rows are pairwise distinct;
  *  - joins: leftUnique ∪ rightUnique identifies the output pair;
  *    semi/anti keep left sets; an equi join whose OTHER side's join
  *    keys contain that side's unique set matches ≤1 row and keeps
  *    this side's sets;
  *  - projections remap identity columns; checkpoint LogicalRDDs
  *    resolve through the audit's `segmentFor` map by output
  *    position —
  *
  * and require each flagged site's (partition ∪ order) references to
  * CONTAIN some unique set of its child. A Sort feeding a Limit is
  * checked the same way; a Limit with no Sort below it must sit over
  * a ≤1-row frame. The final top-level ORDER BY of a query is
  * deliberately NOT checked: the driver hash compares row MULTISETS
  * (canon sorts), so output ordering among full rows is
  * non-contractual — only row SELECTION (limit) and rank-dependent
  * VALUES are.
  *
  * The referenced-attribute check is a sound-for-selection heuristic:
  * ordering by f(key) passes when key is unique even if f is not
  * injective — md5(key) axes are the intended use; a deliberately
  * collapsing f would need the empirical backstop. That backstop
  * exists: `tools/fuzz_oracle.py --permute` replays the full surface
  * on a row-permuted corpus and requires identical outputs (run per
  * close by verify_pass.py).
  *
  * New findings must be FIXED (append a unique tiebreak to the
  * axis in BOTH engines) or consciously added to the
  * [[OrderSweepBaseline]] ratchet; entries that stop firing fail the
  * spec until the baseline is regenerated (the ratchet only
  * tightens).
  *
  * The companion object holds the checker; [[SurfaceAudit]] runs it on
  * each query's audit in the single pass shared with the other sweeps.
  */
object OrderSweepSpec {

  /** Base-table keys measured unique in the driver data (and kept
    * unique by every fuzz redraw, which preserves keys). lineitem has
    * NO unique key — deliberately absent. */
  private val tableKeys = Map(
    "region.parquet" -> "r_regionkey",
    "nation.parquet" -> "n_nationkey",
    "customer.parquet" -> "c_custkey",
    "supplier.parquet" -> "s_suppkey",
    "part.parquet" -> "p_partkey",
    "orders.parquet" -> "o_orderkey",
    "events.parquet" -> "event_id",
    "documents.parquet" -> "doc_id",
    "embeddings.parquet" -> "vec_id")

  private def equiKeys(j: Join): (Set[Long], Set[Long]) = {
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case org.apache.spark.sql.catalyst.expressions.And(a, b) =>
        conjuncts(a) ++ conjuncts(b)
      case x => Seq(x)
    }
    var l = Set.empty[Long]
    var r = Set.empty[Long]
    j.condition.toSeq.flatMap(conjuncts).foreach {
      case eq @ (_: EqualTo | _: EqualNullSafe) =>
        val Seq(a, b) = eq.children
        (a, b) match {
          case (x: Attribute, y: Attribute) =>
            if (j.left.outputSet.contains(x) && j.right.outputSet.contains(y)) {
              l += x.exprId.id; r += y.exprId.id
            } else if (j.left.outputSet.contains(y) && j.right.outputSet.contains(x)) {
              l += y.exprId.id; r += x.exprId.id
            }
          case _ => ()
        }
      case _ => ()
    }
    (l, r)
  }

  /** Attribute-id sets unique in this plan's output (conservative:
    * absence means "could not prove", never "proved duplicate"). */
  private def uniqueSets(
      p: LogicalPlan,
      segmentFor: Map[Int, LogicalPlan]): Seq[Set[Long]] = (p match {
    case lr: LogicalRelation =>
      lr.relation match {
        case fs: HadoopFsRelation =>
          tableKeys.collectFirst {
            case (file, key) if fs.location.rootPaths.exists(_.toString.contains(file)) =>
              lr.output.filter(_.name == key).map(a => Set(a.exprId.id))
          }.getOrElse(Nil)
        case _ => Nil
      }
    case a: Aggregate =>
      if (a.groupingExpressions.isEmpty) Seq(Set.empty[Long])
      else {
        val ids = a.groupingExpressions.map { g =>
          a.aggregateExpressions.collectFirst {
            case at: Attribute if g.semanticEquals(at) => at.exprId.id
            case al @ Alias(c, _) if g.semanticEquals(c) => al.exprId.id
          }
        }
        if (ids.forall(_.isDefined)) Seq(ids.flatten.toSet) else Nil
      }
    case pr: Project =>
      val ident: Map[Long, Long] = pr.projectList.collect {
        case at: Attribute => at.exprId.id -> at.exprId.id
        case al @ Alias(at: Attribute, _) => at.exprId.id -> al.exprId.id
      }.toMap
      uniqueSets(pr.child, segmentFor).flatMap(s =>
        if (s.forall(ident.contains)) Some(s.map(ident)) else None)
    case f: Filter =>
      // a filter that pins a unique set by equality to literals
      // selects AT MOST ONE row — everything is unique there (the ANN
      // family's `vec_id = 0` query-vector slices)
      val pinned: Set[Long] = {
        def conj(e: Expression): Seq[Expression] = e match {
          case org.apache.spark.sql.catalyst.expressions.And(a, b) =>
            conj(a) ++ conj(b)
          case x => Seq(x)
        }
        conj(f.condition).collect {
          case EqualTo(a: Attribute,
            _: org.apache.spark.sql.catalyst.expressions.Literal) =>
            a.exprId.id
          case EqualTo(
            _: org.apache.spark.sql.catalyst.expressions.Literal,
            a: Attribute) => a.exprId.id
        }.toSet
      }
      val below = uniqueSets(f.child, segmentFor)
      if (below.exists(u => u.nonEmpty && u.subsetOf(pinned)))
        Seq(Set.empty[Long])
      else below
    case s: Sort => uniqueSets(s.child, segmentFor)
    case l: GlobalLimit => uniqueSets(l.child, segmentFor)
    case l: LocalLimit => uniqueSets(l.child, segmentFor)
    case r: Repartition => uniqueSets(r.child, segmentFor)
    case r: RepartitionByExpression => uniqueSets(r.child, segmentFor)
    case w: LWindow => uniqueSets(w.child, segmentFor)
    case j: Join =>
      j.joinType match {
        case LeftSemi | LeftAnti => uniqueSets(j.left, segmentFor)
        case _ =>
          val lu = uniqueSets(j.left, segmentFor)
          val ru = uniqueSets(j.right, segmentFor)
          val (lk, rk) = equiKeys(j)
          // a side whose equi keys contain its own unique set matches
          // at most one row per probe: the OTHER side's sets survive.
          // Sound only when that other side's rows cannot ALSO appear
          // null-extended: a FULL (resp. RIGHT for keepL, LEFT for
          // keepR) outer join emits unmatched opposite-side rows with
          // this side's key all-NULL, duplicating it — only the
          // pair-union sets survive there (two null-extended rows
          // still differ in the opposite side's unique columns).
          val lPreservedOnce = j.joinType match {
            case Inner | Cross | LeftOuter => true
            case _ => false
          }
          val rPreservedOnce = j.joinType match {
            case Inner | Cross | RightOuter => true
            case _ => false
          }
          val keepL = if (lPreservedOnce &&
            ru.exists(u => u.nonEmpty && u.subsetOf(rk))) lu else Nil
          val keepR = if (rPreservedOnce &&
            lu.exists(u => u.nonEmpty && u.subsetOf(lk))) ru else Nil
          val pairs = for (a <- lu.take(4); b <- ru.take(4)) yield a ++ b
          (keepL ++ keepR ++ pairs).take(8)
      }
    case g: Generate =>
      // posexplode: (parent unique ∪ ordinal) is unique; plain explode
      // proves nothing
      g.generator match {
        case _: org.apache.spark.sql.catalyst.expressions.PosExplode =>
          val pos = g.generatorOutput.headOption.map(_.exprId.id)
          pos.toSeq.flatMap(pp => uniqueSets(g.child, segmentFor).map(_ + pp))
        case _ => Nil
      }
    case lr: LocalRelation =>
      if (lr.data.nonEmpty && lr.data.size <= 10000 &&
        lr.data.distinct.size == lr.data.size)
        Seq(lr.output.map(_.exprId.id).toSet)
      else if (lr.data.size <= 1) Seq(Set.empty[Long])
      else Nil
    case _: OneRowRelation => Seq(Set.empty[Long])
    // row-multiplying single-child nodes must NOT fall through to the
    // passthrough default: each child row fans out to several output
    // rows, so child unique sets are not unique here
    case _: org.apache.spark.sql.catalyst.plans.logical.Expand => Nil
    case r: Range => Seq(Set(r.output.head.exprId.id))
    case l: LogicalRDD =>
      segmentFor.get(l.rdd.id) match {
        case Some(seg) if seg.output.size == l.output.size =>
          val posMap = seg.output.map(_.exprId.id)
            .zip(l.output.map(_.exprId.id)).toMap
          uniqueSets(seg, segmentFor).flatMap(s =>
            if (s.forall(posMap.contains)) Some(s.map(posMap)) else None)
        case _ => Nil
      }
    case other if other.children.size == 1 =>
      uniqueSets(other.children.head, segmentFor)
    case _ => Nil
  }).distinct.take(8)

  private def provable(
      child: LogicalPlan,
      refs: Set[Long],
      segmentFor: Map[Int, LogicalPlan]): Boolean =
    uniqueSets(child, segmentFor).exists(_.subsetOf(refs)) ||
      // full-row tiebreak (the r11 q11/q02/q269 fix shape): when the
      // axis references EVERY column of the frame, remaining ties are
      // bit-identical rows — any cut or rank assignment among them is
      // multiset-invariant
      child.output.forall(a => refs.contains(a.exprId.id))

  /** This sweep's findings on one query's audit: one line per LIMIT
    * or order-sensitive window in the final plan or a checkpointed
    * segment whose axis is not provably tie-free. */
  def check(a: QueryAudit): Seq[String] = {
    val found = collection.mutable.ArrayBuffer[String]()
    for (lp <- a.plans) {
      // order-sensitive windows
      for (w <- lp.collectWithSubqueries { case ww: LWindow => ww }) {
        val sensitive = w.windowExpressions.flatMap(_.collect {
          case we: WindowExpression => we.windowFunction match {
            case _: RowNumber => Some("row_number")
            case _: NTile => Some("ntile")
            case _: Lead => Some("lead")
            case _: Lag => Some("lag")
            case _ => None
          }
        }).flatten
        if (sensitive.nonEmpty) {
          val refs = (w.partitionSpec ++ w.orderSpec.map(_.child))
            .flatMap(_.references.map(_.exprId.id)).toSet
          if (!provable(w.child, refs, a.segmentFor)) {
            val axis = w.orderSpec.map(_.child.sql).mkString(",")
            found += s"${a.name}: ${sensitive.distinct.mkString("/")} over " +
              s"non-provably-unique axis [$axis]"
          }
        }
      }
      // limits: selection cut must be deterministic
      for (gl <- lp.collectWithSubqueries { case g: GlobalLimit => g }) {
        def findSort(x: LogicalPlan): Option[Sort] = x match {
          case s: Sort => Some(s)
          case l: LocalLimit => findSort(l.child)
          case pr: Project => findSort(pr.child)
          case _ => None
        }
        findSort(gl.child) match {
          case Some(s) =>
            val refs = s.order.flatMap(_.child.references.map(_.exprId.id)).toSet
            if (!provable(s.child, refs, a.segmentFor)) {
              val axis = s.order.map(_.child.sql).mkString(",")
              found += s"${a.name}: LIMIT over non-provably-unique sort [$axis]"
            }
          case None =>
            if (!uniqueSets(gl.child, a.segmentFor).contains(Set.empty[Long]))
              found += s"${a.name}: LIMIT with no Sort below it"
        }
      }
    }
    found.toSeq
  }
}

class OrderSweepSpec extends AnyFunSuite {
  test("limits and order-sensitive windows ride a tie-free axis or are ratchet-baselined") {
    val cur = SurfaceAudit.findings.get.order.toSet
    // dump the current set so regenerating the baseline is a copy,
    // not a log-scrape (tools/regen_sweep_baselines.py)
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("target/order_sweep_current.txt"),
      cur.toSeq.sorted.mkString("", "\n", "\n").getBytes("UTF-8"))
    catch { case _: Throwable => () }
    val added = cur -- OrderSweepBaseline.entries
    val stale = OrderSweepBaseline.entries -- cur
    assert(added.isEmpty,
      s"\nNEW unprovable order-sensitive sites (not in the ratchet " +
        s"baseline):\n${added.toSeq.sorted.mkString("\n")}\n" +
        "Append a unique tiebreak to the axis in BOTH the Spark plan " +
        "and the oracle text, or consciously regenerate " +
        "OrderSweepBaseline in the same commit and say why.")
    assert(stale.isEmpty,
      s"\nstale OrderSweepBaseline entries (no longer fire — " +
        s"regenerate to tighten the ratchet):\n" +
        s"${stale.toSeq.sorted.mkString("\n")}")
  }
}
