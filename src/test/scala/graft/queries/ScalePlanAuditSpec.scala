package graft.queries

import graft.TestSpark
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, RepartitionByExpression}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.LogicalRDD
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape audits for the ScaleRank conversions: the point of the
  * two-level rewrite is that NO stage sorts an unbounded row set in
  * one task. A SinglePartition exchange feeding a Sort or Window over
  * the FACT-SIZED side would silently reintroduce the bottleneck; the
  * only single-partition work allowed is over bounded frames (the
  * <= P-per-group offset tables, final <= |groups|-row reports). The
  * assertion: every converted plan carries the range repartition
  * (the chunking mechanism) and its windows partition by the chunk id,
  * never by a bare bounded-cardinality business key.
  */
class ScalePlanAuditSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def plan(q: graft.QueryDef): String =
    q.build(spark, dir).queryExecution.executedPlan.toString

  // (query, bounded business key that must NOT be a window partition on its own)
  private val converted = Seq(
    (graft.operators.Segmentation.q119Rfm, "rec_days"),
    (graft.operators.DataProfile.q129EquiDepth, "pri"),
    (graft.operators.Segmentation.q133Gini, "cents"),
    (graft.operators.EventOps.q138PeakConcurrency, "delta"),
    (CoreQueries.q144WeightedMedian, "cents"),
    (graft.operators.DataProfile.q172MadOutliers, "v"),
    (graft.operators.Forecast.q187TheilSen, "slope"),
    (graft.operators.FinanceAudit.q189ParetoAbc, "cents"),
    (graft.operators.Layout.q93ZOrder, "zv"),
    (graft.operators.DataProfile.q136GapRanges, "key"),
    (graft.operators.Layout.q205ZonemapPrune, "sd"),
    // round-6 ScaleRank riders: conformal's order statistic and the
    // compaction planner's streaming-fill cumulative sums
    (graft.operators.Learn.q235Conformal, "s"),
    (graft.operators.Layout.q237Compaction, "doc_id"))

  /** The optimized plan plus, recursively, the segment behind each of
    * its checkpoint leaves: the range repartition of the two-level
    * scheme sits below `rangedWithPid`'s checkpoint. */
  private def withSegments(q: graft.QueryDef): Seq[LogicalPlan] = {
    def expand(p: LogicalPlan): Seq[LogicalPlan] =
      p +: p.collect { case l: LogicalRDD => l }
        .flatMap(l => graft.Ckpt.segmentFor(l.rdd.id).toSeq.flatMap(expand))
    expand(graft.Ckpt.withAudit(q.build(spark, dir).queryExecution.optimizedPlan)._1)
  }

  test("converted queries range-chunk their rank/prefix stage") {
    for ((q, _) <- converted) {
      val plans = withSegments(q)
      val ranged = plans.exists(_.exists {
        case r: RepartitionByExpression => r.partitioning.isInstanceOf[RangePartitioning]
        case _ => false
      })
      assert(ranged,
        s"${q.name}: no range repartition in plan — the two-level chunking is gone:\n${plans.head}")
      assert(plans.exists(_.toString.contains("__sr_pid")),
        s"${q.name}: no chunk-id column in plan — local stage not keyed by chunk")
    }
  }

  test("the bounded-key top-k windows all plant the TopKPerKey heap prune") {
    // q22's 200-gram profile and q89's per-lang weighted reservoir
    // filter a single row_number over a 5-value lang key: safe ONLY
    // because the rewrite turns them into map-side heaps — pin that
    // it fires
    for (q <- Seq(graft.operators.TextAnalysis.q22LangId,
                  graft.operators.TextAnalysis.q89WeightedSample)) {
      // audit mode: bypass FrameCache (a memoized confusion frame
      // built by an earlier suite would hide q22's lineage — the
      // rewrite then lives in a checkpointed SEGMENT, not the final
      // plan) and sweep final plan + all segments, like PlanSweepSpec
      val (finalPlan, segments) = graft.Ckpt.withAudit {
        q.build(spark, dir).queryExecution.optimizedPlan
      }
      val all = (finalPlan +: segments).map(_.toString)
      assert(all.exists(_.contains("TopKPerKey")),
        s"${q.name}: bounded-key rn<=k window not rewritten:\n${all.head}")
    }
  }

  test("q155 plans its top-20 as TakeOrdered, never a global sort") {
    val p = plan(graft.operators.Graph.q155LinkPredict)
    assert(p.contains("TakeOrdered"),
      s"q155: top-k fell back to a global Sort+Limit:\n$p")
  }

  test("q197/q200 top-50 cuts are TakeOrdered heaps, and q193 windows only the day axis") {
    for (q <- Seq(graft.operators.TextAnalysis.q197Keyness,
                  graft.operators.TextAnalysis.q200Burstiness)) {
      val p = plan(q)
      assert(p.contains("TakeOrdered"),
        s"${q.name}: top-50 fell back to a global Sort+Limit:\n$p")
    }
    // q193's single-partition window is legal ONLY because the input
    // is the day-grain aggregate (calendar-bounded): assert the
    // partial/final day aggregate sits BELOW the window
    val p = plan(graft.operators.FinanceAudit.q193Drawdown)
    val winIdx = p.linesIterator.indexWhere(_.contains("Window"))
    val aggIdx = p.linesIterator.indexWhere(_.contains("HashAggregate"))
    assert(winIdx >= 0 && aggIdx > winIdx,
      s"q193: no day-grain aggregate below the window — the equity " +
        s"window would sort facts, not days:\n$p")
    assert(p.contains("TakeOrdered"),
      s"q193: top-10 drawdown fell back to a global Sort+Limit:\n$p")
  }

  test("q220 never plans a windowed count-distinct: both distincts are aggregates") {
    // the stickiness rewrite exists to avoid count(DISTINCT) OVER a
    // sliding frame (unbounded state per window); the plan must show
    // plain aggregates only — any Window node means the rewrite rotted
    val p = plan(graft.operators.EventOps.q220Stickiness)
    assert(!p.contains("Window"),
      s"q220: a window operator appeared — sliding count-distinct is back:\n$p")
    assert(p.contains("HashAggregate") || p.contains("SortAggregate"),
      s"q220: no aggregate in plan:\n$p")
  }

  test("q214's register builds bottom-up: day roots aggregate before month roots") {
    // two stacked aggregates (day grain, then month grain), never a
    // single collect of the whole ledger
    val p = plan(graft.operators.FinanceAudit.q214LedgerRegister)
    val aggs = p.linesIterator.count(l => l.contains("ObjectHashAggregate") ||
      l.contains("SortAggregate") || l.contains("HashAggregate"))
    assert(aggs >= 2, s"q214: expected stacked day->month aggregates:\n$p")
  }

  test("q201's QI aggregate reuses one exchange for sizes, totals, and the risk rollup") {
    // the group-size table g feeds both the 1-row totals and the
    // per-k report; neither path may rescan the customer fact
    val p = plan(graft.operators.Privacy.q201KAnonymity)
    val scans = p.linesIterator.count(l =>
      l.contains("Scan parquet") || l.contains("FileScan"))
    assert(scans <= 2,
      s"q201: expected the customer scan at most twice (sizes + totals " +
        s"reuse), got $scans:\n$p")
  }

  test("q156's two arg-windows and the bar aggregate share one hash exchange") {
    val p = plan(graft.operators.EventOps.q156OhlcBars)
    val hashEx = p.linesIterator
      .filter(l => l.contains("Exchange hashpartitioning")).toSeq
    assert(hashEx.size == 1,
      s"q156: expected ONE hash exchange on (event_type, bkt), got ${hashEx.size}:\n" +
        hashEx.mkString("\n"))
  }

  test("q162 containment is an equi hash join on the compacted span key") {
    val p = plan(graft.operators.Dedup.q162Containment)
    assert(!p.contains("CartesianProduct"),
      s"q162: quadratic pair join:\n$p")
    assert(!p.contains("BroadcastNestedLoop"),
      s"q162: nested-loop pair join:\n$p")
    // the hot-key prune must stay a broadcast anti-join, never a
    // shuffle of the span stream
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"q162: DF-cap prune is not a broadcast anti-join:\n$p")
  }

  test("q163 scans the fact table once: the day axis is materialized for both join sides") {
    val p = plan(graft.operators.EventOps.q163Acf)
    // daily is localCheckpointed — the executed plan joins two
    // ExistingRDD reads of the SAME materialized day table; a parquet
    // scan in the plan means a side re-derived the fact aggregate
    assert(!p.contains("parquet"),
      s"q163: a join side re-scans orders instead of reusing the day axis:\n$p")
  }

  test("q164's single-partition KM scan runs over the aggregated day axis, not events") {
    val p = plan(graft.operators.EventOps.q164Survival)
    // exactly one EXPLICIT single-partition repartition — the bounded
    // lifetime-day frame feeding the sequential KM scan (the other
    // SinglePartition exchanges are 1-row global-aggregate reductions)
    val explicit = p.linesIterator
      .count(l => l.contains("Exchange SinglePartition") && l.contains("REPARTITION_BY_NUM"))
    assert(explicit == 1,
      s"q164: expected ONE explicit SinglePartition repartition, got $explicit:\n$p")
    // and the day-axis aggregation must exist below it: the fact rows
    // were collapsed per lifetime day before any single-task stage
    assert(p.contains("HashAggregate(keys=[t#"),
      s"q164: no per-day aggregate before the sequential scan:\n$p")
  }

  test("q169's final plan is the driver-folded result — no corpus rescan") {
    // the Gram pass collects its 4096-cell constant frame and the
    // power rounds happen in driver BigInt arithmetic, so the final
    // plan must be a local result, never a second corpus scan
    val p = plan(graft.operators.Linalg.q169PcaPower)
    assert(!p.contains("parquet"),
      s"q169: final plan rescans the corpus:\n$p")
    assert(p.contains("ExistingRDD") || p.contains("LocalTableScan"),
      s"q169: no materialized frame in plan:\n$p")
  }

  test("every ScaleRank window partitions by the chunk id, not a bare bounded key") {
    for ((q, sortKey) <- converted) {
      val p = plan(q)
      // the window over the fact-sized side must include __sr_pid in
      // its partition spec; windows without it are only the bounded
      // offset frames (partitioned by pid-count rows per group)
      val windowSpecs = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
      val factWindows = windowSpecs.filter(_.contains(sortKey))
      assert(factWindows.forall(_.contains("__sr_pid")),
        s"${q.name}: a fact-side window over '$sortKey' lacks the chunk id:\n" +
          factWindows.mkString("\n"))
    }
  }
}
