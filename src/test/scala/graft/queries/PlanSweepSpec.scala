package graft.queries

import graft.TestSpark
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, BinaryComparison, Cast, EqualNullSafe, EqualTo, Expression, In, InSet, IsNotNull, IsNull, Literal, Not, Or, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, GlobalLimit, Join, LeafNode, LocalLimit, LocalRelation, LogicalPlan, OneRowRelation, Repartition, RepartitionByExpression, Window => LWindow}
import org.apache.spark.sql.catalyst.plans.logical.{HintInfo, BROADCAST}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.LogicalRDD
import org.scalatest.funsuite.AnyFunSuite

/** The mechanized version of the per-query scale audit: sweep EVERY
  * registered query's optimized plan — including the plan of every
  * checkpointed lineage segment, via `Ckpt.withAudit` (the r6 q245
  * blind spot: subtrees below an eager localCheckpoint are otherwise
  * invisible) — and flag the shapes that kill a 100 TB run:
  *
  *  - a logical Window with an EMPTY partition spec (plans as "move
  *    everything to one task, sort it there"), unless its order axis
  *    is an adjudicated-bounded frame (see the allowlist);
  *  - an explicit 1-partition repartition/coalesce anywhere except a
  *    bounded frame;
  *  - a BROADCAST join hint whose hinted side is RAW data — reaches a
  *    scan leaf with no Aggregate or Limit compressing it on the way
  *    (the r6 q291 shape: `broadcast(wholeTable.select(...))` is an
  *    OOM at scale no matter how small the test data is);
  *  - a join with NO equi keys (cross, or θ-only condition) where BOTH
  *    sides are raw data — O(N·M) work that no partitioning saves.
  *
  * Boundedness cannot be decided mechanically, so the allowlist is
  * explicit and REQUIRED to stay exercised: an entry no query uses
  * fails the spec too (rot in either direction is caught). Window
  * entries match the order-by expression string; broadcast / non-equi
  * entries use the patterns "broadcast" / "nonequi".
  *
  * What this deliberately does NOT flag: global Sort (plans as a
  * range-partitioned distributed sort), Limit/TakeOrdered heaps,
  * SinglePartition exchanges under 1-row global aggregates, broadcast
  * of aggregated/limited frames (compressed to key-domain or literal-k
  * size), and equi-joins — all distributed or bounded by construction.
  */
class PlanSweepSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  /** Order-axis substrings that are bounded by construction wherever
    * they appear (machinery-internal frames). */
  private val globallyBounded = Seq(
    // ScaleRank/heads-tails chunk-offset frames: <= P rows per group,
    // P = shuffle parallelism — bounded by the cluster, not the data
    "__sr_pid")

  private def axisMatches(axis: String, ax: String): Boolean =
    if (ax.startsWith("^")) axis.startsWith(ax.drop(1))
    else axis.contains(ax)

  private def allow(q: String, axis: String): Option[String] =
    PlanSweepAllowlist.entries.collectFirst {
      case (qq, ax, why) if qq == q && axisMatches(axis, ax) => why
    }

  /** A filter that selects a literal-bounded slice: SOME top-level
    * conjunct references exactly one column and compares it only
    * against literals — the `vec_id = 0` / `vec_id < NQUERY`
    * query-set selections of the ANN family (extra conjuncts, e.g.
    * planner-added isnotnull(f(x)), only shrink further). Any
    * function call (md5, pmod, hash …) inside the conjunct
    * disqualifies it: those are FRACTION-of-data samples and still
    * scale. The rule is deliberately permissive on non-key columns
    * (`price < 100` would pass too); what it can never excuse is the
    * q291 class — a whole-table broadcast with no filter at all. */
  private def literalSlice(f: Filter): Boolean =
    conjuncts(f.condition).exists { c =>
      c.references.size == 1 &&
        c.find {
          case _: Attribute | _: Literal => false
          case _: BinaryComparison | _: In | _: InSet => false
          case _: And | _: Or | _: Not | _: IsNull | _: IsNotNull | _: Cast => false
          case _ => true
        }.isEmpty &&
        // must actually COMPARE against a literal — a bare isnotnull
        // conjunct bounds nothing
        c.exists {
          case _: BinaryComparison | _: In | _: InSet => true
          case _ => false
        }
    }

  /** The two fixed-cardinality dimension tables (5 regions, 25
    * nations — literal domains that do not grow with SF). */
  private def fixedDim(lr: LogicalRelation): Boolean = lr.relation match {
    case fs: HadoopFsRelation =>
      fs.location.rootPaths.exists { p =>
        val s = p.toString
        s.contains("region.parquet") || s.contains("nation.parquet")
      }
    case _ => false
  }

  /** True iff some root→leaf path reaches a data scan with nothing
    * compressing it on the way: no Aggregate (grouped aggregates
    * collapse to key-domain size), no Limit, no literal-slice Filter,
    * and not a LocalRelation/OneRowRelation/fixed-dim leaf.
    * LogicalRDD (a checkpointed segment) counts as BOUNDED here
    * because the segment's own plan is recorded by `Ckpt.withAudit`
    * and swept separately — raw data broadcast inside it is flagged
    * there, at the point where the shape is actually built. */
  private def rawData(p: LogicalPlan): Boolean = p match {
    case _: GlobalLimit | _: LocalLimit => false
    case _: Aggregate => false
    case f: Filter if literalSlice(f) => false
    case _: LocalRelation | _: OneRowRelation => false
    // spark.range(n): literal bound known at plan time — an axis
    // frame, not data
    case _: org.apache.spark.sql.catalyst.plans.logical.Range => false
    case _: LogicalRDD => false
    case lr: LogicalRelation if fixedDim(lr) => false
    case _: LeafNode => true
    case other => other.children.exists(rawData)
  }

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(a, b) => conjuncts(a) ++ conjuncts(b)
    case x => Seq(x)
  }

  /** A grouping expression whose value domain is pinned by the
    * calendar rather than the data: date/timestamp-typed, or derived
    * from a date/timestamp attribute (year(d), datediff(d, lit), …).
    * Everything else — doc lengths, cents, tokens — grows with the
    * data and needs an adjudicated bound when it keys a θ-join side. */
  private def calendarType(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt == org.apache.spark.sql.types.DateType ||
      dt == org.apache.spark.sql.types.TimestampType ||
      dt == org.apache.spark.sql.types.TimestampNTZType
  private def calendarKey(e: Expression): Boolean =
    calendarType(e.dataType) ||
      e.references.exists(a => calendarType(a.dataType))

  /** The q385 blind spot (VERDICT r8 item 2): a θ-join side that is an
    * Aggregate keyed on a non-literal, non-calendar expression — its
    * row count is the key's distinct-value DOMAIN, which for keys like
    * raw document length grows with the data, making the θ-join
    * O(|D|²). Walks the same compression-aware path as [[rawData]],
    * but descends THROUGH checkpoint LogicalRDD leaves via
    * `Ckpt.segmentFor` (the pre-fix q385 shape θ-joined two ckpt'd
    * aggregates, invisible to any leaf-level classification). Returns
    * the offending grouping keys. */
  private[queries] def dataDomainAggKey(p: LogicalPlan): Option[String] = p match {
    case _: GlobalLimit | _: LocalLimit => None
    case f: Filter if literalSlice(f) => None
    case _: LocalRelation | _: OneRowRelation => None
    case _: org.apache.spark.sql.catalyst.plans.logical.Range => None
    case lr: LogicalRelation if fixedDim(lr) => None
    case l: LogicalRDD =>
      graft.Ckpt.segmentFor(l.rdd.id).flatMap(dataDomainAggKey)
    case a: Aggregate =>
      // partition-id keys (ScaleRank's __sr_pid machinery) are bounded
      // by the cluster's parallelism, not the data — same rationale as
      // the globallyBounded window-axis list
      def pidBounded(g: Expression): Boolean =
        g.find {
          case _: org.apache.spark.sql.catalyst.expressions.SparkPartitionID =>
            true
          case _ => false
        }.nonEmpty || g.references.exists(_.name.startsWith("__sr_"))
      // the optimizer hoists computed grouping keys into a Project
      // below the Aggregate and keys on the bare alias attribute
      // (`_groupingexpression#N`) — resolve it back to the defining
      // expression so calendar-derived keys (datediff(date, lit) etc.)
      // classify by what they compute, not by their long-typed alias
      lazy val aliasDefs: Map[Long, Expression] = a.child.collect {
        case n => n
      }.flatMap(_.expressions).flatMap(_.collect {
        case al: org.apache.spark.sql.catalyst.expressions.Alias =>
          al.exprId.id -> al.child
      }).toMap
      def resolve(e: Expression, depth: Int = 0): Expression =
        if (depth >= 4) e
        else e.transformDown {
          case attr: Attribute if aliasDefs.contains(attr.exprId.id) =>
            resolve(aliasDefs(attr.exprId.id), depth + 1)
        }
      val bad = a.groupingExpressions.map(g => resolve(g)).filter(g =>
        !g.foldable && !calendarKey(g) && !pidBounded(g))
      if (bad.nonEmpty) Some(bad.map(_.sql).mkString(",")) else None
    case _: LeafNode => None
    case other => other.children.flatMap(dataDomainAggKey).headOption
  }

  /** An equi key usable for hash/sort-merge partitioning: a top-level
    * conjunct `l = r` with one side referencing only the left child
    * and the other only the right. */
  private def hasEquiKey(j: Join): Boolean = j.condition.exists { c =>
    conjuncts(c).exists {
      case eq @ (_: EqualTo | _: EqualNullSafe) =>
        val Seq(a, b) = eq.children
        (a.references.subsetOf(j.left.outputSet) &&
          b.references.subsetOf(j.right.outputSet)) ||
          (a.references.subsetOf(j.right.outputSet) &&
            b.references.subsetOf(j.left.outputSet))
      case _ => false
    }
  }

  private def isBroadcast(h: Option[HintInfo]): Boolean =
    h.exists(_.strategy.contains(BROADCAST))

  test("no query plans an unbounded single-partition, broadcast-raw, or non-equi shape") {
    val unusedAllow = collection.mutable.Set(
      PlanSweepAllowlist.entries.map(e => (e._1, e._2)): _*)
    val offenders = collection.mutable.ArrayBuffer[String]()
    def adjudicate(q: String, pattern: String, offence: => String): Unit =
      allow(q, pattern) match {
        case Some(_) =>
          PlanSweepAllowlist.entries
            .filter(e => e._1 == q && axisMatches(pattern, e._2))
            .foreach(e => unusedAllow.remove((e._1, e._2)))
        case None => offenders += offence
      }
    for (q <- graft.SparkEntry.defs) {
      // audit mode: the final plan PLUS the optimized plan of every
      // checkpointed lineage segment (disabling checkpoints instead
      // would double iterative plans per iteration — unusable)
      val (finalPlan, segments) = graft.Ckpt.withAudit {
        q.build(spark, dir).queryExecution.optimizedPlan
      }
      for (lp <- finalPlan +: segments) {
        val windows = lp.collectWithSubqueries {
          case w: LWindow if w.partitionSpec.isEmpty => w
        }
        for (w <- windows) {
          val axis = w.orderSpec.collect { case s: SortOrder => s.child.toString }
            .mkString(",")
          if (!globallyBounded.exists(axis.contains))
            adjudicate(q.name, axis, s"${q.name}: global window over [$axis]")
        }
        val rep1 = lp.collectWithSubqueries {
          case r: Repartition if r.numPartitions == 1 => r: LogicalPlan
          case r: RepartitionByExpression if r.optNumPartitions.contains(1) =>
            r: LogicalPlan
        }
        for (_ <- rep1)
          adjudicate(q.name, "repartition(1)",
            s"${q.name}: explicit 1-partition repartition")
        val joins = lp.collectWithSubqueries { case j: Join => j }
        for (j <- joins) {
          if (isBroadcast(j.hint.leftHint) && rawData(j.left))
            adjudicate(q.name, "broadcast",
              s"${q.name}: broadcast hint over raw data (left: ${j.left.nodeName})")
          if (isBroadcast(j.hint.rightHint) && rawData(j.right))
            adjudicate(q.name, "broadcast",
              s"${q.name}: broadcast hint over raw data (right: ${j.right.nodeName})")
          if (!hasEquiKey(j) && rawData(j.left) && rawData(j.right))
            adjudicate(q.name, "nonequi",
              s"${q.name}: non-equi ${j.joinType} join, both sides raw")
          if (!hasEquiKey(j)) {
            // the q385 shape: θ-join where a side is an Aggregate
            // keyed on a data-dependent domain AND the other side is
            // not literal-bounded either — O(|A|·|B|) pairs with both
            // factors data-dependent. (A keyed frame crossed with a
            // 1-row global aggregate is |A|·1: fine, not flagged.)
            val lk = dataDomainAggKey(j.left)
            val rk = dataDomainAggKey(j.right)
            val lUnbounded = lk.nonEmpty || rawData(j.left)
            val rUnbounded = rk.nonEmpty || rawData(j.right)
            if ((lk.nonEmpty || rk.nonEmpty) && lUnbounded && rUnbounded &&
                !(rawData(j.left) && rawData(j.right))) // both-raw: flagged above
              adjudicate(q.name, "nonequi-agg",
                s"${q.name}: non-equi ${j.joinType} join over data-domain " +
                  s"aggregates [${lk.getOrElse("raw")} × ${rk.getOrElse("raw")}]")
          }
        }
      }
    }
    assert(offenders.isEmpty,
      s"unadjudicated scale-hostile shapes:\n${offenders.distinct.mkString("\n")}")
    assert(unusedAllow.isEmpty,
      s"allowlist entries no longer exercised (stale adjudications):\n" +
        unusedAllow.mkString("\n"))
  }

  test("detector teeth: the pre-fix q385 shape (θ-join of ckpt'd data-domain aggregates) is flagged") {
    import org.apache.spark.sql.functions._
    val f = spark.range(100).selectExpr("id AS doc_id", "id % 37 AS len")
    val (join, _) = graft.Ckpt.withAudit {
      val d = graft.CkptOps(
        f.groupBy(col("len").as("v")).agg(count(lit(1)).as("c"))).ckpt()
      d.select(col("v").as("va"), col("c").as("ca"))
        .join(d.select(col("v").as("vb"), col("c").as("cb")),
          col("vb") <= col("va"))
        .queryExecution.optimizedPlan
    }
    val thetaJoins = join.collectWithSubqueries { case j: Join => j }
      .filterNot(hasEquiKey)
    assert(thetaJoins.nonEmpty, "toy build lost its θ-join")
    assert(thetaJoins.exists(j =>
      dataDomainAggKey(j.left).nonEmpty || dataDomainAggKey(j.right).nonEmpty),
      "the q385 blind-spot shape walked through the detector again")
  }
}

/** The adjudicated-bounded frames: (query, pattern, why). Window
  * entries: pattern matches the order-axis string ('^' anchors to the
  * first sort attribute). "repartition(1)" / "broadcast" / "nonequi"
  * adjudicate those offence classes for the query. Each "why" must
  * name the bound that keeps the shape safe at scale. */
object PlanSweepAllowlist {
  val entries: Seq[(String, String, String)] = Seq(
    ("q78_sorted_neighborhood", "snkey",
      "heads/tails boundary subset: <= 2*W*partitions rows, bounded by parallelism"),
    ("q136_gap_ranges", "lo#",
      "heads/tails boundary subset at W=1: <= 2*partitions island rows"),
    ("q112_vocab_coverage", "tok",
      "input is the TakeOrdered top-200 token slice (literal k)"),
    ("q180_zipf", "tok",
      "input is the TakeOrdered top-200 token slice (literal k)"),
    ("q160_hybrid_rrf", "doc_id",
      "both rank windows run over TakeOrdered top-50 slices (literal k)"),
    ("q148_vocab_growth", "bucket",
      "decile axis: 10 literal corpus-growth buckets"),
    ("q190_heaps_law", "bucket",
      "vigintile axis: 20 literal corpus-growth buckets"),
    ("q186_benford", "",
      "digit axis: 9 leading-digit rows (literal domain)"),
    ("q118_cumulative_uniques", "d#",
      "day-grain aggregate below the window: calendar-bounded axis"),
    ("q178_cusum", "d#",
      "day-grain aggregate below the window: calendar-bounded axis"),
    ("q219_slo_burn", "day",
      "day-grain aggregate below the window: calendar-bounded axis"),
    ("q193_drawdown", "day",
      "day-grain aggregate below the window (pinned in ScalePlanAuditSpec)"),
    ("q218_weekly_kpi", "wk",
      "week-grain aggregate below the window: calendar-bounded axis"),
    ("q164_survival", "repartition(1)",
      "sequential KM scan over the aggregated lifetime-day axis " +
        "(pinned in ScalePlanAuditSpec)"),
    ("q245_changepoint", "day",
      "day-grain aggregate below the (audit-visible) eager checkpoint: " +
        "calendar-bounded axis — the r6 blind spot, now swept via Ckpt.withAudit"),
    ("q80_merge_upsert", "broadcast",
      "updates side models a CDC batch — bounded by the arrival window, " +
        "not the base table; the orderkey%10 filter is the test-data stand-in"),
    ("q239_hits", "^a#",
      "authority rank window runs over the TakeOrdered top-10 slice (literal k)"),
    ("q239_hits", "^h#",
      "hub rank window runs over the TakeOrdered top-10 slice (literal k)"),
    ("q282_decayed_topk", "dmass",
      "leaderboard rank window runs over the TakeOrdered top-10 slice " +
        "(literal k); the all-time rank rides ScaleRank"),
    ("q314_tail_index", "^cents",
      "Hill rank window runs over the TakeOrdered top-201 slice (literal k)"),
    ("q330_token_budget", "quality_ppm",
      "greedy fill runs over the |sources| aggregate frame (source-domain " +
        "bounded, below a groupBy)"),
    ("q339_largest_remainder", "rem",
      "remainder rank runs over the |nations| aggregate frame " +
        "(nation-domain bounded, below a groupBy)"),
    ("q345_knapsack_mix", "source",
      "item ranking runs over the |sources| aggregate frame " +
        "(source-domain bounded, below a groupBy)"),
    ("q345_knapsack_mix", "density",
      "greedy fill runs over the |sources| aggregate frame " +
        "(source-domain bounded, below a groupBy)"),
    ("q348_ransac_consensus", "^h#",
      "seed pairing window runs over the TakeOrdered 32-row md5 slice " +
        "(literal k — the q112/q130 shape)"),
    ("q352_var_es", "^d#",
      "day-over-day lag window: calendar-bounded day axis"),
    ("q352_var_es", "^l#",
      "loss rank/prefix windows over the calendar-bounded day-P&L frame"),
    ("q355_burst_intervals", "repartition(1)",
      "sequential min-plus DP over the aggregated day axis " +
        "(calendar-bounded, the q164 shape)"),
    ("q355_burst_intervals", "^rn#",
      "island extraction over the calendar-bounded labeled day frame"),
    ("q357_pot_gpd", "^d#",
      "day-over-day lag window: calendar-bounded day axis"),
    ("q357_pot_gpd", "^l#",
      "loss rank window over the calendar-bounded day-P&L frame"),
    ("q360_diebold_mariano", "^d#",
      "both forecast lags ride one window over the calendar-bounded " +
        "day axis"),
    ("q365_hedge_regret", "repartition(1)",
      "sequential multiplicative-weights scan over the time-span-bounded " +
        "hour grid (the q355/q164 shape)"),
    ("q375_ucb_regret", "repartition(1)",
      "sequential UCB1 bandit replay over the time-span-bounded hour " +
        "grid (the q365 shape)"),
    ("q380_holt_winters", "repartition(1)",
      "sequential Holt-Winters state scan over the calendar-bounded " +
        "day axis (the q355/q365 shape)"),
    ("q383_gumbel_topk", "key_nano",
      "rank window runs over the TakeOrdered top-50 slice (literal k)"),
    ("q389_cooks_distance", "^d_nano",
      "rank window runs over the TakeOrdered top-10 slice (literal k)"),
    ("q390_lof", "^lof_milli",
      "rank window runs over the TakeOrdered top-15 slice (literal k)"),
    // ---- nonequi-agg: θ-joins of aggregate frames (the r8 q385
    // blind-spot class). Every entry names the DOMAIN bound that
    // keeps the pair count safe at 100 TB; genuinely data-growing
    // domains (q385 len, q378 len, q377/q371 activity counts, q276
    // n_chars) were FIXED via ScaleRank instead of adjudicated.
    ("q123_chisq_independence", "nonequi-agg",
      "lang × source contingency cross: both axes categorical (≤7 langs, ≤5 sources)"),
    ("q173_stump", "nonequi-agg",
      "threshold grid ≤17/dim (fixed quantization) × binary label frame"),
    ("q177_mannwhitney", "nonequi-agg",
      "pair expansion over |event types|² ≤ 25 (categorical); histogram side joins the 10-row pair frame"),
    ("q221_scaling_law", "nonequi-agg",
      "4-row literal size axis × 1-row score frames"),
    ("q223_t_closeness", "nonequi-agg",
      "QI groups (≤25 nations × 5 segments) × value-bucket axis (balance decile domain, ≤ literal buckets)"),
    ("q227_naive_bayes", "nonequi-agg",
      "×|classes| broadcast expansion: source side is the ≤5-row class prior frame"),
    ("q255_isotonic", "nonequi-agg",
      "≤20 quantized bins: interval expansion is O(B³)=8000 tiny rows"),
    ("q256_kendall_tau", "nonequi-agg",
      "joint histogram ≤51×11 cells (TPC-H quantity 1..50, discount 0..0.10 spec domains)"),
    ("q276_quantile_norm", "nonequi-agg",
      "ECDF probe grid: ≤5-source categorical side × reference axis (the O(|D|²) θ-joins were replaced by ScaleRank merges)"),
    ("q277_vopt_histogram", "nonequi-agg",
      "quantity classes ≤50 (TPC-H spec domain): interval table ≤1225 rows, DP O(B·classes²)"),
    ("q280_otsu_threshold", "nonequi-agg",
      "quality-score histogram ≤90 literal classes"),
    ("q288_bh_fdr", "nonequi-agg",
      "BH step-up on the 10-row p frame (literal |type pairs| = C(5,2))"),
    // q289's nonequi-agg entry removed r13: the greedy rounds moved to
    // registered driver arithmetic over the collected 8-row lattice
    // (DriverComputeRegistry), so the non-equi shape no longer plans
    ("q348_ransac_consensus", "nonequi-agg",
      "candidate frame ≤16 rows (TakeOrdered 32-seed pairing) broadcast into one corpus pass"),
    ("q363_jonckheere", "nonequi-agg",
      "5 priorities × ~5·10³ price buckets (value-domain bounded grid, adjudicated in scaladoc)"),
    ("q370_data_shapley", "nonequi-agg",
      "31-row literal mask lattice (2⁵−1 vendor subsets); fanout a fixed 155×"),
    ("q405_chow_test", "nonequi-agg",
      "g is a CASE-literal segment id with domain {0,1,2}: both " +
        "coefficient frames are ≤2/1 rows, broadcast (the literal " +
        "value domain is invisible across the ckpt boundary)"),
    ("q408_tukey_hsd", "nonequi-agg",
      "5 literal order priorities: both sides of the pair θ-join are " +
        "the 5-row group-moment frame (10 pairs)"),
    ("q418_dunn", "nonequi-agg",
      "5 literal order priorities: both sides of the pair θ-join are " +
        "the 5-row rank-sum frame (10 pairs)"),
    ("q425_hodges_lehmann", "nonequi-agg",
      "cross of two half-history day-value histograms: ≤|days/2| rows " +
        "each (calendar-bounded — daily revenue has ≤|days| distinct " +
        "values), the q392 adjudicated day-pair class"),
    ("q409_weighted_kappa", "nonequi-agg",
      "quintile margins: both sides of the expectation cross are " +
        "ntile-bounded 5-row frames (25 cells)"),
    ("q437_source_gram_jaccard", "nonequi-agg",
      "source-pair cross: both sides are the per-source gram-set SIZE " +
        "frame (≤|sources| rows — categorical vendor domain, the q276 " +
        "class); the gram intersection itself is an equi join"))
}
