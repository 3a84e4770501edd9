package graft.operators

import graft.CkptOps

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Forensic finance audits over the order/lineitem facts — the
  * controls a finance warehouse runs nightly on top of the reference's
  * ETL output (the Benford digit screen lives with the profiling
  * family in [[DataProfile.q186Benford]]; these are its
  * transaction-level siblings).
  *
  * Exactness contract: both queries are pure integer arithmetic over
  * exact cents (the q01 decimal-cast contract) and day indexes;
  * ratios ride DECIMAL(38)/HUGEINT cross-multiplication so no float
  * exists anywhere.
  */
object FinanceAudit {

  /** q188 — duplicate-charge screen: pairs of lineitems where the
    * SAME supplier ships the SAME part in the SAME quantity within 90
    * days — the classic double-billing / double-shipment audit
    * pattern (exact-key repeat + closeness window). Emits each
    * flagged pair with its day gap, ordered for review.
    *
    * Exactness: quantity goes through floor() before the BIGINT cast
    * (Spark's double→int cast truncates, DuckDB's rounds half-even —
    * floor lands both on the same integer for the integral-valued
    * domain); the pair orientation (aₒ,aₗ) < (bₒ,bₗ) is a pure
    * integer lexicographic predicate; the gap is |Δday| on day
    * indexes, so the window is symmetric ("within 90 days of each
    * other", not "after").
    *
    * Scale design (100 TB): the self-join is an EQUI-join on the
    * composite (supplier, part, qty) key — high cardinality, no skew
    * (group sizes are the per-key repeat counts, which an audit
    * expects to be tiny); the day-window and orientation predicates
    * filter after the hash match, so no range/theta join ever forms.
    * Output is bounded by the true duplicate volume. */
  val q188DupCharge: QueryDef = QueryDef(
    "q188_dup_charge",
    """WITH li AS (
      |  SELECT l_suppkey AS s, l_partkey AS p,
      |    CAST(floor(l_quantity) AS BIGINT) AS q,
      |    CAST(date_diff('day', DATE '1970-01-01',
      |                   CAST(l_shipdate AS DATE)) AS BIGINT) AS d,
      |    l_orderkey AS o, CAST(l_linenumber AS BIGINT) AS ln
      |  FROM lineitem)
      |SELECT a.s AS suppkey, a.p AS partkey, a.q AS qty,
      |  a.o AS o_a, a.ln AS ln_a, b.o AS o_b, b.ln AS ln_b,
      |  abs(b.d - a.d) AS gap_days
      |FROM li a JOIN li b
      |  ON b.s = a.s AND b.p = a.p AND b.q = a.q
      | AND (b.o > a.o OR (b.o = a.o AND b.ln > a.ln))
      | AND abs(b.d - a.d) <= 90
      |ORDER BY suppkey, partkey, qty, o_a, ln_a, o_b, ln_b""".stripMargin) {
    (s, dir) =>
      val li = Tables.lineitem(s, dir).select(
        col("l_suppkey").as("s"), col("l_partkey").as("p"),
        floor(col("l_quantity")).cast("bigint").as("q"),
        datediff(col("l_shipdate").cast("date"), lit("1970-01-01"))
          .cast("bigint").as("d"),
        col("l_orderkey").as("o"), col("l_linenumber").cast("bigint").as("ln"))
      li.as("a").join(li.as("b"),
          expr("b.s = a.s AND b.p = a.p AND b.q = a.q") &&
          expr("b.o > a.o OR (b.o = a.o AND b.ln > a.ln)") &&
          expr("abs(b.d - a.d) <= 90"))
        .select(col("a.s").as("suppkey"), col("a.p").as("partkey"),
          col("a.q").as("qty"), col("a.o").as("o_a"), col("a.ln").as("ln_a"),
          col("b.o").as("o_b"), col("b.ln").as("ln_b"),
          abs(col("b.d") - col("a.d")).as("gap_days"))
        .orderBy("suppkey", "partkey", "qty", "o_a", "ln_a", "o_b", "ln_b")
  }

  /** q189 — Pareto / ABC customer classification: rank customers by
    * lifetime revenue and class them A (first 80% of cumulative
    * revenue), B (to 95%), C (tail) — the inventory-control cut
    * ("which 20% of customers fund 80% of the book") that q133's Gini
    * coefficient summarizes as one number; this materializes the
    * actionable partition.
    *
    * Exactness: revenue is exact cents; the cumulative sum rides
    * [[ScaleRank.withRunningSum]] over the unique (cents DESC, cust)
    * order (bit-identical to the window form, ties impossible);
    * class thresholds cross-multiply through DECIMAL(38)/HUGEINT
    * (cum·100 ≤ total·80), never dividing; the final shares are
    * HUGEINT floor-divs.
    *
    * Scale design (100 TB): per-customer revenue is one
    * partial-aggregable fact pass on an unbounded key; the running
    * sum is the two-level chunked rank (no single task ever sorts the
    * customer table); the 1-row total broadcasts into the class
    * projection; the report is a ≤3-group aggregate. */
  val q189ParetoAbc: QueryDef = QueryDef(
    "q189_pareto_abc",
    """WITH cust AS (
      |  SELECT o_custkey AS cust,
      |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))
      |         AS BIGINT) AS cents
      |  FROM orders GROUP BY 1),
      |r AS (
      |  SELECT cust, cents,
      |    CAST(sum(cents) OVER (ORDER BY cents DESC, cust) AS BIGINT) AS cum,
      |    CAST(sum(cents) OVER () AS BIGINT) AS t
      |  FROM cust),
      |c AS (
      |  SELECT CASE
      |      WHEN CAST(cum AS HUGEINT) * 100 <= CAST(t AS HUGEINT) * 80 THEN 'A'
      |      WHEN CAST(cum AS HUGEINT) * 100 <= CAST(t AS HUGEINT) * 95 THEN 'B'
      |      ELSE 'C' END AS abc_class,
      |    cents, t
      |  FROM r)
      |SELECT abc_class, CAST(count(*) AS BIGINT) AS n_cust,
      |  CAST(sum(cents) AS BIGINT) AS rev_cents,
      |  CAST((CAST(1000000 AS HUGEINT) * CAST(sum(cents) AS BIGINT)) // t
      |       AS BIGINT) AS rev_share_ppm
      |FROM c GROUP BY abc_class, t
      |ORDER BY abc_class""".stripMargin) { (s, dir) =>
    val cust = Tables.orders(s, dir)
      .groupBy(col("o_custkey").as("cust"))
      .agg(sum((col("o_totalprice").cast("decimal(12,2)") * 100)
        .cast("bigint")).cast("bigint").as("cents"))
      // materialize the per-customer aggregate once: it feeds the
      // rank's range sampling, the rank exchange, AND the total —
      // without this the fact scan would run three times
      .ckpt()
    val withCum = ScaleRank.withRunningSum(
      cust, Seq.empty, Seq(col("cents").desc, col("cust")),
      col("cents"), "cum")
    val tot = cust.agg(sum(col("cents")).as("t"))
    withCum.crossJoin(broadcast(tot))
      .select(
        when(expr("CAST(cum AS DECIMAL(38,0)) * 100 <= CAST(t AS DECIMAL(38,0)) * 80"), "A")
          .when(expr("CAST(cum AS DECIMAL(38,0)) * 100 <= CAST(t AS DECIMAL(38,0)) * 95"), "B")
          .otherwise("C").as("abc_class"),
        col("cents"), col("t"))
      .groupBy(col("abc_class"), col("t"))
      .agg(count(lit(1)).as("n_cust"), sum(col("cents")).as("rev_cents"))
      .select(col("abc_class"), col("n_cust"), col("rev_cents"),
        // nullif: an all-zero-amount corpus zeroes the revenue total;
        // ANSI would throw where the oracle's // natively NULLs
        // (degenerate-corpus probe)
        expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * rev_cents) " +
          "div nullif(CAST(t AS DECIMAL(38,0)), 0) AS BIGINT)")
          .as("rev_share_ppm"))
      .orderBy("abc_class")
  }

  /** q192 — VWAP (volume-weighted average price) per returnflag ×
    * ship month: the execution-quality benchmark next to q114's TWAP
    * (time-weighted). VWAP weights each fill by its quantity, so
    * heavy lines move the average and thin ones barely register.
    *
    * Exactness: notional rides exact cents (decimal-cast BEFORE the
    * ×100, the q01 contract) times an integral quantity, summed as
    * BIGINT; vwap_cents is one non-negative integer floor-division of
    * the two sums (Spark div ≡ DuckDB // on this domain). No float
    * anywhere.
    *
    * Scale design (100 TB): a single partial-aggregable pass over the
    * fact — both sums combine map-side, the (flag, month) key is
    * bounded×calendar so the final exchange is tiny, and the division
    * happens post-aggregate on the reduced rows. */
  val q192Vwap: QueryDef = QueryDef(
    "q192_vwap",
    """SELECT l_returnflag AS flag, strftime(l_shipdate, '%Y-%m') AS ym,
      |  CAST(count(*) AS BIGINT) AS n_lines,
      |  CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS qty,
      |  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)
      |           * CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS notional_cents,
      |  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)
      |           * CAST(floor(l_quantity) AS BIGINT)) AS BIGINT)
      |    // CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS vwap_cents
      |FROM lineitem
      |GROUP BY 1, 2
      |ORDER BY flag, ym""".stripMargin) { (s, dir) =>
    Tables.lineitem(s, dir)
      .select(col("l_returnflag").as("flag"),
        date_format(col("l_shipdate"), "yyyy-MM").as("ym"),
        floor(col("l_quantity")).cast("bigint").as("q"),
        (col("l_extendedprice").cast("decimal(12,2)") * 100).cast("bigint")
          .as("cents"))
      .groupBy("flag", "ym")
      .agg(count(lit(1)).as("n_lines"),
        sum(col("q")).as("qty"),
        sum(col("cents") * col("q")).as("notional_cents"))
      .select(col("flag"), col("ym"), col("n_lines"), col("qty"),
        col("notional_cents"),
        expr("notional_cents div nullif(qty, 0)").as("vwap_cents"))
      .orderBy("flag", "ym")
  }

  /** q193 — maximum-drawdown report over the daily revenue equity
    * curve: cumulative booked revenue by order date, its running peak,
    * and drawdown = peak − equity; emits the 10 deepest drawdown days.
    * The treasury view of volatility that q134's seasonality and
    * q178's CUSUM look at from other angles.
    *
    * Exactness: all cents arithmetic is exact BIGINT; the running sum
    * and running max ride plain windows over UNIQUE day keys, and
    * drawdown is a subtraction of two prefix aggregates — no float,
    * no ties (day is the key).
    *
    * Scale design (100 TB): the fact collapses to day grain FIRST
    * (partial-aggregable), so the global windows run over rows
    * bounded by the CALENDAR (~2.5k days for 7 years) — bounded by
    * time, not by data volume, which is exactly when a single-task
    * window is the right plan (the [[ScaleRank]] machinery exists for
    * windows whose input grows with the data; forcing it here would
    * add two exchanges to sort 2.5k rows). The final top-10 is
    * TakeOrdered, not a global sort. */
  val q193Drawdown: QueryDef = QueryDef(
    "q193_drawdown",
    """WITH d AS (
      |  SELECT o_orderdate AS day,
      |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))
      |         AS BIGINT) AS cents
      |  FROM orders GROUP BY 1),
      |e AS (
      |  SELECT day, cents,
      |    CAST(sum(cents) OVER (ORDER BY day) AS BIGINT) AS equity
      |  FROM d),
      |eq AS (
      |  SELECT day, cents, equity,
      |    CAST(max(equity) OVER (ORDER BY day) AS BIGINT) AS peak
      |  FROM e)
      |SELECT strftime(day, '%Y-%m-%d') AS day, cents, equity, peak,
      |  peak - equity AS drawdown_cents
      |FROM eq
      |ORDER BY drawdown_cents DESC, day
      |LIMIT 10""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.orders(s, dir)
      .groupBy(col("o_orderdate").as("day"))
      .agg(sum((col("o_totalprice").cast("decimal(12,2)") * 100)
        .cast("bigint")).cast("bigint").as("cents"))
    val w = Window.orderBy("day")
    daily
      .withColumn("equity",
        sum("cents").over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("peak",
        max("equity").over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("cents"), col("equity"), col("peak"),
        (col("peak") - col("equity")).as("drawdown_cents"))
      .orderBy(col("drawdown_cents").desc, col("day"))
      .limit(10)
  }

  /** q194 — accounts-receivable aging: orders not yet finalized
    * (status <> 'F'), bucketed by age against the book's as-of date
    * (its max order date), broken out by priority — the collections
    * report every finance close produces.
    *
    * Exactness: age is an integer day difference; buckets are integer
    * CASE cuts; amounts are exact cents. The as-of date is a 1-row
    * aggregate both engines compute identically.
    *
    * Scale design (100 TB): the as-of max is a partial-aggregable
    * 1-row frame broadcast into the scan projection (no second fact
    * pass — Spark plans the cross join of a 1-row aggregate as
    * BroadcastNestedLoopJoin with a single build row); bucketing is a
    * per-row CASE, and the final aggregate has a bounded
    * priority×bucket key. One fact scan feeds both the max and the
    * report via the reused exchange. */
  val q194Aging: QueryDef = QueryDef(
    "q194_aging",
    """WITH asof_d AS (SELECT max(o_orderdate) AS d0 FROM orders),
      |aged AS (
      |  SELECT o_orderpriority AS priority,
      |    CASE
      |      WHEN date_diff('day', o_orderdate, d0) <= 30 THEN '00-30'
      |      WHEN date_diff('day', o_orderdate, d0) <= 60 THEN '31-60'
      |      WHEN date_diff('day', o_orderdate, d0) <= 90 THEN '61-90'
      |      ELSE '90+' END AS bucket,
      |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
      |  FROM orders, asof_d
      |  WHERE o_orderstatus <> 'F')
      |SELECT priority, bucket,
      |  CAST(count(*) AS BIGINT) AS n_orders,
      |  CAST(sum(cents) AS BIGINT) AS open_cents
      |FROM aged
      |GROUP BY 1, 2
      |ORDER BY priority, bucket""".stripMargin) { (s, dir) =>
    val orders = Tables.orders(s, dir)
    val asof = orders.agg(max(col("o_orderdate")).as("d0"))
    orders.filter(col("o_orderstatus") =!= "F")
      .crossJoin(broadcast(asof))
      .select(col("o_orderpriority").as("priority"),
        when(datediff(col("d0"), col("o_orderdate")) <= 30, "00-30")
          .when(datediff(col("d0"), col("o_orderdate")) <= 60, "31-60")
          .when(datediff(col("d0"), col("o_orderdate")) <= 90, "61-90")
          .otherwise("90+").as("bucket"),
        (col("o_totalprice").cast("decimal(12,2)") * 100).cast("bigint")
          .as("cents"))
      .groupBy("priority", "bucket")
      .agg(count(lit(1)).as("n_orders"), sum("cents").as("open_cents"))
      .orderBy("priority", "bucket")
  }

  /** q195 — round-number bias screen: how often order totals land on
    * "round" cent patterns (whole dollars, whole hundred-dollar
    * amounts, psychological .99 endings) per priority class, in ppm.
    * Benford's law (q186) tests leading digits; this tests TRAILING
    * digits — fabricated or hand-keyed amounts over-select round
    * numbers, so observed ppm far above the uniform expectation
    * (10000 ppm for cents≡0 mod 100, 100 ppm for mod 10000, 10000 ppm
    * for the .99 ending) flags a book for review.
    *
    * Exactness: flags are integer modulus tests on exact cents; the
    * shares are non-negative integer floor-divisions (ppm), the
    * Spark-div ≡ DuckDB-// domain.
    *
    * Scale design (100 TB): one partial-aggregable pass — the flags
    * are per-row CASE bits summed map-side; the output is one row per
    * priority (bounded). No joins, no windows. */
  val q195RoundBias: QueryDef = QueryDef(
    "q195_round_bias",
    """WITH f AS (
      |  SELECT o_orderpriority AS priority,
      |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
      |  FROM orders)
      |SELECT priority, CAST(count(*) AS BIGINT) AS n_orders,
      |  CAST((1000000 * CAST(sum(CASE WHEN cents % 100 = 0 THEN 1 ELSE 0 END)
      |                       AS BIGINT)) // count(*) AS BIGINT) AS whole_dollar_ppm,
      |  CAST((1000000 * CAST(sum(CASE WHEN cents % 10000 = 0 THEN 1 ELSE 0 END)
      |                       AS BIGINT)) // count(*) AS BIGINT) AS whole_hundred_ppm,
      |  CAST((1000000 * CAST(sum(CASE WHEN cents % 100 = 99 THEN 1 ELSE 0 END)
      |                       AS BIGINT)) // count(*) AS BIGINT) AS ending_99_ppm
      |FROM f
      |GROUP BY 1
      |ORDER BY priority""".stripMargin) { (s, dir) =>
    Tables.orders(s, dir)
      .select(col("o_orderpriority").as("priority"),
        (col("o_totalprice").cast("decimal(12,2)") * 100).cast("bigint")
          .as("cents"))
      .groupBy("priority")
      .agg(count(lit(1)).as("n_orders"),
        sum(when(col("cents") % 100 === 0, 1L).otherwise(0L)).as("wd"),
        sum(when(col("cents") % 10000 === 0, 1L).otherwise(0L)).as("wh"),
        sum(when(col("cents") % 100 === 99, 1L).otherwise(0L)).as("e99"))
      .select(col("priority"), col("n_orders"),
        expr("(1000000 * wd) div n_orders").as("whole_dollar_ppm"),
        expr("(1000000 * wh) div n_orders").as("whole_hundred_ppm"),
        expr("(1000000 * e99) div n_orders").as("ending_99_ppm"))
      .orderBy("priority")
  }

  /** q210 — difference-in-differences readout: did the BUILDING
    * segment's mean order value move differently across the 1998
    * boundary than MACHINERY's (the control)? The four cell means
    * (treated/control × pre/post) and the DiD estimate in one row —
    * the workhorse quasi-experimental design for "did the thing we
    * changed for group T actually change group T", with the control
    * differencing out the common trend (q165's A/B z-test assumes
    * randomized assignment; DiD is what you run when you didn't get
    * to randomize).
    *
    * Exactness: cell means are exact-cents floor-divs (non-negative);
    * the DiD is subtraction of those floored means — integer all the
    * way, no division after any subtraction.
    *
    * Scale design (100 TB): one orders∿customer equi hash join
    * (segment lives on the dimension), then ONE partial-aggregable
    * conditional aggregate producing all four cells — no window, no
    * second pass, 1-row output. */
  val q210DiffInDiff: QueryDef = QueryDef(
    "q210_diff_in_diff",
    """WITH j AS (
      |  SELECT c.c_mktsegment AS seg,
      |    CAST(o.o_orderdate AS DATE) >= DATE '1998-01-01' AS post,
      |    CAST(CAST(o.o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
      |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      |  WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY')
      |    AND CAST(o.o_orderdate AS DATE) >= DATE '1996-01-01'
      |    AND CAST(o.o_orderdate AS DATE) <= DATE '1999-12-31'),
      |m AS (
      |  SELECT
      |    CAST(sum(CASE WHEN seg = 'BUILDING' AND NOT post THEN cents END)
      |      // count(CASE WHEN seg = 'BUILDING' AND NOT post THEN 1 END) AS BIGINT) AS pre_t,
      |    CAST(sum(CASE WHEN seg = 'BUILDING' AND post THEN cents END)
      |      // count(CASE WHEN seg = 'BUILDING' AND post THEN 1 END) AS BIGINT) AS post_t,
      |    CAST(sum(CASE WHEN seg = 'MACHINERY' AND NOT post THEN cents END)
      |      // count(CASE WHEN seg = 'MACHINERY' AND NOT post THEN 1 END) AS BIGINT) AS pre_c,
      |    CAST(sum(CASE WHEN seg = 'MACHINERY' AND post THEN cents END)
      |      // count(CASE WHEN seg = 'MACHINERY' AND post THEN 1 END) AS BIGINT) AS post_c,
      |    CAST(count(*) AS BIGINT) AS n_orders
      |  FROM j)
      |SELECT n_orders, pre_t, post_t, pre_c, post_c,
      |  (post_t - pre_t) - (post_c - pre_c) AS did_cents
      |FROM m""".stripMargin) { (s, dir) =>
    val j = Tables.orders(s, dir)
      .join(Tables.customer(s, dir),
        col("c_custkey") === col("o_custkey"))
      .filter(col("c_mktsegment").isin("BUILDING", "MACHINERY") &&
        col("o_orderdate").cast("date") >= lit("1996-01-01").cast("date") &&
        col("o_orderdate").cast("date") <= lit("1999-12-31").cast("date"))
      .select(col("c_mktsegment").as("seg"),
        (col("o_orderdate").cast("date") >= lit("1998-01-01").cast("date"))
          .as("post"),
        (col("o_totalprice").cast("decimal(12,2)") * 100).cast("bigint")
          .as("cents"))
    def cell(p: String) = expr(
      s"CAST(sum(CASE WHEN $p THEN cents END) div " +
        s"count(CASE WHEN $p THEN 1 END) AS BIGINT)")
    j.agg(
        cell("seg = 'BUILDING' AND NOT post").as("pre_t"),
        cell("seg = 'BUILDING' AND post").as("post_t"),
        cell("seg = 'MACHINERY' AND NOT post").as("pre_c"),
        cell("seg = 'MACHINERY' AND post").as("post_c"),
        count(lit(1)).as("n_orders"))
      .select(col("n_orders"), col("pre_t"), col("post_t"), col("pre_c"),
        col("post_c"),
        ((col("post_t") - col("pre_t")) - (col("post_c") - col("pre_c")))
          .as("did_cents"))
  }

  /** q211 — ABC × XYZ inventory matrix over parts: ABC classes by
    * cumulative revenue share (the q189 Pareto cut, here on parts)
    * crossed with XYZ demand-variability classes (X = steady, Z =
    * erratic, by the variance-to-mean dispersion of weekly shipped
    * quantity) — the 9-cell planning grid that decides stocking
    * policy: AX funds automation, CZ gets made to order.
    *
    * Exactness: revenue is exact cents through the
    * [[ScaleRank.withRunningSum]] Pareto cut (unique order, ties
    * impossible); dispersion is the q200 integer moment identity
    * (n·Q − S² ≥ 0, one non-negative ppm floor-div through
    * DECIMAL(38)); class cuts are integer threshold CASEs.
    *
    * Scale design (100 TB): two partial-aggregable passes over the
    * fact (revenue per part; weekly quantity per part collapsing to
    * per-part moments), one distributed running sum on the part
    * revenue table, an equi-join on partkey between two part-sized
    * aggregates, and a ≤9-row rollup. */
  val q211AbcXyz: QueryDef = QueryDef(
    "q211_abc_xyz",
    """WITH rev AS (
      |  SELECT l_partkey AS pk,
      |    CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT))
      |         AS BIGINT) AS cents
      |  FROM lineitem GROUP BY 1),
      |r AS (
      |  SELECT pk, cents,
      |    CAST(sum(cents) OVER (ORDER BY cents DESC, pk) AS BIGINT) AS cum,
      |    CAST(sum(cents) OVER () AS BIGINT) AS t
      |  FROM rev),
      |abc AS (
      |  SELECT pk, cents,
      |    CASE WHEN CAST(cum AS HUGEINT) * 100 <= CAST(t AS HUGEINT) * 80 THEN 'A'
      |         WHEN CAST(cum AS HUGEINT) * 100 <= CAST(t AS HUGEINT) * 95 THEN 'B'
      |         ELSE 'C' END AS abc_class
      |  FROM r),
      |wk AS (
      |  SELECT l_partkey AS pk, date_trunc('week', CAST(l_shipdate AS DATE)) AS w,
      |    CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS q
      |  FROM lineitem GROUP BY 1, 2),
      |mo AS (
      |  SELECT pk, CAST(count(*) AS BIGINT) AS n, CAST(sum(q) AS BIGINT) AS s,
      |    CAST(sum(q * q) AS BIGINT) AS qq
      |  FROM wk GROUP BY 1),
      |xyz AS (
      |  SELECT pk,
      |    CASE WHEN CAST((CAST(1000000 AS HUGEINT) *
      |                    (n * CAST(qq AS HUGEINT) - CAST(s AS HUGEINT) * s))
      |                   // (n * CAST(s AS HUGEINT)) AS BIGINT) < 7500000 THEN 'X'
      |         WHEN CAST((CAST(1000000 AS HUGEINT) *
      |                    (n * CAST(qq AS HUGEINT) - CAST(s AS HUGEINT) * s))
      |                   // (n * CAST(s AS HUGEINT)) AS BIGINT) < 10500000 THEN 'Y'
      |         ELSE 'Z' END AS xyz_class
      |  FROM mo)
      |SELECT abc.abc_class, xyz.xyz_class,
      |  CAST(count(*) AS BIGINT) AS n_parts,
      |  CAST(sum(abc.cents) AS BIGINT) AS rev_cents
      |FROM abc JOIN xyz ON xyz.pk = abc.pk
      |GROUP BY 1, 2 ORDER BY abc_class, xyz_class""".stripMargin) { (s, dir) =>
    val li = Tables.lineitem(s, dir)
    val rev = li.groupBy(col("l_partkey").as("pk"))
      .agg(sum((col("l_extendedprice").cast("decimal(12,2)") * 100)
        .cast("bigint")).cast("bigint").as("cents"))
      .ckpt() // feeds the rank's range sampling AND the total
    val withCum = ScaleRank.withRunningSum(
      rev, Seq.empty, Seq(col("cents").desc, col("pk")), col("cents"), "cum")
    val tot = rev.agg(sum(col("cents")).as("t"))
    val abc = withCum.crossJoin(broadcast(tot))
      .select(col("pk"), col("cents"),
        when(expr("CAST(cum AS DECIMAL(38,0)) * 100 <= CAST(t AS DECIMAL(38,0)) * 80"), "A")
          .when(expr("CAST(cum AS DECIMAL(38,0)) * 100 <= CAST(t AS DECIMAL(38,0)) * 95"), "B")
          .otherwise("C").as("abc_class"))
    val xyz = li
      .groupBy(col("l_partkey").as("pk"),
        date_trunc("week", col("l_shipdate").cast("date")).as("w"))
      .agg(sum(floor(col("l_quantity")).cast("bigint")).as("q"))
      .groupBy("pk")
      .agg(count(lit(1)).as("n"), sum("q").as("s"),
        sum(col("q") * col("q")).as("qq"))
      .select(col("pk"),
        when(expr(
          "CAST((CAST(1000000 AS DECIMAL(38,0)) * (n * CAST(qq AS DECIMAL(38,0)) - CAST(s AS DECIMAL(38,0)) * s)) div (n * CAST(s AS DECIMAL(38,0))) AS BIGINT) < 7500000"), "X")
          .when(expr(
            "CAST((CAST(1000000 AS DECIMAL(38,0)) * (n * CAST(qq AS DECIMAL(38,0)) - CAST(s AS DECIMAL(38,0)) * s)) div (n * CAST(s AS DECIMAL(38,0))) AS BIGINT) < 10500000"), "Y")
          .otherwise("Z").as("xyz_class"))
    abc.join(xyz, "pk")
      .groupBy("abc_class", "xyz_class")
      .agg(count(lit(1)).as("n_parts"), sum(col("cents")).as("rev_cents"))
      .orderBy("abc_class", "xyz_class")
  }

  /** q214 — ledger integrity register: a tamper-evident hash register
    * over the order ledger — each day's root is the md5 of its
    * transactions' content hashes in canonical (orderkey) order, and
    * each month's register is the md5 of its day-roots in day order.
    * Recompute-and-compare detects ANY silent mutation of historical
    * rows (the audit-trail property q131's reconciliation can't give:
    * reconciliation proves totals agree, the register proves the ROWS
    * are byte-identical). Both engines compute md5 over identical
    * canonical strings, so the roots are bit-portable.
    *
    * Scale design (100 TB): the tx hash is per-row codegen; day roots
    * aggregate each day's hashes (state bounded by the day's volume —
    * at production scale the canonical grain drops to hour/minute so
    * each collect stays bounded, and the register folds over the
    * finer calendar exactly the same way); the month register
    * aggregates ≤31 day-roots. Everything above the leaf grain is
    * calendar-bounded. */
  val q214LedgerRegister: QueryDef = QueryDef(
    "q214_ledger_register",
    """WITH tx AS (
      |  SELECT strftime(o_orderdate, '%Y-%m') AS ym,
      |    CAST(o_orderdate AS DATE) AS day, o_orderkey AS k,
      |    md5(CAST(o_orderkey AS VARCHAR) || '|' || o_orderstatus || '|' ||
      |        CAST(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
      |             AS VARCHAR)) AS h
      |  FROM orders),
      |d AS (
      |  SELECT ym, day, CAST(count(*) AS BIGINT) AS n_txs,
      |    md5(string_agg(h, '' ORDER BY k)) AS day_root
      |  FROM tx GROUP BY 1, 2)
      |SELECT ym, CAST(count(*) AS BIGINT) AS n_days,
      |  CAST(sum(n_txs) AS BIGINT) AS n_txs,
      |  md5(string_agg(day_root, '' ORDER BY day)) AS register
      |FROM d GROUP BY ym ORDER BY ym""".stripMargin) { (s, dir) =>
    val tx = Tables.orders(s, dir).select(
      date_format(col("o_orderdate"), "yyyy-MM").as("ym"),
      col("o_orderdate").cast("date").as("day"),
      col("o_orderkey").as("k"),
      md5(concat_ws("|", col("o_orderkey").cast("string"),
        col("o_orderstatus"),
        (col("o_totalprice").cast("decimal(12,2)") * 100).cast("bigint")
          .cast("string"))).as("h"))
    val d = tx.groupBy(col("ym"), col("day"))
      .agg(count(lit(1)).as("n_txs"),
        md5(concat_ws("", expr(
          "transform(array_sort(collect_list(struct(k, h))), x -> x.h)")))
          .as("day_root"))
    d.groupBy(col("ym"))
      .agg(count(lit(1)).as("n_days"), sum(col("n_txs")).as("n_txs"),
        md5(concat_ws("", expr(
          "transform(array_sort(collect_list(struct(day, day_root))), x -> x.day_root)")))
          .as("register"))
      .orderBy("ym")
  }

  /** q218 — weekly KPI report: revenue by ISO week with
    * week-over-week growth (ppm, sign-safe) and the trailing 4-week
    * average — the table every revenue dashboard renders, produced
    * with exact arithmetic end to end.
    *
    * Exactness: weekly cents are exact sums; WoW growth is
    * (cur − prev)·10⁶ / prev with the signed numerator routed
    * through the floor-consistent form floor((a·10⁶)/b) on a
    * POSITIVE denominator — Spark `div` and DuckDB `//` both floor
    * only on non-negatives, so the signed case uses the IEEE
    * double division + floor (exact: both operands < 2⁵³, one
    * rounding each engine performs identically); the 4-week mean is
    * a floor-div of a 4-term sum.
    *
    * Scale design (100 TB): the fact collapses to week grain FIRST
    * (partial-aggregable); the lag/mean windows run over the
    * CALENDAR-bounded week axis (~400 rows for 8 years) — the q193
    * day-axis argument: bounded by time, not data. */
  val q218WeeklyKpi: QueryDef = QueryDef(
    "q218_weekly_kpi",
    """WITH w AS (
      |  SELECT strftime(date_trunc('week', o_orderdate), '%Y-%m-%d') AS wk,
      |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))
      |         AS BIGINT) AS cents,
      |    CAST(count(*) AS BIGINT) AS n_orders
      |  FROM orders GROUP BY 1),
      |l AS (
      |  SELECT wk, cents, n_orders,
      |    lag(cents) OVER (ORDER BY wk) AS prev,
      |    CAST(avg(cents) OVER (ORDER BY wk ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
      |         AS DOUBLE) AS avg4_raw,
      |    CAST(sum(cents) OVER (ORDER BY wk ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
      |         AS BIGINT) AS sum4,
      |    CAST(count(*) OVER (ORDER BY wk ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
      |         AS BIGINT) AS n4
      |  FROM w)
      |SELECT wk, cents, n_orders,
      |  CASE WHEN prev IS NULL THEN NULL
      |       ELSE CAST(floor((CAST(cents - prev AS DOUBLE) * 1000000.0) / prev)
      |            AS BIGINT) END AS wow_ppm,
      |  sum4 // n4 AS avg4_cents
      |FROM l ORDER BY wk""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val w = Tables.orders(s, dir)
      .groupBy(date_format(date_trunc("week", col("o_orderdate")), "yyyy-MM-dd")
        .as("wk"))
      .agg(sum((col("o_totalprice").cast("decimal(12,2)") * 100)
        .cast("bigint")).cast("bigint").as("cents"),
        count(lit(1)).as("n_orders"))
    val win = Window.orderBy("wk")
    val frame = win.rowsBetween(-3, 0)
    w.withColumn("prev", lag(col("cents"), 1).over(win))
      .withColumn("sum4", sum(col("cents")).over(frame))
      .withColumn("n4", count(lit(1)).over(frame))
      .select(col("wk"), col("cents"), col("n_orders"),
        // prev = 0 (zero-revenue week, degenerate-corpus probe): ANSI
        // double division throws where the oracle's x/0 natively
        // NULLs through its floor/CAST — emit the same NULL
        when(col("prev").isNull || col("prev") === 0, lit(null).cast("long"))
          .otherwise(floor(((col("cents") - col("prev")).cast("double") *
            lit(1000000.0)) / col("prev")).cast("long")).as("wow_ppm"),
        expr("sum4 div n4").as("avg4_cents"))
      .orderBy("wk")
  }

  /** q222 — order-velocity screen: customers whose order rate spikes
    * past 4 orders inside any trailing 30-day window — the card-abuse
    * / account-takeover velocity rule next to q188's duplicate screen
    * (repeat CONTENT) and q113's z-score (statistical shape); this
    * one is the hard business rule an auditor can quote.
    *
    * Exactness: the windowed count is an exact pair count over
    * integer day indexes anchored at each order (count of o₂ with
    * d₁ ≤ d₂ ≤ d₁+29 — the 0..29 offset convention q220's DAU/MAU
    * uses, a true 30-day span), so "any trailing window" reduces to
    * "window anchored at some order" — no approximation, no calendar
    * sweep.
    *
    * Scale design (100 TB): the self-join is an equi hash join on
    * the CUSTOMER key with the day predicate applied after the match;
    * per-key group sizes are per-customer order counts, exactly the
    * grouping every per-customer aggregate already shoulders. The
    * anchor-max rollup is partial-aggregable; output is bounded by
    * the true violator set. */
  val q222VelocityScreen: QueryDef = QueryDef(
    "q222_velocity_screen",
    """WITH o AS (
      |  SELECT o_custkey AS cust, o_orderkey AS k,
      |    CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
      |         AS BIGINT) AS d
      |  FROM orders),
      |anchored AS (
      |  SELECT a.cust, a.k, CAST(count(*) AS BIGINT) AS w30
      |  FROM o a JOIN o b ON b.cust = a.cust
      |    AND b.d >= a.d AND b.d <= a.d + 29
      |  GROUP BY 1, 2),
      |peak AS (
      |  SELECT cust, CAST(max(w30) AS BIGINT) AS peak_30d,
      |    CAST(count(*) AS BIGINT) AS n_orders
      |  FROM anchored GROUP BY cust)
      |SELECT cust, peak_30d, n_orders
      |FROM peak WHERE peak_30d >= 4
      |ORDER BY peak_30d DESC, cust""".stripMargin) { (s, dir) =>
    val o = Tables.orders(s, dir).select(
      col("o_custkey").as("cust"), col("o_orderkey").as("k"),
      datediff(col("o_orderdate").cast("date"), lit("1970-01-01"))
        .cast("bigint").as("d"))
    val anchored = o.as("a")
      .join(o.select(col("cust").as("bc"), col("d").as("bd")).as("b"),
        col("bc") === col("a.cust") &&
          col("bd") >= col("a.d") && col("bd") <= col("a.d") + 29)
      .groupBy(col("a.cust").as("cust"), col("a.k").as("k"))
      .agg(count(lit(1)).as("w30"))
    anchored.groupBy(col("cust"))
      .agg(max(col("w30")).as("peak_30d"), count(lit(1)).as("n_orders"))
      .filter(col("peak_30d") >= 4)
      .orderBy(col("peak_30d").desc, col("cust"))
  }

  /** q253 — price/volume/mix variance decomposition (the FP&A
    * bridge): per nation, the year-over-year revenue delta between
    * pre-1998 and 1998+ orders splits into volume effect
    * (Δn · avg₁), price effect (n₂ · Δavg), and the residual that
    * closes the bridge exactly — rev₂ − rev₁ = vol + price + resid
    * BY CONSTRUCTION, so the decomposition is auditable instead of
    * approximately-explained (float bridges never close; integer
    * ones do, and the residual is precisely the truncation the avg
    * means absorbed). This is the "why did revenue move" waterfall
    * every finance review starts from — the reference's ETL feeds
    * exactly such reporting downstream.
    *
    * Exactness: cents are half-up floors; averages are truncating
    * int64 divs; every effect is a product/difference of int64 —
    * engine-identical, and the closure identity is pinned in
    * StatsQueriesSpec.
    *
    * Scale design (100 TB): one partial-aggregable pass builds both
    * periods' (nation, rev, n) rows simultaneously (conditional
    * aggregation — the fact table is scanned once, never
    * self-joined); the decomposition is row-local arithmetic on the
    * ≤|nation| frame. */
  val q253PriceVolumeMix: QueryDef = QueryDef(
    "q253_price_volume_mix",
    """WITH j AS (
      |  SELECT n.n_name AS nation,
      |    CASE WHEN o.o_orderdate < TIMESTAMP '1998-01-01' THEN 1 ELSE 2 END
      |      AS period,
      |    CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      |  FROM orders o
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN nation n ON c.c_nationkey = n.n_nationkey),
      |a AS (
      |  SELECT nation,
      |    CAST(sum(CASE WHEN period = 1 THEN cents ELSE 0 END) AS BIGINT)
      |      AS rev1,
      |    CAST(sum(CASE WHEN period = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |    CAST(sum(CASE WHEN period = 2 THEN cents ELSE 0 END) AS BIGINT)
      |      AS rev2,
      |    CAST(sum(CASE WHEN period = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2
      |  FROM j GROUP BY nation
      |  HAVING sum(CASE WHEN period = 1 THEN 1 ELSE 0 END) > 0
      |     AND sum(CASE WHEN period = 2 THEN 1 ELSE 0 END) > 0)
      |SELECT nation, rev1, rev2, n1, n2,
      |  (n2 - n1) * (rev1 // n1) AS vol_effect,
      |  n2 * (rev2 // n2 - rev1 // n1) AS price_effect,
      |  rev2 - rev1 - (n2 - n1) * (rev1 // n1)
      |    - n2 * (rev2 // n2 - rev1 // n1) AS resid
      |FROM a ORDER BY nation""".stripMargin) { (s, dir) =>
    val a = Tables.orders(s, dir)
      .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name").as("nation"),
        when(col("o_orderdate") < lit("1998-01-01").cast("timestamp"), 1)
          .otherwise(2).as("period"),
        expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").as("cents"))
      .groupBy(col("nation"))
      .agg(
        sum(when(col("period") === 1, col("cents")).otherwise(0L)).as("rev1"),
        sum(when(col("period") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("period") === 2, col("cents")).otherwise(0L)).as("rev2"),
        sum(when(col("period") === 2, 1L).otherwise(0L)).as("n2"))
      .filter(col("n1") > 0 && col("n2") > 0)
    a.select(col("nation"), col("rev1"), col("rev2"), col("n1"), col("n2"),
        expr("(n2 - n1) * (rev1 div n1)").as("vol_effect"),
        expr("n2 * (rev2 div n2 - rev1 div n1)").as("price_effect"),
        expr("rev2 - rev1 - (n2 - n1) * (rev1 div n1)" +
          " - n2 * (rev2 div n2 - rev1 div n1)").as("resid"))
      .orderBy("nation")
  }

  /** q263 — Herfindahl–Hirschman supplier-concentration index per
    * nation: Σ over suppliers of squared revenue share, plus the
    * equivalent number of equal-size suppliers (1/HHI) — the
    * procurement-risk audit ("is this nation's supply base one
    * whale?"). q133's Gini measures INEQUALITY of the distribution;
    * HHI measures CONCENTRATION mass and is the form antitrust and
    * supply-chain policies threshold on (0.25 = the DOJ line).
    *
    * Exactness: revenue is exact cents; Σ revₛ and Σ revₛ² accumulate
    * in DECIMAL(38)/HUGEINT (order-free); HHI = Σr²/(Σr)² and its
    * reciprocal are each ONE IEEE floor chain (the identical-digits
    * double conversion of exact integers), so no float ever sums.
    *
    * Scale design (100 TB): facts roll up to (nation, supplier)
    * grain in one partial-aggregable pass (supplier dim broadcast);
    * the moment pass collapses to ≤|nation| rows. No windows, no
    * collect. */
  val q263Hhi: QueryDef = QueryDef(
    "q263_hhi",
    """WITH sr AS (
      |  SELECT s.s_nationkey AS nk, l.l_suppkey AS supp,
      |    CAST(sum(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT))
      |      AS BIGINT) AS cents
      |  FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |  GROUP BY 1, 2),
      |a AS (
      |  SELECT nk, CAST(count(*) AS BIGINT) AS n_suppliers,
      |    sum(CAST(cents AS HUGEINT)) AS tot,
      |    sum(CAST(cents AS HUGEINT) * cents) AS sq
      |  FROM sr GROUP BY nk)
      |SELECT n.n_name AS nation, a.n_suppliers,
      |  CAST(a.tot AS BIGINT) AS rev_cents,
      |  CAST(floor(1000000.0 * CAST(a.sq AS DOUBLE) /
      |    (CAST(a.tot AS DOUBLE) * CAST(a.tot AS DOUBLE))) AS BIGINT)
      |    AS hhi_ppm,
      |  CAST(floor(1000.0 * CAST(a.tot AS DOUBLE) * CAST(a.tot AS DOUBLE) /
      |    CAST(a.sq AS DOUBLE)) AS BIGINT) AS eff_suppliers_milli
      |FROM a JOIN nation n ON a.nk = n.n_nationkey
      |WHERE a.tot > 0
      |ORDER BY nation""".stripMargin) { (s, dir) =>
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    // no broadcast hint on supplier: it is an SF-SCALED dim (10k rows
    // per TPC-H SF — ~1B at 100 TB), so the hint would force an OOM at
    // scale; AQE still picks broadcast at bench scale where it fits
    val sr = Tables.lineitem(s, dir)
      .join(Tables.supplier(s, dir)
        .select(col("s_suppkey"), col("s_nationkey").as("nk")),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("nk"), col("l_suppkey").as("supp"))
      .agg(sum(floor(col("l_extendedprice") * 100 + 0.5).cast("bigint"))
        .as("cents"))
    val a = sr.groupBy(col("nk"))
      .agg(count(lit(1)).as("n_suppliers"), sum(dec(col("cents"))).as("tot"),
        sum(dec(col("cents")) * col("cents")).as("sq"))
    val totd = col("tot").cast("double")
    a.join(broadcast(Tables.nation(s, dir)
        .select(col("n_nationkey"), col("n_name").as("nation"))),
        col("nk") === col("n_nationkey"))
      .filter(col("tot") > 0)
      .select(col("nation"), col("n_suppliers"),
        col("tot").cast("bigint").as("rev_cents"),
        floor(lit(1000000.0) * col("sq").cast("double") /
            nullif(totd * totd, lit(0d)))
          .cast("bigint").as("hhi_ppm"),
        floor(lit(1000.0) * totd * totd / nullif(col("sq").cast("double"), lit(0d)))
          .cast("bigint").as("eff_suppliers_milli"))
      .orderBy("nation")
  }

  /** q271 — largest-remainder (Hamilton) rebate proration: a 5%
    * order-level rebate is spread across the order's lines
    * proportionally to line value, in EXACT cents — floor every
    * share, then hand the leftover cents (strictly fewer than the
    * line count) to the lines with the largest dropped fractional
    * part, ties to the lowest line number, then to the smallest line
    * value (a repeated line number can carry two values with the same
    * fractional part; any tie left after that is between lines equal
    * in every output column but `bumped`). This is the allocation
    * step every finance ETL needs where q253's bridge only AUDITS:
    * naive rounding leaks cents (Σ lines ≠ header) and the GL never
    * reconciles; Hamilton closure is the fix, and the closure
    * Σ alloc = rebate holds exactly for every order BY CONSTRUCTION
    * (pinned in the spec).
    *
    * Exactness: pure int64 arithmetic — shares are (R·eᵢ) div E with
    * remainder rank on (R·eᵢ) mod E (all non-negative, so div ≡ //);
    * the bump rank is a per-order window (≤ lines-per-order rows).
    * Output is the deterministic orderkey % 10 = 1 slice so the gate
    * stays line-grained without hashing the whole fact table.
    *
    * Scale design (100 TB): one shuffle to (order) grain for E and R,
    * broadcast-free equi-join back on orderkey, and the remainder
    * rank partitions BY ORDER — unbounded key cardinality, every
    * task bounded by lines-per-order. No global windows, no
    * collect. */
  val q271Proration: QueryDef = QueryDef(
    "q271_proration",
    """WITH li AS (
      |  SELECT l_orderkey AS ok, l_linenumber AS ln2,
      |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS e
      |  FROM lineitem),
      |hdr AS (
      |  SELECT li.ok, CAST(sum(e) AS BIGINT) AS etot,
      |    CAST(sum(e) AS BIGINT) // 20 AS rebate
      |  FROM li GROUP BY li.ok),
      |base AS (
      |  SELECT li.ok, li.ln2, li.e, h.rebate,
      |    (h.rebate * li.e) // h.etot AS a0,
      |    (h.rebate * li.e) % h.etot AS frac,
      |    h.etot
      |  FROM li JOIN hdr h ON li.ok = h.ok
      |  WHERE h.etot > 0),
      |rk AS (
      |  SELECT *, row_number() OVER (PARTITION BY ok
      |    ORDER BY frac DESC, ln2, e) AS r,
      |    rebate - CAST(sum(a0) OVER (PARTITION BY ok) AS BIGINT) AS short
      |  FROM base)
      |SELECT ok AS orderkey, CAST(ln2 AS BIGINT) AS linenumber,
      |  e AS line_cents, rebate AS rebate_cents,
      |  a0 + CASE WHEN r <= short THEN 1 ELSE 0 END AS alloc_cents,
      |  CAST(CASE WHEN r <= short THEN 1 ELSE 0 END AS BIGINT) AS bumped
      |FROM rk WHERE ok % 10 = 1
      |ORDER BY orderkey, linenumber""".stripMargin) { (s, dir) =>
    val li = Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("ok"),
        col("l_linenumber").cast("bigint").as("ln2"),
        floor(col("l_extendedprice") * 100 + 0.5).cast("bigint").as("e"))
    val hdr = li.groupBy(col("ok"))
      .agg(sum(col("e")).as("etot"), expr("sum(e) div 20").as("rebate"))
    val base = li.join(hdr, Seq("ok"))
      .filter(col("etot") > 0)
      .select(col("ok"), col("ln2"), col("e"), col("rebate"),
        expr("(rebate * e) div etot").as("a0"),
        expr("(rebate * e) % etot").as("frac"))
    val w = Window.partitionBy(col("ok"))
    val rk = base
      .withColumn("r", row_number().over(w.orderBy(col("frac").desc, col("ln2"), col("e"))))
      .withColumn("short", col("rebate") - sum(col("a0")).over(w))
    rk.filter(col("ok") % 10 === 1)
      .select(col("ok").as("orderkey"), col("ln2").as("linenumber"),
        col("e").as("line_cents"), col("rebate").as("rebate_cents"),
        (col("a0") + when(col("r") <= col("short"), 1L).otherwise(0L))
          .as("alloc_cents"),
        when(col("r") <= col("short"), 1L).otherwise(0L).as("bumped"))
      .orderBy("orderkey", "linenumber")
  }

  /** q282 — recency-decayed part leaderboard: every lineitem's
    * revenue is weighted by a dyadic half-life decay (halved per 30
    * days of age, floored at 2⁻⁴⁰ ≈ never-counted) and the top-10
    * parts by DECAYED revenue sit next to each part's ALL-TIME rank
    * — the "what's hot now" ranking that a raw total hides (a part
    * that peaked years ago outranks a rising one forever on
    * lifetime revenue). The dyadic weights are the q170 EWMA trick
    * applied to a leaderboard: exact integers, no float decay chain.
    *
    * Exactness: age buckets are integer day floor-divs; the weight
    * is the exact integer 2^(40 − age30) (zero beyond the floor);
    * decayed mass is Σ cents·weight in DECIMAL/HUGEINT; both ranks
    * are TakeOrdered top-k with partkey tiebreaks; the reported
    * decayed revenue is scaled back by 2⁴⁰ via one integer
    * floor-div.
    *
    * Scale design (100 TB): one partial-aggregable pass to part
    * grain carrying both masses; the decayed leaderboard is a
    * TakeOrdered top-10 heap; the all-time rank rides
    * [[ScaleRank.withRowNumber]] over the part grain (bounded
    * range-chunk tasks — never a global sort) and joins the 10-row
    * board on the part key. */
  val q282DecayedTopk: QueryDef = QueryDef(
    "q282_decayed_topk",
    """WITH mx AS (SELECT CAST(max(l_shipdate) AS DATE) AS maxd FROM lineitem),
      |f AS (
      |  SELECT l_partkey AS part,
      |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents,
      |    least(40, date_diff('day', CAST(l_shipdate AS DATE), mx.maxd) // 30)
      |      AS age30
      |  FROM lineitem, mx),
      |g AS (
      |  SELECT part,
      |    sum(CAST(cents AS HUGEINT) *
      |        CASE WHEN age30 >= 40 THEN CAST(0 AS HUGEINT)
      |          ELSE CAST(power(2, 40 - age30) AS HUGEINT) END) AS dmass,
      |    CAST(sum(cents) AS BIGINT) AS raw_cents
      |  FROM f GROUP BY part),
      |dr AS (
      |  SELECT part, dmass, raw_cents,
      |    row_number() OVER (ORDER BY dmass DESC, part) AS drank
      |  FROM g),
      |rr AS (
      |  SELECT part, row_number() OVER (ORDER BY raw_cents DESC, part)
      |    AS all_time_rank
      |  FROM g)
      |SELECT CAST(dr.drank AS BIGINT) AS rank, dr.part,
      |  CAST(dr.dmass // 1099511627776 AS BIGINT) AS decayed_cents,
      |  dr.raw_cents, CAST(rr.all_time_rank AS BIGINT) AS all_time_rank
      |FROM dr JOIN rr ON dr.part = rr.part
      |WHERE dr.drank <= 10
      |ORDER BY rank""".stripMargin) { (s, dir) =>
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    val mx = Tables.lineitem(s, dir)
      .agg(max(col("l_shipdate")).cast("date").as("maxd"))
    val f = Tables.lineitem(s, dir)
      .crossJoin(broadcast(mx))
      .select(col("l_partkey").as("part"),
        floor(col("l_extendedprice") * 100 + 0.5).cast("bigint").as("cents"),
        least(lit(40L), expr(
          "datediff(maxd, cast(l_shipdate as date)) div 30")).as("age30"))
    val g = f.groupBy(col("part"))
      .agg(sum(dec(col("cents")) *
        when(col("age30") >= 40, dec(lit(0)))
          .otherwise(dec(pow(lit(2.0), lit(40) - col("age30")).cast("long"))))
        .as("dmass"),
        sum(col("cents")).as("raw_cents"))
      .ckpt() // feeds both leaderboards
    val dr = g.orderBy(col("dmass").desc, col("part")).limit(10)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("dmass").desc, col("part"))))
    val rr = ScaleRank.withRowNumber(g, Nil,
        Seq(col("raw_cents").desc, col("part")), "all_time_rank", "__n")
      .select(col("part"), col("all_time_rank"))
    dr.join(rr, Seq("part"))
      .select(col("rank").cast("bigint").as("rank"), col("part"),
        expr("cast(dmass div 1099511627776 as bigint)").as("decayed_cents"),
        col("raw_cents"),
        col("all_time_rank").cast("bigint").as("all_time_rank"))
      .orderBy("rank")
  }

  /** q292 — FIFO lot costing: match each part's returns (issues)
    * against its earlier shipments (receipt lots) in strict
    * first-in-first-out order and cost the matched quantity at the
    * consumed lot's price — the inventory-valuation step (COGS under
    * FIFO) that every costing engine needs and that plain SQL
    * famously makes hard. The classic formulation is a sequential
    * cursor; the set-based one used here is the INTERVAL-ALGEBRA
    * identity: give receipts and issues each a cumulative-quantity
    * interval [lo, hi) per part, and FIFO matching IS interval
    * overlap — lot i supplies issue j exactly
    * min(r.hi, i.hi) − max(r.lo, i.lo) units when the intervals
    * intersect.
    *
    * Exactness: quantities are integral (floor before BIGINT cast,
    * the q188 contract); lot value is exact cents; the matched cost
    * is mq·cents div q — integer division, identical in both
    * engines; every cumulative sum orders by the unique
    * (shipdate, orderkey, linenumber) triple.
    *
    * Scale design (100 TB): both cumulative windows are PARTITIONED
    * by part (never global); the match join is an EQUI-join on
    * partkey with the overlap predicate as a post-filter, so per-key
    * work is lots×issues of ONE part — bounded by per-part line
    * counts. If a single part's history outgrew a task, the standard
    * refinement is banding the cumulative axis (band = lo div B) into
    * an equi key — same plan shape, finer key. Top-25 is a
    * TakeOrdered heap. */
  val q292FifoCosting: QueryDef = {
    val win = "PARTITION BY l_partkey ORDER BY l_shipdate, l_orderkey, l_linenumber " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
    QueryDef(
      "q292_fifo_costing",
      s"""WITH r AS (
         |  SELECT l_partkey AS pk,
         |    CAST(floor(l_quantity) AS BIGINT) AS q,
         |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents,
         |    sum(CAST(floor(l_quantity) AS BIGINT)) OVER ($win)
         |      - CAST(floor(l_quantity) AS BIGINT) AS lo,
         |    sum(CAST(floor(l_quantity) AS BIGINT)) OVER ($win) AS hi
         |  FROM lineitem WHERE l_returnflag <> 'R'),
         |i AS (
         |  SELECT l_partkey AS pk,
         |    CAST(floor(l_quantity) AS BIGINT) AS q,
         |    sum(CAST(floor(l_quantity) AS BIGINT)) OVER ($win)
         |      - CAST(floor(l_quantity) AS BIGINT) AS lo,
         |    sum(CAST(floor(l_quantity) AS BIGINT)) OVER ($win) AS hi
         |  FROM lineitem WHERE l_returnflag = 'R'),
         |m AS (
         |  SELECT r.pk,
         |    least(r.hi, i.hi) - greatest(r.lo, i.lo) AS mq,
         |    r.cents, r.q
         |  FROM r JOIN i ON r.pk = i.pk AND r.lo < i.hi AND i.lo < r.hi),
         |iss AS (SELECT pk, CAST(sum(q) AS BIGINT) AS issued_qty FROM i GROUP BY pk),
         |a AS (
         |  SELECT pk, CAST(sum(mq) AS BIGINT) AS matched_qty,
         |    CAST(sum(mq * cents // q) AS BIGINT) AS cogs_cents,
         |    CAST(count(*) AS BIGINT) AS n_matches
         |  FROM m GROUP BY pk)
         |SELECT a.pk AS partkey, iss.issued_qty, a.matched_qty, a.cogs_cents,
         |  a.n_matches
         |FROM a JOIN iss ON a.pk = iss.pk
         |ORDER BY cogs_cents DESC, partkey LIMIT 25""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("pk"))
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      def lots(flagPred: org.apache.spark.sql.Column) = Tables.lineitem(s, dir)
        .filter(flagPred)
        .select(col("l_partkey").as("pk"),
          floor(col("l_quantity")).cast("bigint").as("q"),
          floor(col("l_extendedprice") * 100 + 0.5).cast("bigint").as("cents"),
          col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
        .withColumn("hi", sum(col("q")).over(w))
        .withColumn("lo", col("hi") - col("q"))
      val r = lots(col("l_returnflag") =!= "R")
        .select(col("pk"), col("q"), col("cents"), col("lo"), col("hi"))
      val i = lots(col("l_returnflag") === "R")
        .select(col("pk").as("ipk"), col("q").as("iq"),
          col("lo").as("ilo"), col("hi").as("ihi"))
      val m = r.join(i, col("pk") === col("ipk") &&
          col("lo") < col("ihi") && col("ilo") < col("hi"))
        .select(col("pk"),
          (least(col("hi"), col("ihi")) - greatest(col("lo"), col("ilo"))).as("mq"),
          col("cents"), col("q"))
      val iss = i.groupBy(col("ipk").as("pk"))
        .agg(sum(col("iq")).as("issued_qty"))
      val a = m.groupBy(col("pk"))
        .agg(sum(col("mq")).as("matched_qty"),
          sum(expr("mq * cents div q")).as("cogs_cents"),
          count(lit(1)).as("n_matches"))
      a.join(iss, Seq("pk"))
        .select(col("pk").as("partkey"), col("issued_qty"), col("matched_qty"),
          col("cogs_cents"), col("n_matches"))
        .orderBy(col("cogs_cents").desc, col("partkey"))
        .limit(25)
    }
  }

  /** q314 — Hill tail-index estimate of the order-amount
    * distribution at three tail depths: α̂(k) = k / Σ_{i≤k}
    * ln(x_(i)/x_(k+1)) over the k largest amounts (Hill 1975) — the
    * heavy-tail diagnostic behind capacity planning and fraud
    * thresholds (α ≤ 2 means infinite variance: percentile-based
    * alerts and mean-based forecasts are both broken). Reporting
    * k ∈ {50, 100, 200} side by side is the standard stability check
    * (a genuine power law gives a flat α̂(k) plateau; drift across k
    * flags a truncated or lognormal body instead).
    *
    * Exactness: amounts are half-up cents; the top-(k+1) slice is a
    * TakeOrdered (per-partition heaps) with orderkey tiebreak; each
    * ln(x_i/x_{k+1}) is ONE IEEE chain floored to nano-nats (terms
    * ≥ 0 since x_i ≥ x_{k+1}); α̂ is one integer cross-multiplied
    * floor-div, guarded against an all-ties zero denominator.
    *
    * Scale design (100 TB): ONE corpus pass feeds a TakeOrdered
    * top-201 heap; everything after (rank window, per-k thresholds,
    * the α̂ fold) runs on that ≤201-row literal-limited frame — the
    * rank window is single-partition by construction but its input
    * is bounded by the LIMIT above it (allowlisted). Output 3 rows. */
  val q314TailIndex: QueryDef = {
    val KS = Seq(50, 100, 200)
    val TOP = KS.max + 1
    QueryDef(
      "q314_tail_index",
      s"""WITH top AS (
         |  SELECT cents, rn FROM (
         |    SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
         |      o_orderkey,
         |      row_number() OVER (ORDER BY floor(o_totalprice * 100 + 0.5)
         |        DESC, o_orderkey) AS rn
         |    FROM orders) WHERE rn <= $TOP),
         |ks AS (SELECT CAST(unnest([${KS.mkString(", ")}]) AS BIGINT) AS k),
         |thr AS (
         |  SELECT ks.k, t.cents AS xmin
         |  FROM ks JOIN top t ON t.rn = ks.k + 1),
         |terms AS (
         |  SELECT thr.k, thr.xmin,
         |    CAST(floor(1e9 * ln(CAST(t.cents AS DOUBLE)
         |      / CAST(thr.xmin AS DOUBLE))) AS BIGINT) AS ln_nn
         |  FROM thr JOIN top t ON t.rn <= thr.k)
         |SELECT k, CAST(max(xmin) AS BIGINT) AS xmin_cents,
         |  CASE WHEN sum(ln_nn) > 0
         |    THEN CAST((k * 1000000000000) // CAST(sum(ln_nn) AS HUGEINT)
         |      AS BIGINT) END AS hill_milli
         |FROM terms GROUP BY k ORDER BY k""".stripMargin) { (s, dir) =>
      import s.implicits._
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("cents").desc, col("o_orderkey"))
      val top = Tables.orders(s, dir)
        .select(expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")
          .as("cents"), col("o_orderkey"))
        .orderBy(col("cents").desc, col("o_orderkey"))
        .limit(TOP) // TakeOrdered heap bounds the window input below
        .withColumn("rn", row_number().over(w))
        .ckpt() // ≤201 rows; feeds thresholds AND terms
      val ks = KS.map(_.toLong).toDF("k")
      val thr = broadcast(ks.join(top, col("rn") === col("k") + 1)
        .select(col("k"), col("cents").as("xmin")))
      thr.join(top, col("rn") <= col("k"))
        .select(col("k"), col("xmin"),
          // xmin = 0 on an all-zero-amount corpus: ANSI double
          // division throws where the oracle's 0/0 natively NULLs
          // through ln/floor — emit the same NULL (degenerate probe)
          when(col("xmin") =!= 0,
            floor(lit(1e9) * log(col("cents").cast("double") /
              col("xmin").cast("double"))).cast("bigint")).as("ln_nn"))
        .groupBy(col("k"))
        .agg(max(col("xmin")).cast("bigint").as("xmin_cents"),
          sum(col("ln_nn")).as("sl"))
        .select(col("k"), col("xmin_cents"),
          when(col("sl") > 0,
            expr("CAST((k * 1000000000000) div sl AS BIGINT)"))
            .as("hill_milli"))
        .orderBy("k")
    }
  }

  /** q352 — historical Value-at-Risk and Expected Shortfall of the
    * daily revenue P&L (RiskMetrics '96 / Basel ES): day-over-day
    * revenue deltas become a loss series; VaR_α is the EXACT α order
    * statistic of losses (no interpolation — rank-selected, the
    * regulatory historical-simulation convention) and ES_α is the
    * exact mean of the tail at-or-beyond VaR. Reported at α = 95% and
    * 99%. Complements q193 (drawdown — path risk) and q314 (Hill
    * index — tail SHAPE): this is the tail MAGNITUDE certificate.
    *
    * Exactness: losses are exact cents; the rank is
    * (α·n + 999) div 1000 (ceiling of α·n, non-negative); the tail
    * mean comes from ONE equi join at rank = rk plus the running
    * prefix sum — tail_sum = total − prefix + loss@rk, all integer;
    * the final mean is an IEEE floor chain (losses go negative, so
    * integer div's truncation-vs-floor divergence is avoided
    * entirely).
    *
    * Scale design (100 TB): the fact table collapses to the day axis
    * once (partial-aggregable); the lag/rank/prefix windows run over
    * that calendar-bounded frame (adjudicated in the plan sweep, the
    * q118/q178 shape); alphas are a 2-row literal frame; the tail is
    * closed-form from the prefix sum — no non-equi join, no tail
    * materialization. Output 2 rows. */
  val q352VarEs: QueryDef = {
    val alphas = Seq(950L, 990L)
    val esChain = "CAST(floor(CAST(tail_sum AS DOUBLE) / " +
      "CAST(n_tail AS DOUBLE)) AS BIGINT)"
    QueryDef(
      "q352_var_es",
      s"""WITH ${DayAxis.revCentsEpochSql()},
         |pnl AS (
         |  SELECT d, rev - lag(rev) OVER (ORDER BY d) AS p
         |  FROM daily),
         |loss AS (SELECT d, -p AS l FROM pnl WHERE p IS NOT NULL),
         |ranked AS (
         |  SELECT l, CAST(row_number() OVER (ORDER BY l, d) AS BIGINT) AS rn,
         |    CAST(sum(l) OVER (ORDER BY l, d
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS prefix
         |  FROM loss),
         |nt AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(l) AS BIGINT) AS total FROM loss),
         |aa AS (
         |  SELECT alpha_milli, n, total,
         |    (alpha_milli * n + 999) // 1000 AS rk
         |  FROM (SELECT CAST(unnest([${alphas.mkString(", ")}]) AS BIGINT)
         |        AS alpha_milli), nt),
         |pick AS (
         |  SELECT aa.alpha_milli, aa.n, r.l AS var_cents,
         |    aa.total - r.prefix + r.l AS tail_sum, aa.n - r.rn + 1 AS n_tail
         |  FROM aa JOIN ranked r ON r.rn = aa.rk)
         |SELECT alpha_milli, n AS n_days, var_cents,
         |  $esChain AS es_cents, n_tail
         |FROM pick ORDER BY alpha_milli""".stripMargin) { (s, dir) =>
      val daily = DayAxis.revCentsEpoch(s, dir)
      val wD = Window.orderBy(col("d"))
      val loss = daily
        .withColumn("p", col("rev") - lag(col("rev"), 1).over(wD))
        .filter(col("p").isNotNull)
        .select(col("d"), (-col("p")).as("l"))
      val wL = Window.orderBy(col("l"), col("d"))
      val ranked = loss
        .withColumn("rn", row_number().over(wL).cast("bigint"))
        .withColumn("prefix", sum(col("l")).over(
          wL.rowsBetween(Window.unboundedPreceding, 0)).cast("bigint"))
      val nt = loss.agg(count(lit(1)).as("n"),
        sum(col("l")).cast("bigint").as("total"))
      import s.implicits._
      val aa = broadcast(alphas.toDF("alpha_milli").crossJoin(nt)
        .withColumn("rk", expr("(alpha_milli * n + 999) div 1000")))
      aa.join(ranked, col("rk") === col("rn"))
        .select(col("alpha_milli"), col("n").as("n_days"),
          col("l").as("var_cents"),
          (col("total") - col("prefix") + col("l")).as("tail_sum"),
          (col("n") - col("rn") + 1).as("n_tail"))
        .select(col("alpha_milli"), col("n_days"), col("var_cents"),
          expr(esChain).as("es_cents"), col("n_tail"))
        .orderBy("alpha_milli")
    }
  }

  /** q357 — peaks-over-threshold GPD tail model of the daily loss
    * distribution (Pickands '75; the EVT half of the Basel toolkit):
    * exceedances over the exact q90 loss quantile are fit to a
    * Generalized Pareto by method of moments (ξ = ½(1 − m²/v),
    * β = ½m(1 + m²/v)) and the model-implied VaR₉₉ is reported NEXT
    * TO the empirical order statistic — the parametric-vs-empirical
    * agreement check a risk desk runs before trusting the model to
    * extrapolate beyond observed quantiles (q352 reads the empirical
    * tail; q314's Hill index reads its shape; this fits the
    * distribution and closes the loop).
    *
    * Exactness: the threshold and the empirical VaR are exact rank
    * selections (q352's machinery); exceedance moments are exact
    * integer sums in DECIMAL(38,0) (Σe² overflows int64 at cent
    * scale); ξ, β, and the implied quantile ride shared all-DOUBLE
    * chains — the power (k/(n·0.01))^ξ is exp(ξ·ln(·)), the q286
    * exp/ln portability contract, with the ξ=0 exponential-tail limit
    * guarded to a ln chain.
    *
    * Scale design (100 TB): identical to q352 — one fact collapse to
    * the calendar-bounded day axis, rank/lag windows on that bounded
    * frame (adjudicated), exceedance moments partial-aggregable, all
    * model arithmetic on 1-row frames. Output 1 row. */
  val q357PotGpd: QueryDef = {
    // moment chains over (k, s1, s2) exceedance sums and (n, u) —
    // m = s1/k, v = s2/k − m²
    val mD = "(CAST(s1 AS DOUBLE) / CAST(k AS DOUBLE))"
    val vD = s"(CAST(s2 AS DOUBLE) / CAST(k AS DOUBLE) - ($mD) * ($mD))"
    val xiD = s"(0.5 * (1.0 - ($mD) * ($mD) / ($vD)))"
    val betaD = s"(0.5 * ($mD) * (1.0 + ($mD) * ($mD) / ($vD)))"
    // (k / (n·0.01))^xi via exp/ln; xi = 0 → exponential tail
    val ratioD = "(CAST(k AS DOUBLE) / (CAST(n AS DOUBLE) * 0.01))"
    val var99D = s"CASE WHEN ($xiD) = 0.0 " +
      s"THEN CAST(u AS DOUBLE) + ($betaD) * ln($ratioD) " +
      s"ELSE CAST(u AS DOUBLE) + (($betaD) / ($xiD)) * " +
      s"(exp(($xiD) * ln($ratioD)) - 1.0) END"
    QueryDef(
      "q357_pot_gpd",
      s"""WITH ${DayAxis.revCentsEpochSql()},
         |pnl AS (SELECT d, rev - lag(rev) OVER (ORDER BY d) AS p FROM daily),
         |loss AS (SELECT d, -p AS l FROM pnl WHERE p IS NOT NULL),
         |ranked AS (
         |  SELECT l, CAST(row_number() OVER (ORDER BY l, d) AS BIGINT) AS rn
         |  FROM loss),
         |nt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM loss),
         |u AS (
         |  SELECT r.l AS u FROM ranked r, nt
         |  WHERE r.rn = (900 * nt.n + 999) // 1000),
         |emp AS (
         |  SELECT r.l AS var99_emp FROM ranked r, nt
         |  WHERE r.rn = (990 * nt.n + 999) // 1000),
         |exc AS (
         |  SELECT CAST(count(*) AS BIGINT) AS k,
         |    sum(CAST(loss.l - u.u AS HUGEINT)) AS s1,
         |    sum(CAST(loss.l - u.u AS HUGEINT) * (loss.l - u.u)) AS s2
         |  FROM loss, u WHERE loss.l > u.u)
         |SELECT nt.n AS n_days, u.u AS u_cents, exc.k AS n_exceed,
         |  CAST(floor($mD) AS BIGINT) AS mean_exc_cents,
         |  CAST(floor(1000000.0 * ($xiD)) AS BIGINT) AS xi_micro,
         |  CAST(floor($betaD) AS BIGINT) AS beta_cents,
         |  CAST(floor($var99D) AS BIGINT) AS var99_gpd_cents,
         |  emp.var99_emp AS var99_emp_cents
         |FROM nt, u, exc, emp""".stripMargin) { (s, dir) =>
      val daily = DayAxis.revCentsEpoch(s, dir)
      val wD = Window.orderBy(col("d"))
      val loss = daily
        .withColumn("p", col("rev") - lag(col("rev"), 1).over(wD))
        .filter(col("p").isNotNull)
        .select(col("d"), (-col("p")).as("l"))
      val wL = Window.orderBy(col("l"), col("d"))
      val ranked = loss
        .withColumn("rn", row_number().over(wL).cast("bigint"))
        .ckpt() // one ranked pass feeds threshold AND empirical VaR
      val nt = broadcast(loss.agg(count(lit(1)).as("n")))
      val u = broadcast(ranked.crossJoin(nt)
        .filter(expr("rn = (900 * n + 999) div 1000"))
        .select(col("l").as("u")))
      val emp = broadcast(ranked.crossJoin(nt)
        .filter(expr("rn = (990 * n + 999) div 1000"))
        .select(col("l").as("var99_emp")))
      val exc = loss.crossJoin(u)
        .filter(col("l") > col("u"))
        .select((col("l") - col("u")).as("e"))
        .agg(count(lit(1)).as("k"),
          sum(col("e").cast("decimal(19,0)")).as("s1"),
          sum(col("e").cast("decimal(19,0)") * col("e")).as("s2"))
      exc.crossJoin(nt).crossJoin(u).crossJoin(broadcast(emp))
        .select(col("n").as("n_days"), col("u").as("u_cents"),
          col("k").as("n_exceed"),
          expr(s"CAST(floor($mD) AS BIGINT)").as("mean_exc_cents"),
          expr(s"CAST(floor(1000000.0 * ($xiD)) AS BIGINT)").as("xi_micro"),
          expr(s"CAST(floor($betaD) AS BIGINT)").as("beta_cents"),
          expr(s"CAST(floor($var99D) AS BIGINT)").as("var99_gpd_cents"),
          col("var99_emp").as("var99_emp_cents"))
    }
  }

  /** q368 — Theil-T inequality decomposition of customer spend by
    * market segment (Theil '67): unlike Gini (q133), the Theil index
    * is EXACTLY additively decomposable — T = T_within + T_between —
    * so it answers the question Gini cannot: how much revenue
    * concentration lives INSIDE segments versus BETWEEN them (the
    * "is our whale problem a segment problem" audit). The identity
    * itself is the certificate: both sides are computed from
    * INDEPENDENT formulas (per-row logs vs the 5-row group frame)
    * and the spec pins their agreement within the flooring slop.
    *
    * Exactness: spends are exact cents; the per-row expansions
    * T = Σᵢ (xᵢ/S)·ln(xᵢ·n/S) and
    * T_within = Σᵢ (xᵢ/S)·ln(xᵢ·n_g/S_g) are each nano-floored PER
    * ROW before order-free HUGEINT/DECIMAL sums (q83 discipline);
    * T_between comes from the 5-row group frame the same way.
    *
    * Scale design (100 TB): one fact collapse to per-customer spend,
    * one equi-join to the segment dimension, group stats on the
    * ≤|segments| frame broadcast back — two partial-aggregable
    * passes, zero windows. Output 1 row. */
  val q368TheilDecomposition: QueryDef = {
    // per-row nano terms over (x, n, S) resp. (x, ng, sg)
    // nullif(…, 0): an all-zero-spend corpus zeroes the grand total s
    // (Theil is undefined on zero mass); ANSI Spark would throw on the
    // double division where DuckDB natively NULLs — nullif lands both
    // engines on the same NULL (shared strings, parsed by both)
    def termNano(nC: String, sC: String) =
      s"CAST(floor(1000000000.0 * " +
        s"(CAST(x AS DOUBLE) / nullif(CAST(s AS DOUBLE), 0)) * " +
        s"ln(CAST(x AS DOUBLE) * CAST($nC AS DOUBLE) / " +
        s"nullif(CAST($sC AS DOUBLE), 0))) AS BIGINT)"
    val betweenNano = "CAST(floor(1000000000.0 * " +
      "(CAST(sg AS DOUBLE) / nullif(CAST(s AS DOUBLE), 0)) * " +
      "ln((CAST(sg AS DOUBLE) * CAST(n AS DOUBLE)) / " +
      "nullif(CAST(s AS DOUBLE) * CAST(ng AS DOUBLE), 0))) AS BIGINT)"
    QueryDef(
      "q368_theil_decomposition",
      s"""WITH spend AS (
         |  SELECT o_custkey AS ck,
         |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
         |      AS BIGINT)) AS BIGINT) AS x
         |  FROM orders GROUP BY 1),
         |seg AS (
         |  SELECT sp.ck, sp.x, c.c_mktsegment AS g
         |  FROM spend sp JOIN customer c ON sp.ck = c.c_custkey),
         |gs AS (
         |  SELECT g, CAST(count(*) AS BIGINT) AS ng,
         |    CAST(sum(x) AS BIGINT) AS sg
         |  FROM seg GROUP BY 1),
         |nt AS (SELECT CAST(sum(ng) AS BIGINT) AS n,
         |  CAST(sum(sg) AS BIGINT) AS s FROM gs),
         |rows_t AS (
         |  SELECT sum(CAST(${termNano("nt.n", "nt.s")} AS HUGEINT)) AS t_nn,
         |    sum(CAST(${termNano("gs.ng", "gs.sg")} AS HUGEINT)) AS w_nn
         |  FROM seg JOIN gs ON seg.g = gs.g, nt),
         |bt AS (
         |  SELECT sum(CAST($betweenNano AS HUGEINT)) AS b_nn
         |  FROM gs, nt)
         |SELECT nt.n, (SELECT CAST(count(*) AS BIGINT) FROM gs) AS k,
         |  CAST(floor(CAST(rows_t.t_nn AS DOUBLE) / 1000.0) AS BIGINT)
         |    AS theil_micro,
         |  CAST(floor(CAST(rows_t.w_nn AS DOUBLE) / 1000.0) AS BIGINT)
         |    AS within_micro,
         |  CAST(floor(CAST(bt.b_nn AS DOUBLE) / 1000.0) AS BIGINT)
         |    AS between_micro
         |FROM nt, rows_t, bt""".stripMargin) { (s, dir) =>
      val spend = Tables.orders(s, dir)
        .groupBy(col("o_custkey").as("ck"))
        .agg(sum((col("o_totalprice").cast("decimal(12,2)") * 100)
          .cast("bigint")).cast("bigint").as("x"))
      val seg = spend.join(Tables.customer(s, dir)
          .select(col("c_custkey").as("ck"), col("c_mktsegment").as("g")),
        Seq("ck"))
      val gs = seg.groupBy(col("g"))
        .agg(count(lit(1)).as("ng"), sum(col("x")).cast("bigint").as("sg"))
        .ckpt() // the 5-row group frame feeds rows AND between
      val nt = broadcast(gs.agg(sum(col("ng")).cast("bigint").as("n"),
        sum(col("sg")).cast("bigint").as("s")))
      val rowsT = seg.join(broadcast(gs), Seq("g")).crossJoin(nt)
        .select(expr(termNano("n", "s")).cast("decimal(38,0)").as("tt"),
          expr(termNano("ng", "sg")).cast("decimal(38,0)").as("tw"))
        .agg(sum(col("tt")).as("t_nn"), sum(col("tw")).as("w_nn"))
      val bt = gs.crossJoin(nt)
        .select(expr(betweenNano).cast("decimal(38,0)").as("tb"))
        .agg(sum(col("tb")).as("b_nn"))
      val kf = broadcast(gs.agg(count(lit(1)).as("k")))
      nt.crossJoin(broadcast(rowsT)).crossJoin(broadcast(bt)).crossJoin(kf)
        .select(col("n"), col("k"),
          expr("CAST(floor(CAST(t_nn AS DOUBLE) / 1000.0) AS BIGINT)")
            .as("theil_micro"),
          expr("CAST(floor(CAST(w_nn AS DOUBLE) / 1000.0) AS BIGINT)")
            .as("within_micro"),
          expr("CAST(floor(CAST(b_nn AS DOUBLE) / 1000.0) AS BIGINT)")
            .as("between_micro"))
    }
  }

  /** Shared VaR-backtest frame (q412 + q413): the day-over-day loss
    * series split at its midpoint — VaR₉₅ is the exact rank-selected
    * order statistic of the FIRST half (the estimation window), and
    * the violation indicator sequence lives on the SECOND half (the
    * true out-of-sample backtest — q352 reads the in-sample tail;
    * these two tests judge whether that tail would have HELD). Exact
    * integers end to end: cents losses, ceiling-rank selection,
    * 0/1 violations on the indexed second-half axis. */
  private def varBacktestFrame(s: SparkSession, dir: String): DataFrame = {
    val daily = DayAxis.revCentsEpoch(s, dir)
    val ax = ScaleRank.withRowNumber(daily, Seq.empty, Seq(col("d")), "t",
      "nd")
    val loss = ax.select(col("t").as("ta"), col("rev").as("ra"), col("nd"))
      .join(ax.select(col("t").as("tb"), col("rev").as("rb")),
        col("tb") === col("ta") + 1)
      .select((col("ta")).as("i"), (col("ra") - col("rb")).as("l"),
        (col("nd") - 1).as("nl"))
      .ckpt() // calendar-bounded loss frame: split + rank + backtest
    val half = loss.select(col("i").as("hi"), col("l").as("hl"))
      .crossJoin(broadcast(loss.agg(max(col("nl")).as("n"))))
      .filter(col("hi") <= expr("n div 2"))
    val ranked = ScaleRank.withRowNumber(half, Seq.empty,
      Seq(col("hl"), col("hi")), "rn", "nh")
    val varq = ranked
      .filter(col("rn") === expr("(950 * nh + 999) div 1000"))
      .select(col("hl").as("var95_cents"))
    loss.crossJoin(broadcast(loss.agg(max(col("nl")).as("n"))))
      .filter(col("i") > expr("n div 2"))
      .crossJoin(broadcast(varq))
      .select(col("i"), col("n"),
        when(col("l") > col("var95_cents"), 1L).otherwise(0L).as("v"),
        col("var95_cents"))
  }

  private def varBacktestSql: String =
    s"""${DayAxis.revCentsEpochSql()},
       |${DayAxis.axSql()},
       |loss AS (
       |  SELECT a.t AS i, a.rev - b.rev AS l
       |  FROM ax a JOIN ax b ON b.t = a.t + 1),
       |nl AS (SELECT CAST(count(*) AS BIGINT) AS n FROM loss),
       |ranked AS (
       |  SELECT hl, CAST(row_number() OVER (ORDER BY hl, hi) AS BIGINT)
       |    AS rn, CAST(count(*) OVER () AS BIGINT) AS nh
       |  FROM (SELECT loss.i AS hi, loss.l AS hl FROM loss, nl
       |        WHERE loss.i <= nl.n // 2)),
       |varq AS (
       |  SELECT hl AS var95_cents FROM ranked
       |  WHERE rn = (950 * nh + 999) // 1000),
       |bt AS (
       |  SELECT loss.i, nl.n,
       |    CASE WHEN loss.l > varq.var95_cents THEN 1 ELSE 0 END AS v,
       |    varq.var95_cents
       |  FROM loss, nl, varq WHERE loss.i > nl.n // 2)""".stripMargin

  /** q412 — Kupiec proportion-of-failures VaR backtest (Kupiec '95):
    * estimate VaR₉₅ on the first half of the loss history, count
    * violations on the held-out second half, and likelihood-ratio
    * test the violation RATE against the promised 5%:
    * LR = −2[(n−x)ln(1−p) + x·ln p − (n−x)ln(1−x̂) − x·ln x̂],
    * x̂ = x/n — the regulatory "did the model keep its coverage
    * promise" certificate (χ²₁, 5% critical 3.841) that q352's
    * in-sample tail read cannot answer.
    *
    * Exactness: the split, rank selection, and violation counts are
    * exact integers (see [[varBacktestFrame]]); LR is ONE guarded
    * IEEE chain over (n, x), with the x = 0 / x = n boundary handled
    * by the 0·ln 0 = 0 convention in BOTH engines via CASE.
    *
    * Scale design (100 TB): one fact collapse to the calendar-bounded
    * day axis; one lag join, one distributed rank, one count.
    * Output 1 row. */
  val q412KupiecPof: QueryDef = {
    val lr = "(-2.0e0) * (" +
      "(CAST(n2 AS DOUBLE) - x) * ln(0.95e0) + " +
      "CAST(x AS DOUBLE) * ln(0.05e0) - " +
      "(CASE WHEN x < n2 THEN (CAST(n2 AS DOUBLE) - x) * " +
      "ln(1.0e0 - CAST(x AS DOUBLE) / CAST(n2 AS DOUBLE)) " +
      "ELSE 0.0e0 END) - " +
      "(CASE WHEN x > 0 THEN CAST(x AS DOUBLE) * " +
      "ln(CAST(x AS DOUBLE) / CAST(n2 AS DOUBLE)) ELSE 0.0e0 END))"
    QueryDef(
      "q412_kupiec_pof",
      s"""WITH $varBacktestSql,
         |cnt AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n2,
         |    CAST(sum(v) AS BIGINT) AS x,
         |    max(var95_cents) AS var95_cents
         |  FROM bt)
         |SELECT n2 AS n_backtest, x AS n_violations, var95_cents,
         |  CAST(floor(1000.0e0 * $lr) AS BIGINT) AS lr_milli,
         |  CASE WHEN floor(1000.0e0 * $lr) > 3841 THEN 1 ELSE 0 END
         |    AS reject_5pct
         |FROM cnt WHERE n2 > 0""".stripMargin) { (s, dir) =>
      val bt = varBacktestFrame(s, dir)
      bt.agg(count(lit(1)).cast("bigint").as("n2"),
          sum(col("v")).cast("bigint").as("x"),
          max(col("var95_cents")).as("var95_cents"))
        .filter(col("n2") > 0)
        .select(col("n2").as("n_backtest"), col("x").as("n_violations"),
          col("var95_cents"),
          expr(s"CAST(floor(1000.0e0 * $lr) AS BIGINT)").as("lr_milli"),
          expr(s"CASE WHEN floor(1000.0e0 * $lr) > 3841 THEN 1 ELSE 0 END")
            .as("reject_5pct"))
    }
  }

  /** q413 — Christoffersen independence test (Christoffersen '98) on
    * the same held-out violation sequence: do violations CLUSTER?
    * Kupiec (q412) checks the rate; a model can pass it while every
    * violation arrives in one losing streak — exactly the failure
    * mode that breaks a desk. LR_ind compares the first-order Markov
    * fit (π₀₁, π₁₁) against the iid fit (π):
    * LR = −2[(n₀₀+n₁₀)ln(1−π) + (n₀₁+n₁₁)ln π − n₀₀ln(1−π₀₁)
    * − n₀₁ln π₀₁ − n₁₀ln(1−π₁₁) − n₁₁ln π₁₁] (χ²₁).
    *
    * Exactness: transition counts come from ONE consecutive-index
    * equi self-join of the violation frame — exact integers; LR is
    * ONE guarded IEEE chain with every 0·ln 0 term CASE-zeroed
    * identically in both engines.
    *
    * Scale design (100 TB): the [[varBacktestFrame]] plan plus one
    * equi lag join of the calendar-bounded frame. Output 1 row. */
  val q413Christoffersen: QueryDef = {
    def term(cnt: String, prob: String) =
      s"(CASE WHEN $cnt > 0 AND $prob > 0.0e0 THEN CAST($cnt AS DOUBLE) " +
        s"* ln($prob) ELSE 0.0e0 END)"
    // nullif: a violation-free (or violation-only) backtest empties a
    // Markov transition row (n10 + n11 = 0 on the degenerate corpus) —
    // the CASE guard must see prob as NULL, not crash computing it
    // under ANSI; DuckDB's 0/0 is natively NULL, nullif makes Spark
    // agree through the same shared string
    val pi = "(CAST(n01 + n11 AS DOUBLE) / " +
      "nullif(CAST(n00 + n01 + n10 + n11 AS DOUBLE), 0))"
    val p01 = "(CAST(n01 AS DOUBLE) / nullif(CAST(n00 + n01 AS DOUBLE), 0))"
    val p11 = "(CAST(n11 AS DOUBLE) / nullif(CAST(n10 + n11 AS DOUBLE), 0))"
    val lr = s"(-2.0e0) * (" +
      term("(n00 + n10)", s"(1.0e0 - $pi)") + " + " +
      term("(n01 + n11)", pi) + " - " +
      term("n00", s"(1.0e0 - $p01)") + " - " +
      term("n01", p01) + " - " +
      term("n10", s"(1.0e0 - $p11)") + " - " +
      term("n11", p11) + ")"
    QueryDef(
      "q413_christoffersen",
      s"""WITH $varBacktestSql,
         |tr AS (
         |  SELECT
         |    CAST(sum(CASE WHEN a.v = 0 AND b.v = 0 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n00,
         |    CAST(sum(CASE WHEN a.v = 0 AND b.v = 1 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n01,
         |    CAST(sum(CASE WHEN a.v = 1 AND b.v = 0 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n10,
         |    CAST(sum(CASE WHEN a.v = 1 AND b.v = 1 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n11
         |  FROM bt a JOIN bt b ON b.i = a.i + 1)
         |SELECT n00, n01, n10, n11,
         |  CAST(floor(1000.0e0 * $lr) AS BIGINT) AS lr_milli,
         |  CASE WHEN floor(1000.0e0 * $lr) > 3841 THEN 1 ELSE 0 END
         |    AS reject_5pct
         |FROM tr WHERE n00 + n01 + n10 + n11 > 0""".stripMargin) {
      (s, dir) =>
      val bt = varBacktestFrame(s, dir).ckpt() // both lag-join sides
      val tr = bt.select(col("i").as("ia"), col("v").as("va"))
        .join(bt.select(col("i").as("ib"), col("v").as("vb")),
          col("ib") === col("ia") + 1)
        .agg(
          sum(when(col("va") === 0 && col("vb") === 0, 1L).otherwise(0L))
            .cast("bigint").as("n00"),
          sum(when(col("va") === 0 && col("vb") === 1, 1L).otherwise(0L))
            .cast("bigint").as("n01"),
          sum(when(col("va") === 1 && col("vb") === 0, 1L).otherwise(0L))
            .cast("bigint").as("n10"),
          sum(when(col("va") === 1 && col("vb") === 1, 1L).otherwise(0L))
            .cast("bigint").as("n11"))
      tr.filter(col("n00") + col("n01") + col("n10") + col("n11") > 0)
        .select(col("n00"), col("n01"), col("n10"), col("n11"),
          expr(s"CAST(floor(1000.0e0 * $lr) AS BIGINT)").as("lr_milli"),
          expr(s"CASE WHEN floor(1000.0e0 * $lr) > 3841 THEN 1 ELSE 0 END")
            .as("reject_5pct"))
    }
  }

  val all: Seq[QueryDef] = Seq(
    q188DupCharge, q189ParetoAbc, q192Vwap, q193Drawdown, q194Aging,
    q195RoundBias, q210DiffInDiff, q211AbcXyz, q214LedgerRegister,
    q218WeeklyKpi, q222VelocityScreen, q253PriceVolumeMix, q263Hhi,
    q271Proration, q282DecayedTopk, q292FifoCosting, q314TailIndex,
    q352VarEs, q357PotGpd, q368TheilDecomposition,
    q412KupiecPof, q413Christoffersen)
}
