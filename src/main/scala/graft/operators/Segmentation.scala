package graft.operators

import graft.CkptOps

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** RFM segmentation — the classic customer-analytics operator: score
  * every customer by Recency (days since last order), Frequency
  * (order count), and Monetary (total spend), quartile each dimension,
  * and report the resulting 4×4×4 segment grid.
  *
  * Scale design: the fact table collapses to one row per customer in
  * a single partial-aggregable pass; the quartiles then run over the
  * CUSTOMER table, not the facts — and NOT as global ntile windows
  * (a single-task sort at scale) but through [[ScaleRank]]: exact
  * two-level distributed rank (range-chunk local row_number +
  * broadcast chunk offsets) feeding the closed-form ntile formula.
  * Every task is bounded by a range chunk (~customers/P) at any
  * scale, and the output is byte-identical to the ntile window the
  * oracle still uses.
  *
  * Determinism: every ntile ORDER BY carries the custkey tiebreaker;
  * money flows through DECIMAL(18,2) sums and rounds before the final
  * double cast. */
object Segmentation {

  val q119Rfm: QueryDef = QueryDef(
    "q119_rfm",
    """WITH m AS (SELECT CAST(max(o_orderdate) AS DATE) AS maxd FROM orders),
      |r AS (
      |  SELECT o_custkey AS cust,
      |    CAST(count(*) AS BIGINT) AS freq,
      |    CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS monetary,
      |    CAST(max(o_orderdate) AS DATE) AS lastd
      |  FROM orders GROUP BY o_custkey),
      |q AS (
      |  SELECT cust, freq, monetary,
      |    ntile(4) OVER (ORDER BY date_diff('day', lastd, m.maxd), cust) AS rq,
      |    ntile(4) OVER (ORDER BY freq DESC, cust) AS fq,
      |    ntile(4) OVER (ORDER BY monetary DESC, cust) AS mq
      |  FROM r, m)
      |SELECT CAST(rq * 100 + fq * 10 + mq AS BIGINT) AS segment,
      |  CAST(count(*) AS BIGINT) AS n_customers,
      |  CAST(round(sum(CAST(monetary AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_m
      |FROM q GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    val orders = Tables.orders(s, dir)
    val m = orders.agg(max(col("o_orderdate")).cast("date").as("maxd"))
    val r = orders.groupBy(col("o_custkey").as("cust"))
      .agg(
        count(lit(1)).as("freq"),
        round(sum(col("o_totalprice").cast("decimal(18,2)")), 2)
          .cast("double").as("monetary"),
        max(col("o_orderdate")).cast("date").as("lastd"))
      .crossJoin(broadcast(m))
      .withColumn("rec_days", datediff(col("maxd"), col("lastd")))
    val ranked = Seq[(String, Seq[org.apache.spark.sql.Column])](
      "r" -> Seq(col("rec_days"), col("cust")),
      "f" -> Seq(col("freq").desc, col("cust")),
      "m" -> Seq(col("monetary").desc, col("cust"))
    ).foldLeft(r) { case (df, (p, sort)) =>
      ScaleRank.withRowNumber(df, Nil, sort, s"${p}rk", s"${p}n")
    }
    val q = ranked
      .withColumn("rq", ScaleRank.ntileFromRank(4, col("rrk"), col("rn")))
      .withColumn("fq", ScaleRank.ntileFromRank(4, col("frk"), col("fn")))
      .withColumn("mq", ScaleRank.ntileFromRank(4, col("mrk"), col("mn")))
    q.select((col("rq") * 100 + col("fq") * 10 + col("mq")).cast("bigint").as("segment"),
        col("monetary"))
      .groupBy(col("segment"))
      .agg(count(lit(1)).as("n_customers"),
        round(sum(col("monetary").cast("decimal(18,2)")), 2)
          .cast("double").as("total_m"))
      .orderBy("segment")
  }

  /** q133 — Gini concentration index per market segment: how unequal
    * is customer spend inside each segment? The standard inequality
    * audit (revenue concentration, whale detection), via the sorted
    * rank formula G = (2·Σrᵢxᵢ − (n+1)·Σx) / (n·Σx).
    *
    * Scale design: facts collapse to (segment, customer, cents) in
    * one shuffle; the rank is per SEGMENT — but c_mktsegment has only
    * 5 values, so a rank WINDOW would put ~1/5 of all customers in
    * one sort task at any scale. [[ScaleRank.withRowNumber]] computes
    * the identical rank with every task bounded by a range chunk;
    * the Gini itself is three int64 sums per segment (Σrx ≤
    * n²·maxspend — checked ≈ 10¹⁶ at sf1000, inside int64) and one
    * IEEE divide-floor chain. */
  val q133Gini: QueryDef = QueryDef(
    "q133_gini",
    """WITH sp AS (
      |  SELECT c.c_mktsegment AS seg, o.o_custkey AS cust,
      |    CAST(sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
      |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |  GROUP BY 1, 2),
      |r AS (
      |  SELECT seg, cents,
      |    row_number() OVER (PARTITION BY seg ORDER BY cents, cust, seg) AS rk
      |  FROM sp),
      |a AS (
      |  SELECT seg, CAST(count(*) AS BIGINT) AS n, CAST(sum(cents) AS BIGINT) AS tot,
      |    CAST(sum(rk * cents) AS BIGINT) AS src
      |  FROM r GROUP BY seg)
      |SELECT seg, n, tot,
      |  CAST(floor((CAST(2 * src - (n + 1) * tot AS DOUBLE) * 1000000.0) /
      |       CAST(n * tot AS DOUBLE)) AS BIGINT) AS gini_ppm
      |FROM a WHERE n * tot > 0 ORDER BY seg""".stripMargin) { (s, dir) =>
    // no broadcast hint: customer is an SF-scaled dim (150k/SF) — at
    // 100 TB it cannot be pinned broadcast; AQE picks broadcast
    // whenever the dim fits
    val sp = Tables.orders(s, dir)
      .join(Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment").as("seg")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("seg"), col("o_custkey").as("cust"))
      .agg(sum(floor(col("o_totalprice") * 100 + 0.5).cast("bigint")).as("cents"))
    // (seg, cust) is the aggregate's key: naming seg on the sort axis
    // too (constant within a group, so ranks are unchanged) keeps the
    // axis visibly unique where the two-level path partitions by a
    // chunk id and a struct of the group columns instead of seg itself
    ScaleRank.withRowNumber(sp, Seq("seg"), Seq(col("cents"), col("cust"), col("seg")),
        "rk", "n_in_seg")
      .groupBy(col("seg"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("tot"),
        sum(col("rk") * col("cents")).as("src"))
      .filter(col("n") * col("tot") > 0)
      .select(col("seg"), col("n"), col("tot"),
        floor(((lit(2L) * col("src") - (col("n") + 1) * col("tot")).cast("double") *
          lit(1000000.0)) / (col("n") * col("tot")).cast("double"))
          .cast("bigint").as("gini_ppm"))
      .orderBy("seg")
  }

  /** q262 — growth-accounting decomposition of monthly active
    * customers: every month's active count split exactly into new
    * (first-ever month), retained (also active last month), and
    * resurrected (active before, but not last month), plus the
    * churned-from-previous count — the canonical MAU waterfall
    * (new + retained + resurrected = active;
    * retained + churned = previous active; both identities exact by
    * construction, and the spec asserts them). q48's cohort
    * retention answers "how do cohorts decay"; this answers "where
    * did THIS month's number come from".
    *
    * Scale design (100 TB): facts collapse once to the distinct
    * (customer, month) activity frame — every downstream quantity is
    * an equi-join or aggregate on that frame: first-month is a
    * customer-grain min; retained is a self-join on
    * (customer, month−1); churned is previous-month active minus
    * retained, computed on the bounded month axis. No windows, no
    * anti-join scans of the fact table, no collect. */
  val q262GrowthAccounting: QueryDef = QueryDef(
    "q262_growth_accounting",
    """WITH um AS (
      |  SELECT DISTINCT o_custkey AS cust,
      |    CAST(date_trunc('month', o_orderdate) AS DATE) AS mo
      |  FROM orders),
      |fm AS (SELECT cust, min(mo) AS fmo FROM um GROUP BY cust),
      |act AS (SELECT mo, CAST(count(*) AS BIGINT) AS n_active FROM um GROUP BY mo),
      |nw AS (SELECT fmo AS mo, CAST(count(*) AS BIGINT) AS n_new FROM fm GROUP BY fmo),
      |ret AS (
      |  SELECT a.mo, CAST(count(*) AS BIGINT) AS n_retained
      |  FROM um a JOIN um b
      |    ON a.cust = b.cust AND b.mo = CAST(a.mo - INTERVAL 1 MONTH AS DATE)
      |  GROUP BY a.mo),
      |prev AS (
      |  SELECT CAST(mo + INTERVAL 1 MONTH AS DATE) AS mo,
      |    n_active AS n_prev
      |  FROM act)
      |SELECT act.mo, act.n_active,
      |  coalesce(nw.n_new, 0) AS n_new,
      |  coalesce(ret.n_retained, 0) AS n_retained,
      |  act.n_active - coalesce(nw.n_new, 0) - coalesce(ret.n_retained, 0)
      |    AS n_resurrected,
      |  coalesce(prev.n_prev, 0) - coalesce(ret.n_retained, 0) AS n_churned
      |FROM act
      |LEFT JOIN nw USING (mo)
      |LEFT JOIN ret USING (mo)
      |LEFT JOIN prev USING (mo)
      |ORDER BY act.mo""".stripMargin) { (s, dir) =>
    val um = Tables.orders(s, dir)
      .select(col("o_custkey").as("cust"),
        trunc(col("o_orderdate").cast("date"), "month").as("mo"))
      .distinct()
      .ckpt() // activity frame feeds four derivations
    val act = um.groupBy(col("mo")).agg(count(lit(1)).as("n_active"))
    val nw = um.groupBy(col("cust")).agg(min(col("mo")).as("mo"))
      .groupBy(col("mo")).agg(count(lit(1)).as("n_new"))
    val ret = um
      .join(um.select(col("cust"), add_months(col("mo"), 1).as("mo")),
        Seq("cust", "mo"))
      .groupBy(col("mo")).agg(count(lit(1)).as("n_retained"))
    val prev = act.select(add_months(col("mo"), 1).as("mo"),
      col("n_active").as("n_prev"))
    act
      .join(nw, Seq("mo"), "left")
      .join(ret, Seq("mo"), "left")
      .join(prev, Seq("mo"), "left")
      .select(col("mo"), col("n_active"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        coalesce(col("n_retained"), lit(0L)).as("n_retained"),
        (col("n_active") - coalesce(col("n_new"), lit(0L)) -
          coalesce(col("n_retained"), lit(0L))).as("n_resurrected"),
        (coalesce(col("n_prev"), lit(0L)) -
          coalesce(col("n_retained"), lit(0L))).as("n_churned"))
      .orderBy("mo")
  }

  /** q265 — cumulative-gains table over price-ranked orders: rank all
    * orders by total price (descending, orderkey tiebreaker), cut
    * into exact deciles, and report each decile's event ('F' status)
    * capture — the gains/lift curve that decides whether a score is
    * worth acting on ("the top 10% holds x% of all events"). q174
    * audits calibration (are the probabilities right?); this audits
    * TARGETING (how fast does acting in score order capture events?).
    *
    * Exactness: deciles are [[ScaleRank]]'s closed-form exact ntile
    * over (cents desc, orderkey) — byte-identical to the oracle's
    * ntile window; counts are int64 and gains/lift are non-negative
    * integer ppm floor-divs; the cumulative sum runs over the
    * 10-row decile frame via a bounded triangular self-join.
    *
    * Scale design (100 TB): one fact pass to (cents, key, y); the
    * rank is ScaleRank's two-level scheme (every task bounded by a
    * range chunk — no global sort task); everything after is a
    * ≤10-row frame. */
  val q265CumGains: QueryDef = QueryDef(
    "q265_cum_gains",
    """WITH f AS (
      |  SELECT o_orderkey AS k,
      |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
      |    CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
      |  FROM orders),
      |q AS (
      |  SELECT y, ntile(10) OVER (ORDER BY cents DESC, k) AS decile
      |  FROM f),
      |d AS (
      |  SELECT CAST(decile AS BIGINT) AS decile,
      |    CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(y) AS BIGINT) AS events
      |  FROM q GROUP BY 1),
      |t AS (
      |  SELECT CAST(sum(n) AS BIGINT) AS tot_n,
      |    CAST(sum(events) AS BIGINT) AS tot_events
      |  FROM d),
      |c AS (
      |  SELECT a.decile, a.n, a.events,
      |    CAST(sum(b.events) AS BIGINT) AS cum_events
      |  FROM d a JOIN d b ON b.decile <= a.decile
      |  GROUP BY a.decile, a.n, a.events)
      |SELECT c.decile, c.n, c.events, c.cum_events,
      |  (1000000 * c.cum_events) // t.tot_events AS gain_ppm,
      |  (1000000 * c.events * t.tot_n) // (c.n * t.tot_events) AS lift_ppm
      |FROM c, t WHERE t.tot_events > 0 ORDER BY c.decile""".stripMargin) {
    (s, dir) =>
    val f = Tables.orders(s, dir)
      .select(col("o_orderkey").as("k"),
        floor(col("o_totalprice") * 100 + 0.5).cast("bigint").as("cents"),
        when(col("o_orderstatus") === "F", 1L).otherwise(0L).as("y"))
    val ranked = ScaleRank.withRowNumber(f, Nil,
      Seq(col("cents").desc, col("k")), "rk", "nt")
    val d = ranked
      .withColumn("decile",
        ScaleRank.ntileFromRank(10, col("rk"), col("nt")).cast("bigint"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("events"))
      .ckpt() // 10 rows; feeds totals and the cumsum join
    val t = d.agg(sum(col("n")).as("tot_n"), sum(col("events")).as("tot_events"))
    val c = d.as("a")
      .join(broadcast(d.select(col("decile").as("d2"), col("events").as("e2"))),
        col("d2") <= col("decile"))
      .groupBy(col("decile"), col("n"), col("events"))
      .agg(sum(col("e2")).as("cum_events"))
    c.crossJoin(broadcast(t))
      .filter(col("tot_events") > 0)
      .select(col("decile"), col("n"), col("events"), col("cum_events"),
        expr("(1000000 * cum_events) div tot_events").as("gain_ppm"),
        expr("(1000000 * events * tot_n) div (n * tot_events)").as("lift_ppm"))
      .orderBy("decile")
  }

  /** q441 — value-segment migration matrix: score every customer's
    * spend tercile in the first half of the calendar (orders before
    * 1995-07-01) and again in the second half, and count customers
    * per (from-tercile, to-tercile) cell — including the churn/new
    * rows (tercile 0 = absent that half). q119 snapshots RFM ONCE;
    * this is the between-period MOVEMENT a retention program actually
    * manages ("how many high-value customers slid to mid").
    *
    * Exactness: spend is exact integer cents; terciles ride the
    * distributed two-level rank + [[ScaleRank.ntileFromRank]]
    * (bit-equal to the ntile window, the q119 contract) with the
    * custkey tiebreaker; cell counts and the H2-spend column are
    * exact ints.
    *
    * Scale design (100 TB): per-half collapses are map-side
    * partial-aggregable on custkey; ranks are ScaleRank (no
    * single-task sort); the migration join is a custkey full-outer
    * equi join; output is the ≤4×4 literal cell grid. */
  val q441RfmMigration: QueryDef = QueryDef(
    "q441_rfm_migration",
    """WITH h1 AS (
      |  SELECT o_custkey AS cust,
      |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
      |      AS BIGINT)) AS BIGINT) AS cents
      |  FROM orders WHERE CAST(o_orderdate AS DATE) < DATE '1995-07-01'
      |  GROUP BY 1),
      |h2 AS (
      |  SELECT o_custkey AS cust,
      |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
      |      AS BIGINT)) AS BIGINT) AS cents
      |  FROM orders WHERE CAST(o_orderdate AS DATE) >= DATE '1995-07-01'
      |  GROUP BY 1),
      |t1 AS (
      |  SELECT cust, ntile(3) OVER (ORDER BY cents DESC, cust) AS seg
      |  FROM h1),
      |t2 AS (
      |  SELECT cust, cents, ntile(3) OVER (ORDER BY cents DESC, cust) AS seg
      |  FROM h2),
      |mig AS (
      |  SELECT coalesce(t1.seg, 0) AS seg_from, coalesce(t2.seg, 0) AS seg_to,
      |    coalesce(t2.cents, 0) AS cents2
      |  FROM t1 FULL OUTER JOIN t2 ON t2.cust = t1.cust)
      |SELECT CAST(seg_from AS BIGINT) AS seg_from,
      |  CAST(seg_to AS BIGINT) AS seg_to,
      |  CAST(count(*) AS BIGINT) AS n_customers,
      |  CAST(sum(cents2) AS BIGINT) AS h2_cents
      |FROM mig GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
    val orders = Tables.orders(s, dir)
    def half(pred: Column): DataFrame = orders.filter(pred)
      .groupBy(col("o_custkey").as("cust"))
      .agg(sum((col("o_totalprice").cast("decimal(12,2)") * 100)
        .cast("bigint")).cast("bigint").as("cents"))
    val cut = col("o_orderdate").cast("date") < lit("1995-07-01").cast("date")
    def terciled(df: DataFrame): DataFrame = {
      val rk = ScaleRank.withRowNumber(df, Nil,
        Seq(col("cents").desc, col("cust")), "rk", "n")
      rk.withColumn("seg", ScaleRank.ntileFromRank(3, col("rk"), col("n")))
    }
    val t1 = terciled(half(cut)).select(col("cust"), col("seg").as("seg_a"))
    val t2 = terciled(half(!cut))
      .select(col("cust"), col("cents").as("cents2"), col("seg").as("seg_b"))
    t1.join(t2, Seq("cust"), "full_outer")
      .select(coalesce(col("seg_a"), lit(0)).cast("bigint").as("seg_from"),
        coalesce(col("seg_b"), lit(0)).cast("bigint").as("seg_to"),
        coalesce(col("cents2"), lit(0L)).as("cents2"))
      .groupBy(col("seg_from"), col("seg_to"))
      .agg(count(lit(1)).as("n_customers"),
        sum(col("cents2")).cast("bigint").as("h2_cents"))
      .orderBy("seg_from", "seg_to")
  }

  val all: Seq[QueryDef] = Seq(q119Rfm, q133Gini, q262GrowthAccounting,
    q265CumGains, q441RfmMigration)
}
