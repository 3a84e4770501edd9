package graft.operators

import graft.CkptOps

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series smoothing and repair over the fact tables — the
  * forecasting-adjacent half of the monitoring family ([[EventOps]]
  * owns the descriptive side: ACF q163, seasonality q134, OHLC q156).
  *
  * Exactness contract: both operators are pure int64 arithmetic.
  * q170's smoothing weights are dyadic (powers of two), so the
  * weighted mean is an exact integer ratio — no float accumulates
  * anywhere; q171's interpolation is the exact rational
  * v1·(d2−d) + v2·(d−d1) over (d2−d1), floor-divided with a
  * provably non-negative numerator (events.value ≥ 0 is pinned by
  * OracleInvariantsSpec), so Spark `div` ≡ DuckDB `//` holds.
  *
  * Reference anchor: the reference pipeline materializes per-entity
  * monthly series (ym format, /root/reference/utils/transforms.py) but
  * has no smoothing/repair stage — these extend that series surface
  * with the standard next steps a finance warehouse runs on them.
  */
object Forecast {

  /** q170 — dyadic EWMA over each customer's order history: trailing
    * exponentially-weighted mean of the last 8 order totals with
    * weights 2⁷,2⁶,…,2⁰ (most-recent heaviest, α = 1/2), the classic
    * smoother for spend-trend scoring. Weights are powers of two and
    * amounts are exact cents, so the smoothed value is an exact
    * integer ratio: num = Σ 2^(7−d)·centsₜ₋d, den = Σ 2^(7−d) over
    * the lags that exist (short prefixes simply renormalize — no
    * warm-up bias, no float drift, identical under any partitioning).
    *
    * Scale design (100 TB): rank is a per-customer window
    * (unbounded key cardinality — every task holds one hash range of
    * customers, never a constant fraction of the table). The lag
    * expansion is a projection (explode of an 8-literal array), and
    * the self-join is an equi-join on (customer, rank) — both sides
    * hash-partition on the same composite key, one exchange each, no
    * skew (per-customer order counts are bounded). Compare q163,
    * which runs the same shape on the day axis; here the axis is
    * per-customer, so nothing ever collapses to a single task. */
  val q170Ewma: QueryDef = QueryDef(
    "q170_ewma",
    """WITH r AS (
      |  SELECT o_custkey AS cust,
      |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
      |    CAST(row_number() OVER (PARTITION BY o_custkey
      |                            ORDER BY o_orderdate, o_orderkey) AS BIGINT) AS rn
      |  FROM orders),
      |p AS (
      |  SELECT a.cust, a.rn, a.cents,
      |    CAST(sum((1 << (7 - l.d)) * b.cents) AS BIGINT) AS num,
      |    CAST(sum(1 << (7 - l.d)) AS BIGINT) AS den
      |  FROM r a
      |  CROSS JOIN unnest([0,1,2,3,4,5,6,7]) AS l(d)
      |  JOIN r b ON b.cust = a.cust AND b.rn = a.rn - l.d
      |  GROUP BY 1, 2, 3)
      |SELECT cust, rn, cents, num // den AS ewma_cents
      |FROM p ORDER BY cust, rn""".stripMargin) { (s, dir) =>
    val w = Window.partitionBy(col("cust"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val r = Tables.orders(s, dir)
      .select(col("o_custkey").as("cust"),
        (col("o_totalprice").cast("decimal(12,2)") * 100)
          .cast("bigint").as("cents"),
        col("o_orderdate"), col("o_orderkey"))
      .withColumn("rn", row_number().over(w).cast("bigint"))
      .select(col("cust"), col("cents"), col("rn"))
    val a = r
      .withColumn("d", explode(array((0 to 7).map(lit(_)): _*)))
      .select(col("cust"), col("rn"), col("cents"),
        (col("rn") - col("d")).as("rn_src"),
        expr("cast(shiftleft(1, 7 - d) as bigint)").as("wgt"))
    val b = r.select(col("cust"), col("rn").as("rn_src"),
      col("cents").as("cents_src"))
    a.join(b, Seq("cust", "rn_src"))
      .groupBy(col("cust"), col("rn"), col("cents"))
      .agg(sum(col("wgt") * col("cents_src")).as("num"),
        sum(col("wgt")).as("den"))
      .select(col("cust"), col("rn"), col("cents"),
        expr("num div den").as("ewma_cents"))
      .orderBy("cust", "rn")
  }

  /** q171 — linear interpolation of missing days in each user's daily
    * event-value series: for every calendar gap strictly inside a
    * user's observed range, emit the straight-line value between the
    * bracketing observed days — the standard series-repair step
    * before any fixed-step model (q163's ACF, q134's seasonality)
    * consumes an irregular series. Only the imputed rows are emitted
    * (observed days pass through unchanged elsewhere, so the output
    * IS the repair delta).
    *
    * Exactness: daily totals in exact milli-units (the q114
    * contract), days as epoch-day integers; the interpolated value is
    * the exact rational v1·(d2−d) + v2·(d−d1) over (d2−d1) —
    * numerator non-negative (values ≥ 0, pinned invariant), so
    * truncating and flooring division agree across engines.
    *
    * Scale design (100 TB): one partial-aggregable groupBy collapses
    * the fact table to the (user, day) grid; the lead() window and
    * everything after run per user (unbounded key — no bounded-key
    * window), and gap expansion is a projection (explode of an
    * in-row sequence), never a join. */
  val q171Interpolate: QueryDef = QueryDef(
    "q171_interpolate",
    """WITH daily AS (
      |  SELECT user_id, epoch_us(ts) // 86400000000 AS d,
      |    CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS v
      |  FROM events GROUP BY 1, 2),
      |g AS (
      |  SELECT user_id, d AS d1, v AS v1,
      |    lead(d) OVER (PARTITION BY user_id ORDER BY d) AS d2,
      |    lead(v) OVER (PARTITION BY user_id ORDER BY d) AS v2
      |  FROM daily),
      |gaps AS (
      |  SELECT * FROM g WHERE d2 IS NOT NULL AND d2 - d1 > 1)
      |SELECT user_id, t.day AS day,
      |  (v1 * (d2 - t.day) + v2 * (t.day - d1)) // (d2 - d1) AS interp_milli
      |FROM gaps, unnest(range(d1 + 1, d2)) AS t(day)
      |ORDER BY user_id, day""".stripMargin) { (s, dir) =>
    val daily = Tables.events(s, dir)
      .groupBy(col("user_id"),
        expr("unix_micros(ts) div 86400000000").as("d"))
      .agg(sum(floor(col("value") * 1000).cast("bigint")).as("v"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("d1"))
    daily.select(col("user_id"), col("d").as("d1"), col("v").as("v1"))
      .withColumn("d2", lead(col("d1"), 1).over(w))
      .withColumn("v2", lead(col("v1"), 1).over(w))
      .filter(col("d2").isNotNull && col("d2") - col("d1") > 1)
      .withColumn("day",
        explode(sequence(col("d1") + 1, col("d2") - 1)))
      .select(col("user_id"), col("day"),
        expr("(v1 * (d2 - day) + v2 * (day - d1)) div (d2 - d1)")
          .as("interp_milli"))
      .orderBy("user_id", "day")
  }

  /** q187 — Theil–Sen robust trend of daily revenue: the median of
    * all pairwise slopes (xⱼ−xᵢ)/(dⱼ−dᵢ) over the day axis — the
    * estimator that shrugs off the outlier days that drag the q124
    * least-squares slope around (breakdown point 29% vs 0%). Reports
    * the axis size, the pair count, and the slope in milli-cents per
    * day.
    *
    * Exactness: each slope is floor((1000.0·Δx)/Δd) — Δx, Δd are
    * exact int64 (cents day-sums, day indexes), |1000·Δx| < 2⁵³ so
    * the double product is exact, and one IEEE multiply + divide +
    * floor in identical association is bit-portable (q108 contract;
    * Spark `div` is NOT used because Δx goes negative). The median is
    * rank-selected — row (n+1)//2 in the unique (slope, dᵢ, dⱼ)
    * order — not interpolated, so no engine percentile conventions.
    *
    * Scale design (100 TB): the fact table collapses to the
    * materialized day axis ONCE (q163's discipline, ≤ ~10⁴ rows for
    * decades of days); the pairwise frame is |days|²/2 ≈ 5·10⁷ rows
    * worst-case — a broadcast nested-loop of the tiny checkpointed
    * axis against itself, never fact rows. Median selection is
    * [[ScaleRank.withRowNumber]] (two-level distributed rank), so no
    * single task ever sorts the whole pair frame. */
  val q187TheilSen: QueryDef = QueryDef(
    "q187_theil_sen",
    s"""WITH ${DayAxis.revCentsEpochSql(rev = "x")},
       |p AS (
       |  SELECT a.d AS ad, b.d AS bd,
       |    CAST(floor((1000.0 * (b.x - a.x)) / (b.d - a.d)) AS BIGINT) AS slope
       |  FROM daily a JOIN daily b ON b.d > a.d),
       |r AS (
       |  SELECT slope,
       |    CAST(row_number() OVER (ORDER BY slope, ad, bd) AS BIGINT) AS rk,
       |    CAST(count(*) OVER () AS BIGINT) AS np
       |  FROM p)
       |SELECT (SELECT CAST(count(*) AS BIGINT) FROM daily) AS n_days,
       |  np AS n_pairs, slope AS ts_slope_milli
       |FROM r WHERE rk = (np + 1) // 2""".stripMargin) { (s, dir) =>
    val daily = DayAxis.revCentsEpoch(s, dir)
      .select(col("d").as("d"), col("rev").as("x"))
    // pair generation: broadcast the tiny axis against an 8-way
    // repartition of itself — the nested loop parallelizes over the
    // stream side, so |days|²/2 pairs materialize on 8 tasks, not 1
    // and not 32 near-empty ones
    val pairs = daily.repartition(8).as("a")
      .join(broadcast(daily).as("b"), expr("b.d > a.d"))
      .select(col("a.d").as("ad"), col("b.d").as("bd"),
        floor(lit(1000.0) * (col("b.x") - col("a.x")) /
          nullif(col("b.d") - col("a.d"), lit(0d))).cast("bigint").as("slope"))
      .ckpt() // the rank's repartitionByRange SAMPLES its input first:
              // without the cut the |days|²/2 nested-loop pair build
              // ran twice (sample pass + partition pass) — r13, §2.4
    val ranked = ScaleRank.withRowNumber(
      pairs, Seq.empty, Seq(col("slope"), col("ad"), col("bd")), "rk", "np")
    val nDays = daily.agg(count(lit(1)).as("n_days"))
    ranked.where(expr("rk = (np + 1) div 2"))
      .crossJoin(nDays)
      .select(col("n_days"), col("np").as("n_pairs"),
        col("slope").as("ts_slope_milli"))
  }

  /** q204 — unnormalized Haar wavelet detail profile of the daily
    * revenue series: at each dyadic level k ∈ {1..4} (block = 2^k
    * days), the detail coefficient of a block is
    * Σ(left half) − Σ(right half); the report gives per level the
    * block count and the L1/L∞ mass of those details. Level-1 mass ≈
    * day-to-day churn, level-4 ≈ fortnight-scale swings — a
    * multi-resolution decomposition of WHERE the series' variability
    * lives (q134's seasonality asks about one fixed period; this
    * scans all dyadic scales at once).
    *
    * Exactness: details are sums/differences of exact cents — pure
    * integer; the reported masses use abs(), so every emitted number
    * is a non-negative BIGINT (the signed detail itself is never
    * divided, so the div/floor divergence never engages). L1/L∞ were
    * chosen over Σd² precisely because squared energy overflows int64
    * at production daily volumes while Σ|d| is bounded by total
    * revenue cents.
    *
    * Scale design (100 TB): the fact collapses to day grain first
    * (one partial-aggregable pass); the 4-level explode multiplies
    * CALENDAR rows, not facts; block aggregation is partial-
    * aggregable on (k, block); the min-date anchor is a 1-row
    * broadcast. Day indexes are non-negative by construction, so
    * every integral division sits on the portable domain. */
  val q204HaarDetail: QueryDef = QueryDef(
    "q204_haar_detail",
    """WITH d0 AS (
      |  SELECT o_orderdate AS day,
      |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))
      |         AS BIGINT) AS c
      |  FROM orders GROUP BY 1),
      |m AS (SELECT min(day) AS d_min FROM d0),
      |d AS (SELECT CAST(date_diff('day', d_min, day) AS BIGINT) AS di, c
      |      FROM d0, m),
      |lv AS (SELECT CAST(unnest([1, 2, 3, 4]) AS BIGINT) AS k),
      |det AS (
      |  SELECT lv.k, d.di // (1 << CAST(lv.k AS INT)) AS blk,
      |    CAST(sum(CASE WHEN (d.di // (1 << (CAST(lv.k AS INT) - 1))) % 2 = 0
      |             THEN d.c ELSE -d.c END) AS BIGINT) AS dcoef
      |  FROM d CROSS JOIN lv GROUP BY 1, 2)
      |SELECT k, CAST(count(*) AS BIGINT) AS n_blocks,
      |  CAST(sum(abs(dcoef)) AS BIGINT) AS l1_detail_cents,
      |  CAST(max(abs(dcoef)) AS BIGINT) AS max_detail_cents
      |FROM det GROUP BY k ORDER BY k""".stripMargin) { (s, dir) =>
    val d0 = Tables.orders(s, dir)
      .groupBy(col("o_orderdate").as("day"))
      .agg(sum((col("o_totalprice").cast("decimal(12,2)") * 100)
        .cast("bigint")).cast("bigint").as("c"))
    val m = d0.agg(min(col("day")).as("d_min"))
    d0.crossJoin(broadcast(m))
      .select(datediff(col("day"), col("d_min")).cast("bigint").as("di"),
        col("c"))
      .withColumn("k", explode(array((1 to 4).map(i => lit(i.toLong)): _*)))
      .groupBy(col("k"), expr("di div shiftleft(1, CAST(k AS INT))").as("blk"))
      .agg(sum(when(
          expr("(di div shiftleft(1, CAST(k AS INT) - 1)) % 2 = 0"),
          col("c")).otherwise(-col("c"))).as("dcoef"))
      .groupBy("k")
      .agg(count(lit(1)).as("n_blocks"),
        sum(abs(col("dcoef"))).as("l1_detail_cents"),
        max(abs(col("dcoef"))).as("max_detail_cents"))
      .orderBy("k")
  }

  /** q245 — offline changepoint detection (binary segmentation, first
    * split): over the daily revenue series, find the split day t that
    * minimizes SSE_left + SSE_right — equivalently maximizes
    * S_l²/t + S_r²/(n−t) (total Σy² is split-invariant) — the CUSUM
    * complement: q178 monitors a stream against a threshold, this
    * finds the single most likely level-shift point in a closed
    * series, the first step of every segmentation (PELT/binseg)
    * pipeline.
    *
    * Exactness: daily sums are exact int64 cents (< 2⁵³, so the cast
    * to double is exact); the score is ONE fixed IEEE expression
    * (square, divide, add — the q108/q123 left-associated-chain
    * doctrine), identical bits in both engines, so the argmax
    * (max-score ⋈ min-t join, no window rank) and the floor'd gain
    * are engine-identical. Means are truncating integer cents.
    *
    * Scale design (100 TB): the series is a day-grain aggregate
    * (calendar-bounded axis — the prefix window and the ≤n candidate
    * frame are bounded by days, not data, the q118/q178 adjudication;
    * these windows sit below a checkpoint, which PlanSweepSpec sweeps
    * through `Ckpt.withAudit`, and their adjudication record is
    * q245's `day` entry in `PlanSweepAllowlist`); everything below the
    * day grain is one partial-aggregable pass over events. */
  val q245Changepoint: QueryDef = QueryDef(
    "q245_changepoint",
    """WITH ev AS (
      |  SELECT CAST(ts AS DATE) AS day,
      |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      |  FROM events),
      |d AS (SELECT day, CAST(sum(cents) AS BIGINT) AS s FROM ev GROUP BY day),
      |tot AS (SELECT count(*) AS n, CAST(sum(s) AS BIGINT) AS sx FROM d),
      |pre AS (
      |  SELECT day, CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t,
      |    CAST(sum(s) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
      |      AS BIGINT) AS sxl
      |  FROM d),
      |cand AS (
      |  SELECT day, t, sxl, tot.n, tot.sx,
      |    CAST(sxl AS DOUBLE) * CAST(sxl AS DOUBLE) / t
      |      + CAST(tot.sx - sxl AS DOUBLE) * CAST(tot.sx - sxl AS DOUBLE)
      |        / (tot.n - t) AS score
      |  FROM pre, tot WHERE t < tot.n),
      |mx AS (SELECT max(score) AS ms FROM cand),
      |best AS (
      |  SELECT min(t) AS bt FROM cand, mx WHERE cand.score = mx.ms)
      |SELECT c.day AS split_day, c.t AS n_left, c.n - c.t AS n_right,
      |  c.sxl // c.t AS mean_left_cents,
      |  (c.sx - c.sxl) // (c.n - c.t) AS mean_right_cents,
      |  CAST(floor(c.score
      |    - CAST(c.sx AS DOUBLE) * CAST(c.sx AS DOUBLE) / c.n) AS BIGINT)
      |    AS gain_floor
      |FROM cand c JOIN best ON c.t = best.bt""".stripMargin) { (s, dir) =>
    val d = graft.Tables.events(s, dir)
      .select(to_date(col("ts")).as("day"),
        expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("cents"))
      .groupBy(col("day")).agg(sum(col("cents")).as("s"))
    val tot = d.agg(count(lit(1)).as("n"), sum(col("s")).as("sx"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("day"))
    val pre = d
      .withColumn("t", row_number().over(w).cast("long"))
      .withColumn("sxl", sum(col("s")).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
    val cand = pre.crossJoin(broadcast(tot))
      .filter(col("t") < col("n"))
      .withColumn("score",
        expr("CAST(sxl AS DOUBLE) * CAST(sxl AS DOUBLE) / t " +
          "+ CAST(sx - sxl AS DOUBLE) * CAST(sx - sxl AS DOUBLE) / (n - t)"))
      .ckpt() // feeds the max frame and the final pick
    val mx = cand.agg(max(col("score")).as("ms"))
    val best = cand.crossJoin(broadcast(mx))
      .filter(col("score") === col("ms"))
      .agg(min(col("t")).as("bt"))
    cand.join(broadcast(best), col("t") === col("bt"))
      .select(col("day").as("split_day"), col("t").as("n_left"),
        (col("n") - col("t")).as("n_right"),
        expr("sxl div t").as("mean_left_cents"),
        expr("(sx - sxl) div (n - t)").as("mean_right_cents"),
        expr("CAST(floor(score - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n)" +
          " AS BIGINT)").as("gain_floor"))
  }

  /** q261 — classical additive seasonal decomposition of the daily
    * revenue series: trend = 7-day centered moving average, weekly
    * seasonal index per day-of-week = mean of the detrended residual
    * — the decomposition behind "is Monday really slow, or is that
    * the trend?" q134 profiles raw day-of-week means (trend leaks
    * into the index when the series drifts); subtracting the
    * centered MA first is what makes the index a SEASONAL effect.
    *
    * Exactness: daily cents are exact int64; the centered MA is a
    * truncating div on a non-negative 7-day sum (Spark div ≡ DuckDB
    * //); the detrended residual is exact int64 (possibly negative —
    * never integer-divided); each day-of-week index is ONE IEEE
    * floor chain to milli-cents. Edge days (incomplete 7-day
    * neighborhoods, incl. interior gaps) are excluded identically in
    * both engines via the cnt = 7 guard.
    *
    * Scale design (100 TB): facts collapse to the bounded day axis
    * in one partial-aggregable pass; the centered window is an
    * explode of 7 literal offsets + one equi-join on the day key
    * (the q163/q170 lag shape — no day-axis sort, no window); the
    * final index is a ≤7-row aggregate. */
  val q261SeasonalDecomp: QueryDef = QueryDef(
    "q261_seasonal_decomp",
    s"""WITH $centeredWeekSql,
       |det AS (
       |  SELECT day, cents - s7 // 7 AS det_cents
       |  FROM w WHERE c7 = 7)
       |SELECT dayofweek(day) + 1 AS dow,
       |  CAST(count(*) AS BIGINT) AS n_days,
       |  CAST(sum(det_cents) AS BIGINT) AS sum_det_cents,
       |  CAST(floor(1000.0 * CAST(sum(det_cents) AS DOUBLE) /
       |    CAST(count(*) AS DOUBLE)) AS BIGINT) AS seasonal_millicents
       |FROM det GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    val d = DayAxis.centsFloor(s, dir)
    val probes = d.select(col("day"), col("cents"),
      explode(expr("sequence(-3, 3)")).as("off"))
      .select(col("day"), col("cents"),
        date_add(col("day"), col("off")).as("nday"))
    val w = probes
      .join(d.select(col("day").as("nday"), col("cents").as("ncents")),
        Seq("nday"))
      .groupBy(col("day"), col("cents"))
      .agg(sum(col("ncents")).as("s7"), count(lit(1)).as("c7"))
    val det = w.filter(col("c7") === 7)
      .select(col("day"), (col("cents") - expr("s7 div 7")).as("det_cents"))
    det.groupBy((dayofweek(col("day"))).as("dow"))
      .agg(count(lit(1)).as("n_days"), sum(col("det_cents")).as("sum_det_cents"))
      .select(col("dow").cast("bigint").as("dow"), col("n_days"),
        col("sum_det_cents"),
        floor(lit(1000.0) * col("sum_det_cents").cast("double") /
          col("n_days").cast("double")).cast("bigint").as("seasonal_millicents"))
      .orderBy("dow")
  }

  /** Shared q261/q290 machinery: the daily revenue series with the
    * centered-MA trend removed — (day, cents, trend_cents,
    * det_cents), complete 7-day neighborhoods only. */
  private def detrendedDays(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val d = DayAxis.centsFloor(s, dir)
    val probes = d.select(col("day"), col("cents"),
      explode(expr("sequence(-3, 3)")).as("off"))
      .select(col("day"), col("cents"),
        date_add(col("day"), col("off")).as("nday"))
    probes
      .join(d.select(col("day").as("nday"), col("cents").as("ncents")),
        Seq("nday"))
      .groupBy(col("day"), col("cents"))
      .agg(sum(col("ncents")).as("s7"), count(lit(1)).as("c7"))
      .filter(col("c7") === 7)
      .select(col("day"), col("cents"), expr("s7 div 7").as("trend_cents"),
        (col("cents") - expr("s7 div 7")).as("det_cents"))
      .ckpt()
  }

  /** The oracle's centered 7-day window over the half-up day axis:
    * the CTEs `d` (day, cents) and `w` (day, cents, s7, c7 — the
    * window's sum and its day count). */
  private def centeredWeekSql: String =
    """d AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day,
      |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
      |      AS BIGINT) AS cents
      |  FROM orders GROUP BY 1),
      |w AS (
      |  SELECT a.day, a.cents,
      |    CAST(sum(b.cents) AS BIGINT) AS s7, count(*) AS c7
      |  FROM d a
      |  JOIN d b ON b.day BETWEEN a.day - 3 AND a.day + 3
      |  GROUP BY a.day, a.cents)""".stripMargin

  /** The matching oracle CTE chain ([[centeredWeekSql]], then `det`
    * carrying day, cents, trend_cents, det_cents). */
  private def detrendedCtes: String =
    s"""$centeredWeekSql,
       |det AS (
       |  SELECT day, cents, s7 // 7 AS trend_cents,
       |    cents - s7 // 7 AS det_cents
       |  FROM w WHERE c7 = 7)""".stripMargin

  /** q290 — seasonally-adjusted revenue anomalies: remove the trend
    * (q261's centered MA) AND the weekday effect from every complete
    * day, z-score the remaining residual, and surface the 15 most
    * anomalous days — the "something actually happened here" screen
    * that raw daily revenue can't run (a strong Monday is not an
    * anomaly; a strong Monday AFTER discounting Mondays is). This is
    * what the q261 decomposition is FOR.
    *
    * Exactness: residuals are exact milli ints (det·1000 minus the
    * q261 floor-chain weekday index); the z denominators come from
    * exact DECIMAL/HUGEINT moments with ONE IEEE chain; the top-15
    * is a TakeOrdered heap on (|z| desc, day).
    *
    * Scale design (100 TB): the shared checkpointed detrended frame
    * (7-literal offset join, no day-axis window), a ≤7-row weekday
    * index broadcast back, a 1-row moment pass, and a top-k heap. */
  val q290SeasonalAnomaly: QueryDef = QueryDef(
    "q290_seasonal_anomaly",
    s"""WITH $detrendedCtes,
       |sea AS (
       |  SELECT dayofweek(day) + 1 AS dow,
       |    CAST(floor(1000.0 * CAST(sum(det_cents) AS DOUBLE) /
       |      CAST(count(*) AS DOUBLE)) AS BIGINT) AS smilli
       |  FROM det GROUP BY 1),
       |res AS (
       |  SELECT det.day, det.cents, det.trend_cents,
       |    det.det_cents * 1000 - sea.smilli AS resid_milli
       |  FROM det JOIN sea ON dayofweek(det.day) + 1 = sea.dow),
       |m AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |    sum(CAST(resid_milli AS HUGEINT)) AS sr,
       |    sum(CAST(resid_milli AS HUGEINT) * resid_milli) AS srr
       |  FROM res)
       |SELECT res.day, res.cents, res.trend_cents, res.resid_milli,
       |  CAST(floor(1000.0 *
       |    (CAST(res.resid_milli AS DOUBLE)
       |     - CAST(m.sr AS DOUBLE) / CAST(m.n AS DOUBLE)) /
       |    sqrt((CAST(m.n AS DOUBLE) * CAST(m.srr AS DOUBLE)
       |          - CAST(m.sr AS DOUBLE) * CAST(m.sr AS DOUBLE)) /
       |         (CAST(m.n AS DOUBLE) * CAST(m.n AS DOUBLE)))) AS BIGINT)
       |    AS z_milli
       |FROM res, m
       |WHERE CAST(m.n AS DOUBLE) * CAST(m.srr AS DOUBLE)
       |      - CAST(m.sr AS DOUBLE) * CAST(m.sr AS DOUBLE) > 0
       |ORDER BY abs(z_milli) DESC, res.day
       |LIMIT 15""".stripMargin) { (s, dir) =>
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val det = detrendedDays(s, dir)
    val sea = det.groupBy((dayofweek(col("day"))).as("dow"))
      .agg(floor(lit(1000.0) * sum(col("det_cents")).cast("double") /
        count(lit(1)).cast("double")).cast("bigint").as("smilli"))
    val res = det.join(broadcast(sea),
        dayofweek(col("day")) === col("dow"))
      .select(col("day"), col("cents"), col("trend_cents"),
        (col("det_cents") * 1000 - col("smilli")).as("resid_milli"))
      .ckpt() // feeds the moment pass AND the scoring pass
    val m = res.agg(count(lit(1)).as("n"),
      sum(dec(col("resid_milli"))).as("sr"),
      sum(dec(col("resid_milli")) * col("resid_milli")).as("srr"))
    val nd = col("n").cast("double")
    val varr = (nd * col("srr").cast("double") -
      col("sr").cast("double") * col("sr").cast("double")) / (nd * nd)
    val z = floor(lit(1000.0) *
      (col("resid_milli").cast("double") - col("sr").cast("double") / nd) /
      sqrt(varr)).cast("bigint")
    res.crossJoin(broadcast(m))
      .filter(nd * col("srr").cast("double") -
        col("sr").cast("double") * col("sr").cast("double") > 0)
      .select(col("day"), col("cents"), col("trend_cents"),
        col("resid_milli"), z.as("z_milli"))
      .orderBy(abs(col("z_milli")).desc, col("day"))
      .limit(15)
  }

  /** q349 — variance-time curve and Hurst exponent of event traffic
    * (the aggregated-variance method, Leland et al. '94 "On the
    * Self-Similar Nature of Ethernet Traffic"): block the per-minute
    * arrival counts at dyadic scales m ∈ {1..256} minutes, compute
    * the population variance of block sums AT EACH SCALE (zero
    * blocks included — dropping empty minutes biases the curve), and
    * fit ln Var(m) against ln m. For Poisson-like traffic the slope
    * is 1 (H = 0.5); slope → 2 means long-range dependence — burst
    * structure that invalidates every "independent arrivals" capacity
    * assumption downstream (q200 measures burstiness at ONE scale;
    * this is the whole spectrum plus the LRD verdict).
    *
    * Exactness: block sums are exact integers; empty blocks enter
    * through the closed-form axis count nt = hi//m − lo//m + 1, so
    * Σv and Σv² over NONZERO blocks plus nt give the exact population
    * variance. Σv² accumulates in DECIMAL(38,0)/HUGEINT (v² overflows
    * int64 past ~3·10⁹ events per block). var_micro, the per-scale
    * micro-nat log points, and the final slope ride shared all-DOUBLE
    * SQL chains (q286/q348 contract); the 9-point OLS sums are exact
    * BIGINT (micro-nat products ≤ ~10¹⁵).
    *
    * Scale design (100 TB): ONE corpus pass collapses events to the
    * per-minute count frame (partial-aggregable; the axis is bounded
    * by the time span, not data volume); the 9× dyadic expand, block
    * aggregation, variance, and OLS all run on that bounded axis. The
    * fit frame is ≤9 rows, crossJoined back broadcast. Output 9
    * rows. */
  val q349VarianceTime: QueryDef = {
    val scales = Seq(1L, 2L, 4L, 8L, 16L, 32L, 64L, 128L, 256L)
    val varMicro = "CASE WHEN nt = 0 THEN NULL ELSE " +
      "CAST(floor((1000000.0 * (CAST(nt AS DOUBLE) * CAST(s2 AS DOUBLE) - " +
      "CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))) / " +
      "(CAST(nt AS DOUBLE) * CAST(nt AS DOUBLE))) AS BIGINT) END"
    val den = "CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - " +
      "CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)"
    val num = "CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - " +
      "CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)"
    val slopePpm = s"CASE WHEN $den = 0.0 THEN NULL ELSE " +
      s"CAST(floor((1000000.0 * ($num)) / ($den)) AS BIGINT) END"
    val hurstPpm = s"CASE WHEN $den = 0.0 THEN NULL ELSE " +
      s"CAST(floor((500000.0 * ($num)) / ($den)) AS BIGINT) END"
    QueryDef(
      "q349_variance_time",
      s"""WITH base AS (
         |  SELECT epoch_us(ts) // 60000000 AS mn,
         |    CAST(count(*) AS BIGINT) AS c
         |  FROM events GROUP BY 1),
         |bounds AS (SELECT min(mn) AS lo, max(mn) AS hi FROM base),
         |blocks AS (
         |  SELECT sc.m, base.mn // sc.m AS blk, CAST(sum(base.c) AS BIGINT) AS v
         |  FROM base, (SELECT CAST(unnest([${scales.mkString(", ")}])
         |              AS BIGINT) AS m) sc
         |  GROUP BY 1, 2),
         |agg AS (
         |  SELECT b.m, CAST(count(*) AS BIGINT) AS nz_blocks,
         |    CAST(sum(v) AS BIGINT) AS s1,
         |    sum(CAST(v AS HUGEINT) * v) AS s2,
         |    (SELECT hi FROM bounds) // b.m
         |      - (SELECT lo FROM bounds) // b.m + 1 AS nt
         |  FROM blocks b GROUP BY 1),
         |vv AS (
         |  SELECT m, nt, nz_blocks, $varMicro AS var_micro FROM agg),
         |fp AS (
         |  SELECT CAST(floor(1000000.0 * ln(CAST(m AS DOUBLE))) AS BIGINT)
         |      AS fx,
         |    CAST(floor(1000000.0 * ln(CAST(var_micro AS DOUBLE))) AS BIGINT)
         |      AS fy
         |  FROM vv WHERE var_micro > 0),
         |fit AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(fx) AS BIGINT) AS sx, CAST(sum(fy) AS BIGINT) AS sy,
         |    CAST(sum(fx * fy) AS BIGINT) AS sxy,
         |    CAST(sum(fx * fx) AS BIGINT) AS sxx
         |  FROM fp)
         |SELECT vv.m, CAST(vv.nt AS BIGINT) AS n_blocks, vv.nz_blocks,
         |  vv.var_micro, fit.n AS n_fit,
         |  $slopePpm AS slope_ppm, $hurstPpm AS hurst_ppm
         |FROM vv, fit ORDER BY vv.m""".stripMargin) { (s, dir) =>
      val base = Tables.events(s, dir)
        .groupBy(expr("unix_micros(ts) div 60000000").as("mn"))
        .agg(count(lit(1)).as("c"))
        .ckpt() // one fact collapse feeds blocks AND bounds
      val bounds = broadcast(base.agg(min(col("mn")).as("lo"),
        max(col("mn")).as("hi")))
      val blocks = base
        .select(col("mn"), col("c"),
          explode(array(scales.map(lit): _*)).as("m"))
        .groupBy(col("m"), expr("mn div m").as("blk"))
        .agg(sum(col("c")).as("v"))
      val agg = blocks.groupBy(col("m"))
        .agg(count(lit(1)).as("nz_blocks"),
          sum(col("v")).as("s1"),
          sum(col("v").cast("decimal(19,0)") * col("v")).as("s2"))
        .crossJoin(bounds)
        .withColumn("nt", expr("hi div m - lo div m + 1"))
      val vv = agg.select(col("m"), col("nt"), col("nz_blocks"),
        expr(varMicro).as("var_micro"))
      val fit = broadcast(vv.filter(col("var_micro") > 0)
        .select(
          expr("CAST(floor(1000000.0 * ln(CAST(m AS DOUBLE))) AS BIGINT)")
            .as("fx"),
          expr("CAST(floor(1000000.0 * ln(CAST(var_micro AS DOUBLE))) " +
            "AS BIGINT)").as("fy"))
        .agg(count(lit(1)).as("n"),
          sum(col("fx")).as("sx"), sum(col("fy")).as("sy"),
          sum(col("fx") * col("fy")).as("sxy"),
          sum(col("fx") * col("fx")).as("sxx")))
      vv.crossJoin(fit)
        .select(col("m"), col("nt").cast("bigint").as("n_blocks"),
          col("nz_blocks"), col("var_micro"), col("n").as("n_fit"),
          expr(slopePpm).as("slope_ppm"), expr(hurstPpm).as("hurst_ppm"))
        .orderBy("m")
    }
  }

  /** q355 — burst-interval annotation by optimal 2-state labeling
    * (the Kleinberg '02 burst-automaton shape on a day grid): label
    * every trading day base/burst to minimize Hamming disagreement
    * with the "high-volume day" indicator (count strictly above the
    * global mean, cross-multiplied integers) plus γ=2 per state
    * switch — the exact global optimum via min-plus forward AND
    * backward DP (state = argmin of fwd+bwd, ties to base), so no
    * backtrace is needed and both engines derive the identical
    * labeling from the two recurrences alone. Output: the maximal
    * burst intervals. q245 finds ONE changepoint; q178 flags CUSUM
    * excursions; this produces the globally-optimal segmentation into
    * burst episodes with a certified objective value.
    *
    * Exactness: all DP cells are small exact integers (cost ≤ n_days
    * + 2γ·switches); the high flag is integer cross-multiplied;
    * interval extraction is the gaps-and-islands identity.
    *
    * Scale design (100 TB): facts collapse to the calendar-bounded
    * day axis ONCE (partial-aggregable); the min-plus recurrences are
    * inherently sequential, so they run as ONE per-partition scan
    * over the repartition(1) day frame (the q164/q87 adjudicated
    * shape — the frame is bounded by the calendar, not data); island
    * extraction windows over the same bounded axis. Output
    * |bursts| rows. */
  val q355BurstIntervals: QueryDef = {
    val G = 2L
    QueryDef(
      "q355_burst_intervals",
      s"""WITH RECURSIVE base AS MATERIALIZED (
         |  SELECT CAST(date_diff('day', DATE '1970-01-01',
         |      CAST(o_orderdate AS DATE)) AS BIGINT) AS d,
         |    CAST(count(*) AS BIGINT) AS c
         |  FROM orders GROUP BY 1),
         |nt AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(c) AS BIGINT) AS tot FROM base),
         |dd AS MATERIALIZED (
         |  SELECT base.d, base.c,
         |    CAST(CASE WHEN base.c * nt.n > nt.tot THEN 1 ELSE 0 END
         |      AS BIGINT) AS h,
         |    CAST(row_number() OVER (ORDER BY base.d) AS BIGINT) AS rn,
         |    nt.n
         |  FROM base, nt),
         |fwd AS (
         |  SELECT rn, h AS f0, $G + (1 - h) AS f1 FROM dd WHERE rn = 1
         |  UNION ALL
         |  SELECT d.rn, least(f.f0, f.f1 + $G) + d.h,
         |    least(f.f1, f.f0 + $G) + (1 - d.h)
         |  FROM fwd f JOIN dd d ON d.rn = f.rn + 1),
         |bwd AS (
         |  SELECT n AS rn, CAST(0 AS BIGINT) AS b0, CAST(0 AS BIGINT) AS b1
         |  FROM nt
         |  UNION ALL
         |  SELECT b.rn - 1, least(d.h + b.b0, $G + (1 - d.h) + b.b1),
         |    least((1 - d.h) + b.b1, $G + d.h + b.b0)
         |  FROM bwd b JOIN dd d ON d.rn = b.rn WHERE b.rn > 1),
         |st AS (
         |  SELECT dd.rn, dd.d, dd.h,
         |    CASE WHEN f.f0 + b.b0 <= f.f1 + b.b1 THEN 0 ELSE 1 END AS s
         |  FROM dd JOIN fwd f ON dd.rn = f.rn JOIN bwd b ON dd.rn = b.rn),
         |obj AS (
         |  SELECT least(f.f0, f.f1) AS obj_cost, nt.n AS n_days
         |  FROM fwd f, nt WHERE f.rn = nt.n),
         |isl AS (
         |  SELECT d, h, rn - row_number() OVER (ORDER BY rn) AS island
         |  FROM st WHERE s = 1),
         |iv AS (
         |  SELECT min(d) AS start_d, max(d) AS end_d,
         |    CAST(count(*) AS BIGINT) AS len_days,
         |    CAST(sum(h) AS BIGINT) AS n_high
         |  FROM isl GROUP BY island),
         |nb AS (SELECT CAST(count(*) AS BIGINT) AS n_bursts FROM iv)
         |SELECT iv.start_d, iv.end_d, iv.len_days, iv.n_high,
         |  obj.n_days, obj.obj_cost, nb.n_bursts
         |FROM iv, obj, nb ORDER BY iv.start_d""".stripMargin) { (s, dir) =>
      val base = Tables.orders(s, dir)
        .groupBy(datediff(col("o_orderdate").cast("date"),
          lit("1970-01-01")).cast("bigint").as("d"))
        .agg(count(lit(1)).as("c"))
      val nt = broadcast(base.agg(count(lit(1)).as("n"),
        sum(col("c")).cast("bigint").as("tot")))
      val dd = base.crossJoin(nt)
        .select(col("d"),
          when(col("c") * col("n") > col("tot"), 1L).otherwise(0L).as("h"))
      import s.implicits._
      // min-plus forward/backward DP: inherently sequential, one scan
      // over the calendar-bounded day axis (q164/q87 shape)
      val labeled = dd.repartition(1).sortWithinPartitions("d")
        .as[(Long, Long)]
        .mapPartitions { it =>
          val days = it.toArray
          val n = days.length
          if (n == 0) Iterator.empty
          else {
            val f0 = new Array[Long](n); val f1 = new Array[Long](n)
            f0(0) = days(0)._2; f1(0) = G + (1 - days(0)._2)
            for (i <- 1 until n) {
              val h = days(i)._2
              f0(i) = math.min(f0(i - 1), f1(i - 1) + G) + h
              f1(i) = math.min(f1(i - 1), f0(i - 1) + G) + (1 - h)
            }
            val b0 = new Array[Long](n); val b1 = new Array[Long](n)
            for (i <- n - 2 to 0 by -1) {
              val h = days(i + 1)._2
              b0(i) = math.min(h + b0(i + 1), G + (1 - h) + b1(i + 1))
              b1(i) = math.min((1 - h) + b1(i + 1), G + h + b0(i + 1))
            }
            val obj = math.min(f0(n - 1), f1(n - 1))
            Iterator.range(0, n).map { i =>
              val st = if (f0(i) + b0(i) <= f1(i) + b1(i)) 0L else 1L
              (i + 1L, days(i)._1, days(i)._2, st, obj, n.toLong)
            }
          }
        }.toDF("rn", "d", "h", "s", "obj_cost", "n_days")
      // islands over the day RANK (consecutive present days), matching
      // the oracle — calendar gaps do not split a burst episode
      val isl = labeled.filter(col("s") === 1)
        .withColumn("island", col("rn") - row_number().over(
          Window.orderBy(col("rn"))))
      val iv = isl.groupBy(col("island"))
        .agg(min(col("d")).as("start_d"), max(col("d")).as("end_d"),
          count(lit(1)).as("len_days"),
          sum(col("h")).cast("bigint").as("n_high"),
          min(col("obj_cost")).as("obj_cost"), min(col("n_days")).as("n_days"))
      val nb = broadcast(iv.agg(count(lit(1)).as("n_bursts")))
      iv.crossJoin(nb)
        .select(col("start_d"), col("end_d"), col("len_days"), col("n_high"),
          col("n_days"), col("obj_cost"), col("n_bursts"))
        .orderBy("start_d")
    }
  }

  /** q360 — Diebold–Mariano forecast comparison (Diebold & Mariano
    * '95): one-step absolute-error losses of the SEASONAL-NAIVE
    * forecaster (ŷ_t = y_{t−7}) against the RANDOM-WALK forecaster
    * (ŷ_t = y_{t−1}) on daily revenue, with the DM statistic
    * mean(d)/√(var(d)/n) on the loss differential d_t = |e₁|−|e₂|
    * (lag-0 variance — exact for 1-step-ahead, the textbook case).
    * q184's MASE scores ONE forecaster against a scale; this is the
    * INFERENCE layer — is the seasonal model's edge statistically
    * real, or day-to-day noise?
    *
    * Exactness: both error series are exact integer cents over the
    * day-rank sequence (consecutive present days — calendar gaps do
    * not fabricate forecasts); Σd is int64, Σd² rides DECIMAL(38,0);
    * the z statistic is one shared all-DOUBLE chain.
    *
    * Scale design (100 TB): one fact collapse to the calendar-bounded
    * day axis; both lags ride ONE window pass over that bounded frame
    * (adjudicated, the q352 shape); the moments are a 1-row
    * aggregate. Output 1 row. */
  val q360DieboldMariano: QueryDef = {
    val mD = "(CAST(sd AS DOUBLE) / CAST(n AS DOUBLE))"
    val vD = s"(CAST(sdd AS DOUBLE) / CAST(n AS DOUBLE) - ($mD) * ($mD))"
    val zMilli = s"CASE WHEN ($vD) <= 0.0 THEN NULL ELSE " +
      s"CAST(floor(1000.0 * ($mD) / sqrt(($vD) / CAST(n AS DOUBLE))) " +
      s"AS BIGINT) END"
    QueryDef(
      "q360_diebold_mariano",
      s"""WITH ${DayAxis.revCentsEpochSql(rev = "y")},
         |lagd AS (
         |  SELECT d, y, lag(y, 7) OVER (ORDER BY d) AS y7,
         |    lag(y, 1) OVER (ORDER BY d) AS y1
         |  FROM daily),
         |err AS (
         |  SELECT abs(y - y7) AS e1, abs(y - y1) AS e2,
         |    abs(y - y7) - abs(y - y1) AS dd
         |  FROM lagd WHERE y7 IS NOT NULL),
         |agg AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(e1) AS BIGINT) AS se1, CAST(sum(e2) AS BIGINT) AS se2,
         |    CAST(sum(dd) AS BIGINT) AS sd,
         |    sum(CAST(dd AS HUGEINT) * dd) AS sdd
         |  FROM err)
         |SELECT n, se1 // n AS mae_seasonal_cents, se2 // n AS mae_rw_cents,
         |  sd AS sum_diff_cents, $zMilli AS dm_z_milli
         |FROM agg""".stripMargin) { (s, dir) =>
      val daily = DayAxis.revCentsEpoch(s, dir)
        .select(col("d").as("d"), col("rev").as("y"))
      val wD = Window.orderBy(col("d"))
      val err = daily
        .withColumn("y7", lag(col("y"), 7).over(wD))
        .withColumn("y1", lag(col("y"), 1).over(wD))
        .filter(col("y7").isNotNull)
        .select(abs(col("y") - col("y7")).as("e1"),
          abs(col("y") - col("y1")).as("e2"),
          (abs(col("y") - col("y7")) - abs(col("y") - col("y1"))).as("dd"))
      err.agg(count(lit(1)).as("n"),
          sum(col("e1")).cast("bigint").as("se1"),
          sum(col("e2")).cast("bigint").as("se2"),
          sum(col("dd")).cast("bigint").as("sd"),
          sum(col("dd").cast("decimal(19,0)") * col("dd")).as("sdd"))
        .select(col("n"),
          expr("se1 div n").as("mae_seasonal_cents"),
          expr("se2 div n").as("mae_rw_cents"),
          col("sd").as("sum_diff_cents"),
          expr(zMilli).as("dm_z_milli"))
    }
  }

  /** q372 — Sakoe–Chiba banded Dynamic Time Warping between the daily
    * click-count and purchase-count series (Sakoe & Chiba '78, band
    * W=7): "are purchases a time-shifted echo of clicks, and how far
    * does optimal alignment beat lockstep?" Reports the exact banded
    * DTW cost next to (a) the lockstep L1 distance (DTW's W=0 upper
    * bound) and (b) LB_Keogh (Keogh '02), the envelope lower bound —
    * the quantity a 100 TB similarity search actually computes
    * DISTRIBUTED to prune candidates before any DP runs. The
    * LB ≤ DTW ≤ lockstep sandwich is pinned in the spec.
    *
    * Exactness: daily counts are integers, so every |aᵢ−bⱼ| cell
    * cost, the DP, and both bounds are pure integer arithmetic — no
    * floats anywhere.
    *
    * Scale design (100 TB): the fact pass is one (day, type) count
    * collapse; LB_Keogh is relational (a bounded θ-join builds the
    * ±W envelope on the day axis); the DP itself is inherently
    * sequential, so it runs as adjudicated driver compute on the
    * COLLECTED calendar-bounded day frame (≤37k rows/century — the
    * same bound as every adjudicated day-axis window; registered in
    * DriverComputeRegistry), state one band row of W·2+1 longs. The
    * oracle unrolls the identical DP as a recursive CTE row by row.
    * Envelope, DP, and oracle all index by ROW POSITION over the
    * sorted day axis (not raw day values), so calendar gaps cannot
    * diverge the three (ADVICE r8).
    * Output 1 row. */
  val q372Dtw: QueryDef = {
    val W = 7
    QueryDef(
      "q372_dtw",
      s"""WITH RECURSIVE daily AS (
         |  SELECT CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
         |      AS BIGINT) AS d,
         |    CAST(count(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS a,
         |    CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS b
         |  FROM events GROUP BY 1),
         |ax AS (
         |  SELECT CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS i, a, b
         |  FROM daily),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ax),
         |env AS (
         |  SELECT x.i, min(y.b) AS lo, max(y.b) AS hi
         |  FROM ax x JOIN ax y ON y.i BETWEEN x.i - $W AND x.i + $W
         |  GROUP BY x.i),
         |lbk AS (
         |  SELECT CAST(sum(CASE WHEN x.a > e.hi THEN x.a - e.hi
         |    WHEN x.a < e.lo THEN e.lo - x.a ELSE 0 END) AS BIGINT) AS lb
         |  FROM ax x JOIN env e ON e.i = x.i),
         |lock AS (
         |  SELECT CAST(sum(abs(a - b)) AS BIGINT) AS lockstep FROM ax),
         |seg AS MATERIALIZED (
         |  -- segment cost of entering row i at column k and sliding
         |  -- right to j (the within-row move closure): sum |a_i - b_m|
         |  SELECT x.i, k.i AS k, j.i AS j,
         |    CAST(sum(abs(x.a - y.b)) AS BIGINT) AS sc
         |  FROM ax x
         |  JOIN ax k ON k.i BETWEEN x.i - $W AND x.i + $W
         |  JOIN ax j ON j.i BETWEEN k.i AND x.i + $W
         |  JOIN ax y ON y.i BETWEEN k.i AND j.i
         |  GROUP BY 1, 2, 3),
         |dp AS (
         |  SELECT 1::BIGINT AS i, seg.j, seg.sc AS c
         |  FROM seg WHERE seg.i = 1 AND seg.k = 1
         |  UNION ALL
         |  -- m(k) = min(dp(i, k), dp(i, k-1)) via the 2-row expansion
         |  -- (single recursive reference); then one banded min-join
         |  SELECT s.i, s.j, min(s.sc + m.mv) AS c
         |  FROM (
         |    SELECT dp.i, dp.j + o.o AS k, min(dp.c) AS mv
         |    FROM dp, (SELECT unnest([0, 1]) AS o) o
         |    GROUP BY dp.i, dp.j + o.o) m
         |  JOIN seg s ON s.i = m.i + 1 AND s.k = m.k
         |  JOIN nn ON m.i < nn.n
         |  GROUP BY s.i, s.j),
         |fin AS (
         |  SELECT min(dp.c) AS dtw FROM dp, nn
         |  WHERE dp.i = nn.n AND dp.j = nn.n)
         |SELECT nn.n AS n_days, lock.lockstep, lbk.lb AS lb_keogh, fin.dtw
         |FROM nn, lock, lbk, fin""".stripMargin) { (s, dir) =>
      import s.implicits._
      val daily = Tables.events(s, dir)
        .groupBy(datediff(col("ts").cast("date"), lit("1970-01-01"))
          .cast("bigint").as("d"))
        .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("a"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("b"))
        .ckpt() // calendar-bounded (day, clicks, purchases) frame
      // LB_Keogh + lockstep: fully relational (the distributed prune
      // path). The envelope is windowed on ROW POSITIONS over the
      // sorted day axis (ScaleRank.withRowNumber — the oracle's ax
      // CTE and the DP below both index by position; windowing on
      // raw day values diverges the moment the calendar has a gap
      // and can break the LB <= DTW invariant — ADVICE r8)
      val ax = ScaleRank.withRowNumber(
          daily.select(col("d"), col("a"), col("b")),
          Seq.empty, Seq(col("d")), "i", "n_ax")
        .select(col("i"), col("a"), col("b"))
        .ckpt() // positional axis feeds both envelope sides
      val env = ax.select(col("i").as("di"), col("a").as("xa"))
        .join(ax.select(col("i").as("dj"), col("b").as("yb")),
          col("dj").between(col("di") - W, col("di") + W))
        .groupBy(col("di"), col("xa"))
        .agg(min(col("yb")).as("lo"), max(col("yb")).as("hi"))
      val lbk = env.agg(sum(
        when(col("xa") > col("hi"), col("xa") - col("hi"))
          .when(col("xa") < col("lo"), col("lo") - col("xa"))
          .otherwise(0L)).as("lb"))
      val lock = ax.agg(sum(abs(col("a") - col("b"))).as("lockstep"))
      // exact banded DP: adjudicated driver compute on the collected
      // calendar-bounded day frame (DriverComputeRegistry entry)
      val rows = daily.orderBy("d").collect()
      val n = rows.length
      val as = rows.map(_.getAs[Long]("a"))
      val bs = rows.map(_.getAs[Long]("b"))
      val INF = Long.MaxValue / 4
      var prev = Array.fill(n)(INF)
      for (i <- 0 until n) {
        val cur = Array.fill(n)(INF)
        val jlo = math.max(0, i - W)
        val jhi = math.min(n - 1, i + W)
        for (j <- jlo to jhi) {
          val cost = math.abs(as(i) - bs(j))
          val best =
            if (i == 0 && j == 0) 0L
            else math.min(
              if (j > 0) cur(j - 1) else INF,
              math.min(if (i > 0) prev(j) else INF,
                if (i > 0 && j > 0) prev(j - 1) else INF))
          if (best < INF) cur(j) = cost + best
        }
        prev = cur
      }
      val dtw = if (n == 0) 0L else prev(n - 1)
      lock.crossJoin(broadcast(lbk))
        .select(lit(n.toLong).as("n_days"), col("lockstep"),
          col("lb").as("lb_keogh"), lit(dtw).as("dtw"))
    }
  }

  /** q380 — additive Holt–Winters (Holt '57; Winters '60) over daily
    * revenue with weekly seasonality: level/trend/season state updated
    * online (α=0.3, β=0.1, γ=0.2), one-step-ahead forecasts scored
    * against the seasonal-naive baseline as a skill ratio — the
    * triple-exponential-smoothing forecaster q360's Diebold–Mariano
    * test assumes someone actually runs, and the state shape behind
    * every capacity-planning dashboard. Zero-state cold start (l=b=s=0,
    * scoring begins after a two-week burn-in) keeps the replay fully
    * deterministic with no init heuristic to mirror.
    *
    * Exactness: revenue is exact cents; each of the three smoothing
    * updates is an independently FLOORED IEEE chain (the q365 nano
    * discipline — both engines walk the identical integer state
    * trajectory); the seasonal and lag-7 buffers rotate through seven
    * integer slots keyed by day-index mod 7; absolute errors and the
    * final skill ratio are pure integers.
    *
    * Scale design (100 TB): one fact collapse to the calendar-bounded
    * day axis; the recurrence is inherently sequential → the
    * adjudicated repartition(1) scan (q355/q365 shape); the oracle
    * unrolls the same recurrence as a recursive CTE carrying the
    * 7-slot buffers as columns. Output ≤ ~13 checkpoint rows. */
  val q380HoltWinters: QueryDef = {
    val (a, b, g) = (0.3, 0.1, 0.2)
    val CK = 30L
    val BURN = 14L
    def caseSlot(p: String) =
      s"CASE ((g.t - 1) % 7) + 1 ${(1 to 7).map(i =>
        s"WHEN $i THEN st.$p$i").mkString(" ")} END"
    def stepSql: String = {
      val sold = caseSlot("s")
      val yold = caseSlot("y")
      val lNew = s"CAST(floor($a" + "e0 * CAST(g.y - (" + sold +
        s") AS DOUBLE) + ${1 - a}" + "e0 * CAST(st.l + st.b AS DOUBLE)) AS BIGINT)"
      val bNew = s"CAST(floor($b" + s"e0 * CAST(($lNew) - st.l AS DOUBLE) + " +
        s"${1 - b}" + "e0 * CAST(st.b AS DOUBLE)) AS BIGINT)"
      val sNew = s"CAST(floor($g" + s"e0 * CAST(g.y - ($lNew) AS DOUBLE) + " +
        s"${1 - g}" + "e0 * CAST((" + sold + ") AS DOUBLE)) AS BIGINT)"
      val f = s"(st.l + st.b + ($sold))"
      val ss = (1 to 7).map(i =>
        s"CASE WHEN ((g.t - 1) % 7) + 1 = $i THEN ($sNew) ELSE st.s$i END")
        .mkString(", ")
      val ys = (1 to 7).map(i =>
        s"CASE WHEN ((g.t - 1) % 7) + 1 = $i THEN g.y ELSE st.y$i END")
        .mkString(", ")
      s"""SELECT g.t, ($lNew), $bNew, $ss, $ys,
         |    st.sae_hw + CASE WHEN g.t > $BURN
         |      THEN abs(g.y - ($f)) ELSE 0 END,
         |    st.sae_sn + CASE WHEN g.t > $BURN
         |      THEN abs(g.y - ($yold)) ELSE 0 END
         |  FROM st JOIN grid g ON g.t = st.t + 1"""
        .stripMargin
    }
    QueryDef(
      "q380_holt_winters",
      s"""WITH RECURSIVE ${DayAxis.revCentsSql("y")},
         |grid AS MATERIALIZED (
         |  SELECT CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS t, y
         |  FROM daily),
         |nt AS (SELECT CAST(count(*) AS BIGINT) AS tmax FROM grid),
         |st AS (
         |  SELECT CAST(0 AS BIGINT) AS t, CAST(0 AS BIGINT) AS l,
         |    CAST(0 AS BIGINT) AS b,
         |    ${(1 to 7).map(i => s"CAST(0 AS BIGINT) AS s$i").mkString(", ")},
         |    ${(1 to 7).map(i => s"CAST(0 AS BIGINT) AS y$i").mkString(", ")},
         |    CAST(0 AS BIGINT) AS sae_hw, CAST(0 AS BIGINT) AS sae_sn
         |  UNION ALL
         |  $stepSql)
         |SELECT st.t, st.l AS level_cents, st.b AS trend_cents,
         |  st.sae_hw, st.sae_sn,
         |  CASE WHEN st.sae_sn > 0
         |    THEN (1000 * st.sae_hw) // st.sae_sn END AS skill_milli
         |FROM st, nt
         |WHERE st.t > 0 AND (st.t % $CK = 0 OR st.t = nt.tmax)
         |ORDER BY st.t""".stripMargin) { (s, dir) =>
      val daily = DayAxis.revCents(s, dir)
        .select(col("d"), col("rev").as("y"))
      import s.implicits._
      val rows = daily.repartition(1).sortWithinPartitions("d")
        .select(col("y")).as[Long]
        .mapPartitions { it =>
          val ys = it.toArray
          val tmax = ys.length.toLong
          var (l, bb) = (0L, 0L)
          val sArr = new Array[Long](7)
          val yArr = new Array[Long](7)
          var (saeHw, saeSn) = (0L, 0L)
          val out = scala.collection.mutable.ArrayBuffer[
            (Long, Long, Long, Long, Long)]()
          for ((y, idx) <- ys.zipWithIndex) {
            val t = idx + 1L
            val slot = ((t - 1) % 7).toInt
            val sold = sArr(slot)
            val yold = yArr(slot)
            val fc = l + bb + sold
            if (t > BURN) {
              saeHw += math.abs(y - fc)
              saeSn += math.abs(y - yold)
            }
            val l2 = math.floor(a * (y - sold).toDouble +
              (1 - a) * (l + bb).toDouble).toLong
            val b2 = math.floor(b * (l2 - l).toDouble +
              (1 - b) * bb.toDouble).toLong
            val s2 = math.floor(g * (y - l2).toDouble +
              (1 - g) * sold.toDouble).toLong
            l = l2; bb = b2; sArr(slot) = s2; yArr(slot) = y
            if (t % CK == 0 || t == tmax)
              out += ((t, l, bb, saeHw, saeSn))
          }
          out.iterator
        }.toDF("t", "level_cents", "trend_cents", "sae_hw", "sae_sn")
      rows.select(col("t"), col("level_cents"), col("trend_cents"),
          col("sae_hw"), col("sae_sn"),
          when(col("sae_sn") > 0,
            expr("(1000 * sae_hw) div sae_sn")).as("skill_milli"))
        .orderBy("t")
    }
  }

  /** q402 — Page–Hinkley mean-shift detector (Page '54; Hinkley '71)
    * over daily revenue: the cumulative deviation from the RUNNING
    * mean, m_t = Σ_{i≤t}(x_i − x̄_i), alarmed when m_t − min_{s≤t} m_s
    * exceeds λ — the sequential change detector that complements
    * q178's CUSUM (which needs a KNOWN reference level; PH learns its
    * reference as the expanding mean, the form used when no training
    * period exists) and q245's offline changepoint.
    *
    * Exactness: revenue is exact day cents; x̄_t = cum_t div t is the
    * exact truncating-div prefix mean (non-negative, engine-
    * identical); m_t and its prefix minimum are exact integer prefix
    * structures; λ = (total div n) div 5 — 20% of the global daily
    * mean — is an exact integer of the data.
    *
    * Scale design (100 TB): one fact collapse to the calendar-bounded
    * day axis; the row index, BOTH prefix sums, and the prefix min
    * all ride [[ScaleRank]] (rowNumber / runningSum / runningMax of
    * the negation) — no global windows, no driver sequence. Output
    * 1 row. */
  val q402PageHinkley: QueryDef = QueryDef(
    "q402_page_hinkley",
    s"""WITH ${DayAxis.revCentsSql()},
       |ax AS (
       |  SELECT d, rev,
       |    CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS t,
       |    CAST(sum(rev) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING)
       |      AS BIGINT) AS cum
       |  FROM daily),
       |term AS (SELECT d, t, rev - cum // t AS term FROM ax),
       |mm AS (
       |  SELECT d, t,
       |    CAST(sum(term) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)
       |      AS BIGINT) AS m
       |  FROM term),
       |ph AS (
       |  SELECT d, t, m - CAST(min(m) OVER (ORDER BY t
       |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS ph
       |  FROM mm),
       |lam AS (
       |  SELECT ((max(cum) // max(t)) // 5) AS lambda FROM ax),
       |mx AS (SELECT max(ph) AS max_ph FROM ph),
       |pk AS (
       |  SELECT min(ph.d) AS peak_day FROM ph, mx WHERE ph.ph = mx.max_ph)
       |SELECT (SELECT CAST(max(t) AS BIGINT) FROM ax) AS n_days,
       |  lam.lambda AS lambda_cents, mx.max_ph, pk.peak_day,
       |  (SELECT CAST(count(*) AS BIGINT) FROM ph, lam
       |   WHERE ph.ph > lam.lambda) AS n_alert_days
       |FROM lam, mx, pk""".stripMargin) { (s, dir) =>
    val daily = DayAxis.revCents(s, dir)
    val rn = DayAxis.numbered(daily)
    val cum = ScaleRank.withRunningSum(rn, Seq.empty, Seq(col("t")),
      col("rev"), "cum")
    val term = cum.select(col("d"), col("t"), col("n_ax"), col("cum"),
      (col("rev") - expr("cum div t")).as("term"))
    val mSum = ScaleRank.withRunningSum(term, Seq.empty, Seq(col("t")),
      col("term"), "m")
    val ph = ScaleRank.withRunningMax(mSum.withColumn("negm", -col("m")),
        Seq.empty, Seq(col("t")), col("negm"), "negmin", inclusive = true)
      .select(col("d"), col("t"), col("n_ax"),
        (col("m") + col("negmin")).as("ph"), col("cum"))
      .ckpt() // tiny day frame read by four 1-row folds
    val lam = ph.agg(expr("(max(cum) div max(t)) div 5").as("lambda"))
    val mx = ph.agg(max(col("ph")).as("max_ph"))
    val pk = ph.join(broadcast(mx), col("ph") === col("max_ph"))
      .agg(min(col("d")).as("peak_day"))
    val nAlert = ph.crossJoin(broadcast(lam))
      .agg(sum(when(col("ph") > col("lambda"), 1L).otherwise(0L))
        .as("n_alert_days"))
    val nDays = ph.agg(max(col("t")).as("n_days"))
    nDays.crossJoin(broadcast(lam)).crossJoin(broadcast(mx))
      .crossJoin(broadcast(pk)).crossJoin(broadcast(nAlert))
      .select(col("n_days"), col("lambda").as("lambda_cents"),
        col("max_ph"), col("peak_day"), col("n_alert_days"))
  }

  /** Shared OLS-on-the-day-index machinery (q404's family and q405,
    * through [[olsFit]] / [[olsFitSql]]): exact
    * (n, Σt, Σt², Σy, Σty) moments in DECIMAL(38), milli-floored
    * slope/intercept via ONE shared IEEE chain each (the q286
    * cross-engine discipline), and exact integer milli residuals
    * e_t = 1000·y − a − b·t from the FLOORED coefficients — so every
    * residual sum downstream is exact integer arithmetic in both
    * engines. */
  private def olsBMilli: String =
    "CAST(floor(1000.0e0 * ((CAST(n AS DOUBLE) * CAST(sty AS DOUBLE) - " +
      "CAST(st AS DOUBLE) * CAST(sy AS DOUBLE)) / " +
      "(CAST(n AS DOUBLE) * CAST(stt AS DOUBLE) - " +
      "CAST(st AS DOUBLE) * CAST(st AS DOUBLE)))) AS BIGINT)"
  private def olsAMilli: String =
    "CAST(floor((1000.0e0 * CAST(sy AS DOUBLE) - " +
      "CAST(b_milli AS DOUBLE) * CAST(st AS DOUBLE)) / " +
      "CAST(n AS DOUBLE)) AS BIGINT)"

  /** The oracle side of [[olsFit]]: the CTEs `mo` (exact moments of
    * `rev` on `t` over the CTE `from`), `co` and `co2` (b_milli,
    * a_milli). */
  private def olsFitSql(from: String = "ax"): String =
    s"""mo AS (
       |  SELECT CAST(count(*) AS HUGEINT) AS n,
       |    sum(CAST(t AS HUGEINT)) AS st,
       |    sum(CAST(t AS HUGEINT) * t) AS stt,
       |    sum(CAST(rev AS HUGEINT)) AS sy,
       |    sum(CAST(t AS HUGEINT) * rev) AS sty
       |  FROM $from),
       |co AS (
       |  SELECT n, st, sy, $olsBMilli AS b_milli FROM mo),
       |co2 AS (SELECT b_milli, $olsAMilli AS a_milli FROM co)""".stripMargin

  /** OLS of `rev` on `t` over `frame`: the exact DECIMAL(38) moments
    * (n, st, stt, sy, sty) and the 1-row milli-floored fit
    * (b_milli, a_milli). */
  private def olsFit(frame: DataFrame): (DataFrame, DataFrame) = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val mo = frame.agg(dec(count(lit(1))).as("n"),
      sum(dec(col("t"))).as("st"), sum(dec(col("t")) * col("t")).as("stt"),
      sum(dec(col("rev"))).as("sy"), sum(dec(col("t")) * col("rev")).as("sty"))
    val co = mo.select(col("n"), col("st"), col("sy"),
        expr(olsBMilli).as("b_milli"))
      .select(col("b_milli"), expr(olsAMilli).as("a_milli"))
    (mo, co)
  }

  /** The squared milli residual off the [[olsFit]] line, floored to
    * cents² units: u = ⌊(1000·rev − a − b·t)² / 10⁹⌋. Evaluated over
    * (t, rev) crossed with the fit. */
  private def sqResid: Column =
    expr("CAST(((1000 * rev - a_milli - b_milli * t) * " +
      "CAST((1000 * rev - a_milli - b_milli * t) AS DECIMAL(38,0))) " +
      "div 1000000000 AS DECIMAL(38,0))").as("u")

  /** The oracle side of [[sqResid]]: the CTE `name` (`cols`, u) over
    * `ax` crossed with [[olsFitSql]]'s `co2`. */
  private def sqResidSql(name: String, cols: String = "ax.t"): String =
    s"""$name AS (
       |  SELECT $cols,
       |    ((1000 * ax.rev - co2.a_milli - co2.b_milli * ax.t)
       |      * CAST((1000 * ax.rev - co2.a_milli - co2.b_milli * ax.t)
       |        AS HUGEINT)) // 1000000000 AS u
       |  FROM ax, co2)""".stripMargin

  /** q404 — Durbin–Watson statistic (Durbin & Watson '50) on the
    * residuals of daily revenue regressed on the day index:
    * DW = Σ(e_t − e_{t−1})² / Σe_t² — the canonical "are my
    * regression errors serially correlated" audit (DW ≈ 2 means
    * none; → 0 positive; → 4 negative). q387's Ljung–Box tests the
    * RAW series; DW tests what's left AFTER the trend, which is the
    * assumption every OLS forecast in this file quietly makes.
    *
    * Exactness: OLS moments are exact DECIMAL(38) integers; the
    * milli-floored (a, b) make every residual an exact int64; both
    * quadratic sums ride DECIMAL(38); DW is one final guarded IEEE
    * chain.
    *
    * Scale design (100 TB): one fact collapse to the calendar-bounded
    * day axis; the row index rides [[ScaleRank.withRowNumber]]; the
    * lag is one consecutive-index self-join of the bounded day frame.
    * Output 1 row. */
  val q404DurbinWatson: QueryDef = QueryDef(
    "q404_durbin_watson",
    s"""WITH ${DayAxis.revCentsSql()},
       |${DayAxis.axSql()},
       |${olsFitSql()},
       |e AS (
       |  SELECT ax.t,
       |    1000 * ax.rev - co2.a_milli - co2.b_milli * ax.t AS e
       |  FROM ax, co2),
       |dsum AS (
       |  SELECT sum((CAST(b.e AS HUGEINT) - a.e)
       |      * (CAST(b.e AS HUGEINT) - a.e)) AS dd
       |  FROM e a JOIN e b ON b.t = a.t + 1),
       |esum AS (SELECT sum(CAST(e AS HUGEINT) * e) AS ee FROM e)
       |SELECT co2.a_milli, co2.b_milli,
       |  CAST(floor(1000.0e0 * CAST(dsum.dd AS DOUBLE) /
       |    CAST(esum.ee AS DOUBLE)) AS BIGINT) AS dw_milli
       |FROM co2, dsum, esum WHERE esum.ee > 0""".stripMargin) { (s, dir) =>
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val ax = DayAxis.numbered(DayAxis.revCents(s, dir))
      .select(col("t"), col("rev"))
      .ckpt() // calendar-bounded indexed day frame
    val (_, co) = olsFit(ax)
    val e = ax.crossJoin(broadcast(co))
      .select(col("t"),
        (lit(1000) * col("rev") - col("a_milli") - col("b_milli") * col("t"))
          .as("e"))
      .ckpt() // residual day frame: lag pairs + both quadratic sums
    val dsum = e.select(col("t").as("ta"), col("e").as("ea"))
      .join(e.select(col("t").as("tb"), col("e").as("eb")),
        col("tb") === col("ta") + 1)
      .agg(sum((dec(col("eb")) - col("ea")) * (dec(col("eb")) - col("ea")))
        .as("dd"))
    val esum = e.agg(sum(dec(col("e")) * col("e")).as("ee"))
    co.crossJoin(broadcast(dsum)).crossJoin(broadcast(esum))
      .filter(col("ee") > 0)
      .select(col("a_milli"), col("b_milli"),
        floor(lit(1000.0) * col("dd").cast("double") / col("ee").cast("double"))
          .cast("bigint").as("dw_milli"))
  }

  /** q405 — Chow structural-break test (Chow '60) at the midpoint of
    * the day axis: fit OLS revenue-on-day-index to the full span and
    * to each half, and test whether the two halves share one line —
    * F = ((SSR_p − SSR₁ − SSR₂)/k) / ((SSR₁+SSR₂)/(n−2k)), k = 2.
    * The regression-native break test beside q245's changepoint
    * LOCATOR (q245 finds WHERE; Chow prices whether the break is
    * statistically real for the model you actually fit).
    *
    * Exactness: per-segment moments exact in DECIMAL(38); each fit's
    * (a, b) milli-floored via the shared [[olsBMilli]]/[[olsAMilli]]
    * chains; residual SSRs are exact integer sums off those floored
    * coefficients, emitted
    * in 10¹² units (milli²-cents² SSRs overflow int64 even at
    * sf0.01 — the truncating div is exact and engine-identical; F
    * reads the full DECIMAL values); F is one guarded IEEE chain.
    *
    * Scale design (100 TB): one fact collapse to the calendar-bounded
    * day axis; segment moments are one grouped aggregate; all three
    * SSRs are ONE pass over the bounded frame — the 2-row per-segment
    * coefficient frame equi-joins broadcast and the 1-row pooled fit
    * crosses broadcast (no non-equi shapes; the pooled/own residuals
    * are two columns of the same scan). Output 1 row. */
  val q405ChowTest: QueryDef = QueryDef(
    "q405_chow_test",
    s"""WITH ${DayAxis.revCentsSql()},
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM daily),
       |${DayAxis.axSql()},
       |seg AS (
       |  SELECT ax.t, ax.rev,
       |    CASE WHEN ax.t <= nn.nd // 2 THEN 1 ELSE 2 END AS g
       |  FROM ax, nn),
       |mo AS (
       |  SELECT g, CAST(count(*) AS HUGEINT) AS n,
       |    sum(CAST(t AS HUGEINT)) AS st, sum(CAST(t AS HUGEINT) * t) AS stt,
       |    sum(CAST(rev AS HUGEINT)) AS sy,
       |    sum(CAST(t AS HUGEINT) * rev) AS sty
       |  FROM seg GROUP BY g
       |  UNION ALL
       |  SELECT 0 AS g, CAST(count(*) AS HUGEINT) AS n,
       |    sum(CAST(t AS HUGEINT)) AS st, sum(CAST(t AS HUGEINT) * t) AS stt,
       |    sum(CAST(rev AS HUGEINT)) AS sy,
       |    sum(CAST(t AS HUGEINT) * rev) AS sty
       |  FROM seg),
       |co AS (
       |  SELECT g, n, st, sy, $olsBMilli AS b_milli FROM mo),
       |co2 AS (SELECT g, n, $olsAMilli AS a_milli, b_milli FROM co),
       |ssr AS (
       |  SELECT co2.g,
       |    sum(CAST(1000 * seg.rev - co2.a_milli - co2.b_milli * seg.t
       |          AS HUGEINT)
       |      * (1000 * seg.rev - co2.a_milli - co2.b_milli * seg.t)) AS ssr
       |  FROM seg JOIN co2 ON co2.g = seg.g OR co2.g = 0
       |  GROUP BY co2.g),
       |z AS (
       |  SELECT
       |    max(CASE WHEN g = 0 THEN ssr END) AS sp,
       |    max(CASE WHEN g = 1 THEN ssr END) AS s1,
       |    max(CASE WHEN g = 2 THEN ssr END) AS s2
       |  FROM ssr)
       |SELECT nn.nd AS n_days,
       |  CAST(z.sp // 1000000000000 AS BIGINT) AS ssr_pooled_t12,
       |  CAST((z.s1 + z.s2) // 1000000000000 AS BIGINT) AS ssr_split_t12,
       |  CAST(floor(1000.0e0 *
       |    ((CAST(z.sp AS DOUBLE) - CAST(z.s1 + z.s2 AS DOUBLE)) / 2.0e0) /
       |    (CAST(z.s1 + z.s2 AS DOUBLE) / (CAST(nn.nd AS DOUBLE) - 4.0e0)))
       |    AS BIGINT) AS f_milli
       |FROM z, nn WHERE z.s1 + z.s2 > 0 AND nn.nd > 4""".stripMargin) {
    (s, dir) =>
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val daily = DayAxis.revCents(s, dir)
    val seg = ScaleRank.withRowNumber(daily, Seq.empty, Seq(col("d")),
        "t", "nd")
      .select(col("t"), col("rev"), col("nd"),
        when(col("t") <= expr("nd div 2"), 1L).otherwise(2L).as("g"))
      .ckpt() // calendar-bounded indexed day frame: moments + SSRs
    def moments(df: DataFrame, gVal: Column) = df
      .groupBy(gVal.as("g"))
      .agg(dec(count(lit(1))).as("n"), sum(dec(col("t"))).as("st"),
        sum(dec(col("t")) * col("t")).as("stt"),
        sum(dec(col("rev"))).as("sy"), sum(dec(col("t")) * col("rev")).as("sty"))
    val mo = moments(seg, col("g")).unionByName(moments(seg, lit(0L)))
    val co = mo.select(col("g"), col("n"), col("st"), col("sy"),
        expr(olsBMilli).as("b_milli"))
      .select(col("g"), col("n"), expr(olsAMilli).as("a_milli"),
        col("b_milli"))
    val coSeg = co.filter(col("g") =!= 0)
      .select(col("g").as("cg"), col("a_milli").as("a_s"),
        col("b_milli").as("b_s"))
    val coPool = co.filter(col("g") === 0)
      .select(col("a_milli").as("a_p"), col("b_milli").as("b_p"))
    val z = seg.join(broadcast(coSeg), col("cg") === col("g"))
      .crossJoin(broadcast(coPool))
      .select(col("g"),
        (lit(1000) * col("rev") - col("a_s") - col("b_s") * col("t"))
          .as("eo"),
        (lit(1000) * col("rev") - col("a_p") - col("b_p") * col("t"))
          .as("ep"))
      .agg(sum(dec(col("ep")) * col("ep")).as("sp"),
        sum(when(col("g") === 1, dec(col("eo")) * col("eo"))).as("s1"),
        sum(when(col("g") === 2, dec(col("eo")) * col("eo"))).as("s2"))
    val nn = seg.agg(max(col("nd")).as("nd"))
    z.crossJoin(broadcast(nn))
      .filter(col("s1") + col("s2") > 0 && col("nd") > 4)
      .select(col("nd").as("n_days"),
        expr("CAST(sp div 1000000000000 AS BIGINT)").as("ssr_pooled_t12"),
        expr("CAST((s1 + s2) div 1000000000000 AS BIGINT)")
          .as("ssr_split_t12"),
        floor(lit(1000.0) *
          ((col("sp").cast("double") - (col("s1") + col("s2")).cast("double"))
            / 2.0) /
          ((col("s1") + col("s2")).cast("double") /
            (col("nd").cast("double") - 4.0)))
          .cast("bigint").as("f_milli"))
  }

  /** q401 — Lo–MacKinlay variance-ratio test (Lo & MacKinlay '88) at
    * horizon q=5 on daily revenue: VR(q) = [Var of overlapping
    * q-period changes / q] / [Var of 1-period changes] — 1 under a
    * random walk, >1 for momentum, <1 for mean reversion — with the
    * homoskedastic asymptotic z. The random-walk audit that
    * complements q404 (DW asks "are residuals serially correlated",
    * VR asks "does variance scale LINEARLY in the horizon", the
    * property every vol-targeting forecast in this file assumes).
    *
    * Exactness: day revenue is exact cents; both lag differences come
    * from consecutive-index self-joins on the [[ScaleRank]] row
    * number; the (n−1)-scaled centered squares Σ((n−1)·d − Σd)² and
    * Σ((n−1)·D − q·Σd)² are exact DECIMAL(38) integers (scaling by
    * (n−1) clears the mean's denominator); VR is an EXACT truncating
    * div of those non-negative integers; z is one guarded IEEE chain.
    *
    * Scale design (100 TB): one fact collapse to the calendar-bounded
    * day axis, two equi self-joins of that bounded frame, two 1-row
    * moment folds. Output 1 row. */
  val q401VarianceRatio: QueryDef = {
    val Q = 5
    val zChain = s"CAST(floor(1000.0e0 * (CAST(vr_milli AS DOUBLE) / " +
      s"1000.0e0 - 1.0e0) / sqrt(2.0e0 * (2.0e0 * $Q - 1.0e0) * " +
      s"($Q - 1.0e0) / (3.0e0 * $Q * CAST(nd AS DOUBLE)))) AS BIGINT)"
    QueryDef(
      "q401_variance_ratio",
      s"""WITH ${DayAxis.revCentsSql()},
         |${DayAxis.axSql()},
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ax),
         |sd AS (
         |  SELECT CAST(sum(CASE WHEN t = nn.n THEN rev END)
         |    - sum(CASE WHEN t = 1 THEN rev END) AS BIGINT) AS sumd
         |  FROM ax, nn GROUP BY nn.n),
         |s1 AS (
         |  SELECT sum(((CAST(b.rev AS HUGEINT) - a.rev) * (nn.n - 1)
         |      - sd.sumd)
         |    * ((CAST(b.rev AS HUGEINT) - a.rev) * (nn.n - 1) - sd.sumd))
         |    AS ss1, CAST(count(*) AS BIGINT) AS nd1
         |  FROM ax a JOIN ax b ON b.t = a.t + 1, nn, sd),
         |sq AS (
         |  SELECT sum(((CAST(b.rev AS HUGEINT) - a.rev) * (nn.n - 1)
         |      - $Q * sd.sumd)
         |    * ((CAST(b.rev AS HUGEINT) - a.rev) * (nn.n - 1)
         |      - $Q * sd.sumd)) AS ssq, CAST(count(*) AS BIGINT) AS ndq
         |  FROM ax a JOIN ax b ON b.t = a.t + $Q, nn, sd),
         |vr AS (
         |  SELECT nn.n AS nd,
         |    CAST((1000 * s1.nd1 * sq.ssq) // ($Q * sq.ndq * s1.ss1)
         |      AS BIGINT) AS vr_milli
         |  FROM nn, s1, sq WHERE s1.ss1 > 0 AND nn.n > $Q)
         |SELECT nd AS n_days, vr_milli, $zChain AS z_milli
         |FROM vr""".stripMargin) { (s, dir) =>
      val dec = (c: Column) => c.cast("decimal(38,0)")
      val ax = DayAxis.numbered(DayAxis.revCents(s, dir))
        .select(col("t"), col("rev"), col("n_ax"))
        .ckpt() // calendar-bounded indexed day frame: both lag joins
      val nn = ax.agg(max(col("n_ax")).as("n"))
      val sd = ax.crossJoin(broadcast(nn))
        .agg((sum(when(col("t") === col("n"), col("rev")))
          - sum(when(col("t") === 1, col("rev")))).cast("bigint").as("sumd"))
      def lagSS(lag: Int, mult: Int, ssName: String, ndName: String) =
        ax.select(col("t").as("ta"), col("rev").as("ra"))
          .join(ax.select(col("t").as("tb"), col("rev").as("rb")),
            col("tb") === col("ta") + lag)
          .crossJoin(broadcast(nn)).crossJoin(broadcast(sd))
          .select(((dec(col("rb")) - col("ra")) * (col("n") - 1)
            - lit(mult) * col("sumd")).as("cd"))
          .agg(sum(col("cd") * col("cd")).as(ssName),
            count(lit(1)).cast("bigint").as(ndName))
      val s1 = lagSS(1, 1, "ss1", "nd1")
      val sq = lagSS(Q, Q, "ssq", "ndq")
      nn.crossJoin(broadcast(s1)).crossJoin(broadcast(sq))
        .filter(col("ss1") > 0 && col("n") > Q)
        .select(col("n").as("n_days"),
          expr(s"CAST((1000 * nd1 * ssq) div ($Q * ndq * ss1) AS BIGINT)")
            .as("vr_milli"))
        .withColumn("nd", col("n_days"))
        .select(col("n_days"), col("vr_milli"), expr(zChain).as("z_milli"))
    }
  }

  /** q406 — permutation entropy of order 3 (Bandt & Pompe '02) on
    * daily revenue: encode every consecutive day triple by its
    * ordinal pattern (which of the 3! orderings the values take,
    * ties broken toward the earlier day — the stable-argsort
    * convention) and read the Shannon entropy of the pattern
    * distribution. The complexity gauge that needs NO amplitude
    * model at all — white noise → ln 6, a monotone ramp → 0 — and
    * is robust to any monotone transform of revenue; complements
    * q376 (symbol entropy RATE of the event-type stream) and q402
    * (mean-shift location).
    *
    * Exactness: triples come from two consecutive-index equi
    * self-joins on the [[ScaleRank]] row number; the 3 pairwise ≤
    * comparisons encode the pattern exactly; each pattern's entropy
    * term is independently nano-floored (the q83/q199 discipline)
    * and the sums are exact int64.
    *
    * Scale design (100 TB): one fact collapse to the calendar-bounded
    * day axis, two equi lag joins of the bounded frame, a ≤6-row
    * pattern aggregate. Output ≤6 rows + constants. */
  val q406PermutationEntropy: QueryDef = QueryDef(
    "q406_permutation_entropy",
    s"""WITH ${DayAxis.revCentsSql()},
       |${DayAxis.axSql()},
       |tri AS (
       |  SELECT 4 * (CASE WHEN a.rev <= b.rev THEN 1 ELSE 0 END)
       |    + 2 * (CASE WHEN b.rev <= c.rev THEN 1 ELSE 0 END)
       |    + (CASE WHEN a.rev <= c.rev THEN 1 ELSE 0 END) AS pat
       |  FROM ax a JOIN ax b ON b.t = a.t + 1 JOIN ax c ON c.t = a.t + 2),
       |pc AS (
       |  SELECT pat, CAST(count(*) AS BIGINT) AS cnt FROM tri GROUP BY pat),
       |nn AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM pc),
       |terms AS (
       |  SELECT pc.pat, pc.cnt,
       |    CAST(floor(1000000000.0e0 * (-(CAST(pc.cnt AS DOUBLE)
       |      / CAST(nn.n AS DOUBLE))
       |      * ln(CAST(pc.cnt AS DOUBLE) / CAST(nn.n AS DOUBLE))))
       |      AS BIGINT) AS h_nn
       |  FROM pc, nn),
       |h AS (SELECT CAST(sum(h_nn) AS BIGINT) AS h_nano FROM terms)
       |SELECT terms.pat AS pattern, terms.cnt AS n_triples, h.h_nano,
       |  CAST((1000 * h.h_nano) //
       |    CAST(floor(1000000000.0e0 * ln(6.0e0)) AS BIGINT) AS BIGINT)
       |    AS h_norm_milli
       |FROM terms, h ORDER BY pattern""".stripMargin) { (s, dir) =>
    val ax = DayAxis.numbered(DayAxis.revCents(s, dir))
      .select(col("t"), col("rev"))
      .ckpt() // calendar-bounded indexed day frame: both lag joins
    val tri = ax.select(col("t").as("ta"), col("rev").as("ra"))
      .join(ax.select(col("t").as("tb"), col("rev").as("rb")),
        col("tb") === col("ta") + 1)
      .join(ax.select(col("t").as("tc"), col("rev").as("rc")),
        col("tc") === col("ta") + 2)
      .select((lit(4) * when(col("ra") <= col("rb"), 1).otherwise(0)
        + lit(2) * when(col("rb") <= col("rc"), 1).otherwise(0)
        + when(col("ra") <= col("rc"), 1).otherwise(0)).as("pat"))
    val pc = tri.groupBy(col("pat")).agg(count(lit(1)).as("cnt"))
      .ckpt() // <=6-row pattern frame: total + terms + output
    val nn = pc.agg(sum(col("cnt")).cast("bigint").as("n"))
    val terms = pc.crossJoin(broadcast(nn))
      .select(col("pat"), col("cnt"),
        expr("CAST(floor(1000000000.0e0 * (-(CAST(cnt AS DOUBLE) " +
          "/ CAST(n AS DOUBLE)) * ln(CAST(cnt AS DOUBLE) " +
          "/ CAST(n AS DOUBLE)))) AS BIGINT)").as("h_nn"))
      .ckpt() // terms feed the fold AND the output
    val h = terms.agg(sum(col("h_nn")).cast("bigint").as("h_nano"))
    terms.crossJoin(broadcast(h))
      .select(col("pat").as("pattern"), col("cnt").as("n_triples"),
        col("h_nano"),
        expr("CAST((1000 * h_nano) div " +
          "CAST(floor(1000000000.0e0 * ln(6.0e0)) AS BIGINT) AS BIGINT)")
          .as("h_norm_milli"))
      .orderBy("pattern")
  }

  /** q410 — Breusch–Pagan heteroskedasticity test (Breusch & Pagan
    * '79, Koenker's studentized form) on the q404 OLS residuals:
    * regress the squared residual on the day index and read
    * BP = n·R² of that auxiliary fit. DW (q404) audits residual
    * CORRELATION; BP audits residual VARIANCE drift — the assumption
    * that turns a fan-shaped revenue trend into a false "stable
    * forecast" (χ²₁, 5% critical 3.841).
    *
    * Exactness: residuals are the exact integer milli residuals off
    * the shared [[olsFit]] floored coefficients; the auxiliary variable is
    * u = e² div 10⁹ (exact truncating — raw e⁴ sums would pass 10³⁸;
    * the div keeps Σu² inside DECIMAL(38) headroom); the five
    * auxiliary moments are exact DECIMAL(38) integers; BP is ONE
    * guarded IEEE chain.
    *
    * Scale design (100 TB): the [[olsFit]] plan plus one more fold of the
    * same calendar-bounded residual frame. Output 1 row. */
  val q410BreuschPagan: QueryDef = QueryDef(
    "q410_breusch_pagan",
    s"""WITH ${DayAxis.revCentsSql()},
       |${DayAxis.axSql()},
       |${olsFitSql()},
       |${sqResidSql("e")},
       |am AS (
       |  SELECT CAST(count(*) AS HUGEINT) AS n,
       |    sum(CAST(t AS HUGEINT)) AS st,
       |    sum(CAST(t AS HUGEINT) * t) AS stt,
       |    sum(u) AS su, sum(CAST(t AS HUGEINT) * u) AS stu,
       |    sum(u * u) AS suu
       |  FROM e)
       |SELECT CAST(n AS BIGINT) AS n_days,
       |  CAST(floor(1000.0e0 * CAST(n AS DOUBLE)
       |    * (CAST(n AS DOUBLE) * CAST(stu AS DOUBLE)
       |       - CAST(st AS DOUBLE) * CAST(su AS DOUBLE))
       |    * (CAST(n AS DOUBLE) * CAST(stu AS DOUBLE)
       |       - CAST(st AS DOUBLE) * CAST(su AS DOUBLE))
       |    / ((CAST(n AS DOUBLE) * CAST(stt AS DOUBLE)
       |        - CAST(st AS DOUBLE) * CAST(st AS DOUBLE))
       |       * (CAST(n AS DOUBLE) * CAST(suu AS DOUBLE)
       |          - CAST(su AS DOUBLE) * CAST(su AS DOUBLE))))
       |    AS BIGINT) AS bp_milli,
       |  CASE WHEN floor(1000.0e0 * CAST(n AS DOUBLE)
       |    * (CAST(n AS DOUBLE) * CAST(stu AS DOUBLE)
       |       - CAST(st AS DOUBLE) * CAST(su AS DOUBLE))
       |    * (CAST(n AS DOUBLE) * CAST(stu AS DOUBLE)
       |       - CAST(st AS DOUBLE) * CAST(su AS DOUBLE))
       |    / ((CAST(n AS DOUBLE) * CAST(stt AS DOUBLE)
       |        - CAST(st AS DOUBLE) * CAST(st AS DOUBLE))
       |       * (CAST(n AS DOUBLE) * CAST(suu AS DOUBLE)
       |          - CAST(su AS DOUBLE) * CAST(su AS DOUBLE)))) > 3841
       |    THEN 1 ELSE 0 END AS reject_5pct
       |FROM am
       |WHERE (n * suu - su * su) > 0 AND (n * stt - st * st) > 0
       |""".stripMargin) { (s, dir) =>
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val ax = DayAxis.numbered(DayAxis.revCents(s, dir))
      .select(col("t"), col("rev"))
      .ckpt() // calendar-bounded indexed day frame
    val (_, co) = olsFit(ax)
    val e = ax.crossJoin(broadcast(co))
      .select(col("t"), sqResid)
    val am = e.agg(dec(count(lit(1))).as("n"),
      sum(dec(col("t"))).as("st"), sum(dec(col("t")) * col("t")).as("stt"),
      sum(col("u")).as("su"), sum(dec(col("t")) * col("u")).as("stu"),
      sum(col("u") * col("u")).as("suu"))
    val bp = "floor(1000.0e0 * CAST(n AS DOUBLE) " +
      "* (CAST(n AS DOUBLE) * CAST(stu AS DOUBLE) " +
      "- CAST(st AS DOUBLE) * CAST(su AS DOUBLE)) " +
      "* (CAST(n AS DOUBLE) * CAST(stu AS DOUBLE) " +
      "- CAST(st AS DOUBLE) * CAST(su AS DOUBLE)) " +
      "/ ((CAST(n AS DOUBLE) * CAST(stt AS DOUBLE) " +
      "- CAST(st AS DOUBLE) * CAST(st AS DOUBLE)) " +
      "* (CAST(n AS DOUBLE) * CAST(suu AS DOUBLE) " +
      "- CAST(su AS DOUBLE) * CAST(su AS DOUBLE))))"
    am.filter(expr("(n * suu - su * su) > 0 AND (n * stt - st * st) > 0"))
      .select(col("n").cast("bigint").as("n_days"),
        expr(s"CAST($bp AS BIGINT)").as("bp_milli"),
        expr(s"CASE WHEN $bp > 3841 THEN 1 ELSE 0 END").as("reject_5pct"))
  }

  /** Doubled midranks (rev, d2) of the daily-revenue values over a
    * day frame `daily` (d, rev): d2 = 2·cumBefore + c + 1 off the
    * (rev, count) domain's one prefix pass — the rank scores q414
    * (Pettitt) and q421 (Bartels) walk in day order. */
  private[operators] def revMidranks(daily: DataFrame): DataFrame = {
    val dom = daily.groupBy(col("rev")).agg(count(lit(1)).as("c"))
    ScaleRank.withRunningSum(dom, Seq.empty, Seq(col("rev")),
        col("c"), "cum")
      .select(col("rev"), (lit(2) * (col("cum") - col("c")) + col("c") + 1)
        .as("d2"))
  }

  /** The oracle side of [[revMidranks]] over the CTE `daily`: the CTEs
    * `dom` and `da` (rev, d2). */
  private[operators] def revMidranksSql: String =
    """dom AS (
      |  SELECT rev, CAST(count(*) AS BIGINT) AS c FROM daily GROUP BY rev),
      |da AS (
      |  SELECT rev,
      |    2 * (CAST(sum(c) OVER (ORDER BY rev ROWS UNBOUNDED PRECEDING)
      |      AS BIGINT) - c) + c + 1 AS d2
      |  FROM dom)""".stripMargin

  /** q414 — Pettitt changepoint test (Pettitt '79) on daily revenue:
    * K = max_t |U_t| with U_t = 2Σ_{i≤t}R_i − t(N+1) over global
    * ranks — the rank-based single-changepoint test that needs no
    * distributional model at all. q245 LOCATES a mean changepoint by
    * squared-error; q402 alarms sequentially; Pettitt is the one
    * whose null distribution is exact-rank-free, the right test when
    * revenue is heavy-tailed enough that q245's SSE criterion chases
    * outliers (approx p = 2·exp(−6K²/(N³+N²))).
    *
    * Exactness: global midranks ride the (value, count) domain
    * collapse in DOUBLED units (one [[ScaleRank.withRunningSum]]
    * prefix + one equi join back — never a row-level window); the
    * day-ordered cumulative Σd is a second prefix pass; every
    * U_t = Σ_{i≤t}dᵢ − t(N+1) is an exact int64; K and its argmax
    * day are exact folds; p is ONE IEEE chain.
    *
    * Scale design (100 TB): one fact collapse to the calendar-bounded
    * day axis, one bounded domain collapse, two distributed prefix
    * passes, two 1-row folds. Output 1 row. */
  val q414Pettitt: QueryDef = QueryDef(
    "q414_pettitt",
    s"""WITH ${DayAxis.revCentsSql()},
       |$revMidranksSql,
       |ax AS (
       |  SELECT CAST(row_number() OVER (ORDER BY daily.d) AS BIGINT) AS t,
       |    daily.d, da.d2
       |  FROM daily JOIN da ON da.rev = daily.rev),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ax),
       |uu AS (
       |  SELECT ax.t, ax.d,
       |    CAST(sum(ax.d2) OVER (ORDER BY ax.t ROWS UNBOUNDED PRECEDING)
       |      AS BIGINT) - ax.t * (nn.n + 1) AS u
       |  FROM ax, nn),
       |k AS (
       |  SELECT max(abs(u)) AS k_stat FROM uu, nn WHERE uu.t < nn.n),
       |pk AS (
       |  SELECT min(uu.d) AS change_day FROM uu, k WHERE abs(uu.u) = k.k_stat)
       |SELECT nn.n AS n_days, k.k_stat, pk.change_day,
       |  CAST(floor(1000000.0e0 * 2.0e0 * exp(-6.0e0
       |    * CAST(k.k_stat AS DOUBLE) * CAST(k.k_stat AS DOUBLE)
       |    / (CAST(nn.n AS DOUBLE) * CAST(nn.n AS DOUBLE)
       |       * CAST(nn.n AS DOUBLE)
       |       + CAST(nn.n AS DOUBLE) * CAST(nn.n AS DOUBLE))))
       |    AS BIGINT) AS p_micro
       |FROM nn, k, pk""".stripMargin) { (s, dir) =>
    val daily = DayAxis.revCents(s, dir)
    val da = revMidranks(daily)
    val ax = ScaleRank.withRowNumber(
      daily.join(da, Seq("rev")).select(col("d"), col("d2")),
      Seq.empty, Seq(col("d")), "t", "n")
    val uu = ScaleRank.withRunningSum(ax, Seq.empty, Seq(col("t")),
        col("d2"), "cumd")
      .select(col("t"), col("d"),
        (col("cumd") - col("t") * (col("n") + 1)).as("u"),
        col("n").as("nd"))
      .ckpt() // bounded U walk: K fold + argmax + n
    val nn = uu.agg(max(col("nd")).as("ndays"))
    val k = uu.filter(col("t") < col("nd"))
      .agg(max(abs(col("u"))).as("k_stat"))
    val pk = uu.crossJoin(broadcast(k))
      .filter(abs(col("u")) === col("k_stat"))
      .agg(min(col("d")).as("change_day"))
    val p = "floor(1000000.0e0 * 2.0e0 * exp(-6.0e0 " +
      "* CAST(k_stat AS DOUBLE) * CAST(k_stat AS DOUBLE) " +
      "/ (CAST(ndays AS DOUBLE) * CAST(ndays AS DOUBLE) " +
      "* CAST(ndays AS DOUBLE) " +
      "+ CAST(ndays AS DOUBLE) * CAST(ndays AS DOUBLE))))"
    nn.crossJoin(broadcast(k)).crossJoin(broadcast(pk))
      .select(col("ndays").as("n_days"), col("k_stat"), col("change_day"),
        expr(s"CAST($p AS BIGINT)").as("p_micro"))
  }

  /** q417 — CUSUM-of-squares stability test (Brown, Durbin & Evans
    * '75) on the q404 OLS residuals: s_t = Σ_{i≤t}e²ᵢ / Σe²ᵢ must
    * hug the diagonal t/n; its maximum gap D is the variance-break
    * detector — q405 asks "did the LINE break at the midpoint",
    * q410 asks "does variance TREND", this asks "did variance break
    * ANYWHERE", locating it at the argmax day (asymptotic 5% band
    * 0.948/√n).
    *
    * Exactness: residuals are exact milli ints off the shared [[olsFit]]
    * floored coefficients; u = e² div 10⁹ (the q410 unit); the
    * cumulative walk rides one [[ScaleRank.withRunningSum]] prefix;
    * every gap |n·cumᵤ − t·totᵤ| is an exact DECIMAL(38) integer;
    * D and its argmax are exact folds; the reported ratio and band
    * are each ONE IEEE chain.
    *
    * Scale design (100 TB): the [[olsFit]] plan plus one prefix pass and
    * two 1-row folds on the calendar-bounded residual frame.
    * Output 1 row. */
  val q417CusumSquares: QueryDef = QueryDef(
    "q417_cusum_squares",
    s"""WITH ${DayAxis.revCentsSql()},
       |${DayAxis.axSql("d, rev")},
       |${olsFitSql()},
       |${sqResidSql("e", "ax.t, ax.d")},
       |cum AS (
       |  SELECT t, d,
       |    CAST(sum(u) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)
       |      AS HUGEINT) AS cu
       |  FROM e),
       |tot AS (
       |  SELECT CAST(count(*) AS HUGEINT) AS n, max(cu) AS tu FROM cum),
       |gap AS (
       |  SELECT cum.t, cum.d,
       |    abs(tot.n * cum.cu - cum.t * tot.tu) AS g
       |  FROM cum, tot),
       |mx AS (SELECT max(g) AS gmax FROM gap),
       |pk AS (
       |  SELECT min(gap.d) AS break_day FROM gap, mx WHERE gap.g = mx.gmax)
       |SELECT CAST(tot.n AS BIGINT) AS n_days, pk.break_day,
       |  CAST((1000000 * mx.gmax) // (tot.n * tot.tu) AS BIGINT)
       |    AS d_micro,
       |  CAST(floor(1000000.0e0 * 0.948e0 / sqrt(CAST(tot.n AS DOUBLE)))
       |    AS BIGINT) AS band_micro,
       |  CASE WHEN (1000000 * mx.gmax) // (tot.n * tot.tu)
       |    > CAST(floor(1000000.0e0 * 0.948e0
       |        / sqrt(CAST(tot.n AS DOUBLE))) AS HUGEINT)
       |    THEN 1 ELSE 0 END AS reject_5pct
       |FROM tot, mx, pk WHERE tot.tu > 0""".stripMargin) { (s, dir) =>
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val ax = DayAxis.numbered(DayAxis.revCents(s, dir))
      .select(col("t"), col("d"), col("rev"))
      .ckpt() // calendar-bounded indexed day frame
    val (_, co) = olsFit(ax)
    val e = ax.crossJoin(broadcast(co))
      .select(col("t"), col("d"), sqResid)
    val cum = ScaleRank.withRunningSum(e, Seq.empty, Seq(col("t")),
        col("u"), "cu")
      .select(col("t"), col("d"), col("cu"))
      .ckpt() // bounded walk: total + gaps + argmax
    val tot = cum.agg(dec(count(lit(1))).as("n"), max(col("cu")).as("tu"))
    val gap = cum.crossJoin(broadcast(tot))
      .select(col("t"), col("d"), col("n"), col("tu"),
        abs(col("n") * col("cu") - dec(col("t")) * col("tu")).as("g"))
      .ckpt() // gap frame: max fold + argmax
    val mx = gap.agg(max(col("g")).as("gmax"))
    val pk = gap.join(broadcast(mx), col("g") === col("gmax"))
      .agg(min(col("d")).as("break_day"))
    val band = "CAST(floor(1000000.0e0 * 0.948e0 " +
      "/ sqrt(CAST(n AS DOUBLE))) AS BIGINT)"
    tot.crossJoin(broadcast(mx)).crossJoin(broadcast(pk))
      .filter(col("tu") > 0)
      .select(col("n").cast("bigint").as("n_days"), col("break_day"),
        expr("CAST((1000000 * gmax) div (n * tu) AS BIGINT)").as("d_micro"),
        expr(band).as("band_micro"),
        expr(s"CASE WHEN (1000000 * gmax) div (n * tu) > $band " +
          "THEN 1 ELSE 0 END").as("reject_5pct"))
  }


  /** q420 — turning-points randomness test (Kendall & Stuart):
    * count the STRICT local extrema of daily revenue; under iid the
    * expected count is 2(n−2)/3 with variance (16n−29)/90 — the
    * cheapest "is this series even noise" screen, reading ONLY the
    * ordinal shape (q406's permutation entropy reads the full
    * pattern distribution; this is its one-number z companion; ties
    * break no peak, documented).
    *
    * Exactness: triples ride the q406 double lag equi join; the
    * strict peak/trough indicator and its count are exact ints; z is
    * ONE IEEE chain.
    *
    * Scale design (100 TB): one fact collapse to the day axis, two
    * equi lag joins of the bounded frame, one count. Output 1 row. */
  val q420TurningPoints: QueryDef = {
    val z = "floor(1000.0e0 * (CAST(tp AS DOUBLE) - 2.0e0 " +
      "* (CAST(n AS DOUBLE) - 2.0e0) / 3.0e0) " +
      "/ sqrt((16.0e0 * CAST(n AS DOUBLE) - 29.0e0) / 90.0e0))"
    QueryDef(
      "q420_turning_points",
      s"""WITH ${DayAxis.revCentsSql()},
         |${DayAxis.axSql()},
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ax),
         |tp AS (
         |  SELECT CAST(sum(CASE WHEN (b.rev > a.rev AND b.rev > c.rev)
         |      OR (b.rev < a.rev AND b.rev < c.rev) THEN 1 ELSE 0 END)
         |    AS BIGINT) AS tp
         |  FROM ax a JOIN ax b ON b.t = a.t + 1 JOIN ax c ON c.t = a.t + 2)
         |SELECT nn.n AS n_days, tp.tp AS n_turning_points,
         |  CAST(floor($z) AS BIGINT) AS z_milli,
         |  CASE WHEN abs(floor($z)) > 1960 THEN 1 ELSE 0 END
         |    AS reject_5pct
         |FROM nn, tp WHERE nn.n > 2""".stripMargin) { (s, dir) =>
      val ax = DayAxis.numbered(DayAxis.revCents(s, dir))
        .select(col("t"), col("rev"))
        .ckpt() // calendar-bounded indexed day frame: both lag joins
      val nn = ax.agg(count(lit(1)).cast("bigint").as("n"))
      val tp = ax.select(col("t").as("ta"), col("rev").as("ra"))
        .join(ax.select(col("t").as("tb"), col("rev").as("rb")),
          col("tb") === col("ta") + 1)
        .join(ax.select(col("t").as("tc"), col("rev").as("rc")),
          col("tc") === col("ta") + 2)
        .agg(sum(when((col("rb") > col("ra") && col("rb") > col("rc"))
          || (col("rb") < col("ra") && col("rb") < col("rc")), 1L)
          .otherwise(0L)).cast("bigint").as("tp"))
      nn.crossJoin(broadcast(tp))
        .filter(col("n") > 2)
        .select(col("n").as("n_days"), col("tp").as("n_turning_points"),
          expr(s"CAST(floor($z) AS BIGINT)").as("z_milli"),
          expr(s"CASE WHEN abs(floor($z)) > 1960 THEN 1 ELSE 0 END")
            .as("reject_5pct"))
    }
  }

  /** q422 — Newey–West HAC t-statistic (Newey & West '87, Bartlett
    * kernel, L = 5) for the q404 trend slope: the OLS t assumes iid
    * errors, and q404/q410 exist precisely because revenue errors
    * are neither uncorrelated nor homoskedastic — NW re-prices the
    * slope's standard error against both, so "the trend is
    * significant" survives the audit that q404 runs on its own
    * residuals. Var(b) = S/D², S = Γ₀ + 2Σₗ(1−l/6)Γₗ with
    * Γₗ = Σ eₜeₜ₋ₗ cₜcₜ₋ₗ on the centered index.
    *
    * Exactness: residuals are the exact [[olsFit]] milli ints; the
    * centered index DOUBLES to cₜ = 2t−(n+1) (exact — the q421
    * trick); each lag's Γ rides an equi self-join into an exact
    * DECIMAL(38) sum; the Bartlett weights clear to SIXTHS, so
    * 6·S₄ = 6Γ₀₄ + 2Σ(6−l)Γₗ₄ is an exact integer; t is ONE guarded
    * IEEE chain from (b_milli, 6S₄, D₄).
    *
    * Scale design (100 TB): the [[olsFit]] plan plus SIX equi lag joins of
    * the calendar-bounded residual frame (one per lag ≤ L), each a
    * bounded sort-merge. Output 1 row. */
  val q422NeweyWest: QueryDef = {
    val L = 5
    val t = "floor(1000.0e0 * (CAST(b_milli AS DOUBLE) / 1000.0e0) " +
      "/ sqrt((CAST(s6 AS DOUBLE) / 6.0e0) " +
      "/ ((CAST(d4 AS DOUBLE) / 4.0e0) * (CAST(d4 AS DOUBLE) / 4.0e0)) " +
      "/ 1000000.0e0))"
    QueryDef(
      "q422_newey_west",
      s"""WITH ${DayAxis.revCentsSql()},
         |${DayAxis.axSql()},
         |${olsFitSql()},
         |e AS (
         |  SELECT ax.t,
         |    1000 * ax.rev - co2.a_milli - co2.b_milli * ax.t AS e,
         |    2 * ax.t - (mo.n + 1) AS c2
         |  FROM ax, co2, mo),
         |g AS (
         |  SELECT ll.l,
         |    sum(CAST(a.e AS HUGEINT) * b.e * a.c2 * b.c2) AS gam4
         |  FROM (SELECT unnest(range(0, ${L + 1})) AS l) ll
         |    CROSS JOIN e a JOIN e b ON b.t = a.t + ll.l
         |  GROUP BY ll.l),
         |s6 AS (
         |  SELECT CAST(sum(CASE WHEN l = 0 THEN 6 * gam4
         |    ELSE 2 * (6 - l) * gam4 END) AS HUGEINT) AS s6
         |  FROM g),
         |d4 AS (SELECT sum(CAST(c2 AS HUGEINT) * c2) AS d4 FROM e)
         |SELECT CAST(mo.n AS BIGINT) AS n_days, co2.b_milli,
         |  CAST($t AS BIGINT) AS t_nw_milli,
         |  CASE WHEN abs($t) > 1960 THEN 1 ELSE 0 END AS reject_5pct
         |FROM mo, co2, s6, d4 WHERE s6.s6 > 0""".stripMargin) { (s, dir) =>
      val dec = (c: Column) => c.cast("decimal(38,0)")
      val ax = DayAxis.numbered(DayAxis.revCents(s, dir))
        .select(col("t"), col("rev"))
        .ckpt() // calendar-bounded indexed day frame
      val (mo, co) = olsFit(ax)
      val e = ax.crossJoin(broadcast(co))
        .crossJoin(broadcast(mo.select(col("n"))))
        .select(col("t"),
          (lit(1000) * col("rev") - col("a_milli")
            - col("b_milli") * col("t")).as("e"),
          (lit(2) * col("t") - (col("n") + 1)).as("c2"))
        .ckpt() // residual frame: 6 lag joins + the D fold
      val lags = s.range(0, L + 1).toDF("l")
      val eA = e.select(col("t").as("ta"), col("e").as("ea"),
        col("c2").as("ca"))
      val eB = e.select(col("t").as("tb"), col("e").as("eb"),
        col("c2").as("cb"))
      // expand each residual row by the 6 literal lags (broadcast of a
      // Range frame), then ONE equi join keyed tb = ta + l
      val gam = eA.crossJoin(broadcast(lags))
        .join(eB, col("tb") === col("ta") + col("l"))
        .groupBy(col("l"))
        .agg(sum(dec(col("ea")) * col("eb") * col("ca") * col("cb"))
          .as("gam4"))
      val s6 = gam.agg(sum(when(col("l") === 0, lit(6) * col("gam4"))
        .otherwise(lit(2) * (lit(6) - col("l")) * col("gam4")))
        .as("s6"))
      val d4 = e.agg(sum(dec(col("c2")) * col("c2")).as("d4"))
      mo.select(col("n")).crossJoin(broadcast(co))
        .crossJoin(broadcast(s6)).crossJoin(broadcast(d4))
        .filter(col("s6") > 0)
        .select(col("n").cast("bigint").as("n_days"), col("b_milli"),
          expr(s"CAST($t AS BIGINT)").as("t_nw_milli"),
          expr(s"CASE WHEN abs($t) > 1960 THEN 1 ELSE 0 END")
            .as("reject_5pct"))
    }
  }

  /** q423 — seasonal Mann–Kendall (Hirsch & Slack '84): q392's trend
    * test computed WITHIN each weekday season and pooled, S = ΣSₛ,
    * Var = ΣVarₛ — the form that detects a monotone trend hiding
    * under weekly seasonality (plain MK dilutes it with cross-season
    * pairs; q392 and q423 disagreeing is itself the "your series is
    * seasonal" signal q391 then tests formally).
    *
    * Exactness: identical integer machinery to q392 per weekday —
    * day pairs within a season, tie moments from the per-season
    * (rev, count) collapse; pooled S and 18·Var are exact int64; z
    * is ONE guarded continuity-corrected IEEE chain.
    *
    * Scale design (100 TB): the pair expansion is Σₛ|days/7|²/2 on
    * the calendar-bounded day axis (¹⁄₇ of q392's); everything else
    * is a 7-row frame. Output 7 rows + pooled constants. */
  val q423SeasonalMk: QueryDef = {
    val z = DataProfile.mkZMilli
    QueryDef(
      "q423_seasonal_mk",
      s"""WITH ${DayAxis.revCentsEpochSql(day = "ed")},
         |dd AS (SELECT ed, ed % 7 AS wd, rev FROM daily),
         |sw AS (
         |  SELECT a.wd,
         |    CAST(sum(CASE WHEN b.rev > a.rev THEN 1
         |      WHEN b.rev < a.rev THEN -1 ELSE 0 END) AS BIGINT) AS s_wd
         |  FROM dd a JOIN dd b ON b.wd = a.wd AND b.ed > a.ed
         |  GROUP BY a.wd),
         |nw AS (
         |  SELECT wd, CAST(count(*) AS BIGINT) AS n FROM dd GROUP BY wd),
         |tw AS (
         |  SELECT wd, CAST(coalesce(sum(t * (t - 1) * (2 * t + 5)), 0)
         |    AS BIGINT) AS t3
         |  FROM (SELECT wd, CAST(count(*) AS BIGINT) AS t FROM dd
         |        GROUP BY wd, rev) WHERE t > 1 GROUP BY wd),
         |per AS (
         |  SELECT nw.wd, nw.n, sw.s_wd,
         |    nw.n * (nw.n - 1) * (2 * nw.n + 5)
         |      - coalesce(tw.t3, 0) AS v18_wd
         |  FROM nw JOIN sw ON sw.wd = nw.wd
         |  LEFT JOIN tw ON tw.wd = nw.wd),
         |tot AS (
         |  SELECT CAST(sum(s_wd) AS BIGINT) AS s_stat,
         |    CAST(sum(v18_wd) AS BIGINT) AS var18
         |  FROM per)
         |SELECT per.wd AS weekday, per.n AS n_days, per.s_wd,
         |  per.v18_wd, tot.s_stat, tot.var18, $z AS z_milli
         |FROM per, tot ORDER BY weekday""".stripMargin) { (s, dir) =>
      val dd = DayAxis.revCentsEpoch(s, dir)
        .select(col("d").as("ed"), col("rev").as("rev"))
        .select(col("ed"), (col("ed") % 7).as("wd"), col("rev"))
        .ckpt() // calendar-bounded day frame: pairs + ties + counts
      val sw = dd.select(col("wd"), col("ed").as("ea"), col("rev").as("ra"))
        .join(dd.select(col("wd"), col("ed").as("eb"), col("rev").as("rb")),
          Seq("wd"))
        .filter(col("eb") > col("ea"))
        .groupBy(col("wd"))
        .agg(sum(when(col("rb") > col("ra"), 1L)
          .when(col("rb") < col("ra"), -1L).otherwise(0L)).as("s_wd"))
      val nw = dd.groupBy(col("wd")).agg(count(lit(1)).as("n"))
      val tw = dd.groupBy(col("wd"), col("rev")).agg(count(lit(1)).as("t"))
        .filter(col("t") > 1)
        .groupBy(col("wd"))
        .agg(coalesce(sum(col("t") * (col("t") - 1)
          * (lit(2) * col("t") + 5)), lit(0L)).as("t3"))
      val per = nw.join(sw, Seq("wd")).join(tw, Seq("wd"), "left")
        .select(col("wd"), col("n"), col("s_wd"),
          (col("n") * (col("n") - 1) * (lit(2) * col("n") + 5)
            - coalesce(col("t3"), lit(0L))).as("v18_wd"))
        .ckpt() // 7-row per-season frame: pooled fold + output
      val tot = per.agg(sum(col("s_wd")).cast("bigint").as("s_stat"),
        sum(col("v18_wd")).cast("bigint").as("var18"))
      per.crossJoin(broadcast(tot))
        .select(col("wd").as("weekday"), col("n").as("n_days"),
          col("s_wd"), col("v18_wd"), col("s_stat"), col("var18"),
          expr(z).as("z_milli"))
        .orderBy("weekday")
    }
  }

  /** q424 — Cox–Stuart trend test (Cox & Stuart '55): pair day t
    * with day t+n/2 and sign-test the pairs — the "fold the series
    * in half" trend screen whose null is EXACTLY binomial(½) with no
    * variance estimate at all; the cheapest member of the q392/q423
    * family and the one whose p-value survives ANY dependence inside
    * each half.
    *
    * Exactness: the fold pairing is one equi self-join at offset
    * ⌊n/2⌋ on the [[ScaleRank]] row number; pos/neg counts are exact
    * (ties drop, the standard convention); the continuity-corrected
    * z is ONE IEEE chain.
    *
    * Scale design (100 TB): one fact collapse to the calendar-bounded
    * day axis, ONE equi join, one count. Output 1 row. */
  val q424CoxStuart: QueryDef = {
    val z = "CASE WHEN pos + neg > 0 THEN " +
      "CAST(floor(1000.0e0 * (abs(CAST(pos AS DOUBLE) - neg) - 1.0e0) / " +
      "sqrt(CAST(pos + neg AS DOUBLE))) AS BIGINT) END"
    QueryDef(
      "q424_cox_stuart",
      s"""WITH ${DayAxis.revCentsSql()},
         |${DayAxis.axSql()},
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ax),
         |pr AS (
         |  SELECT
         |    CAST(sum(CASE WHEN b.rev > a.rev THEN 1 ELSE 0 END)
         |      AS BIGINT) AS pos,
         |    CAST(sum(CASE WHEN b.rev < a.rev THEN 1 ELSE 0 END)
         |      AS BIGINT) AS neg
         |  FROM ax a JOIN ax b
         |    ON b.t = a.t + (SELECT n // 2 FROM nn))
         |SELECT nn.n AS n_days, pr.pos AS n_up, pr.neg AS n_down,
         |  $z AS z_milli,
         |  CASE WHEN abs($z) > 1960 THEN 1 ELSE 0 END AS reject_5pct
         |FROM nn, pr""".stripMargin) { (s, dir) =>
      val ax = DayAxis.numbered(DayAxis.revCents(s, dir))
        .select(col("t"), col("rev"), col("n_ax"))
        .ckpt() // calendar-bounded indexed day frame: the fold join
      val nn = ax.agg(max(col("n_ax")).cast("bigint").as("n"))
      val pr = ax.select(col("t").as("ta"), col("rev").as("ra"))
        .crossJoin(broadcast(nn))
        .join(ax.select(col("t").as("tb"), col("rev").as("rb")),
          col("tb") === col("ta") + expr("n div 2"))
        .agg(sum(when(col("rb") > col("ra"), 1L).otherwise(0L)).as("pos"),
          sum(when(col("rb") < col("ra"), 1L).otherwise(0L)).as("neg"))
      val z = "CASE WHEN pos + neg > 0 THEN " +
        "CAST(floor(1000.0e0 * (abs(CAST(pos AS DOUBLE) - neg) - 1.0e0) / " +
        "sqrt(CAST(pos + neg AS DOUBLE))) AS BIGINT) END"
      nn.crossJoin(broadcast(pr))
        .select(col("n").as("n_days"), col("pos").as("n_up"),
          col("neg").as("n_down"), expr(z).as("z_milli"),
          expr(s"CASE WHEN abs($z) > 1960 THEN 1 ELSE 0 END")
            .as("reject_5pct"))
    }
  }

  /** q426 — runs up-and-down test (Wallis & Moore '41): compress the
    * nonzero day-over-day signs and count maximal monotone runs;
    * E[R] = (2n−1)/3, Var = (16n−29)/90 — the difference-SIGN
    * randomness screen (q388 tests signs AROUND THE MEDIAN — level
    * randomness; this tests consecutive MOVEMENT, which is what
    * autocorrelated momentum corrupts first; q420 counts the peaks
    * those runs end at).
    *
    * Exactness: signs come from one consecutive-index equi join;
    * zero diffs DROP (the standard convention) and the survivors are
    * re-indexed by a second [[ScaleRank.withRowNumber]] pass so run
    * boundaries are one more equi lag join — all exact integers; z
    * is ONE IEEE chain.
    *
    * Scale design (100 TB): three equi joins on the calendar-bounded
    * day axis, two 1-row folds. Output 1 row. */
  val q426RunsUpDown: QueryDef = {
    val z = "CAST(floor(1000.0e0 * (CAST(ch.changes + 1 AS DOUBLE) - " +
      "(2.0e0 * CAST(nn.m + 1 AS DOUBLE) - 1.0e0) / 3.0e0) / " +
      "sqrt((16.0e0 * CAST(nn.m + 1 AS DOUBLE) - 29.0e0) / 90.0e0)) " +
      "AS BIGINT)"
    QueryDef(
      "q426_runs_updown",
      s"""WITH ${DayAxis.revCentsSql()},
         |${DayAxis.axSql()},
         |sg AS (
         |  SELECT a.t,
         |    CASE WHEN b.rev > a.rev THEN 1 ELSE -1 END AS s
         |  FROM ax a JOIN ax b ON b.t = a.t + 1
         |  WHERE b.rev <> a.rev),
         |sx AS (
         |  SELECT CAST(row_number() OVER (ORDER BY t) AS BIGINT) AS i, s
         |  FROM sg),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS m FROM sx),
         |ch AS (
         |  SELECT CAST(sum(CASE WHEN b.s <> a.s THEN 1 ELSE 0 END)
         |    AS BIGINT) AS changes
         |  FROM sx a JOIN sx b ON b.i = a.i + 1)
         |SELECT nn.m + 1 AS n_days_used, ch.changes + 1 AS n_runs,
         |  $z AS z_milli,
         |  CASE WHEN abs($z) > 1960 THEN 1 ELSE 0 END AS reject_5pct
         |FROM nn, ch WHERE nn.m > 1""".stripMargin) { (s, dir) =>
      val ax = DayAxis.numbered(DayAxis.revCents(s, dir))
        .select(col("t"), col("rev"))
        .ckpt() // calendar-bounded indexed day frame: the sign join
      val sg = ax.select(col("t").as("ta"), col("rev").as("ra"))
        .join(ax.select(col("t").as("tb"), col("rev").as("rb")),
          col("tb") === col("ta") + 1)
        .filter(col("rb") =!= col("ra"))
        .select(col("ta"),
          when(col("rb") > col("ra"), 1L).otherwise(-1L).as("s"))
      val sx = ScaleRank.withRowNumber(sg, Seq.empty, Seq(col("ta")),
          "i", "m_ax")
        .select(col("i"), col("s"))
        .ckpt() // compressed sign walk: lag join + count
      val nn = sx.agg(count(lit(1)).cast("bigint").as("m"))
      val ch = sx.select(col("i").as("ia"), col("s").as("sa"))
        .join(sx.select(col("i").as("ib"), col("s").as("sb")),
          col("ib") === col("ia") + 1)
        .agg(sum(when(col("sb") =!= col("sa"), 1L).otherwise(0L))
          .cast("bigint").as("changes"))
      val z = "CAST(floor(1000.0e0 * (CAST(changes + 1 AS DOUBLE) - " +
        "(2.0e0 * CAST(m + 1 AS DOUBLE) - 1.0e0) / 3.0e0) / " +
        "sqrt((16.0e0 * CAST(m + 1 AS DOUBLE) - 29.0e0) / 90.0e0)) " +
        "AS BIGINT)"
      nn.crossJoin(broadcast(ch))
        .filter(col("m") > 1)
        .select((col("m") + 1).as("n_days_used"),
          (col("changes") + 1).as("n_runs"),
          expr(z).as("z_milli"),
          expr(s"CASE WHEN abs($z) > 1960 THEN 1 ELSE 0 END")
            .as("reject_5pct"))
    }
  }

  /** q431 — seasonal-strength scan over candidate periods: for each
    * P ∈ {7, 14, 28, 91} days, the share of daily-revenue variance
    * explained by the phase d mod P (the one-way-ANOVA SSB/SST) —
    * the exact-arithmetic stand-in for a periodogram peak (libm
    * cos/sin chains are not cross-engine contractual; integer phase
    * means are) and the "which seasonality does this series actually
    * have" screen run before committing q261/q380's period choice.
    *
    * Exactness: per-phase counts/sums are exact ints; each SSB term
    * (N·s_g − n_g·S)² div n_g floors BEFORE the sum (q180
    * discipline) in DECIMAL(38)/HUGEINT; the final ratio is ONE IEEE
    * chain.
    *
    * Scale design (100 TB): one fact collapse to the day axis
    * (shared [[DayAxis]] frame), a ≤(4 periods × 91 phases)
    * literal-bounded group frame, 1-row moment broadcasts. The
    * period×phase grid meets the 1-row total only (|A|·1 — not a
    * θ-join shape). Output 4 rows. */
  val q431PeriodStrength: QueryDef = QueryDef(
    "q431_period_strength",
    s"""WITH ${DayAxis.revCentsEpochSql()},
       |ps AS (SELECT CAST(unnest([7, 14, 28, 91]) AS BIGINT) AS p),
       |tot AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(rev) AS BIGINT) AS s,
       |    sum(CAST(rev AS HUGEINT) * rev) AS syy
       |  FROM daily),
       |g AS (
       |  SELECT ps.p, daily.d % ps.p AS grp,
       |    CAST(count(*) AS BIGINT) AS ng, CAST(sum(rev) AS BIGINT) AS sg
       |  FROM daily, ps GROUP BY 1, 2),
       |terms AS (
       |  SELECT g.p,
       |    (CAST(tot.n AS HUGEINT) * g.sg - CAST(g.ng AS HUGEINT) * tot.s)
       |      * (CAST(tot.n AS HUGEINT) * g.sg - CAST(g.ng AS HUGEINT) * tot.s)
       |      // g.ng AS term
       |  FROM g, tot),
       |ssb AS (
       |  SELECT p, CAST(count(*) AS BIGINT) AS n_groups,
       |    sum(term) AS ssbn2
       |  FROM terms GROUP BY p)
       |SELECT ssb.p AS period, ssb.n_groups,
       |  CAST(floor((1000000.0e0 * CAST(ssb.ssbn2 AS DOUBLE)) /
       |    (CAST(tot.n AS DOUBLE) *
       |     CAST(tot.n * tot.syy - CAST(tot.s AS HUGEINT) * tot.s
       |          AS DOUBLE))) AS BIGINT) AS strength_ppm
       |FROM ssb, tot ORDER BY period""".stripMargin) { (s, dir) =>
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val daily = DayAxis.revCentsEpoch(s, dir)
    val tot = daily.agg(count(lit(1)).cast("bigint").as("n"),
      sum(col("rev")).cast("bigint").as("s"),
      sum(dec(col("rev")) * col("rev")).as("syy"))
    val g = daily
      .select(col("d"), col("rev"),
        explode(array(lit(7L), lit(14L), lit(28L), lit(91L))).as("p"))
      .groupBy(col("p"), pmod(col("d"), col("p")).as("grp"))
      .agg(count(lit(1)).cast("bigint").as("ng"),
        sum(col("rev")).cast("bigint").as("sg"))
    val terms = g.crossJoin(broadcast(tot))
      .select(col("p"),
        ((dec(col("n")) * col("sg") - dec(col("ng")) * col("s"))
          * (dec(col("n")) * col("sg") - dec(col("ng")) * col("s")))
          .as("t2"),
        col("ng"))
      // exact floor-div in DECIMAL via the subtract-pmod identity
      // (Spark's infix div emits int64 and would overflow here)
      .select(col("p"),
        expr("CAST((t2 - pmod(t2, CAST(ng AS DECIMAL(38,0)))) " +
          "/ CAST(ng AS DECIMAL(38,0)) AS DECIMAL(38,0))").as("term"))
    val ssb = terms.groupBy(col("p"))
      .agg(count(lit(1)).cast("bigint").as("n_groups"),
        sum(col("term")).as("ssbn2"))
    ssb.crossJoin(broadcast(tot))
      .select(col("p").as("period"), col("n_groups"),
        // nullif: a constant revenue series zeroes the total variance
        // (seasonal strength undefined); ANSI would throw where the
        // oracle's x/0 natively NULLs (degenerate-corpus probe)
        expr("CAST(floor((1000000.0e0 * CAST(ssbn2 AS DOUBLE)) / " +
          "nullif(CAST(n AS DOUBLE) * " +
          "CAST(CAST(n AS DECIMAL(38,0)) * syy - " +
          "CAST(s AS DECIMAL(38,0)) * s AS DOUBLE), 0)) AS BIGINT)")
          .as("strength_ppm"))
      .orderBy("period")
  }

  /** q432 — KPSS level-stationarity test (Kwiatkowski et al. '92,
    * lag-0 short-run variance): with partial sums S_t of the
    * demeaned series, KPSS = Σ S_t² / (n² σ̂²). q404/q410 test the
    * RESIDUALS of an assumed trend; KPSS tests the NULL of
    * stationarity itself — the standard pre-commit check before any
    * of this file's level-based forecasts is trusted. Reject at the
    * 5% critical value 0.463.
    *
    * Exactness: everything rides the n-scaled demeaning ẽ_t =
    * n·y_t − Σy (exact DECIMAL(38) ints, no mean rounding): with
    * S̃_t = Σ_{i≤t}ẽ_i, KPSS = Σ S̃² / (n · Σ ẽ²) exactly, evaluated
    * as ONE IEEE chain. The prefix rides one
    * [[ScaleRank.withRunningSum]] pass.
    *
    * Scale design (100 TB): one fact collapse to the shared day
    * axis, a 1-row moment broadcast, one distributed prefix pass,
    * one fold. Output 1 row. */
  val q432Kpss: QueryDef = QueryDef(
    "q432_kpss",
    s"""WITH ${DayAxis.revCentsEpochSql()},
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |  CAST(sum(rev) AS BIGINT) AS s FROM daily),
       |e AS (
       |  SELECT daily.d,
       |    CAST(nn.n AS HUGEINT) * daily.rev - nn.s AS ez
       |  FROM daily, nn),
       |pre AS (
       |  SELECT d, ez,
       |    sum(ez) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS sz
       |  FROM e),
       |mo AS (
       |  SELECT sum(sz * sz) AS ssz, sum(ez * ez) AS see FROM pre)
       |SELECT nn.n AS n_days,
       |  CAST(floor((1000.0e0 * CAST(mo.ssz AS DOUBLE)) /
       |    (CAST(nn.n AS DOUBLE) * CAST(mo.see AS DOUBLE))) AS BIGINT)
       |    AS kpss_milli,
       |  CASE WHEN (1000.0e0 * CAST(mo.ssz AS DOUBLE)) /
       |    (CAST(nn.n AS DOUBLE) * CAST(mo.see AS DOUBLE)) > 463.0e0
       |    THEN 1 ELSE 0 END AS reject_5pct
       |FROM nn, mo WHERE mo.see > 0""".stripMargin) { (s, dir) =>
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val daily = DayAxis.revCentsEpoch(s, dir)
    val nn = daily.agg(count(lit(1)).cast("bigint").as("n"),
      sum(col("rev")).cast("bigint").as("s"))
    val e = daily.crossJoin(broadcast(nn))
      .select(col("d"), col("n"),
        (dec(col("n")) * col("rev") - col("s")).as("ez"))
    val pre = ScaleRank.withRunningSum(e, Seq.empty, Seq(col("d")),
      col("ez"), "sz")
    val mo = pre.agg(sum(col("sz") * col("sz")).as("ssz"),
      sum(col("ez") * col("ez")).as("see"))
    val chain = "(1000.0e0 * CAST(ssz AS DOUBLE)) / " +
      "(CAST(n AS DOUBLE) * CAST(see AS DOUBLE))"
    nn.crossJoin(broadcast(mo))
      .filter(col("see") > 0)
      .select(col("n").as("n_days"),
        expr(s"CAST(floor($chain) AS BIGINT)").as("kpss_milli"),
        expr(s"CASE WHEN $chain > 463.0e0 THEN 1 ELSE 0 END")
          .as("reject_5pct"))
  }

  /** q433 — Hurst exponent by rescaled-range (R/S) analysis: split
    * the day-indexed series into complete blocks of w ∈ {8, 16, 32,
    * 64} days, compute each block's rescaled range R/S over its
    * cumulative demeaned walk, and fit ln(avg R/S) on ln(w) — H ≈ ½
    * is a memoryless series, H > ½ long-range persistence (the
    * "does revenue trend or mean-revert at every horizon" read;
    * q401's variance-ratio tests ONE horizon pair, this fits the
    * whole scaling law, the q190 log-log discipline on the time
    * axis).
    *
    * Exactness: block walks ride the w-scaled demeaning ỹ = w·y −
    * Σ_block y (exact DECIMAL ints); R̃ = max(c̃,0) − min(c̃,0) over
    * the in-block prefix (one partitioned [[ScaleRank]] pass); each
    * block's R/S = R̃·√w/√(Σỹ²) is ONE shared IEEE chain floored to
    * micro units before the per-w integer mean; the ln-ln fit
    * floors to nano-nats per point before exact integer OLS moments
    * (q190 discipline).
    *
    * Scale design (100 TB): one fact collapse to the shared day
    * axis; the ×4 window expansion, block sums, prefix, and block
    * folds are all equi-keyed on (w, block) — calendar-bounded
    * frames throughout; the 4-point regression is a 1-row fold.
    * Output 4 rows. */
  val q433HurstRs: QueryDef = {
    val rsChain = "CAST(floor(((1000000.0e0 * CAST(rbig AS DOUBLE)) * " +
      "sqrt(CAST(w AS DOUBLE))) / sqrt(CAST(syy2 AS DOUBLE))) AS BIGINT)"
    QueryDef(
      "q433_hurst_rs",
      s"""WITH ${DayAxis.revCentsEpochSql()},
         |${DayAxis.axSql()},
         |e AS (
         |  SELECT ws.w, (ax.t - 1) // ws.w AS b, ax.t, ax.rev
         |  FROM ax, (SELECT CAST(unnest([8, 16, 32, 64]) AS BIGINT) AS w) ws),
         |bs AS (
         |  SELECT w, b, CAST(count(*) AS BIGINT) AS c,
         |    CAST(sum(rev) AS BIGINT) AS sb
         |  FROM e GROUP BY w, b),
         |ez AS (
         |  SELECT e.w, e.b, e.t,
         |    CAST(e.w AS HUGEINT) * e.rev - bs.sb AS yz
         |  FROM e JOIN bs ON bs.w = e.w AND bs.b = e.b AND bs.c = e.w),
         |pre AS (
         |  SELECT w, b, yz,
         |    sum(yz) OVER (PARTITION BY w, b ORDER BY t
         |      ROWS UNBOUNDED PRECEDING) AS cz
         |  FROM ez),
         |blk AS (
         |  SELECT w, b,
         |    greatest(max(cz), 0) - least(min(cz), 0) AS rbig,
         |    sum(yz * yz) AS syy2
         |  FROM pre GROUP BY w, b),
         |rs AS (
         |  SELECT w, b, $rsChain AS rs_micro
         |  FROM blk WHERE syy2 > 0),
         |per AS (
         |  SELECT w, CAST(count(*) AS BIGINT) AS n_blocks,
         |    CAST(sum(rs_micro) AS BIGINT) // count(*) AS rs_avg_micro
         |  FROM rs GROUP BY w),
         |xy AS (
         |  SELECT w, n_blocks, rs_avg_micro,
         |    CAST(floor(1000000000.0e0 * ln(CAST(w AS DOUBLE))) AS BIGINT) AS x,
         |    CAST(floor(1000000000.0e0 *
         |      ln(CAST(rs_avg_micro AS DOUBLE) / 1000000.0e0)) AS BIGINT) AS y
         |  FROM per),
         |mo AS (
         |  SELECT CAST(count(*) AS BIGINT) AS np,
         |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         |    sum(CAST(x AS HUGEINT) * y) AS sxy,
         |    sum(CAST(x AS HUGEINT) * x) AS sxx
         |  FROM xy),
         |h AS (
         |  SELECT CAST(floor(1000.0e0 *
         |    CAST(np * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE) /
         |    CAST(np * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE))
         |    AS BIGINT) AS h_milli
         |  FROM mo)
         |SELECT xy.w, xy.n_blocks, xy.rs_avg_micro, h.h_milli
         |FROM xy, h ORDER BY xy.w""".stripMargin) { (s, dir) =>
      val dec = (c: Column) => c.cast("decimal(38,0)")
      val daily = DayAxis.revCentsEpoch(s, dir)
      val ax = DayAxis.numbered(daily)
        .select(col("t"), col("rev"))
      val e = ax.select(col("t"), col("rev"),
          explode(array(lit(8L), lit(16L), lit(32L), lit(64L))).as("w"))
        .select(col("w"), expr("(t - 1) div w").as("b"), col("t"), col("rev"))
        .ckpt() // windowed day frame feeds block sums AND the walk
      val bs = e.groupBy(col("w"), col("b"))
        .agg(count(lit(1)).cast("bigint").as("c"),
          sum(col("rev")).cast("bigint").as("sb"))
        .filter(col("c") === col("w"))
      val ez = e.join(bs, Seq("w", "b"))
        .select(col("w"), col("b"), col("t"),
          (dec(col("w")) * col("rev") - col("sb")).as("yz"))
      val pre = ScaleRank.withRunningSum(ez, Seq("w", "b"),
        Seq(col("t")), col("yz"), "cz")
      val blk = pre.groupBy(col("w"), col("b"))
        .agg((greatest(max(col("cz")), lit(0)) -
          least(min(col("cz")), lit(0))).as("rbig"),
          sum(col("yz") * col("yz")).as("syy2"))
      val rs = blk.filter(col("syy2") > 0)
        .select(col("w"), expr(rsChain).as("rs_micro"))
      val per = rs.groupBy(col("w"))
        .agg(count(lit(1)).cast("bigint").as("n_blocks"),
          expr("CAST(sum(rs_micro) AS BIGINT) div count(*)")
            .as("rs_avg_micro"))
      val xy = per.select(col("w"), col("n_blocks"), col("rs_avg_micro"),
        floor(lit(1000000000.0) * log(col("w").cast("double")))
          .cast("bigint").as("x"),
        floor(lit(1000000000.0) *
          log(col("rs_avg_micro").cast("double") / lit(1000000.0)))
          .cast("bigint").as("y"))
        .ckpt() // 4-row point frame: moments + output rows
      val mo = xy.agg(count(lit(1)).cast("bigint").as("np"),
        sum(col("x")).cast("bigint").as("sx"),
        sum(col("y")).cast("bigint").as("sy"),
        sum(dec(col("x")) * col("y")).as("sxy"),
        sum(dec(col("x")) * col("x")).as("sxx"))
      val h = mo.select(expr("CAST(floor(1000.0e0 * " +
        "CAST(CAST(np AS DECIMAL(38,0)) * sxy - " +
        "CAST(sx AS DECIMAL(38,0)) * sy AS DOUBLE) / " +
        "CAST(CAST(np AS DECIMAL(38,0)) * sxx - " +
        "CAST(sx AS DECIMAL(38,0)) * sx AS DOUBLE)) AS BIGINT)")
        .as("h_milli"))
      xy.crossJoin(broadcast(h))
        .select(col("w"), col("n_blocks"), col("rs_avg_micro"),
          col("h_milli"))
        .orderBy("w")
    }
  }

  /** q434 — ARCH-LM test (Engle '82) on the daily-revenue trend
    * residuals: regress the squared residual u_t on u_{t−1}; LM =
    * (n−1)·R² ~ χ²(1) under no-ARCH. q404 asks "are residuals
    * serially correlated", q410 "does their variance TREND", q417
    * "did it BREAK" — this asks "does volatility CLUSTER", the
    * precondition for any GARCH-style risk model over q352's VaR.
    *
    * Exactness: residuals are exact milli ints off the shared [[olsFit]]
    * floored-coefficient chain; u = e² div 10⁹ (the q410 unit); the
    * lag pairing is an equi join on the day index; all regression
    * moments ride DECIMAL(38)/HUGEINT; R² is ONE IEEE chain.
    *
    * Scale design (100 TB): the [[olsFit]] plan plus one equi lag join of
    * the calendar-bounded residual frame and a 1-row fold. Output
    * 1 row. */
  val q434ArchLm: QueryDef = QueryDef(
    "q434_arch_lm",
    s"""WITH ${DayAxis.revCentsEpochSql()},
       |${DayAxis.axSql()},
       |${olsFitSql()},
       |${sqResidSql("u")},
       |pair AS (
       |  SELECT a.u AS ul, b.u AS uc
       |  FROM u a JOIN u b ON b.t = a.t + 1),
       |m2 AS (
       |  SELECT CAST(count(*) AS HUGEINT) AS m,
       |    sum(ul) AS sl, sum(uc) AS sc,
       |    sum(ul * uc) AS slc, sum(ul * ul) AS sll,
       |    sum(uc * uc) AS scc
       |  FROM pair)
       |SELECT CAST(m AS BIGINT) AS n_pairs,
       |  CAST(floor(1000000.0e0 *
       |    (CAST(m * slc - sl * sc AS DOUBLE)
       |     * CAST(m * slc - sl * sc AS DOUBLE)) /
       |    (CAST(m * sll - sl * sl AS DOUBLE)
       |     * CAST(m * scc - sc * sc AS DOUBLE))) AS BIGINT) AS r2_ppm,
       |  CAST(floor(CAST(m AS DOUBLE) * 1000.0e0 *
       |    (CAST(m * slc - sl * sc AS DOUBLE)
       |     * CAST(m * slc - sl * sc AS DOUBLE)) /
       |    (CAST(m * sll - sl * sl AS DOUBLE)
       |     * CAST(m * scc - sc * sc AS DOUBLE))) AS BIGINT) AS lm_milli,
       |  CASE WHEN CAST(m AS DOUBLE) * 1000.0e0 *
       |    (CAST(m * slc - sl * sc AS DOUBLE)
       |     * CAST(m * slc - sl * sc AS DOUBLE)) /
       |    (CAST(m * sll - sl * sl AS DOUBLE)
       |     * CAST(m * scc - sc * sc AS DOUBLE)) > 3841.0e0
       |    THEN 1 ELSE 0 END AS reject_5pct
       |FROM m2
       |WHERE (m * sll - sl * sl) > 0 AND (m * scc - sc * sc) > 0""".stripMargin) {
    (s, dir) =>
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val daily = DayAxis.revCentsEpoch(s, dir)
    val ax = DayAxis.numbered(daily)
      .select(col("t"), col("rev"))
      .ckpt() // calendar-bounded indexed day frame: moments + residuals
    val (_, co) = olsFit(ax)
    val u = ax.crossJoin(broadcast(co))
      .select(col("t"), sqResid)
      .ckpt() // residual-square frame feeds both lag-join sides
    val pair = u.select(col("t").as("ta"), col("u").as("ul"))
      .join(u.select(col("t").as("tb"), col("u").as("uc")),
        col("tb") === col("ta") + 1)
    val m2 = pair.agg(dec(count(lit(1))).as("m"),
      sum(col("ul")).as("sl"), sum(col("uc")).as("sc"),
      sum(col("ul") * col("uc")).as("slc"),
      sum(col("ul") * col("ul")).as("sll"),
      sum(col("uc") * col("uc")).as("scc"))
    val r2 = "(CAST(m * slc - sl * sc AS DOUBLE) " +
      "* CAST(m * slc - sl * sc AS DOUBLE)) / " +
      "(CAST(m * sll - sl * sl AS DOUBLE) " +
      "* CAST(m * scc - sc * sc AS DOUBLE))"
    m2.filter(expr("(m * sll - sl * sl) > 0 AND (m * scc - sc * sc) > 0"))
      .select(col("m").cast("bigint").as("n_pairs"),
        expr(s"CAST(floor(1000000.0e0 * $r2) AS BIGINT)").as("r2_ppm"),
        expr(s"CAST(floor(CAST(m AS DOUBLE) * 1000.0e0 * $r2) AS BIGINT)")
          .as("lm_milli"),
        expr(s"CASE WHEN CAST(m AS DOUBLE) * 1000.0e0 * $r2 > 3841.0e0 " +
          "THEN 1 ELSE 0 END").as("reject_5pct"))
  }

  /** q435 — realized variance vs bipower variation (Barndorff-
    * Nielsen & Shephard '04) on day-over-day revenue changes: RV =
    * Σd², BV = (π/2)·Σ|d_t||d_{t−1}|. BV is jump-robust while RV
    * is not, so the relative gap max(0, 1 − BV/RV) is the share of
    * variation carried by JUMPS — the "is my volatility diffusive
    * or event-driven" read that decides whether q352's VaR should
    * fatten its tails.
    *
    * Exactness: day diffs and their |·| products are exact
    * DECIMAL(38)/HUGEINT ints off equi lag joins; π/2 enters as the
    * correctly-rounded double literal 1.5707963267948966e0 in both
    * engines; RV/BV report div-10⁶ units (exact non-negative
    * floor-div) and the jump share is ONE IEEE chain.
    *
    * Scale design (100 TB): one fact collapse to the shared day
    * axis, two equi lag joins of the calendar-bounded diff frame,
    * 1-row folds. Output 1 row. */
  val q435RealizedBipower: QueryDef = QueryDef(
    "q435_realized_bipower",
    s"""WITH ${DayAxis.revCentsEpochSql()},
       |${DayAxis.axSql()},
       |df AS (
       |  SELECT b.t, abs(CAST(b.rev AS HUGEINT) - a.rev) AS ad
       |  FROM ax a JOIN ax b ON b.t = a.t + 1),
       |rv AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_diffs,
       |    sum(ad * ad) AS rv FROM df),
       |bv AS (
       |  SELECT sum(a.ad * b.ad) AS bvsum, CAST(count(*) AS BIGINT) AS n_bp
       |  FROM df a JOIN df b ON b.t = a.t + 1)
       |SELECT rv.n_diffs, bv.n_bp,
       |  CAST(rv.rv // 1000000 AS BIGINT) AS rv_e6,
       |  CAST(bv.bvsum // 1000000 AS BIGINT) AS bv_e6,
       |  CAST(floor(1000000.0e0 * greatest(0.0e0,
       |    1.0e0 - (1.5707963267948966e0 * CAST(bv.bvsum AS DOUBLE))
       |      / CAST(rv.rv AS DOUBLE))) AS BIGINT) AS jump_ppm
       |FROM rv, bv WHERE rv.rv > 0""".stripMargin) { (s, dir) =>
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val daily = DayAxis.revCentsEpoch(s, dir)
    val ax = DayAxis.numbered(daily)
      .select(col("t"), col("rev"))
      .ckpt() // indexed day frame: both sides of the diff lag join
    val df = ax.select(col("t").as("ta"), col("rev").as("ra"))
      .join(ax.select(col("t").as("t"), col("rev").as("rb")),
        col("t") === col("ta") + 1)
      .select(col("t"), abs(dec(col("rb")) - col("ra")).as("ad"))
      .ckpt() // |diff| frame: RV fold + both bipower sides
    val rv = df.agg(count(lit(1)).cast("bigint").as("n_diffs"),
      sum(col("ad") * col("ad")).as("rv"))
    val bv = df.select(col("t").as("ta"), col("ad").as("ada"))
      .join(df.select(col("t").as("tb"), col("ad").as("adb")),
        col("tb") === col("ta") + 1)
      .agg(sum(col("ada") * col("adb")).as("bvsum"),
        count(lit(1)).cast("bigint").as("n_bp"))
    rv.crossJoin(broadcast(bv))
      .filter(col("rv") > 0)
      .select(col("n_diffs"), col("n_bp"),
        expr("CAST((rv - pmod(rv, 1000000)) / 1000000 AS BIGINT)")
          .as("rv_e6"),
        expr("CAST((bvsum - pmod(bvsum, 1000000)) / 1000000 AS BIGINT)")
          .as("bv_e6"),
        expr("CAST(floor(1000000.0e0 * greatest(0.0e0, " +
          "1.0e0 - (1.5707963267948966e0 * CAST(bvsum AS DOUBLE)) " +
          "/ CAST(rv AS DOUBLE))) AS BIGINT)").as("jump_ppm"))
  }

  /** Durbin–Levinson level expressions for [[q440Pacf]], generated
    * ONCE and parsed by BOTH engines (the q286 one-string
    * discipline): level k turns the φ_{k−1,·} columns into φ_{k,·}.
    * Returns (selectExprs per level 2..k, per-level denominator
    * guard texts). Level 1 is the literal "r1 AS p1_1". */
  private def dlLevels(maxK: Int): (Seq[Seq[String]], Seq[String]) = {
    val levels = (2 to maxK).map { k =>
      val num = (1 until k).map(j => s"p${k - 1}_$j * r${k - j}")
        .mkString(" + ")
      val den = (1 until k).map(j => s"p${k - 1}_$j * r$j").mkString(" + ")
      val pkk = s"((r$k - ($num)) / (1.0e0 - ($den)))"
      val carries = (1 until k).map(j =>
        s"p${k - 1}_$j - $pkk * p${k - 1}_${k - j} AS p${k}_$j")
      (carries :+ s"$pkk AS p${k}_$k", s"abs(1.0e0 - ($den)) > 1.0e-9")
    }
    (levels.map(_._1), levels.map(_._2))
  }

  /** q440 — partial autocorrelation function (PACF) of daily revenue
    * at lags 1..7 via the Durbin–Levinson recursion over the q163
    * per-lag correlations: ACF answers "is lag k correlated at all",
    * PACF answers "does lag k add anything AFTER lags 1..k−1" — the
    * plot an AR order is actually read from, completing the q163/
    * q387/q404 identification toolkit.
    *
    * Exactness: each ρ_k is the q163 exact-integer-moment Pearson
    * chain (unfloored doubles); the DL recursion is GENERATED ONCE
    * as shared expression text and parsed by both engines (q286
    * discipline), so every φ is the identical IEEE chain;
    * denominator guards filter the degenerate case in both engines
    * identically.
    *
    * Scale design (100 TB): one fact collapse to the shared day
    * axis, one ×7 literal lag expansion joined as an equi calendar
    * join, a 7-row moment frame, then a 1-row recursion. Output
    * 1 row. */
  val q440Pacf: QueryDef = {
    val (levels, guards) = dlLevels(7)
    val rho = "CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0 " +
      "THEN CAST(n * sxy - sx * sy AS DOUBLE) / " +
      "(sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) * " +
      "sqrt(CAST(n * syy - sy * sy AS DOUBLE))) END"
    val levelCtes = levels.zipWithIndex.map { case (exprs, i) =>
      s"l${i + 2} AS (SELECT *, ${exprs.mkString(", ")} FROM l${i + 1})"
    }.mkString(",\n")
    val outCols = (1 to 7).map(k =>
      s"CAST(floor(1000000.0e0 * p${k}_$k) AS BIGINT) AS pacf${k}_ppm")
      .mkString(", ")
    QueryDef(
      "q440_pacf",
      s"""WITH ${DayAxis.revCentsSql("x")},
         |p AS (
         |  SELECT l.lag, a.x AS xa, b.x AS xb
         |  FROM daily a
         |  CROSS JOIN unnest([1,2,3,4,5,6,7]) AS l(lag)
         |  JOIN daily b ON b.d = a.d + CAST(l.lag AS INTEGER)),
         |m AS (
         |  SELECT lag, CAST(count(*) AS HUGEINT) AS n,
         |    CAST(sum(xa) AS HUGEINT) AS sx, CAST(sum(xb) AS HUGEINT) AS sy,
         |    sum(CAST(xa AS HUGEINT) * xb) AS sxy,
         |    sum(CAST(xa AS HUGEINT) * xa) AS sxx,
         |    sum(CAST(xb AS HUGEINT) * xb) AS syy
         |  FROM p GROUP BY lag),
         |rho AS (SELECT lag, $rho AS r FROM m),
         |l1 AS (
         |  SELECT ${(1 to 7).map(k =>
             s"max(CASE WHEN lag = $k THEN r END) AS r$k").mkString(", ")},
         |    r1 AS p1_1
         |  FROM (SELECT lag, r FROM rho)
         |  GROUP BY ()),
         |$levelCtes
         |SELECT $outCols FROM l7
         |WHERE ${(1 to 7).map(k => s"r$k IS NOT NULL").mkString(" AND ")}
         |  AND ${guards.mkString(" AND ")}""".stripMargin) { (s, dir) =>
      val dec = (c: Column) => c.cast("decimal(38,0)")
      val daily = DayAxis.revCents(s, dir)
        .select(col("d"), col("rev").as("x"))
      val lagged = daily
        .withColumn("lag", explode(array((1 to 7).map(lit(_)): _*)))
        .withColumn("d2", date_add(col("d"), col("lag")))
        .select(col("lag"), col("d2"), col("x").as("xa"))
      val pairs = lagged.join(
        daily.select(col("d").as("d2"), col("x").as("xb")), Seq("d2"))
      val m = pairs.groupBy(col("lag"))
        .agg(dec(count(lit(1))).as("n"),
          sum(col("xa")).cast("decimal(38,0)").as("sx"),
          sum(col("xb")).cast("decimal(38,0)").as("sy"),
          sum(dec(col("xa")) * col("xb")).as("sxy"),
          sum(dec(col("xa")) * col("xa")).as("sxx"),
          sum(dec(col("xb")) * col("xb")).as("syy"))
      val rhoF = m.select(col("lag"), expr(rho).as("r"))
      var lvl = rhoF.agg(
        (1 to 7).map(k =>
          max(when(col("lag") === k, col("r"))).as(s"r$k")).head,
        (1 to 7).map(k =>
          max(when(col("lag") === k, col("r"))).as(s"r$k")).tail: _*)
        .selectExpr("*", "r1 AS p1_1")
      // ckpt per level: each φ_{k,j} textually embeds φ_{k,k} which
      // embeds every lower level — without a materialization barrier
      // the collapsed projection tree (and its codegen) doubles per
      // level (measured 48 s at sf0.1; ~1 s with the barriers). The
      // frame is ONE row, so each checkpoint is trivial.
      for (exprs <- dlLevels(7)._1)
        lvl = lvl.selectExpr("*" +: exprs: _*).ckpt()
      lvl
        .filter(expr((1 to 7).map(k => s"r$k IS NOT NULL")
          .mkString(" AND ")))
        .filter(expr(dlLevels(7)._2.mkString(" AND ")))
        .selectExpr((1 to 7).map(k =>
          s"CAST(floor(1000000.0e0 * p${k}_$k) AS BIGINT) AS pacf${k}_ppm"): _*)
    }
  }

  /** q442 — event study around the revenue peak: fit the daily trend
    * EXCLUDING the ±5-day window around the maximum-revenue day,
    * then report each window day's abnormal revenue (actual −
    * fitted) and the running cumulative abnormal total (CAR) — the
    * standard "how big was the spike really, net of trend" read
    * (q245 asks WHERE the level breaks; this quantifies a known
    * event's excess, the finance event-study shape).
    *
    * Exactness: the peak day is an exact argmax (min-day tiebreak);
    * baseline coefficients ride the shared exact-moment milli-floor
    * chain over the EXCLUDED-window day set; abnormal values are
    * exact milli ints; CAR is an exact prefix sum
    * ([[ScaleRank.withRunningSum]]).
    *
    * Scale design (100 TB): one fact collapse to the shared day
    * axis, a 1-row argmax broadcast, one baseline moment fold, and
    * an 11-row window frame. Output ≤11 rows. */
  val q442EventStudy: QueryDef = QueryDef(
    "q442_event_study",
    s"""WITH ${DayAxis.revCentsEpochSql()},
       |${DayAxis.axSql("d, rev")},
       |pk AS (SELECT t AS pt, d AS pd FROM ax ORDER BY rev DESC, d LIMIT 1),
       |base AS (
       |  SELECT ax.t, ax.rev FROM ax, pk WHERE abs(ax.t - pk.pt) > 5),
       |${olsFitSql("base")},
       |win AS (
       |  SELECT ax.t - pk.pt AS off, ax.d, ax.rev,
       |    1000 * ax.rev - co2.a_milli - co2.b_milli * ax.t AS ab_milli
       |  FROM ax, pk, co2 WHERE abs(ax.t - pk.pt) <= 5)
       |SELECT off AS day_offset, d, rev,
       |  CAST(ab_milli AS BIGINT) AS ab_milli,
       |  CAST(sum(ab_milli) OVER (ORDER BY off ROWS UNBOUNDED PRECEDING)
       |    AS BIGINT) AS car_milli
       |FROM win ORDER BY day_offset""".stripMargin) { (s, dir) =>
    val ax = DayAxis.numbered(DayAxis.revCentsEpoch(s, dir))
      .select(col("t"), col("d"), col("rev"))
      .ckpt() // day frame: argmax + baseline + window
    val pk = ax.orderBy(col("rev").desc, col("d")).limit(1)
      .select(col("t").as("pt"))
      .ckpt() // 1-row peak
    val base = ax.crossJoin(broadcast(pk)).filter(abs(col("t") - col("pt")) > 5)
    val (_, co) = olsFit(base)
    val win = ax.crossJoin(broadcast(pk)).crossJoin(broadcast(co))
      .filter(abs(col("t") - col("pt")) <= 5)
      .select((col("t") - col("pt")).as("off"), col("d"), col("rev"),
        (lit(1000) * col("rev") - col("a_milli") - col("b_milli") * col("t"))
          .as("ab_milli"))
    ScaleRank.withRunningSum(win, Seq.empty, Seq(col("off")),
        col("ab_milli"), "car")
      .select(col("off").as("day_offset"), col("d"), col("rev"),
        col("ab_milli").cast("bigint").as("ab_milli"),
        col("car").cast("bigint").as("car_milli"))
      .orderBy("day_offset")
  }

  /** q443 — iterative extreme studentized deviates (the generalized-
    * ESD/Rosner screen, statistics only): three rounds of "find the
    * most extreme day, report its studentized deviation, remove it,
    * refit" on daily revenue. q403 Grubbs tests exactly ONE outlier
    * and is blind when two mask each other — the iterative
    * re-estimation is the standard fix, and the three R_i magnitudes
    * are what an alerting threshold is tuned against.
    *
    * Exactness: deviations ride the n-scaled demeaning |n·y − S|
    * (exact DECIMAL ints, no mean rounding); the argmax is exact
    * with a min-day tiebreak; each R_i is ONE IEEE chain over exact
    * moments; removal is an exact anti join.
    *
    * Scale design (100 TB): three 1-row folds + three broadcast
    * anti joins over the calendar-bounded day frame — round count
    * is literal (3), not data-driven. Output 3 rows. */
  val q443Gesd: QueryDef = {
    // nullif: a constant series zeroes nss (the scaled variance) and
    // the GESD R statistic is undefined; ANSI Spark would throw where
    // DuckDB natively NULLs (shared string; degenerate-corpus probe)
    val rChain = "CAST(floor(1000.0e0 * CAST(dev AS DOUBLE) / " +
      "nullif(sqrt((CAST(n AS DOUBLE) * CAST(nss AS DOUBLE)) / " +
      "(CAST(n AS DOUBLE) - 1.0e0)), 0)) AS BIGINT)"
    val oracleRounds = (1 to 3).map { i =>
      val prev = if (i == 1) "daily" else s"f${i - 1}"
      s"""m$i AS (
         |  SELECT CAST(count(*) AS HUGEINT) AS n,
         |    CAST(sum(rev) AS BIGINT) AS sv,
         |    sum(CAST(rev AS HUGEINT) * rev) AS syy
         |  FROM $prev),
         |p$i AS (
         |  SELECT $prev.d, abs(m$i.n * $prev.rev - m$i.sv) AS dev,
         |    m$i.n, m$i.n * m$i.syy - CAST(m$i.sv AS HUGEINT) * m$i.sv AS nss
         |  FROM $prev, m$i ORDER BY dev DESC, d LIMIT 1),
         |f$i AS (SELECT $prev.d, $prev.rev FROM $prev, p$i
         |        WHERE $prev.d <> p$i.d)""".stripMargin
    }.mkString(",\n")
    val oracleOut = (1 to 3).map(i =>
      s"SELECT CAST($i AS BIGINT) AS round, d AS day, $rChain AS r_milli FROM p$i")
      .mkString("\nUNION ALL ")
    QueryDef(
      "q443_gesd",
      s"""WITH ${DayAxis.revCentsSql()},
         |$oracleRounds
         |SELECT * FROM ($oracleOut) ORDER BY round""".stripMargin) { (s, dir) =>
      val dec = (c: Column) => c.cast("decimal(38,0)")
      var f = DayAxis.revCents(s, dir)
      val outs = (1 to 3).map { i =>
        val mo = f.agg(dec(count(lit(1))).as("n"),
          sum(col("rev")).cast("bigint").as("sv"),
          sum(dec(col("rev")) * col("rev")).as("syy"))
        val pick = f.crossJoin(broadcast(mo))
          .select(col("d"),
            abs(dec(col("n")) * col("rev") - col("sv")).as("dev"),
            col("n"),
            (dec(col("n")) * col("syy") - dec(col("sv")) * col("sv"))
              .as("nss"))
          .orderBy(col("dev").desc, col("d"))
          .limit(1)
          .ckpt() // 1-row extreme: output AND the removal key
        f = f.join(pick.select(col("d")), Seq("d"), "left_anti").ckpt()
        pick.select(lit(i.toLong).as("round"), col("d").as("day"),
          expr(rChain).as("r_milli"))
      }
      outs.reduce(_ unionAll _).orderBy("round")
    }
  }

  /** q445 — binary-segmentation changepoints (3 levels, ≤7 splits):
    * find the SSE-optimal split of the whole daily-revenue series,
    * then recursively the best split of each resulting segment, two
    * more levels deep. q245 locates ONE mean changepoint; binary
    * segmentation is the standard multi-changepoint extension, and
    * the per-level gains read as a scree plot ("how many regimes
    * does this series actually have").
    *
    * Exactness: with prefix sums S the split gain telescopes to
    * (S_τ−S_{lo−1})²/lenL + (S_hi−S_τ)²/lenR − (S_hi−S_{lo−1})²/len
    * (the Q terms cancel) — squares are exact DECIMAL(38)/HUGEINT
    * ints and the gain is ONE shared IEEE chain; argmax per segment
    * is deterministic (gain DESC, τ ASC) and identical in both
    * engines because the doubles are identical.
    *
    * Scale design (100 TB): one fact collapse + one distributed
    * prefix pass; each level's candidate scan is an interval join of
    * the day frame against a ≤4-row segment frame (bounded by the
    * rk=1 literal slice); the per-segment argmax is a partitioned
    * top-1 window (TopKPerKey prunes it). Output ≤7 rows. */
  val q445BinarySegmentation: QueryDef = {
    val gain = "(CAST((st - s0) * (st - s0) AS DOUBLE) / " +
      "(CAST(t AS DOUBLE) - CAST(lo AS DOUBLE) + 1.0e0) + " +
      "CAST((s1 - st) * (s1 - st) AS DOUBLE) / " +
      "(CAST(hi AS DOUBLE) - CAST(t AS DOUBLE)) - " +
      "CAST((s1 - s0) * (s1 - s0) AS DOUBLE) / " +
      "(CAST(hi AS DOUBLE) - CAST(lo AS DOUBLE) + 1.0e0))"
    val oracleLevels = (1 to 3).map { lvl =>
      val segSrc =
        if (lvl == 1) "SELECT CAST(1 AS BIGINT) AS lo, n AS hi FROM nn"
        else s"SELECT lo, t AS hi FROM pick${lvl - 1} UNION ALL " +
          s"SELECT t + 1 AS lo, hi FROM pick${lvl - 1}"
      s"""seg$lvl AS ($segSrc),
         |cand$lvl AS (
         |  SELECT seg$lvl.lo, seg$lvl.hi, p.rn AS t, p.d,
         |    a.s AS s0, b.s AS s1, p.s AS st
         |  FROM seg$lvl
         |  JOIN pre0 a ON a.rn = seg$lvl.lo - 1
         |  JOIN pre0 b ON b.rn = seg$lvl.hi
         |  JOIN pre0 p ON p.rn >= seg$lvl.lo AND p.rn < seg$lvl.hi),
         |pick$lvl AS (
         |  SELECT lo, hi, t, d, $gain AS g FROM (
         |    SELECT *, row_number() OVER (PARTITION BY lo, hi
         |      ORDER BY $gain DESC, t) AS rk
         |    FROM cand$lvl) WHERE rk = 1)""".stripMargin
    }.mkString(",\n")
    val oracleOut = (1 to 3).map(lvl =>
      s"SELECT CAST($lvl AS BIGINT) AS level, lo, hi, t AS split_t, " +
        s"d AS split_day, CAST(floor(g / 1000000.0e0) AS BIGINT) " +
        s"AS gain_e6 FROM pick$lvl").mkString("\nUNION ALL ")
    QueryDef(
      "q445_binary_segmentation",
      s"""WITH ${DayAxis.revCentsEpochSql()},
         |ax AS (
         |  SELECT CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS rn,
         |    d, rev
         |  FROM daily),
         |pre AS (
         |  SELECT rn, d, CAST(sum(rev) OVER (ORDER BY rn
         |    ROWS UNBOUNDED PRECEDING) AS HUGEINT) AS s
         |  FROM ax),
         |pre0 AS (
         |  SELECT rn, d, s FROM pre
         |  UNION ALL SELECT 0, CAST(-1 AS BIGINT), CAST(0 AS HUGEINT)),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ax),
         |$oracleLevels
         |SELECT * FROM ($oracleOut) ORDER BY level, lo""".stripMargin) {
      (s, dir) =>
      val dec = (c: Column) => c.cast("decimal(38,0)")
      val daily = DayAxis.revCentsEpoch(s, dir)
      val ax = ScaleRank.withRowNumber(daily, Seq.empty, Seq(col("d")),
        "rn", "n_ax")
      val pre = ScaleRank.withRunningSum(ax, Seq.empty, Seq(col("rn")),
          col("rev"), "sraw")
        .select(col("rn").cast("bigint").as("rn"), col("d"),
          dec(col("sraw")).as("s"))
      val pre0 = pre.unionByName(
          s.range(1).select(lit(0L).as("rn"), lit(-1L).as("d"),
            dec(lit(0L)).as("s")))
        .ckpt() // prefix frame: every level's three attach joins
      val nn = pre.agg(max(col("rn")).as("n"))
      var segs = nn.select(lit(1L).as("lo"), col("n").as("hi"))
      val picks = (1 to 3).map { lvl =>
        val cand = segs
          .join(pre0.select(col("rn").as("lo1"), col("s").as("s0")),
            col("lo1") === col("lo") - 1)
          .join(pre0.select(col("rn").as("hirn"), col("s").as("s1")),
            col("hirn") === col("hi"))
          .join(pre0.select(col("rn").as("t"), col("d"), col("s").as("st")),
            col("t") >= col("lo") && col("t") < col("hi"))
        val w = Window.partitionBy(col("lo"), col("hi"))
          .orderBy(expr(gain).desc, col("t"))
        val pick = cand.withColumn("rk", row_number().over(w))
          .filter(col("rk") === 1)
          .select(col("lo"), col("hi"), col("t"), col("d"),
            expr(gain).as("g"))
          .ckpt() // ≤4-row picks: output AND the next level's segments
        segs = pick.select(col("lo"), col("t").as("hi"))
          .unionByName(pick.select((col("t") + 1).as("lo"), col("hi")))
        pick.select(lit(lvl.toLong).as("level"), col("lo"), col("hi"),
          col("t").as("split_t"), col("d").as("split_day"),
          expr("CAST(floor(g / 1000000.0e0) AS BIGINT)").as("gain_e6"))
      }
      picks.reduce(_ unionAll _).orderBy("level", "lo")
    }
  }

  /** q447 — two-component Gaussian mixture on daily revenue, three
    * EM iterations: is the revenue distribution one regime or two
    * (promo vs base days)? q167 fits a temperature mixture over
    * CATEGORIES; this is the classic 1-D EM on the continuous day
    * distribution — means, shared variance, and mixing weight after
    * a fixed, deterministic schedule (3 iterations from the
    * p25/p75 split — "EM as a relational recursion", every step a
    * corpus pass plus a 1-row fold.)
    *
    * Exactness: responsibilities are computed with the odds form
    * r₁ = 1/(1 + ((1−π)/π)·exp(Δ)) (no 0/0 underflow corner), as
    * ONE shared expression text in both engines, then floored to
    * nano units BEFORE every sum (floor-before-sum discipline —
    * integer sums are order-independent where raw double sums are
    * not); variance terms floor per row the same way; parameter
    * updates are IEEE chains over those exact integers. exp enters
    * per-row, same as the committed q402/q414 chains.
    *
    * Scale design (100 TB): per iteration, two map-side-collapsing
    * passes over the calendar-bounded day frame against a broadcast
    * 1-row parameter frame — no shuffles beyond the folds. Output
    * 1 row. */
  val q447EmMixture: QueryDef = {
    val r1 = "1.0e0 / (1.0e0 + ((1.0e0 - pi) / pi) * " +
      "exp((((x - mu1) * (x - mu1)) - ((x - mu2) * (x - mu2))) / " +
      "(2.0e0 * s2)))"
    val r1n = s"CAST(floor(1000000000.0e0 * ($r1)) AS BIGINT)"
    val mu1n = "CAST(sx1 AS DOUBLE) / CAST(n1 AS DOUBLE)"
    val mu2n = "CAST(sx2 AS DOUBLE) / CAST(n2 AS DOUBLE)"
    // the raw weighted-square term reaches ~2e23 — beyond int64, so a
    // bare floor() diverges between engines (Spark floor(double) is a
    // LONG; DuckDB's stays double). Scale to 1e9-cents^2 units FIRST:
    // the floored value stays under 2^53 and both engines floor the
    // same double exactly.
    val vterm = "CAST(floor((CAST(r1n AS DOUBLE) * ((x - mu1) * (x - mu1))" +
      " + CAST(1000000000 - r1n AS DOUBLE) * ((x - mu2) * (x - mu2)))" +
      " / 1000000000.0e0) AS BIGINT)"
    val iterCtes = (1 to 3).map { k =>
      s"""e$k AS (
         |  SELECT x, $r1n AS r1n
         |  FROM (SELECT CAST(daily.rev AS DOUBLE) AS x, mu1, mu2, s2, pi
         |        FROM daily, p${k - 1})),
         |a$k AS (
         |  SELECT CAST(sum(r1n) AS BIGINT) AS n1,
         |    CAST(sum(1000000000 - r1n) AS BIGINT) AS n2,
         |    sum(CAST(r1n AS HUGEINT) * CAST(x AS BIGINT)) AS sx1,
         |    sum(CAST(1000000000 - r1n AS HUGEINT) * CAST(x AS BIGINT))
         |      AS sx2
         |  FROM e$k),
         |mu$k AS (
         |  SELECT $mu1n AS mu1, $mu2n AS mu2,
         |    CAST(n1 AS DOUBLE) /
         |      (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)) AS pi
         |  FROM a$k WHERE n1 > 0 AND n2 > 0),
         |v$k AS (
         |  SELECT sum($vterm) AS vsum,
         |    CAST(count(*) AS BIGINT) AS nd
         |  FROM (SELECT e$k.x, e$k.r1n, mu$k.mu1, mu$k.mu2
         |        FROM e$k, mu$k)),
         |p$k AS (
         |  SELECT mu$k.mu1, mu$k.mu2, mu$k.pi,
         |    CAST(v$k.vsum AS DOUBLE) / CAST(v$k.nd AS DOUBLE) AS s2
         |  FROM mu$k, v$k)""".stripMargin
    }.mkString(",\n")
    QueryDef(
      "q447_em_mixture",
      s"""WITH ${DayAxis.revCentsSql()},
         |mo AS (
         |  SELECT CAST(count(*) AS BIGINT) AS nd,
         |    CAST(sum(rev) AS BIGINT) AS sv,
         |    sum(CAST(rev AS HUGEINT) * rev) AS syy
         |  FROM daily),
         |cum AS (
         |  SELECT rev, CAST(sum(c) OVER (ORDER BY rev
         |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
         |  FROM (SELECT rev, CAST(count(*) AS BIGINT) AS c
         |        FROM daily GROUP BY rev)),
         |qq AS (
         |  SELECT
         |    (SELECT min(rev) FROM cum, mo
         |     WHERE cum.cum >= (mo.nd + 3) // 4) AS q25,
         |    (SELECT min(rev) FROM cum, mo
         |     WHERE cum.cum >= (3 * mo.nd + 3) // 4) AS q75),
         |p0 AS (
         |  SELECT CAST(q25 AS DOUBLE) AS mu1, CAST(q75 AS DOUBLE) AS mu2,
         |    CAST(nd * syy - CAST(sv AS HUGEINT) * sv AS DOUBLE) /
         |      (CAST(nd AS DOUBLE) * CAST(nd AS DOUBLE) *
         |       (CAST(nd AS DOUBLE) - 1.0e0)) AS s2,
         |    0.5e0 AS pi
         |  FROM mo, qq WHERE nd > 1 AND q25 < q75),
         |$iterCtes
         |SELECT CAST(floor(mu1) AS BIGINT) AS mu1_cents,
         |  CAST(floor(mu2) AS BIGINT) AS mu2_cents,
         |  CAST(floor(sqrt(s2)) AS BIGINT) AS sigma_cents,
         |  CAST(floor(1000000.0e0 * pi) AS BIGINT) AS pi_ppm
         |FROM p3""".stripMargin) { (s, dir) =>
      val dec = (c: Column) => c.cast("decimal(38,0)")
      val daily = DayAxis.revCents(s, dir)
      val cum = ScaleRank.withRunningSum(
        daily.groupBy(col("rev")).agg(count(lit(1)).cast("bigint").as("c")),
        Seq.empty, Seq(col("rev")), col("c"), "cum")
      val mo = daily.agg(count(lit(1)).cast("bigint").as("nd"),
          sum(col("rev")).cast("bigint").as("sv"),
          sum(dec(col("rev")) * col("rev")).as("syy"))
        .ckpt() // 1-row moments: rank cuts AND the s2 chain
      // exact order-statistic init (NO interpolation: the engines'
      // percentile interpolation formulas differ in the last ulp and
      // 3 EM iterations amplify one ulp into different basins)
      val q25 = cum.crossJoin(broadcast(mo))
        .filter(col("cum") >= expr("(nd + 3) div 4"))
        .agg(min(col("rev")).as("q25"))
      val q75 = cum.crossJoin(broadcast(mo))
        .filter(col("cum") >= expr("(3 * nd + 3) div 4"))
        .agg(min(col("rev")).as("q75"))
      var p = mo.crossJoin(broadcast(q25)).crossJoin(broadcast(q75))
        .filter(col("nd") > 1 && col("q25") < col("q75"))
        .selectExpr("CAST(q25 AS DOUBLE) AS mu1", "CAST(q75 AS DOUBLE) AS mu2",
          "CAST(CAST(nd AS DECIMAL(38,0)) * syy - " +
            "CAST(sv AS DECIMAL(38,0)) * sv AS DOUBLE) / " +
            "(CAST(nd AS DOUBLE) * CAST(nd AS DOUBLE) * " +
            "(CAST(nd AS DOUBLE) - 1.0e0)) AS s2",
          "0.5e0 AS pi")
        .ckpt()
      for (_ <- 1 to 3) {
        val e = daily.crossJoin(broadcast(p))
          .selectExpr("CAST(rev AS DOUBLE) AS x", "mu1", "mu2", "s2", "pi")
          .selectExpr("x", s"$r1n AS r1n")
        val a = e.agg(
          sum(col("r1n")).cast("bigint").as("n1"),
          sum(lit(1000000000L) - col("r1n")).cast("bigint").as("n2"),
          sum(dec(col("r1n")) * col("x").cast("bigint")).as("sx1"),
          sum(dec(lit(1000000000L) - col("r1n")) * col("x").cast("bigint"))
            .as("sx2"))
        val mu = a.filter(col("n1") > 0 && col("n2") > 0)
          .selectExpr(s"$mu1n AS mu1", s"$mu2n AS mu2",
            "CAST(n1 AS DOUBLE) / (CAST(n1 AS DOUBLE) + " +
              "CAST(n2 AS DOUBLE)) AS pi")
          .ckpt() // 1-row new means
        val v = e.crossJoin(broadcast(mu))
          .select(expr(vterm).as("vt"))
          .agg(sum(col("vt").cast("decimal(38,0)")).as("vsum"),
            count(lit(1)).cast("bigint").as("nd"))
        p = mu.crossJoin(broadcast(v))
          .selectExpr("mu1", "mu2", "pi",
            "CAST(vsum AS DOUBLE) / CAST(nd AS DOUBLE) AS s2")
          .ckpt()
      }
      p.selectExpr("CAST(floor(mu1) AS BIGINT) AS mu1_cents",
        "CAST(floor(mu2) AS BIGINT) AS mu2_cents",
        "CAST(floor(sqrt(s2)) AS BIGINT) AS sigma_cents",
        "CAST(floor(1000000.0e0 * pi) AS BIGINT) AS pi_ppm")
    }
  }

  val all: Seq[QueryDef] =
    Seq(q170Ewma, q171Interpolate, q187TheilSen, q204HaarDetail,
      q245Changepoint, q261SeasonalDecomp, q290SeasonalAnomaly,
      q349VarianceTime, q355BurstIntervals, q360DieboldMariano, q372Dtw,
      q380HoltWinters, q401VarianceRatio, q402PageHinkley, q404DurbinWatson,
      q405ChowTest, q406PermutationEntropy, q410BreuschPagan, q414Pettitt,
      q417CusumSquares, q420TurningPoints, q422NeweyWest, q423SeasonalMk,
      q424CoxStuart, q426RunsUpDown, q431PeriodStrength, q432Kpss,
      q433HurstRs, q434ArchLm, q435RealizedBipower, q440Pacf,
      q442EventStudy, q443Gesd, q445BinarySegmentation, q447EmMixture)
}
