package graft.operators

import graft.CkptOps

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-stream operators over the `events` table — JSON property
  * extraction, gap-based sessionization, tumbling-window aggregates,
  * as-of joins, and rollup cubes. The batch twins of the
  * [[graft.streaming]] module: identical semantics, expressed over a
  * bounded table (SURVEY.md §7.2 Phase 3).
  *
  * Scale design (100 TB):
  *  - sessionization shuffles once on user_id; both windows (the lag
  *    and the running sum) share that single partitioning, so Catalyst
  *    plans one Exchange + one Sort;
  *  - the as-of join is the union + last-non-null-window formulation:
  *    one shuffle on user_id over the union, no per-row range probe —
  *    the classic distributed as-of shape (vs. a quadratic theta join);
  *  - tumbling windows and rollups are plain partial-aggregable
  *    groupBys: map-side combine carries (bucket, partials);
  *  - JSON extraction is a codegen'd path expression — no UDF, no
  *    driver-side parsing.
  */
object EventOps {

  private val SESSION_GAP_US = 1800000000L // 30 min in microseconds

  /** JSON property extraction + typed aggregation.
    *
    * Portability (both r11-fuzz-caught, both borrowing q86's proven
    * twin shape): (a) the json_valid guard mirrors Spark's
    * `get_json_object`, which null-coalesces malformed JSON where
    * DuckDB's `json_extract_string` ERRORS on it (the generator
    * injects the literal 'not json at all'); (b) both engines go
    * string → DOUBLE → truncate → BIGINT, because the direct
    * string→BIGINT casts DISAGREE on fractional k: Spark's try_cast
    * nulls '5.5' while DuckDB's TRY_CAST rounds it to 6. Spark's
    * double→bigint cast truncates toward zero; the oracle says
    * trunc() explicitly (DuckDB's double→bigint cast rounds). Exact
    * for every |k| < 2^53; NaN/Infinity/overflow null on both. */
  val q50JsonExtract: QueryDef = QueryDef(
    "q50_json_extract",
    """WITH e AS (
      |  SELECT event_type,
      |    TRY_CAST(trunc(TRY_CAST(CASE WHEN json_valid(props)
      |      THEN json_extract_string(props, '$.k') END AS DOUBLE))
      |      AS BIGINT) AS k
      |  FROM events)
      |SELECT event_type, count(*) AS n, count(k) AS n_k,
      |  CAST(sum(k) AS BIGINT) AS sum_k
      |FROM e GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
    // try_cast: a non-numeric props.k must yield null like the oracle's
    // TRY_CAST, not an ANSI cast error (Spark 4 default)
    val k = expr(
      "try_cast(try_cast(get_json_object(props, '$.k') AS DOUBLE) AS BIGINT)")
    Tables.events(s, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), count(k).as("n_k"), sum(k).as("sum_k"))
      .orderBy("event_type")
  }

  /** Semi-structured extraction through Spark 4's VARIANT type
    * (q86) — the scale path for JSON columns: `parse_json` decodes
    * each document ONCE into the binary variant encoding and every
    * `variant_get` is an O(fields) binary probe, where q50's
    * `get_json_object` re-parses the JSON string per extraction.
    * Same answers, so the q50-style oracle gates it directly. */
  val q86VariantExtract: QueryDef = QueryDef(
    "q86_variant_extract",
    """WITH e AS (
      |  SELECT event_type,
      |    TRY_CAST(trunc(TRY_CAST(CASE WHEN json_valid(props)
      |      THEN json_extract_string(props, '$.k') END AS DOUBLE)) AS BIGINT) AS k
      |  FROM events)
      |SELECT event_type, count(*) AS n, count(k) AS n_k,
      |  CAST(sum(k) AS BIGINT) AS sum_k,
      |  CAST(min(k) AS BIGINT) AS min_k,
      |  CAST(max(k) AS BIGINT) AS max_k
      |FROM e GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
    // try_: a non-numeric props.k must yield null, not a cast error.
    // The oracle goes through trunc(double) because Spark's variant
    // double→bigint cast TRUNCATES where DuckDB's string TRY_CAST
    // ROUNDS ('5.5' → 6) — the trunc twin matches Spark's semantics
    // for fractional k (pinned by a FunctionsSpec case); exact for
    // every |k| < 2^53. The json_valid guard mirrors try_parse_json:
    // DuckDB's json_extract_string ERRORS on malformed JSON where
    // Spark nulls the whole variant — found by tools/fuzz_oracle.py
    val k = expr("try_variant_get(v, '$.k', 'bigint')")
    Tables.events(s, dir)
      .select(col("event_type"), try_parse_json(col("props")).as("v"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"), count(k).as("n_k"),
        sum(k).as("sum_k"), min(k).as("min_k"), max(k).as("max_k"))
      .orderBy("event_type")
  }

  /** The oracle's gap sessionization (q51, q125, q138): the CTEs `o`
    * (is_new flags) and `s` (user_id, ts, sess). */
  private def sessionsSql: String =
    s"""o AS (
       |  SELECT user_id, ts, event_id,
       |    CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) > $SESSION_GAP_US OR lag(ts) OVER w IS NULL
       |         THEN 1 ELSE 0 END AS is_new
       |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       |s AS (
       |  SELECT user_id, ts, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS sess
       |  FROM o)""".stripMargin

  /** Gap sessions of `ev` as epoch-µs intervals (user_id, sess, s_us,
    * e_us): a new session starts when the gap to the user's previous
    * event exceeds [[SESSION_GAP_US]]. */
  private def sessionIntervals(ev: DataFrame): DataFrame = {
    val perUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    ev.withColumn("us", unix_micros(col("ts")))
      .withColumn("prev", lag(col("us"), 1).over(perUser))
      .withColumn("is_new",
        when(col("prev").isNull || col("us") - col("prev") > SESSION_GAP_US, 1)
          .otherwise(0))
      .withColumn("sess", sum(col("is_new")).over(perUser))
      .groupBy(col("user_id"), col("sess"))
      .agg(min(col("us")).as("s_us"), max(col("us")).as("e_us"))
  }

  /** The oracle side of [[sessionIntervals]]: [[sessionsSql]] plus the
    * CTE `iv`. */
  private def sessionIntervalsSql: String =
    s"""$sessionsSql,
       |iv AS (
       |  SELECT user_id, sess, epoch_us(min(ts)) AS s_us, epoch_us(max(ts)) AS e_us
       |  FROM s GROUP BY user_id, sess)""".stripMargin

  /** Gap-based sessionization — a new session starts when the gap to
    * the previous event of the same user exceeds 30 minutes; session id
    * is the running sum of session-start flags. */
  val q51Sessionize: QueryDef = QueryDef(
    "q51_sessionize",
    s"""WITH $sessionsSql,
       |per AS (
       |  SELECT user_id, sess, count(*) AS n_ev, epoch_us(max(ts)) - epoch_us(min(ts)) AS dur_us
       |  FROM s GROUP BY user_id, sess)
       |SELECT user_id, count(*) AS n_sessions, CAST(sum(n_ev) AS BIGINT) AS n_events,
       |  max(n_ev) AS max_sess_events, CAST(sum(dur_us) AS BIGINT) AS total_dur_us
       |FROM per GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, dir) =>
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val isNew = when(
      (unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w)) > SESSION_GAP_US)
        || lag(col("ts"), 1).over(w).isNull, 1).otherwise(0)
    Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), isNew.as("is_new"))
      .withColumn("sess", sum(col("is_new")).over(w))
      .groupBy(col("user_id"), col("sess"))
      .agg(count(lit(1)).as("n_ev"),
        (unix_micros(max(col("ts"))) - unix_micros(min(col("ts")))).as("dur_us"))
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_sessions"),
        sum(col("n_ev")).as("n_events"),
        max(col("n_ev")).as("max_sess_events"),
        sum(col("dur_us")).as("total_dur_us"))
      .orderBy("user_id")
  }

  /** Hourly tumbling-window aggregate — the batch twin of the
    * streaming `window(ts, "1 hour")` aggregation. */
  val q52Tumbling: QueryDef = QueryDef(
    "q52_tumbling",
    """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour, event_type,
      |  count(*) AS n,
      |  CAST(round(sum(CAST(value AS DECIMAL(18,2))),2) AS DOUBLE) AS total
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
    Tables.events(s, dir)
      .groupBy(
        date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:00").as("hour"),
        col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        round(sum(col("value").cast("decimal(18,2)")), 2).cast("double").as("total"))
      .orderBy("hour", "event_type")
  }

  /** The per-user report both as-of implementations (q53's window,
    * q105's native AsofJoin) end in, over purchases (user_id, ts)
    * matched to their latest click (cts, cval; null when none). */
  private def asofClickReport(matched: DataFrame): DataFrame =
    matched
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_purchases"),
        count(col("cts")).as("n_matched"),
        sum(unix_micros(col("ts")) - unix_micros(col("cts"))).as("total_gap_us"),
        round(sum(coalesce(col("cval"), lit(0)).cast("decimal(18,2)")), 2)
          .cast("double").as("click_val"))
      .orderBy("user_id")

  /** The oracle of q53 and q105: DuckDB's ASOF LEFT JOIN of purchases
    * to clicks, ties pre-collapsed to the max-event_id click. */
  private def asofClickSql: String =
    """WITH p AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'),
      |c AS (SELECT user_id, ts, arg_max(value, event_id) AS value
      |      FROM events WHERE event_type = 'click' GROUP BY user_id, ts),
      |m AS (
      |  SELECT p.user_id, p.ts AS pts, c.ts AS cts, c.value AS cval
      |  FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts)
      |SELECT user_id, count(*) AS n_purchases, count(cts) AS n_matched,
      |  CAST(sum(epoch_us(pts) - epoch_us(cts)) AS BIGINT) AS total_gap_us,
      |  CAST(round(sum(CAST(coalesce(cval,0) AS DECIMAL(18,2))),2) AS DOUBLE) AS click_val
      |FROM m GROUP BY user_id ORDER BY user_id""".stripMargin

  /** As-of join — each purchase matched to the latest click of the
    * same user at or before it. Spark formulation: union both sides,
    * one window partitioned by user ordered by (ts, side), carry the
    * last non-null click forward; the oracle uses DuckDB's native
    * ASOF LEFT JOIN. One shuffle, no range probe.
    *
    * Tie rule: among clicks sharing (user_id, ts), the max-event_id one
    * wins — the Spark window orders by event_id, and the oracle's c CTE
    * pre-dedups with arg_max(value, event_id), so neither engine is
    * free to pick an arbitrary tied row. */
  val q53AsofJoin: QueryDef = QueryDef(
    "q53_asof_join",
    asofClickSql) { (s, dir) =>
    val ev = Tables.events(s, dir)
    val union = ev.filter(col("event_type").isin("click", "purchase"))
      .select(
        col("user_id"), col("ts"), col("value"), col("event_id"),
        // clicks sort before a purchase at the same ts => ts >= cts inclusive
        when(col("event_type") === "click", 0).otherwise(1).as("side"),
        when(col("event_type") === "click", col("ts")).as("click_ts"),
        when(col("event_type") === "click", col("value")).as("click_val"))
    // event_id tiebreaker: two clicks at an identical ts would otherwise
    // make last() pick shuffle-order-dependently (determinism contract)
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("side"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    asofClickReport(union
      .withColumn("cts", last(col("click_ts"), ignoreNulls = true).over(w))
      .withColumn("cval", last(col("click_val"), ignoreNulls = true).over(w))
      .filter(col("side") === 1))
  }

  /** Rollup — (event_type, day) hierarchy with grand total; grouping
    * nulls rendered as 'ALL' so ordering is engine-independent. */
  val q54Rollup: QueryDef = QueryDef(
    "q54_rollup",
    """SELECT coalesce(event_type, 'ALL') AS etype,
      |  coalesce(strftime(date_trunc('day', ts), '%Y-%m-%d'), 'ALL') AS day,
      |  count(*) AS n,
      |  CAST(round(sum(CAST(value AS DECIMAL(18,2))),2) AS DOUBLE) AS total
      |FROM events GROUP BY ROLLUP(event_type, date_trunc('day', ts))
      |ORDER BY etype, day""".stripMargin) { (s, dir) =>
    Tables.events(s, dir)
      .rollup(col("event_type"), date_trunc("day", col("ts")).as("d"))
      .agg(
        count(lit(1)).as("n"),
        round(sum(col("value").cast("decimal(18,2)")), 2).cast("double").as("total"))
      .select(
        coalesce(col("event_type"), lit("ALL")).as("etype"),
        coalesce(date_format(col("d"), "yyyy-MM-dd"), lit("ALL")).as("day"),
        col("n"), col("total"))
      .orderBy("etype", "day")
  }

  /** Complex-type battery — array collection (sorted for engine-stable
    * comparison), string-keyed aggregation rendered as ordered text. */
  val q55ComplexTypes: QueryDef = QueryDef(
    "q55_complex_types",
    """WITH c AS (
      |  SELECT user_id % 10 AS user_bucket, event_type, count(*) AS n
      |  FROM events GROUP BY 1, 2)
      |SELECT user_bucket,
      |  array_to_string(list_sort(list(event_type)), ',') AS types,
      |  array_to_string(list_sort(list(event_type || ':' || CAST(n AS VARCHAR))), ',') AS type_counts,
      |  len(list(event_type)) AS n_types
      |FROM c GROUP BY user_bucket ORDER BY user_bucket""".stripMargin) { (s, dir) =>
    Tables.events(s, dir)
      .groupBy((col("user_id") % 10).as("user_bucket"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("user_bucket"))
      .agg(
        array_join(sort_array(collect_list(col("event_type"))), ",").as("types"),
        array_join(sort_array(collect_list(
          concat(col("event_type"), lit(":"), col("n").cast("string")))), ",").as("type_counts"),
        count(lit(1)).as("n_types"))
      .orderBy("user_bucket")
  }

  /** GROUPING SETS — all four (event_type, user bucket) combinations
    * with grouping ids; nulls rendered as 'ALL' for stable ordering. */
  val q56GroupingSets: QueryDef = QueryDef(
    "q56_grouping_sets",
    """SELECT coalesce(event_type, 'ALL') AS etype,
      |  coalesce(CAST(user_id % 5 AS VARCHAR), 'ALL') AS ubucket,
      |  count(*) AS n,
      |  CAST(round(sum(CAST(value AS DECIMAL(18,2))),2) AS DOUBLE) AS total,
      |  CAST(grouping(event_type) AS INT)*2 + CAST(grouping(user_id % 5) AS INT) AS gid
      |FROM events
      |GROUP BY GROUPING SETS ((event_type, user_id % 5), (event_type), (user_id % 5), ())
      |ORDER BY etype, ubucket""".stripMargin) { (s, dir) =>
    Tables.events(s, dir)
      .withColumn("ub", col("user_id") % 5)
      .groupingSets(
        Seq(Seq(col("event_type"), col("ub")), Seq(col("event_type")), Seq(col("ub")), Seq()),
        col("event_type"), col("ub"))
      .agg(
        count(lit(1)).as("n"),
        round(sum(col("value").cast("decimal(18,2)")), 2).cast("double").as("total"),
        (grouping(col("event_type")).cast("int") * 2 + grouping(col("ub")).cast("int")).as("gid"))
      .select(
        coalesce(col("event_type"), lit("ALL")).as("etype"),
        coalesce(col("ub").cast("string"), lit("ALL")).as("ubucket"),
        col("n"), col("total"), col("gid"))
      .orderBy("etype", "ubucket")
  }

  /** Funnel analysis — ordered signup → click → purchase progression
    * per user (each stage strictly after the previous stage's first
    * event), with exact integer gap totals. */
  val q57Funnel: QueryDef = QueryDef(
    "q57_funnel",
    """WITH s AS (
      |  SELECT user_id, min(ts) AS signup_ts FROM events WHERE event_type = 'signup' GROUP BY user_id),
      |c AS (
      |  SELECT e.user_id, min(e.ts) AS click_ts, min(s.signup_ts) AS signup_ts
      |  FROM events e JOIN s ON e.user_id = s.user_id
      |  WHERE e.event_type = 'click' AND e.ts > s.signup_ts GROUP BY e.user_id),
      |p AS (
      |  SELECT e.user_id, min(e.ts) AS purchase_ts, min(c.click_ts) AS click_ts
      |  FROM events e JOIN c ON e.user_id = c.user_id
      |  WHERE e.event_type = 'purchase' AND e.ts > c.click_ts GROUP BY e.user_id)
      |SELECT 'stage1_signup' AS stage, count(*) AS n_users, CAST(0 AS BIGINT) AS total_gap_us FROM s
      |UNION ALL
      |SELECT 'stage2_click', count(*), CAST(sum(epoch_us(click_ts) - epoch_us(signup_ts)) AS BIGINT) FROM c
      |UNION ALL
      |SELECT 'stage3_purchase', count(*), CAST(sum(epoch_us(purchase_ts) - epoch_us(click_ts)) AS BIGINT) FROM p
      |ORDER BY stage""".stripMargin) { (s, dir) =>
    val ev = Tables.events(s, dir)
    val su = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("ts")).as("signup_ts"))
    val cl = ev.filter(col("event_type") === "click")
      .join(su, Seq("user_id"))
      .filter(col("ts") > col("signup_ts"))
      .groupBy(col("user_id"))
      .agg(min(col("ts")).as("click_ts"), min(col("signup_ts")).as("signup_ts"))
    val pu = ev.filter(col("event_type") === "purchase")
      .join(cl, Seq("user_id"))
      .filter(col("ts") > col("click_ts"))
      .groupBy(col("user_id"))
      .agg(min(col("ts")).as("purchase_ts"), min(col("click_ts")).as("click_ts"))
    val s1 = su.agg(count(lit(1)).as("n_users"))
      .select(lit("stage1_signup").as("stage"), col("n_users"),
        lit(0L).as("total_gap_us"))
    val s2 = cl.agg(count(lit(1)).as("n_users"),
        sum(unix_micros(col("click_ts")) - unix_micros(col("signup_ts"))).as("total_gap_us"))
      .select(lit("stage2_click").as("stage"), col("n_users"), col("total_gap_us"))
    val s3 = pu.agg(count(lit(1)).as("n_users"),
        sum(unix_micros(col("purchase_ts")) - unix_micros(col("click_ts"))).as("total_gap_us"))
      .select(lit("stage3_purchase").as("stage"), col("n_users"), col("total_gap_us"))
    s1.union(s2).union(s3).orderBy("stage")
  }

  /** Pivot — event_type values become columns (one decimal-exact sum
    * per type). Oracle states the equivalent conditional aggregation —
    * the relational identity pivot desugars to. */
  val q58Pivot: QueryDef = QueryDef(
    "q58_pivot",
    """SELECT user_id % 10 AS user_bucket,
      |  CAST(round(sum(CASE WHEN event_type = 'click' THEN CAST(value AS DECIMAL(18,2)) END),2) AS DOUBLE) AS click,
      |  CAST(round(sum(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(18,2)) END),2) AS DOUBLE) AS purchase,
      |  CAST(round(sum(CASE WHEN event_type = 'view' THEN CAST(value AS DECIMAL(18,2)) END),2) AS DOUBLE) AS view
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    Tables.events(s, dir)
      .groupBy((col("user_id") % 10).as("user_bucket"))
      .pivot("event_type", Seq("click", "purchase", "view"))
      .agg(round(sum(col("value").cast("decimal(18,2)")), 2).cast("double"))
      .orderBy("user_bucket")
  }

  /** Cube — both grouping dimensions plus all margins. */
  val q59Cube: QueryDef = QueryDef(
    "q59_cube",
    """SELECT coalesce(event_type, 'ALL') AS etype,
      |  coalesce(CAST(user_id % 3 AS VARCHAR), 'ALL') AS ubucket,
      |  count(*) AS n
      |FROM events GROUP BY CUBE(event_type, user_id % 3)
      |ORDER BY etype, ubucket""".stripMargin) { (s, dir) =>
    Tables.events(s, dir)
      .withColumn("ub", col("user_id") % 3)
      .cube(col("event_type"), col("ub"))
      .agg(count(lit(1)).as("n"))
      .select(
        coalesce(col("event_type"), lit("ALL")).as("etype"),
        coalesce(col("ub").cast("string"), lit("ALL")).as("ubucket"),
        col("n"))
      .orderBy("etype", "ubucket")
  }

  /** Cohort retention — users grouped by first-activity week, retention
    * counted as distinct active users k weeks later. week_n is an exact
    * integer division of the day diff (both engines truncate weeks to
    * Monday in UTC, so the diff is always a multiple of 7 — no
    * engine-specific "week diff" semantics in the oracle). */
  val q48Retention: QueryDef = QueryDef(
    "q48_retention",
    """WITH f AS (
      |  SELECT user_id, min(CAST(date_trunc('week', ts) AS DATE)) AS cohort
      |  FROM events GROUP BY user_id),
      |a AS (SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk FROM events),
      |r AS (
      |  SELECT f.cohort, CAST(date_diff('day', f.cohort, a.wk) // 7 AS INT) AS week_n,
      |    count(DISTINCT a.user_id) AS n_active
      |  FROM a JOIN f ON a.user_id = f.user_id GROUP BY 1, 2)
      |SELECT strftime(cohort, '%Y-%m-%d') AS cohort, week_n, n_active
      |FROM r ORDER BY cohort, week_n""".stripMargin) { (s, dir) =>
    val wk = to_date(date_trunc("week", col("ts")))
    val ev = Tables.events(s, dir)
    val f = ev.groupBy(col("user_id")).agg(min(wk).as("cohort"))
    val a = ev.select(col("user_id"), wk.as("wk")).distinct()
    a.join(f, Seq("user_id"))
      .groupBy(col("cohort"),
        expr("CAST(datediff(wk, cohort) div 7 AS INT)").as("week_n"))
      .agg(countDistinct(col("user_id")).as("n_active"))
      .select(date_format(col("cohort"), "yyyy-MM-dd").as("cohort"),
        col("week_n"), col("n_active"))
      .orderBy("cohort", "week_n")
  }

  /** Time-series gap fill — densify each user's daily activity across
    * their [min, max] day span (sequence + explode + left join), then
    * summarize coverage. The generated rows are bounded by the date
    * span per user — never a cross join against a calendar table — and
    * the fill join is keyed (user, day), so it shuffles like any
    * equi-join. */
  val q49GapFill: QueryDef = QueryDef(
    "q49_gapfill",
    """WITH daily AS (
      |  SELECT user_id, date_trunc('day', ts) AS d, count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |span AS (SELECT user_id, min(d) AS mind, max(d) AS maxd FROM daily GROUP BY user_id),
      |days AS (
      |  SELECT user_id, unnest(generate_series(mind, maxd, INTERVAL 1 DAY)) AS d
      |  FROM span),
      |filled AS (
      |  SELECT days.user_id, days.d, coalesce(daily.n, 0) AS n
      |  FROM days LEFT JOIN daily ON days.user_id = daily.user_id AND days.d = daily.d)
      |SELECT user_id, count(*) AS n_days,
      |  count(CASE WHEN n > 0 THEN 1 END) AS active_days,
      |  count(CASE WHEN n = 0 THEN 1 END) AS gap_days,
      |  CAST(sum(n) AS BIGINT) AS total_events
      |FROM filled GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, dir) =>
    val daily = Tables.events(s, dir)
      .groupBy(col("user_id"), date_trunc("day", col("ts")).as("d"))
      .agg(count(lit(1)).as("n"))
    val days = daily.groupBy(col("user_id"))
      .agg(min(col("d")).as("mind"), max(col("d")).as("maxd"))
      .select(col("user_id"),
        explode(sequence(col("mind"), col("maxd"), expr("INTERVAL 1 DAY"))).as("d"))
    days.join(daily, Seq("user_id", "d"), "left")
      .withColumn("n", coalesce(col("n"), lit(0L)))
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_days"),
        count(when(col("n") > 0, 1)).as("active_days"),
        count(when(col("n") === 0, 1)).as("gap_days"),
        sum(col("n")).as("total_events"))
      .orderBy("user_id")
  }

  /** Sliding-window aggregation — Spark's native `window(ts, width,
    * slide)` with a 10-minute window sliding every 5: each event lands
    * in exactly width/slide = 2 windows. The oracle reproduces Spark's
    * epoch-aligned window calendar with integer micros arithmetic
    * (floor-div to the slide grid, the window at the grid point and
    * the one before it).
    *
    * Scale: the window struct is generated map-side (an Expand of ×2,
    * not a range join), then it is an ordinary partial-aggregable
    * groupBy — the same single-shuffle shape as the tumbling q52. */
  val q72SlidingWindow: QueryDef = {
    val SLIDE_US = 300000000L // 5 min
    QueryDef(
      "q72_sliding_window",
      s"""SELECT strftime(make_timestamp(ws), '%Y-%m-%d %H:%M') AS w_start, event_type,
         |  count(*) AS n,
         |  CAST(round(sum(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS total
         |FROM events,
         |  unnest([(epoch_us(ts) // $SLIDE_US) * $SLIDE_US,
         |          (epoch_us(ts) // $SLIDE_US) * $SLIDE_US - $SLIDE_US]) AS t(ws)
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      Tables.events(s, dir)
        .groupBy(
          window(col("ts"), "10 minutes", "5 minutes"),
          col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          round(sum(col("value").cast("decimal(18,2)")), 2).cast("double").as("total"))
        .select(
          date_format(col("window.start"), "yyyy-MM-dd HH:mm").as("w_start"),
          col("event_type"), col("n"), col("total"))
        .orderBy("w_start", "event_type")
    }
  }

  /** Gaps-and-islands — longest consecutive-active-day streak per
    * user, via the classic day_number − row_number island tag: one
    * shuffle for the per-user window, then partial-aggregable rollups.
    * The island arithmetic is pure integers, so the oracle matches
    * exactly. */
  val q81Streaks: QueryDef = QueryDef(
    "q81_streaks",
    """WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
      |seq AS (
      |  SELECT user_id, d,
      |    date_diff('day', DATE '1970-01-01', d)
      |      - row_number() OVER (PARTITION BY user_id ORDER BY d) AS isl
      |  FROM days),
      |streaks AS (SELECT user_id, isl, count(*) AS len FROM seq GROUP BY 1, 2)
      |SELECT user_id, max(len) AS max_streak,
      |  CAST(sum(len) AS BIGINT) AS n_active_days
      |FROM streaks GROUP BY user_id
      |ORDER BY max_streak DESC, user_id LIMIT 25""".stripMargin) { (s, dir) =>
    val days = Tables.events(s, dir)
      .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("d"))
    val streaks = days
      .withColumn("isl",
        datediff(col("d"), lit("1970-01-01")) - row_number().over(w))
      .groupBy(col("user_id"), col("isl"))
      .agg(count(lit(1)).as("len"))
    streaks.groupBy(col("user_id"))
      .agg(max(col("len")).as("max_streak"), sum(col("len")).as("n_active_days"))
      .orderBy(col("max_streak").desc, col("user_id"))
      .limit(25)
  }

  /** q102 — incremental aggregate maintenance (the materialized-view
    * contract): the daily per-type rollup is maintained as
    * merge(base aggregate over history, delta aggregate over the new
    * batch) — two partial aggregates re-aggregated — while the ORACLE
    * is the one-shot recompute over everything. Hash-match proves the
    * incremental path is indistinguishable from full recompute, the
    * q68/q79 "oracle is the plain form" pattern.
    *
    * Why it holds, and why it scales: count/sum are commutative
    * monoids over exact decimal, so re-aggregating partials is exact
    * regardless of how history is sliced — the property every
    * incremental ETL (and Spark's own partial aggregation) rests on.
    * At 100 TB the base side is the stored rollup (read, not
    * recomputed): maintenance cost is O(delta), the whole point. */
  val q102IncrementalAgg: QueryDef = {
    val CUTOFF = "2024-01-15"
    QueryDef(
      "q102_incremental_agg",
      """SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS d, event_type,
        |  count(*) AS n,
        |  CAST(round(sum(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS total
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      val ev = Tables.events(s, dir)
        .select(date_format(col("ts").cast("date"), "yyyy-MM-dd").as("d"),
          col("event_type"), col("value").cast("decimal(18,2)").as("v"),
          col("ts"))
      def partial(df: org.apache.spark.sql.DataFrame) =
        df.groupBy(col("d"), col("event_type"))
          .agg(count(lit(1)).as("n"), sum(col("v")).as("total_dec"))
      val base = partial(ev.filter(col("ts") < lit(CUTOFF).cast("timestamp")))
      val delta = partial(ev.filter(col("ts") >= lit(CUTOFF).cast("timestamp")))
      base.unionByName(delta)
        .groupBy(col("d"), col("event_type"))
        .agg(sum(col("n")).as("n"), sum(col("total_dec")).as("total_dec"))
        .select(col("d"), col("event_type"), col("n"),
          round(col("total_dec"), 2).cast("double").as("total"))
        .orderBy("d", "event_type")
    }
  }

  /** q105 — q53's as-of enrich through the NATIVE sort-merge as-of
    * operator ([[graft.plans.AsofJoin]]): same user-level aggregate,
    * same DuckDB `ASOF LEFT JOIN` oracle, but the Spark plan is
    * AsofJoinExec — one exchange+sort per side and a single forward
    * merge with O(1) state, instead of the union + running-last
    * window (which sorts the COMBINED stream). The q15/TopKPerKey
    * pattern: the custom physical operator earns its place by passing
    * the same oracle gate as the relational formulation.
    *
    * Equal-ts clicks collapse to the max-event_id one BEFORE the join
    * (arg_max in both engines' prep), so the tie rule is explicit
    * rather than sort-dependent. */
  val q105AsofNative: QueryDef = QueryDef(
    "q105_asof_native",
    asofClickSql) { (s, dir) =>
    val ev = Tables.events(s, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"))
    // collapse equal-ts clicks to the max-event_id row (the explicit
    // tie rule), keyed under a different name so the join output has
    // no ambiguous columns
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id").as("c_user_id"), col("ts").as("cts"))
      .agg(max_by(col("value"), col("event_id")).as("cval"))
    asofClickReport(graft.plans.Asof.joinKeys(
      purchases, clicks, Seq("user_id"), Seq("c_user_id"), "ts", "cts"))
  }

  /** q109 — first-order Markov transition matrix over each user's
    * event stream: for every (src, dst) event-type pair, how often dst
    * immediately follows src, and the per-src transition probability.
    * The standard "what do users do next" model behind navigation
    * analysis and session-path anomaly detection.
    *
    * Scale design: ONE shuffle on user_id orders each user's stream
    * for the lead(); the (src, dst) aggregate then reduces the stream
    * to at most |types|² rows, so the probability window (partition by
    * src) runs over a bounded matrix, not the event stream. Integer
    * ppm via floor-div keeps both engines bit-identical — no float
    * division in the output.
    *
    * Ref: the reference has no sequence analytics (SURVEY.md §2
    * "does NOT have"); this is north-star surface. */
  val q109Markov: QueryDef = QueryDef(
    "q109_markov",
    """WITH o AS (
      |  SELECT user_id, event_type AS src,
      |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
      |  FROM events),
      |c AS (
      |  SELECT src, dst, CAST(count(*) AS BIGINT) AS n_trans
      |  FROM o WHERE dst IS NOT NULL GROUP BY src, dst)
      |SELECT src, dst, n_trans,
      |  (1000000 * n_trans) // CAST(sum(n_trans) OVER (PARTITION BY src) AS BIGINT) AS prob_ppm
      |FROM c ORDER BY src, dst""".stripMargin) { (s, dir) =>
    val perUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val trans = Tables.events(s, dir)
      .select(col("user_id"), col("event_type").as("src"), col("ts"), col("event_id"))
      .withColumn("dst", lead(col("src"), 1).over(perUser))
      .filter(col("dst").isNotNull)
      .groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("n_trans"))
    trans
      .withColumn("src_total",
        sum(col("n_trans")).over(Window.partitionBy(col("src"))))
      .select(col("src"), col("dst"), col("n_trans"),
        expr("(1000000 * n_trans) div src_total").as("prob_ppm"))
      .orderBy("src", "dst")
  }

  /** q113 — rolling z-score anomaly detection: flag events whose value
    * deviates from the trailing-10 window mean by more than 3σ. The
    * streaming-shaped data-quality tripwire (sensor spikes, metric
    * regressions) every ingest pipeline runs.
    *
    * The window EXCLUDES the current row (10 preceding .. 1
    * preceding): the test asks "does this value deviate from the
    * trailing baseline", and including the point in its own baseline
    * caps the reachable z at (n−1)/√n ≈ 2.85 for n=10 — a 3σ rule
    * over an inclusive 10-row window can never fire, on any data.
    *
    * Exactness: values quantize to integer milli-units, and the
    * z-test |v−μ| > 3σ is cross-multiplied into pure int64 —
    * (n·v−s)² > 9·(n·q−s²) with s=Σv, q=Σv² over the trailing
    * window — so there is NO float division or sqrt anywhere and both
    * engines agree bit-for-bit. Bounds: v ≤ 5·10⁵ milli, n ≤ 10 ⇒
    * (n·v−s)² ≤ ~2.4·10¹³, far inside int64.
    *
    * Scale design: one shuffle on user_id; all three window sums
    * share the same partitioning+ordering, so Catalyst plans a single
    * Exchange + Sort and computes the frame in one pass. */
  val q113RollingZscore: QueryDef = QueryDef(
    "q113_rolling_zscore",
    """WITH m AS (
      |  SELECT user_id, event_id, CAST(floor(value * 1000) AS BIGINT) AS v_m, ts
      |  FROM events),
      |w AS (
      |  SELECT user_id, event_id, v_m,
      |    count(*)                        OVER win AS n,
      |    CAST(sum(v_m)       OVER win AS BIGINT) AS s,
      |    CAST(sum(v_m * v_m) OVER win AS BIGINT) AS q
      |  FROM m
      |  WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
      |                 ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING))
      |SELECT user_id, event_id, v_m AS value_milli,
      |  CAST(n AS BIGINT) AS n_win
      |FROM w
      |WHERE n >= 5 AND (n*v_m - s)*(n*v_m - s) > 9 * (n*q - s*s)
      |ORDER BY user_id, event_id""".stripMargin) { (s, dir) =>
    val win = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(-10, -1)
    Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("ts"),
        floor(col("value") * 1000).cast("bigint").as("v_m"))
      .withColumn("n", count(lit(1)).over(win))
      .withColumn("s", sum(col("v_m")).over(win))
      .withColumn("q", sum(col("v_m") * col("v_m")).over(win))
      .filter(col("n") >= 5 &&
        (col("n") * col("v_m") - col("s")) * (col("n") * col("v_m") - col("s")) >
          lit(9L) * (col("n") * col("q") - col("s") * col("s")))
      .select(col("user_id"), col("event_id"), col("v_m").as("value_milli"),
        col("n").as("n_win"))
      .orderBy("user_id", "event_id")
  }

  /** q114 — time-weighted average (TWAP): each event's value holds
    * until the user's next event; the average weights each value by
    * how long it held. The finance/metrics canonical aggregate where
    * a plain mean over irregular samples is simply wrong.
    *
    * Exactness: values in milli-units, durations in whole seconds
    * (epoch-micros floor-div 10⁶ — matches DuckDB's epoch_us floor
    * division), TWAP emitted as an integer floor-div — all int64
    * (v·dt ≤ 5·10⁵ · 2.6·10⁶ ≈ 1.3·10¹²), no float anywhere.
    *
    * Scale design: one shuffle on user_id for the lead(); the
    * per-user aggregate reuses that partitioning (no second
    * Exchange). Zero-duration users (all events at one instant)
    * carry no weight and are excluded explicitly, not by a
    * divide-by-zero accident. */
  val q114Twap: QueryDef = QueryDef(
    "q114_twap",
    """WITH o AS (
      |  SELECT user_id,
      |    CAST(floor(value * 1000) AS BIGINT) AS v_m,
      |    epoch_us(ts) // 1000000 AS t_s,
      |    lead(epoch_us(ts) // 1000000) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt_s
      |  FROM events)
      |SELECT user_id,
      |  CAST(count(*) AS BIGINT) AS n_intervals,
      |  CAST(sum(nxt_s - t_s) AS BIGINT) AS held_s,
      |  CAST(sum(v_m * (nxt_s - t_s)) AS BIGINT) // CAST(sum(nxt_s - t_s) AS BIGINT) AS twap_milli
      |FROM o WHERE nxt_s IS NOT NULL
      |GROUP BY user_id HAVING sum(nxt_s - t_s) > 0
      |ORDER BY user_id""".stripMargin) { (s, dir) =>
    val perUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        floor(col("value") * 1000).cast("bigint").as("v_m"),
        expr("unix_micros(ts) div 1000000").as("t_s"))
      .withColumn("nxt_s", lead(col("t_s"), 1).over(perUser))
      .filter(col("nxt_s").isNotNull)
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_intervals"),
        sum(col("nxt_s") - col("t_s")).as("held_s"),
        sum(col("v_m") * (col("nxt_s") - col("t_s"))).as("wsum"))
      .filter(col("held_s") > 0)
      .select(col("user_id"), col("n_intervals"), col("held_s"),
        expr("wsum div held_s").as("twap_milli"))
      .orderBy("user_id")
  }

  /** q118 — daily active + cumulative unique users. The naive
    * cumulative form (count(DISTINCT) over an expanding window) is
    * quadratic and unshardable; the exact distributed formulation is
    * first-seen-date: min(date) per user (one shuffle), then daily
    * new-user counts cumsummed over the (bounded) day axis. Every
    * growth dashboard runs this shape.
    *
    * The cumsum window is single-partition but runs over DAYS, not
    * events — bounded by the calendar at any corpus size. */
  val q118CumulativeUniques: QueryDef = QueryDef(
    "q118_cumulative_uniques",
    """WITH dd AS (SELECT CAST(ts AS DATE) AS d, user_id FROM events),
      |a AS (SELECT d, CAST(count(DISTINCT user_id) AS BIGINT) AS active_users
      |      FROM dd GROUP BY d),
      |f AS (SELECT user_id, min(d) AS first_d FROM dd GROUP BY user_id),
      |nu AS (SELECT first_d AS d, CAST(count(*) AS BIGINT) AS new_users
      |       FROM f GROUP BY first_d)
      |SELECT a.d, a.active_users, coalesce(nu.new_users, 0) AS new_users,
      |  CAST(sum(coalesce(nu.new_users, 0))
      |    OVER (ORDER BY a.d ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_uniques
      |FROM a LEFT JOIN nu ON a.d = nu.d ORDER BY a.d""".stripMargin) { (s, dir) =>
    val dd = Tables.events(s, dir)
      .select(to_date(col("ts")).as("d"), col("user_id"))
    val a = dd.groupBy(col("d")).agg(countDistinct(col("user_id")).as("active_users"))
    val nu = dd.groupBy(col("user_id")).agg(min(col("d")).as("first_d"))
      .groupBy(col("first_d").as("d")).agg(count(lit(1)).as("new_users"))
    val w = Window.orderBy(col("d"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    a.join(nu, Seq("d"), "left")
      .select(col("d"), col("active_users"),
        coalesce(col("new_users"), lit(0L)).as("new_users"))
      .withColumn("cum_uniques", sum(col("new_users")).over(w))
      .orderBy("d")
  }

  /** q125 — INTERVAL OVERLAP JOIN: user sessions (q51's 30-minute-gap
    * intervals) joined to daily campaign windows (06:00–18:00 of every
    * active day) on genuine interval overlap, reporting per campaign
    * how many sessions it touched and the total overlapped time.
    *
    * The distributed shape: a raw theta join (s ≤ ce AND cs ≤ e) is
    * quadratic and unpartitionable, so each session is EXPLODED over
    * the calendar days it spans (sequence() — almost always one day
    * for gap-bounded sessions) and the join becomes an equi-join on
    * the day key, with the exact overlap predicate applied after. A
    * session spanning two days meets both days' campaigns through its
    * two day rows — no dedup step, because campaigns are keyed by the
    * same day. The oracle IS the quadratic theta join, so the gate
    * proves the bucketed rewrite exact.
    *
    * Overlap arithmetic stays in integer epoch-µs end to end. */
  val q125IntervalJoin: QueryDef = QueryDef(
    "q125_interval_join",
    s"""WITH $sessionIntervalsSql,
       |camp AS (
       |  SELECT d, epoch_us(CAST(d AS TIMESTAMP)) + 21600000000 AS cs_us,
       |    epoch_us(CAST(d AS TIMESTAMP)) + 64800000000 AS ce_us
       |  FROM (SELECT DISTINCT CAST(ts AS DATE) AS d FROM events))
       |SELECT camp.d, CAST(count(*) AS BIGINT) AS n_sessions,
       |  CAST(sum(least(iv.e_us, camp.ce_us) - greatest(iv.s_us, camp.cs_us)) AS BIGINT) AS total_overlap_us
       |FROM iv JOIN camp ON iv.s_us <= camp.ce_us AND camp.cs_us <= iv.e_us
       |GROUP BY camp.d ORDER BY camp.d""".stripMargin) { (s, dir) =>
    val ev = Tables.events(s, dir)
    val iv = sessionIntervals(ev)
    val camp = ev.select(to_date(col("ts")).as("d")).distinct()
      .withColumn("cs_us", unix_micros(col("d").cast("timestamp")) + lit(21600000000L))
      .withColumn("ce_us", col("cs_us") + lit(43200000000L))
    iv
      .select(col("s_us"), col("e_us"),
        explode(sequence(
          to_date(timestamp_micros(col("s_us"))),
          to_date(timestamp_micros(col("e_us"))))).as("d"))
      .join(broadcast(camp), Seq("d"))
      .filter(col("s_us") <= col("ce_us") && col("cs_us") <= col("e_us"))
      .groupBy(col("d"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(least(col("e_us"), col("ce_us")) - greatest(col("s_us"), col("cs_us")))
          .as("total_overlap_us"))
      .orderBy("d")
  }

  /** q130 — top session paths: the ordered event-type journey of every
    * session (q51's gap sessions), ranked by frequency — the "what do
    * users actually do" product-analytics staple.
    *
    * Scale design: one shuffle on user_id builds sessions and their
    * ordered paths (sort_array over per-session structs — bounded by
    * session length, which the 30-minute gap bounds); path counting is
    * a partial-aggregable groupBy; the top-10 is TakeOrdered, never a
    * global sort. */
  val q130TopPaths: QueryDef = QueryDef(
    "q130_top_paths",
    s"""WITH o AS (
       |  SELECT user_id, ts, event_id, event_type,
       |    CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) > $SESSION_GAP_US OR lag(ts) OVER w IS NULL
       |         THEN 1 ELSE 0 END AS is_new
       |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       |s AS (
       |  SELECT user_id, ts, event_id, event_type,
       |    sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS sess
       |  FROM o),
       |p AS (
       |  SELECT user_id, sess,
       |    string_agg(event_type, '>' ORDER BY ts, event_id) AS path
       |  FROM s GROUP BY user_id, sess),
       |c AS (SELECT path, CAST(count(*) AS BIGINT) AS n FROM p GROUP BY path)
       |SELECT path, n FROM c ORDER BY n DESC, path LIMIT 10""".stripMargin) { (s, dir) =>
    val perUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("prev", lag(col("us"), 1).over(perUser))
      .withColumn("is_new",
        when(col("prev").isNull || col("us") - col("prev") > SESSION_GAP_US, 1)
          .otherwise(0))
      .withColumn("sess", sum(col("is_new")).over(perUser))
      .groupBy(col("user_id"), col("sess"))
      .agg(array_join(transform(
        sort_array(collect_list(struct(col("us"), col("event_id"), col("event_type")))),
        x => x.getField("event_type")), ">").as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path")).limit(10)
  }

  /** q134 — day-of-week seasonality profile: per (event type, dow)
    * the mean value, plus how much of each type's variance the weekly
    * pattern explains (R² of the dow-mean model) — the first question
    * asked of any business metric ("is this weekday effect real?").
    *
    * dow comes from epoch-day arithmetic ((days+4) mod 7, 0=Sunday) —
    * engine date functions disagree on week origin, integer math does
    * not. Two passes: the (type, dow) means (bounded: |types|·7 rows)
    * broadcast back over the scan; residuals against the FLOOR means
    * keep every sum int64 (dev² ≤ 2.5·10¹¹ per row). R² in ppm via
    * floor-div. */
  val q134Seasonality: QueryDef = QueryDef(
    "q134_seasonality",
    """WITH p AS (
      |  SELECT event_type, ((epoch_us(ts) // 86400000000) + 4) % 7 AS dow,
      |    CAST(floor(value * 1000) AS BIGINT) AS v
      |  FROM events),
      |d AS (
      |  SELECT event_type, dow, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(v) AS BIGINT) // CAST(count(*) AS BIGINT) AS dmean
      |  FROM p GROUP BY event_type, dow),
      |g AS (
      |  SELECT event_type, CAST(sum(v) AS BIGINT) // CAST(count(*) AS BIGINT) AS gmean
      |  FROM p GROUP BY event_type),
      |r AS (
      |  SELECT p.event_type,
      |    CAST(sum((p.v - g.gmean) * (p.v - g.gmean)) AS BIGINT) AS sst,
      |    CAST(sum((p.v - d.dmean) * (p.v - d.dmean)) AS BIGINT) AS ssw
      |  FROM p JOIN d ON p.event_type = d.event_type AND p.dow = d.dow
      |         JOIN g ON p.event_type = g.event_type
      |  GROUP BY p.event_type)
      |SELECT d.event_type, d.dow, d.n, d.dmean AS mean_milli,
      |  greatest(0, (1000000 * (r.sst - r.ssw)) // r.sst) AS r2_ppm
      |FROM d JOIN r ON d.event_type = r.event_type
      |ORDER BY d.event_type, d.dow""".stripMargin) { (s, dir) =>
    val p = Tables.events(s, dir).select(
      col("event_type"),
      expr("((unix_micros(ts) div 86400000000) + 4) % 7").as("dow"),
      floor(col("value") * 1000).cast("bigint").as("v"))
    val d = p.groupBy(col("event_type"), col("dow"))
      .agg(count(lit(1)).as("n"), expr("sum(v) div count(1)").as("dmean"))
    val g = p.groupBy(col("event_type"))
      .agg(expr("sum(v) div count(1)").as("gmean"))
    val r = p
      .join(broadcast(d.select(col("event_type"), col("dow"), col("dmean"))),
        Seq("event_type", "dow"))
      .join(broadcast(g), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(
        sum((col("v") - col("gmean")) * (col("v") - col("gmean"))).as("sst"),
        sum((col("v") - col("dmean")) * (col("v") - col("dmean"))).as("ssw"))
    d.join(broadcast(r), Seq("event_type"))
      .select(col("event_type"), col("dow"), col("n"),
        col("dmean").as("mean_milli"),
        // the FLOORED dow-means can push ssw above sst on
        // near-constant groups, and on a negative numerator Spark's
        // div (truncate toward 0) and DuckDB's // (floor) disagree —
        // both land <= 0 though, so the greatest(0, ...) clamp makes
        // the engines agree AND pins R^2 to its [0, 1e6] domain
        // if(sst = 0, …): a constant-valued corpus zeroes the total
        // sum of squares and ANSI div throws — the degenerate-corpus
        // probe caught it. Both engines land at greatest(0, NULL) = 0
        // (DuckDB's // by zero is natively NULL, so the oracle text
        // already agrees)
        expr("greatest(0, if(sst = 0, null, (1000000 * (sst - ssw)) div sst))")
          .as("r2_ppm"))
      .orderBy("event_type", "dow")
  }

  /** q137 — transition dwell times: for every (src → dst) event-type
    * transition (q109's edges), the exact quartiles of the time spent
    * in src before moving on — "how long do users stare at the
    * pricing page before buying". Gap extraction is q109's single
    * user_id shuffle; the percentile aggregate then runs over the
    * bounded (src, dst) matrix with exact interpolation (the q17
    * contract keeps both engines bit-identical on the doubles). */
  val q137DwellTimes: QueryDef = QueryDef(
    "q137_dwell_times",
    """WITH o AS (
      |  SELECT user_id, event_type AS src, epoch_us(ts) AS us, event_id,
      |    lead(event_type) OVER w AS dst,
      |    lead(epoch_us(ts)) OVER w - epoch_us(ts) AS gap_us
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      |SELECT src, dst, CAST(count(*) AS BIGINT) AS n,
      |  quantile_cont(gap_us, 0.25) AS p25_us,
      |  quantile_cont(gap_us, 0.5) AS p50_us,
      |  quantile_cont(gap_us, 0.75) AS p75_us
      |FROM o WHERE dst IS NOT NULL
      |GROUP BY src, dst ORDER BY src, dst""".stripMargin) { (s, dir) =>
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    Tables.events(s, dir)
      .select(col("user_id"), col("event_type").as("src"),
        unix_micros(col("ts")).as("us"), col("event_id"))
      .withColumn("dst", lead(col("src"), 1).over(w))
      .withColumn("gap_us", lead(col("us"), 1).over(w) - col("us"))
      .filter(col("dst").isNotNull)
      // weighted percentile over (src, dst, gap) counts — the q17
      // contract: the bounded type×type matrix would otherwise buffer
      // every gap in one aggregation state per cell
      .groupBy(col("src"), col("dst"), col("gap_us"))
      .agg(count(lit(1)).as("gn"))
      .groupBy(col("src"), col("dst"))
      .agg(expr("CAST(sum(gn) AS BIGINT)").as("n"),
        expr("percentile(gap_us, 0.25D, gn)").as("p25_us"),
        expr("percentile(gap_us, 0.5D, gn)").as("p50_us"),
        expr("percentile(gap_us, 0.75D, gn)").as("p75_us"))
      .orderBy("src", "dst")
  }

  /** q138 — peak concurrency per day: the maximum number of
    * simultaneously-open sessions (q51's 30-minute-gap intervals) at
    * any instant of each calendar day — capacity planning's first
    * number. The classic sweep: +1 at session start, −1 after end,
    * running-sum max. Ties resolve deterministically: at an equal
    * timestamp all starts apply before any end (+1 sorts before −1),
    * so touching sessions count as overlapping.
    *
    * Scale design: sessions reduce to ≤ 2 boundary events each,
    * exploded over spanned days with day-clipped carry (the q125
    * bucketing), and the per-day sweep is a [[ScaleRank]] two-level
    * running sum — a day of a 100 TB log has billions of boundaries,
    * so even a day-partitioned WINDOW would be a single-task sort;
    * here every task holds one range chunk. Day-start carry-in is
    * counted by the open-interval rows a session contributes to every
    * day it spans. */
  val q138PeakConcurrency: QueryDef = QueryDef(
    "q138_peak_concurrency",
    s"""WITH $sessionIntervalsSql,
       |sd AS (
       |  SELECT s_us, e_us, CAST(day AS BIGINT) AS day
       |  FROM iv, unnest(range(s_us // 86400000000, e_us // 86400000000 + 1)) AS r(day)),
       |ev2 AS (
       |  SELECT day, greatest(s_us, day * 86400000000) AS us, CAST(1 AS BIGINT) AS delta FROM sd
       |  UNION ALL
       |  SELECT day, least(e_us, (day + 1) * 86400000000 - 1) AS us, CAST(-1 AS BIGINT) AS delta FROM sd),
       |run AS (
       |  SELECT day, CAST(sum(delta) OVER (PARTITION BY day ORDER BY us, delta DESC
       |                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cur
       |  FROM ev2)
       |SELECT DATE '1970-01-01' + CAST(day AS INT) AS d,
       |  CAST(max(cur) AS BIGINT) AS peak
       |FROM run GROUP BY day ORDER BY d""".stripMargin) { (s, dir) =>
    val iv = sessionIntervals(Tables.events(s, dir))
    val sd = iv.select(col("s_us"), col("e_us"),
      explode(sequence(expr("s_us div 86400000000"),
        expr("e_us div 86400000000"))).as("day"))
    val ev2 = sd.select(col("day"),
        greatest(col("s_us"), col("day") * 86400000000L).as("us"),
        lit(1L).as("delta"))
      .unionByName(sd.select(col("day"),
        least(col("e_us"), (col("day") + 1) * 86400000000L - 1).as("us"),
        lit(-1L).as("delta")))
    // the sweep is a per-DAY prefix sum — a window would sort a whole
    // day's boundaries in one task at scale, so it rides the two-level
    // running sum instead; max(cur) is invariant to intra-tie order,
    // the same contract the window form relied on
    ScaleRank.withRunningSum(ev2, Seq("day"),
        Seq(col("us"), col("delta").desc), col("delta"), "cur")
      .groupBy(col("day")).agg(max(col("cur")).as("peak"))
      .select(date_add(lit("1970-01-01").cast("date"), col("day").cast("int")).as("d"),
        col("peak"))
      .orderBy("d")
  }

  /** q142 — attribution model comparison: each purchase's value
    * allocated to the user's FIRST preceding non-purchase touch
    * (first-touch) and to the MOST RECENT one (last-touch), reported
    * side by side per touch type — the marketing-analytics A/B that
    * decides budget, in one pass.
    *
    * The touch lookups are running min/max over a PACKED key
    * (micros·4 + type id) in the strictly-preceding frame — packing
    * sidesteps IGNORE NULLS portability (aggregate min/max skip the
    * nulls the purchase rows leave) and makes equal-timestamp ties
    * deterministic (largest type id wins the max, smallest the min).
    * One shuffle on user_id; both windows share the sort. */
  val q142Attribution: QueryDef = QueryDef(
    "q142_attribution",
    """WITH e AS (
      |  SELECT user_id, ts, event_id, event_type,
      |    CAST(floor(value * 1000) AS BIGINT) AS v_m,
      |    CASE event_type WHEN 'click' THEN 0 WHEN 'error' THEN 1
      |                    WHEN 'signup' THEN 2 WHEN 'view' THEN 3 END AS tid,
      |    epoch_us(ts) AS us
      |  FROM events),
      |w AS (
      |  SELECT user_id, event_type, v_m,
      |    min(CASE WHEN tid IS NOT NULL THEN us * 4 + tid END)
      |      OVER (PARTITION BY user_id ORDER BY us, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS ft_packed,
      |    max(CASE WHEN tid IS NOT NULL THEN us * 4 + tid END)
      |      OVER (PARTITION BY user_id ORDER BY us, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lt_packed
      |  FROM e),
      |pur AS (
      |  SELECT v_m,
      |    CASE CAST(ft_packed % 4 AS INT) WHEN 0 THEN 'click' WHEN 1 THEN 'error'
      |         WHEN 2 THEN 'signup' WHEN 3 THEN 'view' ELSE '(none)' END AS ft_type,
      |    CASE CAST(lt_packed % 4 AS INT) WHEN 0 THEN 'click' WHEN 1 THEN 'error'
      |         WHEN 2 THEN 'signup' WHEN 3 THEN 'view' ELSE '(none)' END AS lt_type
      |  FROM w WHERE event_type = 'purchase'),
      |ft AS (SELECT ft_type AS touch, CAST(count(*) AS BIGINT) AS n_ft,
      |         CAST(sum(v_m) AS BIGINT) AS rev_ft_milli FROM pur GROUP BY 1),
      |lt AS (SELECT lt_type AS touch, CAST(count(*) AS BIGINT) AS n_lt,
      |         CAST(sum(v_m) AS BIGINT) AS rev_lt_milli FROM pur GROUP BY 1)
      |SELECT coalesce(ft.touch, lt.touch) AS touch,
      |  coalesce(n_ft, 0) AS n_ft, coalesce(rev_ft_milli, 0) AS rev_ft_milli,
      |  coalesce(n_lt, 0) AS n_lt, coalesce(rev_lt_milli, 0) AS rev_lt_milli
      |FROM ft FULL OUTER JOIN lt ON ft.touch = lt.touch
      |ORDER BY touch""".stripMargin) { (s, dir) =>
    val tid = expr("CASE event_type WHEN 'click' THEN 0 WHEN 'error' THEN 1 " +
      "WHEN 'signup' THEN 2 WHEN 'view' THEN 3 END")
    val decode = (c: String) => expr(s"CASE CAST($c % 4 AS INT) " +
      "WHEN 0 THEN 'click' WHEN 1 THEN 'error' WHEN 2 THEN 'signup' " +
      "WHEN 3 THEN 'view' ELSE '(none)' END")
    val frame = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val packed = when(col("tid").isNotNull, col("us") * 4 + col("tid"))
    val pur = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        floor(col("value") * 1000).cast("bigint").as("v_m"),
        tid.as("tid"), unix_micros(col("ts")).as("us"))
      .withColumn("ft_packed", min(packed).over(frame))
      .withColumn("lt_packed", max(packed).over(frame))
      .filter(col("event_type") === "purchase")
      .select(col("v_m"), decode("ft_packed").as("ft_type"),
        decode("lt_packed").as("lt_type"))
    val ft = pur.groupBy(col("ft_type").as("touch"))
      .agg(count(lit(1)).as("n_ft"), sum(col("v_m")).as("rev_ft_milli"))
    val lt = pur.groupBy(col("lt_type").as("touch"))
      .agg(count(lit(1)).as("n_lt"), sum(col("v_m")).as("rev_lt_milli"))
    ft.join(lt, Seq("touch"), "full_outer")
      .select(col("touch"),
        coalesce(col("n_ft"), lit(0L)).as("n_ft"),
        coalesce(col("rev_ft_milli"), lit(0L)).as("rev_ft_milli"),
        coalesce(col("n_lt"), lit(0L)).as("n_lt"),
        coalesce(col("rev_lt_milli"), lit(0L)).as("rev_lt_milli"))
      .orderBy("touch")
  }

  /** q156 — OHLC candlestick bars: per (event_type, 15-minute bucket)
    * the open/high/low/close value plus volume and trade count — the
    * canonical market-data resample, where open/close are ARG-min/max
    * by time (not plain min/max) and so need an order-aware aggregate.
    *
    * Exactness: values in milli-units (`floor(value*1000)`, the q114
    * contract) so every output is int64; open/close are selected by
    * the total order (t_us, event_id) — event_id is unique, so the
    * bar is deterministic even with simultaneous micro-timestamps.
    *
    * Scale design (100 TB): both row_number windows and the final
    * aggregate share ONE partitioning on (event_type, bucket) — a
    * single Exchange; the window partition key's cardinality GROWS
    * with the data (one partition per symbol×15 min), and rows per
    * partition are bounded by the per-symbol event rate × 15 min, so
    * unlike a bounded-key window this never degenerates to one task.
    * Volume headroom: |v_m| ≤ 5·10⁸ × rows-per-bar — int64 overflows
    * only past ~1.8·10¹⁰ events per symbol-quarter-hour (13 M/s
    * sustained on one symbol), far beyond the generator's domain. */
  val q156OhlcBars: QueryDef = QueryDef(
    "q156_ohlc_bars",
    """WITH e AS (
      |  SELECT event_type, epoch_us(ts) // 900000000 AS bkt,
      |    CAST(floor(value * 1000) AS BIGINT) AS v_m,
      |    epoch_us(ts) AS t_us, event_id
      |  FROM events),
      |w AS (
      |  SELECT event_type, bkt, v_m,
      |    row_number() OVER (PARTITION BY event_type, bkt ORDER BY t_us, event_id) AS rn_a,
      |    row_number() OVER (PARTITION BY event_type, bkt ORDER BY t_us DESC, event_id DESC) AS rn_d
      |  FROM e)
      |SELECT event_type, bkt,
      |  max(CASE WHEN rn_a = 1 THEN v_m END) AS open_m,
      |  max(v_m) AS high_m, min(v_m) AS low_m,
      |  max(CASE WHEN rn_d = 1 THEN v_m END) AS close_m,
      |  CAST(sum(v_m) AS BIGINT) AS vol_m,
      |  CAST(count(*) AS BIGINT) AS n_trades
      |FROM w GROUP BY event_type, bkt
      |ORDER BY event_type, bkt""".stripMargin) { (s, dir) =>
    val byBar = Window.partitionBy(col("event_type"), col("bkt"))
    val e = Tables.events(s, dir)
      .select(col("event_type"),
        expr("unix_micros(ts) div 900000000").as("bkt"),
        floor(col("value") * 1000).cast("bigint").as("v_m"),
        unix_micros(col("ts")).as("t_us"), col("event_id"))
      .withColumn("rn_a", row_number().over(
        byBar.orderBy(col("t_us"), col("event_id"))))
      .withColumn("rn_d", row_number().over(
        byBar.orderBy(col("t_us").desc, col("event_id").desc)))
    e.groupBy(col("event_type"), col("bkt"))
      .agg(
        max(when(col("rn_a") === 1, col("v_m"))).as("open_m"),
        max(col("v_m")).as("high_m"),
        min(col("v_m")).as("low_m"),
        max(when(col("rn_d") === 1, col("v_m"))).as("close_m"),
        sum(col("v_m")).as("vol_m"),
        count(lit(1)).as("n_trades"))
      .orderBy(col("event_type"), col("bkt"))
  }

  /** q157 — cohort LTV matrix: users are cohorted by the ISO week of
    * their FIRST event, and every purchase is attributed to the cell
    * (cohort_week, weeks-since-cohort), giving the classic triangular
    * lifetime-value table that retention (q48, a count matrix) does
    * not provide: how much revenue each signup cohort generates as it
    * ages. (Week grain because the generator's event horizon is ~30
    * days; the production grain is a parameter, not a plan change.)
    *
    * Exactness: revenue in milli-units (q114 contract), week age as
    * pure integer arithmetic — day-diff of two Monday-truncated dates
    * is an exact multiple of 7 in both engines, no interval floats.
    *
    * Scale design (100 TB): the cohort assignment is a per-user min
    * — partial-aggregable, one shuffle on user_id — and the join
    * back to events reuses that same user_id partitioning (no second
    * Exchange on the probe side's key). The final matrix groupBy is
    * partial-aggregable with a (weeks × weeks) output, so the reduce
    * side is tiny at any scale. */
  val q157CohortLtv: QueryDef = QueryDef(
    "q157_cohort_ltv",
    """WITH fst AS (
      |  SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_w
      |  FROM events GROUP BY user_id),
      |pur AS (
      |  SELECT e.user_id, f.cohort_w,
      |    datediff('day', f.cohort_w, CAST(date_trunc('week', e.ts) AS DATE)) // 7 AS age_w,
      |    CAST(floor(e.value * 1000) AS BIGINT) AS v_m
      |  FROM events e JOIN fst f ON e.user_id = f.user_id
      |  WHERE e.event_type = 'purchase')
      |SELECT cohort_w AS cohort_week, age_w,
      |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_buyers,
      |  CAST(count(*) AS BIGINT) AS n_purchases,
      |  CAST(sum(v_m) AS BIGINT) AS rev_milli
      |FROM pur GROUP BY cohort_w, age_w
      |ORDER BY cohort_week, age_w""".stripMargin) { (s, dir) =>
    val ev = Tables.events(s, dir)
    val fst = ev.groupBy(col("user_id"))
      .agg(date_trunc("week", min(col("ts"))).cast("date").as("cohort_w"))
    ev.filter(col("event_type") === "purchase")
      .join(fst, Seq("user_id"))
      .select(col("user_id"), col("cohort_w"),
        // DuckDB datediff is BIGINT; div 7 exact (and non-negative) on
        // Monday-truncated dates, so div ≡ DuckDB //
        expr("cast(datediff(cast(date_trunc('week', ts) as date), cohort_w) as bigint) div 7")
          .as("age_w"),
        floor(col("value") * 1000).cast("bigint").as("v_m"))
      .groupBy(col("cohort_w"), col("age_w"))
      .agg(countDistinct(col("user_id")).as("n_buyers"),
        count(lit(1)).as("n_purchases"),
        sum(col("v_m")).as("rev_milli"))
      .select(col("cohort_w").as("cohort_week"),
        col("age_w"), col("n_buyers"), col("n_purchases"), col("rev_milli"))
      .orderBy(col("cohort_week"), col("age_w"))
  }

  /** q163 — autocorrelation function (ACF) of the daily revenue
    * series at calendar lags 1–7: Pearson r between (revenueₜ,
    * revenueₜ₊ₗ) over every day pair whose both endpoints exist — the
    * standard "is there weekly periodicity / day-to-day persistence"
    * diagnostic that q134's day-of-week decomposition assumes rather
    * than measures. Missing calendar days simply contribute no pair
    * (lag is by DATE, not by row offset, so the series needs no gap
    * fill).
    *
    * Exactness: daily revenue in exact cents (the q01 decimal-first
    * contract); per-lag moments n, Σx, Σy int64 and Σxy, Σx², Σy² in
    * DECIMAL(38)/HUGEINT (the q154 contract — order-free, exact);
    * the Pearson ratio is ONE IEEE chain
    * floor(1e6·num / (√d1·√d2)) with identical association in both
    * engines, and degenerate lags (zero variance on either margin)
    * are pinned to NULL before any float math can produce NaN.
    *
    * Scale design (100 TB): the fact scan collapses to the day axis
    * first (partial-aggregable groupBy on o_orderdate — the ONLY
    * fact-sized exchange); everything after runs on ≤ |days| rows:
    * the 7-lag expansion is a projection (explode of a 7-literal
    * array), the self-join is day-axis × 7, and the final aggregate
    * outputs 7 rows. A century of days is ~37k rows — driver-trivial
    * at any corpus scale. */
  val q163Acf: QueryDef = QueryDef(
    "q163_acf",
    s"""WITH ${DayAxis.revCentsSql("x")},
       |p AS (
       |  SELECT l.lag, a.x AS xa, b.x AS xb
       |  FROM daily a
       |  CROSS JOIN unnest([1,2,3,4,5,6,7]) AS l(lag)
       |  JOIN daily b ON b.d = a.d + CAST(l.lag AS INTEGER)),
       |m AS (
       |  SELECT lag, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(xa) AS BIGINT) AS sx, CAST(sum(xb) AS BIGINT) AS sy,
       |    sum(CAST(xa AS HUGEINT) * xb) AS sxy,
       |    sum(CAST(xa AS HUGEINT) * xa) AS sxx,
       |    sum(CAST(xb AS HUGEINT) * xb) AS syy
       |  FROM p GROUP BY lag)
       |SELECT CAST(lag AS BIGINT) AS lag, n AS n_pairs,
       |  CASE WHEN n * sxx - CAST(sx AS HUGEINT) * sx > 0
       |        AND n * syy - CAST(sy AS HUGEINT) * sy > 0
       |   THEN CAST(floor(1000000.0 *
       |     CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE) /
       |     (sqrt(CAST(n * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)) *
       |      sqrt(CAST(n * syy - CAST(sy AS HUGEINT) * sy AS DOUBLE)))) AS BIGINT)
       |   END AS acf_ppm
       |FROM m ORDER BY lag""".stripMargin) { (s, dir) =>
    val daily = DayAxis.revCents(s, dir)
      .select(col("d"), col("rev").as("x"))
    val lagged = daily
      .withColumn("lag", explode(array((1 to 7).map(lit(_)): _*)))
      .withColumn("d2", date_add(col("d"), col("lag")))
      .select(col("lag"), col("d2"), col("x").as("xa"))
    val p = lagged.join(
      daily.select(col("d").as("d2"), col("x").as("xb")), Seq("d2"))
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    val m = p.groupBy(col("lag"))
      .agg(count(lit(1)).as("n"),
        sum(col("xa")).as("sx"), sum(col("xb")).as("sy"),
        sum(dec(col("xa")) * dec(col("xb"))).as("sxy"),
        sum(dec(col("xa")) * dec(col("xa"))).as("sxx"),
        sum(dec(col("xb")) * dec(col("xb"))).as("syy"))
    val d1 = dec(col("n")) * col("sxx") - dec(col("sx")) * dec(col("sx"))
    val d2 = dec(col("n")) * col("syy") - dec(col("sy")) * dec(col("sy"))
    val num = dec(col("n")) * col("sxy") - dec(col("sx")) * dec(col("sy"))
    m.select(col("lag").cast("bigint").as("lag"), col("n").as("n_pairs"),
        when(d1 > 0 && d2 > 0,
          floor(lit(1000000.0) * num.cast("double") /
            (sqrt(d1.cast("double")) * sqrt(d2.cast("double"))))
            .cast("long")).as("acf_ppm"))
      .orderBy("lag")
  }

  /** q164 — Kaplan–Meier survival curve for purchase churn: per
    * lifetime day t, the at-risk count, observed churns, right-
    * censorings, and the product-limit survival estimate
    * S(t) = Π_{s≤t} (1 − dₛ/nₛ). The study cohort is users with ≥1
    * purchase, entering at their FIRST purchase; a user churns at
    * lifetime (last − first purchase) day if purchase-silent for ≥ 7
    * days before the observation horizon (the global max event date);
    * otherwise they are censored at (horizon − first purchase) — the
    * standard right-censoring treatment retention curves (q48)
    * ignore, and the purchase stream (not raw activity) is what makes
    * churn observable before the horizon.
    *
    * Exactness: lifetimes are integer day diffs; the KM product is an
    * INTEGER recurrence s ← (s · (n − d)) div n in ppm — truncating
    * division on non-negative operands matches DuckDB's `//`, so the
    * curve is bit-identical with no float chain at all. Headroom:
    * s ≤ 10⁶ and n ≤ users, so s·(n−d) < 2⁶³ up to ~9·10¹² users.
    *
    * Scale design (100 TB): the fact scan collapses to one row per
    * user (partial-aggregable min/max on user_id — the only fact
    * exchange); the horizon is a broadcast 1-row aggregate. The KM
    * recurrence is inherently sequential, but it runs over the
    * LIFETIME-DAY axis — bounded by the observation window's length,
    * independent of corpus size — as one q126-style ordered scan in a
    * single task over ≤ |days| pre-aggregated rows; the at-risk total
    * rides in as a broadcast column, so no driver collect anywhere. */
  val q164Survival: QueryDef = QueryDef(
    "q164_survival",
    """WITH RECURSIVE u AS (
      |  SELECT user_id, min(CAST(ts AS DATE)) AS d0, max(CAST(ts AS DATE)) AS d1
      |  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
      |h AS (SELECT max(CAST(ts AS DATE)) AS hz FROM events),
      |lc AS (
      |  SELECT CASE WHEN date_diff('day', d1, hz) >= 7
      |           THEN date_diff('day', d0, d1)
      |           ELSE date_diff('day', d0, hz) END AS t,
      |    CASE WHEN date_diff('day', d1, hz) >= 7 THEN 1 ELSE 0 END AS churn
      |  FROM u, h),
      |agg AS (
      |  SELECT CAST(t AS BIGINT) AS t, CAST(sum(churn) AS BIGINT) AS n_churn,
      |    CAST(sum(1 - churn) AS BIGINT) AS n_cens
      |  FROM lc GROUP BY t),
      |ord AS (SELECT t, n_churn, n_cens,
      |    CAST(row_number() OVER (ORDER BY t) AS BIGINT) AS rn FROM agg),
      |km AS (
      |  SELECT rn, t, (SELECT CAST(count(*) AS BIGINT) FROM lc) AS n_risk,
      |    n_churn, n_cens,
      |    (1000000 * ((SELECT CAST(count(*) AS BIGINT) FROM lc) - n_churn))
      |      // (SELECT CAST(count(*) AS BIGINT) FROM lc) AS surv
      |  FROM ord WHERE rn = 1
      |  UNION ALL
      |  SELECT o.rn, o.t, k.n_risk - k.n_churn - k.n_cens,
      |    o.n_churn, o.n_cens,
      |    (k.surv * (k.n_risk - k.n_churn - k.n_cens - o.n_churn))
      |      // (k.n_risk - k.n_churn - k.n_cens)
      |  FROM km k JOIN ord o ON o.rn = k.rn + 1)
      |SELECT t, n_risk, n_churn, n_cens, surv AS surv_ppm
      |FROM km ORDER BY t""".stripMargin) { (s, dir) =>
    import s.implicits._
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("ts").cast("date").as("d"))
    val u = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(min(col("d")).as("d0"), max(col("d")).as("d1"))
    val h = ev.agg(max(col("d")).as("hz"))
    val churned = datediff(col("hz"), col("d1")) >= 7
    val lc = u.crossJoin(broadcast(h)).select(
      when(churned, datediff(col("d1"), col("d0")))
        .otherwise(datediff(col("hz"), col("d0"))).cast("long").as("t"),
      when(churned, 1L).otherwise(0L).as("churn"))
    val agg = lc.groupBy(col("t"))
      .agg(sum(col("churn")).as("n_churn"),
        sum(lit(1L) - col("churn")).as("n_cens"))
    val total = lc.agg(count(lit(1)).as("n_total"))
    agg.crossJoin(broadcast(total))
      .repartition(1).sortWithinPartitions("t")
      .as[(Long, Long, Long, Long)]
      .mapPartitions { it =>
        var risk = -1L; var surv = 1000000L
        it.map { case (t, d, c, nTotal) =>
          if (risk < 0) risk = nTotal
          surv = surv * (risk - d) / risk // non-negative: ≡ DuckDB //
          val row = (t, risk, d, c, surv)
          risk -= d + c
          row
        }
      }
      .toDF("t", "n_risk", "n_churn", "n_cens", "surv_ppm")
      .orderBy("t")
  }

  /** q165 — A/B experiment readout: users are deterministically
    * hash-assigned to two arms (the q101 md5-bucket contract — the
    * assignment is reproducible from the data alone, exactly how
    * production experiment frameworks derive stable buckets), and for
    * every event type the per-arm user-conversion rates are compared
    * with the two-proportion pooled z-statistic — the significance
    * primitive behind every experimentation dashboard.
    *
    * Exactness: counts are integers; conversion rates are integer ppm
    * floor-divs; the z-statistic is ONE mirrored IEEE chain (double
    * divisions of exact <2⁵³ integers, one sqrt, one floor — every
    * step correctly rounded, so bit-identical across engines), with
    * degenerate pools (0% or 100% pooled conversion — a zero
    * denominator) pinned to NULL before any float math. z is SIGNED:
    * floor (not truncation) applies on both sides, which the engines
    * also agree on.
    *
    * Scale design (100 TB): conversion is per-USER, so the fact
    * stream collapses to distinct (event_type, user, arm) rows first
    * (partial-aggregable distinct on the one fact exchange); arm
    * sizes are a users-sized aggregate broadcast into the bounded
    * per-type result (|event types| rows). */
  val q165AbTest: QueryDef = {
    val z =
      """CASE WHEN conv_a + conv_b > 0 AND conv_a + conv_b < n_a + n_b
        | THEN CAST(floor(1000.0 * (
        |   (CAST(conv_a AS DOUBLE) / n_a - CAST(conv_b AS DOUBLE) / n_b) /
        |   sqrt((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b)) *
        |        (1.0 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b)) *
        |        (1.0 / n_a + 1.0 / n_b)))) AS BIGINT)
        | END""".stripMargin.replace("\n", " ").replaceAll(" +", " ")
    QueryDef(
      "q165_ab_test",
      s"""WITH arm AS (
         |  SELECT DISTINCT user_id,
         |    ('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 4))::INT % 2 AS arm
         |  FROM events),
         |sz AS (
         |  SELECT CAST(count(CASE WHEN arm = 0 THEN 1 END) AS BIGINT) AS n_a,
         |    CAST(count(CASE WHEN arm = 1 THEN 1 END) AS BIGINT) AS n_b
         |  FROM arm),
         |conv AS (
         |  SELECT e.event_type, a.arm, CAST(count(DISTINCT e.user_id) AS BIGINT) AS c
         |  FROM events e JOIN arm a USING (user_id)
         |  GROUP BY 1, 2),
         |m AS (
         |  SELECT event_type,
         |    CAST(coalesce(sum(CASE WHEN arm = 0 THEN c END), 0) AS BIGINT) AS conv_a,
         |    CAST(coalesce(sum(CASE WHEN arm = 1 THEN c END), 0) AS BIGINT) AS conv_b
         |  FROM conv GROUP BY event_type)
         |SELECT event_type, n_a, n_b, conv_a, conv_b,
         |  (1000000 * conv_a) // n_a AS rate_a_ppm,
         |  (1000000 * conv_b) // n_b AS rate_b_ppm,
         |  $z AS z_milli
         |FROM m, sz ORDER BY event_type""".stripMargin) { (s, dir) =>
      val ev = Tables.events(s, dir)
      val armCol = pmod(
        conv(substring(md5(col("user_id").cast("string")), 1, 4), 16, 10)
          .cast("int"), lit(2))
      val arm = ev.select(col("user_id")).distinct()
        .select(col("user_id"), armCol.as("arm"))
      val sz = broadcast(arm.agg(
        count(when(col("arm") === 0, 1)).as("n_a"),
        count(when(col("arm") === 1, 1)).as("n_b")))
      val m = ev.select(col("event_type"), col("user_id")).distinct()
        .join(arm, Seq("user_id"))
        .groupBy(col("event_type"))
        .agg(
          count(when(col("arm") === 0, 1)).as("conv_a"),
          count(when(col("arm") === 1, 1)).as("conv_b"))
      m.crossJoin(sz)
        .select(col("event_type"), col("n_a"), col("n_b"),
          col("conv_a"), col("conv_b"),
          expr("(1000000 * conv_a) div n_a").as("rate_a_ppm"),
          expr("(1000000 * conv_b) div n_b").as("rate_b_ppm"),
          expr(z.replace("::INT", "").replace("//", "div")).as("z_milli"))
        .orderBy("event_type")
    }
  }

  /** q178 — CUSUM changepoint detection on the daily-revenue series:
    * the classic "did the level shift?" monitor. The one-sided CUSUM
    * recursion S_t = max(0, S_{t-1} + x_t − μ − k) unrolls to the
    * closed form S_t = P_t − min_{j≤t} P_j over prefix sums P of the
    * drift-adjusted series — a prefix-sum + running-min, NOT an
    * iterative plan. Reported: every day with its CUSUM level and an
    * alarm flag once S crosses h (μ = global mean, allowance
    * k = μ/20, threshold h = μ/2 — all derived from the data, no
    * tuned constants).
    *
    * Exactness: daily revenue in exact cents (q01 contract); μ, k, h
    * are floor-divs of non-negative sums; P, running min, S are all
    * int64 sums/mins — no float anywhere.
    *
    * Scale design (100 TB): the fact scan collapses to the day axis
    * first (the ONLY fact-sized exchange, q163's discipline);
    * the prefix/min windows run on ≤|days| rows — a century is ~37k
    * rows, driver-trivial at any corpus scale (same bounded-axis
    * argument as q163/q164, documented there). */
  val q178Cusum: QueryDef = QueryDef(
    "q178_cusum",
    s"""WITH ${DayAxis.revCentsSql("x")},
       |mu AS (
       |  SELECT CAST(sum(x) AS BIGINT) // count(*) AS mu,
       |    (CAST(sum(x) AS BIGINT) // count(*)) // 20 AS k,
       |    (CAST(sum(x) AS BIGINT) // count(*)) // 2 AS h
       |  FROM daily),
       |p AS (
       |  SELECT d, x,
       |    CAST(sum(x - mu.mu - mu.k) OVER (ORDER BY d
       |         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS pf,
       |    mu.h AS h
       |  FROM daily, mu),
       |s AS (
       |  SELECT d, x, h,
       |    pf - least(0, min(pf) OVER (ORDER BY d
       |                ROWS UNBOUNDED PRECEDING)) AS cusum
       |  FROM p)
       |SELECT d, x AS revenue_cents, cusum AS cusum_cents,
       |  CAST(CASE WHEN cusum > h THEN 1 ELSE 0 END AS BIGINT) AS alarm
       |FROM s ORDER BY d""".stripMargin) { (s, dir) =>
    val daily = DayAxis.revCents(s, dir)
      .select(col("d"), col("rev").as("x"))
    val mu = daily.agg(sum(col("x")).as("sx"), count(lit(1)).as("n"))
      .select(expr("sx div n").as("mu"),
        expr("(sx div n) div 20").as("k"),
        expr("(sx div n) div 2").as("h"))
    val w = Window.orderBy(col("d")).rowsBetween(Window.unboundedPreceding, 0)
    daily.crossJoin(broadcast(mu))
      .withColumn("pf", sum(col("x") - col("mu") - col("k")).over(w))
      // the empty prefix P_0 = 0 participates in the min: S_1 must be
      // max(0, y_1), not 0
      .withColumn("cusum",
        col("pf") - least(lit(0L), min(col("pf")).over(w)))
      .select(col("d"), col("x").as("revenue_cents"),
        col("cusum").as("cusum_cents"),
        when(col("cusum") > col("h"), 1L).otherwise(0L).as("alarm"))
      .orderBy("d")
  }

  /** q183 — funnel conversion rates with Wilson score intervals: for
    * each q57 stage transition (signup→click, click→purchase), the
    * point conversion in exact ppm plus the 95% Wilson interval — the
    * small-sample-safe CI that stays inside [0,1] where the normal
    * interval escapes it. The "is stage 2 really worse this week or
    * is it noise?" readout a funnel dashboard needs next to q57's raw
    * counts.
    *
    * Exactness: stage counts are the q57 integer chain; conv_ppm is a
    * non-negative floor-div; the Wilson bounds are ONE IEEE chain per
    * bound over (n_from, n_to) with the z=1.96 constants written as
    * the same literals in both engines — identical association, bit
    * identical.
    *
    * Scale design (100 TB): the three stage frames are the q57
    * per-user min-aggregates (partial-aggregable, keyed on user_id);
    * the CI math runs on a 2-row frame. */
  val q183FunnelCi: QueryDef = QueryDef(
    "q183_funnel_ci",
    """WITH s AS (
      |  SELECT user_id, min(ts) AS signup_ts FROM events
      |  WHERE event_type = 'signup' GROUP BY user_id),
      |c AS (
      |  SELECT e.user_id, min(e.ts) AS click_ts, min(s.signup_ts) AS signup_ts
      |  FROM events e JOIN s ON e.user_id = s.user_id
      |  WHERE e.event_type = 'click' AND e.ts > s.signup_ts GROUP BY e.user_id),
      |p AS (
      |  SELECT e.user_id, min(e.ts) AS purchase_ts
      |  FROM events e JOIN c ON e.user_id = c.user_id
      |  WHERE e.event_type = 'purchase' AND e.ts > c.click_ts GROUP BY e.user_id),
      |k AS (
      |  SELECT 'signup_to_click' AS transition,
      |    (SELECT CAST(count(*) AS BIGINT) FROM s) AS nf,
      |    (SELECT CAST(count(*) AS BIGINT) FROM c) AS nt
      |  UNION ALL
      |  SELECT 'click_to_purchase',
      |    (SELECT CAST(count(*) AS BIGINT) FROM c),
      |    (SELECT CAST(count(*) AS BIGINT) FROM p))
      |SELECT transition, nf AS n_from, nt AS n_to,
      |  (1000000 * nt) // nf AS conv_ppm,
      |  CAST(floor(1000000.0 *
      |    ((CAST(nt AS DOUBLE) / CAST(nf AS DOUBLE) + 1.9208 / CAST(nf AS DOUBLE) -
      |      1.96 * sqrt(CAST(nt AS DOUBLE) / CAST(nf AS DOUBLE) *
      |        (1.0 - CAST(nt AS DOUBLE) / CAST(nf AS DOUBLE)) / CAST(nf AS DOUBLE) +
      |        0.9604 / (CAST(nf AS DOUBLE) * CAST(nf AS DOUBLE)))) /
      |     (1.0 + 3.8416 / CAST(nf AS DOUBLE)))) AS BIGINT) AS wilson_lo_ppm,
      |  CAST(floor(1000000.0 *
      |    ((CAST(nt AS DOUBLE) / CAST(nf AS DOUBLE) + 1.9208 / CAST(nf AS DOUBLE) +
      |      1.96 * sqrt(CAST(nt AS DOUBLE) / CAST(nf AS DOUBLE) *
      |        (1.0 - CAST(nt AS DOUBLE) / CAST(nf AS DOUBLE)) / CAST(nf AS DOUBLE) +
      |        0.9604 / (CAST(nf AS DOUBLE) * CAST(nf AS DOUBLE)))) /
      |     (1.0 + 3.8416 / CAST(nf AS DOUBLE)))) AS BIGINT) AS wilson_hi_ppm
      |FROM k ORDER BY transition""".stripMargin) { (s, dir) =>
    val ev = Tables.events(s, dir)
    val su = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("ts")).as("signup_ts"))
    val cl = ev.filter(col("event_type") === "click")
      .join(su, Seq("user_id"))
      .filter(col("ts") > col("signup_ts"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("click_ts"))
    val pu = ev.filter(col("event_type") === "purchase")
      .join(cl, Seq("user_id"))
      .filter(col("ts") > col("click_ts"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("purchase_ts"))
    val ns = su.agg(count(lit(1)).as("n")).select(col("n").as("n_s"))
    val nc = cl.agg(count(lit(1)).as("n")).select(col("n").as("n_c"))
    val np = pu.agg(count(lit(1)).as("n")).select(col("n").as("n_p"))
    val k = ns.crossJoin(nc).crossJoin(np)
      .select(expr("stack(2, 'signup_to_click', n_s, n_c," +
        " 'click_to_purchase', n_c, n_p) AS (transition, nf, nt)"))
    val nfD = col("nf").cast("double")
    val pD = col("nt").cast("double") / nullif(nfD, lit(0d))
    val half = lit(1.96) * sqrt(pD * (lit(1.0) - pD) / nullif(nfD, lit(0d)) +
      lit(0.9604) / nullif(nfD * nfD, lit(0d)))
    val denom = lit(1.0) + lit(3.8416) / nullif(nfD, lit(0d))
    k.select(col("transition"), col("nf").as("n_from"), col("nt").as("n_to"),
        expr("(1000000 * nt) div nf").as("conv_ppm"),
        floor(lit(1000000.0) *
          ((pD + lit(1.9208) / nullif(nfD, lit(0d)) - half) /
            nullif(denom, lit(0d))))
          .cast("bigint").as("wilson_lo_ppm"),
        floor(lit(1000000.0) *
          ((pD + lit(1.9208) / nullif(nfD, lit(0d)) + half) /
            nullif(denom, lit(0d))))
          .cast("bigint").as("wilson_hi_ppm"))
      .orderBy("transition")
  }

  /** q184 — seasonal-naive forecast error (MASE): score the naive
    * "same as yesterday" and seasonal-naive "same as last {week}day"
    * forecasts on the daily revenue series, and report the MASE ratio
    * (seasonal MAE over naive MAE) — the scale-free forecast
    * benchmark every real model must beat before it earns compute.
    * MASE < 1 ⇒ weekly structure carries real signal beyond
    * persistence (q163's ACF measures the correlation; this prices
    * it in forecast units).
    *
    * Exactness: errors are |cents − cents| int64 on calendar joins
    * (missing days contribute no pair — lag by DATE, not row); the
    * ratio cross-multiplies through DECIMAL(38)/HUGEINT so the output
    * ppm is an exact non-negative integer division, no float at all.
    *
    * Scale design (100 TB): fact scan collapses to the materialized
    * day axis once (q163's discipline); both lag joins and the final
    * 1-row aggregate run on ≤|days| rows. */
  val q184Mase: QueryDef = QueryDef(
    "q184_mase",
    s"""WITH ${DayAxis.revCentsSql("x")},
       |e1 AS (
       |  SELECT abs(a.x - b.x) AS e FROM daily a
       |  JOIN daily b ON b.d = a.d - 1),
       |e7 AS (
       |  SELECT abs(a.x - b.x) AS e FROM daily a
       |  JOIN daily b ON b.d = a.d - 7),
       |m AS (
       |  SELECT (SELECT CAST(count(*) AS BIGINT) FROM e1) AS n1,
       |    (SELECT CAST(sum(e) AS BIGINT) FROM e1) AS s1,
       |    (SELECT CAST(count(*) AS BIGINT) FROM e7) AS n7,
       |    (SELECT CAST(sum(e) AS BIGINT) FROM e7) AS s7)
       |SELECT n1, n7, s1 // n1 AS mae1_cents, s7 // n7 AS mae7_cents,
       |  CAST((1000000 * CAST(s7 AS HUGEINT) * n1) //
       |       (CAST(s1 AS HUGEINT) * n7) AS BIGINT) AS mase_ppm
       |FROM m""".stripMargin) { (s, dir) =>
    val daily = DayAxis.revCents(s, dir)
      .select(col("d"), col("rev").as("x"))
    def lagErr(days: Int): DataFrame = daily.as("a")
      .join(daily.as("b"), expr(s"b.d = a.d - $days"))
      .select(abs(col("a.x") - col("b.x")).as("e"))
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val m1 = lagErr(1).agg(count(lit(1)).as("n1"), sum(col("e")).as("s1"))
    val m7 = lagErr(7).agg(count(lit(1)).as("n7"), sum(col("e")).as("s7"))
    m1.crossJoin(m7)
      .select(col("n1"), col("n7"),
        expr("s1 div n1").as("mae1_cents"),
        expr("s7 div n7").as("mae7_cents"),
        // integral div, not decimal '/': Spark's decimal divide ROUNDS
        // the quotient at scale, which can disagree with //'s floor.
        // nullif: s1 = 0 on an all-zero-price corpus (naive MAE 0 —
        // MASE undefined); ANSI would throw where the oracle's //
        // natively NULLs (degenerate-corpus probe)
        expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * s7 * n1) div " +
          "nullif(CAST(s1 AS DECIMAL(38,0)) * n7, 0) AS BIGINT)")
          .as("mase_ppm"))
  }

  /** q196 — JSON schema-drift profile: the weekly presence footprint
    * of every key appearing in the `props` payload — per key, its
    * total event count, how many distinct weeks it appears in, its
    * first/last week, and whether it spans every week the feed has
    * (`full_coverage`). A key whose last_week stops short of the
    * feed's horizon just VANISHED from the producer's schema; one
    * whose first_week starts late was ADDED — the two drift events a
    * pipeline must catch before downstream extraction silently nulls.
    *
    * Both engines enumerate keys natively (`json_object_keys` /
    * `json_keys`); malformed JSON contributes no keys (the Spark
    * function nulls, mirrored by the oracle's json_valid guard —
    * DuckDB's json_keys would ERROR, the q86 lesson). Weeks are
    * ISO-Monday `date_trunc` in both engines.
    *
    * Scale design (100 TB): the exploded (key, week) stream collapses
    * to grain FIRST (partial-aggregable, key width is the JSON object
    * size, bounded per row), so the per-key rollup aggregates rows
    * bounded by |keys|×|weeks| — schema×calendar, not data; min/max/
    * sum all combine map-side, and the horizon count is a 1-row
    * broadcast. No windows, no count-distinct expansion over facts. */
  val q196SchemaDrift: QueryDef = QueryDef(
    "q196_schema_drift",
    """WITH kw AS (
      |  SELECT key, week, CAST(count(*) AS BIGINT) AS n
      |  FROM (
      |    SELECT unnest(CASE WHEN json_valid(props) THEN json_keys(props)
      |                       ELSE [] END) AS key,
      |      strftime(date_trunc('week', ts), '%Y-%m-%d') AS week
      |    FROM events)
      |  GROUP BY 1, 2),
      |horizon AS (
      |  SELECT CAST(count(DISTINCT date_trunc('week', ts)) AS BIGINT) AS total_weeks
      |  FROM events)
      |SELECT key, CAST(sum(n) AS BIGINT) AS n_events,
      |  CAST(count(*) AS BIGINT) AS n_weeks,
      |  min(week) AS first_week, max(week) AS last_week,
      |  count(*) = max(total_weeks) AS full_coverage
      |FROM kw CROSS JOIN horizon
      |GROUP BY key ORDER BY key""".stripMargin) { (s, dir) =>
    val ev = Tables.events(s, dir)
    val kw = ev
      .select(
        explode(coalesce(expr("json_object_keys(props)"),
          array())).as("key"),
        date_format(date_trunc("week", col("ts")), "yyyy-MM-dd").as("week"))
      .groupBy("key", "week")
      .agg(count(lit(1)).as("n"))
    val horizon = ev
      .agg(countDistinct(date_trunc("week", col("ts"))).as("total_weeks"))
    kw.crossJoin(broadcast(horizon))
      .groupBy("key")
      .agg(sum("n").as("n_events"), count(lit(1)).as("n_weeks"),
        min("week").as("first_week"), max("week").as("last_week"),
        (count(lit(1)) === max("total_weeks")).as("full_coverage"))
      .orderBy("key")
  }

  /** q199 — behavioral-entropy histogram: each user's event-type mix
    * collapses to one Shannon entropy (0 = monomaniac sessions, ln 5
    * ≈ 1.609 = perfectly mixed), and the population lands in fixed
    * 0.1-nat histogram bins — the engagement-diversity profile that
    * separates bots (entropy spikes at 0) from organic users (a hump
    * near the middle) without any per-user output.
    *
    * Exactness: per-(user, type) counts pivot into the five KNOWN
    * event-type columns (the q57 funnel's stable domain), so the
    * entropy sum is a LITERAL five-term left-associated IEEE chain —
    * identical association order in both engines, each term guarded
    * by a zero-count CASE (0·ln 0 := 0). The only float ops are that
    * chain and one final floor to milli-nats; binning and counting
    * are integer.
    *
    * Scale design (100 TB): (user, type) → user pivot is ONE
    * partial-aggregable pass (conditional sums, no pivot shuffle);
    * the entropy chain is per-row codegen; the histogram is a bounded
    * ≤17-bin aggregate. No windows, no joins, no per-user output —
    * driver-safe at any user cardinality. */
  val q199SessionEntropy: QueryDef = QueryDef(
    "q199_session_entropy",
    """WITH u AS (
      |  SELECT user_id,
      |    CAST(count(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT) AS c1,
      |    CAST(count(CASE WHEN event_type = 'error' THEN 1 END) AS BIGINT) AS c2,
      |    CAST(count(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS c3,
      |    CAST(count(CASE WHEN event_type = 'signup' THEN 1 END) AS BIGINT) AS c4,
      |    CAST(count(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT) AS c5,
      |    CAST(count(*) AS BIGINT) AS n
      |  FROM events GROUP BY user_id),
      |h AS (
      |  SELECT user_id,
      |    CAST(floor(-1000.0 * (
      |      (((CASE WHEN c1 > 0 THEN (CAST(c1 AS DOUBLE) / n) * ln(CAST(c1 AS DOUBLE) / n) ELSE 0.0 END
      |        + CASE WHEN c2 > 0 THEN (CAST(c2 AS DOUBLE) / n) * ln(CAST(c2 AS DOUBLE) / n) ELSE 0.0 END)
      |        + CASE WHEN c3 > 0 THEN (CAST(c3 AS DOUBLE) / n) * ln(CAST(c3 AS DOUBLE) / n) ELSE 0.0 END)
      |        + CASE WHEN c4 > 0 THEN (CAST(c4 AS DOUBLE) / n) * ln(CAST(c4 AS DOUBLE) / n) ELSE 0.0 END)
      |        + CASE WHEN c5 > 0 THEN (CAST(c5 AS DOUBLE) / n) * ln(CAST(c5 AS DOUBLE) / n) ELSE 0.0 END))
      |      AS BIGINT) AS h_milli
      |  FROM u)
      |SELECT h_milli // 100 AS bin,
      |  CAST(count(*) AS BIGINT) AS n_users,
      |  CAST(min(h_milli) AS BIGINT) AS min_milli,
      |  CAST(max(h_milli) AS BIGINT) AS max_milli
      |FROM h GROUP BY 1 ORDER BY bin""".stripMargin) { (s, dir) =>
    val u = Tables.events(s, dir)
      .groupBy("user_id")
      .agg(
        count(when(col("event_type") === "click", 1)).as("c1"),
        count(when(col("event_type") === "error", 1)).as("c2"),
        count(when(col("event_type") === "purchase", 1)).as("c3"),
        count(when(col("event_type") === "signup", 1)).as("c4"),
        count(when(col("event_type") === "view", 1)).as("c5"),
        count(lit(1)).as("n"))
    u.select(expr(
        """CAST(floor(-1000.0 * (
          |  (((CASE WHEN c1 > 0 THEN (CAST(c1 AS DOUBLE) / n) * ln(CAST(c1 AS DOUBLE) / n) ELSE 0.0d END
          |    + CASE WHEN c2 > 0 THEN (CAST(c2 AS DOUBLE) / n) * ln(CAST(c2 AS DOUBLE) / n) ELSE 0.0d END)
          |    + CASE WHEN c3 > 0 THEN (CAST(c3 AS DOUBLE) / n) * ln(CAST(c3 AS DOUBLE) / n) ELSE 0.0d END)
          |    + CASE WHEN c4 > 0 THEN (CAST(c4 AS DOUBLE) / n) * ln(CAST(c4 AS DOUBLE) / n) ELSE 0.0d END)
          |    + CASE WHEN c5 > 0 THEN (CAST(c5 AS DOUBLE) / n) * ln(CAST(c5 AS DOUBLE) / n) ELSE 0.0d END))
          |  AS BIGINT)""".stripMargin).as("h_milli"))
      .groupBy(expr("h_milli div 100").as("bin"))
      .agg(count(lit(1)).as("n_users"),
        min("h_milli").as("min_milli"), max("h_milli").as("max_milli"))
      .orderBy("bin")
  }

  /** q219 — SLO error-budget burn: daily error rate of the event feed
    * against a 2.5% error-rate SLO, the remaining monthly budget
    * after each day, and the day's burn-rate multiple — the SRE
    * error-budget arithmetic (burn rate > 1 means the month's budget
    * dies early) over the same events the z-score (q113) and CUSUM
    * (q178) monitors watch for shape changes.
    *
    * Exactness: rates and burn multiples are non-negative integer
    * ppm floor-divs over event counts; the cumulative budget spend
    * rides a running sum over the day axis. The budget floor is
    * clamped at zero with greatest() — both engines agree ≤ 0.
    *
    * Scale design (100 TB): one partial-aggregable pass to day
    * grain; the running window is calendar-bounded (the q193/q218
    * argument); output is one row per day. */
  val q219SloBurn: QueryDef = QueryDef(
    "q219_slo_burn",
    """WITH d AS (
      |  SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
      |    CAST(count(*) AS BIGINT) AS n,
      |    CAST(count(CASE WHEN event_type = 'error' THEN 1 END) AS BIGINT) AS errs
      |  FROM events GROUP BY 1),
      |r AS (
      |  SELECT day, n, errs,
      |    CAST((1000000 * errs) // n AS BIGINT) AS err_ppm,
      |    CAST(sum(errs) OVER (ORDER BY day) AS BIGINT) AS cum_errs,
      |    CAST(sum(n) OVER (ORDER BY day) AS BIGINT) AS cum_n
      |  FROM d)
      |SELECT day, n, errs, err_ppm,
      |  CAST((1000000 * errs * 40) // n AS BIGINT) AS burn_rate_ppm,
      |  CAST(greatest(0, 25000 - (1000000 * cum_errs) // cum_n) AS BIGINT)
      |    AS budget_left_ppm
      |FROM r ORDER BY day""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val d = Tables.events(s, dir)
      .groupBy(date_format(date_trunc("day", col("ts")), "yyyy-MM-dd")
        .as("day"))
      .agg(count(lit(1)).as("n"),
        count(when(col("event_type") === "error", 1)).as("errs"))
    val win = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    d.withColumn("cum_errs", sum(col("errs")).over(win))
      .withColumn("cum_n", sum(col("n")).over(win))
      .select(col("day"), col("n"), col("errs"),
        expr("(1000000 * errs) div n").as("err_ppm"),
        expr("(1000000 * errs * 40) div n").as("burn_rate_ppm"),
        expr("CAST(greatest(0, 25000 - (1000000 * cum_errs) div cum_n) AS BIGINT)")
          .as("budget_left_ppm"))
      .orderBy("day")
  }

  /** q220 — DAU/WAU/MAU stickiness: per day, the distinct active
    * users that day, over the trailing 7 days, and over the trailing
    * 30 days, plus the DAU/MAU stickiness ratio — the growth metric
    * every consumer product reports, computed exactly (no sketch)
    * by expanding each (day, user) activity pair into the trailing
    * windows it supports.
    *
    * Exactness: all distinct counts are exact on the (window-day,
    * user) grain; stickiness is a non-negative ppm floor-div.
    *
    * Scale design (100 TB): activity collapses to the (day, user)
    * grain FIRST (partial-aggregable; |pairs| ≪ |events|); each pair
    * then fans out to ≤ 30 + 7 + 1 window rows via a 37-element
    * literal explode (rows bounded by 38·|pairs|, never event-sized)
    * and the distinct-per-window aggregate pre-collapses to
    * (window-day, span, user) before counting — two partial-
    * aggregable exchanges, no windowed count-distinct, no sketch.
    * Days with no activity produce no row (the feed's day axis is
    * dense by construction). */
  val q220Stickiness: QueryDef = QueryDef(
    "q220_stickiness",
    """WITH du AS (
      |  SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day, user_id
      |  FROM events),
      |ex AS (
      |  SELECT du.day + CAST(o.off AS INT) AS rday, o.span, du.user_id
      |  FROM du CROSS JOIN (
      |    SELECT unnest(range(0, 30)) AS off, 'm' AS span
      |    UNION ALL SELECT unnest(range(0, 7)), 'w'
      |    UNION ALL SELECT 0, 'd') o),
      |obs AS (SELECT DISTINCT day FROM du),
      |c AS (
      |  SELECT ex.rday AS day, ex.span,
      |    CAST(count(DISTINCT ex.user_id) AS BIGINT) AS u
      |  FROM ex JOIN obs ON obs.day = ex.rday
      |  GROUP BY 1, 2)
      |SELECT strftime(d.day, '%Y-%m-%d') AS day,
      |  max(CASE WHEN c.span = 'd' THEN c.u END) AS dau,
      |  max(CASE WHEN c.span = 'w' THEN c.u END) AS wau,
      |  max(CASE WHEN c.span = 'm' THEN c.u END) AS mau,
      |  CAST((1000000 * max(CASE WHEN c.span = 'd' THEN c.u END))
      |       // max(CASE WHEN c.span = 'm' THEN c.u END) AS BIGINT)
      |    AS stickiness_ppm
      |FROM c JOIN obs d ON d.day = c.day
      |GROUP BY d.day ORDER BY day""".stripMargin) { (s, dir) =>
    val du = Tables.events(s, dir)
      .select(date_trunc("day", col("ts")).cast("date").as("day"),
        col("user_id")).distinct()
    val offs = {
      val m = (0 until 30).map(i => struct(lit(i).as("off"), lit("m").as("span")))
      val w = (0 until 7).map(i => struct(lit(i).as("off"), lit("w").as("span")))
      val d0 = Seq(struct(lit(0).as("off"), lit("d").as("span")))
      explode(array((m ++ w ++ d0): _*)).as("o")
    }
    val ex = du.select(col("day"), col("user_id"), offs)
      .select(date_add(col("day"), col("o.off")).as("rday"),
        col("o.span").as("span"), col("user_id"))
    val obs = du.select(col("day")).distinct()
    val c = ex.join(obs, obs("day") === ex("rday"))
      .groupBy(col("rday"), col("span"))
      .agg(countDistinct(col("user_id")).as("u"))
    c.groupBy(col("rday"))
      .agg(max(when(col("span") === "d", col("u"))).as("dau"),
        max(when(col("span") === "w", col("u"))).as("wau"),
        max(when(col("span") === "m", col("u"))).as("mau"))
      .select(date_format(col("rday"), "yyyy-MM-dd").as("day"),
        col("dau"), col("wau"), col("mau"),
        expr("(1000000 * dau) div nullif(mau, 0)").as("stickiness_ppm"))
      .orderBy("day")
  }

  /** q230 — Wald SPRT conversion monitor: the sequential A/B decision
    * timeline over the signup stream. Classic fixed-horizon tests
    * (q165) forbid peeking; the Sequential Probability Ratio Test is
    * the always-valid alternative — after every day, accumulate the
    * log-likelihood ratio of H1: p = 0.25 vs H0: p = 0.20 over the
    * Bernoulli conversions (value ≥ 200) and compare against the
    * symmetric Wald boundaries ±ln(19) (α = β = 0.05). Output: one
    * row per day with cumulative n, conversions, LLR, and the
    * decision state — the "stop early, with guarantees" monitor an
    * experimentation platform runs every night.
    *
    * Exactness: the LLR is conv·K₁ + (n−conv)·K₂ with K₁ = ln(p₁/p₀),
    * K₂ = ln((1−p₁)/(1−p₀)) floored once to integer nano-nats (both
    * engines produce bit-identical constants — verified against the
    * q91 ln contract), so every cumulative LLR is exact int64 (|K| ≤
    * 3·10⁹ ⇒ safe through ~3·10⁹ observations). Boundaries are the
    * same nano-floored constant, so state flips are exact integer
    * comparisons.
    *
    * Scale design (100 TB): one fact pass collapses to the calendar-
    * bounded day grain; both cumulative counts ride
    * [[ScaleRank.withRunningSum]] over the day frame (no bare global
    * window); the constants frame is a broadcast literal. */
  val q230Sprt: QueryDef = QueryDef(
    "q230_sprt",
    """WITH ev AS (
      |  SELECT epoch_us(ts) // 86400000000 AS d,
      |    CASE WHEN value >= 200.0 THEN 1 ELSE 0 END AS conv
      |  FROM events WHERE event_type = 'signup'),
      |day0 AS (
      |  SELECT d, CAST(count(*) AS BIGINT) AS n, CAST(sum(conv) AS BIGINT) AS c
      |  FROM ev GROUP BY d),
      |cum AS (
      |  SELECT d,
      |    CAST(sum(n) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_cum,
      |    CAST(sum(c) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c_cum
      |  FROM day0),
      |k AS (
      |  SELECT CAST(floor(1000000000.0 * ln(1.25)) AS BIGINT) AS k1,
      |    CAST(floor(1000000000.0 * ln(0.75 / 0.8)) AS BIGINT) AS k2,
      |    CAST(floor(1000000000.0 * ln(19.0)) AS BIGINT) AS bound)
      |SELECT d AS day, n_cum, c_cum,
      |  CAST(c_cum * k.k1 + (n_cum - c_cum) * k.k2 AS BIGINT) AS llr_nn,
      |  CASE WHEN c_cum * k.k1 + (n_cum - c_cum) * k.k2 >= k.bound THEN 'reject_h0'
      |       WHEN c_cum * k.k1 + (n_cum - c_cum) * k.k2 <= -k.bound THEN 'accept_h0'
      |       ELSE 'continue' END AS state
      |FROM cum, k ORDER BY day""".stripMargin) { (s, dir) =>
    val ev = Tables.events(s, dir).filter(col("event_type") === "signup")
      .select(expr("unix_micros(ts) div 86400000000").as("d"),
        when(col("value") >= 200.0, 1L).otherwise(0L).as("conv"))
    val day0 = ev.groupBy("d").agg(count(lit(1)).as("n"), sum("conv").as("c"))
    val cum = ScaleRank.withRunningSum(
      ScaleRank.withRunningSum(day0, Nil, Seq(col("d")), col("n"), "n_cum"),
      Nil, Seq(col("d")), col("c"), "c_cum")
    val k1 = floor(lit(1e9) * log(lit(1.25))).cast("long")
    val k2 = floor(lit(1e9) * log(lit(0.75 / 0.8))).cast("long")
    val bound = floor(lit(1e9) * log(lit(19.0))).cast("long")
    val llr = col("c_cum") * k1 + (col("n_cum") - col("c_cum")) * k2
    cum.select(col("d").as("day"), col("n_cum"), col("c_cum"),
        llr.cast("bigint").as("llr_nn"),
        when(llr >= bound, "reject_h0").when(llr <= -bound, "accept_h0")
          .otherwise("continue").as("state"))
      .orderBy("day")
  }

  /** q236 — off-policy evaluation (counterfactual audit): what value
    * would the "exploit the best-known action per hour" policy have
    * earned, estimated ONLY from logs collected under the existing
    * logging policy? The estimator split (event_id parity) fits the
    * empirical propensities μ(a|hour) and the target policy
    * π(hour) = argmax mean-reward action; the evaluation split scores
    * π via inverse-propensity weighting
    * (V̂_IPS(x) = mean(1{a=π(x)}·r/μ(a|x)), Horvitz–Thompson), next to
    * the direct-method estimate (fit-split mean of the chosen action)
    * and the realized logging-policy value. This is the standard gate
    * before shipping a new routing/filter policy when online A/B is
    * too slow — and the estimator-vs-DM gap is the overfit alarm.
    *
    * Exactness: rewards are half-up cents; propensity is an integer
    * ppm ratio; the IPS mean is the single combined truncating
    * division (s_matched·n_fit) // (n_fit_action·n_eval) — all int64
    * (headroom: Σcents·rows ≤ 1e5·n², safe to n ≈ 3e6 rows PER
    * (hour) cell at int64; beyond that the same plan runs on
    * DECIMAL(38,0) sums — the shuffle shape is unchanged). Argmax
    * ties break lexicographically via a per-hour rank over the ≤
    * |action| rows of the profile (bounded window).
    *
    * Scale design (100 TB): both splits collapse to (hour, action)
    * partial aggregates before ANY join — map-side combinable, output
    * ≤ 24·|actions| rows; policy/propensity frames broadcast; the raw
    * event stream is scanned twice and never shuffled. */
  val q236OffPolicy: QueryDef = QueryDef(
    "q236_offpolicy",
    """WITH ev AS (
      |  SELECT EXTRACT(hour FROM ts) AS hr, event_type AS action,
      |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
      |    event_id % 2 AS split
      |  FROM events),
      |aa AS (
      |  SELECT hr, action, count(*) AS n_a,
      |    CAST(sum(cents) AS BIGINT) AS s_a
      |  FROM ev WHERE split = 0 GROUP BY hr, action),
      |nx AS (SELECT hr, CAST(sum(n_a) AS BIGINT) AS n_fit FROM aa GROUP BY hr),
      |pi AS (
      |  SELECT hr, action AS pi_action, n_a AS n_fit_action,
      |    s_a // n_a AS dm_cents
      |  FROM (SELECT aa.*, row_number() OVER (
      |          PARTITION BY hr ORDER BY s_a // n_a DESC, action) AS rn
      |        FROM aa)
      |  WHERE rn = 1),
      |bb AS (
      |  SELECT hr, action, count(*) AS n_b,
      |    CAST(sum(cents) AS BIGINT) AS s_b
      |  FROM ev WHERE split = 1 GROUP BY hr, action),
      |bx AS (
      |  SELECT hr, CAST(sum(n_b) AS BIGINT) AS n_eval,
      |    CAST(sum(s_b) AS BIGINT) AS s_eval
      |  FROM bb GROUP BY hr)
      |SELECT pi.hr, pi.pi_action,
      |  (1000000 * pi.n_fit_action) // nx.n_fit AS mu_ppm,
      |  bx.n_eval, coalesce(bb.n_b, 0) AS n_eval_matched,
      |  (coalesce(bb.s_b, 0) * nx.n_fit)
      |    // (pi.n_fit_action * bx.n_eval) AS ips_cents,
      |  pi.dm_cents, bx.s_eval // bx.n_eval AS logged_cents
      |FROM pi JOIN nx ON nx.hr = pi.hr JOIN bx ON bx.hr = pi.hr
      |LEFT JOIN bb ON bb.hr = pi.hr AND bb.action = pi.pi_action
      |ORDER BY pi.hr""".stripMargin) { (s, dir) =>
    val ev = Tables.events(s, dir).select(
      hour(col("ts")).cast("bigint").as("hr"),
      col("event_type").as("action"),
      expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("cents"),
      (col("event_id") % 2).as("split"))
    val aa = ev.filter(col("split") === 0)
      .groupBy(col("hr"), col("action"))
      .agg(count(lit(1)).as("n_a"), sum(col("cents")).as("s_a"))
    val nx = aa.groupBy(col("hr")).agg(sum(col("n_a")).as("n_fit"))
    val piW = Window.partitionBy(col("hr"))
      .orderBy(expr("s_a div n_a").desc, col("action"))
    val pi = aa.withColumn("rn", row_number().over(piW))
      .filter(col("rn") === 1)
      .select(col("hr"), col("action").as("pi_action"),
        col("n_a").as("n_fit_action"), expr("s_a div n_a").as("dm_cents"))
    val bb = ev.filter(col("split") === 1)
      .groupBy(col("hr"), col("action"))
      .agg(count(lit(1)).as("n_b"), sum(col("cents")).as("s_b"))
    val bx = bb.groupBy(col("hr"))
      .agg(sum(col("n_b")).as("n_eval"), sum(col("s_b")).as("s_eval"))
    pi.join(broadcast(nx), Seq("hr"))
      .join(broadcast(bx), Seq("hr"))
      .join(broadcast(bb),
        bb("hr") === pi("hr") && bb("action") === pi("pi_action"), "left")
      .select(pi("hr"), col("pi_action"),
        expr("(1000000 * n_fit_action) div n_fit").as("mu_ppm"),
        col("n_eval"), coalesce(col("n_b"), lit(0L)).as("n_eval_matched"),
        expr("(coalesce(s_b, CAST(0 AS BIGINT)) * n_fit) " +
          "div (n_fit_action * n_eval)").as("ips_cents"),
        col("dm_cents"),
        expr("s_eval div n_eval").as("logged_cents"))
      .orderBy(pi("hr"))
  }

  /** q240 — SAX symbolization (Lin et al., DMKD'07): each day's event
    * volume-value series is compressed to a 6-symbol word — PAA means
    * over six 4-hour frames, each mapped to {a,b,c,d} by where it
    * falls against the corpus-wide quartile breakpoints. The symbolic
    * form is what makes motif/novelty search over years of telemetry
    * tractable: words are joinable/groupable strings, and equal words
    * ⇒ similar shapes with a provable distance lower bound. Quartile
    * (rank-based) breakpoints replace the classic Gaussian table so
    * the gate stays engine-exact without a normality assumption.
    *
    * Exactness: PAA means are truncating integer cents; breakpoints
    * ride the q17 weighted-percentile contract (identical
    * interpolation doubles in both engines); int-vs-double CASE
    * comparisons are exact; missing frames print '_' via coalesce in
    * both engines.
    *
    * Scale design (100 TB): PAA is one partial-aggregable
    * (day, frame) pass; the breakpoint frame is ONE broadcast row
    * computed over the value-collapsed (paa, count) domain (bounded
    * by the discrete cents-mean domain, the q17 argument); word
    * assembly is a 6-slot conditional-max pivot per day — no windows,
    * no sequential scan, day axis calendar-bounded. */
  val q240Sax: QueryDef = QueryDef(
    "q240_sax",
    """WITH ev AS (
      |  SELECT CAST(ts AS DATE) AS day,
      |    CAST(EXTRACT(hour FROM ts) AS BIGINT) // 4 AS frame,
      |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      |  FROM events),
      |paa AS (
      |  SELECT day, frame, CAST(sum(cents) AS BIGINT) // count(*) AS paa
      |  FROM ev GROUP BY day, frame),
      |bp AS (
      |  SELECT quantile_cont(paa, 0.25) AS p25, quantile_cont(paa, 0.5) AS p50,
      |    quantile_cont(paa, 0.75) AS p75
      |  FROM paa),
      |sym AS (
      |  SELECT day, frame,
      |    CASE WHEN paa < p25 THEN 'a' WHEN paa < p50 THEN 'b'
      |         WHEN paa < p75 THEN 'c' ELSE 'd' END AS s
      |  FROM paa, bp),
      |w AS (
      |  SELECT day,
      |    coalesce(max(CASE WHEN frame = 0 THEN s END), '_')
      |    || coalesce(max(CASE WHEN frame = 1 THEN s END), '_')
      |    || coalesce(max(CASE WHEN frame = 2 THEN s END), '_')
      |    || coalesce(max(CASE WHEN frame = 3 THEN s END), '_')
      |    || coalesce(max(CASE WHEN frame = 4 THEN s END), '_')
      |    || coalesce(max(CASE WHEN frame = 5 THEN s END), '_') AS word
      |  FROM sym GROUP BY day),
      |n AS (SELECT day, count(*) AS n_events FROM ev GROUP BY day)
      |SELECT w.day, n.n_events, w.word
      |FROM w JOIN n USING (day) ORDER BY w.day""".stripMargin) { (s, dir) =>
    val ev = Tables.events(s, dir).select(
      to_date(col("ts")).as("day"),
      expr("CAST(hour(ts) AS BIGINT) div 4").as("frame"),
      expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("cents"))
    val paa = ev.groupBy(col("day"), col("frame"))
      .agg(sum(col("cents")).as("sc"), count(lit(1)).as("cn"))
      .select(col("day"), col("frame"), expr("sc div cn").as("paa"))
    val bp = paa.groupBy(col("paa")).agg(count(lit(1)).as("pn"))
      .agg(expr("percentile(paa, 0.25D, pn)").as("p25"),
        expr("percentile(paa, 0.5D, pn)").as("p50"),
        expr("percentile(paa, 0.75D, pn)").as("p75"))
    val sym = paa.crossJoin(broadcast(bp))
      .select(col("day"), col("frame"),
        when(col("paa") < col("p25"), "a")
          .when(col("paa") < col("p50"), "b")
          .when(col("paa") < col("p75"), "c")
          .otherwise("d").as("s"))
    val word = sym.groupBy(col("day"))
      .agg(concat((0 to 5).map(k =>
        coalesce(max(when(col("frame") === k, col("s"))), lit("_"))): _*)
        .as("word"))
    val n = ev.groupBy(col("day")).agg(count(lit(1)).as("n_events"))
    word.join(n, Seq("day"))
      .select(col("day"), col("n_events"), col("word"))
      .orderBy("day")
  }

  private val MK_ROUNDS = 8
  private val MK_CHANNELS = Seq("click", "error", "signup", "view")

  /** Shared journey-chain SQL prelude (q246 + q251): per-user event
    * sequences restarting after purchase → empirical ppm transition
    * table `base_tr(f, t, p)`. One definition so the journey
    * semantics (restart rule, dropout denominator) cannot fork
    * between the removal-effect and Shapley twins. */
  private val journeyChainCtes: String =
    """seq AS (
      |  SELECT event_type AS t,
      |    lag(event_type) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS prev
      |  FROM events),
      |pairs0 AS (
      |  SELECT CASE WHEN prev IS NULL OR prev = 'purchase'
      |              THEN 'start' ELSE prev END AS f, t
      |  FROM seq),
      |denom AS (
      |  SELECT f, count(*) AS d FROM (
      |    SELECT CASE WHEN prev IS NULL OR prev = 'purchase'
      |                THEN 'start' ELSE 'x' END AS f FROM seq
      |    UNION ALL
      |    SELECT t FROM seq WHERE t <> 'purchase') WHERE f <> 'x'
      |  GROUP BY f),
      |base_tr AS (
      |  SELECT p.f, p.t, (1000000 * count(*)) // max(d.d) AS p
      |  FROM pairs0 p JOIN denom d ON d.f = p.f
      |  GROUP BY p.f, p.t)""".stripMargin

  /** Shared value-iteration rounds v1..v8 over scenario-expanded
    * st/pp/tt CTEs (q246 + q251). */
  private val valueIterationCtes: String = (1 to MK_ROUNDS).map { r =>
    s"""v$r AS MATERIALIZED (
       |  SELECT st.scen, st.state,
       |    coalesce(max(pp.p), 0)
       |      + coalesce(CAST(sum(tt.p * pv.v) AS BIGINT) // 1000000, 0) AS v
       |  FROM st
       |  LEFT JOIN pp ON pp.scen = st.scen AND pp.f = st.state
       |  LEFT JOIN tt ON tt.scen = st.scen AND tt.f = st.state
       |  LEFT JOIN v${r - 1} pv ON pv.scen = tt.scen AND pv.state = tt.t
       |  GROUP BY st.scen, st.state)""".stripMargin
  }.mkString(",\n")

  /** Shared Spark-side journey chain (q246 + q251): the checkpointed
    * ≤30-row `(f, t, p)` ppm transition table. */
  private def journeyTransitions(
      s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val seq0 = Tables.events(s, dir).select(
      col("event_type").as("t"),
      lag(col("event_type"), 1).over(
        Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))).as("prev"))
      .ckpt() // one corpus pass feeds pairs + denominators
    val f = when(col("prev").isNull || col("prev") === "purchase", "start")
      .otherwise(col("prev"))
    val pairs = seq0.select(f.as("f"), col("t"))
    val denom = seq0.select(
        when(col("prev").isNull || col("prev") === "purchase", "start")
          .otherwise(lit("x")).as("f"))
      .unionAll(seq0.filter(col("t") =!= "purchase").select(col("t").as("f")))
      .filter(col("f") =!= "x")
      .groupBy(col("f")).agg(count(lit(1)).as("d"))
    pairs.groupBy(col("f"), col("t"))
      .agg(count(lit(1)).as("n"))
      .join(broadcast(denom), Seq("f"))
      .select(col("f"), col("t"), expr("(1000000 * n) div d").as("p"))
      .ckpt() // the chain everything downstream iterates on
  }

  /** Shared absorption value iteration (q246 + q251): MK_ROUNDS
    * rounds of v = p_conv + P_transient·v over the scenario-expanded
    * frames. The frames are bounded by |scenarios|·|event types|
    * (≤ 16·6 rows — scenario axis is a literal mask/channel lattice,
    * states the categorical event-type domain), so the loop is
    * REGISTERED driver compute (DriverComputeRegistry; the q345
    * knapsack adjudication): 8 rounds × 3 broadcast joins as Spark
    * jobs were pure scheduling overhead on broadcast-sized frames —
    * measured 6.55 s for q251, ~3% of the whole bench (VERDICT r8
    * item 3). Arithmetic is bit-identical to the distributed form:
    * int64 products, truncating div on non-negative sums. */
  private def iterateAbsorption(
      st: DataFrame, pp: DataFrame, tt: DataFrame): DataFrame = {
    val spark = st.sparkSession
    val states = st.select(col("scen"), col("state")).collect() // <= 16*6 scenario-state rows
      .map(r => (r.get(0), r.getString(1)))
    val conv = pp.select(col("scen"), col("f"), col("p")).collect() // <= 16*6 conversion rows
      .map(r => ((r.get(0), r.getString(1)), r.getLong(2))).toMap
    val trans = tt.select(col("scen"), col("f"), col("t"), col("p")).collect() // <= 16*30 transition rows
      .map(r => (r.get(0), r.getString(1), r.getString(2), r.getLong(3)))
      .groupBy(r => (r._1, r._2))
    var v: Map[(Any, String), Long] =
      states.map(k => ((k._1, k._2), 0L)).toMap
    for (_ <- 1 to MK_ROUNDS) {
      v = states.map { case (scen, state) =>
        val cp = conv.getOrElse((scen, state), 0L)
        val fl = trans.get((scen, state)) match {
          case Some(rows) =>
            rows.map(r => r._4 * v.getOrElse((scen, r._3), 0L)).sum / 1000000L
          case None => 0L
        }
        ((scen, state), cp + fl)
      }.toMap
    }
    val schema = org.apache.spark.sql.types.StructType(
      st.schema.fields.take(2) :+
        org.apache.spark.sql.types.StructField(
          "v", org.apache.spark.sql.types.LongType, nullable = false))
    val rows = states.map { case (scen, state) =>
      org.apache.spark.sql.Row(scen, state, v((scen, state)))
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toSeq, 1), schema)
  }

  /** Oracle twin of [[q246MarkovAttribution]]: the shared journey
    * chain + value-iteration rounds over the removal-scenario axis. */
  private def markovOracleSql: String = {
    val chans = MK_CHANNELS.map(c => s"'$c'").mkString(", ")
    s"""WITH $journeyChainCtes,
       |scens AS (SELECT unnest(['base', $chans]) AS scen),
       |tr AS (
       |  SELECT s.scen, b.f, b.t, b.p FROM scens s JOIN base_tr b
       |  ON s.scen = 'base' OR (b.f <> s.scen AND b.t <> s.scen)),
       |st AS (
       |  SELECT DISTINCT s.scen, x.f AS state
       |  FROM scens s JOIN (SELECT DISTINCT f FROM base_tr) x
       |  ON s.scen = 'base' OR x.f <> s.scen),
       |pp AS (SELECT scen, f, p FROM tr WHERE t = 'purchase'),
       |tt AS (SELECT scen, f, t, p FROM tr
       |       WHERE t <> 'purchase' AND t IN (SELECT state FROM st WHERE st.scen = tr.scen)),
       |v0 AS (SELECT scen, state, CAST(0 AS BIGINT) AS v FROM st),
       |$valueIterationCtes
       |SELECT c.scen AS channel, b.v AS base_ppm, c.v AS removed_ppm,
       |  b.v - c.v AS effect_ppm
       |FROM v$MK_ROUNDS c
       |JOIN v$MK_ROUNDS b ON b.scen = 'base' AND b.state = 'start'
       |WHERE c.state = 'start' AND c.scen <> 'base'
       |ORDER BY channel""".stripMargin
  }

  /** q246 — Markov removal-effect attribution (Anderl et al. 2016):
    * credit each channel by how much the corpus-wide conversion
    * probability DROPS when the channel is deleted from the journey
    * graph — the principled successor to q142's first/last-touch
    * heuristics (which pay only endpoints). Journeys are per-user
    * event sequences restarting after each purchase; the chain has
    * transient states {start, view, click, signup, error}, absorbing
    * conversion (purchase) and implicit dropout (1 − Σp: dangling
    * last events). Removing channel c deletes its rows unrenormalized
    * — severed mass flows to dropout, exactly the removal-effect
    * convention. Absorption probabilities come from 8 fixed
    * value-iteration rounds of v = p_conv + P_transient·v (geometric
    * convergence; 8 rounds moves ppm values by < 1 at these mixing
    * rates, and the count is part of the spec'd semantics).
    *
    * Exactness: transition probabilities are integer ppm ratios; each
    * round is int64 products summed then one truncating div —
    * engine-identical at every round, so the fixed rounds ARE the
    * contract (no float fixpoint tolerance).
    *
    * Scale design (100 TB): the only data-scaled work is the per-user
    * lag window (unbounded key cardinality — hash-ranged tasks) and
    * one transition-count aggregate; everything after lives on a
    * ≤ 5-scenario × ≤ 30-row transition table iterated as REGISTERED
    * driver compute (iterateAbsorption / DriverComputeRegistry) —
    * the value iteration costs the same at any corpus size. */
  val q246MarkovAttribution: QueryDef = QueryDef(
    "q246_markov_attribution", markovOracleSql) { (s, dir) =>
    val baseTr = journeyTransitions(s, dir)
    val scens = s.createDataFrame(
      ("base" +: MK_CHANNELS).map(Tuple1(_))).toDF("scen")
    val tr = scens.crossJoin(baseTr)
      .filter(col("scen") === "base" ||
        (col("f") =!= col("scen") && col("t") =!= col("scen")))
    val st = scens.crossJoin(baseTr.select(col("f")).distinct())
      .filter(col("scen") === "base" || col("f") =!= col("scen"))
      .select(col("scen"), col("f").as("state")).distinct()
    val pp = tr.filter(col("t") === "purchase")
      .select(col("scen"), col("f"), col("p"))
    val tt = tr.filter(col("t") =!= "purchase")
      .join(st.select(col("scen"), col("state").as("t")), Seq("scen", "t"))
      .select(col("scen"), col("f"), col("t"), col("p"))
    val v = iterateAbsorption(st, pp, tt)
    val vs = v.filter(col("state") === "start").ckpt()
    val base = vs.filter(col("scen") === "base")
      .select(col("v").as("base_ppm"))
    vs.filter(col("scen") =!= "base")
      .crossJoin(broadcast(base))
      .select(col("scen").as("channel"), col("base_ppm"),
        col("v").as("removed_ppm"),
        (col("base_ppm") - col("v")).as("effect_ppm"))
      .orderBy("channel")
  }

  /** Oracle twin of [[q251ShapleyAttribution]]: the q246 rounds over a
    * 16-coalition axis, then the literal Shapley pair table. */
  private def shapleyOracleSql: String = {
    val k = MK_CHANNELS.size
    // coalition CTE rows: (scen bitmask, allowed-state list)
    val coalitions = (0 until (1 << k)).map { m =>
      val allowed = ("'start'" +: MK_CHANNELS.zipWithIndex.collect {
        case (c, i) if (m & (1 << i)) != 0 => s"'$c'"
      }).mkString(", ")
      s"SELECT $m AS scen, unnest([$allowed]) AS state"
    }.mkString("\nUNION ALL ")
    // Shapley pairs: (channel, without-mask, with-mask, weight); k=4
    // weights |S|!(k-1-|S|)! are [6,2,2,6] over denominator 4! = 24
    val wt = Seq(6, 2, 2, 6)
    val pairs = (for {
      (c, i) <- MK_CHANNELS.zipWithIndex
      m <- 0 until (1 << k) if (m & (1 << i)) == 0
    } yield {
      val size = Integer.bitCount(m)
      s"SELECT '$c' AS channel, $m AS lo, ${m | (1 << i)} AS hi, ${wt(size)} AS w"
    }).mkString("\nUNION ALL ")
    s"""WITH $journeyChainCtes,
       |st AS ($coalitions),
       |tr AS (
       |  SELECT sf.scen, b.f, b.t, b.p
       |  FROM base_tr b
       |  JOIN st sf ON sf.state = b.f
       |  WHERE b.t = 'purchase'
       |     OR b.t IN (SELECT state FROM st s2 WHERE s2.scen = sf.scen)),
       |pp AS (SELECT scen, f, p FROM tr WHERE t = 'purchase'),
       |tt AS (SELECT scen, f, t, p FROM tr WHERE t <> 'purchase'),
       |v0 AS (SELECT scen, state, CAST(0 AS BIGINT) AS v FROM st),
       |$valueIterationCtes,
       |vs AS (SELECT scen, v FROM v$MK_ROUNDS WHERE state = 'start'),
       |sp AS ($pairs)
       |SELECT sp.channel,
       |  CAST(sum(sp.w * (vh.v - vl.v)) AS BIGINT) AS phi24_ppm,
       |  (CAST(sum(sp.w * (vh.v - vl.v)) AS BIGINT) + 2400000000) // 24
       |    - 100000000 AS phi_ppm,
       |  (SELECT v FROM vs WHERE scen = 15) AS v_full_ppm,
       |  (SELECT v FROM vs WHERE scen = 0) AS v_empty_ppm
       |FROM sp JOIN vs vh ON vh.scen = sp.hi JOIN vs vl ON vl.scen = sp.lo
       |GROUP BY sp.channel ORDER BY sp.channel""".stripMargin
  }

  /** q251 — EXACT Shapley-value channel attribution (Shapley'53;
    * Zhao et al. 2018 for journeys): each channel's credit is its
    * average marginal contribution to the journey graph's conversion
    * probability over all 2⁴ channel coalitions — the axiomatically
    * fair division q246's single-removal effect approximates. The
    * characteristic function v(S) is the q246 absorbing-chain
    * conversion probability computed on the graph restricted to
    * coalition S (severed mass → dropout), all 16 coalitions value-
    * iterated JOINTLY as one scenario axis.
    *
    * Exactness: v(S) are integer ppm (the q246 contract); Shapley
    * weights for k=4 are the integers [6,2,2,6] over 4! = 24, so
    * φ·24 is an exact int64 sum — and the efficiency axiom
    * Σφ·24 = 24·(v(full) − v(∅)) holds as an exact integer identity
    * (it telescopes for ANY v), pinned in StatsQueriesSpec.
    *
    * Scale design (100 TB): identical to q246 — one per-user lag
    * window and one transition aggregate touch data; the 16-scenario
    * value iteration runs as REGISTERED driver compute on the
    * collected ≤ 16·30-row frame (iterateAbsorption /
    * DriverComputeRegistry — the q345 adjudication: 8 rounds of
    * broadcast-join jobs were pure scheduling overhead), constant
    * cost at any corpus size. The 2^k coalition axis is the exact-
    * Shapley tradeoff: it caps k at ~10 channels; past that, sampled
    * permutations ride the same joint-scenario machinery. */
  val q251ShapleyAttribution: QueryDef = QueryDef(
    "q251_shapley_attribution", shapleyOracleSql) { (s, dir) =>
    val k = MK_CHANNELS.size
    val baseTr = journeyTransitions(s, dir)
    val coalitionRows = for {
      m <- 0 until (1 << k)
      state <- "start" +: MK_CHANNELS.zipWithIndex.collect {
        case (c, i) if (m & (1 << i)) != 0 => c
      }
    } yield (m, state)
    val st = s.createDataFrame(coalitionRows).toDF("scen", "state")
    // fresh literal frame for the target-side membership probe (same
    // rows; a shared lineage would trip the ambiguous-self-join check)
    val stT = s.createDataFrame(coalitionRows).toDF("scen", "t")
    val tr = st.withColumnRenamed("state", "f").join(baseTr, Seq("f"))
      .join(stT.withColumn("tok", lit(1)), Seq("scen", "t"), "left")
      .filter(col("t") === "purchase" || col("tok").isNotNull)
      .select(col("scen"), col("f"), col("t"), col("p"))
    val pp = tr.filter(col("t") === "purchase")
      .select(col("scen"), col("f"), col("p"))
    val tt = tr.filter(col("t") =!= "purchase")
      .select(col("scen"), col("f"), col("t"), col("p"))
    val v = iterateAbsorption(st, pp, tt)
    val vs = v.filter(col("state") === "start")
      .select(col("scen"), col("v")).ckpt()
    val wt = Seq(6L, 2L, 2L, 6L)
    val sp = s.createDataFrame(for {
      (c, i) <- MK_CHANNELS.zipWithIndex
      m <- 0 until (1 << k) if (m & (1 << i)) == 0
    } yield (c, m, m | (1 << i), wt(Integer.bitCount(m))))
      .toDF("channel", "lo", "hi", "w")
    sp.join(broadcast(vs.select(col("scen").as("hi"), col("v").as("vh"))),
        Seq("hi"))
      .join(broadcast(vs.select(col("scen").as("lo"), col("v").as("vl"))),
        Seq("lo"))
      .groupBy(col("channel"))
      .agg(sum(col("w") * (col("vh") - col("vl"))).as("phi24_ppm"))
      .select(col("channel"), col("phi24_ppm"),
        // ppm truncation can nudge a marginal negative; the +2.4e9
        // shift keeps the operand positive so truncating div == floor
        // in both engines (the signed-div portability rule)
        expr("(phi24_ppm + 2400000000) div 24 - 100000000").as("phi_ppm"))
      .crossJoin(broadcast(vs.filter(col("scen") === 15)
        .select(col("v").as("v_full_ppm"))))
      .crossJoin(broadcast(vs.filter(col("scen") === 0)
        .select(col("v").as("v_empty_ppm"))))
      .orderBy("channel")
  }

  /** q315 — capture–recapture population estimate (Chapman's
    * bias-corrected Lincoln–Petersen): treat the first and second
    * halves of the event window as two independent "captures" of the
    * user population and estimate total population from the overlap,
    * N̂ = (n₁+1)(n₂+1)/(m+1) − 1 — the classic "how many users exist
    * that we have NOT seen yet" estimator (mark–recapture ecology,
    * reused for dedup-universe and darknumber estimation). Reported
    * against the directly-observed distinct count with a signed
    * error, so the output doubles as a validity check of the
    * independence assumption (heavy repeat users violate it and bias
    * N̂ low).
    *
    * Exactness: the half boundary is the integer micros midpoint of
    * the exact (min, max) timestamp frame; capture flags are per-user
    * maxes; the estimator and error are integer floor-divs on
    * non-negative numerators (N̂ ≥ m ≥ 0; error emitted as sign ·
    * magnitude to keep div portable).
    *
    * Scale design (100 TB): one partial-aggregable (user → seen-in-
    * half flags) collapse over the stream — the only data-sized
    * exchange; the 1-row bounds frame is broadcast; the fold is a
    * 1-row aggregate. Output 1 row. */
  val q315CaptureRecapture: QueryDef = QueryDef(
    "q315_capture_recapture",
    """WITH b AS (
      |  SELECT CAST(epoch_us(min(ts)) AS BIGINT) AS t0,
      |         CAST(epoch_us(max(ts)) AS BIGINT) AS t1
      |  FROM events),
      |u AS (
      |  SELECT user_id,
      |    max(CASE WHEN epoch_us(ts) - b.t0 < (b.t1 - b.t0 + 1) // 2
      |      THEN 1 ELSE 0 END) AS h1,
      |    max(CASE WHEN epoch_us(ts) - b.t0 >= (b.t1 - b.t0 + 1) // 2
      |      THEN 1 ELSE 0 END) AS h2
      |  FROM events, b GROUP BY user_id),
      |f AS (
      |  SELECT CAST(sum(h1) AS BIGINT) AS n1, CAST(sum(h2) AS BIGINT) AS n2,
      |    CAST(sum(h1 * h2) AS BIGINT) AS m, CAST(count(*) AS BIGINT) AS n_true
      |  FROM u)
      |SELECT n1, n2, m, n_true,
      |  ((n1 + 1) * (n2 + 1)) // (m + 1) - 1 AS n_hat,
      |  CASE WHEN ((n1 + 1) * (n2 + 1)) // (m + 1) - 1 >= n_true
      |    THEN 1 ELSE -1 END *
      |  ((1000000 * abs(((n1 + 1) * (n2 + 1)) // (m + 1) - 1 - n_true))
      |    // n_true) AS err_ppm
      |FROM f""".stripMargin) { (s, dir) =>
    val ev = Tables.events(s, dir)
      .select(col("user_id"), expr("unix_micros(ts)").as("us"))
    val b = ev.agg(min(col("us")).as("t0"), max(col("us")).as("t1"))
    val u = ev.crossJoin(broadcast(b))
      .select(col("user_id"),
        when(col("us") - col("t0") <
          expr("(t1 - t0 + 1) div 2"), 1L).otherwise(0L).as("in1"),
        when(col("us") - col("t0") >=
          expr("(t1 - t0 + 1) div 2"), 1L).otherwise(0L).as("in2"))
      .groupBy(col("user_id"))
      .agg(max(col("in1")).as("h1"), max(col("in2")).as("h2"))
    u.agg(sum(col("h1")).as("n1"), sum(col("h2")).as("n2"),
        sum(col("h1") * col("h2")).as("m"), count(lit(1)).as("n_true"))
      .select(col("n1"), col("n2"), col("m"), col("n_true"),
        expr("((n1 + 1) * (n2 + 1)) div (m + 1) - 1").as("n_hat"),
        (when(expr("((n1 + 1) * (n2 + 1)) div (m + 1) - 1") >= col("n_true"),
          1L).otherwise(-1L) *
          expr("(1000000 * abs(((n1 + 1) * (n2 + 1)) div (m + 1) - 1" +
            " - n_true)) div n_true")).as("err_ppm"))
  }

  /** q316 — two-proportion power analysis per event type: from each
    * type's observed success rate (value > 100), the required sample
    * size PER ARM to detect relative lifts of 2/5/10% at α = 0.05
    * (two-sided) and 80% power, via the standard normal-approximation
    * formula n = (z_{α/2}·√(2p̄q̄) + z_β·√(p₁q₁+p₂q₂))²/(p₂−p₁)² —
    * the experiment-sizing table every A/B platform prints before
    * q165/q230/q266 ever run. Emitting the grid per type exposes how
    * baseline rates drive feasibility (detecting +2% on a rare event
    * can need millions of samples).
    *
    * Exactness: p₁ derives from exact integer counts; the whole
    * formula is ONE shared IEEE chain (e-notation literals, fixed
    * z constants) with a single ceil to integer; lift rows come from
    * a 3-literal unnest CAST BIGINT.
    *
    * Scale design (100 TB): one partial-aggregable count pass to
    * |types| rows; the ×3 grid explodes the bounded frame. Output
    * |types|·3 rows. */
  val q316PowerAnalysis: QueryDef = {
    val lifts = Seq(2, 5, 10)
    // shared IEEE chain; za = z_{0.025}, zb = z_{0.20} (80% power)
    val nReq =
      "CAST(ceil(" +
        "((1.959964e0 * sqrt(2e0 * ((p1 + p2) / 2e0) *" +
        " (1e0 - (p1 + p2) / 2e0))" +
        " + 0.841621e0 * sqrt(p1 * (1e0 - p1) + p2 * (1e0 - p2))) *" +
        "(1.959964e0 * sqrt(2e0 * ((p1 + p2) / 2e0) *" +
        " (1e0 - (p1 + p2) / 2e0))" +
        " + 0.841621e0 * sqrt(p1 * (1e0 - p1) + p2 * (1e0 - p2))))" +
        " / ((p2 - p1) * (p2 - p1))) AS BIGINT)"
    QueryDef(
      "q316_power_analysis",
      s"""WITH c AS (
         |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
         |    CAST(sum(CASE WHEN value > 100.0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_succ
         |  FROM events GROUP BY event_type),
         |g AS (
         |  SELECT event_type, n_events, n_succ,
         |    CAST(lift AS BIGINT) AS lift_pct,
         |    CAST(n_succ AS DOUBLE) / CAST(n_events AS DOUBLE) AS p1,
         |    (CAST(n_succ AS DOUBLE) / CAST(n_events AS DOUBLE)) *
         |      (1e0 + CAST(lift AS DOUBLE) / 1e2) AS p2
         |  FROM c, unnest([${lifts.mkString(", ")}]) AS l(lift)
         |  WHERE n_succ > 0 AND n_succ * (100 + lift) < n_events * 100)
         |SELECT event_type, lift_pct,
         |  (1000000 * n_succ) // n_events AS p1_ppm,
         |  $nReq AS n_per_arm
         |FROM g ORDER BY event_type, lift_pct""".stripMargin) { (s, dir) =>
      val c = Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("value") > 100.0, 1L).otherwise(0L)).as("n_succ"))
        .filter(col("n_succ") > 0)
      c.select(col("event_type"), col("n_events"), col("n_succ"),
          explode(array(lifts.map(l => lit(l.toLong)): _*)).as("lift_pct"))
        .filter(col("n_succ") * (lit(100L) + col("lift_pct")) <
          col("n_events") * 100)
        .select(col("event_type"), col("lift_pct"),
          expr("(1000000 * n_succ) div n_events").as("p1_ppm"),
          expr("CAST(n_succ AS DOUBLE) / CAST(n_events AS DOUBLE)").as("p1"),
          expr("(CAST(n_succ AS DOUBLE) / CAST(n_events AS DOUBLE)) *" +
            " (1e0 + CAST(lift_pct AS DOUBLE) / 1e2)").as("p2"))
        .select(col("event_type"), col("lift_pct"), col("p1_ppm"),
          expr(nReq).as("n_per_arm"))
        .orderBy("event_type", "lift_pct")
    }
  }

  /** q334 — temporal-split entity leakage audit: split the event
    * stream at 80% of its time span (train = before, test = after)
    * and report, per event type, how many TEST-side users also
    * appear in train — the eval-design check for every
    * "predict-the-future" model: high overlap means a time-split
    * evaluation is really a same-user personalization eval (entity
    * leakage), and a user-disjoint split (q213's group-aware
    * discipline) is required on top of the time cut. The per-type
    * breakdown shows which surfaces are repeat-user-driven.
    *
    * Exactness: the split boundary is integer micros arithmetic on
    * the exact (min, max) frame; membership flags are per-(type,
    * user) maxes; ratios are non-negative ppm floor-divs.
    *
    * Scale design (100 TB): one partial-aggregable (type, user) →
    * flags collapse (the only data-sized exchange); the 1-row bounds
    * frame is broadcast; per-type folds are |types| rows. */
  val q334TemporalLeakage: QueryDef = QueryDef(
    "q334_temporal_leakage",
    """WITH b AS (
      |  SELECT CAST(epoch_us(min(ts)) AS BIGINT) AS t0,
      |         CAST(epoch_us(max(ts)) AS BIGINT) AS t1
      |  FROM events),
      |u AS (
      |  SELECT event_type, user_id,
      |    max(CASE WHEN (epoch_us(ts) - b.t0) * 10 < (b.t1 - b.t0) * 8
      |      THEN 1 ELSE 0 END) AS tr,
      |    max(CASE WHEN (epoch_us(ts) - b.t0) * 10 >= (b.t1 - b.t0) * 8
      |      THEN 1 ELSE 0 END) AS te
      |  FROM events, b GROUP BY 1, 2)
      |SELECT event_type,
      |  CAST(sum(tr) AS BIGINT) AS n_train_users,
      |  CAST(sum(te) AS BIGINT) AS n_test_users,
      |  CAST(sum(tr * te) AS BIGINT) AS n_overlap,
      |  (1000000 * CAST(sum(tr * te) AS BIGINT)) // CAST(sum(te) AS BIGINT)
      |    AS leak_ppm
      |FROM u GROUP BY event_type HAVING sum(te) > 0
      |ORDER BY event_type""".stripMargin) { (s, dir) =>
    val ev = Tables.events(s, dir)
      .select(col("event_type"), col("user_id"),
        expr("unix_micros(ts)").as("us"))
    val b = ev.agg(min(col("us")).as("t0"), max(col("us")).as("t1"))
    val u = ev.crossJoin(broadcast(b))
      .select(col("event_type"), col("user_id"),
        when((col("us") - col("t0")) * 10 < (col("t1") - col("t0")) * 8, 1L)
          .otherwise(0L).as("in_tr"),
        when((col("us") - col("t0")) * 10 >= (col("t1") - col("t0")) * 8, 1L)
          .otherwise(0L).as("in_te"))
      .groupBy(col("event_type"), col("user_id"))
      .agg(max(col("in_tr")).as("tr"), max(col("in_te")).as("te"))
    u.groupBy(col("event_type"))
      .agg(sum(col("tr")).as("n_train_users"),
        sum(col("te")).as("n_test_users"),
        sum(col("tr") * col("te")).as("n_overlap"))
      .filter(col("n_test_users") > 0)
      .select(col("event_type"), col("n_train_users"), col("n_test_users"),
        col("n_overlap"),
        expr("(1000000 * n_overlap) div n_test_users").as("leak_ppm"))
      .orderBy("event_type")
  }

  /** q338 — negative-binomial fit of per-user event counts
    * (method of moments), per event type: r = m²/(v−m), p = m/v from
    * the exact sample moments — the parametric follow-up to q304's
    * overdispersion screen (q304 says "not Poisson"; this says WHICH
    * negative binomial, so rate alerts and capacity models can use
    * NB quantiles instead of the broken Poisson ones). Fitted on
    * OBSERVED users (zero-truncation caveat in the columns: users
    * with no events are invisible here, so r is biased high for
    * sparse types — stated, not hidden).
    *
    * Exactness: moments ride DECIMAL(38)/HUGEINT; mean/variance and
    * the (r, p) map are ONE mirrored IEEE chain each over DOUBLE
    * casts of exact sums, floored to milli; under-dispersed types
    * (v ≤ m, where no NB exists) yield NULL by the shared guard.
    *
    * Scale design (100 TB): the (type, user) count collapse is the
    * only data-sized exchange (q304's shape, shared discipline);
    * the fit runs on |types| rows. */
  val q338NbFit: QueryDef = {
    // sample mean / variance from (n, s, q):
    //   m = s/n, v = (n*q - s*s) / (n*(n-1))
    val mD = "(CAST(s AS DOUBLE) / CAST(n AS DOUBLE))"
    val vD = "((CAST(n AS DOUBLE) * CAST(q AS DOUBLE)" +
      " - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))" +
      " / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1e0)))"
    val guard = s"$vD > $mD"
    val rMilli = s"CASE WHEN $guard THEN CAST(floor(1e3 * $mD * $mD" +
      s" / ($vD - $mD)) AS BIGINT) END"
    val pMilli = s"CASE WHEN $guard THEN CAST(floor(1e3 * $mD / $vD)" +
      s" AS BIGINT) END"
    QueryDef(
      "q338_nb_fit",
      s"""WITH $userCountMomentsSql
         |SELECT t AS event_type, CAST(n AS BIGINT) AS n_users,
         |  CAST(floor(1e3 * $mD) AS BIGINT) AS mean_milli,
         |  CAST(floor(1e3 * $vD) AS BIGINT) AS var_milli,
         |  $rMilli AS r_milli,
         |  $pMilli AS p_milli
         |FROM m WHERE n > 1 ORDER BY t""".stripMargin) { (s, dir) =>
      val uc = Tables.events(s, dir)
        .groupBy(col("event_type").as("t"), col("user_id"))
        .agg(count(lit(1)).as("x"))
      uc.groupBy(col("t"))
        .agg(count(lit(1)).cast("decimal(38,0)").as("n"),
          sum(col("x").cast("decimal(38,0)")).cast("decimal(38,0)").as("s"),
          sum(col("x").cast("decimal(38,0)") * col("x"))
            .cast("decimal(38,0)").as("q"))
        .filter(col("n") > 1)
        .select(col("t").as("event_type"),
          col("n").cast("bigint").as("n_users"),
          expr(s"CAST(floor(1e3 * $mD) AS BIGINT)").as("mean_milli"),
          expr(s"CAST(floor(1e3 * $vD) AS BIGINT)").as("var_milli"),
          expr(rMilli).as("r_milli"),
          expr(pMilli).as("p_milli"))
        .orderBy("event_type")
    }
  }

  /** q343 — A/B funnel comparison: the view → click → purchase
    * presence funnel per arm of the hashed 'exp' user assignment
    * (q319's coin verbatim), with the per-step two-proportion z
    * statistic — the experiment readout that q57's single funnel and
    * q165's single-metric test can't give: WHERE in the funnel did
    * the treatment move users, and is the move outside noise at that
    * step's sample size. Steps are user-presence based (did the user
    * ever reach the event type), the assignment-stable funnel form.
    *
    * Exactness: reach flags and counts are exact integers; each
    * step's conversion is a ppm floor-div from the PREVIOUS step's
    * reach; z is ONE mirrored IEEE chain over exact counts, floored
    * to milli (sign-portable).
    *
    * Scale design (100 TB): one partial-aggregable (user → 3 flags)
    * collapse over the stream; everything after runs on a 2-arm ×
    * 3-step bounded frame. Output 3 rows. */
  val q343AbFunnel: QueryDef = {
    val steps = Seq("view", "click", "purchase")
    // two-proportion z on (ka of na) vs (kb of nb), milli
    val z =
      "CASE WHEN ka > 0 AND kb > 0 AND ka < na AND kb < nb THEN" +
        " CAST(floor(1e3 * (CAST(ka AS DOUBLE) / nullif(CAST(na AS DOUBLE), 0e0)" +
        " - CAST(kb AS DOUBLE) / nullif(CAST(nb AS DOUBLE), 0e0))" +
        " / nullif(sqrt((CAST(ka + kb AS DOUBLE) / nullif(CAST(na + nb AS DOUBLE), 0e0))" +
        " * (1e0 - CAST(ka + kb AS DOUBLE) / nullif(CAST(na + nb AS DOUBLE), 0e0))" +
        " * (1e0 / nullif(CAST(na AS DOUBLE), 0e0) + 1e0 / nullif(CAST(nb AS DOUBLE), 0e0))), 0e0))" +
        " AS BIGINT) END"
    QueryDef(
      "q343_ab_funnel",
      s"""WITH u AS (
         |  SELECT user_id,
         |    ('0x' || substring(md5('exp' || user_id), 1, 15))::BIGINT % 2
         |      AS arm,
         |    ${steps.map(st =>
             s"max(CASE WHEN event_type = '$st' THEN 1 ELSE 0 END) AS f_$st")
             .mkString(",\n    ")}
         |  FROM events GROUP BY 1, 2),
         |a AS (
         |  SELECT arm, CAST(count(*) AS BIGINT) AS n_users,
         |    ${steps.map(st =>
             s"CAST(sum(f_$st) AS BIGINT) AS r_$st").mkString(",\n    ")}
         |  FROM u GROUP BY arm),
         |s AS (
         |  ${steps.zipWithIndex.map { case (st, i) =>
             val prev = if (i == 0) "n_users" else s"r_${steps(i - 1)}"
             s"SELECT $i AS step, '$st' AS event_type, arm, $prev AS base," +
               s" r_$st AS reach FROM a"
           }.mkString("\n  UNION ALL ")}),
         |w AS (
         |  SELECT step, event_type,
         |    max(CASE WHEN arm = 0 THEN reach END) AS ka,
         |    max(CASE WHEN arm = 0 THEN base END) AS na,
         |    max(CASE WHEN arm = 1 THEN reach END) AS kb,
         |    max(CASE WHEN arm = 1 THEN base END) AS nb
         |  FROM s GROUP BY 1, 2)
         |SELECT CAST(step AS BIGINT) AS step, event_type, ka, na, kb, nb,
         |  (1000000 * ka) // na AS conv_a_ppm,
         |  (1000000 * kb) // nb AS conv_b_ppm,
         |  $z AS z_milli
         |FROM w ORDER BY step""".stripMargin) { (s, dir) =>
      val u = Tables.events(s, dir)
        .groupBy(col("user_id"),
          (conv(substring(md5(concat(lit("exp"),
            col("user_id").cast("string"))), 1, 15), 16, 10).cast("bigint")
            % 2).as("arm"))
        .agg(max(when(col("event_type") === steps.head, 1L).otherwise(0L))
          .as(s"f_${steps.head}"),
          steps.tail.map(st =>
            max(when(col("event_type") === st, 1L).otherwise(0L))
              .as(s"f_$st")): _*)
      val a = u.groupBy(col("arm"))
        .agg(count(lit(1)).as("n_users"),
          steps.map(st => sum(col(s"f_$st")).as(s"r_$st")): _*)
      val sFrames = steps.zipWithIndex.map { case (st, i) =>
        val prev = if (i == 0) col("n_users") else col(s"r_${steps(i - 1)}")
        a.select(lit(i.toLong).as("step"), lit(st).as("event_type"),
          col("arm"), prev.as("base"), col(s"r_$st").as("reach"))
      }
      val sAll = sFrames.reduce(_ unionByName _)
      sAll.groupBy(col("step"), col("event_type"))
        .agg(max(when(col("arm") === 0, col("reach"))).as("ka"),
          max(when(col("arm") === 0, col("base"))).as("na"),
          max(when(col("arm") === 1, col("reach"))).as("kb"),
          max(when(col("arm") === 1, col("base"))).as("nb"))
        .select(col("step"), col("event_type"), col("ka"), col("na"),
          col("kb"), col("nb"),
          expr("(1000000 * ka) div nullif(na, 0)").as("conv_a_ppm"),
          expr("(1000000 * kb) div nullif(nb, 0)").as("conv_b_ppm"),
          expr(z).as("z_milli"))
        .orderBy("step")
    }
  }

  /** q347 — token-bucket rate-limit audit: replay every user's event
    * stream against a leaky bucket (capacity 5 tokens, refill 1 per
    * 6 h — a daily-quota-class limit matched to this feed's event
    * density so the violation path is exercised) and report the top
    * offenders by violation count — the
    * abuse/rate-limit screen an API gateway runs offline to tune its
    * production limiter. The sequential bucket recursion
    * L_i = max(0, L_{i-1} + 1 − r·Δt) has the EXACT closed form
    * L_i = (i+1) − r·t_i + max_{j≤i}(r·t_j − j) (max-plus algebra
    * linearization), so the per-user replay is one running max —
    * no stateful scan, no driver loop.
    *
    * Exactness: with the refill period P in exact micros, the
    * violation test cross-multiplies to pure int64:
    * (i+1)·P − t_i + max_j(t_j − j·P) > cap·P, evaluated with the
    * per-user running max over (t_j − j·P) — every quantity exact.
    * Event-order ties break on event_id inside the per-user window.
    *
    * Scale design (100 TB): ONE window pass PARTITIONED by user
    * (row_number + inclusive running max), then a per-user
    * partial-aggregable violation count; the leaderboard is a
    * TakeOrdered heap. Output 15 rows. */
  val q347TokenBucket: QueryDef = {
    val P = 21600000000L // refill period: 6h in micros
    val CAP = 5L
    QueryDef(
      "q347_token_bucket",
      s"""WITH e AS (
         |  SELECT user_id, event_id,
         |    CAST(epoch_us(ts) AS BIGINT) AS t,
         |    row_number() OVER (PARTITION BY user_id
         |      ORDER BY ts, event_id) - 1 AS i
         |  FROM events),
         |m AS (
         |  SELECT user_id, event_id, t, i,
         |    max(t - i * $P) OVER (PARTITION BY user_id
         |      ORDER BY i ROWS UNBOUNDED PRECEDING) AS mx
         |  FROM e),
         |v AS (
         |  SELECT user_id,
         |    CAST(count(*) AS BIGINT) AS n_events,
         |    CAST(sum(CASE WHEN (i + 1) * $P - t + mx > $CAP * $P
         |      THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
         |  FROM m GROUP BY user_id)
         |SELECT user_id, n_events, n_violations,
         |  (1000000 * n_violations) // n_events AS viol_ppm
         |FROM v WHERE n_violations > 0
         |ORDER BY n_violations DESC, user_id LIMIT 15""".stripMargin) { (s, dir) =>
      val e = Tables.events(s, dir)
        .select(col("user_id"), col("event_id"),
          expr("unix_micros(ts)").as("t"))
        .withColumn("i", row_number().over(
          Window.partitionBy(col("user_id"))
            .orderBy(col("t"), col("event_id"))) - 1)
      val wMax = Window.partitionBy(col("user_id")).orderBy(col("i"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val m = e.withColumn("mx",
        max(col("t") - col("i") * P).over(wMax))
      m.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(when((col("i") + 1) * P - col("t") + col("mx") > CAP * P, 1L)
            .otherwise(0L)).as("n_violations"))
        .filter(col("n_violations") > 0)
        .select(col("user_id"), col("n_events"), col("n_violations"),
          expr("(1000000 * n_violations) div n_events").as("viol_ppm"))
        .orderBy(col("n_violations").desc, col("user_id"))
        .limit(15)
    }
  }

  /** q362 — Krichevsky–Trofimov online-coding regret audit (KT '81;
    * Cesa-Bianchi & Lugosi ch. 9): replay the event-type stream in
    * arrival order and charge each event the KT sequential
    * probability p_t = (c_{s,t} + ½)/(t − 1 + k/2) — the add-half
    * universal predictor. The total codelength minus the empirical
    * entropy bound n·H(p̂) is the REGRET, and KT's theorem caps it at
    * ((k−1)/2)·ln n + O(1) nats — a closed-form certificate the spec
    * pins, making this an end-to-end "is my sequential-prediction
    * machinery implemented right" audit (q181/q215 score FIXED
    * models; this scores the universal ONLINE one, the codelength
    * view a compression-based quality filter builds on).
    *
    * Exactness: with c the 1-based occurrence index and t the global
    * arrival rank, −ln p_t = ln(2t − 2 + k) − ln(2c − 1) — both
    * arguments exact integers, each ln floored to nano-nats PER TERM
    * before the order-free integer sum (q83 discipline); the entropy
    * bound is per-type floored. Ties in ts break on event_id.
    *
    * Scale design (100 TB): the global arrival rank rides
    * [[ScaleRank.withRowNumber]] (two-level distributed rank, one
    * range exchange); the per-type occurrence index is a PARTITIONED
    * window (unbounded key count, bounded per-type rows per task via
    * hash ranges); everything else is partial-aggregable 1-row
    * moments. Output 1 row. */
  val q362KtRegret: QueryDef = {
    QueryDef(
      "q362_kt_regret",
      s"""WITH ev AS (
         |  SELECT event_type AS s,
         |    CAST(row_number() OVER (ORDER BY ts, event_id) AS BIGINT) AS t,
         |    CAST(row_number() OVER (PARTITION BY event_type
         |      ORDER BY ts, event_id) AS BIGINT) AS c
         |  FROM events),
         |kk AS (SELECT CAST(count(DISTINCT s) AS BIGINT) AS k,
         |  CAST(count(*) AS BIGINT) AS n FROM ev),
         |cl AS (
         |  SELECT CAST(sum(
         |    CAST(floor(1000000000.0 * ln(CAST(2 * ev.t - 2 + kk.k
         |      AS DOUBLE))) AS BIGINT)
         |    - CAST(floor(1000000000.0 * ln(CAST(2 * ev.c - 1 AS DOUBLE)))
         |      AS BIGINT)) AS BIGINT) AS cl_nano
         |  FROM ev, kk),
         |hh AS (
         |  SELECT CAST(sum(CAST(floor(1000000000.0 *
         |      CAST(ns AS DOUBLE) * (ln(CAST(kk.n AS DOUBLE))
         |        - ln(CAST(ns AS DOUBLE)))) AS BIGINT)) AS BIGINT) AS nh_nano
         |  FROM (SELECT s, CAST(count(*) AS BIGINT) AS ns
         |        FROM ev GROUP BY 1), kk)
         |SELECT kk.n, kk.k, cl.cl_nano, hh.nh_nano,
         |  cl.cl_nano - hh.nh_nano AS regret_nano,
         |  CAST(floor(1000000000.0 * (0.5 * CAST(kk.k - 1 AS DOUBLE)
         |    * ln(CAST(kk.n AS DOUBLE)) + 2.0)) AS BIGINT) AS kt_bound_nano
         |FROM kk, cl, hh""".stripMargin) { (s, dir) =>
      val base = Tables.events(s, dir)
        .select(col("event_type").as("s"), col("ts"), col("event_id"))
      val ranked = ScaleRank.withRowNumber(base, Seq.empty,
        Seq(col("ts"), col("event_id")), "t", "ntot")
      val ev = ranked.withColumn("c", row_number().over(
        Window.partitionBy(col("s")).orderBy(col("ts"), col("event_id")))
        .cast("bigint")).ckpt() // one ranked frame feeds cl AND counts
      val kk = broadcast(ev.agg(countDistinct(col("s")).as("k"),
        count(lit(1)).as("n")))
      val cl = ev.crossJoin(kk)
        .select((
          expr("CAST(floor(1000000000.0 * ln(CAST(2 * t - 2 + k AS DOUBLE)))" +
            " AS BIGINT)") -
          expr("CAST(floor(1000000000.0 * ln(CAST(2 * c - 1 AS DOUBLE)))" +
            " AS BIGINT)")).as("term"))
        .agg(sum(col("term")).cast("bigint").as("cl_nano"))
      val hh = ev.groupBy(col("s")).agg(count(lit(1)).as("ns"))
        .crossJoin(kk)
        .select(expr("CAST(floor(1000000000.0 * CAST(ns AS DOUBLE) * " +
          "(ln(CAST(n AS DOUBLE)) - ln(CAST(ns AS DOUBLE)))) AS BIGINT)")
          .as("term"))
        .agg(sum(col("term")).cast("bigint").as("nh_nano"))
      kk.crossJoin(broadcast(cl)).crossJoin(broadcast(hh))
        .select(col("n"), col("k"), col("cl_nano"), col("nh_nano"),
          (col("cl_nano") - col("nh_nano")).as("regret_nano"),
          expr("CAST(floor(1000000000.0 * (0.5 * CAST(k - 1 AS DOUBLE) * " +
            "ln(CAST(n AS DOUBLE)) + 2.0)) AS BIGINT)").as("kt_bound_nano"))
    }
  }

  /** The arms of the bandit queries (q365, q375): the event types. */
  private def banditArms: Seq[String] =
    Seq("click", "error", "purchase", "signup", "view")

  /** The bandits' hourly reward grid (h, r1..rk): per hour, each arm's
    * milli-valued total scaled to the corpus-wide maximum
    * (1000·v div vmax), 0 for an arm with no events that hour. */
  private def banditRewards(s: SparkSession, dir: String): DataFrame = {
    val hr = Tables.events(s, dir)
      .groupBy(expr("unix_micros(ts) div 3600000000").as("h"),
        col("event_type").as("s"))
      .agg(sum(floor(col("value") * 1000).cast("bigint")).as("v"))
      .ckpt() // one fact collapse feeds vmax AND the grid
    val vm = broadcast(hr.agg(max(col("v")).as("vmax")))
    val rewards = banditArms.zipWithIndex.map { case (a, i) =>
      coalesce(max(when(col("s") === a, col("rm"))), lit(0L))
        .as(s"r${i + 1}")
    }
    hr.crossJoin(vm)
      // if(vmax = 0, …): an all-zero-value corpus zeroes the reward
      // ceiling; ANSI div would throw where the oracle's // natively
      // NULLs — both engines then coalesce the arm rewards to 0
      // (degenerate-corpus probe)
      .select(col("h"), col("s"),
        expr("if(vmax = 0, null, (1000 * v) div vmax)").as("rm"))
      .groupBy(col("h"))
      .agg(rewards.head, rewards.tail: _*)
  }

  /** The oracle side of [[banditRewards]]: the CTEs `hr`, `vm`,
    * `grid0`, `grid` (t, r1..rk; t numbers the hours) and `nt`
    * (tmax, the round count). */
  private def banditRewardsSql: String = {
    val gridSql = banditArms.zipWithIndex.map { case (a, i) =>
      s"coalesce(max(CASE WHEN s = '$a' THEN rm END), 0) AS r${i + 1}"
    }.mkString(",\n       |    ")
    s"""hr AS (
       |  SELECT epoch_us(ts) // 3600000000 AS h, event_type AS s,
       |    CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS v
       |  FROM events GROUP BY 1, 2),
       |vm AS (SELECT max(v) AS vmax FROM hr),
       |grid0 AS (
       |  SELECT h, s, (1000 * v) // vm.vmax AS rm FROM hr, vm),
       |grid AS MATERIALIZED (
       |  SELECT CAST(row_number() OVER (ORDER BY h) AS BIGINT) AS t,
       |    $gridSql
       |  FROM grid0 GROUP BY h),
       |nt AS (SELECT CAST(count(*) AS BIGINT) AS tmax FROM grid)""".stripMargin
  }

  /** q365 — Hedge / exponential-weights regret audit (Littlestone &
    * Warmuth '94; Freund & Schapire '97): an online portfolio over
    * the five event-type "arms" re-weights multiplicatively
    * (η = 0.1) on each hourly reward round, and its cumulative gain
    * is scored against the best FIXED arm in hindsight. Unlike UCB's
    * iid analysis, the Hedge bound regret ≤ ln k/η + ηT/8 holds for
    * ARBITRARY bounded reward sequences — so the spec can pin it
    * against this deterministic replay. q362 audits the universal
    * CODING machinery; this audits the universal DECISION machinery —
    * the pair covers both halves of online learning the engine's
    * adaptive-pipeline operators (q330 budget, q331 margin queues)
    * implicitly rely on.
    *
    * Exactness: hourly rewards are milli ints normalized by the
    * global max hourly mass; the expected-gain increment is the PURE
    * INTEGER (Σ wₐ·rₐ) div 10⁶; weights are nano-quantized every
    * round (floor(w·exp(η·r)) then floor-normalized to Σ = 10⁹), so
    * both engines walk the identical trajectory; per-arm cums are
    * exact milli ints. Empty hours are skipped — a zero-reward round
    * moves neither weights nor gains, so the statistic is unchanged.
    *
    * Scale design (100 TB): one fact pass to the (hour, type) grid —
    * bounded by the time span × 5 arms; the multiplicative-weights
    * recurrence is inherently sequential, so it runs as ONE
    * per-partition scan over the repartition(1) pivoted hour frame
    * (the q355/q164 adjudicated shape). Output ≤ ~7 checkpoint
    * rows. */
  val q365HedgeRegret: QueryDef = {
    val ARMS = banditArms
    val ETA = 0.1
    val CK = 120L // checkpoint every 120 rounds (plus the final round)
    val k = ARMS.length
    val boundMicro = s"CAST(floor(1000000.0 * (ln(${k}.0) / $ETA + " +
      s"$ETA * CAST(t AS DOUBLE) / 8.0)) AS BIGINT)"
    val armCols = ARMS.indices.map(i => s"r${i + 1}")
    // one recursion step: integer gain add, exp reweight, normalize
    def stepSql: String = {
      val gains = ARMS.indices.map(i =>
        s"st.g${i + 1} + g.r${i + 1}").mkString(", ")
      val us = ARMS.indices.map(i =>
        s"floor(CAST(st.w${i + 1} AS DOUBLE) * " +
          s"exp($ETA * CAST(g.r${i + 1} AS DOUBLE) / 1000.0))")
      val usum = us.mkString(" + ")
      val ws = us.map(u =>
        s"CAST(floor(1000000000.0 * ($u) / ($usum)) AS BIGINT)")
        .mkString(", ")
      val wr = ARMS.indices.map(i =>
        s"st.w${i + 1} * g.r${i + 1}").mkString(" + ")
      s"""SELECT g.t, $ws,
         |    st.alg + ($wr) // 1000000, $gains
         |  FROM st JOIN grid g ON g.t = st.t + 1"""
        .stripMargin
    }
    QueryDef(
      "q365_hedge_regret",
      s"""WITH RECURSIVE $banditRewardsSql,
         |st AS (
         |  SELECT CAST(0 AS BIGINT) AS t,
         |    ${ARMS.indices.map(i => s"CAST(200000000 AS BIGINT) AS w${i + 1}")
              .mkString(", ")},
         |    CAST(0 AS BIGINT) AS alg,
         |    ${ARMS.indices.map(i => s"CAST(0 AS BIGINT) AS g${i + 1}")
              .mkString(", ")}
         |  UNION ALL
         |  $stepSql)
         |SELECT st.t, st.alg AS alg_micro,
         |  1000 * greatest(${ARMS.indices.map(i => s"st.g${i + 1}")
            .mkString(", ")}) AS best_micro,
         |  1000 * greatest(${ARMS.indices.map(i => s"st.g${i + 1}")
            .mkString(", ")}) - st.alg AS regret_micro,
         |  $boundMicro AS bound_micro
         |FROM st, nt
         |WHERE st.t > 0 AND (st.t % $CK = 0 OR st.t = nt.tmax)
         |ORDER BY st.t""".stripMargin) { (s, dir) =>
      val grid = banditRewards(s, dir)
      import s.implicits._
      // multiplicative-weights scan: sequential over the bounded
      // hour axis (q355/q164 shape)
      val rows = grid.repartition(1).sortWithinPartitions("h")
        .select((col("h") +: armCols.map(col)): _*)
        .as[(Long, Long, Long, Long, Long, Long)]
        .mapPartitions { it =>
          val buf = it.toArray
          val tmax = buf.length.toLong
          val w = Array.fill(k)(200000000L)
          val g = new Array[Long](k)
          var alg = 0L
          val out = scala.collection.mutable.ArrayBuffer[
            (Long, Long, Long, Long)]()
          for ((row, idx) <- buf.zipWithIndex) {
            val t = idx + 1L
            val r = Array(row._2, row._3, row._4, row._5, row._6)
            alg += (0 until k).map(i => w(i) * r(i)).sum / 1000000L
            val u = (0 until k).map(i =>
              math.floor(w(i).toDouble * math.exp(ETA * r(i).toDouble / 1000.0)))
            val usum = u.sum
            for (i <- 0 until k)
              w(i) = math.floor(1000000000.0 * u(i) / usum).toLong
            for (i <- 0 until k) g(i) += r(i)
            if (t % CK == 0 || t == tmax) {
              val best = g.max * 1000L
              out += ((t, alg, best, best - alg))
            }
          }
          out.iterator
        }.toDF("t", "alg_micro", "best_micro", "regret_micro")
      rows.select(col("t"), col("alg_micro"), col("best_micro"),
          col("regret_micro"),
          expr(boundMicro).as("bound_micro"))
        .orderBy("t")
    }
  }

  /** q371 — two-group log-rank test (Mantel '66; the q164
    * Kaplan–Meier curve's hypothesis-test companion): do
    * HEAVY-ERROR users (per-user error count strictly above the exact
    * corpus median) churn FASTER than the rest? At every churn time t
    * the observed heavy-group deaths are compared to the
    * hypergeometric expectation d·n₁/n given the at-risk sets, and
    * the summed (O−E)²/V is χ²(1) under "the two survival curves are
    * equal" — the standard A/B readout for any retention
    * intervention, computed on the exact q164 lifetime frame (time
    * from first to last purchase, churn = 7 quiet days before the
    * horizon). (An ever-errored flag is vacuous on this feed — every
    * purchase user has errors — so the split is the median one.)
    *
    * Exactness: the median is an exact order statistic picked from
    * the (error-count, frequency) collapse by a θ-join over the
    * bounded count domain (no window, no row-level rank); at-risk
    * counts come from a bounded θ-join between the churn-time axis
    * and the per-(group, lifetime) aggregate (both calendar-bounded
    * day-axis frames); the E terms are EXACT integer floor-divs
    * (1e9·d·n₁ div n, non-negative); the V terms are one shared
    * nano-floored left-associated double chain (numerators overflow
    * int64); the final χ² is one guarded IEEE chain from the two
    * integer sums (NULL when V = 0 — a degenerate one-group corpus).
    *
    * Scale design (100 TB): the only data-sized passes are the q164
    * per-user collapse and the per-user error count; everything after
    * lives on (count-domain)² / (group × lifetime-day) aggregates.
    * Output 1 row. */
  val q371Logrank: QueryDef = {
    val vTerm = "CAST(floor(1000000000.0e0 * ((CAST(d AS DOUBLE) * " +
      "CAST(n1 AS DOUBLE) / CAST(n AS DOUBLE)) * CAST(n0 AS DOUBLE) / " +
      "CAST(n AS DOUBLE)) * CAST(n - d AS DOUBLE) / " +
      "CAST(n - 1 AS DOUBLE)) AS BIGINT)"
    val chi = "CASE WHEN v_nano > 0 THEN CAST(floor(1000.0e0 * " +
      "(CAST(diff_nano AS DOUBLE) / " +
      "1000000000.0e0) * (CAST(diff_nano AS DOUBLE) / 1000000000.0e0) / " +
      "(CAST(v_nano AS DOUBLE) / 1000000000.0e0)) AS BIGINT) END"
    QueryDef(
      "q371_logrank",
      s"""WITH u AS (
         |  SELECT user_id, min(CAST(ts AS DATE)) AS d0, max(CAST(ts AS DATE)) AS d1
         |  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
         |ue AS (
         |  SELECT user_id, CAST(count(*) FILTER (WHERE event_type = 'error')
         |    AS BIGINT) AS ec
         |  FROM events GROUP BY user_id),
         |uec AS (SELECT u.user_id, ue.ec FROM u JOIN ue USING (user_id)),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n_users FROM uec),
         |ecd AS (SELECT ec, CAST(count(*) AS BIGINT) AS cnt FROM uec GROUP BY ec),
         |med AS (
         |  SELECT min(a.ec) AS med FROM (
         |    SELECT a.ec, sum(b.cnt) AS cum
         |    FROM ecd a JOIN ecd b ON b.ec <= a.ec GROUP BY a.ec) a, nn
         |  WHERE a.cum >= (nn.n_users + 1) // 2),
         |g AS (
         |  SELECT user_id, CASE WHEN ec > med THEN 1 ELSE 0 END AS grp
         |  FROM uec, med),
         |h AS (SELECT max(CAST(ts AS DATE)) AS hz FROM events),
         |lc AS (
         |  SELECT g.grp,
         |    CAST(CASE WHEN date_diff('day', d1, hz) >= 7
         |      THEN date_diff('day', d0, d1)
         |      ELSE date_diff('day', d0, hz) END AS BIGINT) AS t,
         |    CASE WHEN date_diff('day', d1, hz) >= 7 THEN 1 ELSE 0 END AS churn
         |  FROM u JOIN g USING (user_id), h),
         |agg AS (
         |  SELECT grp, t, CAST(sum(churn) AS BIGINT) AS d,
         |    CAST(count(*) AS BIGINT) AS a
         |  FROM lc GROUP BY 1, 2),
         |dt AS (
         |  SELECT t, CAST(sum(d) AS BIGINT) AS d FROM agg GROUP BY t
         |  HAVING sum(d) > 0),
         |risk AS (
         |  SELECT dt.t, dt.d,
         |    CAST(sum(CASE WHEN agg.grp = 1 THEN agg.a ELSE 0 END) AS BIGINT) AS n1,
         |    CAST(sum(CASE WHEN agg.grp = 0 THEN agg.a ELSE 0 END) AS BIGINT) AS n0,
         |    CAST(sum(CASE WHEN agg.grp = 1 THEN agg.d ELSE 0 END)
         |      FILTER (WHERE agg.t = dt.t) AS BIGINT) AS d1g
         |  FROM dt JOIN agg ON agg.t >= dt.t
         |  GROUP BY dt.t, dt.d),
         |terms AS (
         |  SELECT d1g, (1000000000 * CAST(d AS HUGEINT) * n1) // n
         |    AS e_nano, $vTerm AS v_nano
         |  FROM (SELECT t, d, n1, n0, n1 + n0 AS n,
         |          coalesce(d1g, 0) AS d1g FROM risk) WHERE n > 1),
         |tot AS (
         |  SELECT CAST(sum(d1g) AS BIGINT) AS o1,
         |    CAST(sum(e_nano) AS BIGINT) AS e_nano,
         |    CAST(sum(v_nano) AS BIGINT) AS v_nano
         |  FROM terms),
         |sz AS (
         |  SELECT CAST(sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_err,
         |    CAST(sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_ok
         |  FROM lc)
         |SELECT sz.n_err, sz.n_ok, tot.o1 AS obs_err_churn,
         |  tot.e_nano AS exp_err_churn_nano, tot.v_nano,
         |  $chi AS chi2_milli,
         |  CASE WHEN $chi > 3841 THEN 1 ELSE 0 END AS reject_5pct
         |FROM sz, (SELECT o1, e_nano, v_nano,
         |  1000000000 * o1 - e_nano AS diff_nano FROM tot) tot""".stripMargin) {
      (s, dir) =>
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("event_type"), col("ts").cast("date").as("d"))
        .ckpt() // feeds lifetimes, the error flag, and the horizon
      val u = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"))
        .agg(min(col("d")).as("d0"), max(col("d")).as("d1"))
        .ckpt() // feeds the count frame AND the lifetime frame
      val ue = ev.groupBy(col("user_id"))
        .agg(sum(when(col("event_type") === "error", 1L).otherwise(0L))
          .as("ec"))
      val uec = u.select(col("user_id")).join(ue, Seq("user_id"))
        .ckpt() // per purchase-user error counts: median + grouping
      val nn = uec.agg(count(lit(1)).as("n_users"))
      // exact median via the distributed prefix sum over the sorted
      // (ec, count) domain — the error-count domain grows with user
      // activity, so a domain θ-join would be O(|D|²) (q385 lesson)
      val ecd = uec.groupBy(col("ec")).agg(count(lit(1)).as("cnt"))
      val med = ScaleRank.withRunningSum(ecd, Seq.empty,
          Seq(col("ec")), col("cnt"), "cum")
        .crossJoin(broadcast(nn))
        .filter(expr("cum >= (n_users + 1) div 2"))
        .agg(min(col("ec")).as("med"))
      val g = uec.crossJoin(broadcast(med))
        .select(col("user_id"),
          when(col("ec") > col("med"), 1).otherwise(0).as("grp"))
      val h = ev.agg(max(col("d")).as("hz"))
      val churned = datediff(col("hz"), col("d1")) >= 7
      val lc = u.join(g, Seq("user_id")).crossJoin(broadcast(h))
        .select(col("grp"),
          when(churned, datediff(col("d1"), col("d0")))
            .otherwise(datediff(col("hz"), col("d0"))).cast("long").as("t"),
          when(churned, 1L).otherwise(0L).as("churn"))
        .ckpt() // per-user frame: feeds agg AND group sizes
      val agg = lc.groupBy(col("grp"), col("t"))
        .agg(sum(col("churn")).as("d"), count(lit(1)).as("a"))
        .ckpt() // (group x lifetime-day) aggregate: both theta sides
      val dts = agg.groupBy(col("t")).agg(sum(col("d")).as("d"))
        .filter(col("d") > 0)
        .select(col("t").as("dt_t"), col("d").as("dt_d"))
      val risk = dts.join(agg, col("t") >= col("dt_t"))
        .groupBy(col("dt_t"), col("dt_d"))
        .agg(sum(when(col("grp") === 1, col("a")).otherwise(0L)).as("n1"),
          sum(when(col("grp") === 0, col("a")).otherwise(0L)).as("n0"),
          sum(when(col("grp") === 1 && col("t") === col("dt_t"), col("d"))
            .otherwise(0L)).as("d1g"))
      val terms = risk
        .select(col("dt_d").as("d"), col("n1"), col("n0"),
          (col("n1") + col("n0")).as("n"), coalesce(col("d1g"), lit(0L)).as("d1g"))
        .filter(col("n") > 1)
        .select(col("d1g"),
          // d·n1 through DECIMAL(38): pure int64 wraps silently once
          // d·n1 > ~9.2e9 — plausible at the 100 TB design point
          // (ADVICE r8); floor-div identical on both engines
          expr("(1000000000 * CAST(d AS DECIMAL(38,0)) * n1) div n")
            .as("e_nano"), expr(vTerm).as("v_nano"))
      val tot = terms.agg(sum(col("d1g")).as("o1"),
        sum(col("e_nano")).as("e_nano"), sum(col("v_nano")).as("v_nano"))
      val sz = lc.agg(
        sum(when(col("grp") === 1, 1L).otherwise(0L)).as("n_err"),
        sum(when(col("grp") === 0, 1L).otherwise(0L)).as("n_ok"))
      sz.crossJoin(broadcast(tot))
        .withColumn("diff_nano", lit(1000000000L) * col("o1") - col("e_nano"))
        .select(col("n_err"), col("n_ok"), col("o1").as("obs_err_churn"),
          col("e_nano").as("exp_err_churn_nano"), col("v_nano"),
          expr(chi).as("chi2_milli"),
          when(expr(chi) > 3841, 1).otherwise(0).as("reject_5pct"))
    }
  }

  /** q375 — UCB1 bandit replay (Auer–Cesa-Bianchi–Fischer '02) over
    * the five event-type arms on hourly reward rounds: the
    * optimism-in-the-face-of-uncertainty index
    * mean_a + √(2 ln t / n_a) picks an arm each hour, and cumulative
    * gain is scored against the best fixed arm in hindsight — the
    * iid-analysis counterpart of q365's adversarial Hedge (the pair
    * brackets the two classical bandit regimes; q362 covers coding).
    * This is the allocation logic behind adaptive pipeline routing
    * (which quality filter / which source to sample next).
    *
    * Exactness: rewards are the q365 milli grid; the index is
    * mean_micro = (1000·g_a) div n_a (pure integer) plus ONE
    * floor-micro sqrt/ln chain per arm per round — both engines walk
    * the identical trajectory; ties break toward the lower arm index;
    * the first k rounds play each arm once (the UCB1 init).
    *
    * Scale design (100 TB): identical to q365 — one fact collapse to
    * the (hour × 5) grid, then an inherently-sequential scan over the
    * repartition(1) time-span-bounded frame (adjudicated); the oracle
    * walks the same recurrence as a recursive CTE. Output ≤ ~7
    * checkpoint rows. */
  val q375UcbRegret: QueryDef = {
    val ARMS = banditArms
    val k = ARMS.length
    val CK = 120L
    val armCols = ARMS.indices.map(i => s"r${i + 1}")
    // null-guarded UCB index (unplayed arms only occur in the forced
    // init rounds, where the pick CASE never reads these)
    def idxSql(i: Int): String =
      s"(CASE WHEN st.n$i = 0 THEN NULL ELSE " +
        s"(1000 * st.g$i) // st.n$i + " +
        s"CAST(floor(1000000.0e0 * sqrt(2.0e0 * ln(CAST(st.t + 1 AS DOUBLE))" +
        s" / CAST(st.n$i AS DOUBLE))) AS BIGINT) END)"
    def stepSql: String = {
      val mx = s"greatest(${(1 to k).map(idxSql).mkString(", ")})"
      val pick = s"(CASE WHEN st.t + 1 <= $k THEN st.t + 1 " +
        (1 to k).map(i => s"WHEN ${idxSql(i)} = $mx THEN $i").mkString(" ") +
        " END)"
      val ns = (1 to k).map(i =>
        s"st.n$i + CASE WHEN $pick = $i THEN 1 ELSE 0 END").mkString(", ")
      val gs = (1 to k).map(i =>
        s"st.g$i + CASE WHEN $pick = $i THEN g.r$i ELSE 0 END").mkString(", ")
      val cs = (1 to k).map(i => s"st.c$i + g.r$i").mkString(", ")
      val rPick = (1 to k).map(i =>
        s"CASE WHEN $pick = $i THEN g.r$i ELSE 0 END").mkString(" + ")
      s"""SELECT g.t, $ns, st.alg + ($rPick), $gs, $cs
         |  FROM st JOIN grid g ON g.t = st.t + 1"""
        .stripMargin
    }
    QueryDef(
      "q375_ucb_regret",
      s"""WITH RECURSIVE $banditRewardsSql,
         |st AS (
         |  SELECT CAST(0 AS BIGINT) AS t,
         |    ${(1 to k).map(i => s"CAST(0 AS BIGINT) AS n$i").mkString(", ")},
         |    CAST(0 AS BIGINT) AS alg,
         |    ${(1 to k).map(i => s"CAST(0 AS BIGINT) AS g$i").mkString(", ")},
         |    ${(1 to k).map(i => s"CAST(0 AS BIGINT) AS c$i").mkString(", ")}
         |  UNION ALL
         |  $stepSql)
         |SELECT st.t, st.alg AS alg_milli,
         |  greatest(${(1 to k).map(i => s"st.c$i").mkString(", ")})
         |    AS best_arm_milli,
         |  ${(1 to k).map(i => s"st.n$i").mkString(" + ")} AS n_plays
         |FROM st, nt
         |WHERE st.t > 0 AND (st.t % $CK = 0 OR st.t = nt.tmax)
         |ORDER BY st.t""".stripMargin) { (s, dir) =>
      val grid = banditRewards(s, dir)
      import s.implicits._
      val rows = grid.repartition(1).sortWithinPartitions("h")
        .select((col("h") +: armCols.map(col)): _*)
        .as[(Long, Long, Long, Long, Long, Long)]
        .mapPartitions { it =>
          val buf = it.toArray
          val tmax = buf.length.toLong
          val n = new Array[Long](k)
          val g = new Array[Long](k)
          var alg = 0L
          val out = scala.collection.mutable.ArrayBuffer[
            (Long, Long, Long, Long)]()
          for ((row, idx) <- buf.zipWithIndex) {
            val t = idx + 1L
            val r = Array(row._2, row._3, row._4, row._5, row._6)
            val p =
              if (t <= k) (t - 1).toInt
              else {
                val idxs = (0 until k).map { i =>
                  (1000L * g(i)) / n(i) +
                    math.floor(1000000.0 * math.sqrt(
                      2.0 * math.log(t.toDouble) / n(i).toDouble)).toLong
                }
                val mx = idxs.max
                idxs.indexWhere(_ == mx)
              }
            n(p) += 1
            g(p) += r(p)
            alg += r(p)
            if (t % CK == 0 || t == tmax) {
              // hindsight best arm = max cumulative reward had one arm
              // been played every round so far
              out += ((t, alg, 0L, n.sum))
            }
          }
          // hindsight totals need the FULL per-arm sums; recompute in
          // the same pass (buf is already materialized)
          val cum = new Array[Long](k)
          var ci = 0
          val bestAt = scala.collection.mutable.Map[Long, Long]()
          for ((row, idx) <- buf.zipWithIndex) {
            val t = idx + 1L
            val r = Array(row._2, row._3, row._4, row._5, row._6)
            for (i <- 0 until k) cum(i) += r(i)
            if (t % CK == 0 || t == tmax) bestAt(t) = cum.max
          }
          ci = 0
          out.iterator.map { case (t, a, _, np) => (t, a, bestAt(t), np) }
        }.toDF("t", "alg_milli", "best_arm_milli", "n_plays")
      rows.orderBy("t")
    }
  }

  /** q376 — Markov entropy rate of the per-user event stream
    * (Shannon '48 §7; Cover & Thomas ch.4): the stationary
    * distribution π of q109's transition matrix (8 integer-quantized
    * power-iteration rounds, the q65 discipline) weights each row's
    * conditional entropy H(X'|X=i) to give
    * H_rate = −Σᵢ πᵢ Σⱼ pᵢⱼ ln pᵢⱼ — bits-per-event of the session
    * PROCESS, reported next to the iid marginal entropy H₀(π). The
    * gap H₀ − H_rate is exactly how much the Markov structure
    * compresses (the justification for q215's conditional LM over a
    * unigram one); conditioning-reduces-entropy (rate ≤ H₀) is pinned
    * in the spec.
    *
    * Exactness: transition probs are exact ppm floor-divs; π updates
    * are per-edge (πᵢ·pᵢⱼ) div 10⁶ integer contributions (order-free);
    * every entropy term is an independently nano-floored
    * p·(−ln p) chain — both engines produce identical BIGINTs, so the
    * oracle's recursive CTE replays the power iteration bit-for-bit.
    *
    * Scale design (100 TB): one per-user lead window (partitioned by
    * the shuffle key) collapses the stream to the |types|² count
    * matrix; the iteration and all entropy algebra live on that
    * ≤25-row frame. Output |types| rows. */
  val q376EntropyRate: QueryDef = {
    val R = 8
    val nanoEnt = (p: String) => s"CAST(floor(1000000000.0e0 * " +
      s"(CAST($p AS DOUBLE) / 1000000.0e0) * " +
      s"(0.0e0 - ln(CAST($p AS DOUBLE) / 1000000.0e0))) AS BIGINT)"
    QueryDef(
      "q376_entropy_rate",
      s"""WITH RECURSIVE o AS (
         |  SELECT user_id, event_type AS src,
         |    lead(event_type) OVER (PARTITION BY user_id
         |      ORDER BY ts, event_id) AS dst
         |  FROM events),
         |c0 AS (
         |  SELECT src, dst, CAST(count(*) AS BIGINT) AS n
         |  FROM o WHERE dst IS NOT NULL GROUP BY src, dst),
         |tot AS (SELECT src, CAST(sum(n) AS BIGINT) AS nt FROM c0 GROUP BY src),
         |c AS MATERIALIZED (
         |  SELECT c0.src, c0.dst, (1000000 * c0.n) // tot.nt AS p_ppm
         |  FROM c0 JOIN tot USING (src)),
         |pr(iter, state, pi) AS (
         |  SELECT 0, src, CAST(200000 AS BIGINT) FROM tot
         |  UNION ALL
         |  SELECT pr.iter + 1, c.dst,
         |    CAST(sum((pr.pi * c.p_ppm) // 1000000) AS BIGINT)
         |  FROM pr JOIN c ON c.src = pr.state
         |  WHERE pr.iter < $R GROUP BY 1, 2),
         |pif AS (SELECT state, pi FROM pr WHERE iter = $R),
         |hrow AS (
         |  SELECT src AS state, CAST(sum(${nanoEnt("p_ppm")}) AS BIGINT) AS h_nano
         |  FROM c GROUP BY src),
         |rate AS (
         |  SELECT CAST(sum((pif.pi * hrow.h_nano) // 1000000) AS BIGINT)
         |    AS rate_nano
         |  FROM pif JOIN hrow USING (state)),
         |h0 AS (
         |  SELECT CAST(sum(CASE WHEN pi > 0 THEN ${nanoEnt("pi")}
         |    ELSE 0 END) AS BIGINT) AS h0_nano
         |  FROM pif)
         |SELECT pif.state, pif.pi AS pi_ppm, hrow.h_nano AS h_row_nano,
         |  rate.rate_nano, h0.h0_nano
         |FROM pif JOIN hrow USING (state), rate, h0
         |ORDER BY pif.state""".stripMargin) { (s, dir) =>
      val perUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val c0 = Tables.events(s, dir)
        .select(col("user_id"), col("event_type").as("src"), col("ts"),
          col("event_id"))
        .withColumn("dst", lead(col("src"), 1).over(perUser))
        .filter(col("dst").isNotNull)
        .groupBy(col("src"), col("dst"))
        .agg(count(lit(1)).as("n"))
      val tot = c0.groupBy(col("src")).agg(sum(col("n")).as("nt"))
      val c = c0.join(tot, Seq("src"))
        .select(col("src"), col("dst"),
          expr("(1000000 * n) div nt").as("p_ppm"))
        .ckpt() // the <=|types|^2 matrix every round reads
      val entTerm = (p: String) => expr(nanoEnt(p))
      var pi = tot.select(col("src").as("state"), lit(200000L).as("pi"))
      for (_ <- 1 to R)
        pi = broadcast(pi).join(c, col("state") === col("src"))
          .select(col("dst"), expr("(pi * p_ppm) div 1000000").as("contrib"))
          .groupBy(col("dst").as("state"))
          .agg(sum(col("contrib")).cast("bigint").as("pi"))
      val pif = pi.ckpt() // feeds the rate, H0, and the output rows
      val hrow = c.groupBy(col("src").as("state"))
        .agg(sum(entTerm("p_ppm")).cast("bigint").as("h_nano"))
      val rate = pif.join(hrow, Seq("state"))
        .agg(sum(expr("(pi * h_nano) div 1000000")).cast("bigint")
          .as("rate_nano"))
      val h0 = pif.agg(sum(when(col("pi") > 0, entTerm("pi"))
        .otherwise(0L)).cast("bigint").as("h0_nano"))
      pif.join(hrow, Seq("state"))
        .crossJoin(broadcast(rate)).crossJoin(broadcast(h0))
        .select(col("state"), col("pi").as("pi_ppm"),
          col("h_nano").as("h_row_nano"), col("rate_nano"), col("h0_nano"))
        .orderBy("state")
    }
  }

  /** q377 — propensity-stratified treatment-effect estimate
    * (Rosenbaum–Rubin '83 subclassification; the estimator is
    * algebraically IPW with within-stratum propensities): does heavy
    * error exposure (above-median error count, q371's split) CAUSE
    * fewer purchases? The naive treated-vs-control mean difference is
    * confounded by activity (active users have more of BOTH), so
    * users are subclassified into activity quintiles (exact
    * order-statistic cuts on the total-event-count domain) and the
    * within-stratum differences are averaged with stratum weights —
    * the observational-causal sibling of q210 (DiD) / q266 (CUPED) /
    * q313 (balance): those audit or adjust experiments, this adjusts
    * a non-experiment.
    *
    * Exactness: quintile cuts and the median are exact order
    * statistics picked by [[ScaleRank.withRunningSum]] prefix counts
    * over the (value, count) domain collapses (no windows, no domain
    * θ-joins); each stratum's mean difference is one nano-floored
    * IEEE chain over integer sums; the weighted average is integer
    * (nₛ·term) div N over usable strata (both arms present).
    *
    * Scale design (100 TB): two per-user collapses (counts, outcome);
    * cumulative counts ride the distributed two-level prefix sum
    * (the ec/tot domains grow with user activity — a θ-join would be
    * O(|D|²)); every subsequent frame is domain-linear or 5-row.
    * Output 1 row. */
  val q377IpwAte: QueryDef = {
    val dTerm = "CAST(floor(1000000000.0e0 * (CAST(sy1 AS DOUBLE) / " +
      "CAST(nt AS DOUBLE) - CAST(sy0 AS DOUBLE) / CAST(nc AS DOUBLE))) " +
      "AS BIGINT)"
    val naive = "CAST(floor(1000000000.0e0 * (CAST(ty1 AS DOUBLE) / " +
      "CAST(tn1 AS DOUBLE) - CAST(ty0 AS DOUBLE) / CAST(tn0 AS DOUBLE))) " +
      "AS BIGINT)"
    QueryDef(
      "q377_ipw_ate",
      s"""WITH u AS (
         |  SELECT user_id, CAST(count(*) AS BIGINT) AS tot,
         |    CAST(count(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS ec,
         |    CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS y
         |  FROM events GROUP BY user_id),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM u),
         |ecd AS (SELECT ec, CAST(count(*) AS BIGINT) AS cnt FROM u GROUP BY ec),
         |med AS (
         |  SELECT min(a.ec) AS med FROM (
         |    SELECT a.ec, sum(b.cnt) AS cum
         |    FROM ecd a JOIN ecd b ON b.ec <= a.ec GROUP BY a.ec) a, nn
         |  WHERE a.cum >= (nn.n + 1) // 2),
         |totd AS (SELECT tot, CAST(count(*) AS BIGINT) AS cnt FROM u GROUP BY tot),
         |cuts AS (
         |  SELECT q.q, min(a.tot) AS cut FROM (
         |    SELECT a.tot, sum(b.cnt) AS cum
         |    FROM totd a JOIN totd b ON b.tot <= a.tot GROUP BY a.tot) a,
         |    (SELECT unnest([1, 2, 3, 4]) AS q) q, nn
         |  WHERE a.cum >= (q.q * nn.n + 4) // 5
         |  GROUP BY q.q),
         |su AS (
         |  SELECT u.user_id, u.y,
         |    CASE WHEN u.ec > med.med THEN 1 ELSE 0 END AS t,
         |    1 + CAST(sum(CASE WHEN u.tot > cuts.cut THEN 1 ELSE 0 END)
         |      AS BIGINT) AS strat
         |  FROM u, med, cuts
         |  GROUP BY u.user_id, u.y, u.ec, med.med, u.tot),
         |st AS (
         |  SELECT strat,
         |    CAST(sum(t) AS BIGINT) AS nt,
         |    CAST(sum(1 - t) AS BIGINT) AS nc,
         |    CAST(sum(CASE WHEN t = 1 THEN y ELSE 0 END) AS BIGINT) AS sy1,
         |    CAST(sum(CASE WHEN t = 0 THEN y ELSE 0 END) AS BIGINT) AS sy0
         |  FROM su GROUP BY strat),
         |used AS (SELECT * FROM st WHERE nt > 0 AND nc > 0),
         |ate AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_strata_used,
         |    CAST(sum(nt + nc) AS BIGINT) AS n_used,
         |    CAST(sum((nt + nc) * $dTerm) AS BIGINT) AS wsum
         |  FROM used),
         |nv AS (
         |  SELECT CAST(sum(t) AS BIGINT) AS tn1,
         |    CAST(sum(1 - t) AS BIGINT) AS tn0,
         |    CAST(sum(CASE WHEN t = 1 THEN y ELSE 0 END) AS BIGINT) AS ty1,
         |    CAST(sum(CASE WHEN t = 0 THEN y ELSE 0 END) AS BIGINT) AS ty0
         |  FROM su)
         |SELECT nn.n AS n_users, nv.tn1 AS n_treated,
         |  ate.n_strata_used, ate.n_used,
         |  CAST(ate.wsum // ate.n_used AS BIGINT) AS ate_nano,
         |  $naive AS naive_nano
         |FROM nn, nv, ate""".stripMargin) { (s, dir) =>
      val u = Tables.events(s, dir)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("tot"),
          sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("ec"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("y"))
        .ckpt() // one per-user collapse feeds every frame below
      val nn = u.agg(count(lit(1)).as("n"))
      // cumulative counts over the sorted (value, count) domains via
      // the distributed two-level prefix sum (q379/q385 discipline) —
      // the per-user count/total domains grow with user activity, so
      // a (value,count)² θ-join would be O(|D|²)
      val ecd = u.groupBy(col("ec")).agg(count(lit(1)).as("cnt"))
      val med = graft.operators.ScaleRank.withRunningSum(ecd, Seq.empty,
          Seq(col("ec")), col("cnt"), "cum")
        .crossJoin(broadcast(nn))
        .filter(expr("cum >= (n + 1) div 2"))
        .agg(min(col("ec")).as("med"))
      val totd = u.groupBy(col("tot")).agg(count(lit(1)).as("cnt"))
      import s.implicits._
      val cuts = graft.operators.ScaleRank.withRunningSum(totd, Seq.empty,
          Seq(col("tot")), col("cnt"), "cum")
        .crossJoin(broadcast(Seq(1L, 2L, 3L, 4L).toDF("q")))
        .crossJoin(broadcast(nn))
        .filter(expr("cum >= (q * n + 4) div 5"))
        .groupBy(col("q")).agg(min(col("tot")).as("cut"))
      val su = u.crossJoin(broadcast(med))
        .crossJoin(broadcast(cuts.agg(
          sum(lit(1)).as("nq"),
          collect_list(col("cut")).as("cs"))))
        .select(col("y"),
          when(col("ec") > col("med"), 1L).otherwise(0L).as("t"),
          expr("CAST(1 + size(filter(cs, c -> tot > c)) AS BIGINT)")
            .as("strat"))
        .ckpt() // per-user (outcome, arm, stratum) frame
      val st = su.groupBy(col("strat"))
        .agg(sum(col("t")).as("nt"), sum(lit(1L) - col("t")).as("nc"),
          sum(when(col("t") === 1, col("y")).otherwise(0L)).as("sy1"),
          sum(when(col("t") === 0, col("y")).otherwise(0L)).as("sy0"))
      val used = st.filter(col("nt") > 0 && col("nc") > 0)
      val ate = used.agg(count(lit(1)).as("n_strata_used"),
        sum(col("nt") + col("nc")).as("n_used"),
        sum((col("nt") + col("nc")) * expr(dTerm)).cast("bigint").as("wsum"))
      val nv = su.agg(sum(col("t")).as("tn1"),
        sum(lit(1L) - col("t")).as("tn0"),
        sum(when(col("t") === 1, col("y")).otherwise(0L)).as("ty1"),
        sum(when(col("t") === 0, col("y")).otherwise(0L)).as("ty0"))
      nn.crossJoin(broadcast(nv)).crossJoin(broadcast(ate))
        .select(col("n").as("n_users"), col("tn1").as("n_treated"),
          col("n_strata_used"), col("n_used"),
          expr("wsum div n_used").cast("bigint").as("ate_nano"),
          expr(naive).as("naive_nano"))
    }
  }

  /** q387 — Ljung–Box portmanteau test (Ljung & Box '78) on the daily
    * revenue series, h = 10 lags: Q = n(n+2)·Σ r_k²/(n−k) against
    * χ²(h) — "is there ANY autocorrelation left," the one-number
    * whiteness gate a forecasting pipeline runs on its residuals
    * (q163 reports the per-lag ACF; this is the joint test of all of
    * them, with the proper fixed-mean autocovariance r_k = c_k/c₀
    * rather than q163's per-lag Pearson).
    *
    * Exactness: deviations are n-scaled integers (n·x_t − S), lag
    * covariances ride DECIMAL(38)/HUGEINT products; r_k is one
    * floor-micro double chain per lag (c_k/c₀ — signed, so integer
    * div is OFF-LIMITS: Spark truncates, DuckDB floors); each Q term
    * r²_micro div (1000(n−k)) is then exact non-negative integer
    * arithmetic, and the final scale rides a DECIMAL div.
    *
    * Scale design (100 TB): one fact collapse to the day axis; lags
    * are 10 calendar equi-joins of that bounded frame against itself;
    * everything else is ≤10-row algebra. Output 10 rows +
    * constants. */
  val q387LjungBox: QueryDef = {
    val H = 10
    // nullif: a constant revenue series zeroes the lag-0
    // autocovariance (autocorrelation undefined); ANSI Spark would
    // throw where DuckDB natively NULLs (shared string, parsed by
    // both; degenerate-corpus probe)
    val rChain = "CAST(floor(1000000.0e0 * CAST(ck AS DOUBLE) / " +
      "nullif(CAST(c0 AS DOUBLE), 0)) AS BIGINT)"
    QueryDef(
      "q387_ljung_box",
      s"""WITH ${DayAxis.revCentsSql("x")},
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(x) AS BIGINT) AS sx FROM daily),
         |dev AS (
         |  SELECT d, CAST(nn.n AS HUGEINT) * x - nn.sx AS e FROM daily, nn),
         |c0 AS (SELECT CAST(sum(e * e) AS HUGEINT) AS c0 FROM dev),
         |ck AS (
         |  SELECT l.lag, CAST(sum(a.e * b.e) AS HUGEINT) AS ck
         |  FROM dev a
         |  CROSS JOIN (SELECT CAST(unnest(range(1, ${H + 1})) AS BIGINT)
         |    AS lag) l
         |  JOIN dev b ON b.d = a.d + CAST(l.lag AS INTEGER)
         |  GROUP BY l.lag),
         |r AS (
         |  SELECT lag, $rChain AS r_micro FROM ck, c0),
         |terms AS (
         |  SELECT lag, r_micro,
         |    (r_micro * r_micro) // (1000 * (nn.n - lag)) AS t
         |  FROM r, nn),
         |q AS (
         |  SELECT CAST((CAST(nn.n AS HUGEINT) * (nn.n + 2) *
         |    (SELECT sum(t) FROM terms)) // 1000000 AS BIGINT) AS q_milli
         |  FROM nn)
         |SELECT terms.lag, terms.r_micro, q.q_milli,
         |  CASE WHEN q.q_milli > 18307 THEN 1 ELSE 0 END AS reject_5pct
         |FROM terms, q ORDER BY terms.lag""".stripMargin) { (s, dir) =>
      val daily = DayAxis.revCents(s, dir)
        .select(col("d"), col("rev").as("x"))
      val nn = daily.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"))
      val dev = daily.crossJoin(broadcast(nn))
        .select(col("d"),
          (col("n").cast("decimal(38,0)") * col("x") - col("sx")).as("e"),
          col("n"))
        .ckpt() // both sides of all ten lag joins
      val c0 = dev.agg(sum(col("e") * col("e")).as("c0"))
      import s.implicits._
      val lags = (1 to H).map(_.toLong).toDF("lag")
      val ck = dev.crossJoin(broadcast(lags))
        .withColumn("d2", expr("date_add(d, CAST(lag AS INT))"))
        .select(col("lag"), col("d2"), col("e").as("ea"))
        .join(dev.select(col("d").as("d2"), col("e").as("eb")), Seq("d2"))
        .groupBy(col("lag"))
        .agg(sum(col("ea") * col("eb")).as("ck"))
      val r = ck.crossJoin(broadcast(c0))
        .select(col("lag"), expr(rChain).as("r_micro"))
      val terms = r.crossJoin(broadcast(nn))
        .select(col("lag"), col("r_micro"),
          expr("(r_micro * r_micro) div (1000 * (n - lag))").as("t"))
        .ckpt() // 10 rows: feeds Q AND the output
      val q = terms.agg(sum(col("t")).as("st")).crossJoin(broadcast(nn))
        .select(expr("CAST((CAST(n AS DECIMAL(38,0)) * (n + 2) * st) div " +
          "1000000 AS BIGINT)").as("q_milli"))
      terms.crossJoin(broadcast(q))
        .select(col("lag"), col("r_micro"), col("q_milli"),
          when(col("q_milli") > 18307, 1).otherwise(0).as("reject_5pct"))
        .orderBy("lag")
    }
  }

  /** q397 — Nelson–Aalen cumulative-hazard estimator (Nelson '72;
    * Aalen '78) with the Klein variance over the purchase-user
    * lifetime frame: H(t) = Σ_{s≤t} d_s/n_s — the hazard-scale
    * companion to q164's Kaplan–Meier (KM multiplies survival;
    * NA sums hazard, is defined with zero-width risk sets, and is
    * what q371's log-rank E/V terms integrate). The emitted curve is
    * the "instantaneous churn pressure so far" a retention dashboard
    * plots next to KM.
    *
    * Exactness: lifetimes and censoring reuse q371's exact day
    * arithmetic (7-day horizon rule); at-risk counts n_s come from
    * ONE suffix identity n_s = N − (cum_{≤s} − a_s) over the
    * [[ScaleRank.withRunningSum]] prefix (no windows); each hazard
    * increment (10⁹·d) div n and Klein term (10⁹·d·(n−d)) div n³ is
    * an exact truncating div on non-negative DECIMAL(38) operands;
    * the cumulative curves are a second exact prefix sum.
    *
    * Scale design (100 TB): one per-user collapse, one lifetime-day
    * aggregate (calendar-bounded axis ≤ span days), two distributed
    * prefix passes on that bounded frame. Output ≤ |event days|
    * rows. */
  val q397NelsonAalen: QueryDef = QueryDef(
    "q397_nelson_aalen",
    """WITH u AS (
      |  SELECT user_id, min(CAST(ts AS DATE)) AS d0, max(CAST(ts AS DATE)) AS d1
      |  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
      |h AS (SELECT max(CAST(ts AS DATE)) AS hz FROM events),
      |lc AS (
      |  SELECT
      |    CAST(CASE WHEN date_diff('day', d1, hz) >= 7
      |      THEN date_diff('day', d0, d1)
      |      ELSE date_diff('day', d0, hz) END AS BIGINT) AS t,
      |    CASE WHEN date_diff('day', d1, hz) >= 7 THEN 1 ELSE 0 END AS churn
      |  FROM u, h),
      |agg AS (
      |  SELECT t, CAST(sum(churn) AS BIGINT) AS d,
      |    CAST(count(*) AS BIGINT) AS a
      |  FROM lc GROUP BY t),
      |ar AS (
      |  SELECT t, d, a,
      |    CAST(sum(a) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)
      |      AS BIGINT) AS cuma,
      |    (SELECT CAST(sum(a) AS BIGINT) FROM agg) AS tot
      |  FROM agg),
      |terms AS (
      |  SELECT t, d, tot - (cuma - a) AS n,
      |    CAST((1000000000 * CAST(d AS HUGEINT)) // (tot - (cuma - a))
      |      AS BIGINT) AS h_term,
      |    CAST((1000000000 * CAST(d AS HUGEINT) * (tot - (cuma - a) - d))
      |      // (CAST(tot - (cuma - a) AS HUGEINT) * (tot - (cuma - a))
      |         * (tot - (cuma - a))) AS BIGINT) AS v_term
      |  FROM ar WHERE d > 0)
      |SELECT t AS lifetime_days, d AS n_churn, n AS n_at_risk,
      |  CAST(sum(h_term) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)
      |    AS BIGINT) AS na_nano,
      |  CAST(sum(v_term) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)
      |    AS BIGINT) AS var_nano
      |FROM terms ORDER BY t""".stripMargin) { (s, dir) =>
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val ev = Tables.events(s, dir)
    val u = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(min(col("ts").cast("date")).as("d0"),
        max(col("ts").cast("date")).as("d1"))
    val h = ev.agg(max(col("ts").cast("date")).as("hz"))
    val lc = u.crossJoin(broadcast(h))
      .select(
        when(datediff(col("hz"), col("d1")) >= 7,
          datediff(col("d1"), col("d0")).cast("long"))
          .otherwise(datediff(col("hz"), col("d0")).cast("long")).as("t"),
        when(datediff(col("hz"), col("d1")) >= 7, 1L).otherwise(0L)
          .as("churn"))
    val agg = lc.groupBy(col("t"))
      .agg(sum(col("churn")).as("d"), count(lit(1)).as("a"))
      .ckpt() // lifetime-day frame (calendar-bounded axis)
    val tot = agg.agg(sum(col("a")).as("tot"))
    val ar = ScaleRank.withRunningSum(agg, Seq.empty, Seq(col("t")),
        col("a"), "cuma")
      .crossJoin(broadcast(tot))
    val terms = ar.filter(col("d") > 0)
      .select(col("t"), col("d"),
        (col("tot") - (col("cuma") - col("a"))).as("n"))
      .select(col("t"), col("d"), col("n"),
        expr("CAST((1000000000 * CAST(d AS DECIMAL(38,0))) div n AS BIGINT)")
          .as("h_term"),
        expr("CAST((1000000000 * CAST(d AS DECIMAL(38,0)) * (n - d)) div " +
          "(CAST(n AS DECIMAL(38,0)) * n * n) AS BIGINT)").as("v_term"))
    val curves = ScaleRank.withRunningSum(
      ScaleRank.withRunningSum(terms, Seq.empty, Seq(col("t")),
        col("h_term"), "na_nano"),
      Seq.empty, Seq(col("t")), col("v_term"), "var_nano")
    curves.select(col("t").as("lifetime_days"), col("d").as("n_churn"),
        col("n").as("n_at_risk"), col("na_nano"), col("var_nano"))
      .orderBy("lifetime_days")
  }

  /** q398 — Mantel–Haenszel common odds ratio + Cochran–MH test
    * (Mantel & Haenszel '59) for the purchase outcome by an
    * md5-assigned user cohort, stratified by weekday: OR_MH =
    * Σ(aᵢdᵢ/nᵢ) / Σ(bᵢcᵢ/nᵢ) with the continuity-corrected CMH χ² —
    * the stratified 2×2 workhorse that answers "does the cohort
    * effect survive controlling for the weekday mix" (q264's McNemar
    * is the PAIRED 2×2; q377's IPW handles continuous confounders;
    * MH is the classic discrete-stratum pooling).
    *
    * Exactness: the 7 per-stratum 2×2 cells are exact conditional
    * counts (cohort = md5 split — the q370 discipline, portable to
    * the oracle via the same hex-prefix arithmetic); each stratum's
    * ad/n, bc/n, E = n₁m₁/n, and V = n₁n₀m₁m₀/(n²(n−1)) terms are
    * exact truncating divs in nano units on DECIMAL(38); the χ² and
    * OR readouts are ONE guarded IEEE chain each over the exact
    * integer sums.
    *
    * Scale design (100 TB): one conditional-count aggregate over the
    * fact (map-side combinable to 7 rows); everything downstream is
    * a 7-row frame. The nano-scaled V term keeps DECIMAL(38) headroom
    * to ~10⁷ events per stratum-arm; beyond that the same identity
    * drops to micro units. Output 1 row. */
  val q398MantelHaenszel: QueryDef = QueryDef(
    "q398_mantel_haenszel",
    """WITH ev AS (
      |  SELECT
      |    CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
      |      AS BIGINT) % 7 AS wd,
      |    ('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
      |      % 2 AS e,
      |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      |  FROM events),
      |ct AS (
      |  SELECT wd,
      |    CAST(sum(CASE WHEN e = 1 AND y = 1 THEN 1 ELSE 0 END) AS HUGEINT)
      |      AS a,
      |    CAST(sum(CASE WHEN e = 1 AND y = 0 THEN 1 ELSE 0 END) AS HUGEINT)
      |      AS b,
      |    CAST(sum(CASE WHEN e = 0 AND y = 1 THEN 1 ELSE 0 END) AS HUGEINT)
      |      AS c,
      |    CAST(sum(CASE WHEN e = 0 AND y = 0 THEN 1 ELSE 0 END) AS HUGEINT)
      |      AS d,
      |    CAST(count(*) AS HUGEINT) AS n
      |  FROM ev GROUP BY wd),
      |s AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_strata,
      |    CAST(sum((1000000000 * a * d) // n) AS BIGINT) AS r_nano,
      |    CAST(sum((1000000000 * b * c) // n) AS BIGINT) AS s_nano,
      |    CAST(sum(1000000000 * a) AS BIGINT) AS sa_nano,
      |    CAST(sum((1000000000 * (a + b) * (a + c)) // n) AS BIGINT)
      |      AS se_nano,
      |    CAST(sum((1000000000 * (a + b) * (c + d) * (a + c) * (b + d))
      |      // (n * n * (n - 1))) AS BIGINT) AS sv_nano
      |  FROM ct WHERE n > 1)
      |SELECT n_strata,
      |  CAST((1000 * CAST(r_nano AS HUGEINT)) // s_nano AS BIGINT)
      |    AS or_mh_milli,
      |  CAST(floor(1000.0e0 *
      |    greatest(0.0e0, abs(CAST(sa_nano AS DOUBLE)
      |      - CAST(se_nano AS DOUBLE)) - 500000000.0e0)
      |    * greatest(0.0e0, abs(CAST(sa_nano AS DOUBLE)
      |      - CAST(se_nano AS DOUBLE)) - 500000000.0e0)
      |    / (1000000000.0e0 * CAST(sv_nano AS DOUBLE))) AS BIGINT)
      |    AS chi2_milli,
      |  CASE WHEN floor(1000.0e0 *
      |    greatest(0.0e0, abs(CAST(sa_nano AS DOUBLE)
      |      - CAST(se_nano AS DOUBLE)) - 500000000.0e0)
      |    * greatest(0.0e0, abs(CAST(sa_nano AS DOUBLE)
      |      - CAST(se_nano AS DOUBLE)) - 500000000.0e0)
      |    / (1000000000.0e0 * CAST(sv_nano AS DOUBLE))) > 3841
      |    THEN 1 ELSE 0 END AS reject_5pct
      |FROM s WHERE s_nano > 0 AND sv_nano > 0""".stripMargin) { (s, dir) =>
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val ev = Tables.events(s, dir).select(
      (datediff(col("ts").cast("date"), lit("1970-01-01")).cast("bigint") % 7)
        .as("wd"),
      expr("cast(conv(substring(md5(cast(user_id as string)), 1, 15), 16, " +
        "10) as bigint) % 2").as("e"),
      when(col("event_type") === "purchase", 1L).otherwise(0L).as("y"))
    val ct = ev.groupBy(col("wd")).agg(
      dec(sum(when(col("e") === 1 && col("y") === 1, 1L).otherwise(0L)))
        .as("a"),
      dec(sum(when(col("e") === 1 && col("y") === 0, 1L).otherwise(0L)))
        .as("b"),
      dec(sum(when(col("e") === 0 && col("y") === 1, 1L).otherwise(0L)))
        .as("c"),
      dec(sum(when(col("e") === 0 && col("y") === 0, 1L).otherwise(0L)))
        .as("d"),
      dec(count(lit(1))).as("n"))
    val sums = ct.filter(col("n") > 1).agg(
      count(lit(1)).cast("bigint").as("n_strata"),
      sum(expr("(1000000000 * a * d) div n")).cast("bigint").as("r_nano"),
      sum(expr("(1000000000 * b * c) div n")).cast("bigint").as("s_nano"),
      sum(expr("1000000000 * a")).cast("bigint").as("sa_nano"),
      sum(expr("(1000000000 * (a + b) * (a + c)) div n")).cast("bigint")
        .as("se_nano"),
      sum(expr("(1000000000 * (a + b) * (c + d) * (a + c) * (b + d)) div " +
        "(n * n * (n - 1))")).cast("bigint").as("sv_nano"))
    val chi = "floor(1000.0e0 * " +
      "greatest(0.0e0, abs(CAST(sa_nano AS DOUBLE) " +
      "- CAST(se_nano AS DOUBLE)) - 500000000.0e0) " +
      "* greatest(0.0e0, abs(CAST(sa_nano AS DOUBLE) " +
      "- CAST(se_nano AS DOUBLE)) - 500000000.0e0) " +
      "/ (1000000000.0e0 * CAST(sv_nano AS DOUBLE)))"
    sums.filter(col("s_nano") > 0 && col("sv_nano") > 0)
      .select(col("n_strata"),
        expr("CAST((1000 * CAST(r_nano AS DECIMAL(38,0))) div s_nano " +
          "AS BIGINT)").as("or_mh_milli"),
        expr(s"CAST($chi AS BIGINT)").as("chi2_milli"),
        expr(s"CASE WHEN $chi > 3841 THEN 1 ELSE 0 END").as("reject_5pct"))
  }

  /** q444 — group-sequential conversion monitor with O'Brien–Fleming
    * boundaries: test H₀ "purchase share = 20%" (the generator's
    * uniform-mix null) at five interim looks — after 20%, 40%, …,
    * 100% of the ts-ordered event stream — against the classical
    * OBF two-sided α=0.05 boundaries for K=5
    * (4.877, 3.357, 2.680, 2.290, 2.031; Pocock/OBF tables). q230's
    * SPRT monitors per-event; group-sequential looks are what a
    * peeking-safe A/B program actually runs, and OBF's early looks
    * are deliberately near-unspendable.
    *
    * Exactness: look cut ranks are exact floor-divs of the total
    * count; cumulative conversions at each cut ride one distributed
    * prefix pass ([[ScaleRank]]) picked by TWO equi joins (rank =
    * cut); each z is ONE IEEE chain over exact ints; boundaries are
    * literal milli ints.
    *
    * Scale design (100 TB): one rank + one prefix pass over the
    * stream, a 5-row literal look frame, two rank-equi joins.
    * Output 5 rows. */
  val q444ObrienFleming: QueryDef = {
    val bounds = Seq(4877L, 3357L, 2680L, 2290L, 2031L)
    val z = "CAST(floor(1000.0e0 * " +
      "(CAST(x AS DOUBLE) - CAST(nk AS DOUBLE) * 0.2e0) / " +
      "sqrt(CAST(nk AS DOUBLE) * 0.2e0 * 0.8e0)) AS BIGINT)"
    QueryDef(
      "q444_obrien_fleming",
      s"""WITH ev AS (
         |  SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
         |    row_number() OVER (ORDER BY ts, event_id) AS rn
         |  FROM events),
         |pre AS (
         |  SELECT rn, CAST(sum(y) OVER (ORDER BY rn
         |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
         |  FROM ev),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ev),
         |looks AS (
         |  SELECT k, CAST(b AS BIGINT) AS bound_milli,
         |    (k * nn.n) // 5 AS nk
         |  FROM (SELECT unnest([1, 2, 3, 4, 5]) AS k,
         |        unnest([${bounds.mkString(", ")}]) AS b), nn),
         |at AS (
         |  SELECT looks.k, looks.nk, looks.bound_milli, pre.cum AS x
         |  FROM looks JOIN pre ON pre.rn = looks.nk)
         |SELECT CAST(k AS BIGINT) AS look, nk AS n_events, x AS n_purchases,
         |  $z AS z_milli, bound_milli,
         |  CASE WHEN abs($z) > bound_milli THEN 1 ELSE 0 END AS cross_bound
         |FROM at ORDER BY look""".stripMargin) { (s, dir) =>
      val ev = Tables.events(s, dir)
        .select(when(col("event_type") === "purchase", 1L).otherwise(0L)
          .as("y"), col("ts"), col("event_id"))
      val rn = ScaleRank.withRowNumber(ev, Seq.empty,
        Seq(col("ts"), col("event_id")), "rn", "n")
      val pre = ScaleRank.withRunningSum(rn, Seq.empty, Seq(col("rn")),
          col("y"), "cum")
        .select(col("rn"), col("cum"), col("n"))
        .ckpt() // prefix stream: the 5 look picks
      val nn = pre.agg(max(col("n")).as("n"))
      val looks = nn.select(col("n"),
          posexplode(array(bounds.map(lit(_)): _*)).as(Seq("k0", "bound_milli")))
        .select((col("k0") + 1).cast("bigint").as("k"), col("bound_milli"),
          expr("((k0 + 1) * n) div 5").as("nk"))
      looks.join(pre.select(col("rn"), col("cum").as("x")),
          col("rn") === col("nk"))
        .select(col("k").as("look"), col("nk").as("n_events"),
          col("x").as("n_purchases"),
          expr(z).as("z_milli"), col("bound_milli"),
          expr(s"CASE WHEN abs($z) > bound_milli THEN 1 ELSE 0 END")
            .as("cross_bound"))
        .orderBy("look")
    }
  }

  /** q446 — expected steps to conversion (absorbing-chain analysis):
    * treat 'purchase' as the absorbing state of the q109 per-user
    * event chain and solve (I − Q)·t = 1 for the four transient
    * states — t_i is the expected number of events a user in state i
    * takes before their next purchase. q109 reports one-step
    * probabilities; the fundamental-matrix solve turns them into the
    * multi-step distances a funnel designer actually wants.
    *
    * Exactness: transition counts are exact ints; the 4×4 system is
    * solved by GENERATED Gaussian elimination + back-substitution
    * expression text parsed by BOTH engines (the q286/q440 one-
    * string discipline) over identically-derived doubles, with a
    * 1-row materialization barrier per step (the q440 projection-
    * doubling lesson); pivots 1−q_ii ≥ 1−q_ii > 0 need no row
    * exchange (every state has out-mass to 5 targets).
    *
    * Scale design (100 TB): one per-user lead pass (the q109 plan),
    * a ≤5×5 count pivot, then 1-row arithmetic. Output 1 row. */
  val q446AbsorptionTime: QueryDef = {
    val states = Seq("click", "error", "signup", "view")
    val elim: Seq[Seq[String]] = (1 to 3).map { k =>
      val rows = for {
        i <- (k + 1) to 4; j <- (k + 1) to 4
      } yield s"m${k - 1}_${i}_$j - (m${k - 1}_${i}_$k / m${k - 1}_${k}_$k)" +
        s" * m${k - 1}_${k}_$j AS m${k}_${i}_$j"
      val bs = ((k + 1) to 4).map(i =>
        s"b${k - 1}_$i - (m${k - 1}_${i}_$k / m${k - 1}_${k}_$k)" +
          s" * b${k - 1}_$k AS b${k}_$i")
      (rows ++ bs).toSeq
    }
    val backs = Seq(
      "b3_4 / m3_4_4 AS t4",
      "(b2_3 - m2_3_4 * t4) / m2_3_3 AS t3",
      "(b1_2 - m1_2_3 * t3 - m1_2_4 * t4) / m1_2_2 AS t2",
      "(b0_1 - m0_1_2 * t2 - m0_1_3 * t3 - m0_1_4 * t4) / m0_1_1 AS t1")
    val pivCols = (
      (for { i <- 1 to 4; j <- 1 to 4 } yield
        s"coalesce(max(CASE WHEN c.src = '${states(i - 1)}' AND " +
          s"c.dst = '${states(j - 1)}' THEN c.n END), 0) AS c_${i}_$j") ++
      (1 to 4).map(i =>
        s"coalesce(max(CASE WHEN c.src = '${states(i - 1)}' THEN rt.rtot " +
          s"END), 0) AS r_$i")).mkString(",\n    ")
    val m0Cols = (
      (for { i <- 1 to 4; j <- 1 to 4 } yield
        s"${if (i == j) "1.0e0" else "0.0e0"} - " +
          s"CAST(c_${i}_$j AS DOUBLE) / CAST(r_$i AS DOUBLE) AS m0_${i}_$j") ++
      (1 to 4).map(i => s"1.0e0 AS b0_$i")).mkString(",\n    ")
    val outCols = (1 to 4).map(i =>
      s"CAST(floor(1000.0e0 * t$i) AS BIGINT) AS " +
        s"steps_${states(i - 1)}_milli").mkString(", ")
    val elimCtes = elim.zipWithIndex.map { case (exprs, i) =>
      s"g${i + 1} AS (SELECT *, ${exprs.mkString(", ")} FROM g$i)"
    }.mkString(",\n")
    val backCtes = backs.zipWithIndex.map { case (e, i) =>
      s"bs${i + 1} AS (SELECT *, $e FROM ${if (i == 0) "g3" else s"bs$i"})"
    }.mkString(",\n")
    QueryDef(
      "q446_absorption_time",
      s"""WITH o AS (
         |  SELECT user_id, event_type AS src,
         |    lead(event_type) OVER (PARTITION BY user_id
         |      ORDER BY ts, event_id) AS dst
         |  FROM events),
         |c AS (
         |  SELECT src, dst, CAST(count(*) AS BIGINT) AS n
         |  FROM o WHERE dst IS NOT NULL GROUP BY src, dst),
         |rt AS (SELECT src AS rsrc, CAST(sum(n) AS BIGINT) AS rtot
         |       FROM c GROUP BY src),
         |piv AS (
         |  SELECT
         |    $pivCols
         |  FROM c JOIN rt ON rt.rsrc = c.src),
         |g0 AS (
         |  SELECT
         |    $m0Cols
         |  FROM piv
         |  WHERE r_1 > 0 AND r_2 > 0 AND r_3 > 0 AND r_4 > 0),
         |$elimCtes,
         |$backCtes
         |SELECT $outCols FROM bs4""".stripMargin) { (s, dir) =>
      val perUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val c = Tables.events(s, dir)
        .select(col("user_id"), col("event_type").as("src"), col("ts"),
          col("event_id"))
        .withColumn("dst", lead(col("src"), 1).over(perUser))
        .filter(col("dst").isNotNull)
        .groupBy(col("src"), col("dst"))
        .agg(count(lit(1)).as("n"))
      val rt = c.groupBy(col("src"))
        .agg(sum(col("n")).cast("bigint").as("rtot"))
        .withColumnRenamed("src", "rsrc")
      val pivAggs =
        (for { i <- 1 to 4; j <- 1 to 4 } yield
          coalesce(max(when(col("src") === states(i - 1) &&
            col("dst") === states(j - 1), col("n"))), lit(0L))
            .as(s"c_${i}_$j")) ++
        (1 to 4).map(i =>
          coalesce(max(when(col("src") === states(i - 1), col("rtot"))),
            lit(0L)).as(s"r_$i"))
      val piv = c.join(rt, col("src") === col("rsrc"))
        .agg(pivAggs.head, pivAggs.tail: _*)
      var lvl = piv
        .filter(col("r_1") > 0 && col("r_2") > 0 &&
          col("r_3") > 0 && col("r_4") > 0)
        .selectExpr(
          ((for { i <- 1 to 4; j <- 1 to 4 } yield
            s"${if (i == j) "1.0e0" else "0.0e0"} - " +
              s"CAST(c_${i}_$j AS DOUBLE) / CAST(r_$i AS DOUBLE)" +
              s" AS m0_${i}_$j") ++
          (1 to 4).map(i => s"1.0e0 AS b0_$i")): _*)
      for (exprs <- elim)
        lvl = lvl.selectExpr("*" +: exprs: _*).ckpt()
      for (e <- backs)
        lvl = lvl.selectExpr("*", e).ckpt()
      lvl.selectExpr((1 to 4).map(i =>
        s"CAST(floor(1000.0e0 * t$i) AS BIGINT) AS " +
          s"steps_${states(i - 1)}_milli"): _*)
    }
  }

  val all: Seq[QueryDef] = Seq(
    q444ObrienFleming, q446AbsorptionTime,
    q397NelsonAalen, q398MantelHaenszel,
    q371Logrank, q375UcbRegret, q376EntropyRate, q377IpwAte, q387LjungBox,
    q362KtRegret, q365HedgeRegret,
    q315CaptureRecapture, q316PowerAnalysis, q334TemporalLeakage, q338NbFit,
    q343AbFunnel, q347TokenBucket,
    q230Sprt, q236OffPolicy, q240Sax, q246MarkovAttribution,
    q251ShapleyAttribution,
    q196SchemaDrift, q199SessionEntropy, q219SloBurn, q220Stickiness,
    q48Retention, q49GapFill, q50JsonExtract, q51Sessionize, q52Tumbling,
    q53AsofJoin, q54Rollup, q55ComplexTypes, q56GroupingSets, q57Funnel,
    q58Pivot, q59Cube, q72SlidingWindow, q81Streaks, q86VariantExtract,
    q102IncrementalAgg, q105AsofNative, q109Markov, q113RollingZscore,
    q114Twap, q118CumulativeUniques, q125IntervalJoin, q130TopPaths,
    q134Seasonality, q137DwellTimes, q138PeakConcurrency, q142Attribution,
    q156OhlcBars, q157CohortLtv, q163Acf, q164Survival, q165AbTest,
    q178Cusum, q183FunnelCi, q184Mase, q272LatenessProfile,
    q285WatermarkLoss, q293ControlChart, q299CcfLeadlag, q304Overdispersion)

  /** The oracle's per-(event type, user) count moments shared by q304
    * and q338: the CTEs `uc` (t, user_id, x) and `m` (t, n, s = Σx,
    * q = Σx²). */
  private def userCountMomentsSql: String =
    """uc AS (
      |  SELECT event_type AS t, user_id, CAST(count(*) AS BIGINT) AS x
      |  FROM events GROUP BY 1, 2),
      |m AS (
      |  SELECT t, CAST(count(*) AS HUGEINT) AS n,
      |    CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS s,
      |    CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS q
      |  FROM uc GROUP BY t)""".stripMargin

  /** q304 — overdispersion screen per event type: the variance-to-mean
    * ratio (dispersion index) of per-user event counts, exact. A
    * Poisson arrival process has D = 1; D ≫ 1 means burst-driven
    * (negative-binomial) traffic, which invalidates every
    * Poisson-assuming alert threshold downstream (q230's SPRT, rate
    * SLOs) — so this is the test run BEFORE trusting them. Includes
    * the (n−1)·D statistic that is χ²(n−1) under H₀.
    *
    * Exactness: NO floats — D = Var/Mean collapses to the integer
    * identity (n·Σx² − S²) / (S·(n−1)) with the moments in
    * DECIMAL(38)/HUGEINT, emitted as ONE cross-multiplied floor-div
    * to milli; the χ² statistic is the same numerator over S, also
    * integer.
    *
    * Scale design (100 TB): one partial-aggregable pass to
    * (type, user) counts — the only data-sized exchange; the moment
    * pass collapses to |types| rows. No windows, no broadcast. */
  lazy val q304Overdispersion: QueryDef = QueryDef(
    "q304_overdispersion",
    s"""WITH $userCountMomentsSql
       |SELECT t AS event_type, CAST(n AS BIGINT) AS n_users,
       |  CAST(s AS BIGINT) AS n_events,
       |  CAST((1000 * s) // n AS BIGINT) AS mean_milli,
       |  CAST((1000 * (n * q - s * s)) // (s * (n - 1)) AS BIGINT)
       |    AS dispersion_milli,
       |  CAST((n * q - s * s) // s AS BIGINT) AS chi2_stat
       |FROM m WHERE n > 1 AND s > 0 ORDER BY t""".stripMargin) { (s, dir) =>
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    val uc = Tables.events(s, dir)
      .groupBy(col("event_type").as("t"), col("user_id"))
      .agg(count(lit(1)).as("x"))
    uc.groupBy(col("t"))
      .agg(count(lit(1)).cast("decimal(38,0)").as("n"),
        sum(dec(col("x"))).cast("decimal(38,0)").as("s"),
        sum(dec(col("x")) * col("x")).cast("decimal(38,0)").as("q"))
      .filter(col("n") > 1 && col("s") > 0)
      .select(col("t").as("event_type"),
        col("n").cast("bigint").as("n_users"),
        col("s").cast("bigint").as("n_events"),
        expr("CAST((1000 * s) div n AS BIGINT)").as("mean_milli"),
        expr("CAST((1000 * (n * q - s * s)) div (s * (n - 1)) AS BIGINT)")
          .as("dispersion_milli"),
        expr("CAST((n * q - s * s) div s AS BIGINT)").as("chi2_stat"))
      .orderBy("event_type")
  }

  /** q293 — Western Electric control-chart screen per event type: the
    * SPC rules a metrics platform runs on every daily series — rule 1
    * (a point beyond 3σ), rule 2 (two of three consecutive points
    * beyond 2σ on the same side), rule 4 (eight consecutive points on
    * the same side of the center line) — over the daily value-sum
    * series of each event type. q178's CUSUM detects slow drifts;
    * these are the complementary spike/run screens, and together they
    * are the classic chart battery.
    *
    * Exactness: NO floats anywhere — the k·σ zone tests ride the
    * cross-multiplied integer identity
    * (x·D − S)² > k²·(D·Q − S²)  ⇔  |x − μ| > k·σ
    * with S = Σx, Q = Σx² held in DECIMAL(38)/HUGEINT, so the σ
    * threshold is never materialized as a double; "side" is the exact
    * sign of x·D − S. Run counts are integer window sums.
    *
    * Scale design (100 TB): the fact pass collapses to (type, day)
    * grain map-side (the ONLY data-sized exchange); every window is
    * PARTITIONED by event type over the calendar-bounded day axis
    * (~37k rows/century per type); the per-type moment frame is
    * ≤|types| rows, joined back by type. */
  lazy val q293ControlChart: QueryDef = QueryDef(
    "q293_control_chart",
    """WITH daily AS (
      |  SELECT event_type AS t, CAST(ts AS DATE) AS d,
      |    CAST(sum(CAST(floor(value * 1000 + 0.5) AS BIGINT)) AS BIGINT) AS x
      |  FROM events GROUP BY 1, 2),
      |m AS (
      |  SELECT t, CAST(count(*) AS HUGEINT) AS dd,
      |    CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS ss,
      |    CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS qq
      |  FROM daily GROUP BY t),
      |z AS (
      |  SELECT daily.t, daily.d, daily.x,
      |    CAST(daily.x AS HUGEINT) * m.dd - m.ss AS dev,
      |    m.dd * m.qq - m.ss * m.ss AS var_d2
      |  FROM daily JOIN m ON daily.t = m.t),
      |f AS (
      |  SELECT t, d,
      |    CASE WHEN dev > 0 THEN 1 WHEN dev < 0 THEN -1 ELSE 0 END AS side,
      |    CASE WHEN dev * dev > 9 * var_d2 THEN 1 ELSE 0 END AS b3,
      |    CASE WHEN dev * dev > 4 * var_d2 AND dev > 0 THEN 1 ELSE 0 END AS b2u,
      |    CASE WHEN dev * dev > 4 * var_d2 AND dev < 0 THEN 1 ELSE 0 END AS b2d
      |  FROM z),
      |r AS (
      |  SELECT t, d, side, b3, b2u, b2d,
      |    sum(b2u) OVER w3 AS c2u, sum(b2d) OVER w3 AS c2d,
      |    sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) OVER w8 AS u8,
      |    sum(CASE WHEN side = -1 THEN 1 ELSE 0 END) OVER w8 AS d8,
      |    count(*) OVER w8 AS n8
      |  FROM f
      |  WINDOW w3 AS (PARTITION BY t ORDER BY d ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
      |         w8 AS (PARTITION BY t ORDER BY d ROWS BETWEEN 7 PRECEDING AND CURRENT ROW))
      |SELECT t AS event_type, CAST(count(*) AS BIGINT) AS n_days,
      |  CAST(sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_above,
      |  CAST(sum(b3) AS BIGINT) AS n_rule1,
      |  CAST(sum(CASE WHEN (b2u = 1 AND c2u >= 2) OR (b2d = 1 AND c2d >= 2)
      |       THEN 1 ELSE 0 END) AS BIGINT) AS n_rule2,
      |  CAST(sum(CASE WHEN n8 = 8 AND (u8 = 8 OR d8 = 8)
      |       THEN 1 ELSE 0 END) AS BIGINT) AS n_rule4
      |FROM r GROUP BY t ORDER BY t""".stripMargin) { (s, dir) =>
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type").as("t"), col("ts").cast("date").as("d"))
      .agg(sum(floor(col("value") * 1000 + 0.5).cast("bigint")).as("x"))
    val m = daily.groupBy(col("t"))
      .agg(count(lit(1)).cast("decimal(38,0)").as("dd"),
        sum(dec(col("x"))).cast("decimal(38,0)").as("ss"),
        sum(dec(col("x")) * col("x")).cast("decimal(38,0)").as("qq"))
    val z = daily.join(m, Seq("t"))
      .select(col("t"), col("d"),
        (dec(col("x")) * col("dd") - col("ss")).as("dev"),
        (col("dd") * col("qq") - col("ss") * col("ss")).as("var_d2"))
    val f = z.select(col("t"), col("d"),
      when(col("dev") > 0, 1).when(col("dev") < 0, -1).otherwise(0).as("side"),
      when(col("dev") * col("dev") > col("var_d2") * 9, 1).otherwise(0).as("b3"),
      when(col("dev") * col("dev") > col("var_d2") * 4 && col("dev") > 0, 1)
        .otherwise(0).as("b2u"),
      when(col("dev") * col("dev") > col("var_d2") * 4 && col("dev") < 0, 1)
        .otherwise(0).as("b2d"))
    val w3 = Window.partitionBy(col("t")).orderBy(col("d")).rowsBetween(-2, 0)
    val w8 = Window.partitionBy(col("t")).orderBy(col("d")).rowsBetween(-7, 0)
    f.withColumn("c2u", sum(col("b2u")).over(w3))
      .withColumn("c2d", sum(col("b2d")).over(w3))
      .withColumn("u8", sum(when(col("side") === 1, 1).otherwise(0)).over(w8))
      .withColumn("d8", sum(when(col("side") === -1, 1).otherwise(0)).over(w8))
      .withColumn("n8", count(lit(1)).over(w8))
      .groupBy(col("t").as("event_type"))
      .agg(count(lit(1)).as("n_days"),
        sum(when(col("side") === 1, 1L).otherwise(0L)).as("n_above"),
        sum(col("b3")).cast("bigint").as("n_rule1"),
        sum(when((col("b2u") === 1 && col("c2u") >= 2) ||
          (col("b2d") === 1 && col("c2d") >= 2), 1L).otherwise(0L)).as("n_rule2"),
        sum(when(col("n8") === 8 && (col("u8") === 8 || col("d8") === 8), 1L)
          .otherwise(0L)).as("n_rule4"))
      .orderBy("event_type")
  }

  /** q299 — lead-lag cross-correlation (CCF) between the daily click
    * and purchase count series: Pearson r at every lag in [-7, +7] —
    * "does click volume LEAD purchases, and by how many days?" The
    * time-series sibling of q163's ACF (one series vs itself) for TWO
    * series, and the screen behind any "metric A predicts metric B"
    * claim.
    *
    * Exactness: daily counts are integers, so all five moments per
    * lag (n, Σx, Σy, Σxy, Σx², Σy²) are exact int64 sums; r is ONE
    * IEEE chain per lag — cross-multiplied numerator over the product
    * of two sqrt's, floored to micro (the q124 slope contract).
    *
    * Scale design (100 TB): facts collapse to (type, day) grain
    * map-side; the lag alignment is an EQUI-join on the shifted day
    * key against a 15-row literal lag frame (bounded crossJoin); each
    * lag's moments are partial-aggregable. Everything after the first
    * aggregate is calendar-bounded. */
  lazy val q299CcfLeadlag: QueryDef = QueryDef(
    "q299_ccf_leadlag",
    """WITH daily AS (
      |  SELECT event_type AS t, CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS c
      |  FROM events WHERE event_type IN ('click', 'purchase') GROUP BY 1, 2),
      |lags AS (SELECT CAST(unnest(range(-7, 8)) AS BIGINT) AS lag),
      |x AS (SELECT d, c FROM daily WHERE t = 'click'),
      |y AS (SELECT d, c FROM daily WHERE t = 'purchase'),
      |j AS (
      |  SELECT lags.lag, x.c AS xc, y.c AS yc
      |  FROM lags CROSS JOIN x JOIN y ON y.d = x.d + CAST(lags.lag AS INT)),
      |mo AS (
      |  SELECT lag, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(xc) AS BIGINT) AS sx, CAST(sum(yc) AS BIGINT) AS sy,
      |    CAST(sum(xc * yc) AS BIGINT) AS sxy,
      |    CAST(sum(xc * xc) AS BIGINT) AS sxx,
      |    CAST(sum(yc * yc) AS BIGINT) AS syy
      |  FROM j GROUP BY lag)
      |SELECT lag, n,
      |  CAST(floor(1000000.0 * (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) /
      |    (sqrt(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) *
      |     sqrt(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))) AS BIGINT)
      |    AS r_micro
      |FROM mo WHERE n >= 3
      |  AND CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx > 0
      |  AND CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy > 0
      |ORDER BY lag""".stripMargin) { (s, dir) =>
    val daily = Tables.events(s, dir)
      .filter(col("event_type").isin("click", "purchase"))
      .groupBy(col("event_type").as("t"), col("ts").cast("date").as("d"))
      .agg(count(lit(1)).as("c"))
      .ckpt() // feeds both series
    val lags = s.range(-7, 8).select(col("id").as("lag"))
    val x = daily.filter(col("t") === "click").select(col("d"), col("c").as("xc"))
    val y = daily.filter(col("t") === "purchase")
      .select(col("d").as("yd"), col("c").as("yc"))
    val j = x.crossJoin(broadcast(lags))
      .withColumn("target", date_add(col("d"), col("lag").cast("int")))
      .join(y, col("yd") === col("target"))
    val mo = j.groupBy(col("lag"))
      .agg(count(lit(1)).as("n"), sum(col("xc")).as("sx"), sum(col("yc")).as("sy"),
        sum(col("xc") * col("yc")).as("sxy"),
        sum(col("xc") * col("xc")).as("sxx"),
        sum(col("yc") * col("yc")).as("syy"))
    val nd = col("n").cast("double")
    val vx = nd * col("sxx") - col("sx").cast("double") * col("sx")
    val vy = nd * col("syy") - col("sy").cast("double") * col("sy")
    mo.filter(col("n") >= 3 && vx > 0 && vy > 0)
      .select(col("lag"), col("n"),
        floor(lit(1000000.0) * (nd * col("sxy") - col("sx").cast("double") * col("sy")) /
          (sqrt(vx) * sqrt(vy))).cast("bigint").as("r_micro"))
      .orderBy("lag")
  }

  /** q272 — event-time lateness profile: per event type, how far
    * behind the running event-time FRONTIER (max ts over all earlier
    * arrivals) each event arrives — n late, worst lateness, and the
    * p50/p95/p99 lateness quantiles. This is the data-driven answer
    * to "what watermark delay should the streaming twins use": a
    * `withWatermark(ts, d)` drops exactly the rows this profile
    * counts beyond d, so p99 IS the 1%-loss operating point. The
    * batch-side calibration for every watermark in
    * [[graft.streaming.StreamOps]].
    *
    * Arrival model: the driver's event_ids are globally ts-sorted
    * (verified — the raw feed has ZERO disorder, which would make
    * this profile vacuous), so ingestion jitter is modeled
    * explicitly: arrival = ts + an md5-derived per-event delay in
    * [0, 1h) (the portable-RNG q36 contract — both engines replay
    * the identical delays). The profile then measures exactly the
    * disorder that jitter induces.
    *
    * Exactness: the strictly-preceding running max rides
    * [[ScaleRank.withRunningMax]] (exact, chunk-bounded tasks — the
    * oracle's window form re-expressed); lateness is non-negative
    * int64 micros floor-divided to seconds; quantiles go through the
    * weighted `percentile` over the (type, seconds) histogram ≡
    * DuckDB `quantile_cont` (the q17/q106 bit-identical contract).
    *
    * Scale design (100 TB): one ScaleRank pass per the event_type
    * group key (unbounded key, range-chunked tasks), one histogram
    * collapse to the bounded (type, late_s) grain, one bounded-state
    * weighted-percentile aggregate. No fact-axis windows, no
    * collect. */
  /** Shared per-event lateness frame for q272/q285: (event_type,
    * late_s, is_late) under the jittered-arrival frontier (see
    * [[q272LatenessProfile]]'s arrival model). */
  private def latenessFrame(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("us"))
      .withColumn("arr", col("us") + expr(
        "cast(conv(substring(md5(cast(event_id as string)), 1, 15), 16, 10) " +
          "as bigint) % 3600000000"))
    ScaleRank.withRunningMax(ev, Seq("event_type"),
        Seq(col("arr"), col("event_id")), col("us"), "pmax",
        inclusive = false)
      .select(col("event_type"),
        expr("greatest(0L, pmax - us) div 1000000").as("late_s"),
        when(col("pmax") > col("us"), 1L).otherwise(0L).as("is_late"))
      .ckpt() // feeds counts, histograms, and the loss curve
  }

  /** The matching oracle CTE prefix (CTEs ev, r, l — `l` is the
    * lateness frame). */
  private def latenessCtes: String =
    """ev AS (
      |  SELECT event_type, event_id, epoch_us(ts) AS us,
      |    epoch_us(ts) + ('0x' || substring(md5(CAST(event_id AS VARCHAR)), 1, 15))::BIGINT
      |      % 3600000000 AS arr
      |  FROM events),
      |r AS (
      |  SELECT event_type, us,
      |    max(us) OVER (PARTITION BY event_type ORDER BY arr, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
      |  FROM ev),
      |l AS (
      |  SELECT event_type,
      |    greatest(0, pmax - us) // 1000000 AS late_s,
      |    CASE WHEN pmax > us THEN 1 ELSE 0 END AS is_late
      |  FROM r)""".stripMargin

  lazy val q272LatenessProfile: QueryDef = QueryDef(
    "q272_lateness_profile",
    s"""WITH $latenessCtes
      |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(is_late) AS BIGINT) AS n_late,
      |  CAST(max(late_s) AS BIGINT) AS max_late_s,
      |  quantile_cont(CAST(late_s AS DOUBLE), 0.5) AS p50_s,
      |  quantile_cont(CAST(late_s AS DOUBLE), 0.95) AS p95_s,
      |  quantile_cont(CAST(late_s AS DOUBLE), 0.99) AS p99_s
      |FROM l GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    val l = latenessFrame(s, dir)
    val h = l.groupBy(col("event_type"), col("late_s"))
      .agg(count(lit(1)).as("fn"))
      .groupBy(col("event_type"))
      .agg(expr("percentile(cast(late_s as double), 0.5D, fn)").as("p50_s"),
        expr("percentile(cast(late_s as double), 0.95D, fn)").as("p95_s"),
        expr("percentile(cast(late_s as double), 0.99D, fn)").as("p99_s"))
    l.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("is_late")).as("n_late"),
        max(col("late_s")).as("max_late_s"))
      .join(broadcast(h), Seq("event_type"))
      .select(col("event_type"), col("n"), col("n_late"),
        col("max_late_s"), col("p50_s"), col("p95_s"), col("p99_s"))
      .orderBy("event_type")
  }

  /** q285 — watermark loss curve: for each candidate watermark delay
    * d, the exact fraction of events a `withWatermark(ts, d)` stream
    * would DROP (lateness > d under the q272 arrival model), per
    * event type — q272 summarizes the lateness distribution; this
    * prices the actual decision ("1 minute loses 28%, 30 minutes
    * loses 2%, an hour loses nothing") so the delay is chosen off a
    * table, not a hunch. Shares q272's lateness frame verbatim —
    * one computation feeds both reports.
    *
    * Exactness: lateness and the delay battery are integer seconds;
    * drops are exact counts; the rate is a non-negative ppm
    * floor-div.
    *
    * Scale design (100 TB): the shared checkpointed lateness frame
    * (one ScaleRank pass) crossed with a 5-literal delay battery —
    * a 5× conditional aggregate, partial-aggregable, no second
    * scan. */
  lazy val q285WatermarkLoss: QueryDef = {
    val DELAYS = Seq(60L, 300L, 900L, 1800L, 3600L)
    val delayRows = DELAYS.map(d =>
      s"SELECT CAST($d AS BIGINT) AS delay_s").mkString(" UNION ALL ")
    QueryDef(
      "q285_watermark_loss",
      s"""WITH $latenessCtes,
        |d AS ($delayRows)
        |SELECT l.event_type, d.delay_s,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN l.late_s > d.delay_s THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_dropped,
        |  (1000000 * CAST(sum(CASE WHEN l.late_s > d.delay_s THEN 1 ELSE 0 END)
        |    AS BIGINT)) // count(*) AS drop_ppm
        |FROM l CROSS JOIN d
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      import s.implicits._
      val delays = DELAYS.toDF("delay_s")
      latenessFrame(s, dir).crossJoin(broadcast(delays))
        .groupBy(col("event_type"), col("delay_s"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("late_s") > col("delay_s"), 1L).otherwise(0L))
            .as("n_dropped"))
        .select(col("event_type"), col("delay_s"), col("n"), col("n_dropped"),
          expr("(1000000 * n_dropped) div n").as("drop_ppm"))
        .orderBy("event_type", "delay_s")
    }
  }
}
