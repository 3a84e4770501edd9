package graft.operators

import graft.CkptOps

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Data-quality profiling — the Deequ-style audit a pipeline runs
  * before trusting a 100 TB ingest: per-column null count, distinct
  * count, min/max (as canonical strings), and completeness.
  *
  * Scale design: ONE aggregate pass over the table produces a single
  * row holding every column's stats, which is then unpivoted to the
  * (column, metric…) report — the table is scanned once and nothing
  * but the stats row moves. The `count(DISTINCT …)` battery expands
  * the scan ×columns map-side (Spark's Expand) but still shuffles only
  * partial aggregates; at 100 TB you would swap exact distinct counts
  * for `approx_count_distinct` (HLL, one pass, no expand) — kept exact
  * here so the DuckDB oracle can reproduce the report bit-for-bit.
  *
  * Canonical string reprs sidestep engine float/timestamp formatting
  * differences: doubles go through DECIMAL(18,2), timestamps through
  * an explicit yyyy-MM-dd HH:mm:ss format; integers and strings cast
  * directly.
  */
object DataProfile {

  private sealed trait Kind
  private case object IntK extends Kind
  private case object DblK extends Kind
  private case object TsK extends Kind
  private case object StrK extends Kind

  private val cols: Seq[(String, Kind)] = Seq(
    ("o_orderkey", IntK), ("o_custkey", IntK), ("o_orderstatus", StrK),
    ("o_totalprice", DblK), ("o_orderdate", TsK), ("o_orderpriority", StrK))

  private def reprSql(agg: String, c: String, k: Kind): String = k match {
    case IntK => s"CAST($agg($c) AS VARCHAR)"
    case DblK => s"CAST(CAST($agg($c) AS DECIMAL(18,2)) AS VARCHAR)"
    case TsK  => s"strftime($agg($c), '%Y-%m-%d %H:%M:%S')"
    case StrK => s"$agg($c)"
  }

  private def reprCol(agg: Column => Column, c: String, k: Kind): Column = k match {
    case IntK => agg(col(c)).cast("string")
    case DblK => agg(col(c)).cast("decimal(18,2)").cast("string")
    case TsK  => date_format(agg(col(c)), "yyyy-MM-dd HH:mm:ss")
    case StrK => agg(col(c))
  }

  val q71Profile: QueryDef = {
    val aggSql = cols.zipWithIndex.map { case ((c, k), i) =>
      s"count($c) AS c$i, count(DISTINCT $c) AS d$i, " +
        s"${reprSql("min", c, k)} AS mn$i, ${reprSql("max", c, k)} AS mx$i"
    }.mkString(",\n  ")
    val rows = cols.zipWithIndex.map { case ((c, _), i) =>
      s"SELECT '$c' AS col_name, n_rows - c$i AS n_null, d$i AS n_distinct, " +
        s"mn$i AS min_repr, mx$i AS max_repr, (1000 * c$i) // n_rows AS completeness_permille FROM a"
    }.mkString("\nUNION ALL ")
    val oracle =
      s"""WITH a AS (SELECT count(*) AS n_rows,
         |  $aggSql
         |FROM orders)
         |$rows
         |ORDER BY col_name""".stripMargin

    QueryDef("q71_profile", oracle) { (s, dir) =>
      val base = Tables.orders(s, dir)
        .repartition(col("o_orderkey")) // single-file scan -> use every core
      // distinct counts WITHOUT distinct aggregates: a Spark
      // multi-column count(DISTINCT) battery plans as an Expand
      // (×columns row blowup into one hash aggregate); exploding to
      // (column, value) pairs and counting group sizes twice is the
      // same answer as two partial-aggregable shuffles that never hold
      // more than one column's values per hash entry — measurably
      // faster here and the shape that survives wide tables at scale
      val pairs = base.select(explode(array(cols.map { case (c, _) =>
        struct(lit(c).as("col_name"), col(c).cast("string").as("v"))
      }: _*)).as("p")).select(col("p.col_name"), col("p.v"))
        .filter(col("v").isNotNull) // count(DISTINCT c) ignores nulls
      val nd = pairs.groupBy(col("col_name"), col("v")).agg(count(lit(1)))
        .groupBy(col("col_name")).agg(count(lit(1)).as("n_distinct"))
      // nulls + typed min/max: ONE plain aggregate row, no distinct
      val aggCols = cols.zipWithIndex.flatMap { case ((c, k), i) =>
        Seq(
          count(col(c)).as(s"c$i"),
          reprCol(min, c, k).as(s"mn$i"),
          reprCol(max, c, k).as(s"mx$i"))
      }
      val a = base.agg(count(lit(1)).as("n_rows"), aggCols: _*)
      val stackArgs = cols.zipWithIndex.map { case ((c, _), i) =>
        s"'$c', n_rows - c$i, mn$i, mx$i, (1000 * c$i) div n_rows"
      }.mkString(", ")
      a.select(expr(
        s"stack(${cols.size}, $stackArgs) AS " +
          "(col_name, n_null, min_repr, max_repr, completeness_permille)"))
        // LEFT join: an all-null column has no (col_name, v) pairs and
        // so no nd row — exactly the column an audit must still report
        // (with n_distinct = 0), not drop
        .join(broadcast(nd), Seq("col_name"), "left")
        .select(col("col_name"), col("n_null"),
          coalesce(col("n_distinct"), lit(0L)).as("n_distinct"),
          col("min_repr"), col("max_repr"), col("completeness_permille"))
        .orderBy("col_name")
    }
  }

  /** q106 — IQR outlier audit (the Tukey fence, the standard
    * distribution-drift tripwire in a data-quality pipeline): per
    * group, the quartiles, the 1.5×IQR fences, and how many rows fall
    * outside them.
    *
    * Two passes by construction: quartiles need the (grouped) value
    * distribution, fences then need a second scan to count
    * violations — expressed as one grouped quantile aggregate
    * broadcast back over the fact scan, so the big side is read
    * twice but never shuffled for the fence check (the q70 stats
    * shape). Exact interpolated percentiles (`percentile` ≡
    * `quantile_cont`) keep both engines bit-identical; the fence
    * comparison is on the same doubles. */
  val q106IqrOutliers: QueryDef = QueryDef(
    "q106_iqr_outliers",
    """WITH q AS (
      |  SELECT l_returnflag,
      |    quantile_cont(l_extendedprice, 0.25) AS p25,
      |    quantile_cont(l_extendedprice, 0.75) AS p75
      |  FROM lineitem GROUP BY l_returnflag),
      |f AS (
      |  SELECT l_returnflag, p25, p75,
      |    p25 - 1.5 * (p75 - p25) AS lo,
      |    p75 + 1.5 * (p75 - p25) AS hi
      |  FROM q)
      |SELECT l.l_returnflag, f.p25, f.p75,
      |  count(*) AS n_rows,
      |  CAST(sum(CASE WHEN l.l_extendedprice < f.lo OR l.l_extendedprice > f.hi
      |                THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
      |FROM lineitem l JOIN f USING (l_returnflag)
      |GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin) { (s, dir) =>
    val li = Tables.lineitem(s, dir)
    // weighted percentile over (flag, price) counts — the q17
    // contract: same interpolation code path, per-group state bounded
    // by the 2dp price domain instead of the row count
    val q = li.groupBy(col("l_returnflag"), col("l_extendedprice"))
      .agg(count(lit(1)).as("fn"))
      .groupBy(col("l_returnflag"))
      .agg(
        expr("percentile(l_extendedprice, 0.25D, fn)").as("p25"),
        expr("percentile(l_extendedprice, 0.75D, fn)").as("p75"))
      .select(col("l_returnflag"), col("p25"), col("p75"),
        (col("p25") - lit(1.5) * (col("p75") - col("p25"))).as("lo"),
        (col("p75") + lit(1.5) * (col("p75") - col("p25"))).as("hi"))
    li.select(col("l_returnflag"), col("l_extendedprice"))
      .join(broadcast(q), Seq("l_returnflag"))
      .groupBy(col("l_returnflag"), col("p25"), col("p75"))
      .agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("l_extendedprice") < col("lo") ||
          col("l_extendedprice") > col("hi"), 1L).otherwise(0L)).as("n_outliers"))
      .orderBy("l_returnflag")
  }

  /** q116 — grouped equi-width histogram: 16 bins of o_totalprice per
    * order priority, bin edges from each group's own min/max. The
    * distribution sketch behind drift dashboards and data-diff
    * reports.
    *
    * Two passes by construction (edges need the extremes before
    * anything can bin): a grouped min/max aggregate is broadcast back
    * over the fact scan — the q106 fence shape: the big side is read
    * twice but never shuffled for the binning. Bin math is
    * (v−mn)·16/(mx−mn) floored then clamped, all IEEE double ops
    * evaluated identically in both engines; an all-equal group
    * (mx = mn, a 0/0 the engines disagree on) is pinned to bin 0
    * explicitly on both sides. */
  val q116Histogram: QueryDef = QueryDef(
    "q116_histogram",
    """WITH e AS (
      |  SELECT o_orderpriority AS pri, min(o_totalprice) AS mn, max(o_totalprice) AS mx
      |  FROM orders GROUP BY 1),
      |b AS (
      |  SELECT e.pri,
      |    CASE WHEN e.mx = e.mn THEN 0 ELSE
      |      least(CAST(floor((o.o_totalprice - e.mn) * 16 / (e.mx - e.mn)) AS BIGINT), 15)
      |    END AS bin
      |  FROM orders o JOIN e ON o.o_orderpriority = e.pri)
      |SELECT pri, bin, CAST(count(*) AS BIGINT) AS n
      |FROM b GROUP BY pri, bin ORDER BY pri, bin""".stripMargin) { (s, dir) =>
    val orders = Tables.orders(s, dir)
    val edges = orders.groupBy(col("o_orderpriority").as("pri"))
      .agg(min(col("o_totalprice")).as("mn"), max(col("o_totalprice")).as("mx"))
    orders.join(broadcast(edges), col("o_orderpriority") === col("pri"))
      .select(col("pri"),
        // a group whose prices are all equal makes the bin formula
        // 0/0: Spark's non-ANSI CAST silently turns the NaN into 0
        // while DuckDB errors on CAST(floor(NaN) AS BIGINT) — guard
        // the degenerate group explicitly on BOTH sides instead
        when(col("mx") === col("mn"), lit(0L)).otherwise(
          least(floor((col("o_totalprice") - col("mn")) * 16 /
            nullif(col("mx") - col("mn"), lit(0d)))
            .cast("bigint"), lit(15L))).as("bin"))
      .groupBy(col("pri"), col("bin")).agg(count(lit(1)).as("n"))
      .orderBy("pri", "bin")
  }

  /** q121 — referential-integrity audit: per foreign key, how many
    * child rows exist, how many resolve, how many are orphans. The
    * contract check an ingest runs before publishing a star schema.
    *
    * Scale design: each FK is one LEFT join counted in aggregate —
    * Catalyst keeps the parent side a broadcast when it fits and the
    * count never materializes the joined rows. The three audits union
    * AFTER aggregation, so the result is 3 rows regardless of fact
    * size. */
  val q121FkAudit: QueryDef = QueryDef(
    "q121_fk_audit",
    """WITH l AS (
      |  SELECT 'lineitem->orders' AS fk, CAST(count(*) AS BIGINT) AS n_child,
      |    CAST(count(o.o_orderkey) AS BIGINT) AS n_matched
      |  FROM lineitem li LEFT JOIN orders o ON li.l_orderkey = o.o_orderkey),
      |c AS (
      |  SELECT 'orders->customer' AS fk, CAST(count(*) AS BIGINT) AS n_child,
      |    CAST(count(cu.c_custkey) AS BIGINT) AS n_matched
      |  FROM orders o LEFT JOIN customer cu ON o.o_custkey = cu.c_custkey),
      |p AS (
      |  SELECT 'lineitem->part' AS fk, CAST(count(*) AS BIGINT) AS n_child,
      |    CAST(count(pa.p_partkey) AS BIGINT) AS n_matched
      |  FROM lineitem li LEFT JOIN part pa ON li.l_partkey = pa.p_partkey)
      |SELECT fk, n_child, n_matched, n_child - n_matched AS n_orphans
      |FROM (SELECT * FROM l UNION ALL SELECT * FROM c UNION ALL SELECT * FROM p)
      |ORDER BY fk""".stripMargin) { (s, dir) =>
    def audit(name: String, child: org.apache.spark.sql.DataFrame, ck: String,
        parent: org.apache.spark.sql.DataFrame, pk: String) =
      child.join(parent.select(col(pk)), child(ck) === parent(pk), "left")
        .agg(count(lit(1)).as("n_child"), count(col(pk)).as("n_matched"))
        .select(lit(name).as("fk"), col("n_child"), col("n_matched"))
    audit("lineitem->orders", Tables.lineitem(s, dir), "l_orderkey",
        Tables.orders(s, dir), "o_orderkey")
      .unionByName(audit("orders->customer", Tables.orders(s, dir), "o_custkey",
        Tables.customer(s, dir), "c_custkey"))
      .unionByName(audit("lineitem->part", Tables.lineitem(s, dir), "l_partkey",
        Tables.part(s, dir), "p_partkey"))
      .select(col("fk"), col("n_child"), col("n_matched"),
        (col("n_child") - col("n_matched")).as("n_orphans"))
      .orderBy("fk")
  }

  /** q123 — chi-square independence audit over the (lang × source)
    * contingency table: per cell the observed count, floor-expected
    * count, and the scaled χ² contribution — the statistical drift
    * check for "is this source's language mix what it always was".
    *
    * The χ² cell term (obs·n − rowΣ·colΣ)²/(n·rowΣ·colΣ) is emitted as
    * integer ppm: the residual d = obs·n − rowΣ·colΣ stays exact int64
    * (< 2⁵³, so its double image is exact), and the one double
    * multiply-chain + divide + floor is IEEE-identical in both
    * engines (the q108 contract). The FULL grid is produced (absent
    * cells count 0 — a vanished combination is exactly what the audit
    * must flag), via the margins' cross join, which is |langs|·|sources|
    * — bounded, never fact-sized. */
  val q123ChisqIndependence: QueryDef = QueryDef(
    "q123_chisq_independence",
    """WITH o AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS obs
      |           FROM documents GROUP BY 1, 2),
      |r AS (SELECT lang, CAST(count(*) AS BIGINT) AS rs FROM documents GROUP BY 1),
      |c AS (SELECT source, CAST(count(*) AS BIGINT) AS cs FROM documents GROUP BY 1),
      |n AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM documents),
      |grid AS (
      |  SELECT r.lang, c.source, r.rs, c.cs, n.nn,
      |    coalesce(o.obs, 0) AS obs,
      |    coalesce(o.obs, 0) * n.nn - r.rs * c.cs AS d
      |  FROM r CROSS JOIN c CROSS JOIN n
      |  LEFT JOIN o ON o.lang = r.lang AND o.source = c.source)
      |SELECT lang, source, obs, (rs * cs) // nn AS expected_floor,
      |  CAST(floor((CAST(d AS DOUBLE) * d * 1000000.0) /
      |       ((CAST(nn AS DOUBLE) * rs) * cs)) AS BIGINT) AS chi2_cell_ppm
      |FROM grid ORDER BY lang, source""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    val o = docs.groupBy(col("lang"), col("source")).agg(count(lit(1)).as("obs"))
    val r = docs.groupBy(col("lang")).agg(count(lit(1)).as("rs"))
    val c = docs.groupBy(col("source")).agg(count(lit(1)).as("cs"))
    val n = docs.agg(count(lit(1)).as("nn"))
    r.crossJoin(c).crossJoin(n)
      .join(o, Seq("lang", "source"), "left")
      .withColumn("obs", coalesce(col("obs"), lit(0L)))
      .withColumn("d", col("obs") * col("nn") - col("rs") * col("cs"))
      .select(col("lang"), col("source"), col("obs"),
        expr("(rs * cs) div nn").as("expected_floor"),
        floor((col("d").cast("double") * col("d") * lit(1000000.0)) /
          ((col("nn").cast("double") * col("rs")) * col("cs")))
          .cast("bigint").as("chi2_cell_ppm"))
      .orderBy("lang", "source")
  }

  /** q127 — robust (trimmed) statistics: per event type, the exact
    * p10/p90 fences and the mean of only the values inside them — the
    * outlier-proof center estimate drift monitoring uses when q106's
    * plain mean is poisoned by tails.
    *
    * Two passes like q106: a grouped exact-percentile aggregate
    * (bounded output) broadcast back over the fact scan; the trimmed
    * mean itself is integer milli-units with a floor-div — no float
    * division. The fence comparison uses the interpolated-percentile
    * doubles, which both engines compute bit-identically (the q17
    * contract).
    *
    * Scale note: unlike q17/q106/q137/q139 (discrete value domains →
    * the weighted-percentile compression), events.value is a
    * full-precision continuous double, so (type, value) counts would
    * not shrink the aggregation state. The 100 TB path for continuous
    * exact-ish fences is the q85 deterministic bottom-k sample
    * (bounded memory, engine-portable redraw) — the fences become
    * sample quantiles, a different (documented) estimator, so this
    * query keeps the exact form the oracle states. */
  val q127TrimmedStats: QueryDef = QueryDef(
    "q127_trimmed_stats",
    """WITH f AS (
      |  SELECT event_type,
      |    quantile_cont(value, 0.1) AS p10, quantile_cont(value, 0.9) AS p90
      |  FROM events GROUP BY event_type)
      |SELECT e.event_type,
      |  CAST(count(*) AS BIGINT) AS n_total,
      |  CAST(count(CASE WHEN e.value >= f.p10 AND e.value <= f.p90 THEN 1 END) AS BIGINT) AS n_kept,
      |  CAST(sum(CASE WHEN e.value >= f.p10 AND e.value <= f.p90
      |           THEN CAST(floor(e.value * 1000) AS BIGINT) END) AS BIGINT)
      |    // CAST(count(CASE WHEN e.value >= f.p10 AND e.value <= f.p90 THEN 1 END) AS BIGINT)
      |    AS trimmed_mean_milli
      |FROM events e JOIN f ON e.event_type = f.event_type
      |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin) { (s, dir) =>
    val ev = Tables.events(s, dir)
    val fences = ev.groupBy(col("event_type").as("ft"))
      .agg(
        percentile(col("value"), lit(0.1)).as("p10"),
        percentile(col("value"), lit(0.9)).as("p90"))
    val in = col("value") >= col("p10") && col("value") <= col("p90")
    ev.join(broadcast(fences), col("event_type") === col("ft"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_total"),
        count(when(in, 1)).as("n_kept"),
        sum(when(in, floor(col("value") * 1000).cast("bigint"))).as("kept_sum"))
      .select(col("event_type"), col("n_total"), col("n_kept"),
        expr("kept_sum div n_kept").as("trimmed_mean_milli"))
      .orderBy("event_type")
  }

  /** q129 — grouped EQUI-DEPTH histogram (q116's twin): ntile(10)
    * splits each priority's prices into same-population bins; the
    * report is each bin's span and count — the quantile sketch a
    * cost-based optimizer or drift monitor wants when equi-width bins
    * would collapse into one hot bucket.
    *
    * The bin assignment is deterministic under the (price, orderkey)
    * total order — but o_orderpriority has only 5 values, so an ntile
    * WINDOW would sort ~1/5 of all orders in one task at any scale.
    * [[ScaleRank]] computes the identical assignment scalably:
    * two-level distributed rank per priority (range-chunk local
    * row_number + broadcast offsets), then the closed-form ntile
    * formula. Doubles pass through min/max untouched (no arithmetic),
    * so both engines agree bitwise. */
  val q129EquiDepth: QueryDef = QueryDef(
    "q129_equidepth",
    """WITH b AS (
      |  SELECT o_orderpriority AS pri, o_totalprice AS v,
      |    ntile(10) OVER (PARTITION BY o_orderpriority
      |                    ORDER BY o_totalprice, o_orderkey) AS bin
      |  FROM orders)
      |SELECT pri, CAST(bin AS BIGINT) AS bin, CAST(count(*) AS BIGINT) AS n,
      |  min(v) AS lo, max(v) AS hi
      |FROM b GROUP BY pri, bin ORDER BY pri, bin""".stripMargin) { (s, dir) =>
    val base = Tables.orders(s, dir)
      .select(col("o_orderpriority").as("pri"), col("o_totalprice").as("v"),
        col("o_orderkey").as("okey"))
    ScaleRank.withRowNumber(base, Seq("pri"), Seq(col("v"), col("okey")),
        "rk", "n_in_pri")
      .select(col("pri"), col("v"),
        ScaleRank.ntileFromRank(10, col("rk"), col("n_in_pri")).as("bin"))
      .groupBy(col("pri"), col("bin"))
      .agg(count(lit(1)).as("n"), min(col("v")).as("lo"), max(col("v")).as("hi"))
      .orderBy("pri", "bin")
  }

  /** q131 — financial reconciliation: does each order's header total
    * agree with the sum of its line amounts (extended price net of
    * discount), within a 1% tolerance? The core ledger-vs-detail
    * audit of the reference's domain, as one aggregated pass.
    *
    * Scale design: lineitem collapses to per-order totals (one
    * partial-aggregable shuffle on the join key), the header join is
    * then key-to-key, and only the one audit row leaves.
    *
    * Exactness: everything is integer CENTS. Header cents use the
    * explicit floor(x·100 + 0.5) half-up rule — double→DECIMAL casts
    * are NOT portable here (Spark rounds half-up, DuckDB half-even,
    * and doubles whose ×100 image lands exactly on .5 do exist in
    * this data: 12 of them at sf0.01, found the hard way); line cents
    * come from the per-line DECIMAL(18,2) sums (the q01 contract)
    * scaled by 100 — exact by construction. The 1% tolerance is the
    * integer predicate 100·|diff| ≤ header_cents. */
  val q131Reconciliation: QueryDef = QueryDef(
    "q131_reconciliation",
    """WITH lt AS (
      |  SELECT l_orderkey,
      |    CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))), 2) * 100 AS BIGINT) AS line_cents
      |  FROM lineitem GROUP BY l_orderkey),
      |j AS (
      |  SELECT o.o_orderkey, lt.line_cents,
      |    CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS hdr_cents,
      |    abs(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) - lt.line_cents) AS adiff_cents
      |  FROM orders o LEFT JOIN lt ON o.o_orderkey = lt.l_orderkey)
      |SELECT CAST(count(*) AS BIGINT) AS n_orders,
      |  CAST(count(line_cents) AS BIGINT) AS n_with_lines,
      |  CAST(count(CASE WHEN adiff_cents * 100 <= hdr_cents THEN 1 END) AS BIGINT) AS n_within_1pct,
      |  CAST(count(CASE WHEN adiff_cents * 100 > hdr_cents THEN 1 END) AS BIGINT) AS n_outside,
      |  CAST(sum(adiff_cents) AS BIGINT) AS total_abs_diff_cents
      |FROM j""".stripMargin) { (s, dir) =>
    val lt = Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey"))
      // raw columns cast to decimal BEFORE the multiply (the q01
      // contract): casting the double PRODUCT instead hits half-up vs
      // half-even tie divergence between the engines
      .agg((round(sum(col("l_extendedprice").cast("decimal(18,2)") *
        (lit(1) - col("l_discount").cast("decimal(18,2)"))), 2) * 100)
        .cast("bigint").as("line_cents"))
    Tables.orders(s, dir)
      .join(lt, col("o_orderkey") === col("l_orderkey"), "left")
      .withColumn("hdr_cents",
        floor(col("o_totalprice") * 100 + 0.5).cast("bigint"))
      .withColumn("adiff_cents", abs(col("hdr_cents") - col("line_cents")))
      .agg(
        count(lit(1)).as("n_orders"),
        count(col("line_cents")).as("n_with_lines"),
        count(when(col("adiff_cents") * 100 <= col("hdr_cents"), 1)).as("n_within_1pct"),
        count(when(col("adiff_cents") * 100 > col("hdr_cents"), 1)).as("n_outside"),
        sum(col("adiff_cents")).as("total_abs_diff_cents"))
  }

  /** q136 — key-gap analysis (gaps-and-islands over an ID space): the
    * completeness audit for sequence-keyed ingests — which orderkey
    * ranges are missing from the F-status subset, how many, how big.
    * The island id is key − rank (constant within each contiguous
    * run), and the report aggregates islands — classic
    * gaps-and-islands, bounded output.
    *
    * Scale design (100 TB): NO global window anywhere. The rank
    * behind the island id rides [[ScaleRank.withRowNumber]] (two-level
    * chunked rank, every task bounded by a range chunk); the
    * island→next-island `lead` is q78's heads/tails scheme at W=1 —
    * per-range-partition `lead`s give every same-chunk adjacency, and
    * only each chunk's first/last row (≤ 2·P rows) goes through one
    * tiny global window restricted to cross-partition successors,
    * which is provably exactly the set of boundary-crossing
    * adjacencies. The DuckDB oracle is the textbook two-global-window
    * formulation — hash-matching it proves the reconstruction exact. */
  val q136GapRanges: QueryDef = QueryDef(
    "q136_gap_ranges",
    """WITH k AS (
      |  SELECT o_orderkey AS key,
      |    o_orderkey - row_number() OVER (ORDER BY o_orderkey) AS grp
      |  FROM orders WHERE o_orderstatus = 'F'),
      |isl AS (
      |  SELECT grp, min(key) AS lo, max(key) AS hi, count(*) AS n
      |  FROM k GROUP BY grp),
      |gaps AS (
      |  SELECT lo, hi,
      |    lead(lo) OVER (ORDER BY lo) - hi - 1 AS gap_after
      |  FROM isl)
      |SELECT CAST(count(*) AS BIGINT) AS n_islands,
      |  CAST(sum(hi - lo + 1) AS BIGINT) AS n_present,
      |  CAST(count(CASE WHEN gap_after > 0 THEN 1 END) AS BIGINT) AS n_gaps,
      |  CAST(sum(CASE WHEN gap_after > 0 THEN gap_after END) AS BIGINT) AS n_missing,
      |  CAST(max(gap_after) AS BIGINT) AS max_gap
      |FROM gaps""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val keys = Tables.orders(s, dir)
      .filter(col("o_orderstatus") === "F")
      .select(col("o_orderkey").as("key"))
    val isl = ScaleRank.withRowNumber(keys, Seq.empty, Seq(col("key")), "rn", "__nr")
      .withColumn("grp", col("key") - col("rn"))
      .groupBy(col("grp"))
      .agg(min(col("key")).as("lo"), max(col("key")).as("hi"))
    // heads/tails lead at W=1: `lo` is unique per island, so range
    // partitioning on it is a total order across chunks. localCheckpoint
    // pins one set of range boundaries for all three consumers (q78's
    // structural-correctness note applies verbatim).
    val r = isl.repartitionByRange(col("lo"))
      .withColumn("pid", spark_partition_id())
      .ckpt()
    val wp = Window.partitionBy(col("pid")).orderBy(col("lo"))
    val wpd = Window.partitionBy(col("pid")).orderBy(col("lo").desc)
    val within = r
      .withColumn("nlo", lead(col("lo"), 1).over(wp))
      .filter(col("nlo").isNotNull)
    val subset = r
      .withColumn("rna", row_number().over(wp))
      .withColumn("rnd", row_number().over(wpd))
      .filter(col("rna") === 1 || col("rnd") === 1)
      .select(col("pid"), col("lo"), col("hi"))
    val wg = Window.orderBy(col("lo")) // ≤ 2·P rows: bounded by parallelism
    val boundary = subset
      .withColumn("nlo", lead(col("lo"), 1).over(wg))
      .withColumn("npid", lead(col("pid"), 1).over(wg))
      .filter(col("nlo").isNotNull && col("npid") =!= col("pid"))
    val gaps = within.select((col("nlo") - col("hi") - 1).as("gap_after"))
      .unionAll(boundary.select((col("nlo") - col("hi") - 1).as("gap_after")))
    val islAgg = isl.agg(
      count(lit(1)).as("n_islands"),
      sum(col("hi") - col("lo") + 1).as("n_present"))
    val gapAgg = gaps.agg(
      count(when(col("gap_after") > 0, 1)).as("n_gaps"),
      sum(when(col("gap_after") > 0, col("gap_after"))).as("n_missing"),
      max(col("gap_after")).as("max_gap"))
    islAgg.crossJoin(gapAgg)
  }

  /** q143 — distribution drift (total variation): per event type,
    * compare the value histogram of the month's first half against
    * the second half — the continuous-valued companion to q123's
    * categorical chi-square, and the tripwire that catches a metric
    * whose MEAN held steady while its shape moved.
    *
    * TV/2 distance over a fixed 16-bin grid, everything integer: bin
    * shares in ppm via floor-div, absent bins materialized as 0 from
    * the type×bin cross grid (bounded), |p₁−p₂| summed and halved.
    * Two partial-aggregable passes; the grid join is broadcast. */
  val q143DriftTv: QueryDef = QueryDef(
    "q143_drift_tv",
    """WITH p AS (
      |  SELECT event_type,
      |    CASE WHEN epoch_us(ts) // 86400000000 - 19723 < 15 THEN 1 ELSE 2 END AS half,
      |    least(CAST(floor(value * 1000) AS BIGINT) * 16 // 500000, 15) AS bin
      |  FROM events),
      |c AS (SELECT event_type, half, bin, CAST(count(*) AS BIGINT) AS c
      |      FROM p GROUP BY 1, 2, 3),
      |n AS (SELECT event_type, half, CAST(count(*) AS BIGINT) AS n
      |      FROM p GROUP BY 1, 2),
      |g0 AS (
      |  SELECT t.event_type, CAST(r.b AS BIGINT) AS bin
      |  FROM (SELECT DISTINCT event_type FROM p) t
      |  CROSS JOIN (SELECT unnest(range(0, 16)) AS b) r),
      |grid AS (
      |  SELECT g0.event_type, g0.bin,
      |    coalesce(c1.c, 0) AS c1, coalesce(c2.c, 0) AS c2, n1.n AS n1, n2.n AS n2
      |  FROM g0
      |  LEFT JOIN c c1 ON c1.event_type = g0.event_type AND c1.bin = g0.bin AND c1.half = 1
      |  LEFT JOIN c c2 ON c2.event_type = g0.event_type AND c2.bin = g0.bin AND c2.half = 2
      |  JOIN n n1 ON n1.event_type = g0.event_type AND n1.half = 1
      |  JOIN n n2 ON n2.event_type = g0.event_type AND n2.half = 2)
      |SELECT event_type,
      |  CAST(sum(abs((1000000 * c1) // n1 - (1000000 * c2) // n2)) AS BIGINT) // 2 AS tv_ppm
      |FROM grid GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
    // day 19723 = 2024-01-01; halves split at day 15 of the window
    val p = Tables.events(s, dir).select(
      col("event_type"),
      when(expr("unix_micros(ts) div 86400000000") - 19723 < 15, 1).otherwise(2)
        .as("half"),
      expr("least((cast(floor(value * 1000) as bigint) * 16) div 500000, 15L)")
        .as("bin"))
    val c = p.groupBy(col("event_type"), col("half"), col("bin"))
      .agg(count(lit(1)).as("c"))
    val n = p.groupBy(col("event_type"), col("half")).agg(count(lit(1)).as("n"))
    val grid = p.select(col("event_type")).distinct()
      .crossJoin(s.range(16).select(col("id").as("bin")))
      .join(c.filter(col("half") === 1)
        .select(col("event_type"), col("bin"), col("c").as("c1")),
        Seq("event_type", "bin"), "left")
      .join(c.filter(col("half") === 2)
        .select(col("event_type"), col("bin"), col("c").as("c2")),
        Seq("event_type", "bin"), "left")
      .join(n.filter(col("half") === 1)
        .select(col("event_type"), col("n").as("n1")), Seq("event_type"))
      .join(n.filter(col("half") === 2)
        .select(col("event_type"), col("n").as("n2")), Seq("event_type"))
      .select(col("event_type"),
        coalesce(col("c1"), lit(0L)).as("c1"), coalesce(col("c2"), lit(0L)).as("c2"),
        col("n1"), col("n2"))
    grid.groupBy(col("event_type"))
      .agg(expr("cast(sum(abs((1000000 * c1) div n1 - (1000000 * c2) div n2)) as bigint) div 2")
        .as("tv_ppm"))
      .orderBy("event_type")
  }

  /** q172 — robust outlier audit via median absolute deviation: per
    * event type, the (lower) median of the milli-unit values, the MAD
    * around it, and how many rows a 3-modified-z-score fence flags —
    * the Tukey-fence sibling of q106 that survives the heavy tails
    * where mean/stddev fences (q113's z-score) drown. All int64: the
    * modified z test |x−med|/(1.4826·MAD) > 3 is cross-multiplied to
    * 10000·dev > 44478·mad, so no float exists to disagree on.
    *
    * Both medians are the q144 crossing formulation (min value whose
    * doubled running count reaches the total), computed (r14) on the
    * (type, value) HISTOGRAM instead of per-row — the q177 weighted
    * form. Equivalence to the oracle's per-(value, event_id) running
    * count is exact: the qualifying rows {2·cw ≥ n} form a suffix of
    * the (v, event_id) order, so min(v) over it equals min(v) over
    * {v : 2·cum_count(v) ≥ n} — the first qualifying row's value v*
    * has 2·C(v*) ≥ 2·cw ≥ n, and every v < v* has C(v) equal to some
    * earlier row's cw, all of which fail the threshold.
    *
    * Scale design (100 TB): the fact collapses ONCE to the (type,
    * milli-value) histogram — the only fact-sized exchange (the old
    * formulation ran two full per-row prefix passes plus a third
    * deviation re-scan). The histogram is bounded by the discrete
    * value domain, not the row count (the q17/q177 argument); both
    * prefix passes over it still run through
    * [[ScaleRank.withRunningSum]] (range-chunk local sums + broadcast
    * chunk offsets), never a bare window, and the deviation histogram
    * and outlier counts are integer re-aggregations of the same
    * counts. */
  val q172MadOutliers: QueryDef = QueryDef(
    "q172_mad_outliers",
    """WITH r AS (
      |  SELECT event_type AS etype,
      |    CAST(floor(value * 1000) AS BIGINT) AS v, event_id
      |  FROM events),
      |t AS (SELECT etype, CAST(count(*) AS BIGINT) AS n FROM r GROUP BY 1),
      |c1 AS (
      |  SELECT etype, v,
      |    CAST(count(*) OVER (PARTITION BY etype ORDER BY v, event_id
      |                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cw
      |  FROM r),
      |m AS (
      |  SELECT c1.etype, t.n, min(c1.v) AS med
      |  FROM c1 JOIN t USING (etype)
      |  WHERE 2 * c1.cw >= t.n GROUP BY 1, 2),
      |d AS (
      |  SELECT r.etype, abs(r.v - m.med) AS dev, r.event_id, m.n
      |  FROM r JOIN m USING (etype)),
      |c2 AS (
      |  SELECT etype, dev, n,
      |    CAST(count(*) OVER (PARTITION BY etype ORDER BY dev, event_id
      |                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cw
      |  FROM d),
      |md AS (
      |  SELECT etype, n, min(dev) AS mad FROM c2
      |  WHERE 2 * cw >= n GROUP BY 1, 2)
      |SELECT m.etype, m.n, m.med AS median_milli, md.mad AS mad_milli,
      |  CAST(sum(CASE WHEN 10000 * d.dev > 44478 * md.mad
      |           THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
      |FROM d JOIN md USING (etype) JOIN m ON m.etype = d.etype
      |GROUP BY 1, 2, 3, 4 ORDER BY m.etype""".stripMargin) { (s, dir) =>
    // ONE fact-sized pass: everything below runs on the (type, value)
    // histogram (value-domain-bounded); equivalence argued above
    val h = Tables.events(s, dir)
      .select(col("event_type").as("etype"),
        floor(col("value") * 1000).cast("bigint").as("v"))
      .groupBy(col("etype"), col("v")).agg(count(lit(1)).as("c"))
      .ckpt() // feeds the median pass AND the deviation histogram
    val t = h.groupBy(col("etype")).agg(sum(col("c")).as("n"))
    val med = ScaleRank.withRunningSum(h, Seq("etype"),
        Seq(col("v")), col("c"), "cw")
      .join(broadcast(t), Seq("etype"))
      .filter(lit(2) * col("cw") >= col("n"))
      .groupBy(col("etype"), col("n"))
      .agg(min(col("v")).as("med"))
    val hd = h.join(broadcast(med), Seq("etype"))
      .groupBy(col("etype"), col("n"), abs(col("v") - col("med")).as("dev"))
      .agg(sum(col("c")).as("c"))
      .ckpt() // feeds the MAD pass AND the outlier count
    val mad = ScaleRank.withRunningSum(hd, Seq("etype"),
        Seq(col("dev")), col("c"), "cw")
      .filter(lit(2) * col("cw") >= col("n"))
      .groupBy(col("etype"), col("n"))
      .agg(min(col("dev")).as("mad"))
    hd.join(broadcast(mad.select(col("etype"), col("mad"))), Seq("etype"))
      .groupBy(col("etype"))
      .agg(sum(when(lit(10000) * col("dev") > lit(44478) * col("mad"), col("c"))
        .otherwise(0L)).as("n_outliers"))
      .join(med, Seq("etype"))
      .join(mad.select(col("etype"), col("mad")), Seq("etype"))
      .select(col("etype"), col("n"), col("med").as("median_milli"),
        col("mad").as("mad_milli"), col("n_outliers"))
      .orderBy("etype")
  }

  /** q177 — tie-corrected Mann–Whitney U test between every pair of
    * event types: the nonparametric "do these two segments draw
    * values from the same distribution?" test that q165's z-test
    * cannot answer when the distributions are non-normal (it compares
    * MEANS; U compares the whole distribution). Per pair: sample
    * sizes, the doubled U statistic, and the tie-corrected normal
    * z in milli-units.
    *
    * Formulation — rank sums WITHOUT ranking rows: values are
    * discrete milli-units, so each pair's pooled ranking collapses to
    * the merged histogram. With t_v = ca_v + cb_v and cw the
    * inclusive running count, the doubled average-rank sum of side A
    * is Σ ca_v·(2·cw − t_v + 1) — exact integers, no per-row rank
    * ever materializes (the q144 weighted-form idea applied to rank
    * statistics). 2U_A = 2R_A − n_A(n_A+1); z is ONE IEEE chain over
    * int64-exact moments with the tie term Σ(t³−t) accumulated in
    * DECIMAL(38)/HUGEINT. u2a is emitted as int64 — exact below
    * ~3·10⁹ rows per pair; z (the decision value) is double-safe at
    * any scale.
    *
    * Scale design (100 TB): the fact table collapses ONCE to the
    * (type, value) histogram — the only fact-sized exchange. The
    * pair expansion (×(k−1) histogram rows), prefix counts, and
    * moments all run on the bounded histogram; the running count per
    * (pair) — a bounded key — goes through
    * [[ScaleRank.withRunningSum]], never a bare window. */
  val q177MannWhitney: QueryDef = QueryDef(
    "q177_mannwhitney",
    """WITH h AS (
      |  SELECT event_type AS t, CAST(floor(value * 1000) AS BIGINT) AS v,
      |    CAST(count(*) AS BIGINT) AS c
      |  FROM events GROUP BY 1, 2),
      |ty AS (SELECT DISTINCT t FROM h),
      |pr AS (SELECT a.t AS ta, b.t AS tb FROM ty a JOIN ty b ON a.t < b.t),
      |p0 AS (
      |  SELECT pr.ta, pr.tb, h.v,
      |    CAST(sum(CASE WHEN h.t = pr.ta THEN h.c ELSE 0 END) AS BIGINT) AS ca,
      |    CAST(sum(CASE WHEN h.t = pr.tb THEN h.c ELSE 0 END) AS BIGINT) AS cb
      |  FROM pr JOIN h ON h.t = pr.ta OR h.t = pr.tb
      |  GROUP BY 1, 2, 3),
      |cum AS (
      |  SELECT ta, tb, v, ca, cb, ca + cb AS tt,
      |    CAST(sum(ca + cb) OVER (PARTITION BY ta, tb ORDER BY v
      |                            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cw
      |  FROM p0),
      |agg AS (
      |  SELECT ta, tb,
      |    CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb,
      |    sum(CAST(ca AS HUGEINT) * (2 * cw - tt + 1)) AS r2a,
      |    sum(CAST(tt AS HUGEINT) * tt * tt - tt) AS tcorr
      |  FROM cum GROUP BY 1, 2)
      |SELECT ta, tb, na, nb,
      |  CAST(r2a - CAST(na AS HUGEINT) * (na + 1) AS BIGINT) AS u2a,
      |  CAST(floor(1000.0 *
      |    ((CAST(r2a - CAST(na AS HUGEINT) * (na + 1) AS DOUBLE) -
      |      CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) / 2.0) /
      |    sqrt((CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / 12.0) *
      |         (CAST(na + nb + 1 AS DOUBLE) -
      |          CAST(tcorr AS DOUBLE) /
      |          (CAST(na + nb AS DOUBLE) * CAST(na + nb - 1 AS DOUBLE)))))
      |    AS BIGINT) AS z_milli
      |FROM agg ORDER BY ta, tb""".stripMargin) { (s, dir) =>
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val h = Tables.events(s, dir)
      .groupBy(col("event_type").as("t"),
        floor(col("value") * 1000).cast("bigint").as("v"))
      .agg(count(lit(1)).as("c"))
      .ckpt() // feeds the type list AND both pair sides
    val ty = h.select(col("t")).distinct()
    val pr = ty.as("a").join(ty.as("b"), col("a.t") < col("b.t"))
      .select(col("a.t").as("ta"), col("b.t").as("tb"))
    val p0 = h.join(broadcast(pr),
        col("t") === col("ta") || col("t") === col("tb"))
      .groupBy(col("ta"), col("tb"), col("v"))
      .agg(sum(when(col("t") === col("ta"), col("c")).otherwise(0L)).as("ca"),
        sum(when(col("t") === col("tb"), col("c")).otherwise(0L)).as("cb"))
      .withColumn("tt", col("ca") + col("cb"))
    val cum = ScaleRank.withRunningSum(p0, Seq("ta", "tb"),
      Seq(col("v")), col("ca") + col("cb"), "cw")
    val agg = cum.groupBy(col("ta"), col("tb"))
      .agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"),
        sum(dec(col("ca")) * (lit(2) * col("cw") - col("tt") + 1)).as("r2a"),
        sum(dec(col("tt")) * col("tt") * col("tt") - col("tt")).as("tcorr"))
    val u2aD = (col("r2a") - dec(col("na")) * (col("na") + 1)).cast("double")
    val zden = sqrt((col("na").cast("double") * col("nb").cast("double") / 12.0) *
      ((col("na") + col("nb") + 1).cast("double") -
        col("tcorr").cast("double") /
          ((col("na") + col("nb")).cast("double") *
           (col("na") + col("nb") - 1).cast("double"))))
    agg.select(col("ta"), col("tb"), col("na"), col("nb"),
        (col("r2a") - dec(col("na")) * (col("na") + 1))
          .cast("bigint").as("u2a"),
        // zden = 0 when one fully-tied value group spans the whole
        // pair (constant corpus): the tie correction collapses the
        // variance exactly. ANSI would throw; emit NULL like the
        // oracle's native x/0 (degenerate-corpus probe)
        when(zden =!= 0.0, floor(lit(1000.0) *
          ((u2aD - col("na").cast("double") * col("nb").cast("double")) / 2.0) /
          zden).cast("bigint")).as("z_milli"))
      .orderBy("ta", "tb")
  }

  /** q179 — Poisson-bootstrap confidence distribution for the global
    * mean event value: 32 pseudo-resamples whose per-row weights
    * w ∈ {0..4} are drawn from a DETERMINISTIC hash approximating
    * Poisson(1) (cumulative thresholds 368/736/920/981 per mille —
    * the classic bootstrap-at-scale trick: data never moves or
    * duplicates, each resample is a weighted aggregate in the same
    * pass). Emitting all 32 (resample, n_eff, mean) rows makes the
    * spread — the standard error — directly readable, with no
    * percentile-convention choices baked in.
    *
    * Determinism/exactness: the "random" stream is pure integer
    * arithmetic — event_id is reduced mod 1000003 FIRST so the mixed
    * product (m·2654435761 + b·40503) stays ≤ 2.7·10¹⁵ at any
    * event_id magnitude (unreduced ids would overflow int64 around
    * 3.5·10⁹ — wrap in Spark, error in DuckDB); each resample mean is
    * a non-negative int64 floor-div. Σw·v headroom: 4·10⁶ per row
    * → safe through ~2·10¹² rows; past that, lift the weighted sum
    * to DECIMAL(38) (q154 contract).
    *
    * Scale design (100 TB): the ×32 replicate axis expands MAP-SIDE
    * into partial aggregates — 32 groups total cross the exchange,
    * not 32× the data. One fact pass, no shuffle growth, no sampling
    * collect. */
  val q179BootstrapCi: QueryDef = QueryDef(
    "q179_bootstrap_ci",
    """WITH ev AS (
      |  SELECT event_id % 1000003 AS m,
      |    CAST(floor(value * 1000) AS BIGINT) AS v
      |  FROM events),
      |bb AS (SELECT CAST(i AS BIGINT) AS b FROM unnest(range(1, 33)) AS t(i)),
      |h AS (
      |  SELECT bb.b, ev.v,
      |    (ev.m * 2654435761 + bb.b * 40503) % 1000 AS h
      |  FROM ev CROSS JOIN bb),
      |w AS (
      |  SELECT b, v,
      |    CASE WHEN h < 368 THEN 0 WHEN h < 736 THEN 1
      |         WHEN h < 920 THEN 2 WHEN h < 981 THEN 3 ELSE 4 END AS w
      |  FROM h)
      |SELECT b, CAST(sum(w) AS BIGINT) AS n_eff,
      |  CAST(sum(w * v) AS BIGINT) // CAST(sum(w) AS BIGINT) AS mean_milli
      |FROM w GROUP BY b ORDER BY b""".stripMargin) { (s, dir) =>
    Tables.events(s, dir)
      .select(expr("event_id % 1000003").as("m"),
        floor(col("value") * 1000).cast("bigint").as("v"))
      .withColumn("b",
        explode(array((1 to 32).map(i => lit(i.toLong)): _*)))
      .withColumn("h", expr("(m * 2654435761 + b * 40503) % 1000"))
      .withColumn("w",
        when(col("h") < 368, 0L).when(col("h") < 736, 1L)
          .when(col("h") < 920, 2L).when(col("h") < 981, 3L)
          .otherwise(4L))
      .groupBy(col("b"))
      .agg(sum(col("w")).as("n_eff"),
        sum(col("w") * col("v")).as("wv"))
      .select(col("b"), col("n_eff"),
        expr("wv div nullif(n_eff, 0)").as("mean_milli"))
      .orderBy("b")
  }

  /** q182 — Neyman-allocated stratified sampling: split a fixed
    * budget of 1000 draws across event-type strata proportional to
    * n_h·σ_h (the allocation that minimizes the variance of the
    * stratified mean — uniform rates oversample quiet strata and
    * starve volatile ones), then EXECUTE the design with a
    * deterministic integer-hash row filter and report achieved
    * counts and sample means next to the design. Design and
    * execution in one query is the point: the gap between `alloc`
    * and `n_sampled` is the binomial noise a sampler must expect.
    *
    * Exactness: n_h·σ_h = √(n·Σv² − (Σv)²) from DECIMAL(38)/HUGEINT
    * moments, floored to integer milli per stratum BEFORE the
    * budget-share division (floor-then-sum — no float total), so
    * allocation is exact integer arithmetic; the row filter is the
    * q179 reduced-residue hash (overflow-free by the same law);
    * degenerate zero-variance strata get weight 0, allocation 0,
    * NULL mean — no division ever sees them.
    *
    * Scale design (100 TB): two fact passes — moments, then the
    * filtered sample aggregate — both partial-aggregable with the
    * ≤|strata|-row rate table broadcast into the second; inherent to
    * any design-then-execute sampler (the rates do not exist until
    * the moments do). Nothing shuffles fact rows. */
  val q182NeymanSample: QueryDef = QueryDef(
    "q182_neyman_sample",
    """WITH r AS (
      |  SELECT event_type AS etype,
      |    CAST(floor(value * 1000) AS BIGINT) AS v, event_id
      |  FROM events),
      |mom AS (
      |  SELECT etype, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(v) AS BIGINT) AS sv,
      |    sum(CAST(v AS HUGEINT) * v) AS svv
      |  FROM r GROUP BY 1),
      |wm AS (
      |  SELECT etype, n,
      |    CAST(floor(1000.0 * sqrt(CAST(n * svv - CAST(sv AS HUGEINT) * sv
      |      AS DOUBLE))) AS BIGINT) AS w
      |  FROM mom),
      |tw AS (SELECT CAST(sum(w) AS BIGINT) AS tw FROM wm),
      |rt AS (
      |  SELECT etype, n, w, (1000 * w) // tw.tw AS alloc,
      |    CASE WHEN (1000 * w) // tw.tw >= n THEN 1000000
      |         ELSE (1000000 * ((1000 * w) // tw.tw)) // n END AS rate_ppm
      |  FROM wm, tw),
      |sp AS (
      |  SELECT r.etype, CAST(count(*) AS BIGINT) AS ns,
      |    CAST(sum(r.v) AS BIGINT) AS svs
      |  FROM r JOIN rt USING (etype)
      |  WHERE ((r.event_id % 1000003) * 48271) % 1000000 < rt.rate_ppm
      |  GROUP BY 1)
      |SELECT rt.etype, rt.n, rt.w AS w_milli, rt.alloc, rt.rate_ppm,
      |  CAST(coalesce(sp.ns, 0) AS BIGINT) AS n_sampled,
      |  CASE WHEN coalesce(sp.ns, 0) > 0 THEN sp.svs // sp.ns END
      |    AS samp_mean_milli
      |FROM rt LEFT JOIN sp USING (etype)
      |ORDER BY rt.etype""".stripMargin) { (s, dir) =>
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val r = Tables.events(s, dir)
      .select(col("event_type").as("etype"),
        floor(col("value") * 1000).cast("bigint").as("v"),
        col("event_id"))
    val mom = r.groupBy(col("etype"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"),
        sum(dec(col("v")) * col("v")).as("svv"))
    val wm = mom.select(col("etype"), col("n"),
      floor(lit(1000.0) * sqrt(
        (dec(col("n")) * col("svv") - dec(col("sv")) * col("sv"))
          .cast("double"))).cast("bigint").as("w"))
    val tw = wm.agg(sum(col("w")).as("tw"))
    val rt = wm.crossJoin(broadcast(tw))
      // tw = 0 when every stratum has zero variance (constant corpus:
      // all w = floor(1000·sqrt(0)) = 0) — ANSI div would throw where
      // the oracle's // natively NULLs; emit the same NULL
      // (degenerate-corpus probe)
      .withColumn("alloc", expr("if(tw = 0, null, (1000 * w) div tw)"))
      .withColumn("rate_ppm",
        when(col("alloc") >= col("n"), 1000000L)
          .otherwise(expr("(1000000 * alloc) div n")))
      .select(col("etype"), col("n"), col("w"), col("alloc"), col("rate_ppm"))
    val sp = r.join(broadcast(rt.select(col("etype"), col("rate_ppm"))),
        Seq("etype"))
      .filter(expr("((event_id % 1000003) * 48271) % 1000000") <
        col("rate_ppm"))
      .groupBy(col("etype"))
      .agg(count(lit(1)).as("ns"), sum(col("v")).as("svs"))
    rt.join(sp, Seq("etype"), "left")
      .select(col("etype"), col("n"), col("w").as("w_milli"),
        col("alloc"), col("rate_ppm"),
        coalesce(col("ns"), lit(0L)).as("n_sampled"),
        when(coalesce(col("ns"), lit(0L)) > 0, expr("svs div ns"))
          .as("samp_mean_milli"))
      .orderBy("etype")
  }

  /** q186 — Benford first-digit audit: the distribution of the first
    * significant digit of order amounts against Benford's law
    * expectation p(d) = log₁₀(1 + 1/d) — the classic forensic screen
    * for fabricated or systematically clipped financial figures
    * (natural multi-scale amounts follow it; invented numbers rarely
    * do). Reports, per digit, the observed share, the Benford share,
    * the signed deviation, and a Pearson χ² term, all in ppm.
    *
    * Exactness: the Benford expectations are PRECOMPUTED integer
    * constants (floor(10⁶·log₁₀(1+1/d)); they sum to 999995) baked as
    * a 9-row literal table in both engines — no runtime log₁₀, so no
    * libm portability surface at all. The first digit is the leading
    * character of the exact cents integer (the q01 decimal-cast
    * contract, positive amounts only); observed shares route the
    * 10⁶·n product through DECIMAL(38)/HUGEINT (10⁶·count overflows
    * int64 past ~9·10¹² rows); the χ² numerator is a square, so its
    * floor-div is sign-safe in both engines.
    *
    * Scale design (100 TB): one fact pass collapsing to ≤9 groups
    * (partial-aggregable — digit counts combine map-side), then all
    * arithmetic on a 9-row frame left-joined from the literal digit
    * axis (digits the data never produces still report, with n = 0).
    * Nothing but the 9 partial counts crosses the exchange. */
  val q186Benford: QueryDef = QueryDef(
    "q186_benford",
    """WITH cents AS (
      |  SELECT CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS c
      |  FROM orders),
      |obs AS (
      |  SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS BIGINT) AS digit,
      |    CAST(count(*) AS BIGINT) AS n
      |  FROM cents WHERE c > 0 GROUP BY 1),
      |ben(digit, exp_ppm) AS (VALUES
      |  (CAST(1 AS BIGINT), CAST(301029 AS BIGINT)), (2, 176091),
      |  (3, 124938), (4, 96910), (5, 79181), (6, 66946), (7, 57991),
      |  (8, 51152), (9, 45757)),
      |w AS (
      |  SELECT ben.digit, coalesce(obs.n, 0) AS n, ben.exp_ppm,
      |    CAST(sum(coalesce(obs.n, 0)) OVER () AS BIGINT) AS t
      |  FROM ben LEFT JOIN obs ON obs.digit = ben.digit),
      |j AS (
      |  SELECT digit, n, exp_ppm,
      |    CAST((CAST(1000000 AS HUGEINT) * n) // t AS BIGINT) AS obs_ppm
      |  FROM w)
      |SELECT digit, n, obs_ppm, exp_ppm,
      |  obs_ppm - exp_ppm AS dev_ppm,
      |  ((obs_ppm - exp_ppm) * (obs_ppm - exp_ppm)) // exp_ppm AS chi2_term_ppm
      |FROM j ORDER BY digit""".stripMargin) { (s, dir) =>
    val obs = Tables.orders(s, dir)
      .select((col("o_totalprice").cast("decimal(12,2)") * 100)
        .cast("bigint").as("c"))
      .where(col("c") > 0)
      .select(substring(col("c").cast("string"), 1, 1).cast("bigint").as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n"))
    val ben = s.createDataFrame(Seq(
      (1L, 301029L), (2L, 176091L), (3L, 124938L), (4L, 96910L),
      (5L, 79181L), (6L, 66946L), (7L, 57991L), (8L, 51152L),
      (9L, 45757L))).toDF("digit", "exp_ppm")
    ben.join(obs, Seq("digit"), "left")
      .select(col("digit"), coalesce(col("n"), lit(0L)).as("n"), col("exp_ppm"))
      // the total as a window over the 9-row digit frame — bounded by
      // the literal axis, so the SinglePartition exchange is harmless
      .withColumn("t", sum(col("n"))
        .over(org.apache.spark.sql.expressions.Window.partitionBy()))
      .select(col("digit"), col("n"),
        // nullif: an all-nonpositive-amount corpus empties obs, t = 0;
        // ANSI would throw where the oracle's // natively NULLs
        // (degenerate-corpus probe)
        expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * n) div nullif(t, 0) " +
          "AS BIGINT)").as("obs_ppm"),
        col("exp_ppm"))
      .select(col("digit"), col("n"), col("obs_ppm"), col("exp_ppm"),
        (col("obs_ppm") - col("exp_ppm")).as("dev_ppm"),
        expr("((obs_ppm - exp_ppm) * (obs_ppm - exp_ppm)) div nullif(exp_ppm, 0)")
          .as("chi2_term_ppm"))
      .orderBy("digit")
  }

  /** q209 — declarative data-contract suite: the dbt-test-style
    * assertion battery a pipeline runs on every load, as ONE query
    * emitting one row per contract check — domain membership, value
    * ranges, key uniqueness, referential integrity, derived-column
    * consistency — each with its checked/violating row counts. The
    * point is the SHAPE: a contract is data, the checks compose by
    * UNION, and a new assertion is one more SELECT, not a new job.
    *
    * Exactness: every check is integer counts; uniqueness violations
    * are n − count(DISTINCT key); the FK check counts child keys with
    * no parent (the q121 anti-join, here in its aggregate form).
    *
    * Scale design (100 TB): each check is one partial-aggregable pass
    * over its table (Spark schedules the per-table checks off shared
    * scans); the FK check is the only join — an equi hash join on the
    * key, never broadcast-dependent; the report is |checks| rows. */
  val q209ContractAudit: QueryDef = QueryDef(
    "q209_contract_audit",
    """WITH fk AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |    CAST(count(CASE WHEN o.o_orderkey IS NULL THEN 1 END) AS BIGINT) AS v
      |  FROM lineitem l LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
      |    ON o.o_orderkey = l.l_orderkey),
      |r AS (
      |  SELECT 'orders' AS tbl, 'status_domain' AS chk,
      |    CAST(count(*) AS BIGINT) AS n_checked,
      |    CAST(count(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 END) AS BIGINT) AS n_violations
      |  FROM orders
      |  UNION ALL
      |  SELECT 'orders', 'price_positive', CAST(count(*) AS BIGINT),
      |    CAST(count(CASE WHEN NOT (o_totalprice > 0) THEN 1 END) AS BIGINT)
      |  FROM orders
      |  UNION ALL
      |  SELECT 'orders', 'date_in_range', CAST(count(*) AS BIGINT),
      |    CAST(count(CASE WHEN CAST(o_orderdate AS DATE) < DATE '1992-01-01'
      |                      OR CAST(o_orderdate AS DATE) > DATE '1998-12-31'
      |               THEN 1 END) AS BIGINT)
      |  FROM orders
      |  UNION ALL
      |  SELECT 'orders', 'key_unique', CAST(count(*) AS BIGINT),
      |    CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT)
      |  FROM orders
      |  UNION ALL
      |  SELECT 'lineitem', 'qty_integral_1_50', CAST(count(*) AS BIGINT),
      |    CAST(count(CASE WHEN l_quantity <> floor(l_quantity)
      |                      OR l_quantity < 1 OR l_quantity > 50
      |               THEN 1 END) AS BIGINT)
      |  FROM lineitem
      |  UNION ALL
      |  SELECT 'lineitem', 'discount_0_to_10pct', CAST(count(*) AS BIGINT),
      |    CAST(count(CASE WHEN l_discount < 0 OR l_discount > 0.10 THEN 1 END) AS BIGINT)
      |  FROM lineitem
      |  UNION ALL
      |  SELECT 'lineitem', 'order_fk', n, v FROM fk
      |  UNION ALL
      |  SELECT 'customer', 'key_unique', CAST(count(*) AS BIGINT),
      |    CAST(count(*) - count(DISTINCT c_custkey) AS BIGINT)
      |  FROM customer
      |  UNION ALL
      |  SELECT 'customer', 'segment_not_null', CAST(count(*) AS BIGINT),
      |    CAST(count(CASE WHEN c_mktsegment IS NULL THEN 1 END) AS BIGINT)
      |  FROM customer
      |  UNION ALL
      |  SELECT 'documents', 'n_chars_consistent', CAST(count(*) AS BIGINT),
      |    CAST(count(CASE WHEN n_chars <> length(text) THEN 1 END) AS BIGINT)
      |  FROM documents)
      |SELECT tbl, chk, n_checked, n_violations,
      |  n_violations = 0 AS pass
      |FROM r ORDER BY tbl, chk""".stripMargin) { (s, dir) =>
    val orders = Tables.orders(s, dir)
    val li = Tables.lineitem(s, dir)
    val cust = Tables.customer(s, dir)
    val docs = Tables.documents(s, dir)
    def check(tbl: String, chk: String, df: org.apache.spark.sql.DataFrame,
        violation: org.apache.spark.sql.Column) =
      df.agg(count(lit(1)).as("n_checked"),
          count(when(violation, 1)).as("n_violations"))
        .select(lit(tbl).as("tbl"), lit(chk).as("chk"),
          col("n_checked"), col("n_violations"))
    val fk = li.select(col("l_orderkey"))
      .join(orders.select(col("o_orderkey")).distinct(),
        col("o_orderkey") === col("l_orderkey"), "left")
      .agg(count(lit(1)).as("n_checked"),
        count(when(col("o_orderkey").isNull, 1)).as("n_violations"))
      .select(lit("lineitem").as("tbl"), lit("order_fk").as("chk"),
        col("n_checked"), col("n_violations"))
    val uniqOrders = orders
      .agg(count(lit(1)).as("n_checked"),
        (count(lit(1)) - countDistinct(col("o_orderkey"))).as("n_violations"))
      .select(lit("orders").as("tbl"), lit("key_unique").as("chk"),
        col("n_checked"), col("n_violations"))
    val uniqCust = cust
      .agg(count(lit(1)).as("n_checked"),
        (count(lit(1)) - countDistinct(col("c_custkey"))).as("n_violations"))
      .select(lit("customer").as("tbl"), lit("key_unique").as("chk"),
        col("n_checked"), col("n_violations"))
    check("orders", "status_domain", orders,
        !col("o_orderstatus").isin("O", "F", "P"))
      .unionAll(check("orders", "price_positive", orders,
        !(col("o_totalprice") > 0)))
      .unionAll(check("orders", "date_in_range", orders,
        col("o_orderdate").cast("date") < lit("1992-01-01").cast("date") ||
          col("o_orderdate").cast("date") > lit("1998-12-31").cast("date")))
      .unionAll(uniqOrders)
      .unionAll(check("lineitem", "qty_integral_1_50", li,
        col("l_quantity") =!= floor(col("l_quantity")) ||
          col("l_quantity") < 1 || col("l_quantity") > 50))
      .unionAll(check("lineitem", "discount_0_to_10pct", li,
        col("l_discount") < 0 || col("l_discount") > 0.10))
      .unionAll(fk)
      .unionAll(uniqCust)
      .unionAll(check("customer", "segment_not_null", cust,
        col("c_mktsegment").isNull))
      .unionAll(check("documents", "n_chars_consistent", docs,
        col("n_chars") =!= length(col("text"))))
      .select(col("tbl"), col("chk"), col("n_checked"), col("n_violations"),
        (col("n_violations") === 0).as("pass"))
      .orderBy("tbl", "chk")
  }

  /** q224 — two-sample Kolmogorov–Smirnov test: is the total-price
    * distribution of finished ('F') orders the same as open ('O')
    * orders? D = max |ECDF_F − ECDF_O|, with the max located (the
    * price where the two distributions diverge hardest) and the
    * α=0.05 decision against the large-sample critical value
    * c·sqrt((n_a+n_b)/(n_a·n_b)), c = 1.358. The distribution-drift
    * gate q165's z-test (means) and q177's U test (stochastic
    * ordering) both miss: KS sees ANY shape difference.
    *
    * Formulation — ECDFs without ranking rows: prices are exact cents,
    * so both ECDFs collapse to the merged distinct-value histogram
    * with two cumulative counts; the ECDF gap at every union point is
    * the integer cross-product |fa·n_b − fb·n_a| (common denominator
    * n_a·n_b), and between points both ECDFs are constant, so the max
    * over union points is the supremum. All integers until the final
    * 1-row IEEE chain for the critical value (q124 contract).
    *
    * Scale design (100 TB): ONE fact pass collapses to the distinct-
    * cents histogram (value-domain-bounded, not row-bounded); both
    * prefix counts ride [[ScaleRank.withRunningSum]] — never a bare
    * global window; the argmax is a 1-row aggregate joined back as a
    * broadcast, and the report is one row. */
  val q224KsTest: QueryDef = QueryDef(
    "q224_ks_test",
    """WITH p AS (
      |  SELECT o_orderstatus AS st,
      |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
      |  FROM orders WHERE o_orderstatus IN ('F', 'O')),
      |h AS (
      |  SELECT cents,
      |    CAST(sum(CASE WHEN st = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
      |    CAST(sum(CASE WHEN st = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS cb
      |  FROM p GROUP BY cents),
      |cum AS (
      |  SELECT cents,
      |    CAST(sum(ca) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) AS BIGINT) AS fa,
      |    CAST(sum(cb) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) AS BIGINT) AS fb
      |  FROM h),
      |t AS (SELECT CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb FROM h),
      |g AS (SELECT cents, abs(fa * t.nb - fb * t.na) AS gap FROM cum, t),
      |d AS (SELECT CAST(max(gap) AS BIGINT) AS d_num FROM g),
      |loc AS (SELECT CAST(min(g.cents) AS BIGINT) AS at_cents FROM g, d WHERE g.gap = d.d_num)
      |SELECT t.na, t.nb, loc.at_cents,
      |  CAST((1000000 * d.d_num) // (t.na * t.nb) AS BIGINT) AS d_ppm,
      |  CAST(floor(1000000.0 * (1.358 *
      |    sqrt(CAST(t.na + t.nb AS DOUBLE) /
      |         (CAST(t.na AS DOUBLE) * CAST(t.nb AS DOUBLE))))) AS BIGINT) AS crit_ppm,
      |  CAST(d.d_num AS DOUBLE) / (CAST(t.na AS DOUBLE) * CAST(t.nb AS DOUBLE)) >
      |    1.358 * sqrt(CAST(t.na + t.nb AS DOUBLE) /
      |                 (CAST(t.na AS DOUBLE) * CAST(t.nb AS DOUBLE))) AS reject_95
      |FROM t, d, loc""".stripMargin) { (s, dir) =>
    val p = Tables.orders(s, dir)
      .filter(col("o_orderstatus").isin("F", "O"))
      .select(col("o_orderstatus").as("st"),
        (col("o_totalprice").cast("decimal(12,2)") * 100).cast("bigint").as("cents"))
    val h = p.groupBy("cents")
      .agg(sum(when(col("st") === "F", 1L).otherwise(0L)).as("ca"),
        sum(when(col("st") === "O", 1L).otherwise(0L)).as("cb"))
      .ckpt() // feeds the totals AND both prefix passes
    val cum = ScaleRank.withRunningSum(
      ScaleRank.withRunningSum(h, Nil, Seq(col("cents")), col("ca"), "fa"),
      Nil, Seq(col("cents")), col("cb"), "fb")
    val t = h.agg(sum("ca").as("na"), sum("cb").as("nb"))
    val g = cum.crossJoin(broadcast(t))
      .select(col("cents"),
        abs(col("fa") * col("nb") - col("fb") * col("na")).as("gap"))
      .ckpt() // feeds the max AND its argmax locate
    val d = g.agg(max("gap").as("d_num"))
    val loc = g.crossJoin(broadcast(d)).filter(col("gap") === col("d_num"))
      .agg(min("cents").as("at_cents"))
    val nad = col("na").cast("double")
    val nbd = col("nb").cast("double")
    val crit = lit(1.358) * sqrt((col("na") + col("nb")).cast("double") /
      nullif(nad * nbd, lit(0d)))
    t.crossJoin(broadcast(d)).crossJoin(broadcast(loc))
      .select(col("na"), col("nb"), col("at_cents"),
        expr("(1000000 * d_num) div nullif(na * nb, 0)").as("d_ppm"),
        floor(lit(1000000.0) * crit).cast("bigint").as("crit_ppm"),
        (col("d_num").cast("double") / nullif(nad * nbd, lit(0d)) > crit)
          .as("reject_95"))
  }

  /** q225 — Spearman rank correlation between line-item quantity and
    * extended price: the monotonic-association coefficient (Pearson on
    * average ranks, the tie-correct definition) — "do bigger orders
    * cost more, monotonically?" robust to the price distribution's
    * shape. Output: pair count and rho in ppm.
    *
    * Formulation — average ranks without ranking rows: both variables
    * are discrete (integral quantities, exact cents), so each rank
    * assignment collapses to the distinct-value histogram: every row
    * with value v gets DOUBLED average rank r2 = 2·cum(v) − cnt(v) + 1
    * (an exact integer — the q177 trick). rho is then Pearson over
    * the (r2x, r2y) pairs: five moments accumulated in
    * DECIMAL(38)/HUGEINT (order-free, exact at any scale), then ONE
    * 1-row IEEE chain — num/den in doubles, one sqrt, ppm floor
    * (q124 contract). Doubling cancels in the correlation.
    *
    * Scale design (100 TB): two value-histogram passes (each value-
    * domain-bounded), prefix counts via [[ScaleRank.withRunningSum]],
    * two equi-joins back to the fact on the value keys, one moment
    * aggregate — no windows over fact-sized axes, no collect. */
  val q225Spearman: QueryDef = QueryDef(
    "q225_spearman",
    """WITH f AS (
      |  SELECT CAST(floor(l_quantity) AS BIGINT) AS x,
      |    CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS y
      |  FROM lineitem),
      |hx AS (SELECT x, CAST(count(*) AS BIGINT) AS c FROM f GROUP BY x),
      |rx AS (
      |  SELECT x, 2 * CAST(sum(c) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) AS BIGINT)
      |           - c + 1 AS r2x
      |  FROM hx),
      |hy AS (SELECT y, CAST(count(*) AS BIGINT) AS c FROM f GROUP BY y),
      |ry AS (
      |  SELECT y, 2 * CAST(sum(c) OVER (ORDER BY y ROWS UNBOUNDED PRECEDING) AS BIGINT)
      |           - c + 1 AS r2y
      |  FROM hy),
      |m AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |    sum(CAST(r2x AS HUGEINT)) AS sx, sum(CAST(r2y AS HUGEINT)) AS sy,
      |    sum(CAST(r2x AS HUGEINT) * r2y) AS sxy,
      |    sum(CAST(r2x AS HUGEINT) * r2x) AS sxx,
      |    sum(CAST(r2y AS HUGEINT) * r2y) AS syy
      |  FROM f JOIN rx USING (x) JOIN ry USING (y))
      |SELECT n,
      |  CAST(floor(1000000.0 *
      |    (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) -
      |     CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
      |    sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
      |          CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
      |         (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) -
      |          CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))) AS BIGINT) AS rho_ppm
      |FROM m
      |WHERE (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
      |       CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
      |      (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) -
      |       CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0""".stripMargin) { (s, dir) =>
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val f = Tables.lineitem(s, dir)
      .select(floor(col("l_quantity")).cast("bigint").as("x"),
        (col("l_extendedprice").cast("decimal(12,2)") * 100).cast("bigint").as("y"))
      .ckpt() // feeds both histograms AND the moment join
    def rank2(on: String, out: String) = {
      val h = f.groupBy(on).agg(count(lit(1)).as("c"))
      ScaleRank.withRunningSum(h, Nil, Seq(col(on)), col("c"), "cum")
        .select(col(on), (lit(2) * col("cum") - col("c") + 1).as(out))
    }
    val m = f.join(rank2("x", "r2x"), "x").join(rank2("y", "r2y"), "y")
      .agg(count(lit(1)).as("n"),
        sum(dec(col("r2x"))).as("sx"), sum(dec(col("r2y"))).as("sy"),
        sum(dec(col("r2x")) * col("r2y")).as("sxy"),
        sum(dec(col("r2x")) * col("r2x")).as("sxx"),
        sum(dec(col("r2y")) * col("r2y")).as("syy"))
    val nd = col("n").cast("double")
    val varx = nd * col("sxx").cast("double") -
      col("sx").cast("double") * col("sx").cast("double")
    val vary = nd * col("syy").cast("double") -
      col("sy").cast("double") * col("sy").cast("double")
    m.filter(varx * vary > 0)
      .select(col("n"),
        floor(lit(1000000.0) *
          (nd * col("sxy").cast("double") -
            col("sx").cast("double") * col("sy").cast("double")) /
          sqrt(varx * vary)).cast("bigint").as("rho_ppm"))
  }

  /** q226 — approximate functional-dependency audit: for a battery of
    * candidate column dependencies A → B, the g3 error — the minimum
    * fraction of rows that must be removed for the FD to hold exactly
    * (Kivinen–Mannila), i.e. 1 − Σ_A max_B count / N. The schema-
    * discovery profiling step that finds real keys ("p_partkey
    * determines p_name" holds) and debunks folk constraints
    * ("l_orderkey determines l_shipdate" does not) before a pipeline
    * hard-codes them as join or dedup assumptions.
    *
    * Scale design (100 TB): each candidate is two partial-aggregable
    * group-bys — fact → (A,B) grain → per-A max — then a 1-row
    * aggregate; candidates are independent branches off shared scans
    * (Spark schedules them in one job), the union is |candidates|
    * rows. No windows, no joins, no collect. */
  val q226FdAudit: QueryDef = QueryDef(
    "q226_fd_audit",
    """WITH cand AS (
      |  SELECT 'orders' AS tbl, 'o_orderkey->o_orderstatus' AS fd,
      |    CAST(o_orderkey AS VARCHAR) AS a, o_orderstatus AS b FROM orders
      |  UNION ALL
      |  SELECT 'orders', 'o_custkey->o_orderpriority',
      |    CAST(o_custkey AS VARCHAR), o_orderpriority FROM orders
      |  UNION ALL
      |  SELECT 'lineitem', 'l_orderkey->l_shipdate',
      |    CAST(l_orderkey AS VARCHAR), CAST(l_shipdate AS VARCHAR) FROM lineitem
      |  UNION ALL
      |  SELECT 'lineitem', 'l_partkey->l_suppkey',
      |    CAST(l_partkey AS VARCHAR), CAST(l_suppkey AS VARCHAR) FROM lineitem
      |  UNION ALL
      |  SELECT 'part', 'p_brand->p_type', p_brand, p_type FROM part
      |  UNION ALL
      |  SELECT 'customer', 'c_nationkey->c_mktsegment',
      |    CAST(c_nationkey AS VARCHAR), c_mktsegment FROM customer),
      |ab AS (
      |  SELECT tbl, fd, a, b, CAST(count(*) AS BIGINT) AS c
      |  FROM cand GROUP BY tbl, fd, a, b),
      |pa AS (
      |  SELECT tbl, fd, a, CAST(sum(c) AS BIGINT) AS n_a,
      |    CAST(max(c) AS BIGINT) AS keep
      |  FROM ab GROUP BY tbl, fd, a)
      |SELECT tbl, fd,
      |  CAST(sum(n_a) AS BIGINT) AS n_rows,
      |  CAST(count(*) AS BIGINT) AS n_lhs,
      |  CAST(sum(n_a - keep) AS BIGINT) AS violations,
      |  CAST((1000000 * CAST(sum(n_a - keep) AS BIGINT)) // CAST(sum(n_a) AS BIGINT)
      |    AS BIGINT) AS g3_ppm,
      |  sum(n_a - keep) = 0 AS holds
      |FROM pa GROUP BY tbl, fd
      |ORDER BY tbl, fd""".stripMargin) { (s, dir) =>
    def cand(tbl: String, fd: String, df: org.apache.spark.sql.DataFrame,
        a: Column, b: Column) =
      df.select(lit(tbl).as("tbl"), lit(fd).as("fd"),
        a.cast("string").as("a"), b.cast("string").as("b"))
    val orders = Tables.orders(s, dir)
    val li = Tables.lineitem(s, dir)
    val union =
      cand("orders", "o_orderkey->o_orderstatus", orders,
        col("o_orderkey"), col("o_orderstatus"))
      .unionAll(cand("orders", "o_custkey->o_orderpriority", orders,
        col("o_custkey"), col("o_orderpriority")))
      .unionAll(cand("lineitem", "l_orderkey->l_shipdate", li,
        col("l_orderkey"), col("l_shipdate")))
      .unionAll(cand("lineitem", "l_partkey->l_suppkey", li,
        col("l_partkey"), col("l_suppkey")))
      .unionAll(cand("part", "p_brand->p_type", Tables.part(s, dir),
        col("p_brand"), col("p_type")))
      .unionAll(cand("customer", "c_nationkey->c_mktsegment",
        Tables.customer(s, dir), col("c_nationkey"), col("c_mktsegment")))
    union.groupBy("tbl", "fd", "a", "b").agg(count(lit(1)).as("c"))
      .groupBy("tbl", "fd", "a")
      .agg(sum("c").as("n_a"), max("c").as("keep"))
      .groupBy("tbl", "fd")
      .agg(sum("n_a").as("n_rows"), count(lit(1)).as("n_lhs"),
        sum(col("n_a") - col("keep")).as("violations"))
      .select(col("tbl"), col("fd"), col("n_rows"), col("n_lhs"),
        col("violations"),
        expr("(1000000 * violations) div n_rows").as("g3_ppm"),
        (col("violations") === 0).as("holds"))
      .orderBy("tbl", "fd")
  }

  /** q252 — randomization (permutation) test for the click-vs-view
    * mean-value difference: 32 deterministic Bernoulli relabelings of
    * the pooled rows (the q179 hash-replicate trick — valid under the
    * null's exchangeability, where labels carry no information)
    * rebuild the between-group difference distribution (coin =
    * md5-prefix parity, the q36 portable-RNG contract — a LINEAR
    * integer hash mod 2 would collapse to two labelings), and the
    * p-value is the add-one-smoothed fraction of relabelings at least
    * as extreme as the observed gap. The distribution-free
    * significance call that needs NO normality or variance model —
    * the inference-side complement of q179 (which bounds the
    * estimate) and q165 (which assumes the z model).
    *
    * Exactness: values are floor-milli ints; group means are
    * truncating int64 divs; the relabeling coin is the q179 integer
    * mixing hash — both engines flip identical coins, so the
    * permutation distribution (not just its summary) is
    * engine-identical; p is an integer ppm with the +1 smoothing
    * making 0 impossible (the standard exact-test floor).
    *
    * Scale design (100 TB): the 32-way replicate axis is a map-side
    * literal explode (data never moves — q179's shape); each
    * replicate collapses map-side to (b, label) partial sums; the
    * observed stat is the same aggregate at b=0. Everything after the
    * explode is ≤ 66 rows. */
  val q252PermutationTest: QueryDef = QueryDef(
    "q252_permutation_test",
    """WITH ev AS (
      |  SELECT event_id % 1000003 AS m, event_type AS g,
      |    CAST(floor(value * 1000) AS BIGINT) AS v
      |  FROM events WHERE event_type IN ('click', 'view')),
      |obs AS (
      |  SELECT
      |    CAST(sum(CASE WHEN g = 'click' THEN v END) AS BIGINT)
      |      // count(CASE WHEN g = 'click' THEN 1 END)
      |    - CAST(sum(CASE WHEN g = 'view' THEN v END) AS BIGINT)
      |      // count(CASE WHEN g = 'view' THEN 1 END) AS d,
      |    count(CASE WHEN g = 'click' THEN 1 END) AS n_click,
      |    count(CASE WHEN g = 'view' THEN 1 END) AS n_view
      |  FROM ev),
      |bb AS (SELECT CAST(i AS BIGINT) AS b FROM unnest(range(1, 33)) AS t(i)),
      |lab AS (
      |  SELECT bb.b, ev.v,
      |    ('0x' || substring(md5(CAST(bb.b AS VARCHAR) || '|'
      |      || CAST(ev.m AS VARCHAR)), 1, 15))::BIGINT % 2 AS l
      |  FROM ev CROSS JOIN bb),
      |perm AS (
      |  SELECT b,
      |    abs(CAST(sum(CASE WHEN l = 0 THEN v END) AS BIGINT)
      |      // count(CASE WHEN l = 0 THEN 1 END)
      |    - CAST(sum(CASE WHEN l = 1 THEN v END) AS BIGINT)
      |      // count(CASE WHEN l = 1 THEN 1 END)) AS ad
      |  FROM lab GROUP BY b)
      |SELECT obs.n_click, obs.n_view, obs.d AS diff_obs_milli,
      |  CAST(32 AS BIGINT) AS n_perm,
      |  CAST(sum(CASE WHEN perm.ad >= abs(obs.d) THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_extreme,
      |  (1000000 * (1 + CAST(sum(CASE WHEN perm.ad >= abs(obs.d)
      |    THEN 1 ELSE 0 END) AS BIGINT))) // 33 AS p_ppm
      |FROM perm CROSS JOIN obs
      |GROUP BY obs.n_click, obs.n_view, obs.d""".stripMargin) { (s, dir) =>
    val ev = Tables.events(s, dir)
      .filter(col("event_type").isin("click", "view"))
      .select(expr("event_id % 1000003").as("m"),
        col("event_type").as("g"),
        floor(col("value") * 1000).cast("bigint").as("v"))
      .ckpt() // feeds the observed stat and the 32 relabelings
    val obs = ev.agg(
      sum(when(col("g") === "click", col("v"))).as("sc"),
      count(when(col("g") === "click", 1)).as("n_click"),
      sum(when(col("g") === "view", col("v"))).as("sv"),
      count(when(col("g") === "view", 1)).as("n_view"))
      .select(col("n_click"), col("n_view"),
        expr("sc div n_click - sv div n_view").as("d"))
    val perm = ev
      .withColumn("b", explode(array((1 to 32).map(i => lit(i.toLong)): _*)))
      .withColumn("l",
        expr("CAST(conv(substring(md5(concat(CAST(b AS STRING), '|', " +
          "CAST(m AS STRING))), 1, 15), 16, 10) AS BIGINT) % 2"))
      .groupBy(col("b"))
      .agg(sum(when(col("l") === 0, col("v"))).as("s0"),
        count(when(col("l") === 0, 1)).as("n0"),
        sum(when(col("l") === 1, col("v"))).as("s1"),
        count(when(col("l") === 1, 1)).as("n1"))
      .select(col("b"), expr("abs(s0 div n0 - s1 div n1)").as("ad"))
    perm.crossJoin(broadcast(obs))
      .groupBy(col("n_click"), col("n_view"), col("d"))
      .agg(sum(when(col("ad") >= abs(col("d")), 1L).otherwise(0L))
        .as("n_extreme"))
      .select(col("n_click"), col("n_view"), col("d").as("diff_obs_milli"),
        lit(32L).as("n_perm"), col("n_extreme"),
        expr("(1000000 * (1 + n_extreme)) div 33").as("p_ppm"))
  }

  /** q256 — Kendall tau-b rank correlation between line-item quantity
    * and discount, computed entirely from the JOINT VALUE HISTOGRAM:
    * both variables are discrete, so every one of the ~n²/2 row pairs
    * collapses to a pair of histogram cells — concordant/discordant
    * mass is Σ c₁·c₂ over cell pairs, and the tie corrections come
    * from the marginals. Complements q225 (Spearman weights by rank
    * DISTANCE; tau-b counts pair ORDER inversions — the statistic
    * behind "what fraction of pairs does the ranking get right",
    * i.e. 2·AUC−1 for binary outcomes).
    *
    * Exactness: cell counts are int64; pair products and the tie
    * terms accumulate in DECIMAL(38)/HUGEINT (exact, order-free);
    * tau is ONE 1-row IEEE chain — two casts, one sqrt, one ppm
    * floor — identical in both engines; outputs are clamped to
    * BIGINT (exact below ~10⁹ rows; the internal moments are exact
    * at any scale).
    *
    * Scale design (100 TB): one partial-aggregable pass builds the
    * ≤ 51×11-cell joint histogram; the concordance pair join and
    * both marginal tie sums run on that broadcast bounded frame —
    * O(cells²) ≈ 160k cheap products regardless of corpus size. No
    * windows, no collect. */
  val q256KendallTau: QueryDef = QueryDef(
    "q256_kendall_tau",
    """WITH f AS (
      |  SELECT CAST(floor(l_quantity) AS BIGINT) AS x,
      |    CAST(round(l_discount * 100) AS BIGINT) AS y
      |  FROM lineitem),
      |h AS (SELECT x, y, CAST(count(*) AS BIGINT) AS c FROM f GROUP BY 1, 2),
      |p AS (
      |  SELECT
      |    sum(CASE WHEN a.y < b.y THEN CAST(a.c AS HUGEINT) * b.c
      |      ELSE CAST(0 AS HUGEINT) END) AS conc,
      |    sum(CASE WHEN a.y > b.y THEN CAST(a.c AS HUGEINT) * b.c
      |      ELSE CAST(0 AS HUGEINT) END) AS disc
      |  FROM h a JOIN h b ON a.x < b.x),
      |mx AS (
      |  SELECT sum(CAST(cx AS HUGEINT) * (cx - 1) // 2) AS tx FROM (
      |    SELECT CAST(sum(c) AS BIGINT) AS cx FROM h GROUP BY x)),
      |my AS (
      |  SELECT sum(CAST(cy AS HUGEINT) * (cy - 1) // 2) AS ty FROM (
      |    SELECT CAST(sum(c) AS BIGINT) AS cy FROM h GROUP BY y)),
      |m AS (SELECT CAST(count(*) AS HUGEINT) AS n FROM f),
      |z AS (
      |  SELECT n, conc, disc, tx, ty, n * (n - 1) // 2 AS n0
      |  FROM p, mx, my, m)
      |SELECT CAST(n AS BIGINT) AS n, CAST(conc AS BIGINT) AS conc,
      |  CAST(disc AS BIGINT) AS disc, CAST(tx AS BIGINT) AS ties_x,
      |  CAST(ty AS BIGINT) AS ties_y,
      |  CAST(floor(1000000.0 *
      |    (CAST(conc AS DOUBLE) - CAST(disc AS DOUBLE)) /
      |    sqrt((CAST(n0 AS DOUBLE) - CAST(tx AS DOUBLE)) *
      |         (CAST(n0 AS DOUBLE) - CAST(ty AS DOUBLE)))) AS BIGINT)
      |    AS tau_b_ppm
      |FROM z
      |WHERE (CAST(n0 AS DOUBLE) - CAST(tx AS DOUBLE)) *
      |      (CAST(n0 AS DOUBLE) - CAST(ty AS DOUBLE)) > 0""".stripMargin) {
    (s, dir) =>
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val h = Tables.lineitem(s, dir)
      .select(floor(col("l_quantity")).cast("bigint").as("x"),
        round(col("l_discount") * 100).cast("bigint").as("y"))
      .groupBy(col("x"), col("y")).agg(count(lit(1)).as("c"))
      .ckpt() // bounded joint histogram feeds all four sums
    val p = h.as("a").join(broadcast(h.as("b")), col("a.x") < col("b.x"))
      .agg(
        sum(when(col("a.y") < col("b.y"), dec(col("a.c")) * col("b.c"))
          .otherwise(dec(lit(0)))).as("conc"),
        sum(when(col("a.y") > col("b.y"), dec(col("a.c")) * col("b.c"))
          .otherwise(dec(lit(0)))).as("disc"))
    val tx = h.groupBy(col("x")).agg(sum(col("c")).as("cx"))
      .agg(sum(expr("cast(cx as decimal(38,0)) * (cx - 1) div 2")).as("tx"))
    val ty = h.groupBy(col("y")).agg(sum(col("c")).as("cy"))
      .agg(sum(expr("cast(cy as decimal(38,0)) * (cy - 1) div 2")).as("ty"))
    val m = h.agg(dec(sum(col("c"))).as("n"))
    val z = p.crossJoin(broadcast(tx)).crossJoin(broadcast(ty))
      .crossJoin(broadcast(m))
      .withColumn("n0", expr("n * (n - 1) div 2"))
    val den = (col("n0").cast("double") - col("tx").cast("double")) *
      (col("n0").cast("double") - col("ty").cast("double"))
    z.filter(den > 0)
      .select(col("n").cast("bigint").as("n"),
        col("conc").cast("bigint").as("conc"),
        col("disc").cast("bigint").as("disc"),
        col("tx").cast("bigint").as("ties_x"),
        col("ty").cast("bigint").as("ties_y"),
        floor(lit(1000000.0) *
          (col("conc").cast("double") - col("disc").cast("double")) /
          sqrt(den)).cast("bigint").as("tau_b_ppm"))
  }

  /** q257 — one-way ANOVA F-test of account balance across market
    * segments: does segment explain ANY of the balance variance? The
    * between/within sum-of-squares decomposition, its F statistic,
    * and the effect size η² — the parametric k-group companion to
    * q177 (two-group, rank-based) and q252 (two-group,
    * randomization). This is the "is this grouping column
    * informative at all" gate run before investing in per-group
    * models.
    *
    * Exactness: balances are floor-quantized to integer cents once;
    * n, Σx, Σx² accumulate in DECIMAL(38)/HUGEINT (order-free,
    * exact); each group's S²_g/n_g and the grand S²/N go through
    * truncating integer division on NON-NEGATIVE squares (so `div`
    * ≡ `//` — no negative-floor divergence even though balances can
    * be negative), making SSB/SSW exact integers up to ≤ k floor
    * units, with SSB clamped at 0 from below in both engines; F and
    * η² are ONE IEEE chain each off those integers.
    *
    * Scale design (100 TB): one partial-aggregable pass to the
    * ≤ |segments| moment rows, then 1-row arithmetic — nothing but
    * k moment triples ever moves. No windows, no collect. */
  val q257Anova: QueryDef = QueryDef(
    "q257_anova",
    """WITH f AS (
      |  SELECT c_mktsegment AS seg,
      |    CAST(floor(c_acctbal * 100) AS BIGINT) AS cents
      |  FROM customer),
      |g AS (
      |  SELECT seg, CAST(count(*) AS HUGEINT) AS n,
      |    sum(CAST(cents AS HUGEINT)) AS sx,
      |    sum(CAST(cents AS HUGEINT) * cents) AS sxx
      |  FROM f GROUP BY seg),
      |t AS (
      |  SELECT CAST(count(*) AS HUGEINT) AS k, sum(n) AS nn,
      |    sum(sx) AS ss, sum(sxx) AS qq,
      |    sum(sx * sx // n) AS tg
      |  FROM g),
      |z AS (
      |  SELECT k, nn, greatest(CAST(0 AS HUGEINT), tg - ss * ss // nn) AS ssb,
      |    qq - tg AS ssw
      |  FROM t)
      |SELECT CAST(k AS BIGINT) AS k_groups, CAST(nn AS BIGINT) AS n,
      |  CAST(ssb AS BIGINT) AS ssb_cents2, CAST(ssw AS BIGINT) AS ssw_cents2,
      |  CAST(floor(1000.0 *
      |    (CAST(ssb AS DOUBLE) / (CAST(k AS DOUBLE) - 1.0)) /
      |    (CAST(ssw AS DOUBLE) / (CAST(nn AS DOUBLE) - CAST(k AS DOUBLE))))
      |    AS BIGINT) AS f_milli,
      |  CAST(floor(1000000.0 * CAST(ssb AS DOUBLE) /
      |    (CAST(ssb AS DOUBLE) + CAST(ssw AS DOUBLE))) AS BIGINT)
      |    AS eta2_ppm
      |FROM z WHERE ssw > 0 AND k > 1 AND nn > k""".stripMargin) { (s, dir) =>
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val g = Tables.customer(s, dir)
      .select(col("c_mktsegment").as("seg"),
        floor(col("c_acctbal") * 100).cast("bigint").as("cents"))
      .groupBy(col("seg"))
      .agg(dec(count(lit(1))).as("n"), sum(dec(col("cents"))).as("sx"),
        sum(dec(col("cents")) * col("cents")).as("sxx"))
    val t = g.agg(dec(count(lit(1))).as("k"), sum(col("n")).as("nn"),
      sum(col("sx")).as("ss"), sum(col("sxx")).as("qq"),
      sum(expr("sx * sx div n")).as("tg"))
    val z = t.select(col("k"), col("nn"),
      greatest(dec(lit(0)), expr("tg - ss * ss div nn")).as("ssb"),
      expr("qq - tg").as("ssw"))
    val kd = col("k").cast("double")
    val nd = col("nn").cast("double")
    z.filter(col("ssw") > 0 && col("k") > 1 && col("nn") > col("k"))
      .select(col("k").cast("bigint").as("k_groups"),
        col("nn").cast("bigint").as("n"),
        col("ssb").cast("bigint").as("ssb_cents2"),
        col("ssw").cast("bigint").as("ssw_cents2"),
        floor(lit(1000.0) *
          (col("ssb").cast("double") / (kd - lit(1.0))) /
          (col("ssw").cast("double") / (nd - kd)))
          .cast("bigint").as("f_milli"),
        floor(lit(1000000.0) * col("ssb").cast("double") /
          (col("ssb").cast("double") + col("ssw").cast("double")))
          .cast("bigint").as("eta2_ppm"))
  }

  /** q258 — population-stability-index (PSI) drift report between the
    * pre-1999 and 1999+ order populations over 20 equal-width price
    * buckets: PSI = Σ (p_a − p_e)·ln(p_a / p_e), the industry-
    * standard score for "has this feature's distribution moved since
    * the model was fit" (rule of thumb: <0.10 stable, >0.25 act).
    * Complements q224 (KS: max ECDF gap, a location test) and q143
    * (total-variation distance: L1, no weighting) — PSI's log weight
    * makes TAIL drift loud, which is where scoring models break.
    *
    * Exactness: bucket counts are exact int64; proportions are
    * add-one smoothed (every bucket present on both sides by
    * construction, so ln never sees 0); each bucket's contribution
    * is ONE IEEE chain floor(10⁹·(p_a−p_e)·ln(p_a/p_e)) — a product
    * of same-sign factors, so every term is ≥ 0 and the spec can
    * assert it.
    *
    * Scale design (100 TB): one partial-aggregable pass collapses
    * both populations to ≤ 20 (bucket, side) counts; the totals
    * broadcast back over the bounded bucket frame. No windows, no
    * collect, no second scan. */
  val q258Psi: QueryDef = QueryDef(
    "q258_psi",
    """WITH f AS (
      |  SELECT least(19, CAST(floor(o_totalprice / 25000) AS BIGINT)) AS bucket,
      |    CASE WHEN o_orderdate < TIMESTAMP '1999-01-01' THEN 0 ELSE 1 END AS side
      |  FROM orders),
      |b AS (
      |  SELECT g.bucket,
      |    CAST(sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ce,
      |    CAST(sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT) AS ca
      |  FROM (SELECT unnest(range(0, 20)) AS bucket) g
      |    LEFT JOIN f ON f.bucket = g.bucket
      |  GROUP BY 1),
      |t AS (
      |  SELECT CAST(sum(ce) AS BIGINT) AS ne, CAST(sum(ca) AS BIGINT) AS na
      |  FROM b)
      |SELECT b.bucket, b.ce AS n_expected, b.ca AS n_actual,
      |  CAST(floor(1000000000.0 *
      |    ((CAST(b.ca + 1 AS DOUBLE) / CAST(t.na + 20 AS DOUBLE)) -
      |     (CAST(b.ce + 1 AS DOUBLE) / CAST(t.ne + 20 AS DOUBLE))) *
      |    ln((CAST(b.ca + 1 AS DOUBLE) / CAST(t.na + 20 AS DOUBLE)) /
      |       (CAST(b.ce + 1 AS DOUBLE) / CAST(t.ne + 20 AS DOUBLE))))
      |    AS BIGINT) AS psi_nano
      |FROM b, t ORDER BY b.bucket""".stripMargin) { (s, dir) =>
    val f = Tables.orders(s, dir)
      .select(least(lit(19L),
        floor(col("o_totalprice") / 25000).cast("bigint")).as("bucket"),
        when(col("o_orderdate") < lit("1999-01-01").cast("timestamp"), 0)
          .otherwise(1).as("side"))
    val grid = s.range(0, 20).select(col("id").as("bucket"))
    val b = grid.join(f, Seq("bucket"), "left")
      .groupBy(col("bucket"))
      .agg(sum(when(col("side") === 0, 1L).otherwise(0L)).as("ce"),
        sum(when(col("side") === 1, 1L).otherwise(0L)).as("ca"))
      .ckpt() // <=20 rows; feeds totals AND the report
    val t = b.agg(sum(col("ce")).as("ne"), sum(col("ca")).as("na"))
    val pa = (col("ca") + 1).cast("double") / (col("na") + 20).cast("double")
    val pe = (col("ce") + 1).cast("double") / (col("ne") + 20).cast("double")
    b.crossJoin(broadcast(t))
      .select(col("bucket"), col("ce").as("n_expected"),
        col("ca").as("n_actual"),
        floor(lit(1000000000.0) * (pa - pe) * log(pa / pe))
          .cast("bigint").as("psi_nano"))
      .orderBy("bucket")
  }

  /** q266 — CUPED variance reduction for the event A/B readout: each
    * user's experiment-period spend is adjusted by their PRE-period
    * spend (y′ = y − θ(x − x̄), θ = cov(x,y)/var(x)) before arm
    * means are compared — the standard experimentation-platform
    * trick that removes between-user baseline variance from the
    * treatment contrast (the reported var_red is exactly ρ², the
    * fraction of metric variance the covariate explains). Arms are
    * the portable md5-parity coin on user_id (the q36/q252
    * contract). q252 tests a difference; CUPED is the step that
    * makes such tests SENSITIVE.
    *
    * Exactness: spend is exact cents; per-user (x, y) and all five
    * moments accumulate in DECIMAL(38)/HUGEINT; θ, ρ², and the
    * adjusted arm means are ONE shared IEEE chain written with
    * identical operation order in both engines, each landing in a
    * milli/ppm floor; degenerate var(x)·var(y) ≤ 0 drops the row
    * identically in both engines (fuzz-proof).
    *
    * Scale design (100 TB): one partial-aggregable pass to user
    * grain (pre/post split via conditional sums — no second scan),
    * one 1-row moment aggregate, one ≤2-row arm aggregate with the
    * moments broadcast back. No windows, no collect. */
  val q266Cuped: QueryDef = QueryDef(
    "q266_cuped",
    """WITH u AS (
      |  SELECT user_id,
      |    CAST(coalesce(sum(CASE WHEN ts < TIMESTAMP '2024-01-16'
      |      THEN CAST(floor(value * 100 + 0.5) AS BIGINT) END), 0)
      |      AS BIGINT) AS x,
      |    CAST(coalesce(sum(CASE WHEN ts >= TIMESTAMP '2024-01-16'
      |      THEN CAST(floor(value * 100 + 0.5) AS BIGINT) END), 0)
      |      AS BIGINT) AS y,
      |    ('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT % 2
      |      AS arm
      |  FROM events GROUP BY user_id),
      |m AS (
      |  SELECT CAST(count(*) AS HUGEINT) AS n,
      |    sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
      |    sum(CAST(x AS HUGEINT) * x) AS sxx,
      |    sum(CAST(x AS HUGEINT) * y) AS sxy,
      |    sum(CAST(y AS HUGEINT) * y) AS syy
      |  FROM u),
      |a AS (
      |  SELECT arm, CAST(count(*) AS BIGINT) AS n_users,
      |    sum(CAST(x AS HUGEINT)) AS sxa, sum(CAST(y AS HUGEINT)) AS sya
      |  FROM u GROUP BY arm)
      |SELECT a.arm, a.n_users,
      |  CAST(floor(1000.0 * CAST(a.sya AS DOUBLE) / CAST(a.n_users AS DOUBLE))
      |    AS BIGINT) AS mean_y_millicents,
      |  CAST(floor(1000.0 * (CAST(a.sya AS DOUBLE) / CAST(a.n_users AS DOUBLE)
      |    - ((CAST(m.n AS DOUBLE) * CAST(m.sxy AS DOUBLE)
      |        - CAST(m.sx AS DOUBLE) * CAST(m.sy AS DOUBLE)) /
      |       (CAST(m.n AS DOUBLE) * CAST(m.sxx AS DOUBLE)
      |        - CAST(m.sx AS DOUBLE) * CAST(m.sx AS DOUBLE)))
      |      * (CAST(a.sxa AS DOUBLE) / CAST(a.n_users AS DOUBLE)
      |         - CAST(m.sx AS DOUBLE) / CAST(m.n AS DOUBLE))))
      |    AS BIGINT) AS mean_adj_millicents,
      |  CAST(floor(1000000.0 *
      |    (CAST(m.n AS DOUBLE) * CAST(m.sxy AS DOUBLE)
      |     - CAST(m.sx AS DOUBLE) * CAST(m.sy AS DOUBLE)) /
      |    (CAST(m.n AS DOUBLE) * CAST(m.sxx AS DOUBLE)
      |     - CAST(m.sx AS DOUBLE) * CAST(m.sx AS DOUBLE))) AS BIGINT)
      |    AS theta_ppm,
      |  CAST(floor(1000000.0 *
      |    ((CAST(m.n AS DOUBLE) * CAST(m.sxy AS DOUBLE)
      |      - CAST(m.sx AS DOUBLE) * CAST(m.sy AS DOUBLE)) *
      |     (CAST(m.n AS DOUBLE) * CAST(m.sxy AS DOUBLE)
      |      - CAST(m.sx AS DOUBLE) * CAST(m.sy AS DOUBLE))) /
      |    ((CAST(m.n AS DOUBLE) * CAST(m.sxx AS DOUBLE)
      |      - CAST(m.sx AS DOUBLE) * CAST(m.sx AS DOUBLE)) *
      |     (CAST(m.n AS DOUBLE) * CAST(m.syy AS DOUBLE)
      |      - CAST(m.sy AS DOUBLE) * CAST(m.sy AS DOUBLE)))) AS BIGINT)
      |    AS var_red_ppm
      |FROM a, m
      |WHERE (CAST(m.n AS DOUBLE) * CAST(m.sxx AS DOUBLE)
      |       - CAST(m.sx AS DOUBLE) * CAST(m.sx AS DOUBLE)) *
      |      (CAST(m.n AS DOUBLE) * CAST(m.syy AS DOUBLE)
      |       - CAST(m.sy AS DOUBLE) * CAST(m.sy AS DOUBLE)) > 0
      |ORDER BY a.arm""".stripMargin) { (s, dir) =>
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val cents = expr("cast(floor(value * 100 + 0.5) as bigint)")
    val cut = lit("2024-01-16").cast("timestamp")
    val u = Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(
        coalesce(sum(when(col("ts") < cut, cents)), lit(0L)).as("x"),
        coalesce(sum(when(col("ts") >= cut, cents)), lit(0L)).as("y"))
      .withColumn("arm", expr(
        "cast(conv(substring(md5(cast(user_id as string)), 1, 15), 16, 10) " +
          "as bigint) % 2"))
      .ckpt() // user grain feeds moments AND arms
    val m = u.agg(dec(count(lit(1))).as("n"),
      sum(dec(col("x"))).as("sx"), sum(dec(col("y"))).as("sy"),
      sum(dec(col("x")) * col("x")).as("sxx"),
      sum(dec(col("x")) * col("y")).as("sxy"),
      sum(dec(col("y")) * col("y")).as("syy"))
    val a = u.groupBy(col("arm"))
      .agg(count(lit(1)).as("n_users"),
        sum(dec(col("x"))).as("sxa"), sum(dec(col("y"))).as("sya"))
    val nd = col("n").cast("double")
    val cov = nd * col("sxy").cast("double") -
      col("sx").cast("double") * col("sy").cast("double")
    val varx = nd * col("sxx").cast("double") -
      col("sx").cast("double") * col("sx").cast("double")
    val vary = nd * col("syy").cast("double") -
      col("sy").cast("double") * col("sy").cast("double")
    val meanY = col("sya").cast("double") / col("n_users").cast("double")
    val meanXa = col("sxa").cast("double") / col("n_users").cast("double")
    val meanX = col("sx").cast("double") / nd
    a.crossJoin(broadcast(m))
      .filter(varx * vary > 0)
      .select(col("arm"), col("n_users"),
        floor(lit(1000.0) * meanY).cast("bigint").as("mean_y_millicents"),
        floor(lit(1000.0) * (meanY - (cov / varx) * (meanXa - meanX)))
          .cast("bigint").as("mean_adj_millicents"),
        floor(lit(1000000.0) * cov / varx).cast("bigint").as("theta_ppm"),
        floor(lit(1000000.0) * (cov * cov) / (varx * vary))
          .cast("bigint").as("var_red_ppm"))
      .orderBy("arm")
  }

  /** The q268 range-predicate battery on the extended-price cents
    * axis, shared verbatim by the Spark plan and the oracle SQL.
    * Half-open [lo, hi) bounds; the last one is deliberately narrow
    * (sub-bucket) so the audit exercises the interpolation path. */
  private val SEL_PREDS: Seq[(Long, Long, Long)] = Seq(
    (1L, 0L, 1000000L), (2L, 1000000L, 3000000L),
    (3L, 3000000L, 7000000L), (4L, 7000000L, 20000000L),
    (5L, 500000L, 550000L))

  /** q268 — selectivity-estimation audit: estimate the row count of
    * a range-predicate battery from a 20-bucket equi-depth histogram
    * (uniform interpolation inside each bucket — the System R
    * assumption every cost-based optimizer ships) and score each
    * estimate against the true count. This is the optimizer-quality
    * report behind "why did the planner mis-join": q129 builds the
    * histogram, q231 audits JOIN cardinalities; this closes the loop
    * on single-table RANGE selectivity, including a deliberately
    * sub-bucket-width predicate where interpolation error peaks.
    *
    * Exactness: bucket bounds/counts are exact int64 (equi-depth via
    * [[ScaleRank]]'s exact ntile, orderkey/linenumber tiebreak); the
    * per-bucket overlap fraction is quantized to integer MICRO-rows
    * ((10⁶·overlap) div width) before the cross-bucket sum, so the
    * estimate is order-free integer arithmetic end to end; true
    * counts are one conditional-sum pass; the error ratio is a
    * non-negative integer floor-div with a greatest(1,·) guard.
    *
    * Scale design (100 TB): one ScaleRank pass (bounded range-chunk
    * tasks) + one 20-row histogram; estimation runs on the broadcast
    * 20×|preds| grid; truth is ONE partial-aggregable scan with
    * |preds| counters. No windows over fact axes, no collect. */
  val q268SelectivityAudit: QueryDef = {
    val predRows = SEL_PREDS.map { case (i, a, b) =>
      s"SELECT CAST($i AS BIGINT) AS pid, CAST($a AS BIGINT) AS lo_p, " +
        s"CAST($b AS BIGINT) AS hi_p"
    }.mkString(" UNION ALL ")
    val actCols = SEL_PREDS.map { case (i, a, b) =>
      s"CAST(sum(CASE WHEN cents >= $a AND cents < $b THEN 1 ELSE 0 END) " +
        s"AS BIGINT) AS act$i"
    }.mkString(", ")
    val actRows = SEL_PREDS.map { case (i, _, _) =>
      s"SELECT CAST($i AS BIGINT) AS pid, act$i AS actual_rows FROM act"
    }.mkString(" UNION ALL ")
    QueryDef(
      "q268_selectivity_audit",
      s"""WITH f AS (
         |  SELECT CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents,
         |    l_orderkey AS o, l_linenumber AS ln2
         |  FROM lineitem),
         |r AS (
         |  SELECT cents, ntile(20) OVER (ORDER BY cents, o, ln2) AS b
         |  FROM f),
         |h AS (
         |  SELECT b, CAST(min(cents) AS BIGINT) AS lo,
         |    CAST(max(cents) AS BIGINT) AS hi,
         |    CAST(count(*) AS BIGINT) AS cnt
         |  FROM r GROUP BY b),
         |preds AS ($predRows),
         |est AS (
         |  SELECT p.pid, p.lo_p, p.hi_p,
         |    CAST(sum(h.cnt * ((1000000 * greatest(0,
         |      least(p.hi_p, h.hi + 1) - greatest(p.lo_p, h.lo)))
         |      // (h.hi + 1 - h.lo))) AS BIGINT) // 1000000 AS est_rows
         |  FROM preds p CROSS JOIN h
         |  GROUP BY 1, 2, 3),
         |act AS (SELECT $actCols FROM f),
         |actu AS ($actRows)
         |SELECT e.pid, e.lo_p AS lo_cents, e.hi_p AS hi_cents,
         |  e.est_rows, a.actual_rows,
         |  (1000000 * abs(e.est_rows - a.actual_rows))
         |    // greatest(a.actual_rows, 1) AS err_ppm
         |FROM est e JOIN actu a USING (pid)
         |ORDER BY e.pid""".stripMargin) { (s, dir) =>
      val f = Tables.lineitem(s, dir)
        .select(floor(col("l_extendedprice") * 100 + 0.5).cast("bigint")
          .as("cents"),
          col("l_orderkey").as("o"), col("l_linenumber").as("ln2"))
        .ckpt() // feeds the histogram AND the truth pass
      val h = ScaleRank.withRowNumber(f, Nil,
          Seq(col("cents"), col("o"), col("ln2")), "rk", "nn")
        .withColumn("b", ScaleRank.ntileFromRank(20, col("rk"), col("nn")))
        .groupBy(col("b"))
        .agg(min(col("cents")).as("lo"), max(col("cents")).as("hi"),
          count(lit(1)).as("cnt"))
      import s.implicits._
      val preds = SEL_PREDS.toDF("pid", "lo_p", "hi_p")
      val est = broadcast(preds).crossJoin(broadcast(h))
        .groupBy(col("pid"), col("lo_p"), col("hi_p"))
        .agg((sum(col("cnt") *
          expr("(1000000 * greatest(0, least(hi_p, hi + 1) - greatest(lo_p, lo))) div (hi + 1 - lo)"))
          .cast("bigint")).as("est_micro"))
        .select(col("pid"), col("lo_p"), col("hi_p"),
          expr("est_micro div 1000000").as("est_rows"))
      val act1 = f.agg(
        SEL_PREDS.head match { case (i, a, b) =>
          sum(when(col("cents") >= a && col("cents") < b, 1L).otherwise(0L))
            .as(s"act$i") },
        SEL_PREDS.tail.map { case (i, a, b) =>
          sum(when(col("cents") >= a && col("cents") < b, 1L).otherwise(0L))
            .as(s"act$i") }: _*)
      val stackExpr = "stack(" + SEL_PREDS.length + ", " +
        SEL_PREDS.map { case (i, _, _) => s"${i}L, act$i" }.mkString(", ") +
        ") as (pid, actual_rows)"
      val actu = act1.select(expr(stackExpr))
      est.join(broadcast(actu), Seq("pid"))
        .select(col("pid"), col("lo_p").as("lo_cents"),
          col("hi_p").as("hi_cents"), col("est_rows"), col("actual_rows"),
          expr("(1000000 * abs(est_rows - actual_rows)) div greatest(actual_rows, 1)")
            .as("err_ppm"))
        .orderBy("pid")
    }
  }

  /** q277 — V-optimal histogram construction (Jagadish et al.
    * VLDB'98) over the quantity axis: dynamic programming finds, for
    * every bucket budget B = 1..8, the contiguous bucketing that
    * minimizes total within-bucket SSE — the histogram that makes
    * q268's selectivity estimates as good as B buckets can be — and
    * the report places the optimum next to the equi-width-8 and
    * equi-depth-8 heuristics (the optimality gap is the argument for
    * paying the DP). The B-curve is the elbow plot that picks the
    * bucket budget.
    *
    * Exactness: the axis collapses to ≤50 integer classes with
    * exact (n, Σv, Σv²) per class; every interval SSE is quantized
    * to integer micro-units (Q·10⁶ − (S²·10⁶) div N, non-negative
    * by Cauchy–Schwarz, S² through DECIMAL/HUGEINT) BEFORE any
    * min/+, so the whole DP is integer arithmetic — identical in
    * both engines, no float ties.
    *
    * Scale design (100 TB): ONE partial-aggregable pass to the
    * value-class stats; the interval table (≤1225 rows), the DP
    * layers, and both baselines run on broadcast bounded frames —
    * the DP is O(B·classes²) on ~50 rows regardless of corpus
    * size. */
  val q277VoptHistogram: QueryDef = {
    val B = 8
    val layers = (2 to B).map { b =>
      s"""c$b AS MATERIALIZED (
         |  SELECT sse.hi AS i, min(c${b - 1}.cost + sse.s) AS cost
         |  FROM c${b - 1} JOIN sse ON sse.lo = c${b - 1}.i + 1
         |  GROUP BY sse.hi)""".stripMargin
    }.mkString(",\n")
    val vrows = (1 to B).map { b =>
      s"""SELECT 'voptimal' AS method, CAST($b AS BIGINT) AS n_buckets,
         |  (SELECT cost FROM c$b WHERE i = (SELECT max(v) FROM cls))
         |    AS sse_micro""".stripMargin
    }.mkString("\nUNION ALL\n")
    QueryDef(
      "q277_vopt_histogram",
      s"""WITH cls AS MATERIALIZED (
         |  SELECT CAST(floor(l_quantity) AS BIGINT) AS v,
         |    CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS sv,
         |    CAST(sum(CAST(floor(l_quantity) AS BIGINT)
         |      * CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS qv
         |  FROM lineitem GROUP BY 1),
         |iv AS MATERIALIZED (
         |  SELECT a.v AS lo, b.v AS hi,
         |    CAST(sum(m.n) AS BIGINT) AS nn, sum(CAST(m.sv AS HUGEINT)) AS ss,
         |    CAST(sum(m.qv) AS BIGINT) AS qq
         |  FROM cls a JOIN cls b ON a.v <= b.v
         |    JOIN cls m ON m.v BETWEEN a.v AND b.v
         |  GROUP BY 1, 2),
         |sse AS MATERIALIZED (
         |  SELECT lo, hi,
         |    CAST(qq AS HUGEINT) * 1000000 - (ss * ss * 1000000) // nn AS s
         |  FROM iv),
         |c1 AS MATERIALIZED (
         |  SELECT hi AS i, s AS cost FROM sse
         |  WHERE lo = (SELECT min(v) FROM cls)),
         |$layers,
         |cum AS MATERIALIZED (
         |  SELECT a.v, CAST(sum(b.n) AS BIGINT) AS cumn,
         |    (SELECT CAST(sum(n) AS BIGINT) FROM cls) AS nt
         |  FROM cls a JOIN cls b ON b.v <= a.v GROUP BY a.v),
         |ew AS (
         |  SELECT CAST(sum(t.s) AS HUGEINT) AS sse_micro FROM (
         |    SELECT (1000000 * CAST(sum(qv) AS HUGEINT))
         |      - (sum(CAST(sv AS HUGEINT)) * sum(CAST(sv AS HUGEINT))
         |         * 1000000) // sum(n) AS s
         |    FROM cls GROUP BY ((v - (SELECT min(v) FROM cls)) * $B)
         |      // ((SELECT max(v) - min(v) + 1 FROM cls))) t),
         |ed AS (
         |  SELECT CAST(sum(t.s) AS HUGEINT) AS sse_micro FROM (
         |    SELECT (1000000 * CAST(sum(cls.qv) AS HUGEINT))
         |      - (sum(CAST(cls.sv AS HUGEINT)) * sum(CAST(cls.sv AS HUGEINT))
         |         * 1000000) // sum(cls.n) AS s
         |    FROM cls JOIN cum ON cls.v = cum.v
         |    GROUP BY ((cum.cumn - 1) * $B) // cum.nt) t)
         |SELECT method, n_buckets, CAST(sse_micro AS BIGINT) AS sse_micro
         |FROM (
         |  $vrows
         |  UNION ALL SELECT 'equiwidth', CAST($B AS BIGINT), sse_micro FROM ew
         |  UNION ALL SELECT 'equidepth', CAST($B AS BIGINT), sse_micro FROM ed)
         |ORDER BY method, n_buckets""".stripMargin) { (s, dir) =>
      val dec = (c: Column) => c.cast("decimal(38,0)")
      val cls = Tables.lineitem(s, dir)
        .select(floor(col("l_quantity")).cast("bigint").as("v"))
        .groupBy(col("v"))
        .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"),
          sum(col("v") * col("v")).as("qv"))
        .ckpt() // <=50 classes feed intervals, DP, baselines
      val bounds = cls.agg(min(col("v")).as("vmin"), max(col("v")).as("vmax"),
        sum(col("n")).as("nt")).ckpt()
      val iv = cls.select(col("v").as("lo"))
        .join(broadcast(cls.select(col("v").as("hi"))), col("lo") <= col("hi"))
        .join(broadcast(cls.select(col("v").as("mv"), col("n"), col("sv"),
          col("qv"))), col("mv").between(col("lo"), col("hi")))
        .groupBy(col("lo"), col("hi"))
        .agg(sum(col("n")).as("nn"), sum(dec(col("sv"))).as("ss"),
          sum(col("qv")).as("qq"))
      val sse = iv.select(col("lo"), col("hi"),
        (dec(col("qq")) * 1000000 -
          expr("(ss * ss * 1000000) div nn")).as("s"))
        .ckpt()
      var layer = sse.crossJoin(broadcast(bounds.select(col("vmin"))))
        .filter(col("lo") === col("vmin"))
        .select(col("hi").as("i"), col("s").as("cost"))
      val vmaxRow = broadcast(bounds.select(col("vmax")))
      val vrowsDf = scala.collection.mutable.ArrayBuffer[DataFrame]()
      vrowsDf += layer.crossJoin(vmaxRow).filter(col("i") === col("vmax"))
        .select(lit("voptimal").as("method"), lit(1L).as("n_buckets"),
          col("cost").as("sse_micro"))
      for (b <- 2 to B) {
        layer = layer
          .join(broadcast(sse), col("lo") === col("i") + 1)
          .groupBy(col("hi"))
          .agg(min(col("cost") + col("s")).as("cost"))
          .select(col("hi").as("i"), col("cost"))
          .ckpt()
        vrowsDf += layer.crossJoin(vmaxRow).filter(col("i") === col("vmax"))
          .select(lit("voptimal").as("method"), lit(b.toLong).as("n_buckets"),
            col("cost").as("sse_micro"))
      }
      def groupSse(df: DataFrame, bucket: Column): DataFrame =
        df.groupBy(bucket.as("bk"))
          .agg((lit(1000000) * sum(dec(col("qv"))) -
            expr("(sum(cast(sv as decimal(38,0))) * sum(cast(sv as decimal(38,0))) * 1000000) div sum(n)"))
            .as("s"))
          .agg(sum(col("s")).as("sse_micro"))
      val ew = groupSse(
        cls.crossJoin(broadcast(bounds)),
        expr(s"((v - vmin) * $B) div (vmax - vmin + 1)"))
        .select(lit("equiwidth").as("method"), lit(B.toLong).as("n_buckets"),
          col("sse_micro"))
      val cum = cls.as("a")
        .join(broadcast(cls.select(col("v").as("v2"), col("n").as("n2"))),
          col("v2") <= col("v"))
        .groupBy(col("v")).agg(sum(col("n2")).as("cumn"))
      val ed = groupSse(
        cls.join(cum, Seq("v")).crossJoin(broadcast(bounds)),
        expr(s"((cumn - 1) * $B) div nt"))
        .select(lit("equidepth").as("method"), lit(B.toLong).as("n_buckets"),
          col("sse_micro"))
      (vrowsDf.reduce(_ unionByName _) unionByName ew unionByName ed)
        .select(col("method"), col("n_buckets"),
          col("sse_micro").cast("bigint").as("sse_micro"))
        .orderBy("method", "n_buckets")
    }
  }

  /** q288 — Benjamini–Hochberg FDR control over the all-pairs
    * mean-difference battery: every event-type pair gets q252's
    * md5-coin permutation test (32 relabelings), and the TEN
    * p-values then ride the BH step-up at FDR 10% — the
    * multiple-testing correction without which a 10-test dashboard
    * "finds" a false positive every other week (at α=0.05, testing
    * 10 true nulls fires ~40% of the time). q252 answers "is this
    * ONE difference real"; this answers the question dashboards
    * actually ask — "which of ALL these differences survive
    * correction".
    *
    * Exactness: the q252 machinery verbatim per pair (integer milli
    * means, md5 coins keyed on (pair, relabeling, event) so no two
    * tests share coins, add-one-smoothed p); BH runs entirely on
    * the 10-row p frame — rank by (p, pair) via a bounded
    * triangular self-join (no window), the step-up cut 10⁴·rank ppm
    * exactly, kmax a 1-row max.
    *
    * Scale design (100 TB): events fan out ×(pairs containing their
    * type) map-side, then ONE partial-aggregable conditional-sum
    * pass per (pair, relabeling) grain — 330 cells; everything
    * after is the broadcast 10-row frame. No windows, no collect. */
  val q288BhFdr: QueryDef = {
    val TYPES = Seq("click", "error", "purchase", "signup", "view")
    val PAIRS = for {
      i <- TYPES.indices; j <- (i + 1) until TYPES.length
    } yield (TYPES(i), TYPES(j))
    val pairRows = PAIRS.map { case (a, b) =>
      s"SELECT '$a' AS x, '$b' AS y"
    }.mkString(" UNION ALL ")
    val wideColsSql = (1 to 32).map { b =>
      val w = 1L << (b - 1)
      s"CAST(sum(CASE WHEN (h // $w) % 2 = 0 THEN v END) AS BIGINT) AS s0_$b, " +
        s"CAST(count(CASE WHEN (h // $w) % 2 = 0 THEN 1 END) AS BIGINT) AS c0_$b, " +
        s"CAST(sum(CASE WHEN (h // $w) % 2 = 1 THEN v END) AS BIGINT) AS s1_$b, " +
        s"CAST(count(CASE WHEN (h // $w) % 2 = 1 THEN 1 END) AS BIGINT) AS c1_$b"
    }.mkString(",\n    ")
    val permRowsSql = (1 to 32).map { b =>
      s"SELECT x, y, CAST($b AS BIGINT) AS b, " +
        s"abs(s0_$b // c0_$b - s1_$b // c1_$b) AS ad FROM wide"
    }.mkString(" UNION ALL ")
    QueryDef(
      "q288_bh_fdr",
      s"""WITH pb AS ($pairRows),
         |ev AS (
         |  SELECT event_id % 1000003 AS m, event_type AS g,
         |    CAST(floor(value * 1000) AS BIGINT) AS v
         |  FROM events),
         |pe AS (
         |  SELECT pb.x, pb.y, ev.m, ev.g, ev.v
         |  FROM ev JOIN pb ON ev.g = pb.x OR ev.g = pb.y),
         |obs AS (
         |  SELECT x, y,
         |    CAST(sum(CASE WHEN g = x THEN v END) AS BIGINT)
         |      // count(CASE WHEN g = x THEN 1 END)
         |    - CAST(sum(CASE WHEN g = y THEN v END) AS BIGINT)
         |      // count(CASE WHEN g = y THEN 1 END) AS d
         |  FROM pe GROUP BY x, y),
         |ph AS (
         |  SELECT x, y, v,
         |    ('0x' || substring(md5(x || '~' || y || '|'
         |      || CAST(m AS VARCHAR)), 1, 15))::BIGINT AS h
         |  FROM pe),
         |wide AS MATERIALIZED (
         |  SELECT x, y, $wideColsSql FROM ph GROUP BY x, y),
         |perm AS ($permRowsSql),
         |pv AS (
         |  SELECT o.x, o.y, o.d,
         |    (1000000 * (1 + CAST(sum(CASE WHEN p.ad >= abs(o.d)
         |      THEN 1 ELSE 0 END) AS BIGINT))) // 33 AS p_ppm
         |  FROM obs o JOIN perm p ON o.x = p.x AND o.y = p.y
         |  GROUP BY o.x, o.y, o.d),
         |rk AS (
         |  SELECT a.x, a.y, a.d, a.p_ppm,
         |    CAST(count(*) AS BIGINT) AS bh_rank
         |  FROM pv a JOIN pv c
         |    ON c.p_ppm < a.p_ppm OR (c.p_ppm = a.p_ppm
         |      AND (c.x < a.x OR (c.x = a.x AND c.y <= a.y)))
         |  GROUP BY a.x, a.y, a.d, a.p_ppm),
         |km AS (
         |  SELECT coalesce(max(CASE WHEN p_ppm <= 10000 * bh_rank
         |    THEN bh_rank END), 0) AS kmax
         |  FROM rk)
         |SELECT rk.x, rk.y, rk.d AS diff_milli, rk.p_ppm, rk.bh_rank,
         |  CAST(10000 * rk.bh_rank AS BIGINT) AS bh_cut_ppm,
         |  CAST(CASE WHEN rk.bh_rank <= km.kmax THEN 1 ELSE 0 END AS BIGINT)
         |    AS significant
         |FROM rk, km ORDER BY rk.x, rk.y""".stripMargin) { (s, dir) =>
      import s.implicits._
      val pb = PAIRS.toDF("x", "y")
      val ev = Tables.events(s, dir)
        .select(expr("event_id % 1000003").as("m"),
          col("event_type").as("g"),
          floor(col("value") * 1000).cast("bigint").as("v"))
      val pe = ev.join(broadcast(pb),
          col("g") === col("x") || col("g") === col("y"))
      // ONE md5 per (pair, event); the 32 relabelings read independent
      // BITS of the 60-bit prefix, and ALL 32 abs-mean-differences AND
      // the observed per-side means come out of ONE wide conditional
      // aggregate — no 32x row fan-out, and (r14) no second pass over
      // the 8x-fanout pair frame for the observed difference (the old
      // obs aggregate is the sx/cx/sy/cy quartet below; the values are
      // the same integer sums either way)
      val ph = pe.select(col("x"), col("y"), col("g"), col("v"), expr(
        "cast(conv(substring(md5(concat(x, '~', y, '|', cast(m as string))), " +
          "1, 15), 16, 10) as bigint)").as("h"))
      val obsAggs: Seq[Column] = Seq(
        sum(when(col("g") === col("x"), col("v"))).as("sxv"),
        count(when(col("g") === col("x"), 1)).as("cxv"),
        sum(when(col("g") === col("y"), col("v"))).as("syv"),
        count(when(col("g") === col("y"), 1)).as("cyv"))
      val wideAggs: Seq[Column] = (1 to 32).flatMap { b =>
        val w = 1L << (b - 1)
        Seq(
          sum(when(expr(s"(h div ${w}L) % 2") === 0, col("v"))).as(s"s0_$b"),
          count(when(expr(s"(h div ${w}L) % 2") === 0, 1)).as(s"c0_$b"),
          sum(when(expr(s"(h div ${w}L) % 2") === 1, col("v"))).as(s"s1_$b"),
          count(when(expr(s"(h div ${w}L) % 2") === 1, 1)).as(s"c1_$b"))
      }
      val allAggs = obsAggs ++ wideAggs
      val wide = ph.groupBy(col("x"), col("y"))
        .agg(allAggs.head, allAggs.tail: _*)
      // p-value inline over the 10-row wide frame: the old perm stack +
      // join + count re-expressed as a 32-term sum of the identical
      // integer comparisons
      val pCnt = (1 to 32).map(b =>
        s"(case when abs(s0_$b div c0_$b - s1_$b div c1_$b) >= abs(d) " +
          "then 1 else 0 end)").mkString(" + ")
      val pv = wide
        .withColumn("d", expr("sxv div cxv - syv div cyv"))
        .select(col("x"), col("y"), col("d"),
          expr(s"(1000000 * (1 + ($pCnt))) div 33").as("p_ppm"))
        .ckpt() // 10 rows; feeds rank join AND kmax
      val rk = pv.as("a")
        .join(broadcast(pv.select(col("x").as("cx"), col("y").as("cy"),
          col("p_ppm").as("cp"))),
          col("cp") < col("p_ppm") || (col("cp") === col("p_ppm") &&
            (col("cx") < col("x") ||
              (col("cx") === col("x") && col("cy") <= col("y")))))
        .groupBy(col("x"), col("y"), col("d"), col("p_ppm"))
        .agg(count(lit(1)).as("bh_rank"))
        .ckpt()
      val km = rk.agg(coalesce(max(when(col("p_ppm") <= lit(10000L) * col("bh_rank"),
        col("bh_rank"))), lit(0L)).as("kmax"))
      rk.crossJoin(broadcast(km))
        .select(col("x"), col("y"), col("d").as("diff_milli"),
          col("p_ppm"), col("bh_rank"),
          (lit(10000L) * col("bh_rank")).as("bh_cut_ppm"),
          when(col("bh_rank") <= col("kmax"), 1L).otherwise(0L)
            .as("significant"))
        .orderBy("x", "y")
    }
  }

  /** q301 — HBOS anomaly scores (Goldstein & Dengel's
    * histogram-based outlier score): each order's outlier score is
    * Σ over features of −ln(relative frequency of the order's bin) —
    * price band (16 equi-width bins), line count, and priority. The
    * linear-time, fully-aggregable alternative to isolation forests:
    * density per feature from ONE histogram pass, score per row from
    * ONE lookup join per feature. q106/q172 flag UNIVARIATE outliers;
    * HBOS combines the features into one ranked review queue.
    *
    * Exactness: bin ids are one shared IEEE chain + floor (identical
    * text in both engines); frequencies are exact counts; each
    * −ln(cnt/n) term is floored to nano-nats separately and the
    * score is their integer sum (the q83 per-term-floor contract).
    *
    * Scale design (100 TB): the min/max/count frame is ONE row
    * (broadcast); each histogram is ≤ |bins| rows (broadcast,
    * Aggregate-bounded); the per-order pass is three equi-joins
    * against those tiny frames plus one partial-aggregable
    * lines-per-order count. Top-25 is a TakeOrdered heap. */
  val q301Hbos: QueryDef = {
    val B = 16
    // shared bin expression: identical text parsed by both engines
    def binSql(x: String, mn: String, mx: String): String =
      s"CAST(CASE WHEN $mx > $mn THEN least($B - 1, " +
        s"CAST(floor((($x - $mn) * $B.0) / ($mx - $mn)) AS BIGINT)) " +
        s"ELSE 0 END AS BIGINT)"
    def lnTerm(cnt: String, n: String): String =
      s"CAST(floor(1000000000.0 * ln(CAST($n AS DOUBLE) / $cnt)) AS BIGINT)"
    QueryDef(
      "q301_hbos",
      s"""WITH nl AS (
         |  SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n_lines
         |  FROM lineitem GROUP BY 1),
         |base AS (
         |  SELECT o.o_orderkey, o.o_totalprice AS price,
         |    o.o_orderpriority AS prio, coalesce(nl.n_lines, 0) AS n_lines
         |  FROM orders o LEFT JOIN nl ON o.o_orderkey = nl.l_orderkey),
         |st AS (
         |  SELECT min(price) AS mn, max(price) AS mx,
         |    CAST(count(*) AS BIGINT) AS n FROM base),
         |bb AS (
         |  SELECT base.*, ${binSql("price", "st.mn", "st.mx")} AS pbin
         |  FROM base CROSS JOIN st),
         |fp AS (SELECT pbin, CAST(count(*) AS BIGINT) AS cp FROM bb GROUP BY 1),
         |fl AS (SELECT n_lines, CAST(count(*) AS BIGINT) AS cl FROM bb GROUP BY 1),
         |fr AS (SELECT prio, CAST(count(*) AS BIGINT) AS cr FROM bb GROUP BY 1)
         |SELECT bb.o_orderkey, bb.pbin, bb.n_lines, bb.prio,
         |  ${lnTerm("fp.cp", "st.n")} + ${lnTerm("fl.cl", "st.n")}
         |    + ${lnTerm("fr.cr", "st.n")} AS score_nano
         |FROM bb
         |JOIN fp ON bb.pbin = fp.pbin
         |JOIN fl ON bb.n_lines = fl.n_lines
         |JOIN fr ON bb.prio = fr.prio
         |CROSS JOIN st
         |ORDER BY score_nano DESC, o_orderkey LIMIT 25""".stripMargin) { (s, dir) =>
      val nl = Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey")).agg(count(lit(1)).as("n_lines"))
      val base = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_totalprice").as("price"),
          col("o_orderpriority").as("prio"))
        .join(nl, col("o_orderkey") === col("l_orderkey"), "left")
        .select(col("o_orderkey"), col("price"), col("prio"),
          coalesce(col("n_lines"), lit(0L)).as("n_lines"))
        .ckpt() // stats AND the scored pass
      val st = base.agg(min(col("price")).as("mn"), max(col("price")).as("mx"),
        count(lit(1)).as("n"))
      val bb = base.crossJoin(broadcast(st))
        .withColumn("pbin", expr(binSql("price", "mn", "mx")))
      val fp = bb.groupBy(col("pbin")).agg(count(lit(1)).as("cp"))
      val fl = bb.groupBy(col("n_lines")).agg(count(lit(1)).as("cl"))
      val fr = bb.groupBy(col("prio")).agg(count(lit(1)).as("cr"))
      bb.join(broadcast(fp), Seq("pbin"))
        .join(broadcast(fl), Seq("n_lines"))
        .join(broadcast(fr), Seq("prio"))
        .select(col("o_orderkey"), col("pbin"), col("n_lines"), col("prio"),
          (expr(lnTerm("cp", "n")) + expr(lnTerm("cl", "n")) +
            expr(lnTerm("cr", "n"))).as("score_nano"))
        .orderBy(col("score_nano").desc, col("o_orderkey"))
        .limit(25)
    }
  }

  /** q313 — covariate-balance audit of a hashed A/B split:
    * standardized mean difference (SMD) of three customer covariates
    * (account balance, order count, total spend) between the two arms
    * of the md5-coin assignment — the pre-experiment sanity check
    * ("is my randomization actually balanced?") and the
    * post-stratification diagnostic for observational comparisons;
    * |SMD| < 0.1 is the standard epidemiology bar (Austin 2009).
    * q266's CUPED consumes a split like this; this audits it first.
    *
    * Exactness: covariates are exact integers (half-up cents, int
    * counts); per-arm moments (n, Σx, Σx²) ride DECIMAL(38)/HUGEINT;
    * the SMD is ONE mirrored IEEE chain over the DOUBLE casts of
    * those exact sums, floored to milli (floor on a possibly-negative
    * value is portable — only `div` is not); the balance flag
    * compares the floored magnitude against the 100-milli bar.
    *
    * Scale design (100 TB): per-customer features are one
    * partial-aggregable orders collapse joined equi on custkey; the
    * unpivot is a 3-way Expand of the feature frame (map-side); arm
    * moments collapse to 3×2 rows. No windows, no broadcast of
    * anything unbounded. */
  val q313CovariateBalance: QueryDef = {
    // shared IEEE chain: Welch-style pooled-SD standardized difference
    // nullif(sqrt(…), 0): the pooled sd is 0 when a feature is
    // CONSTANT in both arms (the degenerate all-zero corpus) — SMD is
    // undefined there; ANSI Spark would throw on the double division
    // where DuckDB natively NULLs, and nullif lands both engines on
    // the same NULL (one shared string, parsed by both)
    val smd =
      "CAST(floor(1e3 * " +
        "(CAST(s1 AS DOUBLE) / nullif(CAST(n1 AS DOUBLE), 0e0) - " +
        "CAST(s0 AS DOUBLE) / nullif(CAST(n0 AS DOUBLE), 0e0)) / " +
        "nullif(sqrt(((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)" +
        " / nullif(CAST(n1 AS DOUBLE), 0e0)) / nullif(CAST(n1 AS DOUBLE), 0e0) + " +
        "(CAST(q0 AS DOUBLE) - CAST(s0 AS DOUBLE) * CAST(s0 AS DOUBLE)" +
        " / nullif(CAST(n0 AS DOUBLE), 0e0)) / nullif(CAST(n0 AS DOUBLE), 0e0)) / 2e0), 0)) AS BIGINT)"
    QueryDef(
      "q313_covariate_balance",
      s"""WITH f AS (
         |  SELECT c.c_custkey,
         |    ('0x' || substring(md5('bal' || c.c_custkey), 1, 15))::BIGINT % 2
         |      AS arm,
         |    CAST(floor(c.c_acctbal * 100 + 0.5) AS BIGINT) AS acctbal_cents,
         |    CAST(count(o.o_orderkey) AS BIGINT) AS n_orders,
         |    CAST(coalesce(sum(CAST(floor(o.o_totalprice * 100 + 0.5)
         |      AS BIGINT)), 0) AS BIGINT) AS spend_cents
         |  FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
         |  GROUP BY 1, 2, 3),
         |u AS (
         |  SELECT arm, 'acctbal_cents' AS feature, acctbal_cents AS x FROM f
         |  UNION ALL SELECT arm, 'n_orders', n_orders FROM f
         |  UNION ALL SELECT arm, 'spend_cents', spend_cents FROM f),
         |m AS (
         |  SELECT feature,
         |    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS HUGEINT) AS n0,
         |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS HUGEINT) AS n1,
         |    CAST(sum(CASE WHEN arm = 0 THEN CAST(x AS HUGEINT) ELSE 0 END)
         |      AS HUGEINT) AS s0,
         |    CAST(sum(CASE WHEN arm = 1 THEN CAST(x AS HUGEINT) ELSE 0 END)
         |      AS HUGEINT) AS s1,
         |    CAST(sum(CASE WHEN arm = 0 THEN CAST(x AS HUGEINT) * x ELSE 0 END)
         |      AS HUGEINT) AS q0,
         |    CAST(sum(CASE WHEN arm = 1 THEN CAST(x AS HUGEINT) * x ELSE 0 END)
         |      AS HUGEINT) AS q1
         |  FROM u GROUP BY feature)
         |SELECT feature, CAST(n0 AS BIGINT) AS n_a, CAST(n1 AS BIGINT) AS n_b,
         |  $smd AS smd_milli,
         |  CAST(CASE WHEN abs($smd) <= 100 THEN 1 ELSE 0 END AS BIGINT) AS balanced
         |FROM m ORDER BY feature""".stripMargin) { (s, dir) =>
      val dec = (c: Column) => c.cast("decimal(38,0)")
      val f = Tables.customer(s, dir)
        .join(Tables.orders(s, dir),
          col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"),
          (conv(substring(md5(concat(lit("bal"), col("c_custkey"))), 1, 15),
            16, 10).cast("bigint") % 2).as("arm"),
          expr("CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)")
            .as("acctbal_cents"))
        .agg(count(col("o_orderkey")).as("n_orders"),
          coalesce(sum(expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")),
            lit(0L)).as("spend_cents"))
      val u = f.select(col("arm"), lit("acctbal_cents").as("feature"),
          col("acctbal_cents").as("x"))
        .unionByName(f.select(col("arm"), lit("n_orders").as("feature"),
          col("n_orders").as("x")))
        .unionByName(f.select(col("arm"), lit("spend_cents").as("feature"),
          col("spend_cents").as("x")))
      u.groupBy(col("feature"))
        .agg(
          sum(when(col("arm") === 0, 1L).otherwise(0L))
            .cast("decimal(38,0)").as("n0"),
          sum(when(col("arm") === 1, 1L).otherwise(0L))
            .cast("decimal(38,0)").as("n1"),
          sum(when(col("arm") === 0, dec(col("x"))).otherwise(lit(0)))
            .cast("decimal(38,0)").as("s0"),
          sum(when(col("arm") === 1, dec(col("x"))).otherwise(lit(0)))
            .cast("decimal(38,0)").as("s1"),
          sum(when(col("arm") === 0, dec(col("x")) * col("x")).otherwise(lit(0)))
            .cast("decimal(38,0)").as("q0"),
          sum(when(col("arm") === 1, dec(col("x")) * col("x")).otherwise(lit(0)))
            .cast("decimal(38,0)").as("q1"))
        .select(col("feature"),
          col("n0").cast("bigint").as("n_a"),
          col("n1").cast("bigint").as("n_b"),
          expr(smd).as("smd_milli"),
          when(abs(expr(smd)) <= 100, 1L).otherwise(0L).as("balanced"))
        .orderBy("feature")
    }
  }

  /** q317 — bucketed 1-D Wasserstein drift: the earth-mover distance
    * between each market segment's order-amount distribution and the
    * global one, over a 64-bin equi-width grid — the drift metric
    * that SEES how far mass moved where q143's total-variation only
    * counts it and q224's KS takes the single worst point; the
    * standard distribution-shift score for monitoring feature/price
    * drift between cohorts. W1 on binned CDFs = Σ_b |F_seg − F_all|
    * / nbins, exact over the binned view.
    *
    * Exactness: cents are half-up integers; the global min/max frame
    * is exact; bins are cross-multiplied integer floor-divs; CDF
    * differences ride |cum_s·N_g − cum_g·N_s| (integer,
    * DECIMAL/HUGEINT) and ONE final floor-div emits milli (numerator
    * non-negative by abs).
    *
    * Scale design (100 TB): one partial-aggregable (segment, bin)
    * collapse over the fact join; the dense 64-bin skeleton is a
    * literal-range cross join against the |segments|-row domain; CDFs
    * are windows PARTITIONED by segment over the 64-bin axis; the
    * global CDF reuses the per-segment cums (global = Σ segments —
    * no second fact pass, no unpartitioned window). Output |segments|
    * rows. */
  val q317Wasserstein: QueryDef = {
    val NB = 64
    QueryDef(
      "q317_wasserstein",
      s"""WITH o AS (
         |  SELECT c.c_mktsegment AS seg,
         |    CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS cents
         |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
         |b AS (SELECT min(cents) AS mn, max(cents) AS mx FROM o),
         |h AS (
         |  SELECT seg, least($NB - 1, ($NB * (cents - mn)) // (mx - mn + 1))
         |    AS bin, CAST(count(*) AS BIGINT) AS c
         |  FROM o, b GROUP BY 1, 2),
         |segs AS (SELECT DISTINCT seg FROM h),
         |grid AS (
         |  SELECT s.seg, CAST(g.bin AS BIGINT) AS bin, coalesce(h.c, 0) AS c
         |  FROM segs s CROSS JOIN (SELECT unnest(range(0, $NB)) AS bin) g
         |  LEFT JOIN h ON h.seg = s.seg AND h.bin = g.bin),
         |cum AS (
         |  SELECT seg, bin, c,
         |    CAST(sum(c) OVER (PARTITION BY seg ORDER BY bin) AS BIGINT)
         |      AS cs,
         |    CAST(sum(c) OVER (PARTITION BY seg) AS BIGINT) AS ns
         |  FROM grid),
         |g AS (
         |  SELECT bin, CAST(sum(cs) AS BIGINT) AS cg,
         |    CAST(sum(ns) AS BIGINT) AS ng
         |  FROM cum GROUP BY bin),
         |d AS (
         |  SELECT cum.seg, cum.ns,
         |    CAST(sum(abs(CAST(cum.cs AS HUGEINT) * g.ng
         |      - CAST(g.cg AS HUGEINT) * cum.ns)) AS HUGEINT) AS num
         |  FROM cum JOIN g ON cum.bin = g.bin GROUP BY 1, 2)
         |SELECT seg, CAST(ns AS BIGINT) AS n_orders,
         |  CAST((1000 * num) // ($NB * CAST(ns AS HUGEINT) * ng) AS BIGINT)
         |    AS w1_milli
         |FROM d, (SELECT CAST(max(ng) AS HUGEINT) AS ng FROM g) t
         |ORDER BY seg""".stripMargin) { (s, dir) =>
      val dec = (c: Column) => c.cast("decimal(38,0)")
      val o = Tables.orders(s, dir)
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment").as("seg"),
          expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").as("cents"))
      val b = o.agg(min(col("cents")).as("mn"), max(col("cents")).as("mx"))
      val h = o.crossJoin(broadcast(b))
        .select(col("seg"),
          least(lit(NB - 1), expr(s"($NB * (cents - mn)) div (mx - mn + 1)"))
            .as("bin"))
        .groupBy(col("seg"), col("bin")).agg(count(lit(1)).as("c"))
        .ckpt() // feeds the skeleton join AND the distinct-segment list
      val segs = h.select(col("seg")).distinct()
      val grid = segs
        .crossJoin(s.range(0, NB).select(col("id").as("bin"))) // literal axis
        .join(h, Seq("seg", "bin"), "left")
        .select(col("seg"), col("bin"), coalesce(col("c"), lit(0L)).as("c"))
      val wCum = org.apache.spark.sql.expressions.Window
        .partitionBy(col("seg")).orderBy(col("bin"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      val wAll = org.apache.spark.sql.expressions.Window.partitionBy(col("seg"))
      val cum = grid
        .select(col("seg"), col("bin"), col("c"),
          sum(col("c")).over(wCum).cast("bigint").as("cs"),
          sum(col("c")).over(wAll).cast("bigint").as("ns"))
        .ckpt() // feeds the global fold AND the distance join
      val g = cum.groupBy(col("bin"))
        .agg(sum(col("cs")).cast("bigint").as("cg"),
          sum(col("ns")).cast("bigint").as("ng"))
      val ngTot = g.agg(max(col("ng")).cast("decimal(38,0)").as("ngt"))
      cum.join(g, Seq("bin"))
        .groupBy(col("seg"), col("ns"))
        .agg(sum(abs(dec(col("cs")) * col("ng") - dec(col("cg")) * col("ns")))
          .cast("decimal(38,0)").as("num"))
        .crossJoin(broadcast(ngTot))
        .select(col("seg"), col("ns").cast("bigint").as("n_orders"),
          expr(s"CAST((1000 * num) div ($NB * CAST(ns AS DECIMAL(38,0)) * ngt)"
            + " AS BIGINT)").as("w1_milli"))
        .orderBy("seg")
    }
  }

  /** q319 — sample-ratio-mismatch (SRM) guardrail: the χ²(1) test of
    * each hashed 50/50 assignment against its design ratio, for the
    * customer-level 'bal' coin (q313's split) and a user-level 'exp'
    * coin over the event stream — THE first trust check every
    * experimentation platform runs before reading any metric (Fabijan
    * et al. 2019: a failed SRM invalidates the experiment, no matter
    * how significant the lift). q313 asks "are covariates balanced?";
    * this asks the prior question "did the units even split 50/50?".
    *
    * Exactness: unit collapses and arm counts are exact integers; the
    * χ² statistic for a 50/50 design reduces to (n_a − n_b)²/n,
    * emitted as a cross-multiplied integer milli floor-div, and the
    * alarm compares 1000·(n_a−n_b)² > 3841·n exactly (the χ²₀.₀₅(1)
    * critical value) — no float ever decides the flag.
    *
    * Scale design (100 TB): one partial-aggregable distinct-unit
    * collapse per assignment (the event side collapses users
    * map-side); the verdict is a 2-row fold. */
  val q319Srm: QueryDef = {
    def coinSql(salt: String, key: String): String =
      s"('0x' || substring(md5('$salt' || $key), 1, 15))::BIGINT % 2"
    QueryDef(
      "q319_srm",
      s"""WITH cu AS (
         |  SELECT 'customers_bal' AS assignment,
         |    ${coinSql("bal", "c_custkey")} AS arm
         |  FROM customer),
         |eu AS (
         |  SELECT 'users_exp' AS assignment, ${coinSql("exp", "user_id")} AS arm
         |  FROM (SELECT DISTINCT user_id FROM events)),
         |a AS (
         |  SELECT assignment,
         |    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
         |  FROM (SELECT * FROM cu UNION ALL SELECT * FROM eu) GROUP BY 1)
         |SELECT assignment, n_a, n_b,
         |  (1000 * (n_a - n_b) * (n_a - n_b)) // (n_a + n_b) AS chi2_milli,
         |  CAST(CASE WHEN 1000 * (n_a - n_b) * (n_a - n_b)
         |    > 3841 * (n_a + n_b) THEN 1 ELSE 0 END AS BIGINT) AS srm_alarm
         |FROM a ORDER BY assignment""".stripMargin) { (s, dir) =>
      def coin(salt: String, key: Column): Column =
        conv(substring(md5(concat(lit(salt), key.cast("string"))), 1, 15),
          16, 10).cast("bigint") % 2
      val cu = Tables.customer(s, dir)
        .select(lit("customers_bal").as("assignment"),
          coin("bal", col("c_custkey")).as("arm"))
      val eu = Tables.events(s, dir).select(col("user_id")).distinct()
        .select(lit("users_exp").as("assignment"),
          coin("exp", col("user_id")).as("arm"))
      cu.unionByName(eu)
        .groupBy(col("assignment"))
        .agg(sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_a"),
          sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_b"))
        .select(col("assignment"), col("n_a"), col("n_b"),
          expr("(1000 * (n_a - n_b) * (n_a - n_b)) div nullif(n_a + n_b, 0)")
            .as("chi2_milli"),
          when(lit(1000L) * (col("n_a") - col("n_b")) *
            (col("n_a") - col("n_b")) > lit(3841L) * (col("n_a") + col("n_b")),
            1L).otherwise(0L).as("srm_alarm"))
        .orderBy("assignment")
    }
  }

  /** q326 — one-pass Pearson correlation matrix over the four numeric
    * lineitem measures (quantity, extendedprice, discount, tax): all
    * 6 pairwise correlations from a SINGLE aggregate pass computing
    * the 15 joint moments — the standard profiling matrix that feeds
    * feature selection, multicollinearity checks (q124's regressions
    * assume the off-diagonals are small), and q269-style layout
    * decisions (highly-correlated columns compress together). One
    * scan for the whole matrix is the point: the naive per-pair
    * `corr()` battery reads the fact table 6 times.
    *
    * Exactness: measures are quantized to exact integer units
    * (centi-units/cents/basis points, half-up) at the scan; moments
    * ride DECIMAL(38)/HUGEINT; each r is the q323 mirrored IEEE
    * chain over DOUBLE casts of exact sums, floored to milli
    * (sign-portable). Constant columns (zero variance) yield NULL by
    * the shared guard.
    *
    * Scale design (100 TB): ONE partial-aggregable pass to a 1-row
    * 15-moment frame; the 6-row matrix unpivots from that frame with
    * literal selects. Nothing else touches data. */
  val q326CorrMatrix: QueryDef = {
    val cols = Seq(
      ("qty", "l_quantity", 100), ("price", "l_extendedprice", 100),
      ("disc", "l_discount", 10000), ("tax", "l_tax", 10000))
    val pairs = for {
      i <- cols.indices; j <- cols.indices if i < j
    } yield (cols(i)._1, cols(j)._1)
    def rMilli(a: String, b: String): String =
      s"CASE WHEN (CAST(n AS DOUBLE) * CAST(s_${a}_$a AS DOUBLE)" +
        s" - CAST(s_$a AS DOUBLE) * CAST(s_$a AS DOUBLE)) > 0e0 AND" +
        s" (CAST(n AS DOUBLE) * CAST(s_${b}_$b AS DOUBLE)" +
        s" - CAST(s_$b AS DOUBLE) * CAST(s_$b AS DOUBLE)) > 0e0 THEN" +
        s" CAST(floor(1e3 * (CAST(n AS DOUBLE) * CAST(s_${a}_$b AS DOUBLE)" +
        s" - CAST(s_$a AS DOUBLE) * CAST(s_$b AS DOUBLE)) /" +
        s" sqrt((CAST(n AS DOUBLE) * CAST(s_${a}_$a AS DOUBLE)" +
        s" - CAST(s_$a AS DOUBLE) * CAST(s_$a AS DOUBLE)) *" +
        s" (CAST(n AS DOUBLE) * CAST(s_${b}_$b AS DOUBLE)" +
        s" - CAST(s_$b AS DOUBLE) * CAST(s_$b AS DOUBLE)))) AS BIGINT)" +
        s" END"
    val momentsSql = (
      cols.map { case (n, _, _) => s"CAST(sum(CAST($n AS HUGEINT)) AS HUGEINT) AS s_$n" } ++
        (for { i <- cols.indices; j <- cols.indices if i <= j }
          yield s"CAST(sum(CAST(${cols(i)._1} AS HUGEINT) * ${cols(j)._1})" +
            s" AS HUGEINT) AS s_${cols(i)._1}_${cols(j)._1}")
      ).mkString(",\n    ")
    val unionSql = pairs.map { case (a, b) =>
      s"SELECT '${a}__$b' AS pair, ${rMilli(a, b)} AS r_milli FROM m"
    }.mkString("\n  UNION ALL ")
    QueryDef(
      "q326_corr_matrix",
      s"""WITH q AS (
         |  SELECT ${cols.map { case (n, c, s) =>
             s"CAST(floor($c * $s + 0.5) AS BIGINT) AS $n" }.mkString(", ")}
         |  FROM lineitem),
         |m AS (
         |  SELECT CAST(count(*) AS HUGEINT) AS n,
         |    $momentsSql
         |  FROM q)
         |SELECT pair, r_milli FROM (
         |  $unionSql)
         |ORDER BY pair""".stripMargin) { (s, dir) =>
      val dec = (c: Column) => c.cast("decimal(38,0)")
      val q = Tables.lineitem(s, dir).select(cols.map { case (n, c, sc) =>
        expr(s"CAST(floor($c * $sc + 0.5) AS BIGINT)").as(n)
      }: _*)
      val aggs =
        cols.map { case (n, _, _) =>
          sum(dec(col(n))).cast("decimal(38,0)").as(s"s_$n") } ++
          (for { i <- cols.indices; j <- cols.indices if i <= j } yield
            sum(dec(col(cols(i)._1)) * col(cols(j)._1)).cast("decimal(38,0)")
              .as(s"s_${cols(i)._1}_${cols(j)._1}"))
      val m = q.agg(count(lit(1)).cast("decimal(38,0)").as("n"),
        aggs: _*).ckpt() // 1 row; 6 unpivot selects read it
      pairs.map { case (a, b) =>
        m.select(lit(s"${a}__$b").as("pair"), expr(rMilli(a, b)).as("r_milli"))
      }.reduce(_ unionByName _).orderBy("pair")
    }
  }

  /** q335 — split-stratification audit: the χ² test of the label
    * distribution between the even/odd vec_id halves (the split every
    * Learn-family query trains/evaluates on) — the "is my test set
    * label-representative" check that must pass before any accuracy
    * comparison across the split means anything; the per-label
    * contribution column localizes WHICH class drifted when it
    * fails. Multi-class sibling of q319's 2-cell SRM.
    *
    * Exactness: counts exact; each label's χ² term
    * (n·n_even_l − n_even·n_l)² / (n_even·n_test-scaled expectation)
    * rides ONE cross-multiplied integer identity floored to milli
    * per label — term_milli = (1000·n·(n·e_l − n_e·t_l)²) div
    * (n_e·n_o·t_l·n) with t_l the label total — all non-negative;
    * the total is the exact integer sum of the floored terms.
    *
    * Scale design (100 TB): one partial-aggregable (label, parity)
    * collapse; everything after runs on |labels| rows with the 1-row
    * totals broadcast. Output |labels| rows. */
  val q335SplitStratification: QueryDef = {
    // chi2 term for one label, milli, from exact integers:
    //   observed e_l vs expected n_e*t_l/n over both halves:
    //   term = (e_l - n_e*t_l/n)^2 / (n_e*t_l/n)
    //        + (o_l - n_o*t_l/n)^2 / (n_o*t_l/n)
    // cross-multiplied: (n*e_l - n_e*t_l)^2 * 1000 // (n_e*t_l*n)
    //                 + (n*o_l - n_o*t_l)^2 * 1000 // (n_o*t_l*n)
    val term =
      "CAST((1000 * (n * el - ne * tl) * (n * el - ne * tl))" +
        " // (ne * tl * n) +" +
        " (1000 * (n * ol - no * tl) * (n * ol - no * tl))" +
        " // (no * tl * n) AS BIGINT)"
    val termSpark =
      "CAST((1000 * (n * el - ne * tl) * (n * el - ne * tl))" +
        " div nullif(ne * tl * n, 0) +" +
        " (1000 * (n * ol - no * tl) * (n * ol - no * tl))" +
        " div nullif(no * tl * n, 0) AS BIGINT)"
    QueryDef(
      "q335_split_stratification",
      s"""WITH c AS (
         |  SELECT label, CAST(vec_id % 2 AS BIGINT) AS odd,
         |    CAST(count(*) AS HUGEINT) AS n
         |  FROM embeddings GROUP BY 1, 2),
         |l AS (
         |  SELECT label,
         |    CAST(sum(CASE WHEN odd = 0 THEN n ELSE 0 END) AS HUGEINT) AS el,
         |    CAST(sum(CASE WHEN odd = 1 THEN n ELSE 0 END) AS HUGEINT) AS ol,
         |    CAST(sum(n) AS HUGEINT) AS tl
         |  FROM c GROUP BY label),
         |t AS (
         |  SELECT CAST(sum(el) AS HUGEINT) AS ne,
         |    CAST(sum(ol) AS HUGEINT) AS no,
         |    CAST(sum(tl) AS HUGEINT) AS n FROM l)
         |SELECT CAST(l.label AS BIGINT) AS label,
         |  CAST(l.el AS BIGINT) AS n_even, CAST(l.ol AS BIGINT) AS n_odd,
         |  $term AS term_milli
         |FROM l, t ORDER BY label""".stripMargin) { (s, dir) =>
      val dec = (c: Column) => c.cast("decimal(38,0)")
      val c = Tables.embeddings(s, dir)
        .groupBy(col("label"), (col("vec_id") % 2).as("odd"))
        .agg(count(lit(1)).as("cn"))
      val l = c.groupBy(col("label"))
        .agg(sum(when(col("odd") === 0, col("cn")).otherwise(lit(0L)))
          .cast("decimal(38,0)").as("el"),
          sum(when(col("odd") === 1, col("cn")).otherwise(lit(0L)))
            .cast("decimal(38,0)").as("ol"),
          sum(col("cn")).cast("decimal(38,0)").as("tl"))
      val t = l.agg(sum(col("el")).cast("decimal(38,0)").as("ne"),
        sum(col("ol")).cast("decimal(38,0)").as("no"),
        sum(col("tl")).cast("decimal(38,0)").as("n"))
      l.crossJoin(broadcast(t))
        .select(col("label").cast("bigint").as("label"),
          col("el").cast("bigint").as("n_even"),
          col("ol").cast("bigint").as("n_odd"),
          expr(termSpark).as("term_milli"))
        .orderBy("label")
    }
  }

  /** q336 — distribution-free quantile confidence bands (DKW
    * inequality, Massart's tight constant): for p ∈ {0.5, 0.9, 0.99}
    * of the order-amount distribution, the point estimate plus the
    * simultaneous 95% band obtained by shifting the EMPIRICAL CDF by
    * ε = √(ln(2/α)/2n) — the "how sure is this percentile" report
    * that needs NO distributional assumption, which is what makes it
    * honest on heavy-tailed money data (q314 shows the tail is
    * heavy; a normal-theory band would lie). The band width doubles
    * as a sample-size adequacy check for q17/q85-style dashboards.
    *
    * Exactness: ε is ONE shared IEEE chain floored to ppm; all three
    * rank targets are then pure integer arithmetic
    * (1 + (n−1)·pp div 10⁶, clamped), and each rank's value is the
    * exact lower order statistic via the distributed running-count
    * frame — no interpolation, no float compare.
    *
    * Scale design (100 TB): the (value, count) collapse is
    * partial-aggregable; the cumulative count rides
    * [[ScaleRank.withRunningSum]] (bounded per-task windows, never a
    * global sort); the 9 rank lookups are one non-equi join of the
    * ≤9-row target frame against the collapsed value table followed
    * by a min fold. Output 3 rows. */
  val q336DkwBands: QueryDef = {
    val ps = Seq(500, 900, 990) // milli
    val eps = "CAST(floor(1e6 * sqrt(ln(4e1) / (2e0 * CAST(n AS DOUBLE))))" +
      " AS BIGINT)"
    QueryDef(
      "q336_dkw_bands",
      s"""WITH o AS (
         |  SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
         |  FROM orders),
         |vc AS (SELECT cents, CAST(count(*) AS BIGINT) AS cnt
         |       FROM o GROUP BY cents),
         |cum AS (
         |  SELECT cents,
         |    CAST(sum(cnt) OVER (ORDER BY cents) AS BIGINT) AS cum
         |  FROM vc),
         |nn AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM vc),
         |tgt AS (
         |  SELECT CAST(p AS BIGINT) AS p_milli, n, $eps AS eps_ppm,
         |    1 + ((n - 1) * greatest(0, 1000 * CAST(p AS BIGINT)
         |      - $eps)) // 1000000 AS r_lo,
         |    1 + ((n - 1) * (1000 * CAST(p AS BIGINT))) // 1000000 AS r_est,
         |    1 + ((n - 1) * least(1000000, 1000 * CAST(p AS BIGINT)
         |      + $eps)) // 1000000 AS r_hi
         |  FROM nn, unnest([${ps.mkString(", ")}]) AS u(p)),
         |look AS (
         |  SELECT t.p_milli, which, r, min(c.cents) AS v
         |  FROM (
         |    SELECT p_milli, 'lo' AS which, r_lo AS r FROM tgt
         |    UNION ALL SELECT p_milli, 'est', r_est FROM tgt
         |    UNION ALL SELECT p_milli, 'hi', r_hi FROM tgt) t
         |  JOIN cum c ON c.cum >= t.r
         |  GROUP BY 1, 2, 3)
         |SELECT t.p_milli, t.n, t.eps_ppm,
         |  max(CASE WHEN l.which = 'est' THEN l.v END) AS est_cents,
         |  max(CASE WHEN l.which = 'lo' THEN l.v END) AS lo_cents,
         |  max(CASE WHEN l.which = 'hi' THEN l.v END) AS hi_cents
         |FROM tgt t JOIN look l ON t.p_milli = l.p_milli
         |GROUP BY 1, 2, 3 ORDER BY t.p_milli""".stripMargin) { (s, dir) =>
      import s.implicits._
      val o = Tables.orders(s, dir)
        .select(expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")
          .as("cents"))
      val vc = o.groupBy(col("cents")).agg(count(lit(1)).as("cnt"))
      val cum = ScaleRank.withRunningSum(vc, Seq.empty, Seq(col("cents")),
          col("cnt"), "cum")
        .select(col("cents"), col("cum").cast("bigint").as("cum"))
      val nn = vc.agg(sum(col("cnt")).cast("bigint").as("n"))
      val tgt = broadcast(nn
        .crossJoin(ps.map(_.toLong).toDF("p"))
        .select(col("p").as("p_milli"), col("n"), expr(eps).as("eps_ppm"))
        .select(col("p_milli"), col("n"), col("eps_ppm"),
          expr("1 + ((n - 1) * greatest(0, 1000 * p_milli - eps_ppm))" +
            " div 1000000").as("r_lo"),
          expr("1 + ((n - 1) * (1000 * p_milli)) div 1000000").as("r_est"),
          expr("1 + ((n - 1) * least(1000000, 1000 * p_milli + eps_ppm))" +
            " div 1000000").as("r_hi")))
      val t9 = tgt.select(col("p_milli"), lit("lo").as("which"),
          col("r_lo").as("r"))
        .unionByName(tgt.select(col("p_milli"), lit("est").as("which"),
          col("r_est").as("r")))
        .unionByName(tgt.select(col("p_milli"), lit("hi").as("which"),
          col("r_hi").as("r")))
      val look = broadcast(t9).join(cum, col("cum") >= col("r"))
        .groupBy(col("p_milli"), col("which"), col("r"))
        .agg(min(col("cents")).as("v"))
      tgt.join(look.select(col("p_milli").as("lp"), col("which"), col("v")),
          col("p_milli") === col("lp"))
        .groupBy(col("p_milli"), col("n"), col("eps_ppm"))
        .agg(max(when(col("which") === "est", col("v"))).as("est_cents"),
          max(when(col("which") === "lo", col("v"))).as("lo_cents"),
          max(when(col("which") === "hi", col("v"))).as("hi_cents"))
        .orderBy("p_milli")
    }
  }

  /** q339 — largest-remainder (Hamilton/Hare) quota allocation:
    * apportion a 1000-row sample across the nation strata of the
    * customer table proportionally, with the integer seats that
    * proportionality alone cannot settle going to the largest
    * fractional remainders — the exact apportionment rule behind
    * proportional stratified sampling (complementing q182's Neyman
    * allocation, which optimizes variance; this one guarantees
    * Σ alloc = SAMPLE exactly and |alloc_i − quota_i| < 1, which
    * downstream joins on "exactly N rows" need).
    *
    * Exactness: pure integer arithmetic — base = (SAMPLE·n_i) div N,
    * remainder = SAMPLE·n_i mod N ranked with nation-key tiebreak,
    * top (SAMPLE − Σ base) strata get +1. No floats anywhere.
    *
    * Scale design (100 TB): one partial-aggregable strata count; the
    * allocator runs on the |nations|-row aggregate frame (its rank
    * window is unpartitioned by design and nation-domain bounded —
    * allowlisted). Output |nations| rows. */
  val q339LargestRemainder: QueryDef = {
    val SAMPLE = 1000
    QueryDef(
      "q339_largest_remainder",
      s"""WITH s AS (
         |  SELECT c_nationkey AS nation, CAST(count(*) AS BIGINT) AS n
         |  FROM customer GROUP BY 1),
         |t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM s),
         |q AS (
         |  SELECT s.nation, s.n,
         |    ($SAMPLE * s.n) // t.total AS base,
         |    ($SAMPLE * s.n) % t.total AS rem,
         |    t.total
         |  FROM s, t),
         |r AS (
         |  SELECT q.*, row_number() OVER (ORDER BY rem DESC, nation) AS rk,
         |    (SELECT $SAMPLE - CAST(sum(base) AS BIGINT) FROM q) AS n_extra
         |  FROM q)
         |SELECT CAST(nation AS BIGINT) AS nation, n, base,
         |  CAST(CASE WHEN rk <= n_extra THEN 1 ELSE 0 END AS BIGINT) AS extra,
         |  CAST(base + CASE WHEN rk <= n_extra THEN 1 ELSE 0 END AS BIGINT)
         |    AS alloc
         |FROM r ORDER BY nation""".stripMargin) { (s, dir) =>
      val st = Tables.customer(s, dir)
        .groupBy(col("c_nationkey").as("nation"))
        .agg(count(lit(1)).as("n"))
      val t = st.agg(sum(col("n")).cast("bigint").as("total"))
      val q = st.crossJoin(broadcast(t))
        .select(col("nation"), col("n"),
          expr(s"($SAMPLE * n) div total").as("base"),
          expr(s"($SAMPLE * n) % total").as("rem"))
      val extra = q.agg((lit(SAMPLE.toLong) - sum(col("base")))
        .cast("bigint").as("n_extra"))
      val w = Window.orderBy(col("rem").desc, col("nation"))
      q.crossJoin(broadcast(extra))
        .withColumn("rk", row_number().over(w))
        .select(col("nation").cast("bigint").as("nation"), col("n"),
          col("base"),
          when(col("rk") <= col("n_extra"), 1L).otherwise(0L).as("extra"),
          (col("base") + when(col("rk") <= col("n_extra"), 1L)
            .otherwise(0L)).as("alloc"))
        .orderBy("nation")
    }
  }

  /** q342 — exact two-sample energy distance (Székely & Rizzo 2004)
    * between the BUILDING segment's order amounts and everyone
    * else's: e = 2·E|X−Y| − E|X−X′| − E|Y−Y′| — the
    * distribution-shift statistic that is zero iff the distributions
    * are EQUAL (unlike W1/KS it is a proper metric sensitive to all
    * moments, and it generalizes to vectors unchanged). The
    * O(n·m) double sums collapse EXACTLY to prefix sums over the
    * merged order statistics: Σ_j |x−y_j| = y_j(2c_j − n) + (T −
    * 2s_j) with c_j/s_j the count/sum of x at or below y_j — so the
    * whole statistic is one distributed prefix-sum pass, not a pair
    * join.
    *
    * Exactness: amounts are half-up cents; the merged cumulative
    * (count, sum) frames ride [[ScaleRank.withRunningSum]]
    * (tie order is irrelevant — tie terms cancel in the identity);
    * the three double-sum components are exact DECIMAL/HUGEINT
    * integers, and only the final e emerges from ONE mirrored IEEE
    * chain, floored to micro-cents.
    *
    * Scale design (100 TB): one (value, group) collapse, four
    * grouped running sums over the collapsed frame (bounded per-task
    * windows — no global sort, no pair join anywhere), a per-row
    * O(1) contribution map, and three 1-row folds. Output 1 row. */
  val q342EnergyDistance: QueryDef = {
    // e_micro from exact integers (sxy, sxx, syy, nx, ny):
    val eChain =
      "CAST(floor(1e6 * (2e0 * CAST(sxy AS DOUBLE)" +
        " / nullif(CAST(nx AS DOUBLE) * CAST(ny AS DOUBLE), 0e0)" +
        " - CAST(sxx AS DOUBLE) / nullif(CAST(nx AS DOUBLE) * CAST(nx AS DOUBLE), 0e0)" +
        " - CAST(syy AS DOUBLE) / nullif(CAST(ny AS DOUBLE) * CAST(ny AS DOUBLE), 0e0))" +
        ") AS BIGINT)"
    QueryDef(
      "q342_energy_distance",
      s"""WITH o AS (
         |  SELECT CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END
         |    AS grp,
         |    CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS cents
         |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
         |vc AS (
         |  SELECT cents, grp, CAST(count(*) AS BIGINT) AS cnt,
         |    CAST(count(*) AS BIGINT) * cents AS csum
         |  FROM o GROUP BY 1, 2),
         |cum AS (
         |  SELECT cents, grp, cnt,
         |    CAST(sum(CASE WHEN grp = 1 THEN cnt ELSE 0 END)
         |      OVER (ORDER BY cents, grp) AS BIGINT) AS cx,
         |    CAST(sum(CASE WHEN grp = 1 THEN csum ELSE 0 END)
         |      OVER (ORDER BY cents, grp) AS HUGEINT) AS sx,
         |    CAST(sum(CASE WHEN grp = 0 THEN cnt ELSE 0 END)
         |      OVER (ORDER BY cents, grp) AS BIGINT) AS cy,
         |    CAST(sum(CASE WHEN grp = 0 THEN csum ELSE 0 END)
         |      OVER (ORDER BY cents, grp) AS HUGEINT) AS sy
         |  FROM vc),
         |tot AS (
         |  SELECT CAST(sum(CASE WHEN grp = 1 THEN cnt ELSE 0 END) AS BIGINT)
         |      AS nx,
         |    CAST(sum(CASE WHEN grp = 1 THEN csum ELSE 0 END) AS HUGEINT)
         |      AS tx,
         |    CAST(sum(CASE WHEN grp = 0 THEN cnt ELSE 0 END) AS BIGINT)
         |      AS ny,
         |    CAST(sum(CASE WHEN grp = 0 THEN csum ELSE 0 END) AS HUGEINT)
         |      AS ty
         |  FROM vc),
         |comp AS (
         |  SELECT
         |    CAST(sum(CASE WHEN grp = 0 THEN
         |      cnt * (cents * (2 * cx - t.nx)) + cnt * (t.tx - 2 * sx)
         |      ELSE 0 END) AS HUGEINT) AS sxy,
         |    CAST(sum(CASE WHEN grp = 1 THEN
         |      cnt * (cents * (2 * cx - t.nx)) + cnt * (t.tx - 2 * sx)
         |      ELSE 0 END) AS HUGEINT) AS sxx,
         |    CAST(sum(CASE WHEN grp = 0 THEN
         |      cnt * (cents * (2 * cy - t.ny)) + cnt * (t.ty - 2 * sy)
         |      ELSE 0 END) AS HUGEINT) AS syy
         |  FROM cum, tot t)
         |SELECT t.nx, t.ny, CAST(c.sxy AS BIGINT) AS sxy_cents,
         |  CAST(c.sxx AS BIGINT) AS sxx_cents,
         |  CAST(c.syy AS BIGINT) AS syy_cents,
         |  ${eChain.replace("sxy", "c.sxy").replace("sxx", "c.sxx")
            .replace("syy", "c.syy").replace("nx", "t.nx")
            .replace("ny", "t.ny")} AS e_micro
         |FROM comp c, tot t""".stripMargin) { (s, dir) =>
      val dec = (c: Column) => c.cast("decimal(38,0)")
      val o = Tables.orders(s, dir)
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .select(when(col("c_mktsegment") === "BUILDING", 1L).otherwise(0L)
          .as("grp"),
          expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").as("cents"))
      val vc = o.groupBy(col("cents"), col("grp"))
        .agg(count(lit(1)).as("cnt"))
        .select(col("cents"), col("grp"), col("cnt"),
          (col("cnt") * col("cents")).as("csum"))
        .ckpt() // four running sums + totals read it
      val sortKeys = Seq(col("cents"), col("grp"))
      val c1 = ScaleRank.withRunningSum(vc, Seq.empty, sortKeys,
        when(col("grp") === 1, col("cnt")).otherwise(lit(0L)), "cx")
      val c2 = ScaleRank.withRunningSum(c1, Seq.empty, sortKeys,
        when(col("grp") === 1, dec(col("csum"))).otherwise(lit(0)), "sx")
      val c3 = ScaleRank.withRunningSum(c2, Seq.empty, sortKeys,
        when(col("grp") === 0, col("cnt")).otherwise(lit(0L)), "cy")
      val cum = ScaleRank.withRunningSum(c3, Seq.empty, sortKeys,
        when(col("grp") === 0, dec(col("csum"))).otherwise(lit(0)), "sy")
      val tot = vc.agg(
        sum(when(col("grp") === 1, col("cnt")).otherwise(lit(0L)))
          .cast("bigint").as("nx"),
        sum(when(col("grp") === 1, dec(col("csum"))).otherwise(lit(0)))
          .cast("decimal(38,0)").as("tx"),
        sum(when(col("grp") === 0, col("cnt")).otherwise(lit(0L)))
          .cast("bigint").as("ny"),
        sum(when(col("grp") === 0, dec(col("csum"))).otherwise(lit(0)))
          .cast("decimal(38,0)").as("ty"))
      val comp = cum.crossJoin(broadcast(tot))
        .agg(
          sum(when(col("grp") === 0,
            dec(col("cnt")) * (dec(col("cents")) * (lit(2) * col("cx")
              - col("nx"))) + dec(col("cnt")) * (col("tx")
              - lit(2) * col("sx"))).otherwise(lit(0)))
            .cast("decimal(38,0)").as("sxy"),
          sum(when(col("grp") === 1,
            dec(col("cnt")) * (dec(col("cents")) * (lit(2) * col("cx")
              - col("nx"))) + dec(col("cnt")) * (col("tx")
              - lit(2) * col("sx"))).otherwise(lit(0)))
            .cast("decimal(38,0)").as("sxx"),
          sum(when(col("grp") === 0,
            dec(col("cnt")) * (dec(col("cents")) * (lit(2) * col("cy")
              - col("ny"))) + dec(col("cnt")) * (col("ty")
              - lit(2) * col("sy"))).otherwise(lit(0)))
            .cast("decimal(38,0)").as("syy"))
      comp.crossJoin(broadcast(tot))
        .select(col("nx"), col("ny"),
          col("sxy").cast("bigint").as("sxy_cents"),
          col("sxx").cast("bigint").as("sxx_cents"),
          col("syy").cast("bigint").as("syy_cents"),
          expr(eChain).as("e_micro"))
    }
  }

  /** q359 — empirical upper-tail dependence λ_U(q) between order
    * quantity and line revenue (Sibuya '60; the copula-tail statistic
    * behind joint-extremes risk): at q ∈ {90%, 95%, 99%},
    * λ̂_U(q) = P(X > x_q, Y > y_q)/(1−q) — 1·10⁶ ppm means the
    * extremes move TOGETHER (co-monotone), (1−q)·10⁶ means
    * independent tails. Global rank correlations (q225 Spearman,
    * q256 Kendall) average over the whole distribution and can hide
    * tail decoupling; this reads dependence exactly where joint
    * blow-ups live, completing the q357/q314 extreme-value family
    * with its DEPENDENCE axis.
    *
    * Exactness: both thresholds are exact rank-selected order
    * statistics; the joint exceedance count is an exact integer;
    * λ and its independence baseline are all-DOUBLE floor chains
    * (counts × 10⁹ overflow int64 at production volume).
    *
    * Scale design (100 TB): each margin ranks via
    * [[ScaleRank.withRowNumber]] (two-level distributed rank — one
    * range exchange per margin, no single-task sort); the three
    * thresholds arrive by equi-join on the precomputed rank;
    * exceedance counting is ONE corpus pass against the broadcast
    * 3-row threshold frame with conditional sums. Output 3 rows. */
  val q359TailDependence: QueryDef = {
    val qs = Seq(900L, 950L, 990L)
    val lamPpm = "CAST(floor((1000000.0 * CAST(cnt AS DOUBLE) * 1000.0) / " +
      "(CAST(n AS DOUBLE) * CAST(1000 - qm AS DOUBLE))) AS BIGINT)"
    // discrete-margin-honest ratio: observed joint over the EMPIRICAL
    // independence null nx*ny/n (NULL when a margin saturates to 0)
    val ratioPpm = "CASE WHEN nx = 0 OR ny = 0 THEN NULL ELSE " +
      "CAST(floor((1000000.0 * CAST(cnt AS DOUBLE) * CAST(n AS DOUBLE)) / " +
      "(CAST(nx AS DOUBLE) * CAST(ny AS DOUBLE))) AS BIGINT) END"
    QueryDef(
      "q359_tail_dependence",
      s"""WITH pts AS (
         |  SELECT CAST(floor(l_quantity + 0.5) AS BIGINT) AS x,
         |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS y
         |  FROM lineitem),
         |nt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM pts),
         |rx AS (SELECT x, CAST(row_number() OVER (ORDER BY x) AS BIGINT)
         |       AS rn FROM pts),
         |ry AS (SELECT y, CAST(row_number() OVER (ORDER BY y) AS BIGINT)
         |       AS rn FROM pts),
         |qq AS (
         |  SELECT qm, (qm * nt.n + 999) // 1000 AS rk, nt.n
         |  FROM (SELECT CAST(unnest([${qs.mkString(", ")}]) AS BIGINT)
         |        AS qm), nt),
         |thr AS (
         |  SELECT qq.qm, qq.n, rx.x AS tx, ry.y AS ty
         |  FROM qq JOIN rx ON rx.rn = qq.rk JOIN ry ON ry.rn = qq.rk),
         |cnts AS (
         |  SELECT t.qm, t.n, t.tx, t.ty,
         |    CAST(sum(CASE WHEN p.x > t.tx AND p.y > t.ty
         |      THEN 1 ELSE 0 END) AS BIGINT) AS cnt,
         |    CAST(sum(CASE WHEN p.x > t.tx THEN 1 ELSE 0 END)
         |      AS BIGINT) AS nx,
         |    CAST(sum(CASE WHEN p.y > t.ty THEN 1 ELSE 0 END)
         |      AS BIGINT) AS ny
         |  FROM thr t, pts p GROUP BY 1, 2, 3, 4)
         |SELECT qm AS q_milli, n, tx AS thr_x, ty AS thr_y_cents,
         |  cnt AS n_joint, nx AS n_exc_x, ny AS n_exc_y,
         |  $lamPpm AS lambda_ppm,
         |  (1000 * (1000 - qm)) AS indep_ppm,
         |  $ratioPpm AS dep_ratio_ppm
         |FROM cnts ORDER BY qm""".stripMargin) { (s, dir) =>
      val pts = Tables.lineitem(s, dir).select(
        expr("CAST(floor(l_quantity + 0.5) AS BIGINT)").as("x"),
        expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)").as("y"))
        .ckpt() // one fact projection feeds both rank passes + counting
      val nt = broadcast(pts.agg(count(lit(1)).as("n")))
      val rx = ScaleRank.withRowNumber(
        pts.select(col("x")), Seq.empty, Seq(col("x")), "rn", "nn")
      val ry = ScaleRank.withRowNumber(
        pts.select(col("y")), Seq.empty, Seq(col("y")), "rn", "nn")
      import s.implicits._
      val qq = broadcast(qs.toDF("qm").crossJoin(nt)
        .withColumn("rk", expr("(qm * n + 999) div 1000")))
      val thr = broadcast(qq
        .join(rx.select(col("x").as("tx"), col("rn")), col("rn") === col("rk"))
        .drop("rn")
        .join(ry.select(col("y").as("ty"), col("rn")), col("rn") === col("rk"))
        .select(col("qm"), col("n"), col("tx"), col("ty")))
      pts.crossJoin(thr)
        .groupBy(col("qm"), col("n"), col("tx"), col("ty"))
        .agg(sum(when(col("x") > col("tx") && col("y") > col("ty"), 1L)
          .otherwise(0L)).cast("bigint").as("cnt"),
          sum(when(col("x") > col("tx"), 1L).otherwise(0L))
            .cast("bigint").as("nx"),
          sum(when(col("y") > col("ty"), 1L).otherwise(0L))
            .cast("bigint").as("ny"))
        .select(col("qm").as("q_milli"), col("n"), col("tx").as("thr_x"),
          col("ty").as("thr_y_cents"), col("cnt").as("n_joint"),
          col("nx").as("n_exc_x"), col("ny").as("n_exc_y"),
          expr(lamPpm).as("lambda_ppm"),
          (lit(1000L) * (lit(1000L) - col("qm"))).as("indep_ppm"),
          expr(ratioPpm).as("dep_ratio_ppm"))
        .orderBy("q_milli")
    }
  }

  /** q363 — Jonckheere–Terpstra ordered-trend test (Jonckheere '54;
    * Terpstra '52): does order value trend MONOTONICALLY across the
    * ordered priority classes 1-URGENT … 5-LOW? JT sums the pairwise
    * Mann–Whitney exceedance counts over every ordered class pair —
    * q257's ANOVA asks "do the groups differ AT ALL" and q177's MW
    * compares TWO groups; JT is the k-group test with power aimed
    * exactly at ordered alternatives (the hypothesis a pricing or
    * SLA audit actually holds). Tie-corrected normal approximation
    * (Hollander & Wolfe §6.2), ties induced by the documented $100
    * value resolution.
    *
    * Exactness: values collapse to $100 buckets (the statistic is
    * DEFINED at that resolution); 2·U_ij = Σ_b c_j(b)·(2C_i(b)−c_i(b))
    * on the dense (group × bucket) grid — all integers, the ½-tie
    * term scaled out; every moment (Σn_i², the cubic tie sums) is an
    * exact DECIMAL/HUGEINT sum; only the final z rides a shared
    * all-DOUBLE chain.
    *
    * Scale design (100 TB): one fact pass collapses to the
    * (5 × ~5·10³ price-bucket) grid — value-domain bounded, so the
    * per-group cumulative windows and the ordered-pair self-join all
    * run on a bounded frame (adjudicated); tie sums are bucket-grain
    * aggregates. Output 1 row. */
  val q363Jonckheere: QueryDef = {
    val aD = "(CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE) * " +
      "CAST(2 * n + 5 AS DOUBLE) - CAST(sg3 AS DOUBLE) - CAST(st3 AS DOUBLE))"
    val bD = "(CAST(sgc AS DOUBLE) * CAST(stc AS DOUBLE))"
    val cD = "(CAST(sg2 AS DOUBLE) * CAST(st2 AS DOUBLE))"
    val varD = s"(($aD) / 72.0 + ($bD) / (36.0 * CAST(n AS DOUBLE) * " +
      s"CAST(n - 1 AS DOUBLE) * CAST(n - 2 AS DOUBLE)) + " +
      s"($cD) / (8.0 * CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)))"
    val zMilli = s"CASE WHEN ($varD) <= 0.0 THEN NULL ELSE " +
      s"CAST(floor((1000.0 * (CAST(u2 AS DOUBLE) - CAST(e2 AS DOUBLE))) / " +
      s"(2.0 * sqrt($varD))) AS BIGINT) END"
    QueryDef(
      "q363_jonckheere",
      s"""WITH base AS (
         |  SELECT CAST(substring(o_orderpriority, 1, 1) AS BIGINT) AS g,
         |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
         |      // 10000 AS b
         |  FROM orders),
         |gc AS (SELECT g, b, CAST(count(*) AS BIGINT) AS c
         |       FROM base GROUP BY 1, 2),
         |grid AS (
         |  SELECT gg.g, ax.b, CAST(coalesce(gc.c, 0) AS BIGINT) AS c
         |  FROM (SELECT DISTINCT g FROM gc) gg
         |  CROSS JOIN (SELECT DISTINCT b FROM gc) ax
         |  LEFT JOIN gc ON gc.g = gg.g AND gc.b = ax.b),
         |cum AS (
         |  SELECT g, b, c, CAST(sum(c) OVER (PARTITION BY g ORDER BY b
         |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cc
         |  FROM grid),
         |uu AS (
         |  SELECT CAST(sum(j.c * (2 * i.cc - i.c)) AS BIGINT) AS u2
         |  FROM cum i JOIN cum j ON i.b = j.b AND i.g < j.g),
         |ni AS (SELECT g, CAST(sum(c) AS BIGINT) AS n_i FROM gc GROUP BY 1),
         |nn AS (
         |  SELECT CAST(sum(n_i) AS BIGINT) AS n,
         |    CAST(sum(n_i * n_i) AS BIGINT) AS sn2,
         |    sum(CAST(n_i AS HUGEINT) * (n_i - 1) * (2 * n_i + 5)) AS sg3,
         |    sum(CAST(n_i AS HUGEINT) * (n_i - 1) * (n_i - 2)) AS sgc,
         |    CAST(sum(n_i * (n_i - 1)) AS BIGINT) AS sg2
         |  FROM ni),
         |tt AS (SELECT b, CAST(sum(c) AS BIGINT) AS t FROM gc GROUP BY 1),
         |tv AS (
         |  SELECT sum(CAST(t AS HUGEINT) * (t - 1) * (2 * t + 5)) AS st3,
         |    sum(CAST(t AS HUGEINT) * (t - 1) * (t - 2)) AS stc,
         |    CAST(sum(t * (t - 1)) AS BIGINT) AS st2
         |  FROM tt),
         |ee AS (SELECT (nn.n * nn.n - nn.sn2) // 2 AS e2 FROM nn)
         |SELECT nn.n, (SELECT CAST(count(*) AS BIGINT) FROM ni) AS k,
         |  uu.u2 AS jt2, ee.e2 AS e_jt2,
         |  CAST(floor($varD) AS BIGINT) AS var_floor,
         |  $zMilli AS z_milli
         |FROM nn, tv, uu, ee""".stripMargin) { (s, dir) =>
      val base = Tables.orders(s, dir).select(
        expr("CAST(substring(o_orderpriority, 1, 1) AS BIGINT)").as("g"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) " +
          "div 10000").as("b"))
      val gc = base.groupBy(col("g"), col("b"))
        .agg(count(lit(1)).as("c")).ckpt() // one fact collapse feeds all
      val grid = gc.select(col("g")).distinct()
        .crossJoin(gc.select(col("b")).distinct())
        .join(gc, Seq("g", "b"), "left")
        .select(col("g"), col("b"),
          coalesce(col("c"), lit(0L)).cast("bigint").as("c"))
      val wG = Window.partitionBy(col("g")).orderBy(col("b"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val cum = grid.withColumn("cc", sum(col("c")).over(wG).cast("bigint"))
      val uu = cum.as("i")
        .join(cum.as("j"),
          col("i.b") === col("j.b") && col("i.g") < col("j.g"))
        .agg(sum(col("j.c") * (lit(2L) * col("i.cc") - col("i.c")))
          .cast("bigint").as("u2"))
      val ni = gc.groupBy(col("g")).agg(sum(col("c")).as("n_i"))
      val nn = ni.agg(
        sum(col("n_i")).cast("bigint").as("n"),
        sum(col("n_i") * col("n_i")).cast("bigint").as("sn2"),
        expr("sum(CAST(n_i AS DECIMAL(19,0)) * (n_i - 1) * (2 * n_i + 5))")
          .as("sg3"),
        expr("sum(CAST(n_i AS DECIMAL(19,0)) * (n_i - 1) * (n_i - 2))")
          .as("sgc"),
        expr("CAST(sum(n_i * (n_i - 1)) AS BIGINT)").as("sg2"),
        count(lit(1)).as("k"))
      val tv = gc.groupBy(col("b")).agg(sum(col("c")).as("t"))
        .agg(
          expr("sum(CAST(t AS DECIMAL(19,0)) * (t - 1) * (2 * t + 5))")
            .as("st3"),
          expr("sum(CAST(t AS DECIMAL(19,0)) * (t - 1) * (t - 2))").as("stc"),
          expr("CAST(sum(t * (t - 1)) AS BIGINT)").as("st2"))
      broadcast(nn).crossJoin(broadcast(tv)).crossJoin(broadcast(uu))
        .withColumn("e2", expr("(n * n - sn2) div 2"))
        .select(col("n"), col("k"), col("u2").as("jt2"),
          col("e2").as("e_jt2"),
          expr(s"CAST(floor($varD) AS BIGINT)").as("var_floor"),
          expr(zMilli).as("z_milli"))
    }
  }

  /** q364 — entropic optimal transport by Sinkhorn scaling (Cuturi
    * '13; Sinkhorn '64): the cheapest coupling (at ε = 1) between the
    * weekday revenue profiles of the FIRST and SECOND halves of the
    * date range, under the cyclic weekday ground distance
    * min(|i−j|, 7−|i−j|). Three unrolled scaling rounds
    * v ← b/(Kᵀu), u ← a/(Kv) on the 7×7 kernel; the output is the
    * transport PLAN — which weekday's mass moved where — plus its
    * cost against the independence coupling a⊗b. q317's Wasserstein
    * gives the 1-D distance NUMBER; this gives the 2-D PLAN on a
    * cyclic geometry, and the entropic-optimality inequality
    * cost(P_ε) ≤ cost(a⊗b) is a spec-pinned certificate (a⊗b has
    * zero KL penalty, so the ε-optimum must beat it on cost).
    *
    * Exactness: marginals are exact integer cents; u, v are
    * nano-quantized between half-rounds and every kernel sum is
    * floored PER TERM before an order-free BIGINT sum (the
    * q351/q83 discipline), so both engines walk the identical scaling
    * trajectory; plan cells are ppm floors and both cost totals are
    * pure integer Σ ppm·distance over the emitted cells.
    *
    * Scale design (100 TB): one fact pass to the (half, weekday)
    * marginals (partial-aggregable, the day split from a 1-row
    * bounds broadcast); all Sinkhorn work lives on 7-row/49-cell
    * literal-bounded frames. Output 49 rows. */
  val q364Sinkhorn: QueryDef = {
    val R = 3
    // per-term floored kernel product: (k/1e9)·(x/1e9) in nano
    def term(x: String) =
      s"CAST(floor(CAST(k_nano AS DOUBLE) * CAST($x AS DOUBLE) / 1e9) " +
        s"AS BIGINT)"
    // scale update: nano(b / (s/1e9)) = 1e18·share/s
    // nullif(…, 0): an all-zero-revenue corpus zeroes both marginal
    // totals (the transport problem has no mass); ANSI Spark would
    // throw on the double division where DuckDB natively NULLs —
    // nullif lands both engines on the same NULL (shared strings,
    // parsed by both; degenerate-corpus probe)
    def upd(shareNum: String, shareDen: String) =
      s"CAST(floor(1e18 * (CAST($shareNum AS DOUBLE) / " +
        s"nullif(CAST($shareDen AS DOUBLE), 0)) / " +
        s"nullif(CAST(s AS DOUBLE), 0)) AS BIGINT)"
    val planPpm = "CAST(floor(CAST(u_nano AS DOUBLE) * " +
      "CAST(k_nano AS DOUBLE) * CAST(v_nano AS DOUBLE) / 1e21) AS BIGINT)"
    val indepPpm = "CAST(floor(1e6 * (CAST(ra AS DOUBLE) / " +
      "nullif(CAST(ta AS DOUBLE), 0)) * (CAST(rb AS DOUBLE) / " +
      "nullif(CAST(tb AS DOUBLE), 0))) AS BIGINT)"
    val roundsSql = (1 to R).map { t =>
      s"""sv$t AS (
         |  SELECT cells.j, CAST(sum(${term(s"u${t - 1}.u_nano")}) AS BIGINT)
         |    AS s
         |  FROM cells JOIN u${t - 1} ON cells.i = u${t - 1}.i GROUP BY 1),
         |v$t AS (
         |  SELECT sv$t.j, ${upd("mb.rev", "mb.tot")} AS v_nano
         |  FROM sv$t JOIN mb ON sv$t.j = mb.dow),
         |su$t AS (
         |  SELECT cells.i, CAST(sum(${term(s"v$t.v_nano")}) AS BIGINT) AS s
         |  FROM cells JOIN v$t ON cells.j = v$t.j GROUP BY 1),
         |u$t AS (
         |  SELECT su$t.i, ${upd("ma.rev", "ma.tot")} AS u_nano
         |  FROM su$t JOIN ma ON su$t.i = ma.dow)""".stripMargin
    }.mkString(",\n")
    QueryDef(
      "q364_sinkhorn",
      s"""WITH dd AS (
         |  SELECT CAST(date_diff('day', DATE '1970-01-01',
         |      CAST(o_orderdate AS DATE)) AS BIGINT) AS d,
         |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
         |  FROM orders),
         |bounds AS (SELECT (min(d) + max(d)) // 2 AS mid FROM dd),
         |marg AS (
         |  SELECT CASE WHEN dd.d < bounds.mid THEN 0 ELSE 1 END AS half,
         |    dd.d % 7 AS dow, CAST(sum(dd.cents) AS BIGINT) AS rev
         |  FROM dd, bounds GROUP BY 1, 2),
         |ma AS (
         |  SELECT dow, rev, CAST(sum(rev) OVER () AS BIGINT) AS tot
         |  FROM marg WHERE half = 0),
         |mb AS (
         |  SELECT dow, rev, CAST(sum(rev) OVER () AS BIGINT) AS tot
         |  FROM marg WHERE half = 1),
         |cells AS (
         |  SELECT a.i, b.j,
         |    least(abs(a.i - b.j), 7 - abs(a.i - b.j)) AS c,
         |    CAST(floor(1e9 * exp(-CAST(least(abs(a.i - b.j),
         |      7 - abs(a.i - b.j)) AS DOUBLE))) AS BIGINT) AS k_nano
         |  FROM (SELECT CAST(unnest(range(0, 7)) AS BIGINT) AS i) a,
         |       (SELECT CAST(unnest(range(0, 7)) AS BIGINT) AS j) b),
         |u0 AS (SELECT CAST(unnest(range(0, 7)) AS BIGINT) AS i,
         |       CAST(1000000000 AS BIGINT) AS u_nano),
         |$roundsSql,
         |plan AS (
         |  SELECT cells.i, cells.j, cells.c, $planPpm AS plan_ppm,
         |    $indepPpm AS indep_ppm
         |  FROM cells
         |  JOIN u$R ON cells.i = u$R.i JOIN v$R ON cells.j = v$R.j
         |  JOIN (SELECT dow, rev AS ra, tot AS ta FROM ma) x
         |    ON cells.i = x.dow
         |  JOIN (SELECT dow, rev AS rb, tot AS tb FROM mb) y
         |    ON cells.j = y.dow),
         |costs AS (
         |  SELECT CAST(sum(plan_ppm * c) AS BIGINT) AS cost_sink_micro,
         |    CAST(sum(indep_ppm * c) AS BIGINT) AS cost_indep_micro
         |  FROM plan),
         |merr AS (
         |  SELECT CAST(max(abs(rs - ap)) AS BIGINT) AS max_marg_err_ppm
         |  FROM (
         |    SELECT p.i, CAST(sum(p.plan_ppm) AS BIGINT) AS rs,
         |      CAST(floor(1e6 * CAST(ma.rev AS DOUBLE)
         |        / CAST(ma.tot AS DOUBLE)) AS BIGINT) AS ap
         |    FROM plan p JOIN ma ON p.i = ma.dow
         |    GROUP BY p.i, ma.rev, ma.tot))
         |SELECT plan.i, plan.j, plan.c, plan.plan_ppm, plan.indep_ppm,
         |  costs.cost_sink_micro, costs.cost_indep_micro,
         |  merr.max_marg_err_ppm
         |FROM plan, costs, merr ORDER BY plan.i, plan.j""".stripMargin) {
      (s, dir) =>
      val dd = Tables.orders(s, dir).select(
        datediff(col("o_orderdate").cast("date"), lit("1970-01-01"))
          .cast("bigint").as("d"),
        (col("o_totalprice").cast("decimal(12,2)") * 100)
          .cast("bigint").as("cents"))
      val bounds = broadcast(dd.agg(
        expr("(min(d) + max(d)) div 2").as("mid")))
      val marg = dd.crossJoin(bounds)
        .groupBy(when(col("d") < col("mid"), 0L).otherwise(1L).as("half"),
          (col("d") % 7).as("dow"))
        .agg(sum(col("cents")).cast("bigint").as("rev"))
        .ckpt() // one fact collapse feeds both marginals
      def withTot(h: Long) = {
        val m = marg.filter(col("half") === h).select(col("dow"), col("rev"))
        broadcast(m.crossJoin(broadcast(
          m.agg(sum(col("rev")).cast("bigint").as("tot")))))
      }
      val ma = withTot(0L); val mb = withTot(1L)
      import s.implicits._
      val cells = broadcast((for (i <- 0L to 6L; j <- 0L to 6L) yield {
        val c = math.min(math.abs(i - j), 7 - math.abs(i - j))
        (i, j, c, math.floor(1e9 * math.exp(-c.toDouble)).toLong)
      }).toDF("i", "j", "c", "k_nano"))
      var u = broadcast((0L to 6L).map((_, 1000000000L)).toDF("i", "u_nano"))
      var v: org.apache.spark.sql.DataFrame = null
      for (_ <- 1 to R) {
        val sv = cells.join(u, Seq("i"))
          .select(col("j"), expr(term("u_nano")).as("tm"))
          .groupBy(col("j")).agg(sum(col("tm")).cast("bigint").as("s"))
        v = broadcast(sv.join(mb.select(col("dow").as("j"), col("rev"),
            col("tot")), Seq("j"))
          .select(col("j"), expr(upd("rev", "tot")).as("v_nano")))
        val su = cells.join(v, Seq("j"))
          .select(col("i"), expr(term("v_nano")).as("tm"))
          .groupBy(col("i")).agg(sum(col("tm")).cast("bigint").as("s"))
        u = broadcast(su.join(ma.select(col("dow").as("i"), col("rev"),
            col("tot")), Seq("i"))
          .select(col("i"), expr(upd("rev", "tot")).as("u_nano")))
      }
      val plan = cells.join(u, Seq("i")).join(v, Seq("j"))
        .join(ma.select(col("dow").as("i"), col("rev").as("ra"),
          col("tot").as("ta")), Seq("i"))
        .join(mb.select(col("dow").as("j"), col("rev").as("rb"),
          col("tot").as("tb")), Seq("j"))
        .select(col("i"), col("j"), col("c"),
          expr(planPpm).as("plan_ppm"), expr(indepPpm).as("indep_ppm"))
        .ckpt()
      val costs = broadcast(plan.agg(
        sum(col("plan_ppm") * col("c")).cast("bigint").as("cost_sink_micro"),
        sum(col("indep_ppm") * col("c")).cast("bigint")
          .as("cost_indep_micro")))
      val merr = broadcast(plan.join(
          ma.select(col("dow").as("i"), col("rev"), col("tot")), Seq("i"))
        .groupBy(col("i"), col("rev"), col("tot"))
        .agg(sum(col("plan_ppm")).cast("bigint").as("rs"))
        .select((col("rs") - expr("CAST(floor(1e6 * CAST(rev AS DOUBLE) / " +
          "nullif(CAST(tot AS DOUBLE), 0)) AS BIGINT)")).as("diff"))
        .agg(max(abs(col("diff"))).cast("bigint").as("max_marg_err_ppm")))
      plan.crossJoin(costs).crossJoin(merr)
        .select(col("i"), col("j"), col("c"), col("plan_ppm"),
          col("indep_ppm"), col("cost_sink_micro"), col("cost_indep_micro"),
          col("max_marg_err_ppm"))
        .orderBy("i", "j")
    }
  }

  /** q367 — Anderson–Darling uniformity audit of the portable md5
    * RNG (Anderson & Darling '52): the 60-bit md5-prefix uniforms
    * that EVERY md5-coin operator in this engine rides (q36's
    * contract — sampling, permutation tests, randomized response,
    * corruption coins) are themselves put under the most
    * tail-sensitive classical GoF statistic,
    * A² = −n − (1/n)Σ[(2j−1)ln u₍ⱼ₎ + (2n+1−2j)ln(1−u₍ⱼ₎)].
    * q224's KS checks DATA against a model; this checks the ENGINE'S
    * randomness against uniformity, with the published critical
    * values in the output — a standing self-test that the coin
    * machinery hasn't been subtly broken (a biased substring or
    * signed-parse bug would light it up long before any downstream
    * gate).
    *
    * Exactness: u = (2h+1)/2⁶¹ (lattice continuity correction — no
    * log(0) cliff); the re-indexing identity folds the u₍ₙ₊₁₋ⱼ₎ term
    * into the SAME ranked row (coefficient 2n+1−2j), so ONE ranked
    * pass suffices — no rank self-join; each row's term is
    * micro-floored before the order-free DECIMAL/HUGEINT sum; only
    * the final A² rides a double chain.
    *
    * Scale design (100 TB): the only exchange is
    * [[ScaleRank.withRowNumber]]'s range pass over the hash column;
    * everything else is a map-side projection plus one 1-row
    * aggregate. Output 1 row. */
  val q367AndersonDarling: QueryDef = {
    val TWO61 = "2305843009213693952.0"
    val uD = s"((2.0 * CAST(h AS DOUBLE) + 1.0) / $TWO61)"
    val termMicro = s"CAST(floor(1000000.0 * " +
      s"((2.0 * CAST(rn AS DOUBLE) - 1.0) * ln($uD) + " +
      s"(2.0 * CAST(n AS DOUBLE) + 1.0 - 2.0 * CAST(rn AS DOUBLE)) * " +
      s"ln(1.0 - $uD))) AS BIGINT)"
    val adMilli = "CAST(floor(1000.0 * (-CAST(n AS DOUBLE) - " +
      "(CAST(s AS DOUBLE) / 1000000.0) / CAST(n AS DOUBLE))) AS BIGINT)"
    QueryDef(
      "q367_anderson_darling",
      s"""WITH hh AS (
         |  SELECT ('0x' || substring(md5('adu' || CAST(o_orderkey AS VARCHAR)),
         |    1, 15))::BIGINT AS h
         |  FROM orders),
         |rk AS (
         |  SELECT h, CAST(row_number() OVER (ORDER BY h) AS BIGINT) AS rn,
         |    CAST(count(*) OVER () AS BIGINT) AS n
         |  FROM hh),
         |ss AS (
         |  SELECT CAST(max(n) AS BIGINT) AS n,
         |    sum(CAST($termMicro AS HUGEINT)) AS s
         |  FROM rk)
         |SELECT n, $adMilli AS ad_milli,
         |  CAST(1933 AS BIGINT) AS crit10_milli,
         |  CAST(2492 AS BIGINT) AS crit5_milli,
         |  CAST(3857 AS BIGINT) AS crit1_milli,
         |  CASE WHEN $adMilli > 2492 THEN 1 ELSE 0 END AS reject5
         |FROM ss""".stripMargin) { (s, dir) =>
      val hh = Tables.orders(s, dir).select(
        expr("CAST(conv(substring(md5(concat('adu', " +
          "CAST(o_orderkey AS STRING))), 1, 15), 16, 10) AS BIGINT)").as("h"))
      val rk = ScaleRank.withRowNumber(hh, Seq.empty, Seq(col("h")), "rn", "n")
      val ss = rk
        .select(expr(termMicro).cast("decimal(38,0)").as("t"), col("n"))
        .agg(max(col("n")).as("n"), sum(col("t")).as("s"))
      ss.select(col("n").cast("bigint").as("n"),
          expr(adMilli).as("ad_milli"),
          lit(1933L).as("crit10_milli"), lit(2492L).as("crit5_milli"),
          lit(3857L).as("crit1_milli"),
          expr(s"CASE WHEN $adMilli > 2492 THEN 1 ELSE 0 END").as("reject5"))
    }
  }

  /** Doubled midrank sums of order value by priority (the q379/q418
    * rank table): the projection `f` (g, cents) with cents half-up
    * rounded, the cents domain `vt` (cents, ctot, cum) with its
    * running count, and per group `rg` (g, ng, r2 = Σ doubled
    * midranks a2 = 2·cumBefore + c + 1). */
  private def priorityRanks(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val f = Tables.orders(s, dir)
      .select(col("o_orderpriority").as("g"),
        expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").as("cents"))
    val vc = f.groupBy(col("cents"), col("g"))
      .agg(count(lit(1)).as("c"))
      .ckpt() // bounded cents-domain collapse: feeds vt AND rg
    val vt0 = vc.groupBy(col("cents")).agg(sum(col("c")).as("ctot"))
    val vt = ScaleRank.withRunningSum(vt0, Seq.empty,
      Seq(col("cents")), col("ctot"), "cum")
    val a2 = vt.select(col("cents"),
      (lit(2) * (col("cum") - col("ctot")) + col("ctot") + 1).as("a2"))
    val rg = vc.join(a2, Seq("cents"))
      .groupBy(col("g"))
      .agg(sum(col("c")).as("ng"), sum(col("c") * col("a2")).as("r2"))
    (f, vt, rg)
  }

  /** The oracle side of [[priorityRanks]]: the CTEs `f`, `vc`, `vt`,
    * `a2` and `rg`. */
  private def priorityRanksSql: String =
    """f AS (
      |  SELECT o_orderpriority AS g,
      |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      |  FROM orders),
      |vc AS (
      |  SELECT cents, g, CAST(count(*) AS BIGINT) AS c
      |  FROM f GROUP BY 1, 2),
      |vt AS (
      |  SELECT cents, CAST(sum(c) AS BIGINT) AS ctot,
      |    CAST(sum(sum(c)) OVER (ORDER BY cents
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      |  FROM vc GROUP BY cents),
      |a2 AS (
      |  SELECT cents, 2 * (cum - ctot) + ctot + 1 AS a2, ctot FROM vt),
      |rg AS (
      |  SELECT vc.g, CAST(sum(vc.c) AS BIGINT) AS ng,
      |    CAST(sum(vc.c * a2.a2) AS BIGINT) AS r2
      |  FROM vc JOIN a2 USING (cents) GROUP BY vc.g)""".stripMargin

  /** q379 — Kruskal–Wallis H test (KW '52): does order value differ
    * across the five order priorities, by RANKS? The k-group
    * generalization of q177's Mann–Whitney (and the rank-robust
    * sibling of q257's ANOVA — same question, immune to the heavy
    * tail that invalidates ANOVA's normality assumption); q363's
    * Jonckheere adds an ORDERED alternative, this one is omnibus.
    *
    * Exactness: the 2dp money domain collapses to (cents, priority)
    * counts, so midranks are exact integers in DOUBLED units
    * (a2 = 2·cumBefore + c + 1 — the q177 merged-histogram
    * discipline, no per-row ranks anywhere); rank sums R2_g are exact
    * int64; the R2² terms ride DECIMAL(38)/HUGEINT with identical
    * floor-division on both engines; the tie correction is one final
    * IEEE chain from exact integer tie moments.
    *
    * Scale design (100 TB): one fact collapse to the bounded cents
    * domain; the cumulative rank axis rides
    * [[ScaleRank.withRunningSum]] (distributed two-level prefix sum,
    * no global window); everything downstream is ≤|priorities| rows.
    * Output 5 rows + constants. */
  val q379KruskalWallis: QueryDef = {
    // nullif: ONE tie group spanning the whole corpus (constant
    // amounts) drives the tie correction to exactly 0 — H is
    // undefined; ANSI Spark would throw where DuckDB natively NULLs
    // (shared string, parsed by both; degenerate-corpus probe)
    val corr = "CAST(floor(CAST(h_milli AS DOUBLE) / nullif(1.0e0 - " +
      "CAST(tie AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * " +
      "CAST(n AS DOUBLE) - CAST(n AS DOUBLE)), 0)) AS BIGINT)"
    QueryDef(
      "q379_kruskal_wallis",
      s"""WITH $priorityRanksSql,
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |  CAST(count(DISTINCT g) AS BIGINT) AS k FROM f),
         |tiec AS (
         |  SELECT CAST(sum(ctot * ctot * ctot - ctot) AS BIGINT) AS tie
         |  FROM vt),
         |hsum AS (
         |  SELECT CAST(sum(CAST(r2 AS HUGEINT) * r2 // (4 * ng))
         |    AS HUGEINT) AS s FROM rg),
         |h AS (
         |  SELECT CAST((12000 * hsum.s) // (nn.n * (nn.n + 1)) -
         |    3000 * (nn.n + 1) AS BIGINT) AS h_milli
         |  FROM hsum, nn)
         |SELECT rg.g AS priority, rg.ng AS n_g, rg.r2 AS rank2_sum,
         |  nn.n, h.h_milli, tiec.tie,
         |  $corr AS h_corrected_milli,
         |  CASE WHEN $corr > 9488 THEN 1 ELSE 0 END AS reject_5pct
         |FROM rg, nn, h, tiec
         |ORDER BY priority""".stripMargin) { (s, dir) =>
      val (f, vt, groupRanks) = priorityRanks(s, dir)
      val rg = groupRanks.ckpt() // 5 rows: feeds H AND the output
      val nn = f.agg(count(lit(1)).as("n"), countDistinct(col("g")).as("k"))
      val tiec = vt.agg(
        sum(col("ctot") * col("ctot") * col("ctot") - col("ctot")).as("tie"))
      val hsum = rg.agg(sum(expr(
        "(CAST(r2 AS DECIMAL(38,0)) * r2) div (4 * ng)")).as("s"))
      val h = hsum.crossJoin(broadcast(nn))
        .select(expr("CAST((12000 * CAST(s AS DECIMAL(38,0))) div " +
          "(n * (n + 1)) - 3000 * (n + 1) AS BIGINT)").as("h_milli"))
      rg.crossJoin(broadcast(nn)).crossJoin(broadcast(h))
        .crossJoin(broadcast(tiec))
        .select(col("g").as("priority"), col("ng").as("n_g"),
          col("r2").as("rank2_sum"), col("n"), col("h_milli"), col("tie"),
          expr(corr).as("h_corrected_milli"),
          when(expr(corr) > 9488, 1).otherwise(0).as("reject_5pct"))
        .orderBy("priority")
    }
  }

  /** q382 — pairwise mutual-information matrix over the categorical
    * order dimensions (market segment × order priority × order
    * status): MI(X;Y) = Σ p(x,y)·ln(p(x,y)/(p(x)p(y))) for each of the
    * three pairs, with marginal entropies and the √(H·H)-normalized
    * NMI — the dependence screen a feature platform runs where q123's
    * χ² only answers "independent or not": MI RANKS the dependencies
    * in nats and feeds redundancy-aware feature selection (q296's
    * info gain is exactly MI(feature; label) — this is its
    * all-pairs-of-dims generalization).
    *
    * Exactness: all cell/margin counts are exact integers off ONE
    * joined fact pass; every p·ln term is an independently
    * nano-floored IEEE chain (q83 discipline — order-free integer
    * sums); NMI is one guarded milli chain from the three nano sums.
    * MI ≥ 0 up to flooring slop and MI ≤ min(H) are pinned in the
    * spec.
    *
    * Scale design (100 TB): one orders⋈customer pass (equi on
    * custkey) collapses to three (pair, x, y) cell frames bounded by
    * the categorical domains (≤ 5×5 cells each); margins and all MI
    * algebra live on those. Output 3 rows. */
  val q382MiMatrix: QueryDef = {
    val term = "CAST(floor(1000000000.0e0 * (CAST(c AS DOUBLE) / " +
      "CAST(n AS DOUBLE)) * ln(CAST(c AS DOUBLE) * CAST(n AS DOUBLE) / " +
      "(CAST(cx AS DOUBLE) * CAST(cy AS DOUBLE)))) AS BIGINT)"
    val ent = "CAST(floor(1000000000.0e0 * (CAST(c AS DOUBLE) / " +
      "CAST(n AS DOUBLE)) * (0.0e0 - ln(CAST(c AS DOUBLE) / " +
      "CAST(n AS DOUBLE)))) AS BIGINT)"
    val nmi = "CASE WHEN hx_nano > 0 AND hy_nano > 0 THEN " +
      "CAST(floor(1000.0e0 * CAST(mi_nano AS DOUBLE) / " +
      "sqrt(CAST(hx_nano AS DOUBLE) * CAST(hy_nano AS DOUBLE))) " +
      "AS BIGINT) END"
    QueryDef(
      "q382_mi_matrix",
      s"""WITH f AS (
         |  SELECT c.c_mktsegment AS seg, o.o_orderpriority AS pri,
         |    o.o_orderstatus AS st
         |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM f),
         |cells AS (
         |  SELECT 'seg_pri' AS pair, seg AS x, pri AS y,
         |    CAST(count(*) AS BIGINT) AS c FROM f GROUP BY 2, 3
         |  UNION ALL
         |  SELECT 'seg_st', seg, st, CAST(count(*) AS BIGINT)
         |  FROM f GROUP BY 2, 3
         |  UNION ALL
         |  SELECT 'pri_st', pri, st, CAST(count(*) AS BIGINT)
         |  FROM f GROUP BY 2, 3),
         |mx AS (SELECT pair, x, CAST(sum(c) AS BIGINT) AS cx
         |  FROM cells GROUP BY 1, 2),
         |my AS (SELECT pair, y, CAST(sum(c) AS BIGINT) AS cy
         |  FROM cells GROUP BY 1, 2),
         |mi AS (
         |  SELECT cells.pair, CAST(sum($term) AS BIGINT) AS mi_nano
         |  FROM cells JOIN mx USING (pair, x) JOIN my USING (pair, y), nn
         |  GROUP BY cells.pair),
         |hx AS (
         |  SELECT pair, CAST(sum($ent) AS BIGINT) AS hx_nano
         |  FROM (SELECT pair, cx AS c FROM mx), nn GROUP BY pair),
         |hy AS (
         |  SELECT pair, CAST(sum($ent) AS BIGINT) AS hy_nano
         |  FROM (SELECT pair, cy AS c FROM my), nn GROUP BY pair)
         |SELECT mi.pair, nn.n, mi.mi_nano, hx.hx_nano, hy.hy_nano,
         |  $nmi AS nmi_milli
         |FROM mi JOIN hx USING (pair) JOIN hy USING (pair), nn
         |ORDER BY mi.pair""".stripMargin) { (s, dir) =>
      val f = Tables.orders(s, dir)
        .join(Tables.customer(s, dir),
          col("c_custkey") === col("o_custkey"))
        .select(col("c_mktsegment").as("seg"),
          col("o_orderpriority").as("pri"), col("o_orderstatus").as("st"))
        .ckpt() // one fact pass feeds all three pair collapses
      val nn = f.agg(count(lit(1)).as("n"))
      def pairCells(p: String, xc: String, yc: String) =
        f.groupBy(col(xc).as("x"), col(yc).as("y"))
          .agg(count(lit(1)).as("c")).select(lit(p).as("pair"),
            col("x"), col("y"), col("c"))
      val cells = pairCells("seg_pri", "seg", "pri")
        .unionByName(pairCells("seg_st", "seg", "st"))
        .unionByName(pairCells("pri_st", "pri", "st"))
        .ckpt() // bounded (pair, x, y) cell frame
      val mx = cells.groupBy("pair", "x").agg(sum(col("c")).as("cx"))
      val my = cells.groupBy("pair", "y").agg(sum(col("c")).as("cy"))
      val mi = cells.join(mx, Seq("pair", "x")).join(my, Seq("pair", "y"))
        .crossJoin(broadcast(nn))
        .groupBy("pair").agg(sum(expr(term)).cast("bigint").as("mi_nano"))
      val hx = mx.select(col("pair"), col("cx").as("c"))
        .crossJoin(broadcast(nn))
        .groupBy("pair").agg(sum(expr(ent)).cast("bigint").as("hx_nano"))
      val hy = my.select(col("pair"), col("cy").as("c"))
        .crossJoin(broadcast(nn))
        .groupBy("pair").agg(sum(expr(ent)).cast("bigint").as("hy_nano"))
      mi.join(hx, Seq("pair")).join(hy, Seq("pair"))
        .crossJoin(broadcast(nn))
        .select(col("pair"), col("n"), col("mi_nano"), col("hx_nano"),
          col("hy_nano"), expr(nmi).as("nmi_milli"))
        .orderBy("pair")
    }
  }

  /** q384 — Cochran–Armitage trend test (Cochran '54; Armitage '55):
    * does the PROPORTION of fulfilled ('F') orders trend
    * monotonically across the ordered priority classes (scores 1..5
    * from the priority prefix)? The binary-outcome sibling of q363's
    * Jonckheere (which trends a continuous outcome) and the
    * dose-response test behind any "does severity tier affect
    * completion rate" audit. One degree of freedom buys power over
    * q123's omnibus χ² exactly when the alternative is ordered.
    *
    * Exactness: the trend numerator T_n = n·Σsᵍrᵍ − R·Σsᵍnᵍ and the
    * score spread A = n·Σs²nᵍ − (Σsnᵍ)² are EXACT int64
    * cross-multiplications; Z² = T_n²·n / (R(n−R)A) is one final IEEE
    * chain from those integers (T_n² overflows int64 by design — it
    * exists only inside the double chain).
    *
    * Scale design (100 TB): one grouped fact collapse to ≤5 rows;
    * everything else is 1-row algebra. Output 5 rows + constants. */
  val q384CochranArmitage: QueryDef = {
    val chi = "CASE WHEN r > 0 AND r < n AND a > 0 THEN " +
      "CAST(floor(1000.0e0 * CAST(tn AS DOUBLE) * CAST(tn AS DOUBLE) * " +
      "CAST(n AS DOUBLE) / (CAST(r AS DOUBLE) * CAST(n - r AS DOUBLE) * " +
      "CAST(a AS DOUBLE))) AS BIGINT) END"
    QueryDef(
      "q384_cochran_armitage",
      s"""WITH g AS (
         |  SELECT CAST(substring(o_orderpriority, 1, 1) AS BIGINT) AS sc,
         |    CAST(count(*) AS BIGINT) AS ng,
         |    CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
         |      AS BIGINT) AS rg
         |  FROM orders GROUP BY 1),
         |t AS (
         |  SELECT CAST(sum(ng) AS BIGINT) AS n, CAST(sum(rg) AS BIGINT) AS r,
         |    CAST(sum(sc * rg) AS BIGINT) AS ssr,
         |    CAST(sum(sc * ng) AS BIGINT) AS ssn,
         |    CAST(sum(sc * sc * ng) AS BIGINT) AS ss2n
         |  FROM g),
         |z AS (
         |  SELECT n, r, n * ssr - r * ssn AS tn,
         |    n * ss2n - ssn * ssn AS a
         |  FROM t)
         |SELECT g.sc AS score, g.ng AS n_g, g.rg AS n_fulfilled,
         |  (1000000 * g.rg) // g.ng AS rate_ppm,
         |  z.tn AS trend_num, $chi AS chi2_milli,
         |  CASE WHEN $chi > 3841 THEN 1 ELSE 0 END AS reject_5pct
         |FROM g, z ORDER BY score""".stripMargin) { (s, dir) =>
      val g = Tables.orders(s, dir)
        .groupBy(substring(col("o_orderpriority"), 1, 1).cast("bigint")
          .as("sc"))
        .agg(count(lit(1)).as("ng"),
          sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L)).as("rg"))
        .ckpt() // <=5 rows: feeds the moments AND the output
      val t = g.agg(sum(col("ng")).as("n"), sum(col("rg")).as("r"),
        sum(col("sc") * col("rg")).as("ssr"),
        sum(col("sc") * col("ng")).as("ssn"),
        sum(col("sc") * col("sc") * col("ng")).as("ss2n"))
      val z = t.select(col("n"), col("r"),
        (col("n") * col("ssr") - col("r") * col("ssn")).as("tn"),
        (col("n") * col("ss2n") - col("ssn") * col("ssn")).as("a"))
      g.crossJoin(broadcast(z))
        .select(col("sc").as("score"), col("ng").as("n_g"),
          col("rg").as("n_fulfilled"),
          expr("(1000000 * rg) div ng").as("rate_ppm"),
          col("tn").as("trend_num"), expr(chi).as("chi2_milli"),
          when(expr(chi) > 3841, 1).otherwise(0).as("reject_5pct"))
        .orderBy("score")
    }
  }

  /** q385 — Kendall's W coefficient of concordance (Kendall–Babington
    * Smith '39), tie-corrected: how concordant are the three q378
    * quality heuristics when read as full RANKINGS of the corpus
    * (length, type-token ratio, mean word length)? Fleiss' κ scored
    * their binary agreement; W scores rank agreement — the statistic
    * that decides whether "sort by quality" even means one thing
    * before a pipeline orders its training curriculum by a blended
    * score. W = 12·Σ(Rᵢ−R̄)² / (m²(n³−n) − m·ΣTⱼ), Tⱼ the per-rater
    * tie moments.
    *
    * Exactness: per-rater midranks come from value-domain collapses
    * in DOUBLED units (the q177/q379 merged-histogram discipline —
    * per-doc rank is one equi-join against the bounded domain frame,
    * never a row-level window); ΣR₂² rides DECIMAL(38)/HUGEINT; W is
    * one final IEEE chain from exact integer moments, identical both
    * engines. The spec pins 0 ≤ W ≤ 1 and the rank-mass identity.
    *
    * Scale design (100 TB): one feature pass per doc; the three
    * cumulative-rank axes ride [[ScaleRank.withRunningSum]]
    * (distributed two-level prefix sum — the `len` domain grows with
    * max document length, so a domain θ-join would be O(|D|²));
    * per-doc rank assembly is equi-joins (ttr/mwl milli-ratio domains
    * broadcast; len sort-merge); moments are one aggregate.
    * Output 1 row. */
  val q385KendallW: QueryDef = {
    val M = 3
    val wChain = s"CAST(floor(1000.0e0 * 3.0e0 * (CAST(sr2 AS DOUBLE) - " +
      s"CAST(n AS DOUBLE) * ${M * M}.0e0 * CAST(n + 1 AS DOUBLE) * " +
      s"CAST(n + 1 AS DOUBLE)) / (${M * M}.0e0 * (CAST(n AS DOUBLE) * " +
      s"CAST(n AS DOUBLE) * CAST(n AS DOUBLE) - CAST(n AS DOUBLE)) - " +
      s"$M.0e0 * CAST(tt AS DOUBLE))) AS BIGINT)"
    def domCte(v: String) =
      s"""${v}d AS (SELECT $v AS v, CAST(count(*) AS BIGINT) AS c
         |  FROM f GROUP BY 1),
         |${v}a AS (
         |  SELECT a.v, 2 * (CAST(sum(b.c) AS BIGINT) - a2.c) + a2.c + 1 AS a2
         |  FROM ${v}d a JOIN ${v}d b ON b.v <= a.v
         |  JOIN ${v}d a2 ON a2.v = a.v
         |  GROUP BY a.v, a2.c),
         |${v}t AS (SELECT CAST(sum(c * c * c - c) AS BIGINT) AS t
         |  FROM ${v}d)""".stripMargin
    QueryDef(
      "q385_kendall_w",
      s"""WITH ${TextAnalysis.raterFeaturesSql},
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM f),
         |${domCte("len")},
         |${domCte("ttr")},
         |${domCte("mwl")},
         |r2 AS (
         |  SELECT f.doc_id,
         |    lena.a2 + ttra.a2 + mwla.a2 AS r2
         |  FROM f JOIN lena ON lena.v = f.len
         |  JOIN ttra ON ttra.v = f.ttr
         |  JOIN mwla ON mwla.v = f.mwl),
         |mom AS (
         |  SELECT CAST(sum(r2) AS BIGINT) AS s1,
         |    CAST(sum(CAST(r2 AS HUGEINT) * r2) AS BIGINT) AS sr2
         |  FROM r2),
         |tt AS (SELECT lent.t + ttrt.t + mwlt.t AS tt FROM lent, ttrt, mwlt)
         |SELECT nn.n AS n_docs, mom.s1 AS rank2_total, tt.tt AS tie_moment,
         |  $wChain AS w_milli
         |FROM nn, mom, tt""".stripMargin) { (s, dir) =>
      val f = TextAnalysis.raterFeatures(s, dir)
        .ckpt() // one feature pass feeds three domains + the assembly
      val nn = f.agg(count(lit(1)).as("n"))
      // ONE domain collapse for all three rating axes, then ONE
      // grouped two-level prefix sum for the cumulative ranks (q379
      // discipline)
      val dAll = TextAnalysis.raterDomains(f, "c")
        .ckpt() // bounded (axis, value) domain: feeds ranks AND ties
      val aAll = ScaleRank.withRunningSum(dAll, Seq("axis"),
          Seq(col("v")), col("c"), "cum")
        .select(col("axis"), col("v"),
          (lit(2) * (col("cum") - col("c")) + col("c") + 1).as("a2"))
        .ckpt() // feeds the three per-axis assembly slices
      def ax(v: String) = aAll.filter(col("axis") === v)
        .select(col("v").as(s"v_$v"), col("a2").as(s"a2_$v"))
      val r2 = f // len's domain grows with max doc length: no broadcast
        .join(ax("len"), col("len") === col("v_len"))
        .join(broadcast(ax("ttr")), col("ttr") === col("v_ttr"))
        .join(broadcast(ax("mwl")), col("mwl") === col("v_mwl"))
        .select((col("a2_len") + col("a2_ttr") + col("a2_mwl")).as("r2"))
      val mom = r2.agg(sum(col("r2")).as("s1"),
        expr("CAST(sum(CAST(r2 AS DECIMAL(38,0)) * r2) AS BIGINT)")
          .as("sr2"))
      val tt = dAll
        .agg(sum(col("c") * col("c") * col("c") - col("c")).as("tt"))
      nn.crossJoin(broadcast(mom)).crossJoin(broadcast(tt))
        .select(col("n").as("n_docs"), col("s1").as("rank2_total"),
          col("tt").as("tie_moment"), expr(wChain).as("w_milli"))
    }
  }

  /** q388 — Wald–Wolfowitz runs test (WW '40) on the sign sequence of
    * day-over-day revenue changes: too FEW runs means momentum
    * (positive serial dependence), too MANY means mean-reversion —
    * the nonparametric randomness check that complements q387's
    * Ljung–Box (which needs second moments; this needs only signs)
    * and the direct test behind "are our daily deltas i.i.d.?"
    *
    * Exactness: deltas are exact cents over calendar-consecutive
    * days; zero deltas are dropped (the standard convention); run
    * counting is n − (adjacent same-sign pairs) via ONE equi-join on
    * the ScaleRank row number (rn₂ = rn+1 — no windows, no driver
    * sequence); E[R], Var[R], and Z² are one guarded IEEE chain from
    * the four exact integers (n₁, n₂, n, R).
    *
    * Scale design (100 TB): one fact collapse to the day axis; the
    * sign sequence is calendar-bounded; ranks ride the two-level
    * distributed row number. Output 1 row. */
  val q388RunsTest: QueryDef = {
    val zChain = "CASE WHEN n1 > 0 AND n2 > 0 AND n > 1 AND " +
      "(2.0e0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) * " +
      "(2.0e0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) - " +
      "CAST(n AS DOUBLE))) > 0.0e0 THEN " +
      "CAST(floor(1000.0e0 * " +
      "(CAST(r AS DOUBLE) - (1.0e0 + 2.0e0 * CAST(n1 AS DOUBLE) * " +
      "CAST(n2 AS DOUBLE) / CAST(n AS DOUBLE))) * " +
      "(CAST(r AS DOUBLE) - (1.0e0 + 2.0e0 * CAST(n1 AS DOUBLE) * " +
      "CAST(n2 AS DOUBLE) / CAST(n AS DOUBLE))) / " +
      "((2.0e0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) * " +
      "(2.0e0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) - " +
      "CAST(n AS DOUBLE))) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * " +
      "(CAST(n AS DOUBLE) - 1.0e0)))) AS BIGINT) END"
    QueryDef(
      "q388_runs_test",
      s"""WITH ${DayAxis.revCentsSql()},
         |dl AS (
         |  SELECT a.d, b.rev - a.rev AS p
         |  FROM daily a JOIN daily b ON b.d = a.d + 1),
         |sg AS (
         |  SELECT d, CASE WHEN p > 0 THEN 1 ELSE -1 END AS s
         |  FROM dl WHERE p <> 0),
         |rn AS (
         |  SELECT d, s, row_number() OVER (ORDER BY d) AS rk FROM sg),
         |adj AS (
         |  SELECT CAST(sum(CASE WHEN a.s = b.s THEN 1 ELSE 0 END)
         |    AS BIGINT) AS same
         |  FROM rn a JOIN rn b ON b.rk = a.rk + 1),
         |st AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         |    CAST(sum(CASE WHEN s = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n2
         |  FROM sg)
         |SELECT st.n, st.n1 AS n_up, st.n2 AS n_down,
         |  st.n - adj.same AS n_runs, $zChain AS z2_milli,
         |  CASE WHEN $zChain > 3841 THEN 1 ELSE 0 END AS reject_5pct
         |FROM st, adj, (SELECT st.n - adj.same AS r FROM st, adj) rr
         |""".stripMargin) { (s, dir) =>
      val daily = DayAxis.revCents(s, dir)
      val dl = daily.select(col("d"), col("rev"))
        .join(daily.select(expr("date_add(d, -1)").as("d"),
          col("rev").as("rev2")), Seq("d"))
        .select(col("d"), (col("rev2") - col("rev")).as("p"))
      val sg = dl.filter(col("p") =!= 0)
        .select(col("d"), when(col("p") > 0, 1).otherwise(-1).as("s"))
      val rn = ScaleRank.withRowNumber(sg, Seq.empty, Seq(col("d")),
        "rk", "nr").ckpt() // both sides of the adjacency join
      val adj = rn.select(col("rk"), col("s").as("sa"))
        .join(rn.select((col("rk") - 1).as("rk"), col("s").as("sb")),
          Seq("rk"))
        .agg(sum(when(col("sa") === col("sb"), 1L).otherwise(0L)).as("same"))
      val st = sg.agg(count(lit(1)).as("n"),
        sum(when(col("s") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("s") === -1, 1L).otherwise(0L)).as("n2"))
      st.crossJoin(broadcast(adj))
        .withColumn("r", col("n") - col("same"))
        .select(col("n"), col("n1").as("n_up"), col("n2").as("n_down"),
          col("r").as("n_runs"), expr(zChain).as("z2_milli"),
          when(expr(zChain) > 3841, 1).otherwise(0).as("reject_5pct"))
    }
  }

  /** The epoch-day revenue axis cut into full 7-day weeks: the full
    * weeks `fullWk` (wk) and the block frame (wk, wd, rev) of their
    * days — the blocked layout Friedman (q391) and Quade (q411) rank
    * within. */
  private def weekBlocks(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val daily = DayAxis.revCentsEpoch(s, dir)
      .select(col("d").as("ed"), col("rev").as("rev"))
    val dd = daily.select(expr("ed div 7").as("wk"),
      (col("ed") % 7).as("wd"), col("rev"))
    val fullWk = dd.groupBy("wk").agg(count(lit(1)).as("c"))
      .filter(col("c") === 7).select("wk")
    (fullWk, dd.join(fullWk, Seq("wk")))
  }

  /** Doubled within-week midranks (wk, wd, `name`) of each day's
    * revenue over the [[weekBlocks]] frame `b`:
    * 2·#{lower} + #{equal} + 1, by one week-keyed block self-join. */
  private def weekRanks(b: DataFrame, name: String): DataFrame =
    b.select(col("wk"), col("wd"), col("rev"))
      .join(b.select(col("wk"), col("rev").as("rev2")), Seq("wk"))
      .groupBy(col("wk"), col("wd"))
      .agg((lit(2) * sum(when(col("rev2") < col("rev"), 1L).otherwise(0L)) +
        sum(when(col("rev2") === col("rev"), 1L).otherwise(0L)) + 1)
        .as(name))

  /** The oracle side of [[weekBlocks]] and [[weekRanks]]: the CTEs
    * `daily`, `dd`, `full_wk`, `b` and `rk` (wk, wd, `rank`). */
  private def weekRanksSql(rank: String): String =
    s"""${DayAxis.revCentsEpochSql(day = "ed")},
       |dd AS (
       |  SELECT ed // 7 AS wk, ed % 7 AS wd, rev FROM daily),
       |full_wk AS (
       |  SELECT wk FROM dd GROUP BY wk HAVING count(*) = 7),
       |b AS (SELECT dd.* FROM dd JOIN full_wk USING (wk)),
       |rk AS (
       |  SELECT a.wk, a.wd,
       |    2 * CAST(sum(CASE WHEN x.rev < a.rev THEN 1 ELSE 0 END)
       |      AS BIGINT) +
       |    CAST(sum(CASE WHEN x.rev = a.rev THEN 1 ELSE 0 END)
       |      AS BIGINT) + 1 AS $rank
       |  FROM b a JOIN b x ON x.wk = a.wk
       |  GROUP BY a.wk, a.wd)""".stripMargin

  /** q391 — Friedman test (Friedman '37): is there a WEEKDAY effect
    * on daily revenue, treating each complete epoch-week as a block
    * and ranking its seven days within the block? The
    * repeated-measures rank ANOVA — q379's Kruskal–Wallis assumes
    * independent groups, but weekdays are matched within weeks, and
    * blocking removes the week-to-week level drift that would swamp
    * a between-groups test. The nonparametric twin of q134's
    * seasonality profile and q261's weekly decomposition.
    *
    * Exactness: weekday/week are epoch-day arithmetic (no engine
    * calendar conventions); within-block midranks ride the
    * 2·(#less) + (#equal) + 1 doubled-unit self-join identity (the
    * q379 discipline, here per 7-row block — bounded trivially);
    * rank sums and the χ² numerator are exact int64; df = 6,
    * critical 12.592.
    *
    * Scale design (100 TB): one fact collapse to the calendar-bounded
    * day axis; the within-block self-join is 7×7 per week; everything
    * downstream is a 7-row frame. Output 7 rows + constants. */
  val q391Friedman: QueryDef = {
    val K = 7
    QueryDef(
      "q391_friedman",
      s"""WITH ${weekRanksSql("a2")},
         |rj AS (
         |  SELECT wd, CAST(sum(a2) AS BIGINT) AS r2,
         |    CAST(count(*) AS BIGINT) AS nb
         |  FROM rk GROUP BY wd),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM full_wk),
         |chi AS (
         |  SELECT CAST((3000 * (SELECT sum(r2 * r2) FROM rj)) //
         |    (nn.n * $K * ${K + 1}) - 3000 * nn.n * ${K + 1} AS BIGINT)
         |    AS chi2_milli
         |  FROM nn)
         |SELECT rj.wd AS weekday, rj.nb AS n_weeks, rj.r2 AS rank2_sum,
         |  chi.chi2_milli,
         |  CASE WHEN chi.chi2_milli > 12592 THEN 1 ELSE 0 END AS reject_5pct
         |FROM rj, chi ORDER BY weekday""".stripMargin) { (s, dir) =>
      val (fullWk, blocks) = weekBlocks(s, dir)
      val b = blocks.ckpt() // both block-join sides
      val rk = weekRanks(b, "a2")
      val rj = rk.groupBy(col("wd"))
        .agg(sum(col("a2")).as("r2"), count(lit(1)).as("nb"))
        .ckpt() // 7 rows: feeds chi AND the output
      val nn = fullWk.agg(count(lit(1)).as("n"))
      val chi = rj.agg(sum(col("r2") * col("r2")).as("s2"))
        .crossJoin(broadcast(nn))
        .select(expr(s"CAST((3000 * s2) div (n * $K * ${K + 1}) - " +
          s"3000 * n * ${K + 1} AS BIGINT)").as("chi2_milli"))
      rj.crossJoin(broadcast(chi))
        .select(col("wd").as("weekday"), col("nb").as("n_weeks"),
          col("r2").as("rank2_sum"), col("chi2_milli"),
          when(col("chi2_milli") > 12592, 1).otherwise(0).as("reject_5pct"))
        .orderBy("weekday")
    }
  }

  /** The Mann–Kendall z in milli units from S (`s_stat`) and 18·Var(S)
    * (`var18`): ONE guarded IEEE chain with the ±1 continuity
    * correction, parsed by both engines (q392, q423). */
  private[operators] def mkZMilli: String =
    "CASE WHEN var18 > 0 AND s_stat > 0 THEN " +
      "CAST(floor(1000.0e0 * (CAST(s_stat AS DOUBLE) - 1.0e0) / " +
      "sqrt(CAST(var18 AS DOUBLE) / 18.0e0)) AS BIGINT) " +
      "WHEN var18 > 0 AND s_stat < 0 THEN " +
      "CAST(floor(1000.0e0 * (CAST(s_stat AS DOUBLE) + 1.0e0) / " +
      "sqrt(CAST(var18 AS DOUBLE) / 18.0e0)) AS BIGINT) " +
      "WHEN var18 > 0 THEN 0 END"

  /** q392 — Mann–Kendall trend test (Mann '45; Kendall '75) on daily
    * revenue: S = Σ_{i<j} sign(x_j − x_i) over all ordered day pairs,
    * with the tie-corrected variance and the continuity-corrected
    * normal z — the nonparametric "is there ANY monotone trend" test
    * that pairs with q187's Theil–Sen slope (MK decides IF, Theil–Sen
    * says HOW MUCH; both are what you run when q404-style OLS
    * residual assumptions are indefensible).
    *
    * Exactness: revenue collapses to exact day cents; S, the tie
    * moment Σt(t−1)(2t+5), and 18·Var(S) are exact integers; z is
    * ONE guarded IEEE chain with the ±1 continuity correction.
    *
    * Scale design (100 TB): one fact collapse to the calendar-bounded
    * day axis; the pair expansion is |days|²/2 on that bounded frame
    * (the q187 adjudicated shape — int-free day type keeps it visible
    * to the sweep as calendar-keyed); ties collapse to the (rev,
    * count) frame. Output 1 row. */
  val q392MannKendall: QueryDef = {
    val z = mkZMilli
    QueryDef(
      "q392_mann_kendall",
      s"""WITH ${DayAxis.revCentsSql()},
         |s AS (
         |  SELECT CAST(sum(CASE WHEN b.rev > a.rev THEN 1
         |    WHEN b.rev < a.rev THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
         |  FROM daily a JOIN daily b ON b.d > a.d),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM daily),
         |tie AS (
         |  SELECT CAST(coalesce(sum(t * (t - 1) * (2 * t + 5)), 0)
         |    AS BIGINT) AS t3
         |  FROM (SELECT CAST(count(*) AS BIGINT) AS t FROM daily
         |        GROUP BY rev) WHERE t > 1),
         |v AS (
         |  SELECT nn.n, s.s_stat,
         |    nn.n * (nn.n - 1) * (2 * nn.n + 5) - tie.t3 AS var18
         |  FROM nn, s, tie)
         |SELECT n AS n_days, s_stat, var18, $z AS z_milli
         |FROM v""".stripMargin) { (s, dir) =>
      val daily = DayAxis.revCents(s, dir)
      val sSt = daily.select(col("d").as("da"), col("rev").as("ra"))
        .join(daily.select(col("d").as("db"), col("rev").as("rb")),
          col("db") > col("da"))
        .agg(sum(when(col("rb") > col("ra"), 1L)
          .when(col("rb") < col("ra"), -1L).otherwise(0L)).as("s_stat"))
      val nn = daily.agg(count(lit(1)).as("n"))
      val tie = daily.groupBy(col("rev")).agg(count(lit(1)).as("t"))
        .filter(col("t") > 1)
        .agg(coalesce(sum(col("t") * (col("t") - 1) * (lit(2) * col("t") + 5)),
          lit(0L)).as("t3"))
      nn.crossJoin(broadcast(sSt)).crossJoin(broadcast(tie))
        .select(col("n"), col("s_stat"),
          (col("n") * (col("n") - 1) * (lit(2) * col("n") + 5) - col("t3"))
            .as("var18"))
        .select(col("n").as("n_days"), col("s_stat"), col("var18"),
          expr(z).as("z_milli"))
    }
  }

  /** q393 — Welch's unequal-variance t-test (Welch '47) between the
    * click and purchase event-value populations, with the
    * Welch–Satterthwaite effective degrees of freedom: the CORRECT
    * default two-sample mean test when group variances differ (the
    * pooled Student t silently assumes them equal; q257's ANOVA has
    * the same blind spot k-group). q177 answers distribution-shape
    * questions rank-wise; this is the parametric mean answer with
    * honest variance handling.
    *
    * Exactness: values are exact milli ints; (n, Σx, Σx²) ride
    * DECIMAL(38); t and df are each ONE IEEE chain over those exact
    * integers, built from a single SQL string parsed by BOTH engines
    * (the q286 cross-engine discipline).
    *
    * Scale design (100 TB): one partial-aggregable conditional-moment
    * pass; everything after is a 1-row frame. Output 1 row. */
  val q393WelchT: QueryDef = {
    val va = "((CAST(na AS DOUBLE) * CAST(qa AS DOUBLE) - " +
      "CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE)) / " +
      "(CAST(na AS DOUBLE) * (CAST(na AS DOUBLE) - 1.0e0)))"
    val vb = "((CAST(nb AS DOUBLE) * CAST(qb AS DOUBLE) - " +
      "CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)) / " +
      "(CAST(nb AS DOUBLE) * (CAST(nb AS DOUBLE) - 1.0e0)))"
    val sea = s"($va / CAST(na AS DOUBLE))"
    val seb = s"($vb / CAST(nb AS DOUBLE))"
    val tChain = s"CAST(floor(1000.0e0 * (CAST(sa AS DOUBLE) / " +
      s"CAST(na AS DOUBLE) - CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE)) / " +
      s"sqrt($sea + $seb)) AS BIGINT)"
    val dfChain = s"CAST(floor(1000.0e0 * ($sea + $seb) * ($sea + $seb) / " +
      s"($sea * $sea / (CAST(na AS DOUBLE) - 1.0e0) + " +
      s"$seb * $seb / (CAST(nb AS DOUBLE) - 1.0e0))) AS BIGINT)"
    val guard = s"na > 1 AND nb > 1 AND ($sea + $seb) > 0.0e0"
    QueryDef(
      "q393_welch_t",
      s"""WITH f AS (
         |  SELECT event_type, CAST(floor(value * 1000) AS BIGINT) AS v
         |  FROM events WHERE event_type IN ('click', 'purchase')),
         |m AS (
         |  SELECT
         |    CAST(count(*) FILTER (WHERE event_type = 'click') AS HUGEINT) AS na,
         |    sum(CAST(v AS HUGEINT)) FILTER (WHERE event_type = 'click') AS sa,
         |    sum(CAST(v AS HUGEINT) * v) FILTER (WHERE event_type = 'click') AS qa,
         |    CAST(count(*) FILTER (WHERE event_type = 'purchase') AS HUGEINT) AS nb,
         |    sum(CAST(v AS HUGEINT)) FILTER (WHERE event_type = 'purchase') AS sb,
         |    sum(CAST(v AS HUGEINT) * v) FILTER (WHERE event_type = 'purchase') AS qb
         |  FROM f)
         |SELECT CAST(na AS BIGINT) AS n_click, CAST(nb AS BIGINT) AS n_purchase,
         |  $tChain AS t_milli, $dfChain AS df_milli
         |FROM m WHERE $guard""".stripMargin) { (s, dir) =>
      val dec = (c: Column) => c.cast("decimal(38,0)")
      val m = Tables.events(s, dir)
        .filter(col("event_type").isin("click", "purchase"))
        .select(col("event_type"),
          floor(col("value") * 1000).cast("bigint").as("v"))
        .agg(
          dec(count(when(col("event_type") === "click", 1))).as("na"),
          sum(when(col("event_type") === "click", dec(col("v")))).as("sa"),
          sum(when(col("event_type") === "click", dec(col("v")) * col("v")))
            .as("qa"),
          dec(count(when(col("event_type") === "purchase", 1))).as("nb"),
          sum(when(col("event_type") === "purchase", dec(col("v")))).as("sb"),
          sum(when(col("event_type") === "purchase", dec(col("v")) * col("v")))
            .as("qb"))
      m.filter(expr(guard))
        .select(col("na").cast("bigint").as("n_click"),
          col("nb").cast("bigint").as("n_purchase"),
          expr(tChain).as("t_milli"), expr(dfChain).as("df_milli"))
    }
  }

  /** q394 — Brown–Forsythe test (Brown & Forsythe '74): one-way ANOVA
    * on |x − median_g| across order priorities — the robust
    * variance-homogeneity test that gates q257's ANOVA (whose F
    * assumes equal group variances) and q393's pooled alternatives.
    * Median-centering (vs Levene's mean-centering) keeps the test
    * honest under the skew financial amounts actually have.
    *
    * Exactness: cents are exact; each group median is an exact order
    * statistic off the (group, cents) collapse via a GROUPED
    * [[ScaleRank.withRunningSum]] prefix count (no windows, no domain
    * θ-joins — the q385 lesson applied group-wise); |x − med| is
    * exact; the ANOVA decomposition rides DECIMAL(38) with the q257
    * truncating-div identities; F is one guarded IEEE chain.
    *
    * Scale design (100 TB): one fact collapse to the (priority,
    * cents) value histogram; medians ride the distributed prefix sum;
    * the deviation moments are a second pass over the SAME histogram
    * (weighted by cell count — never re-reading the fact table).
    * Output 1 row. */
  val q394BrownForsythe: QueryDef = QueryDef(
    "q394_brown_forsythe",
    """WITH f AS (
      |  SELECT o_orderpriority AS g,
      |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      |  FROM orders),
      |vc AS (
      |  SELECT g, cents, CAST(count(*) AS BIGINT) AS c
      |  FROM f GROUP BY 1, 2),
      |cum AS (
      |  SELECT g, cents, c,
      |    CAST(sum(c) OVER (PARTITION BY g ORDER BY cents
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cw,
      |    CAST(sum(c) OVER (PARTITION BY g) AS BIGINT) AS ng
      |  FROM vc),
      |med AS (
      |  SELECT g, min(cents) AS med FROM cum
      |  WHERE cw >= (ng + 1) // 2 GROUP BY g),
      |zm AS (
      |  SELECT vc.g, CAST(sum(vc.c) AS HUGEINT) AS n,
      |    sum(CAST(abs(vc.cents - med.med) AS HUGEINT) * vc.c) AS sz,
      |    sum(CAST(abs(vc.cents - med.med) AS HUGEINT)
      |      * abs(vc.cents - med.med) * vc.c) AS qz
      |  FROM vc JOIN med ON vc.g = med.g GROUP BY vc.g),
      |t AS (
      |  SELECT CAST(count(*) AS HUGEINT) AS k, sum(n) AS nn,
      |    sum(sz) AS ss, sum(qz) AS qq, sum(sz * sz // n) AS tg
      |  FROM zm),
      |z AS (
      |  SELECT k, nn, greatest(CAST(0 AS HUGEINT), tg - ss * ss // nn) AS ssb,
      |    qq - tg AS ssw
      |  FROM t)
      |SELECT CAST(k AS BIGINT) AS k_groups, CAST(nn AS BIGINT) AS n,
      |  CAST(ssb AS BIGINT) AS ssb, CAST(ssw AS BIGINT) AS ssw,
      |  CAST(floor(1000.0e0 *
      |    (CAST(ssb AS DOUBLE) / (CAST(k AS DOUBLE) - 1.0e0)) /
      |    (CAST(ssw AS DOUBLE) / (CAST(nn AS DOUBLE) - CAST(k AS DOUBLE))))
      |    AS BIGINT) AS f_milli
      |FROM z WHERE ssw > 0 AND k > 1 AND nn > k""".stripMargin) { (s, dir) =>
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val vc = Tables.orders(s, dir)
      .select(col("o_orderpriority").as("g"),
        expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").as("cents"))
      .groupBy(col("g"), col("cents")).agg(count(lit(1)).as("c"))
      .ckpt() // (priority, cents) histogram: medians AND moments
    val ng = vc.groupBy(col("g")).agg(sum(col("c")).as("ng"))
    val med = ScaleRank.withRunningSum(vc, Seq("g"),
        Seq(col("cents")), col("c"), "cw")
      .join(broadcast(ng), Seq("g"))
      .filter(expr("cw >= (ng + 1) div 2"))
      .groupBy(col("g")).agg(min(col("cents")).as("med"))
    val zdev = abs(col("cents") - col("med"))
    val zm = vc.join(broadcast(med), Seq("g"))
      .groupBy(col("g"))
      .agg(dec(sum(col("c"))).as("n"),
        sum(dec(zdev) * col("c")).as("sz"),
        sum(dec(zdev) * zdev * col("c")).as("qz"))
    // `div` emits int64 and the per-group sz²/n terms pass 9.2e18 at
    // sf0.1 cents scale — the exact floor-div stays in DECIMAL via the
    // subtract-pmod identity (numerator made divisible, so the decimal
    // divide is exact; operands non-negative, so it equals // and div)
    val t = zm.agg(dec(count(lit(1))).as("k"), sum(col("n")).as("nn"),
      sum(col("sz")).as("ss"), sum(col("qz")).as("qq"),
      sum(expr("CAST((sz * sz - pmod(sz * sz, n)) / n AS DECIMAL(38,0))"))
        .as("tg"))
    val z = t.select(col("k"), col("nn"),
      greatest(dec(lit(0)),
        expr("tg - CAST((ss * ss - pmod(ss * ss, nn)) / nn " +
          "AS DECIMAL(38,0))")).as("ssb"),
      expr("qq - tg").as("ssw"))
    z.filter(col("ssw") > 0 && col("k") > 1 && col("nn") > col("k"))
      .select(col("k").cast("bigint").as("k_groups"),
        col("nn").cast("bigint").as("n"),
        col("ssb").cast("bigint").as("ssb"),
        col("ssw").cast("bigint").as("ssw"),
        expr("CAST(floor(1000.0e0 * " +
          "(CAST(ssb AS DOUBLE) / (CAST(k AS DOUBLE) - 1.0e0)) / " +
          "(CAST(ssw AS DOUBLE) / (CAST(nn AS DOUBLE) - CAST(k AS DOUBLE))))" +
          " AS BIGINT)").as("f_milli"))
  }

  /** q395 — Jarque–Bera normality test (Jarque & Bera '80) on daily
    * revenue log-free returns: skewness and excess kurtosis from
    * exact integer power sums, and JB = n/6·(S² + K²/4) — the "can I
    * even use Gaussian machinery on these returns" gate that q352's
    * VaR, q357's GPD tail, and q367's Anderson–Darling all implicitly
    * argue about. AD tests FIT against a fixed normal; JB tests the
    * third and fourth MOMENTS, which is where financial returns
    * actually fail.
    *
    * Exactness: day-over-day returns are exact SIGN-SPLIT ppm ratios
    * (truncating div on the |Δ| magnitude then re-signed — Spark div
    * truncates toward zero while DuckDB // floors, so negative
    * numerators must never reach the div: the q189 sign rule),
    * saturated at ±10⁸ ppm (the q389 overflow lesson — Σret⁴ then
    * caps at 10³² per term, inside DECIMAL(38) headroom at any
    * calendar scale); the four power sums are exact; skew, kurtosis,
    * and JB are each ONE IEEE chain from those integers, shared
    * verbatim between engines.
    *
    * Scale design (100 TB): one fact collapse to the calendar-bounded
    * day axis, one consecutive-day self-join on it, one moment
    * aggregate. Output 1 row. */
  val q395JarqueBera: QueryDef = {
    val mom = Seq(
      "m1" -> "(CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))",
      "r2" -> "(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))",
      "r3" -> "(CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE))",
      "r4" -> "(CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE))").toMap
    val m2 = s"(${mom("r2")} - ${mom("m1")} * ${mom("m1")})"
    val m3 = s"(${mom("r3")} - 3.0e0 * ${mom("m1")} * ${mom("r2")} + " +
      s"2.0e0 * ${mom("m1")} * ${mom("m1")} * ${mom("m1")})"
    val m4 = s"(${mom("r4")} - 4.0e0 * ${mom("m1")} * ${mom("r3")} + " +
      s"6.0e0 * ${mom("m1")} * ${mom("m1")} * ${mom("r2")} - " +
      s"3.0e0 * ${mom("m1")} * ${mom("m1")} * ${mom("m1")} * ${mom("m1")})"
    val skew = s"($m3 / sqrt($m2 * $m2 * $m2))"
    val kurt = s"($m4 / ($m2 * $m2))"
    val skewMilli = s"CAST(floor(1000.0e0 * $skew) AS BIGINT)"
    val kurtMilli = s"CAST(floor(1000.0e0 * $kurt) AS BIGINT)"
    val jbMilli = s"CAST(floor(1000.0e0 * CAST(n AS DOUBLE) / 6.0e0 * " +
      s"($skew * $skew + ($kurt - 3.0e0) * ($kurt - 3.0e0) / 4.0e0)) AS BIGINT)"
    QueryDef(
      "q395_jarque_bera",
      s"""WITH ${DayAxis.revCentsSql()},
         |r AS (
         |  SELECT least(greatest(CASE WHEN b.rev >= a.rev
         |      THEN (1000000 * (b.rev - a.rev)) // greatest(a.rev, 1)
         |      ELSE -((1000000 * (a.rev - b.rev)) // greatest(a.rev, 1)) END,
         |      -100000000), 100000000) AS ret
         |  FROM daily a JOIN daily b ON b.d = a.d + 1),
         |m AS (
         |  SELECT CAST(count(*) AS HUGEINT) AS n,
         |    sum(CAST(ret AS HUGEINT)) AS s1,
         |    sum(CAST(ret AS HUGEINT) * ret) AS s2,
         |    sum(CAST(ret AS HUGEINT) * ret * ret) AS s3,
         |    sum(CAST(ret AS HUGEINT) * ret * ret * ret) AS s4
         |  FROM r)
         |SELECT CAST(n AS BIGINT) AS n_returns,
         |  $skewMilli AS skew_milli, $kurtMilli AS kurt_milli,
         |  $jbMilli AS jb_milli,
         |  CASE WHEN $jbMilli > 5991 THEN 1 ELSE 0 END AS reject_5pct
         |FROM m WHERE n > 2 AND $m2 > 0.0e0""".stripMargin) { (s, dir) =>
      val dec = (c: Column) => c.cast("decimal(38,0)")
      val daily = DayAxis.revCents(s, dir)
      val r = daily.select(col("d").as("da"), col("rev").as("ra"))
        .join(daily.select(col("d").as("db"), col("rev").as("rb")),
          col("db") === date_add(col("da"), 1))
        .select(least(greatest(
          when(col("rb") >= col("ra"),
            expr("(1000000 * (rb - ra)) div greatest(ra, 1)"))
            .otherwise(expr("-((1000000 * (ra - rb)) div greatest(ra, 1))")),
          lit(-100000000L)), lit(100000000L)).as("ret"))
      val m = r.agg(dec(count(lit(1))).as("n"),
        sum(dec(col("ret"))).as("s1"),
        sum(dec(col("ret")) * col("ret")).as("s2"),
        sum(dec(col("ret")) * col("ret") * col("ret")).as("s3"),
        sum(dec(col("ret")) * col("ret") * col("ret") * col("ret")).as("s4"))
      m.filter(col("n") > 2 && expr(m2) > 0.0)
        .select(col("n").cast("bigint").as("n_returns"),
          expr(skewMilli).as("skew_milli"), expr(kurtMilli).as("kurt_milli"),
          expr(jbMilli).as("jb_milli"),
          when(expr(jbMilli) > 5991, 1).otherwise(0).as("reject_5pct"))
    }
  }

  /** q403 — Grubbs' test (Grubbs '50) for the single most extreme
    * daily revenue: G = max|x − x̄| / s, located to its day — the
    * formal "is the worst day a statistical outlier" test behind
    * q172's MAD flags (MAD flags MANY candidates robustly; Grubbs
    * prices exactly ONE against the normal model, which is the
    * on-call question "was Black Friday real or a pipeline bug").
    *
    * Exactness: the deviation is maximized as the exact integer
    * |n·x − S₁| (no division before the argmax, so the peak day is
    * exact); G is ONE IEEE chain over (dmax, n, n·S₂ − S₁²); the
    * peak day is the calendar min among exact-tie achievers.
    *
    * Scale design (100 TB): one fact collapse to the calendar-bounded
    * day axis, one 1-row moment frame broadcast back over it.
    * Output 1 row. */
  val q403Grubbs: QueryDef = {
    val gChain = "CAST(floor(1000.0e0 * (CAST(dmax AS DOUBLE) / " +
      "CAST(n AS DOUBLE)) / sqrt(CAST(m2 AS DOUBLE) / " +
      "(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0e0)))) AS BIGINT)"
    QueryDef(
      "q403_grubbs",
      s"""WITH ${DayAxis.revCentsSql()},
         |mo AS (
         |  SELECT CAST(count(*) AS HUGEINT) AS n,
         |    sum(CAST(rev AS HUGEINT)) AS s1,
         |    sum(CAST(rev AS HUGEINT) * rev) AS s2
         |  FROM daily),
         |dev AS (
         |  SELECT daily.d, abs(CAST(mo.n AS HUGEINT) * daily.rev - mo.s1)
         |    AS dv
         |  FROM daily, mo),
         |mx AS (SELECT max(dv) AS dmax FROM dev),
         |pk AS (
         |  SELECT min(dev.d) AS peak_day FROM dev, mx WHERE dev.dv = mx.dmax)
         |SELECT CAST(mo.n AS BIGINT) AS n_days, pk.peak_day,
         |  CAST(mx.dmax AS BIGINT) AS dev_n_cents,
         |  $gChain AS g_milli
         |FROM mo, mx, pk,
         |  (SELECT CAST(mo2.n AS HUGEINT) * mo2.s2 - mo2.s1 * mo2.s1 AS m2
         |   FROM mo mo2) mm
         |WHERE mo.n > 2 AND mm.m2 > 0""".stripMargin) { (s, dir) =>
      val dec = (c: Column) => c.cast("decimal(38,0)")
      val daily = DayAxis.revCents(s, dir)
      val mo = daily.agg(dec(count(lit(1))).as("n"),
        sum(dec(col("rev"))).as("s1"), sum(dec(col("rev")) * col("rev")).as("s2"))
      val dev = daily.crossJoin(broadcast(mo))
        .select(col("d"), abs(col("n") * col("rev") - col("s1")).as("dv"),
          col("n"), col("s1"), col("s2"))
      val mx = dev.agg(max(col("dv")).as("dmax"))
      val pk = dev.join(broadcast(mx), col("dv") === col("dmax"))
        .agg(min(col("d")).as("peak_day"))
      mo.crossJoin(broadcast(mx)).crossJoin(broadcast(pk))
        .withColumn("m2", col("n") * col("s2") - col("s1") * col("s1"))
        .filter(col("n") > 2 && col("m2") > 0)
        .select(col("n").cast("bigint").as("n_days"), col("peak_day"),
          col("dmax").cast("bigint").as("dev_n_cents"),
          expr(gChain).as("g_milli"))
    }
  }

  /** The click-vs-view value domain the two-sample rank tests (q399,
    * q407) run on: (v, t, t1) per 2dp-cents event value, with its
    * count t and click count t1 — one conditional-count collapse. */
  private def clickViewDomain(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .filter(col("event_type").isin("click", "view"))
      .select(expr("cast(floor(value * 100 + 0.5) as bigint)").as("v"),
        when(col("event_type") === "click", 1L).otherwise(0L).as("g1"))
      .groupBy(col("v"))
      .agg(count(lit(1)).as("t"), sum(col("g1")).as("t1"))

  /** The oracle side of [[clickViewDomain]]: the CTEs `x`, `dom` and
    * its totals `nn` (n, n1). */
  private def clickViewDomainSql: String =
    """x AS (
      |  SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS v,
      |    CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS g1
      |  FROM events WHERE event_type IN ('click', 'view')),
      |dom AS (
      |  SELECT v, CAST(count(*) AS BIGINT) AS t,
      |    CAST(sum(g1) AS BIGINT) AS t1
      |  FROM x GROUP BY v),
      |nn AS (
      |  SELECT CAST(sum(t) AS BIGINT) AS n, CAST(sum(t1) AS BIGINT) AS n1
      |  FROM dom)""".stripMargin

  /** q399 — Ansari–Bradley rank dispersion test (Ansari & Bradley
    * '60) between the click and view event-value populations: rank
    * all N values jointly, score each rank r as min(r, N+1−r) (ranks
    * pile toward the EXTREMES for the more-dispersed sample, so a
    * LOW group score means wider spread), and compare group 1's
    * average-tie score sum against its null mean. The rank-based
    * scale test beside q394's Brown–Forsythe (deviation-from-median
    * ANOVA) — AB needs no moments at all, the right tool when the
    * milli-value tails are heavy enough to make variance itself
    * unstable.
    *
    * Exactness: values collapse to the exact (cents, count, count₁)
    * domain frame; each value's occupied rank block [cb+1, cb+t]
    * comes from ONE [[ScaleRank.withRunningSum]] prefix; the block's
    * score sum S(v) is a CLOSED-FORM pair of arithmetic-ramp sums
    * split at the fold point ⌊(N+1)/2⌋ (exact: consecutive-integer
    * products are even before their halving); the average-tie group
    * statistic Σ t₁·S/t rides per-value truncating milli divs on
    * non-negative ints; the null mean is the textbook even/odd
    * closed form in the same milli units.
    *
    * Scale design (100 TB): one conditional-count collapse to the
    * value domain (2dp cents — bounded), one distributed prefix sum,
    * one per-row closed form; no windows, no pair joins. Output
    * 1 row. */
  val q399AnsariBradley: QueryDef = QueryDef(
    "q399_ansari_bradley",
    s"""WITH $clickViewDomainSql,
       |pre AS (
       |  SELECT v, t, t1,
       |    CAST(sum(t) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
       |      AS BIGINT) - t AS cb
       |  FROM dom),
       |sc AS (
       |  SELECT p.t, p.t1,
       |    -- rising ramp lo..min(hi,m), falling ramp max(lo,m+1)..hi
       |    greatest(0, least(p.cb + p.t, (nn.n + 1) // 2) - (p.cb + 1) + 1)
       |      AS c1,
       |    greatest(0, (p.cb + p.t)
       |      - greatest(p.cb + 1, (nn.n + 1) // 2 + 1) + 1) AS c2,
       |    p.cb + 1 AS lo, p.cb + p.t AS hi,
       |    (nn.n + 1) // 2 AS m, nn.n AS n
       |  FROM pre p, nn),
       |terms AS (
       |  SELECT t1, t,
       |    (c1 * (lo + least(hi, m))) // 2
       |    + (n + 1) * c2 - (c2 * (greatest(lo, m + 1) + hi)) // 2 AS s
       |  FROM sc),
       |ab AS (
       |  SELECT CAST(sum((1000 * CAST(t1 AS HUGEINT) * s) // t) AS BIGINT)
       |    AS ab_milli
       |  FROM terms)
       |SELECT nn.n1, nn.n - nn.n1 AS n2, ab.ab_milli,
       |  CAST(CASE WHEN nn.n % 2 = 0
       |    THEN (1000 * CAST(nn.n1 AS HUGEINT) * (nn.n + 2)) // 4
       |    ELSE (1000 * CAST(nn.n1 AS HUGEINT) * (nn.n + 1) * (nn.n + 1))
       |      // (4 * nn.n) END AS BIGINT) AS mean0_milli
       |FROM nn, ab WHERE nn.n1 > 0 AND nn.n1 < nn.n""".stripMargin) {
    (s, dir) =>
    val dom = clickViewDomain(s, dir)
      .ckpt() // bounded 2dp-cents value domain: prefix + totals
    val nn = dom.agg(sum(col("t")).cast("bigint").as("n"),
      sum(col("t1")).cast("bigint").as("n1"))
    val pre = ScaleRank.withRunningSum(dom, Seq.empty, Seq(col("v")),
        col("t"), "cum")
      .select(col("v"), col("t"), col("t1"), (col("cum") - col("t")).as("cb"))
    val sc = pre.crossJoin(broadcast(nn)).selectExpr(
      "t", "t1", "n",
      "cb + 1 AS lo", "cb + t AS hi", "(n + 1) div 2 AS m")
    val terms = sc.selectExpr("t", "t1",
      "greatest(0L, least(hi, m) - lo + 1) AS c1",
      "greatest(0L, hi - greatest(lo, m + 1) + 1) AS c2",
      "lo", "hi", "m", "n")
      .selectExpr("t1", "t",
        "(c1 * (lo + least(hi, m))) div 2 " +
          "+ (n + 1) * c2 - (c2 * (greatest(lo, m + 1) + hi)) div 2 AS s")
    val ab = terms
      .agg(sum(expr("(1000 * CAST(t1 AS DECIMAL(38,0)) * s) div t"))
        .cast("bigint").as("ab_milli"))
    nn.crossJoin(broadcast(ab))
      .filter(col("n1") > 0 && col("n1") < col("n"))
      .select(col("n1"), (col("n") - col("n1")).as("n2"), col("ab_milli"),
        expr("CAST(CASE WHEN n % 2 = 0 " +
          "THEN (1000 * CAST(n1 AS DECIMAL(38,0)) * (n + 2)) div 4 " +
          "ELSE (1000 * CAST(n1 AS DECIMAL(38,0)) * (n + 1) * (n + 1)) " +
          "div (4 * n) END AS BIGINT)").as("mean0_milli"))
  }

  /** q400 — Mood's median test (Mood '50) of order value across the
    * five order priorities: is each priority's share ABOVE the grand
    * median what the margins predict? The k-sample location test
    * with the weakest assumptions on the table — q379's
    * Kruskal–Wallis uses full rank information, Mood's uses only the
    * above/below-median dichotomy, which is exactly what survives
    * when the value column is censored, clipped, or bucketed at
    * ingest.
    *
    * Exactness: the grand median is the exact type-1 lower median
    * read off ONE [[ScaleRank.withRunningSum]] prefix over the
    * (cents, count) domain (the q327 discipline); per-group
    * above-counts are exact; χ² = Σ_g (N·a_g − n_g·A)²/(n_g·A·B)
    * — the algebraic collapse of both cells' (O−E)²/E — rides
    * per-group truncating micro divs on non-negative DECIMAL(38)
    * ints, then ONE exact integer sum.
    *
    * Scale design (100 TB): one collapse to the 2dp-cents value
    * domain, one distributed prefix, one 1-row median broadcast back
    * over a 5-row group frame. Output k rows, ordered. */
  val q400MoodMedian: QueryDef = QueryDef(
    "q400_mood_median",
    """WITH x AS (
      |  SELECT o_orderpriority AS grp,
      |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS v
      |  FROM orders),
      |dom AS (SELECT v, CAST(count(*) AS BIGINT) AS t FROM x GROUP BY v),
      |nn AS (SELECT CAST(sum(t) AS BIGINT) AS n FROM dom),
      |pre AS (
      |  SELECT v,
      |    CAST(sum(t) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
      |      AS BIGINT) AS cum
      |  FROM dom),
      |med AS (
      |  SELECT min(pre.v) AS med FROM pre, nn
      |  WHERE pre.cum >= (nn.n + 1) // 2),
      |g AS (
      |  SELECT grp, CAST(count(*) AS BIGINT) AS ng,
      |    CAST(sum(CASE WHEN x.v > med.med THEN 1 ELSE 0 END) AS BIGINT)
      |      AS a
      |  FROM x, med GROUP BY grp),
      |tot AS (
      |  SELECT CAST(sum(ng) AS HUGEINT) AS n, CAST(sum(a) AS HUGEINT) AS ab
      |  FROM g),
      |term AS (
      |  SELECT g.grp, g.ng, g.a,
      |    (1000000 * (tot.n * g.a - g.ng * tot.ab)
      |      * (tot.n * g.a - g.ng * tot.ab))
      |      // (CAST(g.ng AS HUGEINT) * tot.ab * (tot.n - tot.ab))
      |      AS t_micro
      |  FROM g, tot WHERE tot.ab > 0 AND tot.ab < tot.n),
      |chi AS (SELECT CAST(sum(t_micro) AS BIGINT) AS chi2_micro FROM term)
      |SELECT term.grp AS priority, term.ng AS n_orders,
      |  term.a AS n_above_median, chi.chi2_micro,
      |  CASE WHEN chi.chi2_micro > 9487729 THEN 1 ELSE 0 END AS reject_5pct
      |FROM term, chi ORDER BY priority""".stripMargin) { (s, dir) =>
    val x = Tables.orders(s, dir)
      .select(col("o_orderpriority").as("grp"),
        (col("o_totalprice").cast("decimal(12,2)") * 100).cast("bigint")
          .as("v"))
    // NOT ckpt'd: x is fact-sized — the domain and group passes each
    // rescan the (pruned, 2-column) parquet instead of materializing it
    val dom = x.groupBy(col("v")).agg(count(lit(1)).as("t"))
    val nn = dom.agg(sum(col("t")).cast("bigint").as("n"))
    val med = ScaleRank.withRunningSum(dom, Seq.empty, Seq(col("v")),
        col("t"), "cum")
      .crossJoin(broadcast(nn))
      .filter(col("cum") >= expr("(n + 1) div 2"))
      .agg(min(col("v")).as("med"))
    val g = x.crossJoin(broadcast(med))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("ng"),
        sum(when(col("v") > col("med"), 1L).otherwise(0L)).as("a"))
      .ckpt() // 5-row group frame: totals + terms + output
    val tot = g.agg(sum(col("ng")).cast("decimal(38,0)").as("n"),
      sum(col("a")).cast("decimal(38,0)").as("ab"))
    val term = g.crossJoin(broadcast(tot))
      .filter(col("ab") > 0 && col("ab") < col("n"))
      .selectExpr("grp", "ng", "a",
        "(1000000 * (n * a - ng * ab) * (n * a - ng * ab)) div " +
          "(CAST(ng AS DECIMAL(38,0)) * ab * (n - ab)) AS t_micro")
      .ckpt() // k-row term frame: chi sum + output
    val chi = term.agg(sum(col("t_micro")).cast("bigint").as("chi2_micro"))
    term.crossJoin(broadcast(chi))
      .select(col("grp").as("priority"), col("ng").as("n_orders"),
        col("a").as("n_above_median"), col("chi2_micro"),
        when(col("chi2_micro") > 9487729L, 1).otherwise(0).as("reject_5pct"))
      .orderBy("priority")
  }

  /** q418 — Dunn's test (Dunn '64) with Bonferroni control: the
    * rank-based post-hoc that belongs to q379's Kruskal–Wallis
    * exactly as q408's HSD belongs to q257's ANOVA — pairwise mean-
    * rank gaps z = (R̄ᵢ−R̄ⱼ)/√((N(N+1)/12 − ΣT/(12(N−1)))(1/nᵢ+1/nⱼ)),
    * tested at α/2·k(k−1) (z > 2.807). Use HSD when means are the
    * question and variances behave; use Dunn when you already
    * distrusted normality enough to run KW.
    *
    * Exactness: per-group doubled-midrank sums are the EXACT q379
    * machinery (one value-domain collapse + one prefix); the tie
    * moment is exact; each pair's z is ONE guarded IEEE chain over
    * those integers (R̄ in doubled units, halved inside the chain).
    *
    * Scale design (100 TB): identical to q379 plus the 5×5 literal-
    * priority pair θ-join (10 pairs — allowlisted). Output 10 rows. */
  val q418Dunn: QueryDef = {
    val se = "sqrt((CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0e0) " +
      "/ 12.0e0 - CAST(tie AS DOUBLE) / (12.0e0 * (CAST(n AS DOUBLE) " +
      "- 1.0e0))) * (1.0e0 / ni + 1.0e0 / nj))"
    // nullif: ONE tie group spanning the corpus (constant amounts)
    // collapses the tie-corrected SE to exactly 0 — z undefined; ANSI
    // Spark would throw where DuckDB natively NULLs (shared string;
    // degenerate-corpus probe)
    val z = s"floor(1000.0e0 * abs(CAST(ri AS DOUBLE) / (2.0e0 * ni) " +
      s"- CAST(rj AS DOUBLE) / (2.0e0 * nj)) / nullif($se, 0))"
    QueryDef(
      "q418_dunn",
      s"""WITH $priorityRanksSql,
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM f),
         |tiec AS (
         |  SELECT CAST(sum(ctot * ctot * ctot - ctot) AS BIGINT) AS tie
         |  FROM vt),
         |p AS (
         |  SELECT a.g AS g1, b.g AS g2, a.ng AS ni, b.ng AS nj,
         |    a.r2 AS ri, b.r2 AS rj
         |  FROM rg a JOIN rg b ON a.g < b.g)
         |SELECT p.g1, p.g2, p.ni, p.nj,
         |  CAST($z AS BIGINT) AS z_milli,
         |  CASE WHEN $z > 2807 THEN 1 ELSE 0 END AS reject_bonf_5pct
         |FROM p, nn, tiec ORDER BY g1, g2""".stripMargin) { (s, dir) =>
      val (f, vt, groupRanks) = priorityRanks(s, dir)
      val rg = groupRanks.ckpt() // 5 rows: both pair-join sides
      val nn = f.agg(count(lit(1)).as("n"))
      val tiec = vt.agg(
        sum(col("ctot") * col("ctot") * col("ctot") - col("ctot")).as("tie"))
      val p = rg.select(col("g").as("g1"), col("ng").as("ni"),
          col("r2").as("ri"))
        .join(rg.select(col("g").as("g2"), col("ng").as("nj"),
          col("r2").as("rj")), col("g1") < col("g2"))
      p.crossJoin(broadcast(nn)).crossJoin(broadcast(tiec))
        .select(col("g1"), col("g2"), col("ni"), col("nj"),
          expr(s"CAST($z AS BIGINT)").as("z_milli"),
          expr(s"CASE WHEN $z > 2807 THEN 1 ELSE 0 END")
            .as("reject_bonf_5pct"))
        .orderBy("g1", "g2")
    }
  }

  /** q419 — Hellinger distance (Hellinger '09; Bhattacharyya '43)
    * between the urgent (1-URGENT) and low (5-LOW) priority order-
    * value distributions over the corpus's own global value deciles:
    * BC = Σ√(pᵢqᵢ), H = √(1−BC) — the bounded [0,1] distribution
    * distance that (unlike q258's PSI) never explodes on empty
    * buckets and (unlike q224's KS) is a proper metric; the
    * drift-certificate number for comparing segment mixes.
    *
    * Exactness: deciles are the exact ntile assignment off
    * [[ScaleRank.withRowNumber]] under the unique (cents, orderkey)
    * order (the q129 discipline); per-(bucket, group) counts are
    * exact; each bucket's √(pq) term is independently nano-floored
    * (the q83/q199 discipline) from exact integer ratios; BC is an
    * exact int sum; H is ONE final chain on that integer.
    *
    * Scale design (100 TB): one distributed rank over the fact, one
    * 10×2 conditional count; everything downstream ≤10 rows.
    * Output 10 rows + constants. */
  val q419Hellinger: QueryDef = {
    val term = "CAST(floor(1000000000.0e0 * sqrt(" +
      "(CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE)) * " +
      "(CAST(c2 AS DOUBLE) / CAST(n2 AS DOUBLE)))) AS BIGINT)"
    QueryDef(
      "q419_hellinger",
      s"""WITH b AS (
         |  SELECT o_orderpriority AS g,
         |    ntile(10) OVER (ORDER BY CAST(floor(o_totalprice * 100 + 0.5)
         |      AS BIGINT), o_orderkey) AS bucket
         |  FROM orders),
         |ct AS (
         |  SELECT bucket,
         |    CAST(sum(CASE WHEN g = '1-URGENT' THEN 1 ELSE 0 END)
         |      AS BIGINT) AS c1,
         |    CAST(sum(CASE WHEN g = '5-LOW' THEN 1 ELSE 0 END) AS BIGINT)
         |      AS c2
         |  FROM b GROUP BY bucket),
         |nn AS (
         |  SELECT CAST(sum(c1) AS BIGINT) AS n1,
         |    CAST(sum(c2) AS BIGINT) AS n2
         |  FROM ct),
         |terms AS (
         |  SELECT ct.bucket, ct.c1, ct.c2, $term AS bc_nn
         |  FROM ct, nn),
         |bc AS (SELECT CAST(sum(bc_nn) AS BIGINT) AS bc_nano FROM terms)
         |SELECT terms.bucket AS decile, terms.c1 AS n_urgent,
         |  terms.c2 AS n_low, bc.bc_nano,
         |  CAST(floor(1000.0e0 * sqrt(greatest(0.0e0,
         |    1.0e0 - CAST(bc.bc_nano AS DOUBLE) / 1000000000.0e0)))
         |    AS BIGINT) AS hellinger_milli
         |FROM terms, bc ORDER BY decile""".stripMargin) { (s, dir) =>
      val base = Tables.orders(s, dir)
        .select(col("o_orderpriority").as("g"),
          expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")
            .as("cents"),
          col("o_orderkey").as("okey"))
      val b = ScaleRank.withRowNumber(base, Seq.empty,
          Seq(col("cents"), col("okey")), "rk", "nt")
        .select(col("g"),
          ScaleRank.ntileFromRank(10, col("rk"), col("nt")).as("bucket"))
      val ct = b.groupBy(col("bucket"))
        .agg(sum(when(col("g") === "1-URGENT", 1L).otherwise(0L)).as("c1"),
          sum(when(col("g") === "5-LOW", 1L).otherwise(0L)).as("c2"))
        .ckpt() // 10-row decile frame: totals + terms + output
      val nn = ct.agg(sum(col("c1")).cast("bigint").as("n1"),
        sum(col("c2")).cast("bigint").as("n2"))
      val terms = ct.crossJoin(broadcast(nn))
        .select(col("bucket"), col("c1"), col("c2"),
          expr(term).as("bc_nn"))
        .ckpt() // terms feed the fold AND the output
      val bc = terms.agg(sum(col("bc_nn")).cast("bigint").as("bc_nano"))
      terms.crossJoin(broadcast(bc))
        .select(col("bucket").as("decile"), col("c1").as("n_urgent"),
          col("c2").as("n_low"), col("bc_nano"),
          expr("CAST(floor(1000.0e0 * sqrt(greatest(0.0e0, " +
            "1.0e0 - CAST(bc_nano AS DOUBLE) / 1000000000.0e0))) " +
            "AS BIGINT)").as("hellinger_milli"))
        .orderBy("decile")
    }
  }

  /** q421 — Bartels rank von Neumann ratio (Bartels '82): the
    * RANK-based serial-randomness test, RVN = Σ(Rₜ−Rₜ₊₁)²/Σ(Rₜ−R̄)²
    * over daily revenue ranks — 2 under randomness, →0 for trend,
    * →4 for alternation. q388's runs test sees only the
    * above/below-median SIGN sequence; Bartels keeps rank magnitude
    * and has ~twice the power against smooth trends, while staying
    * immune to the heavy tails that break q404's parametric DW.
    *
    * Exactness: global doubled midranks ride the q414 domain
    * machinery; R̄ doubles to EXACTLY N+1, so numerator and
    * denominator are both exact int64 sums of squared doubled
    * differences (the 4× cancels); RVN is an exact truncating milli
    * div of non-negative ints; z is ONE IEEE chain.
    *
    * Scale design (100 TB): one fact collapse to the day axis, one
    * bounded domain collapse + prefix, one consecutive-index equi
    * join. Output 1 row. */
  val q421BartelsRvn: QueryDef = QueryDef(
    "q421_bartels_rvn",
    s"""WITH ${DayAxis.revCentsSql()},
       |${Forecast.revMidranksSql},
       |ax AS (
       |  SELECT CAST(row_number() OVER (ORDER BY daily.d) AS BIGINT) AS t,
       |    da.d2
       |  FROM daily JOIN da ON da.rev = daily.rev),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ax),
       |num AS (
       |  SELECT CAST(sum((a.d2 - b.d2) * (a.d2 - b.d2)) AS BIGINT) AS num4
       |  FROM ax a JOIN ax b ON b.t = a.t + 1),
       |den AS (
       |  SELECT CAST(sum((ax.d2 - (nn.n + 1)) * (ax.d2 - (nn.n + 1)))
       |    AS BIGINT) AS den4
       |  FROM ax, nn)
       |SELECT nn.n AS n_days,
       |  (1000 * num.num4) // den.den4 AS rvn_milli,
       |  CAST(floor(1000.0e0 * (CAST((1000 * num.num4) // den.den4
       |      AS DOUBLE) / 1000.0e0 - 2.0e0)
       |    / (2.0e0 / sqrt(CAST(nn.n AS DOUBLE)))) AS BIGINT) AS z_milli
       |FROM nn, num, den WHERE den.den4 > 0""".stripMargin) { (s, dir) =>
    val daily = DayAxis.revCents(s, dir)
    val da = Forecast.revMidranks(daily)
    val ax = ScaleRank.withRowNumber(
        daily.join(da, Seq("rev")).select(col("d"), col("d2")),
        Seq.empty, Seq(col("d")), "t", "n_ax")
      .select(col("t"), col("d2"))
      .ckpt() // bounded rank walk: lag join + moment folds
    val nn = ax.agg(count(lit(1)).cast("bigint").as("n"))
    val num = ax.select(col("t").as("ta"), col("d2").as("da2"))
      .join(ax.select(col("t").as("tb"), col("d2").as("db2")),
        col("tb") === col("ta") + 1)
      .agg(sum((col("da2") - col("db2")) * (col("da2") - col("db2")))
        .cast("bigint").as("num4"))
    val den = ax.crossJoin(broadcast(nn))
      .agg(sum((col("d2") - (col("n") + 1)) * (col("d2") - (col("n") + 1)))
        .cast("bigint").as("den4"))
    nn.crossJoin(broadcast(num)).crossJoin(broadcast(den))
      .filter(col("den4") > 0)
      .select(col("n").as("n_days"),
        expr("(1000 * num4) div den4").as("rvn_milli"),
        expr("CAST(floor(1000.0e0 * (CAST((1000 * num4) div den4 " +
          "AS DOUBLE) / 1000.0e0 - 2.0e0) " +
          "/ (2.0e0 / sqrt(CAST(n AS DOUBLE)))) AS BIGINT)").as("z_milli"))
  }

  /** q425 — Hodges–Lehmann shift estimator (Hodges & Lehmann '63)
    * between the second and first half of the daily-revenue history:
    * the MEDIAN of all cross-half pairwise differences — the robust
    * "how much did the level move" number whose breakdown point the
    * mean difference lacks entirely. q393/q408 price a difference of
    * MEANS; q177 tests whether a shift exists; HL says HOW MUCH,
    * robustly, in the same cents the data came in.
    *
    * Exactness: halves split on the [[ScaleRank]] row number; the
    * cross-pair difference DOMAIN collapses to (diff, count) via the
    * product of the two halves' value histograms (one equi-free join
    * of two BOUNDED day-value histograms — |V₁|·|V₂| pairs, each
    * calendar-bounded); the median is the exact lower order statistic
    * off one weighted prefix pass. Output is exact cents.
    *
    * Scale design (100 TB): one fact collapse to the day axis, two
    * bounded histograms, their bounded product, one prefix. The
    * histogram product is |days/2|² worst case — the q392 adjudicated
    * calendar-pair class. Output 1 row. */
  val q425HodgesLehmann: QueryDef = QueryDef(
    "q425_hodges_lehmann",
    s"""WITH ${DayAxis.revCentsSql()},
       |${DayAxis.axSql()},
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ax),
       |h1 AS (
       |  SELECT rev, CAST(count(*) AS BIGINT) AS c FROM ax, nn
       |  WHERE t <= n // 2 GROUP BY rev),
       |h2 AS (
       |  SELECT rev, CAST(count(*) AS BIGINT) AS c FROM ax, nn
       |  WHERE t > n // 2 GROUP BY rev),
       |dd AS (
       |  SELECT h2.rev - h1.rev AS diff,
       |    CAST(sum(h1.c * h2.c) AS BIGINT) AS c
       |  FROM h1 CROSS JOIN h2 GROUP BY 1),
       |tot AS (SELECT CAST(sum(c) AS BIGINT) AS m FROM dd),
       |pre AS (
       |  SELECT diff,
       |    CAST(sum(c) OVER (ORDER BY diff ROWS UNBOUNDED PRECEDING)
       |      AS BIGINT) AS cum
       |  FROM dd)
       |SELECT tot.m AS n_pairs,
       |  (SELECT min(pre.diff) FROM pre, tot
       |   WHERE pre.cum >= (tot.m + 1) // 2) AS hl_shift_cents
       |FROM tot""".stripMargin) { (s, dir) =>
    val ax = DayAxis.numbered(DayAxis.revCents(s, dir))
      .select(col("t"), col("rev"), col("n_ax"))
      .ckpt() // calendar-bounded indexed day frame: both halves
    val nn = ax.agg(max(col("n_ax")).cast("bigint").as("n"))
    def half(cond: Column) = ax.crossJoin(broadcast(nn)).filter(cond)
      .groupBy(col("rev")).agg(count(lit(1)).as("c"))
    val h1 = half(col("t") <= expr("n div 2"))
      .select(col("rev").as("r1"), col("c").as("c1"))
    val h2 = half(col("t") > expr("n div 2"))
      .select(col("rev").as("r2"), col("c").as("c2"))
    val dd = h1.crossJoin(h2)
      .groupBy((col("r2") - col("r1")).as("diff"))
      .agg(sum(col("c1") * col("c2")).as("c"))
      .ckpt() // consumed 3× (rank sample + prefix + total): without
              // the cut the |h1|×|h2| Walsh cross join re-ran each time
    val tot = dd.agg(sum(col("c")).cast("bigint").as("m"))
    val hl = ScaleRank.withRunningSum(dd, Seq.empty, Seq(col("diff")),
        col("c"), "cum")
      .crossJoin(broadcast(tot))
      .filter(col("cum") >= expr("(m + 1) div 2"))
      .agg(min(col("diff")).as("hl_shift_cents"))
    tot.crossJoin(broadcast(hl))
      .select(col("m").as("n_pairs"), col("hl_shift_cents"))
  }

  /** q427 — Cucconi test (Cucconi '68; Marozzi '09 revival): the
    * JOINT location–scale two-sample rank test, C = (U² + V² − 2ρUV)
    * / (2(1−ρ²)) with U built from squared ranks and V from squared
    * CONTRARY ranks — one statistic that catches what q177 (location
    * only) and q399 (scale only) each miss alone, with power
    * competitive against running both at split α.
    *
    * Exactness: group-2's rank-square sums ride the value-domain
    * collapse in QUARTER units (Σd², d the doubled midrank — exact
    * per-value closed products); contrary squares use
    * Σ(2(N+1)−d)² = 4(N+1)²·m − 4(N+1)Σd + Σd², all exact integers;
    * U, V, ρ, and C are ONE shared IEEE chain from those sums.
    *
    * Scale design (100 TB): one conditional-count collapse to the
    * bounded 2dp-cents domain, one prefix pass, 1-row folds.
    * Output 1 row. */
  val q427Cucconi: QueryDef = {
    // U = (6·ΣR² − m(N+1)(2N+1)) / sqrt(mn(N+1)(2N+1)(8N+11)/5)
    // with ΣR² = sd2/4 (doubled-unit sums); V likewise on contrary
    // ranks; rho = 2(N²−4)/((2N+1)(8N+11)) − 1
    val den = "sqrt(CAST(m AS DOUBLE) * CAST(n - m AS DOUBLE) " +
      "* (CAST(n AS DOUBLE) + 1.0e0) * (2.0e0 * CAST(n AS DOUBLE) " +
      "+ 1.0e0) * (8.0e0 * CAST(n AS DOUBLE) + 11.0e0) / 5.0e0)"
    val u = "((6.0e0 * CAST(sd2 AS DOUBLE) / 4.0e0 - CAST(m AS DOUBLE) " +
      s"* (CAST(n AS DOUBLE) + 1.0e0) * (2.0e0 * CAST(n AS DOUBLE) " +
      s"+ 1.0e0)) / $den)"
    val sc2 = "(4.0e0 * (CAST(n AS DOUBLE) + 1.0e0) * (CAST(n AS DOUBLE) " +
      "+ 1.0e0) * CAST(m AS DOUBLE) - 4.0e0 * (CAST(n AS DOUBLE) " +
      "+ 1.0e0) * CAST(sd1 AS DOUBLE) + CAST(sd2 AS DOUBLE))"
    val v = s"((6.0e0 * $sc2 / 4.0e0 - CAST(m AS DOUBLE) " +
      s"* (CAST(n AS DOUBLE) + 1.0e0) * (2.0e0 * CAST(n AS DOUBLE) " +
      s"+ 1.0e0)) / $den)"
    val rho = "(2.0e0 * (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) - 4.0e0) " +
      "/ ((2.0e0 * CAST(n AS DOUBLE) + 1.0e0) * (8.0e0 " +
      "* CAST(n AS DOUBLE) + 11.0e0)) - 1.0e0)"
    val c = s"(($u * $u + $v * $v - 2.0e0 * $rho * $u * $v) " +
      s"/ (2.0e0 * (1.0e0 - $rho * $rho)))"
    QueryDef(
      "q427_cucconi",
      s"""WITH x AS (
         |  SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS v,
         |    CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS g1
         |  FROM events WHERE event_type IN ('click', 'view')),
         |dom AS (
         |  SELECT v, CAST(count(*) AS BIGINT) AS t,
         |    CAST(sum(g1) AS BIGINT) AS t1
         |  FROM x GROUP BY v),
         |pre AS (
         |  SELECT v, t, t1,
         |    CAST(sum(t) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
         |      AS BIGINT) - t AS cb
         |  FROM dom),
         |su AS (
         |  SELECT CAST(sum(t) AS BIGINT) AS n,
         |    CAST(sum(t1) AS BIGINT) AS m,
         |    CAST(sum(t1 * (2 * cb + t + 1)) AS BIGINT) AS sd1,
         |    CAST(sum(CAST(t1 AS HUGEINT) * (2 * cb + t + 1)
         |      * (2 * cb + t + 1)) AS BIGINT) AS sd2
         |  FROM pre)
         |SELECT m AS n1, n - m AS n2,
         |  CAST(floor(1000.0e0 * $u) AS BIGINT) AS u_milli,
         |  CAST(floor(1000.0e0 * $v) AS BIGINT) AS v_milli,
         |  CAST(floor(1000.0e0 * $c) AS BIGINT) AS c_milli,
         |  CASE WHEN $c > 2.996e0 THEN 1 ELSE 0 END AS reject_5pct
         |FROM su WHERE m > 0 AND m < n""".stripMargin) { (s, dir) =>
      val x = Tables.events(s, dir)
        .filter(col("event_type").isin("click", "view"))
        .select(expr("cast(floor(value * 100 + 0.5) as bigint)").as("v"),
          when(col("event_type") === "click", 1L).otherwise(0L).as("g1"))
      val dom = x.groupBy(col("v"))
        .agg(count(lit(1)).as("t"), sum(col("g1")).as("t1"))
      val pre = ScaleRank.withRunningSum(dom, Seq.empty, Seq(col("v")),
          col("t"), "cum")
        .select(col("t"), col("t1"),
          (lit(2) * (col("cum") - col("t")) + col("t") + 1).as("d2"))
      val su = pre.agg(sum(col("t")).cast("bigint").as("n"),
        sum(col("t1")).cast("bigint").as("m"),
        sum(col("t1") * col("d2")).cast("bigint").as("sd1"),
        sum(col("t1").cast("decimal(38,0)") * col("d2") * col("d2"))
          .cast("bigint").as("sd2"))
      su.filter(col("m") > 0 && col("m") < col("n"))
        .select(col("m").as("n1"), (col("n") - col("m")).as("n2"),
          expr(s"CAST(floor(1000.0e0 * $u) AS BIGINT)").as("u_milli"),
          expr(s"CAST(floor(1000.0e0 * $v) AS BIGINT)").as("v_milli"),
          expr(s"CAST(floor(1000.0e0 * $c) AS BIGINT)").as("c_milli"),
          expr(s"CASE WHEN $c > 2.996e0 THEN 1 ELSE 0 END")
            .as("reject_5pct"))
    }
  }

  /** q428 — Wilcoxon signed-rank test (Wilcoxon '45) on PAIRED
    * per-user spend: each user's first-half vs second-half event
    * cents — did the typical user's spend shift? q177 compares two
    * INDEPENDENT samples; the paired design removes between-user
    * variance entirely, which is why it's the default for
    * before/after product changes. W⁺ = Σ ranks of |d| over positive
    * d (zero diffs drop), z against n(n+1)/4 with the tie-corrected
    * variance.
    *
    * Exactness: per-user halves are exact conditional cent sums; the
    * |d| rank domain collapses to (|d|, count, count₊) with doubled
    * midranks off ONE prefix pass; 2W⁺, the tie moment Σt³−t, and
    * the variance numerator 48·Var = 2n(n+1)(2n+1) − Σ(t³−t) are
    * exact integers; z is ONE guarded IEEE chain.
    *
    * Scale design (100 TB): one user-grain conditional aggregate
    * (map-side combinable), one bounded |d|-domain collapse + prefix,
    * 1-row folds. Output 1 row. */
  val q428SignedRank: QueryDef = {
    val z = "CAST(floor(1000.0e0 * (CAST(w2 AS DOUBLE) / 2.0e0 " +
      "- CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0e0) / 4.0e0) " +
      "/ sqrt(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0e0) " +
      "* (2.0e0 * CAST(n AS DOUBLE) + 1.0e0) / 24.0e0 " +
      "- CAST(tie AS DOUBLE) / 48.0e0)) AS BIGINT)"
    QueryDef(
      "q428_signed_rank",
      s"""WITH cut AS (
         |  SELECT (epoch_us(CAST(min(ts) AS TIMESTAMP))
         |    + epoch_us(CAST(max(ts) AS TIMESTAMP))) // 2 AS mid_us
         |  FROM events),
         |u AS (
         |  SELECT user_id,
         |    CAST(coalesce(sum(CASE
         |      WHEN epoch_us(CAST(ts AS TIMESTAMP)) < cut.mid_us
         |      THEN CAST(floor(value * 100 + 0.5) AS BIGINT) END), 0)
         |      AS BIGINT) AS x,
         |    CAST(coalesce(sum(CASE
         |      WHEN epoch_us(CAST(ts AS TIMESTAMP)) >= cut.mid_us
         |      THEN CAST(floor(value * 100 + 0.5) AS BIGINT) END), 0)
         |      AS BIGINT) AS y
         |  FROM events, cut GROUP BY user_id),
         |dif AS (
         |  SELECT y - x AS d, abs(y - x) AS ad FROM u WHERE y <> x),
         |dom AS (
         |  SELECT ad, CAST(count(*) AS BIGINT) AS t,
         |    CAST(sum(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT) AS tp
         |  FROM dif GROUP BY ad),
         |pre AS (
         |  SELECT ad, t, tp,
         |    CAST(sum(t) OVER (ORDER BY ad ROWS UNBOUNDED PRECEDING)
         |      AS BIGINT) - t AS cb
         |  FROM dom),
         |su AS (
         |  SELECT CAST(sum(t) AS BIGINT) AS n,
         |    CAST(sum(tp * (2 * cb + t + 1)) AS BIGINT) AS w2,
         |    CAST(sum(t * t * t - t) AS BIGINT) AS tie
         |  FROM pre)
         |SELECT n AS n_users_changed, w2 AS w_plus_doubled,
         |  $z AS z_milli,
         |  CASE WHEN abs($z) > 1960 THEN 1 ELSE 0 END AS reject_5pct
         |FROM su WHERE n > 0""".stripMargin) { (s, dir) =>
      val ev = Tables.events(s, dir)
      val cut = ev.agg(expr(
        "(unix_micros(CAST(min(ts) AS TIMESTAMP)) " +
          "+ unix_micros(CAST(max(ts) AS TIMESTAMP))) div 2").as("mid_us"))
      val cents = expr("CAST(floor(value * 100 + 0.5) AS BIGINT)")
      val tsUs = expr("unix_micros(CAST(ts AS TIMESTAMP))")
      val u = ev.crossJoin(broadcast(cut))
        .groupBy(col("user_id"))
        .agg(coalesce(sum(when(tsUs < col("mid_us"), cents)), lit(0L))
          .as("x"),
          coalesce(sum(when(tsUs >= col("mid_us"), cents)), lit(0L))
            .as("y"))
      val dif = u.filter(col("y") =!= col("x"))
        .select((col("y") - col("x")).as("d"),
          abs(col("y") - col("x")).as("ad"))
      val dom = dif.groupBy(col("ad"))
        .agg(count(lit(1)).as("t"),
          sum(when(col("d") > 0, 1L).otherwise(0L)).as("tp"))
      val su = ScaleRank.withRunningSum(dom, Seq.empty, Seq(col("ad")),
          col("t"), "cum")
        .select(col("t"), col("tp"),
          (lit(2) * (col("cum") - col("t")) + col("t") + 1).as("d2"))
        .agg(sum(col("t")).cast("bigint").as("n"),
          sum(col("tp") * col("d2")).cast("bigint").as("w2"),
          sum(col("t") * col("t") * col("t") - col("t")).cast("bigint")
            .as("tie"))
      su.filter(col("n") > 0)
        .select(col("n").as("n_users_changed"),
          col("w2").as("w_plus_doubled"),
          expr(z).as("z_milli"),
          expr(s"CASE WHEN abs($z) > 1960 THEN 1 ELSE 0 END")
            .as("reject_5pct"))
    }
  }

  /** q415 — intraclass correlation ICC(1,1) (Shrout & Fleiss '79) of
    * daily revenue within calendar weeks: what share of day-to-day
    * revenue variance is BETWEEN-week? ICC = (MSB − MSW)/(MSB +
    * (k−1)·MSW) from the one-way ANOVA on full 7-day weeks — the
    * "how clustered is my data" number that decides whether
    * week-level experiment randomization (q319's SRM world) loses
    * power to intra-week correlation, and the design-effect input
    * 1 + (k−1)·ICC every cluster-sampled estimate needs.
    *
    * Exactness: per-week (Σx, Σx²) are exact DECIMAL(38) cents
    * moments over the calendar-bounded day frame; the three pooled
    * sums (S, ΣΣx², Σs_w²) are exact; MSB/MSW/ICC/F ride ONE shared
    * IEEE chain each over those integers.
    *
    * Scale design (100 TB): one fact collapse to the day axis, one
    * 7-row-per-week aggregate, one 1-row moment fold. Output 1 row. */
  val q415Icc: QueryDef = {
    val K = 7
    val msb = s"((CAST(sw2 AS DOUBLE) / $K.0e0 - CAST(s AS DOUBLE) " +
      s"* CAST(s AS DOUBLE) / ($K.0e0 * CAST(nw AS DOUBLE))) " +
      s"/ (CAST(nw AS DOUBLE) - 1.0e0))"
    val msw = s"((CAST(sq AS DOUBLE) - CAST(sw2 AS DOUBLE) / $K.0e0) " +
      s"/ ($K.0e0 * CAST(nw AS DOUBLE) - CAST(nw AS DOUBLE)))"
    val icc = s"(($msb - $msw) / ($msb + ${K - 1}.0e0 * $msw))"
    QueryDef(
      "q415_icc",
      s"""WITH ${DayAxis.revCentsEpochSql(day = "ed")},
         |dd AS (SELECT ed // 7 AS wk, rev FROM daily),
         |full_wk AS (
         |  SELECT wk, CAST(sum(CAST(rev AS HUGEINT)) AS HUGEINT) AS s,
         |    sum(CAST(rev AS HUGEINT) * rev) AS q
         |  FROM dd GROUP BY wk HAVING count(*) = $K),
         |mo AS (
         |  SELECT CAST(count(*) AS HUGEINT) AS nw,
         |    sum(s) AS s, sum(q) AS sq, sum(s * s) AS sw2
         |  FROM full_wk)
         |SELECT CAST(nw AS BIGINT) AS n_weeks,
         |  CAST(floor(1000.0e0 * $icc) AS BIGINT) AS icc_milli,
         |  CAST(floor(1000.0e0 * $msb / $msw) AS BIGINT) AS f_milli
         |FROM mo WHERE nw > 1
         |  AND (CAST(sq AS DOUBLE) - CAST(sw2 AS DOUBLE) / $K.0e0) > 0
         |""".stripMargin) { (s, dir) =>
      val dec = (c: Column) => c.cast("decimal(38,0)")
      val dd = DayAxis.revCentsEpoch(s, dir)
        .select(col("d").as("ed"), col("rev").as("rev"))
        .select(expr("ed div 7").as("wk"), col("rev"))
      val fullWk = dd.groupBy(col("wk"))
        .agg(count(lit(1)).as("c"), sum(dec(col("rev"))).as("s"),
          sum(dec(col("rev")) * col("rev")).as("q"))
        .filter(col("c") === K)
      val mo = fullWk.agg(dec(count(lit(1))).as("nw"),
        sum(col("s")).as("s"), sum(col("q")).as("sq"),
        sum(col("s") * col("s")).as("sw2"))
      mo.filter(col("nw") > 1 &&
          expr(s"(CAST(sq AS DOUBLE) - CAST(sw2 AS DOUBLE) / $K.0e0) > 0"))
        .select(col("nw").cast("bigint").as("n_weeks"),
          expr(s"CAST(floor(1000.0e0 * $icc) AS BIGINT)").as("icc_milli"),
          expr(s"CAST(floor(1000.0e0 * $msb / $msw) AS BIGINT)")
            .as("f_milli"))
    }
  }

  /** q407 — Cramér–von Mises two-sample test (Cramér '28; Anderson
    * '62 computing form) between the click and view event-value
    * populations: T = U/(n·m·N) − (4nm−1)/(6N) with
    * U = n·Σᵢ(rᵢ−i)² + m·Σⱼ(sⱼ−j)² over midranks — the
    * whole-distribution test that weights the ECDF gap EVERYWHERE
    * (q224's KS sees only the single largest gap; CvM integrates the
    * squared gap, catching spread/shape differences KS dilutes).
    *
    * Exactness: both populations collapse to the (cents, count,
    * count₁) domain frame; global and per-group rank offsets are
    * THREE [[ScaleRank.withRunningSum]] prefixes of that one frame;
    * Σ(r−i)² per value is CLOSED FORM in doubled units — each tied
    * block shares one doubled midrank d and occupies consecutive
    * within-group doubled positions 2i, so Σ(d−2i)² = t·d² − 4d·S₁ +
    * 4·S₂ with S₁/S₂ arithmetic and square-pyramidal partial sums
    * (k(k+1)(2k+1) is divisible by 6 — the //6 is exact); U rides
    * DECIMAL(38); T is ONE guarded IEEE chain (4× unit correction
    * folded in).
    *
    * Scale design (100 TB): one conditional-count collapse to the
    * bounded 2dp-cents domain, one prefix pass, one per-row closed
    * form — no windows, no pair joins. Output 1 row. */
  val q407CramerVonMises: QueryDef = QueryDef(
    "q407_cramer_von_mises",
    s"""WITH $clickViewDomainSql,
       |pre AS (
       |  SELECT v, t, t1, t - t1 AS t2,
       |    CAST(sum(t) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
       |      AS BIGINT) - t AS cb,
       |    CAST(sum(t1) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
       |      AS BIGINT) - t1 AS cb1,
       |    CAST(sum(t - t1) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
       |      AS BIGINT) - (t - t1) AS cb2
       |  FROM dom),
       |terms AS (
       |  SELECT
       |    CAST(t1 AS HUGEINT) * ((2 * cb + t + 1) * (2 * cb + t + 1))
       |      - 4 * (2 * cb + t + 1)
       |        * (((cb1 + t1) * (cb1 + t1 + 1)) // 2
       |           - ((cb1) * (cb1 + 1)) // 2)
       |      + 4 * (((cb1 + t1) * (cb1 + t1 + 1)
       |              * CAST(2 * (cb1 + t1) + 1 AS HUGEINT)) // 6
       |             - ((cb1) * (cb1 + 1) * CAST(2 * cb1 + 1 AS HUGEINT))
       |               // 6) AS q1,
       |    CAST(t2 AS HUGEINT) * ((2 * cb + t + 1) * (2 * cb + t + 1))
       |      - 4 * (2 * cb + t + 1)
       |        * (((cb2 + t2) * (cb2 + t2 + 1)) // 2
       |           - ((cb2) * (cb2 + 1)) // 2)
       |      + 4 * (((cb2 + t2) * (cb2 + t2 + 1)
       |              * CAST(2 * (cb2 + t2) + 1 AS HUGEINT)) // 6
       |             - ((cb2) * (cb2 + 1) * CAST(2 * cb2 + 1 AS HUGEINT))
       |               // 6) AS q2
       |  FROM pre),
       |u AS (
       |  SELECT nn.n1 * sum(q1) + (nn.n - nn.n1) * sum(q2) AS u4
       |  FROM terms, nn GROUP BY nn.n1, nn.n)
       |SELECT nn.n1, nn.n - nn.n1 AS n2,
       |  CAST(floor(1000000.0e0 * (CAST(u.u4 AS DOUBLE)
       |    / (4.0e0 * nn.n1 * (nn.n - nn.n1) * nn.n)
       |    - (4.0e0 * nn.n1 * (nn.n - nn.n1) - 1.0e0) / (6.0e0 * nn.n)))
       |    AS BIGINT) AS t_micro,
       |  CASE WHEN floor(1000000.0e0 * (CAST(u.u4 AS DOUBLE)
       |    / (4.0e0 * nn.n1 * (nn.n - nn.n1) * nn.n)
       |    - (4.0e0 * nn.n1 * (nn.n - nn.n1) - 1.0e0) / (6.0e0 * nn.n)))
       |    > 461000 THEN 1 ELSE 0 END AS reject_5pct
       |FROM nn, u WHERE nn.n1 > 0 AND nn.n1 < nn.n""".stripMargin) {
    (s, dir) =>
    val dom = clickViewDomain(s, dir)
      .ckpt() // bounded 2dp-cents value domain: 3 prefixes + totals
    val nn = dom.agg(sum(col("t")).cast("bigint").as("n"),
      sum(col("t1")).cast("bigint").as("n1"))
    val pre = ScaleRank.withRunningSum(
        ScaleRank.withRunningSum(
          ScaleRank.withRunningSum(
            dom.withColumn("t2", col("t") - col("t1")),
            Seq.empty, Seq(col("v")), col("t"), "cum"),
          Seq.empty, Seq(col("v")), col("t1"), "cum1"),
        Seq.empty, Seq(col("v")), col("t2"), "cum2")
      .select(col("t"), col("t1"), col("t2"),
        (col("cum") - col("t")).as("cb"),
        (col("cum1") - col("t1")).as("cb1"),
        (col("cum2") - col("t2")).as("cb2"))
    def blockQ(tc: String, cbc: String) =
      s"CAST($tc AS DECIMAL(38,0)) * ((2 * cb + t + 1) * (2 * cb + t + 1)) " +
        s"- 4 * (2 * cb + t + 1) " +
        s"* ((($cbc + $tc) * ($cbc + $tc + 1)) div 2 " +
        s"- (($cbc) * ($cbc + 1)) div 2) " +
        s"+ 4 * (((($cbc + $tc) * ($cbc + $tc + 1)) " +
        s"* CAST(2 * ($cbc + $tc) + 1 AS DECIMAL(38,0))) div 6 " +
        s"- ((($cbc) * ($cbc + 1)) * CAST(2 * $cbc + 1 AS DECIMAL(38,0))) " +
        s"div 6)"
    val terms = pre.select(expr(blockQ("t1", "cb1")).as("q1"),
      expr(blockQ("t2", "cb2")).as("q2"))
    val u = terms.agg(sum(col("q1")).as("sq1"), sum(col("q2")).as("sq2"))
      .crossJoin(broadcast(nn))
      .select(col("n"), col("n1"),
        (col("n1") * col("sq1") + (col("n") - col("n1")) * col("sq2"))
          .as("u4"))
    val tChain = "floor(1000000.0e0 * (CAST(u4 AS DOUBLE) " +
      "/ (4.0e0 * n1 * (n - n1) * n) " +
      "- (4.0e0 * n1 * (n - n1) - 1.0e0) / (6.0e0 * n)))"
    u.filter(col("n1") > 0 && col("n1") < col("n"))
      .select(col("n1"), (col("n") - col("n1")).as("n2"),
        expr(s"CAST($tChain AS BIGINT)").as("t_micro"),
        expr(s"CASE WHEN $tChain > 461000 THEN 1 ELSE 0 END")
          .as("reject_5pct"))
  }

  /** q408 — Tukey HSD post-hoc (Tukey '49) across the five order
    * priorities: every pairwise |mean difference| studentized by the
    * pooled within-group error, q = |x̄ᵢ − x̄ⱼ| / √(MSW/2·(1/nᵢ+1/nⱼ))
    * — the family-wise honest answer to "WHICH priorities differ"
    * after q257's ANOVA says "some do" (per-pair t-tests at 5%
    * inflate the family error to ~23% over 10 pairs; HSD controls it
    * with the studentized-range critical value, q₀.₀₅(5,∞) = 3.858).
    *
    * Exactness: per-group (n, Σx, Σx²) are exact DECIMAL(38) cents
    * moments; each group's within-SS lands as the exact truncating
    * (n·q − s²) div (n·10⁶) — 10⁶-cents² units, because `div` emits
    * int64 and the raw cents² SS is ~10²⁶ (the q405 lesson: scale
    * the REPORTING unit, keep the moments exact); group means are
    * exact milli divs; the studentized q is ONE guarded IEEE chain
    * per pair over those exact integers.
    *
    * Scale design (100 TB): one grouped moment pass (map-side
    * combinable to 5 rows); the pair expansion is the 5×5 θ-join of
    * that literal-domain group frame (10 pairs — allowlisted with
    * the bound named). Output k(k−1)/2 rows, ordered. */
  val q408TukeyHsd: QueryDef = {
    val qChain = "floor(1000.0e0 * abs(CAST(mi AS DOUBLE) - mj) / " +
      "(1000000.0e0 * sqrt(CAST(ssw_m6 AS DOUBLE) / " +
      "(2.0e0 * CAST(dfw AS DOUBLE)) * (1.0e0 / ni + 1.0e0 / nj))))"
    QueryDef(
      "q408_tukey_hsd",
      s"""WITH x AS (
         |  SELECT o_orderpriority AS grp,
         |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS v
         |  FROM orders),
         |g AS (
         |  SELECT grp, CAST(count(*) AS HUGEINT) AS n,
         |    sum(CAST(v AS HUGEINT)) AS s, sum(CAST(v AS HUGEINT) * v) AS q
         |  FROM x GROUP BY grp),
         |w AS (
         |  SELECT CAST(sum((n * q - s * s) // (n * 1000000)) AS BIGINT)
         |      AS ssw_m6,
         |    CAST(sum(n) - count(*) AS BIGINT) AS dfw
         |  FROM g),
         |m AS (
         |  SELECT grp, CAST(n AS BIGINT) AS n,
         |    CAST((1000 * s) // n AS BIGINT) AS mean_milli
         |  FROM g),
         |p AS (
         |  SELECT a.grp AS g1, b.grp AS g2, a.n AS ni, b.n AS nj,
         |    a.mean_milli AS mi, b.mean_milli AS mj
         |  FROM m a JOIN m b ON a.grp < b.grp)
         |SELECT p.g1, p.g2, p.ni, p.nj,
         |  p.mi - p.mj AS diff_milli,
         |  CAST($qChain AS BIGINT) AS q_milli,
         |  CASE WHEN $qChain > 3858 THEN 1 ELSE 0 END AS reject_5pct
         |FROM p, w WHERE w.ssw_m6 > 0 AND w.dfw > 0
         |ORDER BY g1, g2""".stripMargin) { (s, dir) =>
      val x = Tables.orders(s, dir)
        .select(col("o_orderpriority").as("grp"),
          (col("o_totalprice").cast("decimal(12,2)") * 100).cast("bigint")
            .as("v"))
      val g = x.groupBy(col("grp")).agg(
          count(lit(1)).cast("decimal(38,0)").as("n"),
          sum(col("v").cast("decimal(38,0)")).as("s"),
          sum(col("v").cast("decimal(38,0)") * col("v")).as("q"))
        .ckpt() // 5-row literal-priority moment frame: SSW + means
      val w = g.agg(
        sum(expr("(n * q - s * s) div (n * 1000000)")).cast("bigint")
          .as("ssw_m6"),
        (sum(col("n")) - count(lit(1))).cast("bigint").as("dfw"))
      val m = g.select(col("grp"), col("n").cast("bigint").as("n"),
        expr("CAST((1000 * s) div n AS BIGINT)").as("mean_milli"))
      val p = m.select(col("grp").as("g1"), col("n").as("ni"),
          col("mean_milli").as("mi"))
        .join(m.select(col("grp").as("g2"), col("n").as("nj"),
          col("mean_milli").as("mj")), col("g1") < col("g2"))
      p.crossJoin(broadcast(w))
        .filter(col("ssw_m6") > 0 && col("dfw") > 0)
        .select(col("g1"), col("g2"), col("ni"), col("nj"),
          (col("mi") - col("mj")).as("diff_milli"),
          expr(s"CAST($qChain AS BIGINT)").as("q_milli"),
          expr(s"CASE WHEN $qChain > 3858 THEN 1 ELSE 0 END")
            .as("reject_5pct"))
        .orderBy("g1", "g2")
    }
  }

  /** q411 — Quade test (Quade '79) on weekday revenue across full
    * weeks: Friedman (q391) treats every week as equally informative;
    * Quade weights each week by the rank of its RANGE, so
    * high-variation weeks — the ones that actually discriminate
    * weekdays — drive the statistic. F = (n−1)·B/(A−B) over
    * S_ij = Q_i·(r_ij − (k+1)/2).
    *
    * Exactness: within-week midranks ride the 7×7 block identity in
    * doubled units (the q391 discipline); week ranges are exact
    * cents; range ranks across weeks ride the same doubled-midrank
    * identity over the (range, count) domain; with both doublings
    * S carries a fixed 4× unit that CANCELS in F — so A₁₆ = Σs²,
    * B₁₆ₙ = Σ_j(Σᵢ s)², and F_milli = (1000·(n−1)·B₁₆ₙ) div
    * (n·A₁₆ − B₁₆ₙ) is EXACT integer arithmetic end to end
    * (denominator ≥ 0 by Cauchy–Schwarz; df = (6, 6(n−1)),
    * asymptotic 5% critical 2.099).
    *
    * Scale design (100 TB): one fact collapse to the calendar-bounded
    * day axis; the rank self-joins are 7×7 per week and
    * domain×domain on the week-range frame (both calendar-bounded —
    * weeks ≤ span/7); output is a 7-row weekday frame + constants. */
  val q411Quade: QueryDef = {
    val K = 7
    QueryDef(
      "q411_quade",
      s"""WITH ${weekRanksSql("r2")},
         |rng AS (
         |  SELECT wk, max(rev) - min(rev) AS rg FROM b GROUP BY wk),
         |rdom AS (
         |  SELECT rg, CAST(count(*) AS BIGINT) AS c FROM rng GROUP BY rg),
         |rq AS (
         |  SELECT a.rg,
         |    2 * CAST(coalesce(sum(CASE WHEN x.rg < a.rg THEN x.c END), 0)
         |      AS BIGINT) + a.c + 1 AS q2
         |  FROM rdom a LEFT JOIN rdom x ON x.rg <= a.rg
         |  GROUP BY a.rg, a.c),
         |sframe AS (
         |  SELECT rk.wk, rk.wd,
         |    rq.q2 * (rk.r2 - ${K + 1}) AS s4
         |  FROM rk JOIN rng ON rng.wk = rk.wk JOIN rq ON rq.rg = rng.rg),
         |agg AS (
         |  SELECT CAST(count(DISTINCT wk) AS BIGINT) AS n,
         |    CAST(sum(CAST(s4 AS HUGEINT) * s4) AS HUGEINT) AS a16
         |  FROM sframe),
         |colsum AS (
         |  SELECT wd, CAST(sum(s4) AS BIGINT) AS sj4 FROM sframe
         |  GROUP BY wd),
         |bsum AS (
         |  SELECT CAST(sum(CAST(sj4 AS HUGEINT) * sj4) AS HUGEINT) AS b16n
         |  FROM colsum),
         |f AS (
         |  SELECT agg.n,
         |    CAST((1000 * (agg.n - 1) * bsum.b16n)
         |      // (agg.n * agg.a16 - bsum.b16n) AS BIGINT) AS f_milli
         |  FROM agg, bsum WHERE agg.n * agg.a16 - bsum.b16n > 0)
         |SELECT colsum.wd AS weekday, colsum.sj4 AS s_col4, f.n AS n_weeks,
         |  f.f_milli,
         |  CASE WHEN f.f_milli > 2099 THEN 1 ELSE 0 END AS reject_5pct
         |FROM colsum, f ORDER BY weekday""".stripMargin) { (s, dir) =>
      val (fullWk, blocks) = weekBlocks(s, dir)
      val b = blocks.ckpt() // block-join + range sides
      val rk = weekRanks(b, "r2")
      val rng = b.groupBy(col("wk"))
        .agg((max(col("rev")) - min(col("rev"))).as("rg"))
        .ckpt() // week-range frame: domain ranks + the sframe join
      val rdom = rng.groupBy(col("rg")).agg(count(lit(1)).as("c"))
      val rq = ScaleRank.withRunningSum(rdom, Seq.empty, Seq(col("rg")),
          col("c"), "cum")
        .select(col("rg"),
          (lit(2) * (col("cum") - col("c")) + col("c") + 1).as("q2"))
      val sframe = rk.join(rng, Seq("wk"))
        .join(broadcast(rq), Seq("rg"))
        .select(col("wk"), col("wd"),
          (col("q2") * (col("r2") - (K + 1))).as("s4"))
        .ckpt() // n×7 S frame: A, column sums, output
      val agg = sframe.agg(
        countDistinct(col("wk")).cast("bigint").as("n"),
        sum(col("s4").cast("decimal(38,0)") * col("s4")).as("a16"))
      val colsum = sframe.groupBy(col("wd"))
        .agg(sum(col("s4")).cast("bigint").as("sj4"))
        .ckpt() // 7-row weekday frame: B fold + output
      val bsum = colsum
        .agg(sum(col("sj4").cast("decimal(38,0)") * col("sj4")).as("b16n"))
      val f = agg.crossJoin(broadcast(bsum))
        .filter(expr("n * a16 - b16n > 0"))
        .select(col("n"),
          expr("CAST((1000 * (n - 1) * b16n) div (n * a16 - b16n) " +
            "AS BIGINT)").as("f_milli"))
      colsum.crossJoin(broadcast(f))
        .select(col("wd").as("weekday"), col("sj4").as("s_col4"),
          col("n").as("n_weeks"), col("f_milli"),
          when(col("f_milli") > 2099L, 1).otherwise(0).as("reject_5pct"))
        .orderBy("weekday")
    }
  }

  val all: Seq[QueryDef] =
    Seq(q379KruskalWallis, q382MiMatrix, q384CochranArmitage, q385KendallW,
      q388RunsTest, q391Friedman,
      q392MannKendall, q393WelchT, q394BrownForsythe, q395JarqueBera,
      q399AnsariBradley, q400MoodMedian,
      q407CramerVonMises, q408TukeyHsd, q411Quade, q415Icc,
      q418Dunn, q419Hellinger, q421BartelsRvn,
      q425HodgesLehmann, q427Cucconi, q428SignedRank,
      q403Grubbs,
      q359TailDependence, q363Jonckheere, q364Sinkhorn,
      q367AndersonDarling,
      q301Hbos, q313CovariateBalance, q317Wasserstein, q319Srm,
      q326CorrMatrix, q335SplitStratification, q336DkwBands,
      q339LargestRemainder, q342EnergyDistance,
      q71Profile, q106IqrOutliers, q116Histogram, q121FkAudit,
      q123ChisqIndependence, q127TrimmedStats, q129EquiDepth,
      q131Reconciliation, q136GapRanges, q143DriftTv, q172MadOutliers,
      q177MannWhitney, q179BootstrapCi, q182NeymanSample, q186Benford,
      q209ContractAudit, q224KsTest, q225Spearman, q226FdAudit,
      q252PermutationTest, q256KendallTau, q257Anova, q258Psi, q266Cuped,
      q268SelectivityAudit, q277VoptHistogram, q288BhFdr)
}
