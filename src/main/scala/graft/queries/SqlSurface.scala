package graft.queries

import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}

/** Raw-SQL entry points to the custom physical operators (r9 verdict
  * item 6): both custom operators were reachable only through the
  * DataFrame API; these two queries drive them from `spark.sql`
  * strings, proving the SQL surface a warehouse user would actually
  * type reaches [[graft.plans.TopKPerKeyExec]] (via the
  * [[graft.plans.RowNumberTopKRewrite]] idiom rule) and
  * [[graft.plans.AsofJoinExec]] (via the `asof_join` TVF). The
  * plan-shape assertions live in TopKPerKeySpec / AsofJoinSpec; the
  * results gate against the DuckDB oracle like every other query.
  */
object SqlSurface {

  /** q429 — the top-k-per-key SQL idiom: top-3 line items per return
    * flag by price. Written EXACTLY as a SQL user writes it
    * (row_number window + rn <= k filter); on a graft session the
    * optimizer plants TopKPerKey under the window, so the sort sees
    * ≤ k rows per key per partition instead of every row.
    *
    * Exactness: price collapses to integer cents via the q01
    * decimal-cast contract; the window order carries the
    * (orderkey, linenumber) unique tiebreaker, so row_number is
    * deterministic in both engines. */
  val q429SqlTopk: QueryDef = QueryDef(
    "q429_sql_topk",
    """SELECT l_returnflag, CAST(rn AS BIGINT) AS rn, l_orderkey,
      |  l_linenumber, price_cents
      |FROM (
      |  SELECT l_returnflag, l_orderkey, l_linenumber,
      |    CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)
      |      AS price_cents,
      |    row_number() OVER (PARTITION BY l_returnflag
      |      ORDER BY CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100
      |          AS BIGINT) DESC,
      |        l_orderkey, l_linenumber) AS rn
      |  FROM lineitem) t
      |WHERE rn <= 3
      |ORDER BY l_returnflag, rn""".stripMargin) { (s, dir) =>
    Tables.lineitem(s, dir).createOrReplaceTempView("sql429_lineitem")
    s.sql("""
      SELECT l_returnflag, CAST(rn AS BIGINT) AS rn, l_orderkey,
        l_linenumber, price_cents
      FROM (
        SELECT l_returnflag, l_orderkey, l_linenumber,
          CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)
            AS price_cents,
          row_number() OVER (PARTITION BY l_returnflag
            ORDER BY CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100
                AS BIGINT) DESC,
              l_orderkey, l_linenumber) AS rn
        FROM sql429_lineitem) t
      WHERE rn <= 3
      ORDER BY l_returnflag, rn""")
  }

  /** q430 — the as-of join as a SQL table-valued function: each
    * purchase matched to the latest click of the same user at or
    * before it (q53's semantics, per-event output instead of the
    * per-user rollup), driven entirely from a `spark.sql` string
    * through `asof_join(TABLE(l), TABLE(r), keys, lt, rt, tb)`.
    * The physical plan is ONE co-partitioned forward merge
    * (AsofJoinExec) — no range-join pair blow-up, no union window.
    *
    * Tie rule: among clicks sharing (user, ts), max event_id wins —
    * the TVF's tiebreak argument on the Spark side, the
    * (cts DESC, click_id DESC) rank in the oracle. */
  val q430SqlAsof: QueryDef = QueryDef(
    "q430_sql_asof",
    """WITH p AS (
      |  SELECT event_id AS purchase_id, user_id, ts AS pts
      |  FROM events WHERE event_type = 'purchase'),
      |c AS (
      |  SELECT user_id AS cuser, ts AS cts, value AS cval,
      |    event_id AS click_id
      |  FROM events WHERE event_type = 'click'),
      |m AS (
      |  SELECT p.purchase_id, c.cts, c.cval, c.click_id, p.pts,
      |    row_number() OVER (PARTITION BY p.purchase_id
      |      ORDER BY c.cts DESC, c.click_id DESC) AS rk
      |  FROM p LEFT JOIN c ON c.cuser = p.user_id AND c.cts <= p.pts)
      |SELECT purchase_id, click_id,
      |  CASE WHEN cts IS NOT NULL
      |    THEN CAST(epoch_us(pts) - epoch_us(cts) AS BIGINT) END AS gap_us,
      |  CAST(floor(cval * 100 + 0.5) AS BIGINT) AS cval_cents
      |FROM m WHERE rk = 1
      |ORDER BY purchase_id""".stripMargin) { (s, dir) =>
    val ev = Tables.events(s, dir)
    ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("pts"),
        col("event_id").as("purchase_id"))
      .createOrReplaceTempView("sql430_purchases")
    ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("cts"),
        col("value").as("cval"), col("event_id").as("click_id"))
      .createOrReplaceTempView("sql430_clicks")
    s.sql("""
      SELECT purchase_id, click_id,
        CASE WHEN cts IS NOT NULL
          THEN CAST(unix_micros(pts) - unix_micros(cts) AS BIGINT)
          END AS gap_us,
        CAST(floor(cval * 100 + 0.5) AS BIGINT) AS cval_cents
      FROM asof_join(TABLE(sql430_purchases), TABLE(sql430_clicks),
                     'user_id', 'pts', 'cts', 'click_id')
      ORDER BY purchase_id""")
  }

  val all: Seq[QueryDef] = Seq(q429SqlTopk, q430SqlAsof)
}
