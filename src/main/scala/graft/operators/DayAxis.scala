package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft._

/** Memoized calendar day-axis collapses shared across the forecast /
  * profile / event / finance-audit query families.
  *
  * ~30 sequential/distributional statistics first collapse `orders`
  * to one row per order date; without sharing, every one of them
  * re-scans the fact table and re-checkpoints an identical
  * ≤|calendar| frame — the same duplication [[graft.FrameCache]]
  * removed for the graph edge lists in round 6. On a cluster this is
  * the canonical "daily revenue" materialized view: derive once per
  * (session, dataset), reuse everywhere. Inside `Ckpt.withAudit` the
  * cache is bypassed, so plan-audit sweeps still record each query's
  * full lineage including the fact-scan collapse.
  *
  * Two rounding paths exist with separately committed oracle hashes,
  * so they stay separate cached frames — do NOT unify them:
  *  - [[revCents]]: DECIMAL(12,2)*100 → BIGINT (exact integer cents)
  *  - [[centsFloor]]: floor(x*100 + 0.5) on the double (half-up)
  */
object DayAxis {

  /** (d DATE, rev BIGINT): exact daily revenue in integer cents via
    * the DECIMAL(12,2)*100 path. Checkpointed, memoized per
    * (session, dataset dir). */
  def revCents(s: SparkSession, dir: String): DataFrame =
    FrameCache.getOrBuild(s, s"dayRevCents:$dir") {
      Tables.orders(s, dir)
        .groupBy(col("o_orderdate").cast("date").as("d"))
        .agg(sum((col("o_totalprice").cast("decimal(12,2)") * 100)
          .cast("bigint")).cast("bigint").as("rev"))
        .ckpt() // shared day axis: one fact collapse for the family
    }

  /** [[revCents]] keyed by epoch days (BIGINT) instead of DATE — the
    * form the regression/window shapes difference on. Dates map 1:1
    * to epoch days, so the grouping is identical and this is a free
    * projection over the cached frame. */
  def revCentsEpoch(s: SparkSession, dir: String): DataFrame =
    revCents(s, dir).select(
      datediff(col("d"), lit("1970-01-01")).cast("bigint").as("d"),
      col("rev"))

  /** The DuckDB twin of [[revCents]]: the `daily` CTE
    * (d DATE, `rev` BIGINT), named `rev` unless a query reads it
    * under another name. */
  def revCentsSql(rev: String = "rev"): String =
    s"""daily AS (
       |  SELECT CAST(o_orderdate AS DATE) AS d,
       |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
       |      AS BIGINT)) AS BIGINT) AS $rev
       |  FROM orders GROUP BY 1)""".stripMargin

  /** The DuckDB twin of [[revCentsEpoch]]: the `daily` CTE keyed by
    * epoch day (`day` BIGINT, `rev` BIGINT). */
  def revCentsEpochSql(day: String = "d", rev: String = "rev"): String =
    s"""daily AS (
       |  SELECT CAST(date_diff('day', DATE '1970-01-01',
       |                        CAST(o_orderdate AS DATE)) AS BIGINT) AS $day,
       |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
       |        AS BIGINT)) AS BIGINT) AS $rev
       |  FROM orders GROUP BY 1)""".stripMargin

  /** Numbers a day frame t = 1..n in day order (plus its row count
    * `n_ax`) — the Spark side of [[axSql]]. */
  def numbered(daily: DataFrame): DataFrame =
    ScaleRank.withRowNumber(daily, Seq.empty, Seq(col("d")), "t", "n_ax")

  /** The `ax` CTE over `daily`: (t BIGINT, `cols`), t = 1..n in day
    * order — the DuckDB twin of [[numbered]]. */
  def axSql(cols: String = "rev"): String =
    s"""ax AS (
       |  SELECT CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS t, $cols
       |  FROM daily)""".stripMargin

  /** (day DATE, cents BIGINT): daily revenue in cents via
    * floor(x*100 + 0.5) on the raw double — the half-up rounding
    * path. Kept distinct from [[revCents]] (different rounding,
    * different committed hashes). */
  def centsFloor(s: SparkSession, dir: String): DataFrame =
    FrameCache.getOrBuild(s, s"dayCentsFloor:$dir") {
      Tables.orders(s, dir)
        .groupBy(col("o_orderdate").cast("date").as("day"))
        .agg(sum(floor(col("o_totalprice") * 100 + 0.5).cast("bigint"))
          .as("cents"))
        .ckpt() // shared day axis (floor-rounding path)
    }
}
