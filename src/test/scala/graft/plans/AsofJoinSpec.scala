package graft.plans

import graft.TestSpark
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The native sort-merge as-of join: hand-computed match/tie/no-match
  * semantics, agreement with the relational last-value-window
  * formulation on the real events table, and the plan shape (merge
  * join node over exchanges, no pair explosion). */
class AsofJoinSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("inclusive match, latest-wins, per-key isolation, null on no-match") {
    val left = Seq((1L, 10L, "p1"), (1L, 20L, "p2"), (2L, 5L, "p3"))
      .toDF("k", "t", "tag")
    val right = Seq((1L, 5L, "c5"), (1L, 10L, "c10"), (1L, 15L, "c15"),
      (2L, 9L, "c9"))
      .toDF("k", "rt", "ctag")
    val got = Asof.join(left, right, Seq("k"), "t", "rt")
      .select(col("tag"), col("ctag"), col("rt"))
      .collect().map(r => (r.getString(0), r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2)))
      .sortBy(_._1)
    assert(got.toSeq == Seq(
      ("p1", "c10", 10L), // inclusive: rt == t matches
      ("p2", "c15", 15L), // latest at-or-before 20
      ("p3", null, -1L))) // key 2's only click is later -> no match
  }

  test("equal-time ties resolve by the declared tiebreaker, last wins") {
    val left = Seq((7L, 100L, "p")).toDF("k", "t", "tag")
    val right = Seq((7L, 100L, 1L, "first"), (7L, 100L, 3L, "third"),
      (7L, 100L, 2L, "second"))
      .toDF("k", "rt", "id", "ctag")
    val got = Asof.join(left, right, Seq("k"), "t", "rt", rightTiebreak = Seq("id"))
      .select("ctag").head().getString(0)
    assert(got == "third") // max id among the rt==t ties
  }

  test("agrees with the last-value window formulation on the driver events table") {
    val ev = graft.Tables.events(spark, "/root/testdata/sf0.001")
      .select(col("user_id"), col("ts"), col("event_type"),
        col("value"), col("event_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id").as("purchase_id"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
    val native = Asof.join(
      purchases, clicks, Seq("user_id"), "ts", "click_ts",
      rightTiebreak = Seq("click_id"))
      .select(col("purchase_id"), col("click_id"))
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSet

    // relational reference: union clicks+purchases, last click at or
    // before each purchase via a running last_value (q53's shape),
    // with clicks ordered before purchases at equal ts and max
    // click_id among equal-ts clicks (matching the native tie rule)
    val u = ev.filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id"), col("ts"),
        when(col("event_type") === "click", 0).otherwise(1).as("kind"),
        col("event_id"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("kind"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val expected = u
      .withColumn("last_click",
        last(when(col("kind") === 0, col("event_id")), ignoreNulls = true).over(w))
      .filter(col("kind") === 1)
      .select(col("event_id"), coalesce(col("last_click"), lit(-1L)))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(native == expected)
  }

  test("plan: merge-pass exec over one exchange+sort per side, no pair explosion") {
    val left = Seq((1L, 10L, "p")).toDF("k", "t", "tag")
    val right = Seq((1L, 5L, "c")).toDF("k", "rt", "ctag")
    val df = Asof.join(left, right, Seq("k"), "t", "rt")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("AsofJoin "), p) // AsofJoinExec prints with Exec stripped
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 2, p)
    assert(df.count() == 1)
  }

  test("asof_join TVF: a raw SQL string reaches AsofJoinExec (q430 path)") {
    Seq((1L, 10L, "p1"), (1L, 20L, "p2"), (2L, 5L, "p3"))
      .toDF("k", "t", "tag").createOrReplaceTempView("asof_tvf_l")
    Seq((1L, 5L, 100L, "c5"), (1L, 10L, 101L, "c10"),
      (1L, 15L, 102L, "c15"), (2L, 9L, 103L, "c9"))
      .toDF("k", "rt", "id", "ctag").createOrReplaceTempView("asof_tvf_r")
    val df = spark.sql("""
      SELECT tag, ctag, rt
      FROM asof_join(TABLE(asof_tvf_l), TABLE(asof_tvf_r),
                     'k', 't', 'rt', 'id')""")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("AsofJoin "), s"SQL plan missed the operator:\n$p")
    val got = df.collect()
      .map(r => (r.getString(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2)))
      .sortBy(_._1)
    assert(got.toSeq == Seq(
      ("p1", "c10", 10L), ("p2", "c15", 15L), ("p3", null, -1L)))
  }

  test("asof_join TVF: self-join TABLE(v) twice — analyzer dedup keeps sides distinct") {
    // ADVICE r10: ResolveAsofJoinByName no longer silently re-aliases
    // overlapping sides post-analysis; it relies on the analyzer's
    // DeduplicateRelations having renewed the right child's exprIds
    // and throws if they still overlap. This pins the self-join path:
    // both TABLE() args name the SAME view and the join must resolve,
    // plan AsofJoinExec, and match each row to itself (latest rt <= t).
    Seq((1L, 10L, 100L), (1L, 20L, 101L), (2L, 5L, 102L))
      .toDF("k", "t", "id").createOrReplaceTempView("asof_tvf_self")
    // output carries BOTH sides' columns (duplicate names — select *)
    val df = spark.sql("""
      SELECT *
      FROM asof_join(TABLE(asof_tvf_self), TABLE(asof_tvf_self),
                     'k', 't', 't', 'id')""")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("AsofJoin "), s"self-join missed the operator:\n$p")
    // each left row's as-of match at time t is its own right twin
    val got = df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).sortBy(_._2)
    assert(got.toSeq == Seq(
      (2L, 5L, 102L, 2L, 5L, 102L),
      (1L, 10L, 100L, 1L, 10L, 100L),
      (1L, 20L, 101L, 1L, 20L, 101L)))
  }

  test("asof_join TVF: string view-name arguments work and ties use the tiebreak") {
    Seq((7L, 100L, "p")).toDF("k", "t", "tag")
      .createOrReplaceTempView("asof_tvf_l2")
    Seq((7L, 100L, 1L, "first"), (7L, 100L, 3L, "third"),
      (7L, 100L, 2L, "second"))
      .toDF("k", "rt", "id", "ctag").createOrReplaceTempView("asof_tvf_r2")
    val got = spark.sql(
      "SELECT ctag FROM asof_join('asof_tvf_l2', 'asof_tvf_r2', " +
        "'k', 't', 'rt', 'id')").head().getString(0)
    assert(got == "third")
  }
}
