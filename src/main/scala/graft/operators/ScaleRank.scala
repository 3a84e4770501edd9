package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact distributed rank — the 100 TB replacement for global (or
  * bounded-partition-key) `row_number`/`ntile` windows.
  *
  * A window like `ntile(4) OVER (ORDER BY x)` or
  * `row_number() OVER (PARTITION BY seg ...)` with a low-cardinality
  * `seg` plans as ONE sort task per partition value: at 100 TB that
  * task holds the whole table (or 1/5th of it) and dies. The classic
  * two-level scheme below computes the identical rank with every task
  * bounded by a range-partition chunk (~rows/P, P = shuffle
  * parallelism), independent of group cardinality:
  *
  *  1. `repartitionByRange(group ++ sort)` — clustered, ordered chunks;
  *     the range partitioner's sampled boundaries balance a dominant
  *     group across many partitions because the SORT columns still
  *     vary inside it.
  *  2. local `row_number` per (chunk, group) — each window task sees at
  *     most one chunk's rows.
  *  3. a (chunk, group) count aggregate — at most P rows PER GROUP, so
  *     the prefix-sum window over it is bounded by P, not by data —
  *     broadcast back as per-chunk offsets: rank = local + offset.
  *
  * The result is invariant to where the sampled boundaries land (the
  * global rank of a unique sort key does not depend on the chunking),
  * so the output is bit-stable across runs even though
  * `repartitionByRange` sampling is not.
  *
  * `ntile` then needs no second pass: with the group size n known,
  * SQL-standard ntile is a closed-form function of the rank
  * ([[ntileFromRank]]).
  */
object ScaleRank {

  /** Size-dispatch crossover (r13, guide §1.2/§2.4): below this
    * optimizer-estimated input size the two-level scheme is replaced by
    * the PLAIN window it emulates — same values (the two-level result
    * is provably invariant to chunk boundaries, and a window is the
    * 1-chunk special case), same output schema, but zero extra plan:
    * the two-level form costs a range-sampling pass, a range exchange,
    * a per-chunk aggregate and a broadcast join per call, which on a
    * small frame is pure scheduling overhead (measured at sf0.1:
    * 3 Exchanges + 1 sample job per call → 1 Exchange). The crossover
    * was MEASURED at sf0.1 on 32 cores: the ~11 MB (compressed) / 600k
    * row lineitem fact sorts faster two-level (q269: 2.6 s vs 3.8 s
    * single-task), while the ≤ 4 MB histogram / day-axis / dictionary
    * frames lose 3 Exchanges each and win big — so 4 MiB, deliberately
    * far below any one-task memory cliff (a 4 MB sort is
    * sub-second on one core at any scale). The estimate comes from optimizedPlan
    * stats (file-size-derived, deterministic per input; join-bearing
    * plans estimate multiplicatively large, which errs toward the
    * scale-safe path). Tunable via `spark.graft.scalerank.windowBytes`
    * (0 disables the fast path entirely). */
  private val WINDOW_BYTES_KEY = "spark.graft.scalerank.windowBytes"
  private val WINDOW_BYTES_DEFAULT: Long = 4L << 20

  private def smallInput(df: DataFrame): Boolean = {
    val thr = df.sparkSession.conf
      .get(WINDOW_BYTES_KEY, WINDOW_BYTES_DEFAULT.toString).toLong
    thr > 0 && df.queryExecution.optimizedPlan.stats.sizeInBytes <= thr
  }

  /** The single-window fast path may only fire when its result TYPE
    * provably matches the two-level form's (`sum(v) + coalesce(sum of
    * sums, 0L)` re-widens DECIMALs); long and double are closed under
    * both shapes. */
  private def sumTypeStable(df: DataFrame, valueCol: Column): Boolean =
    df.select(sum(valueCol)).schema.head.dataType match {
      case org.apache.spark.sql.types.LongType => true
      case org.apache.spark.sql.types.DoubleType => true
      case _ => false
    }

  /** Null-safe group key for the two-level paths (r14, ADVICE r13):
    * grouping, chunk-offset windows and the offset-attach join all key
    * on ONE struct-wrapped copy of the group columns instead of the
    * raw columns. Struct equality compares null fields as EQUAL (the
    * standard null-safe-join idiom), so the two-level scheme no longer
    * drops rows whose group key is NULL — a window treats NULL as an
    * ordinary partition value, and dispatch follows the size estimate,
    * so the old equi-join null semantics were a scale-dependent
    * divergence from the r13 fast path. Deliberately NOT a renamed
    * `<=>` condition join: that variant broke AQE's runtime reuse of
    * the (sampling-nondeterministic) range-exchange stage between the
    * local and offset sides and made multi-chunk results
    * run-unstable (measured on q342 at sf0.1); keeping the original
    * using-column broadcast-join shape preserves the stage dedup the
    * scheme's determinism rests on. Both dispatch arms also restore
    * the INPUT's column order (added columns appended) — pinned, with
    * the null-key cases, by ScaleRankDispatchSpec. */
  private val GKEY = "__sr_g"

  private def withGroupKey(df: DataFrame, groupCols: Seq[String]): (DataFrame, Seq[String]) =
    if (groupCols.isEmpty) (df, Nil)
    else (df.withColumn(GKEY, struct(groupCols.map(col): _*)), Seq(GKEY))

  /** Adds to `df` the exact 1-based row number `rkName` (LongType),
    * ordered by `sortCols` within each value of `groupCols` (empty =
    * one global ordering), plus the group row count `nName` — without
    * ever sorting a whole group in one task. `sortCols` must reach a
    * unique total order (include a tiebreaker) for a deterministic
    * result, exactly as the window form would require.
    */
  def withRowNumber(
      df: DataFrame,
      groupCols: Seq[String],
      sortCols: Seq[Column],
      rkName: String,
      nName: String): DataFrame = {
    if (smallInput(df)) {
      val w = Window.partitionBy(groupCols.map(col): _*).orderBy(sortCols: _*)
      val wAll = Window.partitionBy(groupCols.map(col): _*)
      // nName before rkName: the two-level path emits (…, n, rk)
      return df.withColumn(nName, count(lit(1)).over(wAll))
        .withColumn(rkName, row_number().over(w).cast("long"))
    }
    val pid = "__sr_pid"
    val lrk = "__sr_lrk"
    val cnt = "__sr_cnt"
    val off = "__sr_off"
    val (base, gcols) = withGroupKey(df, groupCols)
    val local = rangedWithPid(base, groupCols, sortCols, pid)
      .withColumn(lrk, row_number().over(
        Window.partitionBy((pid +: gcols).map(col): _*).orderBy(sortCols: _*))
        .cast("long"))
    // <= P rows per group: the prefix-sum window below is bounded by
    // the cluster's parallelism, never by the data
    val counts = local.groupBy((pid +: gcols).map(col): _*)
      .agg(count(lit(1)).as(cnt))
    val cw = Window.partitionBy(gcols.map(col): _*).orderBy(col(pid))
    val offs = counts
      .withColumn(off, coalesce(
        sum(col(cnt)).over(cw.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn(nName, sum(col(cnt)).over(
        cw.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .drop(cnt)
    // using-join on (pid, struct key) — both internal, dropped below,
    // so the INPUT's column order survives; the join/drop shape is
    // byte-identical to the pre-r14 form for the global case (see
    // withGroupKey's scaladoc for why that shape is load-bearing)
    local.join(broadcast(offs), pid +: gcols)
      .withColumn(rkName, col(lrk) + col(off))
      .drop((Seq(pid, lrk, off) ++ gcols): _*)
  }

  /** Adds the exact inclusive running sum of `valueCol` (ordered by
    * `sortCols` within each `groupCols` value) as `outName` — the
    * prefix-sum sibling of [[withRowNumber]], for
    * `sum(x) OVER (PARTITION BY lowCardKey ORDER BY ... ROWS UNBOUNDED
    * PRECEDING)` shapes that would otherwise sort a whole group in one
    * task. Same two-level scheme: local running sum per range chunk,
    * plus the broadcast sum of all earlier chunks of the group. Rows
    * tied on (group ++ sort) receive SOME permutation of the tie
    * group's prefix values, exactly as the window form does — use a
    * unique tiebreaker (or an order-invariant consumer like min/max)
    * for deterministic output, the same contract as the window. */
  def withRunningSum(
      df: DataFrame,
      groupCols: Seq[String],
      sortCols: Seq[Column],
      valueCol: Column,
      outName: String): DataFrame = {
    if (smallInput(df) && sumTypeStable(df, valueCol)) {
      val w = Window.partitionBy(groupCols.map(col): _*).orderBy(sortCols: _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      return df.withColumn(outName, sum(valueCol).over(w))
    }
    val pid = "__sr_pid"
    val lsum = "__sr_lsum"
    val csum = "__sr_csum"
    val off = "__sr_off"
    val (base, gcols) = withGroupKey(df, groupCols)
    val local = rangedWithPid(base, groupCols, sortCols, pid)
      .withColumn(lsum, sum(valueCol).over(
        Window.partitionBy((pid +: gcols).map(col): _*).orderBy(sortCols: _*)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val chunkSums = local.groupBy((pid +: gcols).map(col): _*)
      .agg(sum(valueCol).as(csum))
    val cw = Window.partitionBy(gcols.map(col): _*).orderBy(col(pid))
    val offs = chunkSums
      .withColumn(off, coalesce(
        sum(col(csum)).over(cw.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .drop(csum)
    local.join(broadcast(offs), pid +: gcols)
      .withColumn(outName, col(lsum) + col(off))
      .drop((Seq(pid, lsum, off) ++ gcols): _*)
  }

  /** Adds the exact running MAX of `valueCol` (ordered by `sortCols`
    * within each `groupCols` value) as `outName` — the prefix-max
    * sibling of [[withRunningSum]], serving the
    * `max(x) OVER (... ROWS UNBOUNDED PRECEDING [AND 1 PRECEDING])`
    * frontier/skyline shapes. `inclusive = false` gives the
    * strictly-preceding frame, whose first row per group is null
    * (empty prefix), exactly like the window form; `greatest` merges
    * the chunk-local max with the broadcast max of all earlier chunks
    * (it skips nulls, which is precisely the empty-prefix algebra). */
  def withRunningMax(
      df: DataFrame,
      groupCols: Seq[String],
      sortCols: Seq[Column],
      valueCol: Column,
      outName: String,
      inclusive: Boolean): DataFrame = {
    if (smallInput(df)) {
      val endRow = if (inclusive) Window.currentRow else -1L
      val w = Window.partitionBy(groupCols.map(col): _*).orderBy(sortCols: _*)
        .rowsBetween(Window.unboundedPreceding, endRow)
      return df.withColumn(outName, max(valueCol).over(w))
    }
    val pid = "__sr_pid"
    val lmax = "__sr_lmax"
    val cmax = "__sr_cmax"
    val off = "__sr_off"
    val endRow = if (inclusive) Window.currentRow else -1L
    val (base, gcols) = withGroupKey(df, groupCols)
    val local = rangedWithPid(base, groupCols, sortCols, pid)
      .withColumn(lmax, max(valueCol).over(
        Window.partitionBy((pid +: gcols).map(col): _*).orderBy(sortCols: _*)
          .rowsBetween(Window.unboundedPreceding, endRow)))
    val chunkMax = local.groupBy((pid +: gcols).map(col): _*)
      .agg(max(valueCol).as(cmax))
    val cw = Window.partitionBy(gcols.map(col): _*).orderBy(col(pid))
    val offs = chunkMax
      .withColumn(off,
        max(col(cmax)).over(cw.rowsBetween(Window.unboundedPreceding, -1)))
      .drop(cmax)
    local.join(broadcast(offs), pid +: gcols)
      .withColumn(outName, greatest(col(lmax), col(off)))
      .drop((Seq(pid, lmax, off) ++ gcols): _*)
  }

  /** Internal stage 1, exposed for the boundedness spec: range-cluster
    * on (group ++ sort) and record which chunk each row landed in.
    *
    * CHECKPOINTED (r14, correctness): the local ranks/sums and the
    * chunk-offset aggregate BOTH read this frame, and the scheme is
    * only exact when both observe the SAME chunk assignment —
    * `repartitionByRange` sampling is nondeterministic per execution.
    * Without the lineage cut that sameness rested on AQE's runtime
    * stage dedup, which holds for shallow plans but BREAKS on chained
    * two-level calls: q342 at sf0.1 (four chained running sums)
    * produced run-UNSTABLE, oracle-divergent moments on the r13 tree
    * (reproduced twice, ~2× off), invisible to the driver's gate
    * because correctness is only checked at the small SFs where one
    * chunk exists. The checkpoint materializes one chunking per call
    * — exactness by construction, not by optimizer luck.
    *
    * Cost: the checkpoint exists ONLY to freeze the chunk assignment,
    * and it pays for that twice. It persists the whole range-
    * partitioned input (every column, every row) in executor storage
    * on every two-level call. And as a local checkpoint it cuts the
    * lineage: a lost executor's blocks cannot be recomputed, so
    * losing an executor mid-query at 100 TB fails the query instead
    * of retrying the lost tasks. */
  private[graft] def rangedWithPid(
      df: DataFrame,
      groupCols: Seq[String],
      sortCols: Seq[Column],
      pidName: String): DataFrame = {
    import graft.CkptOps
    df.repartitionByRange((groupCols.map(col) ++ sortCols): _*)
      .withColumn(pidName, spark_partition_id())
      .ckpt()
  }

  /** SQL-standard `ntile(k)` as a closed-form expression over the
    * 1-based rank `rk` and group size `n` (both LongType): the first
    * `n mod k` tiles get `n div k + 1` rows, the rest `n div k` —
    * byte-identical to the window function's assignment under the same
    * total order. Integer divisions are routed through pmod
    * subtraction so the IEEE divide is always exact (numerator a
    * multiple of the divisor, quotient <= k). */
  def ntileFromRank(k: Int, rk: Column, n: Column): Column = {
    val kk = lit(k.toLong)
    val base = ((n - pmod(n, kk)) / kk).cast("long") // n div k
    val rem = pmod(n, kk)                            // n mod k
    val cut = rem * (base + 1) // rows 1..cut fill the k-sized... (base+1)-sized tiles
    // when n < k: base = 0, cut = n, so every row takes the first
    // branch and the base-divisor branch (div by zero) is never
    // evaluated (CaseWhen is lazy per row). safeBase == base whenever
    // the otherwise-branch runs (rk > cut ⇒ n ≥ k ⇒ base ≥ 1) — the
    // greatest() is a runtime no-op that makes the invariant visible
    // to DivisorSweepSpec's static prover; the oracle text needs no
    // twin because emitted values are bit-identical
    val inBig = rk - 1
    val inSmall = rk - cut - 1
    val safeBase = greatest(lit(1L), base)
    when(rk <= cut,
      ((inBig - pmod(inBig, base + 1)) / (base + 1)).cast("long") + 1)
      .otherwise(rem +
        ((inSmall - pmod(inSmall, safeBase)) / safeBase).cast("long") + 1)
  }
}
