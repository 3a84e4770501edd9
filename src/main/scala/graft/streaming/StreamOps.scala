package graft.streaming

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface — the streaming twins of the batch
  * operators (SURVEY.md §7.2 Phase 3 "streaming readiness"):
  *
  *  - the reference's incremental anti-join load (J1,
  *    data_manager.py:172–201) becomes watermarked streaming dedup on
  *    the surrogate key: state holds keys only within the lateness
  *    horizon instead of the whole history (the scalable version of
  *    "existing keys");
  *  - the per-file batch accumulation becomes a file-source stream
  *    (each arriving file is an epoch — exactly the reference's
  *    process-new-files loop, data_manager.py:105–141, but continuous);
  *  - tumbling counts / sessionization mirror [[graft.operators.EventOps]]
  *    q52/q51 with watermark-bounded state.
  *
  * Every transform takes a (possibly streaming) DataFrame so tests
  * drive them with MemoryStream and production wires `readStream` file
  * sources; none of the logic is source-specific.
  *
  * Scale design: stateful ops key their state by the shuffle key
  * (surrogate_key / window / user_id / event_type), so state is
  * distributed with the partitioning; watermarks bound state size —
  * nothing grows with stream length. The global dashboard monitors are
  * the exception by design: one key, calendar-bounded state (see
  * [[orderedFold]]).
  */
object StreamOps {

  /** Streaming incremental dedup (J1's streaming form): keep the first
    * arrival of each key, with state bounded by the watermark. */
  def dedupByKey(df: DataFrame, keyCol: String, tsCol: String, delay: String): DataFrame =
    df.withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark(keyCol)

  /** Streaming vocabulary-novelty rate — q148's first-appearance
    * counting as a continuous monitor: explode tokens, keep each
    * token's FIRST arrival (watermarked streaming dedup), count the
    * survivors per tumbling window. The output is "new vocabulary per
    * window" — the live version of the Heaps-law curve, the signal
    * that an ingest source has gone stale (novelty → 0) or feral
    * (novelty spike). Two chained stateful operators (dedup → windowed
    * count), both watermark-bounded; a token recurring later than the
    * dedup horizon recounts — the documented state-bound tradeoff. */
  def vocabNovelty(docs: DataFrame, windowLen: String, delay: String): DataFrame =
    docs.select(col("ts"), explode(split(col("text"), " ")).as("tok"))
      .withWatermark("ts", delay)
      .dropDuplicatesWithinWatermark("tok")
      .groupBy(window(col("ts"), windowLen).as("w"))
      .agg(count(lit(1)).as("n_new_types"))
      .select(col("w.start").as("window_start"), col("n_new_types"))

  /** Watermarked tumbling-window counts (streaming twin of q52). */
  def tumblingCounts(df: DataFrame, tsCol: String, windowLen: String, delay: String): DataFrame =
    df.withWatermark(tsCol, delay)
      .groupBy(window(col(tsCol), windowLen).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).as("total"))
      .select(
        col("w.start").as("window_start"),
        col("event_type"), col("n"),
        col("total").cast("double").as("total"))

  /** Streaming OHLC candlestick bars (q156's streaming twin): per
    * (event_type, tumbling bar) the open/high/low/close in exact
    * milli-units plus volume and trade count. Open/close are
    * `min_by`/`max_by` over the total order (ts, event_id) — both are
    * declarative aggregates, so partials merge across triggers and the
    * bar finalizes exactly once when the watermark passes its end.
    * State per live bar is O(1) (six scalars), the streaming-friendly
    * property that makes candlesticks the canonical market-data
    * stream aggregate. */
  def ohlcBars(df: DataFrame, tsCol: String, windowLen: String, delay: String): DataFrame =
    df.withColumn("v_m", floor(col("value") * 1000).cast("bigint"))
      .withColumn("ord", struct(col(tsCol), col("event_id")))
      .withWatermark(tsCol, delay)
      .groupBy(window(col(tsCol), windowLen).as("w"), col("event_type"))
      .agg(
        min_by(col("v_m"), col("ord")).as("open_m"),
        max(col("v_m")).as("high_m"),
        min(col("v_m")).as("low_m"),
        max_by(col("v_m"), col("ord")).as("close_m"),
        sum(col("v_m")).as("vol_m"),
        count(lit(1)).as("n_trades"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("open_m"), col("high_m"), col("low_m"), col("close_m"),
        col("vol_m"), col("n_trades"))

  /** Streaming VWAP bars (q192's streaming twin, on the event feed):
    * per (event_type, tumbling bar) the volume-weighted average
    * price, with `value` as the price in exact milli-units and the
    * JSON `props.k` field as the fill size. Both sums are
    * declarative aggregates (partials merge across triggers; O(1)
    * state per live bar — two longs and a count) and the single
    * non-negative integral division happens at emit, so the
    * finalized bar is bit-identical to the batch aggregation over
    * the same rows. Rows with missing/non-numeric/zero size drop,
    * mirroring the try_cast-null batch semantics. */
  def vwapBars(df: DataFrame, tsCol: String, windowLen: String, delay: String): DataFrame =
    df.withColumn("p_m", floor(col("value") * 1000).cast("bigint"))
      .withColumn("k", expr("try_cast(get_json_object(props, '$.k') AS BIGINT)"))
      .filter(col("k").isNotNull && col("k") > 0)
      .withWatermark(tsCol, delay)
      .groupBy(window(col(tsCol), windowLen).as("w"), col("event_type"))
      .agg(sum(col("p_m") * col("k")).as("notional_m"),
        sum(col("k")).as("qty"),
        count(lit(1)).as("n_fills"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("qty"), col("notional_m"),
        expr("notional_m div qty").as("vwap_m"), col("n_fills"))

  /** Streaming event-mix entropy monitor (q199's streaming sibling at
    * the feed grain): per tumbling window, the Shannon entropy of the
    * event-type mix in milli-nats. A healthy feed hovers near its
    * habitual mix entropy; a stuck producer (one type flooding)
    * crashes it toward 0 and a fanout bug (types it never emits)
    * raises it — one number per window that catches both. State per
    * live window is five counters; the ln chain runs at emit in the
    * same literal association order as the batch q199 expression, so
    * finalized windows agree bit-for-bit with the batch aggregation
    * over the same rows. */
  def entropyMonitor(df: DataFrame, tsCol: String, windowLen: String, delay: String): DataFrame =
    df.withWatermark(tsCol, delay)
      .groupBy(window(col(tsCol), windowLen).as("w"))
      .agg(
        count(when(col("event_type") === "click", 1)).as("c1"),
        count(when(col("event_type") === "error", 1)).as("c2"),
        count(when(col("event_type") === "purchase", 1)).as("c3"),
        count(when(col("event_type") === "signup", 1)).as("c4"),
        count(when(col("event_type") === "view", 1)).as("c5"),
        count(lit(1)).as("n"))
      .select(col("w.start").as("window_start"), col("n"),
        expr(
          """CAST(floor(-1000.0 * (
            |  (((CASE WHEN c1 > 0 THEN (CAST(c1 AS DOUBLE) / n) * ln(CAST(c1 AS DOUBLE) / n) ELSE 0.0d END
            |    + CASE WHEN c2 > 0 THEN (CAST(c2 AS DOUBLE) / n) * ln(CAST(c2 AS DOUBLE) / n) ELSE 0.0d END)
            |    + CASE WHEN c3 > 0 THEN (CAST(c3 AS DOUBLE) / n) * ln(CAST(c3 AS DOUBLE) / n) ELSE 0.0d END)
            |    + CASE WHEN c4 > 0 THEN (CAST(c4 AS DOUBLE) / n) * ln(CAST(c4 AS DOUBLE) / n) ELSE 0.0d END)
            |    + CASE WHEN c5 > 0 THEN (CAST(c5 AS DOUBLE) / n) * ln(CAST(c5 AS DOUBLE) / n) ELSE 0.0d END))
            |  AS BIGINT)""".stripMargin).as("h_milli"))

  /** Streaming SLO burn monitor (q219's per-window half): per
    * tumbling window the error rate in ppm and the burn-rate
    * multiple against the 2.5% SLO — the alerting signal (a window
    * burning at >1,000,000 ppm eats budget faster than the month
    * replenishes it). Cumulative budget accounting stays batch-side
    * (q219): a monotone total over all history is exactly what a
    * watermarked append stream cannot re-emit, and the alert only
    * needs the window rate. State per live window is two counters;
    * finalized windows agree bit-for-bit with the batch aggregate
    * over the same rows (integer counts, non-negative floor-divs). */
  def sloBurnMonitor(df: DataFrame, tsCol: String, windowLen: String, delay: String): DataFrame =
    df.withWatermark(tsCol, delay)
      .groupBy(window(col(tsCol), windowLen).as("w"))
      .agg(count(lit(1)).as("n"),
        count(when(col("event_type") === "error", 1)).as("errs"))
      .select(col("w.start").as("window_start"), col("n"), col("errs"),
        expr("(1000000 * errs) div n").as("err_ppm"),
        expr("(1000000 * errs * 40) div n").as("burn_rate_ppm"))

  /** Streaming conformal out-of-band monitor — the streaming twin of
    * [[graft.operators.Learn.q235Conformal]]: a batch-fit conformal
    * model `(seg, yhat, qhat_cents)` broadcasts into the stream
    * (stream–static join, no state), each row is flagged when
    * |cents − ŷ| > q̂ — outside the 90%-coverage band — and a
    * watermarked tumbling window counts the violation rate per
    * segment. Under exchangeability the rate hovers at ≤ 10% ppm by
    * the conformal guarantee; a sustained excess IS the
    * distribution-shift alarm, with no tuning knob beyond the batch
    * fit's miscoverage level. Money uses the same half-up-cents floor
    * as the batch gate, so stream and batch decisions agree
    * row-for-row (pinned in StreamOpsSpec). */
  def conformalMonitor(df: DataFrame, model: DataFrame,
      windowLen: String, delay: String): DataFrame =
    df.withColumn("cents", expr("CAST(floor(amount * 100 + 0.5) AS BIGINT)"))
      .join(broadcast(model), Seq("seg"))
      .withColumn("oob",
        when(abs(col("cents") - col("yhat")) > col("qhat_cents"), 1L)
          .otherwise(0L))
      .withWatermark("ts", delay)
      .groupBy(window(col("ts"), windowLen).as("w"), col("seg"))
      .agg(count(lit(1)).as("n"), sum(col("oob")).as("n_out"))
      .select(col("w.start").as("window_start"), col("seg"), col("n"),
        col("n_out"), expr("(1000000 * n_out) div n").as("out_ppm"))

  /** Streaming VARIANT extraction (q86's streaming twin): each JSON
    * payload is parsed ONCE into the binary variant encoding on
    * arrival — the scale path when the same payload feeds several
    * probes — then `try_variant_get` probes ride a watermarked
    * tumbling aggregate. Malformed JSON and non-numeric fields
    * null out exactly as in the batch path (try_ semantics), so
    * batch/stream agreement is testable row-for-row. */
  def variantWindowed(
      df: DataFrame, tsCol: String, windowLen: String, delay: String): DataFrame =
    df.withColumn("v", try_parse_json(col("props")))
      .withColumn("k", expr("try_variant_get(v, '$.k', 'bigint')"))
      .withWatermark(tsCol, delay)
      .groupBy(window(col(tsCol), windowLen).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), count(col("k")).as("n_k"), sum(col("k")).as("sum_k"))
      .select(col("w.start").as("window_start"),
        col("event_type"), col("n"), col("n_k"), col("sum_k"))

  /** Watermarked sliding-window counts (streaming twin of q72): each
    * event contributes to windowLen/slide overlapping windows, and a
    * window finalizes when the watermark passes its END — so the
    * overlap costs state (width/slide live windows per key), never
    * recomputation. */
  def slidingCounts(
      df: DataFrame,
      tsCol: String,
      windowLen: String,
      slide: String,
      delay: String): DataFrame =
    df.withWatermark(tsCol, delay)
      .groupBy(window(col(tsCol), windowLen, slide).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).as("total"))
      .select(
        col("w.start").as("window_start"),
        col("event_type"), col("n"),
        col("total").cast("double").as("total"))

  /** Streaming heavy hitters — the streaming twin of q67's
    * Misra–Gries pass, and the reason the batch sketch was built
    * MERGEABLE ([[graft.operators.Sketches.MisraGries]], Agarwal et
    * al. PODS'12): the same bounded Map state updates per arrival in
    * `mapGroupsWithState`, so the guarantee carries over verbatim —
    * after n arrivals in a group, every item with true frequency
    * > n/(k+1) is present in the emitted summary and estimates
    * undercount by at most n/(k+1). State is O(k) per group forever,
    * independent of stream length. Emits the current summary per
    * group each trigger (Update mode). */
  def heavyHitters(
      spark: SparkSession,
      pairs: Dataset[(String, String)], // (group, item)
      k: Int): Dataset[(String, Map[String, Long])] = {
    import spark.implicits._
    val mg = graft.operators.Sketches.MisraGries(k)
    pairs.groupByKey(_._1)
      .mapGroupsWithState[Map[String, Long], (String, Map[String, Long])](
        GroupStateTimeout.NoTimeout) { (group, rows, state) =>
        val updated = rows.foldLeft(state.getOption.getOrElse(mg.zero)) {
          (buf, r) => mg.reduce(buf, r._2)
        }
        state.update(updated)
        group -> updated
      }
  }

  /** Streaming count-min grid (q97's streaming twin): the d×w counter
    * grid per tumbling window, built by the same engine-portable
    * bucket expressions as the batch sketch
    * ([[graft.operators.Sketches.withCmsBuckets]]). Because the grid
    * is a pure sum, the streaming aggregate IS the sketch merge —
    * state per window is bounded at d·w counters no matter how many
    * tokens arrive, and a closed window's grid equals the batch grid
    * over the same rows (StreamOpsSpec pins the agreement). Point
    * estimates probe the emitted grid exactly as in q97: min over a
    * token's d buckets. */
  def countMinWindowed(
      df: DataFrame, // needs (tok, ts)
      tsCol: String, windowLen: String, delay: String, d: Int): DataFrame =
    graft.operators.Sketches.withCmsBuckets(df, d)
      .withWatermark(tsCol, delay)
      .groupBy(window(col(tsCol), windowLen).as("w"), col("r"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("w.start").as("window_start"), col("r"), col("bucket"), col("cnt"))

  /** File-source stream over a directory of parquet event files — the
    * continuous version of the reference's new-files loop. File
    * streams cannot infer a schema, so one batch footer read of the
    * directory decides which of the two driver event layouts is on
    * disk (see [[graft.Tables.events]]): TIMESTAMP(NANOS) streams as
    * raw longs (legacy.parquet.nanosAsLong) rebuilt with exact
    * integral division; TIMESTAMP(MICROS) streams as TIMESTAMP_NTZ
    * and the UTC session casts it wall-clock-identically.
    *
    * A directory that is EMPTY at stream definition (the standard
    * start-reader-before-producers pattern) has no footer to sniff:
    * fall back to the legacy nanos layout rather than throwing, so
    * the stream can be declared first and fed later. */
  def eventsFileStream(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val nanosLayout =
      try {
        val onDisk = spark.read.parquet(dir).schema
        onDisk("ts").dataType == org.apache.spark.sql.types.LongType
      } catch {
        case _: org.apache.spark.sql.AnalysisException => true
      }
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      if (nanosLayout)
        "event_id BIGINT, ts BIGINT, user_id BIGINT, event_type STRING, value DOUBLE, props STRING"
      else
        "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, event_type STRING, value DOUBLE, props STRING")
    val raw = spark.readStream.schema(schema).parquet(dir)
    if (nanosLayout) raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else raw.withColumn("ts", col("ts").cast("timestamp"))
  }

  /** Gap-based sessionization via the DECLARATIVE `session_window`
    * aggregate — the engine-native dual of [[sessionize]]'s
    * flatMapGroupsWithState build. Same semantics (sessions close
    * after `gap` of user inactivity; count/sum/duration per session)
    * but the state machine lives inside Spark's session-window
    * operator: partials merge, windows coalesce on overlap, and the
    * watermark retires state — no hand-written state class to
    * maintain. Keep [[sessionize]] where per-event custom logic must
    * run inside the session (its reason to exist); use THIS form when
    * the session reduces to declarative aggregates, because it
    * map-side-combines and AQE-plans like any other aggregation.
    * StreamOpsSpec pins both forms to identical session outputs. */
  def sessionizeDeclarative(df: DataFrame, tsCol: String, gap: String, delay: String): DataFrame =
    df.withWatermark(tsCol, delay)
      .groupBy(col("user_id"), session_window(col(tsCol), gap).as("w"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value")).as("total_value"))
      .select(col("user_id"),
        col("n_events"),
        (unix_micros(col("w.end")) - unix_micros(col("w.start")))
          .as("span_us"),
        col("total_value"))

  final case class SessionEvent(user_id: Long, ts: java.sql.Timestamp, value: Double)
  final case class SessionState(
      start_us: Long, last_us: Long, n_events: Long, total_value: Double)
  final case class SessionOut(
      user_id: Long, n_events: Long, duration_us: Long, total_value: Double)

  /** Gap-based streaming sessionization via flatMapGroupsWithState —
    * the custom-state path (streaming twin of q51). A session closes
    * when event time passes its last event by `gapUs` (event-time
    * timeout), emitting one summary row. */
  def sessionize(spark: SparkSession, events: Dataset[SessionEvent], gapUs: Long): Dataset[SessionOut] = {
    import spark.implicits._

    def fn(userId: Long, rows: Iterator[SessionEvent],
        state: GroupState[SessionState]): Iterator[SessionOut] = {
      if (state.hasTimedOut) {
        val s = state.get
        state.remove()
        Iterator.single(SessionOut(userId, s.n_events, s.last_us - s.start_us, s.total_value))
      } else {
        var out = List.empty[SessionOut]
        // arrival order within a batch is not guaranteed — sort by time
        val sorted = rows.toSeq.sortBy(e => (micros(e.ts), e.value))
        var cur = state.getOption
        sorted.foreach { e =>
          val us = micros(e.ts)
          cur match {
            // late events admitted by the watermark can predate the
            // session state — extend the span in both directions, never
            // move last_us backward (a backward write would corrupt
            // durations and mis-split on the next gap check)
            case Some(s) if us - s.last_us <= gapUs =>
              cur = Some(s.copy(
                start_us = math.min(s.start_us, us),
                last_us = math.max(s.last_us, us),
                n_events = s.n_events + 1,
                total_value = s.total_value + e.value))
            case Some(s) =>
              out ::= SessionOut(userId, s.n_events, s.last_us - s.start_us, s.total_value)
              cur = Some(SessionState(us, us, 1, e.value))
            case None =>
              cur = Some(SessionState(us, us, 1, e.value))
          }
        }
        cur.foreach { s =>
          state.update(s)
          state.setTimeoutTimestamp(s.last_us / 1000L + gapUs / 1000L)
        }
        out.reverseIterator
      }
    }

    events
      .withWatermark("ts", "1 hour")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(fn)
  }

  // full microsecond precision: Timestamp.getTime is millis-only
  private def micros(t: java.sql.Timestamp): Long =
    t.getTime / 1000 * 1000000L + t.getNanos / 1000L

  private val HourUs = 3600000000L
  private val DayUs = 86400000000L

  /** The event-ordered fold the in-order monitors below run on: a
    * 1-hour watermark on `ts`, one group per `key`, and per trigger the
    * group's new events sorted by (ts, event_id) and folded through
    * `step` from the stored state (`init` for a new key). `step` emits
    * output rows through its last argument; the folded state is stored
    * once per trigger and never times out.
    *
    * Arrival contract: a monitor equals its batch twin when no event
    * arrives behind, in (ts, event_id) order, an event of an EARLIER
    * trigger. The sort orders one trigger's events only, and the
    * watermark admits events up to an hour late, so a late event lands
    * in a later trigger and is folded after events that follow it in
    * time. Monitors whose state such an event would corrupt reject it
    * ([[dayFold]], [[hedgeMonitor]], [[obfMonitor]]).
    *
    * The monitors keyed `_ => 0L` compute one global series (a
    * portfolio, a day-revenue series), so they are one key by
    * construction: each trigger folds every new event in ONE task, and
    * their state is bounded by the calendar (a few scalars, or one entry
    * per closed day) rather than by event volume. Sharding them would
    * change the statistic; the per-trigger work is one sort of that
    * trigger's events. */
  private def orderedFold[K: Encoder, S: Encoder, O: Encoder](
      events: Dataset[AsofEvent], key: AsofEvent => K, init: S)(
      step: (K, S, AsofEvent, O => Unit) => S): Dataset[O] = {
    def fn(k: K, rows: Iterator[AsofEvent], state: GroupState[S]): Iterator[O] = {
      val out = List.newBuilder[O]
      val emit: O => Unit = out += _
      val folded = rows.toSeq.sortBy(e => (micros(e.ts), e.event_id))
        .foldLeft(state.getOption.getOrElse(init))(step(k, _, _, emit))
      state.update(folded)
      out.result().iterator
    }
    events
      .withWatermark("ts", "1 hour")
      .groupByKey(key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(fn)
  }

  /** Fail the query when event `e` belongs to a `unit` (day, hour)
    * before the `open` one: folding it would reopen a closed period. */
  private def requireInOrder(unit: String, e: AsofEvent, p: Long, open: Long): Unit =
    if (p < open)
      throw new IllegalStateException(
        s"$unit-close contract violated: event ${e.event_id} is for " +
          s"$unit $p but $unit $open already opened")

  /** A [[dayFold]] state: the open day, its quantized value sum so far,
    * and the monitor's own state over the days already closed. */
  final case class DayState[S](day: Long, sum: Long, closed: S)

  /** [[orderedFold]] for the day-close monitors: each event adds
    * floor(value · `scale` + 0.5) (cents for 100, milli for 1000) to its
    * UTC day's sum, and the first event of a LATER day closes the open
    * day through `close(key, day, sum, state, emit)`. The newest day
    * stays open until a later day's event arrives.
    *
    * The in-order day-close contract is enforced: an event for a day
    * before the open one (one the watermark admits into a later
    * trigger) would reopen a closed day and fold it twice, so it fails
    * the query with "day-close contract violated". */
  private def dayFold[K: Encoder, S <: Product: TypeTag, O: Encoder](
      events: Dataset[AsofEvent], key: AsofEvent => K, init: S, scale: Double = 100)(
      close: (K, Long, Long, S, O => Unit) => S): Dataset[O] = {
    implicit val stateEnc: Encoder[DayState[S]] = Encoders.product[DayState[S]]
    orderedFold[K, DayState[S], O](events, key, DayState(Long.MinValue, 0L, init)) {
      (k, st, e, emit) =>
        val d = micros(e.ts) / DayUs
        requireInOrder("day", e, d, st.day)
        val open =
          if (d == st.day) st
          else if (st.day == Long.MinValue) st.copy(day = d)
          else DayState(d, 0L, close(k, st.day, st.sum, st.closed, emit))
        open.copy(sum = open.sum + math.floor(e.value * scale + 0.5).toLong)
    }
  }

  final case class AsofEvent(
      user_id: Long, ts: java.sql.Timestamp, event_type: String,
      value: Double, event_id: Long)
  final case class ClickState(us: Long, value: Double, event_id: Long)
  final case class AsofMatch(
      user_id: Long, purchase_id: Long, purchase_us: Long,
      click_us: Option[Long], click_val: Option[Double], gap_us: Option[Long])

  /** Streaming as-of enrich (twin of q53): each purchase is matched to
    * the latest click of the same user at or before it. State per user
    * is O(1) — just the best click seen — keyed by the shuffle key and
    * dropped `ttl` past the watermark, so total state is bounded by the
    * active-user set, not stream length.
    *
    * Tie rule matches the batch query: clicks sort before a purchase at
    * the same timestamp (inclusive match), and among clicks sharing a
    * timestamp the max event_id wins. Agreement with the batch as-of
    * holds for in-order arrival (within a batch, rows are sorted by
    * event time; a cross-batch late click cannot retro-match purchases
    * already emitted — the streaming-vs-batch tradeoff inherent to
    * append-mode enrichment). */
  def asofEnrich(spark: SparkSession, events: Dataset[AsofEvent],
      ttlMs: Long = 3600000L): Dataset[AsofMatch] = {
    import spark.implicits._

    def fn(userId: Long, rows: Iterator[AsofEvent],
        state: GroupState[ClickState]): Iterator[AsofMatch] = {
      if (state.hasTimedOut) { state.remove(); Iterator.empty }
      else {
        val sorted = rows.toSeq.sortBy(e =>
          (micros(e.ts), if (e.event_type == "click") 0 else 1, e.event_id))
        var best = state.getOption
        val out = List.newBuilder[AsofMatch]
        sorted.foreach { e =>
          val us = micros(e.ts)
          e.event_type match {
            case "click" =>
              if (best.forall(b => us > b.us || (us == b.us && e.event_id > b.event_id)))
                best = Some(ClickState(us, e.value, e.event_id))
            case "purchase" =>
              out += AsofMatch(userId, e.event_id, us,
                best.map(_.us), best.map(_.value), best.map(us - _.us))
            case _ => () // other event types don't participate
          }
        }
        best.foreach { b =>
          state.update(b)
          state.setTimeoutTimestamp(
            math.max(state.getCurrentWatermarkMs(), b.us / 1000L) + ttlMs)
        }
        out.result().iterator
      }
    }

    events
      .filter(e => e.event_type == "click" || e.event_type == "purchase")
      .withWatermark("ts", "1 hour")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(fn)
  }

  /** Watermarked stream-stream interval join — purchases attributed to
    * any click of the same user within `horizon` before them. Both
    * sides carry watermarks and the join condition bounds event time in
    * both directions, so Spark can expire join state on both sides:
    * state is O(events inside the horizon), not stream length. */
  def clickAttribution(clicks: DataFrame, purchases: DataFrame,
      delay: String, horizon: String): DataFrame = {
    val c = clicks.withWatermark("ts", delay)
      .select(col("user_id"), col("ts").as("click_ts"),
        col("value").as("click_val"), col("event_id").as("click_id"))
    val p = purchases.withWatermark("ts", delay)
      .select(col("user_id").as("p_user_id"), col("ts").as("purchase_ts"),
        col("value").as("purchase_val"), col("event_id").as("purchase_id"))
    c.join(p,
      col("user_id") === col("p_user_id") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr(s"INTERVAL $horizon"))
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        col("click_ts"), col("purchase_ts"), col("click_val"), col("purchase_val"))
  }

  /** Streaming incremental database load — the reference's whole ETL
    * contract (key scan → anti-join → append, db_manager.py:56–91) as
    * a foreachBatch sink: each micro-batch appends only rows whose
    * surrogate key is absent from the JDBC sink, so replays and
    * in-stream duplicates both collapse to one row. Exactly-once-per-
    * key lands from at-least-once delivery via the key scan itself —
    * no sink transaction coordination needed. */
  def jdbcIncrementalSink(df: DataFrame, target: graft.etl.JdbcIo.JdbcTarget,
      table: String, checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.etl.JdbcIo.incrementalAppend(batch.sparkSession, batch, target, table)
        ()
      }
      .start()

  final case class FunnelState(
      signup_us: Option[Long], click_us: Option[Long], purchase_us: Option[Long])
  final case class FunnelHit(user_id: Long, stage: String, gap_us: Long)

  /** Streaming funnel progression (twin of q57): emits one row the
    * moment a user reaches each stage — signup, first click strictly
    * after the signup, first purchase strictly after that click — with
    * the same strictly-after semantics as the batch query. State per
    * user is three optional timestamps; agreement with batch holds for
    * in-order arrival (the batch's min() of each stage is the first
    * qualifying event seen in time order). */
  def funnel(spark: SparkSession, events: Dataset[AsofEvent]): Dataset[FunnelHit] = {
    import spark.implicits._

    def fn(userId: Long, rows: Iterator[AsofEvent],
        state: GroupState[FunnelState]): Iterator[FunnelHit] = {
      val sorted = rows.toSeq.sortBy(e => (micros(e.ts), e.event_id))
      var s = state.getOption.getOrElse(FunnelState(None, None, None))
      val out = List.newBuilder[FunnelHit]
      sorted.foreach { e =>
        val us = micros(e.ts)
        e.event_type match {
          case "signup" if s.signup_us.isEmpty =>
            s = s.copy(signup_us = Some(us))
            out += FunnelHit(userId, "stage1_signup", 0L)
          case "click" if s.signup_us.exists(us > _) && s.click_us.isEmpty =>
            s = s.copy(click_us = Some(us))
            out += FunnelHit(userId, "stage2_click", us - s.signup_us.get)
          case "purchase" if s.click_us.exists(us > _) && s.purchase_us.isEmpty =>
            s = s.copy(purchase_us = Some(us))
            out += FunnelHit(userId, "stage3_purchase", us - s.click_us.get)
          case _ => ()
        }
      }
      // only users who progressed carry state (at 100 TB you would add
      // an event-time TTL like asofEnrich's to expire stalled funnels)
      if (s.signup_us.isDefined) state.update(s)
      out.result().iterator
    }

    events
      .withWatermark("ts", "1 hour")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(fn)
  }

  final case class ZState(window: Seq[Long])
  final case class ZOut(user_id: Long, event_id: Long, value_milli: Long, n_win: Long)

  final case class TouchState(ft_packed: Long, lt_packed: Long)
  final case class AttributionOut(
      user_id: Long, purchase_id: Long, v_milli: Long,
      ft_type: String, lt_type: String)

  /** Streaming first/last-touch attribution (twin of q142): every
    * purchase is attributed, at arrival, to the user's FIRST and MOST
    * RECENT preceding non-purchase touch. State per user is two packed
    * longs — the running min and max of (event_us · 4 + touch-type id),
    * the same packing the batch window uses — so attribution is O(1)
    * per event and total state is the active-user set, dropped `ttlMs`
    * past the watermark.
    *
    * Tie rules match the batch frame (ORDER BY us, event_id ROWS ...
    * 1 PRECEDING): within a batch, rows process in (us, event_id)
    * order, so a same-timestamp touch with a smaller event_id precedes
    * the purchase; among same-instant touches the packed max picks the
    * largest type id and the min the smallest, exactly as the batch
    * min/max do. Agreement holds for in-order arrival; a cross-batch
    * late touch cannot re-attribute purchases already emitted (the
    * append-mode tradeoff, as in [[asofEnrich]]). */
  def touchAttribution(spark: SparkSession, events: Dataset[AsofEvent],
      ttlMs: Long = 3600000L): Dataset[AttributionOut] = {
    import spark.implicits._
    val tids = Map("click" -> 0L, "error" -> 1L, "signup" -> 2L, "view" -> 3L)
    def decode(p: Long): String =
      Seq("click", "error", "signup", "view")((p % 4).toInt)

    def fn(userId: Long, rows: Iterator[AsofEvent],
        state: GroupState[TouchState]): Iterator[AttributionOut] = {
      if (state.hasTimedOut) { state.remove(); Iterator.empty }
      else {
        val sorted = rows.toSeq.sortBy(e => (micros(e.ts), e.event_id))
        var cur = state.getOption
        val out = List.newBuilder[AttributionOut]
        sorted.foreach { e =>
          val us = micros(e.ts)
          if (e.event_type == "purchase") {
            out += AttributionOut(userId, e.event_id,
              math.floor(e.value * 1000).toLong,
              cur.map(s => decode(s.ft_packed)).getOrElse("(none)"),
              cur.map(s => decode(s.lt_packed)).getOrElse("(none)"))
          } else tids.get(e.event_type).foreach { tid =>
            val packed = us * 4 + tid
            cur = Some(cur.fold(TouchState(packed, packed))(s => TouchState(
              math.min(s.ft_packed, packed), math.max(s.lt_packed, packed))))
          }
        }
        cur.foreach { s =>
          state.update(s)
          state.setTimeoutTimestamp(
            math.max(state.getCurrentWatermarkMs(), s.lt_packed / 4 / 1000L) + ttlMs)
        }
        out.result().iterator
      }
    }

    events
      .withWatermark("ts", "1 hour")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(fn)
  }

  final case class SessionInterval(ts: java.sql.Timestamp, s_us: Long, e_us: Long)
  // not `private`: the deserializer codegen needs public access
  final case class DayDelta(
      day: Long, us: Long, delta: Long, ts: java.sql.Timestamp)
  final case class DayPeakState(deltas: Seq[(Long, Long)])
  final case class DayPeak(day: Long, peak: Long)

  /** Streaming daily peak concurrency (twin of q138): closed session
    * intervals arrive (e.g. from [[sessionize]]), each day's boundary
    * deltas accumulate in per-day state, and when the watermark passes
    * a day's end (+ grace) the day closes: one +1/−1 sweep in interval
    * order emits the day's maximum number of simultaneously-open
    * sessions. Tie rule matches the batch sweep — at an equal instant
    * all starts apply before any end — and sessions spanning midnight
    * contribute day-clipped deltas to every day they touch, the same
    * explode the batch query does.
    *
    * Scale design: state is keyed by DAY and holds ≤ 2 boundary pairs
    * per session touching that day — the identical working set the
    * batch per-day sweep sorts — and is freed the moment the day
    * emits. The watermark rides the session END time, which is the
    * earliest moment a session can be known closed. */
  def dailyPeakConcurrency(spark: SparkSession,
      sessions: Dataset[SessionInterval],
      graceMs: Long = 3600000L): Dataset[DayPeak] = {
    import spark.implicits._

    def fn(day: Long, rows: Iterator[DayDelta],
        state: GroupState[DayPeakState]): Iterator[DayPeak] = {
      if (state.hasTimedOut) {
        val ds = state.get.deltas
        state.remove()
        var cur = 0L
        var peak = 0L
        // (us, -delta): starts (+1) sort before ends (−1) at equal us
        ds.sortBy { case (us, d) => (us, -d) }.foreach { case (_, d) =>
          cur += d
          if (cur > peak) peak = cur
        }
        Iterator.single(DayPeak(day, peak))
      } else {
        val prev = state.getOption.map(_.deltas).getOrElse(Seq.empty)
        state.update(DayPeakState(prev ++ rows.map(r => (r.us, r.delta))))
        state.setTimeoutTimestamp(math.max(
          (day + 1) * 86400000L + graceMs, state.getCurrentWatermarkMs() + 1))
        Iterator.empty
      }
    }

    sessions
      .flatMap { s =>
        (s.s_us / DayUs to s.e_us / DayUs).iterator.flatMap { day =>
          Iterator(
            DayDelta(day, math.max(s.s_us, day * DayUs), 1L, s.ts),
            DayDelta(day, math.min(s.e_us, (day + 1) * DayUs - 1), -1L, s.ts))
        }.toSeq
      }
      .withWatermark("ts", "1 hour")
      .groupByKey(_.day)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(fn)
  }

  /** Streaming quality filter — q146's accept/reject decision layer as
    * a STATELESS per-row transform, the shape a production ingest
    * pipeline actually runs (filter at the edge, before anything
    * stateful). Works identically on a stream or a batch frame: no
    * windows, no aggregation, no state.
    *
    * The per-document top-bigram multiplicity — a groupBy in the batch
    * report — becomes the longest run of equal adjacent elements in
    * the doc's SORTED bigram array (same number, computed row-local by
    * one codegen'd `aggregate` lambda), so the decision needs nothing
    * beyond the row. Rule constants match q146 exactly; agreement with
    * the batch report is pinned in StreamOpsSpec. */
  def qualityFilter(docs: DataFrame): DataFrame = {
    val nTok = size(split(col("text"), " ")).cast("long")
    val bgs = "zip_with(slice(split(text, ' '), 1, size(split(text, ' ')) - 1), " +
      "slice(split(text, ' '), 2, size(split(text, ' ')) - 1), (a, b) -> concat(a, ' ', b))"
    // longest equal-run in the sorted bigram list == max multiplicity
    val topBi =
      s"""aggregate(array_sort($bgs),
         |  struct('' AS prev, 0L AS run, 0L AS best),
         |  (acc, x) -> struct(x AS prev,
         |    IF(x = acc.prev, acc.run + 1, 1L) AS run,
         |    greatest(acc.best, IF(x = acc.prev, acc.run + 1, 1L)) AS best),
         |  acc -> acc.best)""".stripMargin
    docs
      .withColumn("n_tok", nTok)
      .withColumn("dup_ppm", expr("(1000000 * (n_tok - " +
        "cast(size(array_distinct(split(text, ' '))) as long))) div n_tok"))
      .withColumn("bi_ppm",
        when(col("n_tok") > 1,
          expr(s"(1000000 * coalesce($topBi, 0L)) div (n_tok - 1)"))
          .otherwise(lit(0L)))
      .withColumn("keep",
        col("n_tok") >= 20 && col("dup_ppm") < 600000L && col("bi_ppm") < 50000L)
  }

  /** Streaming distribution-drift monitor (q143's total-variation
    * audit as a live per-window signal): each tumbling window's
    * per-type value histogram is compared against a static BASELINE
    * distribution, emitting tv_ppm — the alarm a data-quality pager
    * watches, where q143 is the offline forensic.
    *
    * Shape: the 16-bin histogram is ONE stateful aggregate with 16
    * conditional counters + a total — O(1) state per live
    * (window, type) — and the TV fold against the broadcast baseline
    * (16 fixed |p−q| terms, all integer ppm arithmetic, identical to
    * q143's) is a stateless projection AFTER the aggregate, so the
    * comparison never adds state. Baseline is (event_type,
    * b0..b15 ppm) — bounded, broadcast; at scale it comes from q143's
    * reference half or any approved snapshot. */
  def driftTv(events: DataFrame, baseline: DataFrame,
      windowLen: String, delay: String): DataFrame = {
    val bin = expr(
      "least((cast(floor(value * 1000) as bigint) * 16) div 500000, 15L)")
    val counters = (0 to 15).map(b =>
      sum(when(col("bin") === b, 1L).otherwise(0L)).as(s"c$b")) :+
      count(lit(1)).as("n")
    val tv = (0 to 15).map(b =>
      s"abs((1000000 * c$b) div n - b$b)").mkString("(", " + ", ") div 2")
    events
      .withColumn("bin", bin)
      .withWatermark("ts", delay)
      .groupBy(window(col("ts"), windowLen).as("w"), col("event_type"))
      .agg(counters.head, counters.tail: _*)
      .join(broadcast(baseline), Seq("event_type"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n"), expr(tv).as("tv_ppm"))
  }

  /** Streaming Benford first-digit monitor (q186's forensic screen as
    * a live per-window signal): each tumbling window's first-digit
    * distribution of order amounts is scored against the CONSTANT
    * Benford expectation, emitting the summed χ² term in ppm — the
    * alarm that flags a window of fabricated or clipped amounts as it
    * arrives, where q186 is the offline audit.
    *
    * Shape: 9 conditional counters + a total in ONE stateful
    * aggregate — O(1) state per live window — and the χ² fold is a
    * stateless projection after it (the expectation needs no join at
    * all: the nine floor(10⁶·log₁₀(1+1/d)) constants are baked into
    * the expression, same integers as q186's literal table). Amounts
    * whose exact cents are ≤ 0 carry no defined first digit and drop
    * before the aggregate, mirroring q186's WHERE c > 0. */
  def benfordMonitor(orders: DataFrame,
      windowLen: String, delay: String): DataFrame = {
    val exp = Seq(301029L, 176091L, 124938L, 96910L, 79181L, 66946L,
      57991L, 51152L, 45757L)
    val digit = expr(
      "CAST(substring(CAST(CAST(CAST(amount AS DECIMAL(12,2)) * 100 AS BIGINT)" +
        " AS STRING), 1, 1) AS BIGINT)")
    val counters = (1 to 9).map(d =>
      sum(when(col("digit") === d, 1L).otherwise(0L)).as(s"c$d")) :+
      count(lit(1)).as("n")
    val chi2 = (1 to 9).map { d =>
      val e = exp(d - 1)
      s"(((1000000 * c$d) div n - $e) * ((1000000 * c$d) div n - $e)) div $e"
    }.mkString(" + ")
    orders
      .where(expr("CAST(CAST(amount AS DECIMAL(12,2)) * 100 AS BIGINT) > 0"))
      .withColumn("digit", digit)
      .withWatermark("ts", delay)
      .groupBy(window(col("ts"), windowLen).as("w"))
      .agg(counters.head, counters.tail: _*)
      .select(col("w.start").as("window_start"), col("n"),
        expr(chi2).as("chi2_ppm"))
  }

  /** Streaming twin of q319's SRM guardrail: per finalized event
    * window, the event-weighted 50/50 sample-ratio χ²(1) of the
    * hashed 'exp' user coin — the near-real-time "did assignment
    * break THIS hour" alarm that pages before the batch SRM reads a
    * corrupted experiment. Event-weighted by design (per-window
    * distinct users would need a second stateful op); the batch q319
    * remains the unit-level authority.
    *
    * Exactness: the coin is the q319 md5 chain verbatim; the χ²
    * statistic and alarm ride the same cross-multiplied integer
    * identities — bit-agreement with a batch fold is pinned in
    * StreamOpsSpec.
    *
    * Scale: ONE watermark-bounded windowed aggregate
    * (partial-aggregable conditional counts); state is O(open
    * windows). */
  def srmMonitor(events: DataFrame, windowLen: String, delay: String): DataFrame = {
    val arm = expr(
      "CAST(conv(substring(md5(concat('exp', CAST(user_id AS STRING))), 1," +
        " 15), 16, 10) AS BIGINT) % 2")
    events
      .withColumn("arm", arm)
      .withWatermark("ts", delay)
      .groupBy(window(col("ts"), windowLen).as("w"))
      .agg(sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_b"))
      .select(col("w.start").as("window_start"), col("n_a"), col("n_b"),
        expr("(1000 * (n_a - n_b) * (n_a - n_b)) div (n_a + n_b)")
          .as("chi2_milli"),
        when(lit(1000L) * (col("n_a") - col("n_b")) *
          (col("n_a") - col("n_b")) > lit(3841L) * (col("n_a") + col("n_b")),
          1L).otherwise(0L).as("srm_alarm"))
  }

  /** Streaming twin of q305's Laplace-mechanism release: per
    * finalized (type, window), the event count released as
    * count·1000 + Lap(Δf/ε) milli-noise — the continually-released
    * private statistics feed (each window is a disjoint dataset, so
    * per-window ε composes in parallel, not sequentially). The noise
    * coin hashes (type, window-start), so every window's release is
    * independent AND reproducible; the chain is q305's verbatim
    * (portable-coin inverse-CDF Laplace, b = 1/ε = 2.0).
    *
    * Scale: ONE watermark-bounded windowed count; the noise is O(1)
    * arithmetic per released cell. Batch bit-agreement pinned in
    * StreamOpsSpec. */
  def dpCountMonitor(events: DataFrame, windowLen: String, delay: String): DataFrame = {
    val u = "((CAST(uhex AS DOUBLE) + 0.5) / 1152921504606846976.0)"
    val noiseMilli =
      s"CAST(floor(1000.0 * (0.0 - 2.0 * " +
        s"(CASE WHEN $u >= 0.5 THEN 1.0 ELSE -1.0 END) * " +
        s"ln(1.0 - 2.0 * abs($u - 0.5)))) AS BIGINT)"
    events
      .withWatermark("ts", delay)
      .groupBy(window(col("ts"), windowLen).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n"),
        expr("CAST(conv(substring(md5(concat('lap', event_type, '_'," +
          " CAST(unix_millis(w.start) AS STRING))), 1, 15), 16, 10)" +
          " AS BIGINT)").as("uhex"))
      .select(col("window_start"), col("event_type"),
        (lit(1000L) * col("n") + expr(noiseMilli)).as("noisy_milli"))
  }

  /** Batch-side baseline for [[controlChartMonitor]]: per-type
    * count/Σx/Σx² moments of a reference window-sum series (q293's
    * center-line frame). `ref` carries (event_type, x: BIGINT) rows —
    * one per reference window, produced at the SAME window length the
    * monitor will use. Bounded output: |types| rows. */
  def controlChartBaseline(ref: DataFrame): DataFrame = {
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    ref.groupBy(col("event_type"))
      .agg(count(lit(1)).cast("decimal(38,0)").as("dd"),
        sum(dec(col("x"))).cast("decimal(38,0)").as("ss"),
        sum(dec(col("x")) * col("x")).cast("decimal(38,0)").as("qq"))
  }

  /** Streaming twin of q293's Western Electric ZONE tests: per
    * finalized (type, window), the milli-sum of value against the
    * baseline center line — side of center plus the 2σ/3σ zone flags,
    * via the same integer cross-multiplied identity
    * (x·D − S)² > k²·(D·Q − S²), so no σ (and no float) is ever
    * materialized. The run-length rules (2-of-3, 8-run) need ordered
    * window HISTORY and remain batch-side in q293; the per-window
    * zone alarm is the streaming-appropriate screen.
    *
    * Scale: watermark-bounded windowed sum (partial-aggregable),
    * then a broadcast join against the |types|-row moment frame. */
  def controlChartMonitor(events: DataFrame, baseline: DataFrame,
      windowLen: String, delay: String): DataFrame = {
    val dev = "(CAST(x AS DECIMAL(38,0)) * dd - ss)"
    val varD2 = "(dd * qq - ss * ss)"
    events
      .withWatermark("ts", delay)
      .groupBy(window(col("ts"), windowLen).as("w"), col("event_type"))
      .agg(sum(expr("CAST(floor(value * 1000 + 0.5) AS BIGINT)")).as("x"))
      .join(broadcast(baseline), Seq("event_type"))
      .select(col("w.start").as("window_start"), col("event_type"), col("x"),
        expr(s"CASE WHEN $dev > 0 THEN 1 WHEN $dev < 0 THEN -1 ELSE 0 END")
          .as("side"),
        expr(s"CASE WHEN $dev * $dev > 4 * $varD2 THEN 1 ELSE 0 END")
          .as("beyond2"),
        expr(s"CASE WHEN $dev * $dev > 9 * $varD2 THEN 1 ELSE 0 END")
          .as("beyond3"))
  }

  /** The q143-grid baseline for [[driftTv]]: per-type bin shares (ppm)
    * of a reference frame, pivoted wide (b0..b15) for the broadcast
    * join. Batch-side, bounded output. */
  def driftBaseline(reference: DataFrame): DataFrame = {
    val bin = expr(
      "least((cast(floor(value * 1000) as bigint) * 16) div 500000, 15L)")
    val shares = (0 to 15).map(b =>
      expr(s"(1000000 * sum(if(bin = $b, 1L, 0L))) div count(1)").as(s"b$b"))
    reference.withColumn("bin", bin)
      .groupBy(col("event_type"))
      .agg(shares.head, shares.tail: _*)
  }

  /** Streaming PSI drift monitor — the q258 population-stability
    * index as a live per-window signal over the [[driftBaseline]]
    * grid (shared with [[driftTv]], so one batch fit feeds both
    * monitors): per tumbling window and event type, PSI =
    * Σ (p_b − e_b)·ln(p_b / e_b) over the 16 value bins, add-one
    * smoothed on BOTH sides so empty bins never reach ln. TV (L1)
    * weighs all drift equally; PSI's log weight makes TAIL drift
    * loud — the pair is the standard drift dashboard.
    *
    * Shape: 16 conditional counters + a total in ONE stateful
    * aggregate (O(1) state per live window), baseline broadcast,
    * then a stateless left-associated 16-term fold to the nano
    * floor — every term is a same-sign product, so the emitted
    * psi_nano is ≥ 0 by construction and agrees bit-for-bit with
    * the identical batch fold (pinned in StreamOpsSpec). */
  def psiDrift(events: DataFrame, baseline: DataFrame,
      windowLen: String, delay: String): DataFrame = {
    val bin = expr(
      "least((cast(floor(value * 1000) as bigint) * 16) div 500000, 15L)")
    val counters = (0 to 15).map(b =>
      sum(when(col("bin") === b, 1L).otherwise(0L)).as(s"c$b")) :+
      count(lit(1)).as("n")
    events
      .withColumn("bin", bin)
      .withWatermark("ts", delay)
      .groupBy(window(col("ts"), windowLen).as("w"), col("event_type"))
      .agg(counters.head, counters.tail: _*)
      .join(broadcast(baseline), Seq("event_type"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n"), expr(psiFold).as("psi_nano"))
  }

  /** The shared 16-term smoothed PSI fold (stream and batch twin use
    * the same string, so agreement is by construction). Expected bin
    * mass is the baseline share SCALED TO THE WINDOW SIZE before the
    * add-one smoothing, so both proportions smooth at the same n —
    * smoothing the ppm baseline directly would make every small
    * window read as massive drift. */
  private[graft] val psiFold: String = {
    val terms = (0 to 15).map { b =>
      val p = s"(cast(c$b + 1 as double) / cast(n + 16 as double))"
      val e = s"((cast(b$b as double) * cast(n as double) / 1000000.0d + 1.0d)" +
        s" / cast(n + 16 as double))"
      s"($p - $e) * ln($p / $e)"
    }.mkString("(", " + ", ")")
    s"cast(floor(1000000000.0d * $terms) as bigint)"
  }

  final case class FrontierState(maxUs: Long)
  final case class LatenessOut(
      event_type: String, event_id: Long, late_s: Long, is_late: Boolean)

  /** The q272 simulated-ingestion delay: an md5-derived per-event lag
    * in [0, 1h), identical to the SQL
    * `conv(substring(md5(event_id), 1, 15), 16, 10) % 3600000000`
    * both engines compute (the q36 portable-RNG contract). */
  private[graft] def md5DelayUs(eventId: Long): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(eventId.toString.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16) % 3600000000L
  }

  /** Streaming event-time lateness monitor — the streaming twin of
    * [[graft.operators.EventOps.q272LatenessProfile]]: per event
    * type, custom state carries the event-time FRONTIER (max ts over
    * all earlier arrivals; arrival = ts + the shared [[md5DelayUs]]
    * ingestion jitter, the q272 contract) and every event is emitted
    * with its lateness behind that frontier — the live signal that
    * says "your watermark delay is about to drop data" BEFORE the
    * drops happen, where q272 is the offline calibration over
    * history. State per type is one long; per micro-batch events
    * process in arrival order, so a feed ordered by arrival agrees
    * with the batch profile row-for-row (pinned in StreamOpsSpec). */
  def latenessMonitor(spark: SparkSession,
      events: Dataset[AsofEvent]): Dataset[LatenessOut] = {
    import spark.implicits._
    def fn(etype: String, rows: Iterator[AsofEvent],
        state: GroupState[FrontierState]): Iterator[LatenessOut] = {
      val sorted = rows.toSeq
        .sortBy(e => (micros(e.ts) + md5DelayUs(e.event_id), e.event_id))
      var frontier = state.getOption.map(_.maxUs).getOrElse(Long.MinValue)
      val out = List.newBuilder[LatenessOut]
      sorted.foreach { e =>
        val us = micros(e.ts)
        val lateUs = if (frontier == Long.MinValue) 0L
          else math.max(0L, frontier - us)
        out += LatenessOut(etype, e.event_id, lateUs / 1000000L,
          frontier != Long.MinValue && frontier > us)
        frontier = math.max(frontier, us)
      }
      state.update(FrontierState(frontier))
      out.result().iterator
    }
    events
      .withWatermark("ts", "1 hour")
      .groupByKey(_.event_type)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(fn)
  }

  final case class CusumState(pf: Long, minpf: Long)
  final case class CusumOut(
      user_id: Long, event_id: Long, value_milli: Long,
      cusum_milli: Long, alarm: Boolean)

  /** Streaming one-sided CUSUM level-shift monitor — q178's closed
    * form (S_t = P_t − min(0, min_{j≤t} P_j)) as per-key O(1) state:
    * just the drift-adjusted prefix sum and its running min (the
    * virtual empty prefix 0 seeds the min, so S_1 = max(0, y_1)
    * exactly as the recursion demands). Parameters (μ, allowance k,
    * threshold h) arrive from the batch side — the driftTv pattern:
    * the stream monitors against a baseline the batch engine fit.
    * All int64; agreement with the batch windows is exact for
    * in-order arrival. */
  def cusum(spark: SparkSession, events: Dataset[AsofEvent],
      mu: Long, k: Long, h: Long): Dataset[CusumOut] = {
    import spark.implicits._
    orderedFold[Long, CusumState, CusumOut](events, _.user_id, CusumState(0L, 0L)) {
      (userId, st, e, emit) =>
        val v = math.floor(e.value * 1000).toLong
        val pf = st.pf + (v - mu - k)
        // inclusive running min, seeded at 0 = the empty prefix P_0 —
        // so minpf <= 0 always and S_t = P_t - minpf directly
        val minpf = math.min(st.minpf, pf)
        emit(CusumOut(userId, e.event_id, v, pf - minpf, pf - minpf > h))
        CusumState(pf, minpf)
    }
  }

  final case class SprtState(n: Long, c: Long)
  final case class SprtOut(event_type: String, event_id: Long,
      n_cum: Long, c_cum: Long, llr_nn: Long, decision: String)

  /** Streaming Wald SPRT conversion monitor — the stateful twin of
    * q230 ([[graft.operators.EventOps.q230Sprt]]): per event type the
    * state is TWO counters (observations, conversions), and every
    * arriving event emits the updated log-likelihood ratio of
    * H1: p = 0.25 vs H0: p = 0.20 with the Wald α = β = 0.05 decision
    * — the always-valid sequential test evaluated continuously rather
    * than nightly. Same nano-floored integer constants as the batch
    * query (K₁ = ln(1.25), K₂ = ln(0.75/0.8), bound = ln 19), so the
    * cumulative LLR trail agrees exactly for in-order arrival. O(1)
    * longs per key at any stream length. */
  def sprt(spark: SparkSession, events: Dataset[AsofEvent],
      threshold: Double = 200.0): Dataset[SprtOut] = {
    import spark.implicits._
    val k1 = math.floor(1e9 * math.log(1.25)).toLong
    val k2 = math.floor(1e9 * math.log(0.75 / 0.8)).toLong
    val bound = math.floor(1e9 * math.log(19.0)).toLong
    orderedFold[String, SprtState, SprtOut](events, _.event_type, SprtState(0L, 0L)) {
      (etype, prev, e, emit) =>
        val conv = if (e.value >= threshold) 1L else 0L
        val st = SprtState(prev.n + 1, prev.c + conv)
        val llr = st.c * k1 + (st.n - st.c) * k2
        val decision =
          if (llr >= bound) "reject_h0"
          else if (llr <= -bound) "accept_h0"
          else "continue"
        emit(SprtOut(etype, e.event_id, st.n, st.c, llr, decision))
        st
    }
  }

  final case class EwmaState(window: Seq[Long])
  final case class EwmaOut(
      user_id: Long, event_id: Long, value_milli: Long, ewma_milli: Long)

  /** Streaming dyadic EWMA — q170's trailing smoother as it runs in
    * production: state per user is the last `depth` milli-quantized
    * values; each arriving event emits the exact power-of-two-weighted
    * trailing mean including itself (newest weight 2^(depth−1), short
    * prefixes renormalize). num/den are int64 and both non-negative,
    * so the emitted ratio is the same truncating division the batch
    * rank-join computes — bit-agreement for in-order arrival.
    *
    * O(depth) longs per active key; at fleet scale add an event-time
    * TTL (asofEnrich's pattern) to expire dormant keys. */
  def ewma(spark: SparkSession, events: Dataset[AsofEvent],
      depth: Int = 8): Dataset[EwmaOut] = {
    import spark.implicits._
    orderedFold[Long, EwmaState, EwmaOut](events, _.user_id, EwmaState(Vector.empty)) {
      (userId, st, e, emit) =>
        val v = math.floor(e.value * 1000).toLong
        val buf = (st.window.toVector :+ v).takeRight(depth)
        var num = 0L
        var den = 0L
        var i = 0
        while (i < buf.size) {
          val w = 1L << (depth - 1 - (buf.size - 1 - i)) // newest heaviest
          num += w * buf(i); den += w; i += 1
        }
        emit(EwmaOut(userId, e.event_id, v, num / den))
        EwmaState(buf)
    }
  }

  final case class QSketchState(counts: Seq[Long], n: Long)
  final case class QSketchOut(event_type: String, n: Long,
      p50_milli: Long, p90_milli: Long, p99_milli: Long)

  /** Streaming dyadic-histogram quantile monitor — the stateful twin
    * of q191 ([[graft.operators.Sketches.q191QuantileSketch]]), and
    * the reason that sketch exists: per event type the state is the
    * ~21 octave counters + total count (O(log range), mergeable,
    * independent of stream length), where exact streaming percentiles
    * would buffer every distinct value. Each trigger re-reads the
    * counters and emits the current p50/p90/p99 estimate (Update
    * mode), so the monitor converges on exactly the batch sketch's
    * numbers: same bit-length bucketing (bin length ≡
    * 64 − numberOfLeadingZeros), same ⌈p·n/1000⌉ rank, same in-octave
    * interpolation in non-negative int64 — agreement with the batch
    * estimate is bit-exact once the same rows have arrived, which the
    * StreamOpsSpec case asserts against q191's output. */
  def quantileSketch(spark: SparkSession,
      events: Dataset[AsofEvent]): Dataset[QSketchOut] = {
    import spark.implicits._

    def est(counts: Array[Long], n: Long, p: Long): Long = {
      val k = (p * n + 999) / 1000
      var cum = 0L
      var i = 0
      while (i < counts.length) {
        val cnt = counts(i)
        if (cnt > 0) {
          val below = cum
          cum += cnt
          if (below < k && k <= cum) {
            val b = i + 1
            val lo = if (b == 1) 0L else 1L << (b - 1)
            val hi = 1L << b
            return lo + ((k - below - 1) * (hi - lo)) / cnt
          }
        }
        i += 1
      }
      0L
    }

    def fn(etype: String, rows: Iterator[AsofEvent],
        state: GroupState[QSketchState]): QSketchOut = {
      val counts = state.getOption.map(_.counts.toArray)
        .getOrElse(Array.fill(64)(0L))
      var n = state.getOption.map(_.n).getOrElse(0L)
      rows.foreach { e =>
        val v = math.floor(e.value * 1000).toLong
        // bit length of the milli value — v=0 lands in octave 1 like
        // length(bin(0)) = 1 batch-side; v >= 0 is the pinned invariant
        val b = if (v <= 0L) 1 else 64 - java.lang.Long.numberOfLeadingZeros(v)
        counts(b - 1) += 1
        n += 1
      }
      state.update(QSketchState(counts.toSeq, n))
      QSketchOut(etype, n, est(counts, n, 500L), est(counts, n, 900L),
        est(counts, n, 990L))
    }

    events
      .withWatermark("ts", "1 hour")
      .groupByKey(_.event_type)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(fn)
  }

  /** Streaming rolling z-score anomaly detection — the twin of q113,
    * as it would actually run in production (the batch query IS a
    * stream shape: per-key trailing window, O(window) state). State
    * per user is the last `windowSize` milli-quantized values; each
    * arriving event is tested against the trailing baseline with the
    * same int64 cross-multiplied |v−μ| > 3σ check as the batch query,
    * then pushed into the window. Agreement with batch holds for
    * in-order arrival (the batch frame is "previous 10 rows in
    * (ts, event_id) order").
    *
    * At 100 TB-per-day scale the state is windowSize longs per active
    * key — add an event-time TTL (asofEnrich's pattern) to expire
    * dormant keys. */
  def rollingZscore(spark: SparkSession, events: Dataset[AsofEvent],
      windowSize: Int = 10, minN: Int = 5): Dataset[ZOut] = {
    import spark.implicits._
    orderedFold[Long, ZState, ZOut](events, _.user_id, ZState(Vector.empty)) {
      (userId, st, e, emit) =>
        val v = math.floor(e.value * 1000).toLong
        val buf = st.window.toVector
        val n = buf.size.toLong
        if (n >= minN) {
          val s = buf.sum
          val q = buf.map(x => x * x).sum
          val dev = n * v - s
          if (dev * dev > 9L * (n * q - s * s)) emit(ZOut(userId, e.event_id, v, n))
        }
        ZState((buf :+ v).takeRight(windowSize))
    }
  }

  final case class HedgeState(
      curHour: Long, sums: Seq[Long], w: Seq[Long], g: Seq[Long],
      alg: Long, t: Long)
  final case class HedgeOut(t: Long, hour: Long, alg_micro: Long,
      best_micro: Long, regret_micro: Long)

  /** Streaming Hedge monitor — the stateful twin of q365
    * ([[graft.operators.EventOps.q365HedgeRegret]]): the
    * exponential-weights portfolio over the five event-type arms,
    * advanced ONLINE as hourly reward rounds complete. An hour
    * finalizes when the first event of a LATER hour arrives, and an
    * event for an hour already finalized fails the query with
    * "hour-close contract violated" (the [[dayFold]] rule per hour,
    * on [[orderedFold]]); the reward
    * normalizer `vmax` is a batch-computed baseline, exactly like
    * [[driftTv]]'s reference frame. Identical integer/nano-quantized
    * arithmetic to the batch fold — the same (Σ wₐ·rₐ) div 10⁶ gain,
    * the same floor(w·exp(η·r)) reweight and floor-normalization — so
    * the emitted checkpoint trail is bit-exact against q365's scan
    * through the last COMPLETED hour. State is O(k) longs on a single
    * monitor key (the portfolio is global by construction — this is
    * a dashboard monitor, not a per-entity operator). */
  def hedgeMonitor(spark: SparkSession, events: Dataset[AsofEvent],
      vmax: Long, eta: Double = 0.1): Dataset[HedgeOut] = {
    import spark.implicits._
    val arms = Seq("click", "error", "purchase", "signup", "view")
    val k = arms.length
    val zeros = Seq.fill(k)(0L)
    orderedFold[Long, HedgeState, HedgeOut](events, _ => 0L,
        HedgeState(Long.MinValue, zeros, Seq.fill(k)(1000000000L / k), zeros, 0L, 0L)) {
      (_, st, e, emit) =>
        val h = micros(e.ts) / HourUs
        requireInOrder("hour", e, h, st.curHour)
        val open =
          if (h == st.curHour) st
          else if (st.curHour == Long.MinValue) st.copy(curHour = h)
          else { // close the open hour: one Hedge round
            val r = st.sums.map(v => 1000L * v / vmax)
            val alg = st.alg +
              (0 until k).map(i => st.w(i) * r(i)).sum / 1000000L
            val u = (0 until k).map(i =>
              math.floor(st.w(i).toDouble * math.exp(eta * r(i).toDouble / 1000.0)))
            val usum = u.sum
            val w = u.map(x => math.floor(1000000000.0 * x / usum).toLong)
            val g = (0 until k).map(i => st.g(i) + r(i))
            val t = st.t + 1
            val best = g.max * 1000L
            emit(HedgeOut(t, st.curHour, alg, best, best - alg))
            HedgeState(h, zeros, w, g, alg, t)
          }
        val ai = arms.indexOf(e.event_type)
        if (ai < 0) open
        else open.copy(sums = open.sums.updated(ai,
          open.sums(ai) + math.floor(e.value * 1000).toLong))
    }
  }

  /** Per-type baseline moments for [[controlChartMonitor]]: D = #days,
    * S = Σx, Q = Σx² over the training corpus' daily milli-sums —
    * exactly q293's `m` frame, shipped to the monitor the way
    * [[driftTv]] ships its reference histogram. BigInt mirrors the
    * batch DECIMAL(38,0) arithmetic headroom. */
  final case class SpcBaseline(dd: BigInt, ss: BigInt, qq: BigInt)
  final case class SpcState(
      sides: Seq[Int], b2us: Seq[Int], b2ds: Seq[Int], nDays: Long,
      nAbove: Long, r1: Long, r2: Long, r4: Long)
  final case class SpcOut(
      event_type: String, day: Long, side: Int, rule1: Int, rule2: Int,
      rule4: Int, n_days: Long, n_above: Long, n_rule1: Long,
      n_rule2: Long, n_rule4: Long)

  /** Streaming Western-Electric control chart — the stateful twin of
    * q293 ([[graft.operators.EventOps.q293ControlChart]]): per event
    * type, each day's milli-value sum is zone-tested against FIXED
    * baseline moments (rule 1: beyond 3σ; rule 2: two of three
    * consecutive beyond 2σ same side; rule 4: eight consecutive on one
    * side) using the identical cross-multiplied integer identity
    * (x·D − S)² > k²·(D·Q − S²) — σ is never materialized as a double.
    * A day finalizes when that type's first event of a LATER day
    * arrives (the [[dayFold]] contract, on milli sums). With the
    * baseline trained on the full corpus the emitted flag trail is
    * bit-exact against the batch chart through each type's last closed
    * day; in production the baseline
    * is a frozen reference period, exactly like [[driftTv]].
    *
    * State per type is O(1): the open day's sum, a 7-deep side ring, a
    * 2-deep 2σ-flag ring, and five counters — nothing grows with
    * stream length, and the key space is the event-type domain. */
  def controlChartMonitor(spark: SparkSession, events: Dataset[AsofEvent],
      baseline: Map[String, SpcBaseline]): Dataset[SpcOut] = {
    import spark.implicits._
    dayFold[String, SpcState, SpcOut](events, _.event_type,
        SpcState(Nil, Nil, Nil, 0L, 0L, 0L, 0L, 0L), scale = 1000) {
      (etype, day, x, st, emit) =>
        baseline.get(etype).fold(st) { case SpcBaseline(dd, ss, qq) =>
          val dev = BigInt(x) * dd - ss
          val var2 = dd * qq - ss * ss
          val side = dev.signum
          val d2 = dev * dev
          val b3 = if (d2 > var2 * 9) 1 else 0
          val b2u = if (d2 > var2 * 4 && side > 0) 1 else 0
          val b2d = if (d2 > var2 * 4 && side < 0) 1 else 0
          val c2u = b2u + st.b2us.sum
          val c2d = b2d + st.b2ds.sum
          val r2 = if ((b2u == 1 && c2u >= 2) || (b2d == 1 && c2d >= 2)) 1 else 0
          val ring8 = (st.sides :+ side).takeRight(8)
          val r4 = if (ring8.size == 8 &&
            (ring8.forall(_ == 1) || ring8.forall(_ == -1))) 1 else 0
          val next = SpcState(
            (st.sides :+ side).takeRight(7),
            (st.b2us :+ b2u).takeRight(2), (st.b2ds :+ b2d).takeRight(2),
            st.nDays + 1, st.nAbove + (if (side > 0) 1 else 0),
            st.r1 + b3, st.r2 + r2, st.r4 + r4)
          emit(SpcOut(etype, day, side, b3, r2, r4,
            next.nDays, next.nAbove, next.r1, next.r2, next.r4))
          next
        }
    }
  }

  final case class LossState(prevRev: Long, hasPrev: Boolean, losses: Seq[Long])

  /** Shared [[dayFold]] for the risk monitors ([[varEsMonitor]],
    * [[gpdTailMonitor]]): convert day-over-day deltas of the daily
    * cent sums into the loss series l_d = −(rev_d − rev_{d−1}) as days
    * close, and hand the updated series to `stat`. State is the single
    * global risk key holding the day-loss vector — CALENDAR-bounded
    * (~37k rows/century), the same adjudicated bound as the batch
    * queries' day-axis windows, not data-volume-bounded. */
  private def lossMonitor[O: Encoder](
      spark: SparkSession, events: Dataset[AsofEvent],
      stat: (Long, Long, Vector[Long]) => Option[O]): Dataset[O] = {
    import spark.implicits._
    dayFold[Long, LossState, O](events, _ => 0L, LossState(0L, hasPrev = false, Nil)) {
      (_, day, rev, st, emit) =>
        if (!st.hasPrev) LossState(rev, hasPrev = true, st.losses)
        else {
          val losses = st.losses :+ -(rev - st.prevRev)
          stat(day, losses.size.toLong, losses.toVector).foreach(emit)
          LossState(rev, hasPrev = true, losses)
        }
    }
  }

  final case class HllState(regs: Seq[Int], nSeen: Long)
  final case class HllOut(event_type: String, n_seen: Long, v_zero: Long,
    hll_est: Long)

  /** Streaming HyperLogLog distinct-user monitor — the stateful twin
    * of q369 ([[graft.operators.Sketches.q369Hll]]) keyed by event
    * type: 64 max-rank registers over the portable 60-bit md5 hash of
    * user_id, updated per batch and emitted as the same
    * integer-numerator α₆₄ estimate (linear-counting correction
    * included) — identical arithmetic to the batch sketch, so after
    * any prefix of the stream the emitted row equals the batch
    * computation over the same rows. THE register-sketch property on
    * display: state is 64 ints per key forever, and merging two
    * monitors is elementwise max (contrast [[quantileSketch]]'s
    * octave counters — that sketches VALUES, this sketches
    * CARDINALITY). */
  def hllMonitor(spark: SparkSession,
      events: Dataset[AsofEvent]): Dataset[HllOut] = {
    import spark.implicits._

    def fn(etype: String, rows: Iterator[AsofEvent],
        state: GroupState[HllState]): HllOut = {
      val regs = state.getOption.map(_.regs.toArray)
        .getOrElse(Array.fill(64)(0))
      var n = state.getOption.map(_.nSeen).getOrElse(0L)
      val md = java.security.MessageDigest.getInstance("MD5")
      rows.foreach { e =>
        val hex = md.digest(e.user_id.toString.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString.substring(0, 15)
        val h = java.lang.Long.parseLong(hex, 16)
        val bucket = (h / 18014398509481984L).toInt
        val rem = h % 18014398509481984L
        val r = if (rem == 0L) 55
          else 55 - (64 - java.lang.Long.numberOfLeadingZeros(rem))
        if (r > regs(bucket)) regs(bucket) = r
        n += 1
      }
      state.update(HllState(regs.toSeq, n))
      // the exact q369 estimate chain: integer harmonic numerator
      // over the 2^55 common denominator, then one IEEE chain
      var num = 0L
      var v = 0L
      for (m <- regs) {
        if (m == 0) { v += 1; num += 36028797018963968L }
        else num += 1L << (55 - m)
      }
      val est = 0.709e0 * 64.0e0 * 64.0e0 * 36028797018963968.0 / num.toDouble
      val corr = if (est <= 160.0 && v > 0)
        64.0 * math.log(64.0 / v.toDouble) else est
      HllOut(etype, n, v, math.floor(corr).toLong)
    }

    events
      .withWatermark("ts", "1 hour")
      .groupByKey(_.event_type)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(fn)
  }

  final case class VarEsOut(
      day: Long, n_days: Long, var95_cents: Long, es95_cents: Long,
      n_tail95: Long, var99_cents: Long, es99_cents: Long, n_tail99: Long)

  /** Streaming historical VaR/ES — the stateful twin of q352
    * ([[graft.operators.FinanceAudit.q352VarEs]]) over the event
    * stream's daily cent-sum P&L: as each day closes, VaR_α is the
    * exact (α·n+999) div 1000 order statistic of the losses-to-date
    * and ES_α the exact tail mean at-or-beyond it — identical
    * rank-selection and floor(tail/n_tail) IEEE arithmetic to the
    * batch query, so each emitted row equals the batch computation run
    * over the prefix through that closed day. */
  def varEsMonitor(spark: SparkSession,
      events: Dataset[AsofEvent]): Dataset[VarEsOut] = {
    import spark.implicits._
    lossMonitor[VarEsOut](spark, events, (day, n, losses) => {
      val sorted = losses.sorted
      def at(alphaMilli: Long): (Long, Long, Long) = {
        val rk = (alphaMilli * n + 999) / 1000
        val varC = sorted(rk.toInt - 1)
        val tail = sorted.drop(rk.toInt - 1)
        val es = math.floor(tail.sum.toDouble / tail.size.toDouble).toLong
        (varC, es, n - rk + 1)
      }
      val (v95, e95, t95) = at(950L)
      val (v99, e99, t99) = at(990L)
      Some(VarEsOut(day, n, v95, e95, t95, v99, e99, t99))
    })
  }

  final case class GpdOut(
      day: Long, n_days: Long, u_cents: Long, n_exceed: Long,
      mean_exc_cents: Long, xi_micro: Long, beta_cents: Long,
      var99_gpd_cents: Long, var99_emp_cents: Long)

  /** Streaming peaks-over-threshold GPD tail fit — the stateful twin
    * of q357 ([[graft.operators.FinanceAudit.q357PotGpd]]): as each
    * day closes, exceedances over the exact q90 loss order statistic
    * are refit by method of moments (ξ = ½(1 − m²/v),
    * β = ½m(1 + m²/v)) and the model-implied VaR₉₉ is emitted next to
    * the empirical order statistic — the live parametric-vs-empirical
    * agreement feed. Same exact rank thresholds, BigInt exceedance
    * moments (the batch DECIMAL headroom), and all-DOUBLE model
    * chains as the batch query; days whose exceedance set is too
    * small or degenerate to fit (k < 2 or zero variance) emit
    * nothing, and the spec replays the identical rule. */
  def gpdTailMonitor(spark: SparkSession,
      events: Dataset[AsofEvent]): Dataset[GpdOut] = {
    import spark.implicits._
    lossMonitor[GpdOut](spark, events, (day, n, losses) => {
      val sorted = losses.sorted
      val u = sorted(((900L * n + 999) / 1000).toInt - 1)
      val emp = sorted(((990L * n + 999) / 1000).toInt - 1)
      val exc = sorted.filter(_ > u).map(_ - u)
      val k = exc.size
      if (k < 2) None
      else {
        val s1 = exc.map(BigInt(_)).sum
        val s2 = exc.map(e => BigInt(e) * e).sum
        val m = s1.toDouble / k.toDouble
        val v = s2.toDouble / k.toDouble - m * m
        if (v <= 0.0) None
        else {
          val xi = 0.5 * (1.0 - m * m / v)
          val beta = 0.5 * m * (1.0 + m * m / v)
          val ratio = k.toDouble / (n.toDouble * 0.01)
          val var99 =
            if (xi == 0.0) u.toDouble + beta * math.log(ratio)
            else u.toDouble + (beta / xi) * (math.exp(xi * math.log(ratio)) - 1.0)
          Some(GpdOut(day, n, u, k.toLong, math.floor(m).toLong,
            math.floor(1000000.0 * xi).toLong, math.floor(beta).toLong,
            math.floor(var99).toLong, emp))
        }
      }
    })
  }

  final case class HwState(
      t: Long, l: Long, b: Long, s: Seq[Long], y: Seq[Long],
      saeHw: Long, saeSn: Long)
  final case class HwOut(
      t: Long, day: Long, level_cents: Long, trend_cents: Long,
      sae_hw: Long, sae_sn: Long, skill_milli: Option[Long])

  /** Streaming additive Holt–Winters — the stateful twin of q380
    * ([[graft.operators.Forecast.q380HoltWinters]]) over the event
    * stream's daily cent sums: as each day closes (first event of a
    * LATER day arrives — the [[dayFold]] contract), the
    * level/trend/season state advances through the IDENTICAL
    * independently-floored IEEE smoothing chains as the batch fold
    * (α=0.3, β=0.1, γ=0.2,
    * zero-state cold start, 14-day burn-in before scoring), and the
    * one-step-ahead absolute errors accumulate against the
    * seasonal-naive baseline. Each emitted row equals the batch
    * recursion evaluated through that closed day — the level/trend
    * are the capacity forecast a dashboard reads live.
    *
    * State is O(s): two scalars, two 7-slot season rings, and two
    * error accumulators on a single monitor key — nothing grows with
    * stream length. */
  def hwMonitor(spark: SparkSession, events: Dataset[AsofEvent],
      alpha: Double = 0.3, beta: Double = 0.1,
      gamma: Double = 0.2, burn: Long = 14L): Dataset[HwOut] = {
    import spark.implicits._
    dayFold[Long, HwState, HwOut](events, _ => 0L,
        HwState(0L, 0L, 0L, Seq.fill(7)(0L), Seq.fill(7)(0L), 0L, 0L)) {
      (_, day, yv, st, emit) =>
        val t = st.t + 1
        val slot = ((t - 1) % 7).toInt
        val sold = st.s(slot)
        val yold = st.y(slot)
        val fc = st.l + st.b + sold
        val saeHw = st.saeHw + (if (t > burn) math.abs(yv - fc) else 0L)
        val saeSn = st.saeSn + (if (t > burn) math.abs(yv - yold) else 0L)
        val l2 = math.floor(alpha * (yv - sold).toDouble +
          (1 - alpha) * (st.l + st.b).toDouble).toLong
        val b2 = math.floor(beta * (l2 - st.l).toDouble +
          (1 - beta) * st.b.toDouble).toLong
        val s2 = math.floor(gamma * (yv - l2).toDouble +
          (1 - gamma) * sold.toDouble).toLong
        emit(HwOut(t, day, l2, b2, saeHw, saeSn,
          if (saeSn > 0) Some(1000L * saeHw / saeSn) else None))
        HwState(t, l2, b2, st.s.updated(slot, s2), st.y.updated(slot, yv),
          saeHw, saeSn)
    }
  }

  final case class PhState(t: Long, cum: Long, m: Long, minM: Long)
  final case class PhOut(
      t: Long, day: Long, m: Long, ph: Long, lambda_cents: Long,
      alert: Boolean)

  /** Streaming Page–Hinkley mean-shift monitor — the stateful twin of
    * q402 ([[graft.operators.Forecast.q402PageHinkley]]) over the
    * event stream's daily cent sums: as each day closes (the
    * [[dayFold]] contract), the detector
    * advances the IDENTICAL exact integer prefix chain as the batch
    * fold — x̄_t = cum div t (truncating on non-negative), m_t =
    * Σ(x_i − x̄_i), ph_t = m_t − min_{s≤t} m_s — so every emitted
    * (t, m, ph) is bit-equal to the batch recursion through that day.
    * The one deliberate divergence: the batch alarms against λ = 20%
    * of the WHOLE-SPAN daily mean (it sees the full history); a live
    * monitor cannot, so it alarms against the same 20% of the
    * RUNNING mean (λ_t = (cum div t) div 5) — the end-of-stream λ_n
    * equals the batch λ exactly, and the spec pins both the prefix
    * identities and that terminal agreement.
    *
    * State is O(1): six longs on a single monitor key — nothing grows
    * with stream length. */
  def phMonitor(spark: SparkSession,
      events: Dataset[AsofEvent]): Dataset[PhOut] = {
    import spark.implicits._
    dayFold[Long, PhState, PhOut](events, _ => 0L, PhState(0L, 0L, 0L, Long.MaxValue)) {
      (_, day, cents, st, emit) =>
        val t = st.t + 1
        val cum = st.cum + cents
        val term = cents - cum / t // non-negative cum: exact batch div
        val m = st.m + term
        val minM = math.min(st.minM, m) // inclusive, like the batch
        val ph = m - minM
        val lambda = (cum / t) / 5
        emit(PhOut(t, day, m, ph, lambda, ph > lambda))
        PhState(t, cum, m, minM)
    }
  }

  final case class VbtState(
      prevRev: Long, hasPrev: Boolean, n: Long, x: Long, prevV: Int,
      n00: Long, n01: Long, n10: Long, n11: Long)
  final case class VbtOut(
      n: Long, day: Long, loss_cents: Long, violation: Boolean,
      n_violations: Long, lr_pof_milli: Option[Long],
      n01: Long, n11: Long)

  /** Streaming VaR backtest — the stateful twin of q412/q413
    * ([[graft.operators.FinanceAudit.q412KupiecPof]] /
    * [[graft.operators.FinanceAudit.q413Christoffersen]]) run LIVE
    * against a FIXED VaR level (the deployed model's number — the
    * batch pair re-estimates it from the first half; a live monitor
    * holds the production parameter): each day close yields the
    * day-over-day loss, its violation bit, the violation count, the
    * Markov transition counts, and the running Kupiec LR through the
    * SAME guarded IEEE chain as the batch oracle — so a desk watches
    * coverage decay the day it starts, not at quarter end.
    *
    * Exactness: losses/violations/transition counts are exact
    * integers advanced per closed day (the [[dayFold]] contract);
    * the LR at each step equals
    * the batch chain evaluated on the prefix (n, x) — the spec pins
    * bit-equality against the replayed recursion and the terminal
    * batch formula. State is O(1): eleven scalars. */
  def varBacktestMonitor(spark: SparkSession, events: Dataset[AsofEvent],
      varCents: Long): Dataset[VbtOut] = {
    import spark.implicits._

    def lrPof(n: Long, x: Long): Option[Long] =
      if (n == 0) None
      else {
        val nd = n.toDouble; val xd = x.toDouble
        val lr = -2.0 * ((nd - xd) * math.log(0.95) + xd * math.log(0.05)
          - (if (x < n) (nd - xd) * math.log(1.0 - xd / nd) else 0.0)
          - (if (x > 0) xd * math.log(xd / nd) else 0.0))
        Some(math.floor(1000.0 * lr).toLong)
      }

    dayFold[Long, VbtState, VbtOut](events, _ => 0L,
        VbtState(0L, hasPrev = false, 0L, 0L, -1, 0L, 0L, 0L, 0L)) {
      (_, day, cents, st, emit) =>
        if (!st.hasPrev) st.copy(prevRev = cents, hasPrev = true)
        else {
          val loss = st.prevRev - cents
          val v = loss > varCents
          val n = st.n + 1
          val x = st.x + (if (v) 1L else 0L)
          val (b00, b01, b10, b11) = st.prevV match {
            case 0 => (if (!v) 1L else 0L, if (v) 1L else 0L, 0L, 0L)
            case 1 => (0L, 0L, if (!v) 1L else 0L, if (v) 1L else 0L)
            case _ => (0L, 0L, 0L, 0L) // first backtest day: no transition
          }
          val next = VbtState(cents, hasPrev = true, n, x, if (v) 1 else 0,
            st.n00 + b00, st.n01 + b01, st.n10 + b10, st.n11 + b11)
          emit(VbtOut(n, day, loss, v, x, lrPof(n, x), next.n01, next.n11))
          next
        }
    }
  }

  final case class SeriesState(days: Seq[Long], revs: Seq[Long])

  /** [[dayFold]] over the closed (day, cent-sum) series: each day close
    * appends the day and hands the whole closed series to `stat`. */
  private def closedSeries[O: Encoder](spark: SparkSession, events: Dataset[AsofEvent])(
      stat: (IndexedSeq[Long], IndexedSeq[Long]) => Option[O]): Dataset[O] = {
    import spark.implicits._
    dayFold[Long, SeriesState, O](events, _ => 0L, SeriesState(Vector.empty, Vector.empty)) {
      (_, day, rev, st, emit) =>
        val next = SeriesState(st.days :+ day, st.revs :+ rev)
        stat(next.days.toIndexedSeq, next.revs.toIndexedSeq).foreach(emit)
        next
    }
  }
  final case class PettittOut(
      n_days: Long, day: Long, k_stat: Long, change_day: Long,
      p_micro: Long)

  /** Streaming Pettitt changepoint monitor — the stateful twin of
    * q414 ([[graft.operators.Forecast.q414Pettitt]]) over the event
    * stream's daily cent sums: as each day closes (the [[dayFold]]
    * contract, via [[closedSeries]]), the monitor
    * recomputes the EXACT batch rank chain on the closed prefix —
    * doubled midranks off the (value, count) domain, the cumulative
    * U_t = Σd2 − t(n+1) walk, K = max_{t<n}|U_t|, the argmax day,
    * and the one-IEEE-chain p — so each emitted row is bit-equal to
    * the batch statistic evaluated on exactly the days closed so
    * far (terminal row = the full-series batch answer).
    *
    * State is CALENDAR-bounded, not stream-bounded: the closed
    * (day, rev) series — global ranks are inherently a full-series
    * statistic, so O(n_days) state is the information-theoretic
    * floor for an exact Pettitt (contrast [[phMonitor]]'s O(1)
    * sequential detector); events per day still fold into one
    * accumulator, so state never grows with event volume. Per-close
    * recompute is O(n_days log n_days) on ≤ thousands of days. */
  def pettittMonitor(spark: SparkSession,
      events: Dataset[AsofEvent]): Dataset[PettittOut] = {
    import spark.implicits._

    def stat(days: IndexedSeq[Long], revs: IndexedSeq[Long]): Option[PettittOut] = {
      val n = revs.length
      if (n < 2) None
      else {
        // doubled midranks via the (value, count) domain — the q414 d2
        val counts = revs.groupBy(identity).map { case (v, g) => (v, g.length.toLong) }
        val sortedVals = counts.keys.toArray.sorted
        var cum = 0L
        val d2 = collection.mutable.Map.empty[Long, Long]
        for (v <- sortedVals) {
          val c = counts(v)
          cum += c
          d2(v) = 2L * (cum - c) + c + 1L
        }
        var cumd = 0L
        val us = new Array[Long](n)
        for (t <- 1 to n) {
          cumd += d2(revs(t - 1))
          us(t - 1) = cumd - t.toLong * (n + 1L)
        }
        // K over t < n (batch `WHERE uu.t < nn.n`); the argmax-day
        // scan runs over ALL t (the batch pk CTE is unrestricted —
        // it only matters when K = 0, where |U_n| = 0 ties)
        val kStat = (1 until n).map(t => math.abs(us(t - 1))).max
        var changeDay = Long.MaxValue
        for (t <- 1 to n)
          if (math.abs(us(t - 1)) == kStat)
            changeDay = math.min(changeDay, days(t - 1))
        val nd = n.toDouble
        val p = math.floor(1000000.0 * 2.0 *
          math.exp(-6.0 * kStat.toDouble * kStat.toDouble /
            (nd * nd * nd + nd * nd))).toLong
        Some(PettittOut(n.toLong, days(n - 1), kStat, changeDay, p))
      }
    }

    closedSeries(spark, events)(stat)
  }

  final case class CusumSqOut(
      n_days: Long, day: Long, break_day: Long, d_micro: Long,
      band_micro: Long, reject_5pct: Boolean)

  /** Streaming CUSUM-of-squares stability monitor — the stateful
    * twin of q417 ([[graft.operators.Forecast.q417CusumSquares]]):
    * each day close refits the prefix OLS (the exact DECIMAL-moment
    * → milli-floored coefficient chain of the batch), rebuilds the
    * exact integer residual-square walk, and emits the maximum
    * diagonal gap D, its argmax day, and the 0.948/√n band — every
    * row bit-equal to the batch statistic on the closed prefix
    * (terminal row = the full-series batch answer).
    *
    * Like [[pettittMonitor]], state is the CALENDAR-bounded closed
    * (day, rev) series: residuals depend on the refitted whole-prefix
    * trend, so an exact monitor cannot compress below the series
    * itself; events per day fold into one accumulator. BigInt
    * arithmetic mirrors DECIMAL(38)/HUGEINT exactly. */
  def cusumSqMonitor(spark: SparkSession,
      events: Dataset[AsofEvent]): Dataset[CusumSqOut] = {
    import spark.implicits._

    def stat(days: IndexedSeq[Long], revs: IndexedSeq[Long]): Option[CusumSqOut] = {
      val n = revs.length
      if (n < 2) None
      else {
        val nB = BigInt(n)
        var st, stt, sy, sty = BigInt(0)
        for (t <- 1 to n) {
          val tB = BigInt(t); val yB = BigInt(revs(t - 1))
          st += tB; stt += tB * tB; sy += yB; sty += tB * yB
        }
        val bMilli = math.floor(1000.0 *
          ((nB.toDouble * sty.toDouble - st.toDouble * sy.toDouble) /
            (nB.toDouble * stt.toDouble - st.toDouble * st.toDouble))).toLong
        val aMilli = math.floor(
          (1000.0 * sy.toDouble - bMilli.toDouble * st.toDouble) /
            nB.toDouble).toLong
        var cu = BigInt(0)
        val cus = new Array[BigInt](n)
        for (t <- 1 to n) {
          val e = BigInt(1000L) * revs(t - 1) - aMilli - BigInt(bMilli) * t
          cu += (e * e) / BigInt(1000000000L) // e² ≥ 0: floor = trunc
          cus(t - 1) = cu
        }
        val tu = cu
        if (tu <= 0) None
        else {
          var gmax = BigInt(-1)
          var breakDay = Long.MaxValue
          for (t <- 1 to n) {
            val g = (nB * cus(t - 1) - BigInt(t) * tu).abs
            if (g > gmax) { gmax = g; breakDay = days(t - 1) }
            else if (g == gmax) breakDay = math.min(breakDay, days(t - 1))
          }
          val dMicro = ((BigInt(1000000L) * gmax) / (nB * tu)).toLong
          val band = math.floor(1000000.0 * 0.948 / math.sqrt(n.toDouble)).toLong
          Some(CusumSqOut(n.toLong, days(n - 1), breakDay, dMicro, band,
            dMicro > band))
        }
      }
    }

    closedSeries(spark, events)(stat)
  }

  final case class ObfState(
      seen: Long, x: Long, lookIdx: Int, lastMicros: Long, lastId: Long)
  final case class ObfOut(
      look: Long, n_events: Long, n_purchases: Long, z_milli: Long,
      bound_milli: Long, cross_bound: Long)

  /** Streaming group-sequential monitor — the stateful twin of q444
    * ([[graft.operators.EventOps.q444ObrienFleming]]): the PLANNED
    * sample size is fixed up front (as a real group-sequential design
    * requires — the batch derives it as count(*); a live experiment
    * registers it before unblinding), and the monitor emits an
    * interim-look row the moment the stream's cumulative event count
    * crosses each O'Brien–Fleming look boundary k·N/5 — the
    * peeking-safe A/B readout AS the data arrives instead of at the
    * horizon.
    *
    * Exactness: the cumulative (events, purchases) counters are exact
    * integers; each look's z rides the IDENTICAL left-associated IEEE
    * chain as the batch oracle (1000·(x − nk·0.2)/√(nk·0.2·0.8),
    * floored to milli), so every emitted row is bit-equal to the
    * batch q444 row with the same look index — the spec pins the full
    * five-row agreement. Boundaries are the literal OBF K=5 milli
    * ints. State is O(1): five scalars.
    *
    * Look positions are RANK positions in the (ts, event_id) order —
    * an out-of-order event would silently shift every later look, so
    * the in-order contract is enforced loudly (the r10 day-close
    * lesson applied at birth). */
  def obfMonitor(spark: SparkSession, events: Dataset[AsofEvent],
      plannedN: Long): Dataset[ObfOut] = {
    import spark.implicits._
    val bounds = Array(4877L, 3357L, 2680L, 2290L, 2031L)
    val nks = Array.tabulate(5)(k => (k + 1) * plannedN / 5)
    orderedFold[Long, ObfState, ObfOut](events, _ => 0L,
        ObfState(0L, 0L, 0, Long.MinValue, Long.MinValue)) {
      (_, prev, e, emit) =>
        val m = micros(e.ts)
        if (m < prev.lastMicros || (m == prev.lastMicros && e.event_id <= prev.lastId))
          throw new IllegalStateException(
            s"look-rank contract violated: event ${e.event_id} arrives " +
              s"out of (ts, event_id) order — look positions would shift")
        var st = prev.copy(
          seen = prev.seen + 1,
          x = prev.x + (if (e.event_type == "purchase") 1L else 0L),
          lastMicros = m, lastId = e.event_id)
        while (st.lookIdx < 5 && st.seen == nks(st.lookIdx)) {
          val k = st.lookIdx + 1
          val nk = nks(st.lookIdx)
          // the batch z chain verbatim: left-associated mult/div, one
          // floor — 1000.0 * (x - nk*0.2) binds before the / sqrt
          val z = math.floor(1000.0 * (st.x.toDouble - nk.toDouble * 0.2) /
            math.sqrt(nk.toDouble * 0.2 * 0.8)).toLong
          emit(ObfOut(k.toLong, nk, st.x, z, bounds(st.lookIdx),
            if (math.abs(z) > bounds(st.lookIdx)) 1L else 0L))
          st = st.copy(lookIdx = st.lookIdx + 1)
        }
        st
    }
  }

  /** Streaming n-gram novelty — the stateful twin of q386
    * ([[graft.operators.TextAnalysis.q386NgramNovelty]]) as a
    * first-seen monitor (the [[vocabNovelty]] pattern generalized to
    * the n = 1..5 md5-gram axis): explode every document into its
    * 1..5-gram md5 keys, keep each (n, gram)'s FIRST arrival
    * (watermarked streaming dedup — state bounded by the horizon,
    * the documented [[vocabNovelty]] tradeoff), and count survivors
    * per (tumbling window, n). The per-n novel-type curve is q386's
    * novelty signal as a live feed: a contamination event (test set
    * leaking into training) shows as the high-n novelty rate
    * collapsing. Docs shorter than 5 tokens drop, mirroring the
    * batch length filter. */
  def ngramNovelty(docs: DataFrame, windowLen: String, delay: String): DataFrame = {
    val gramsExpr = (1 to 5).map(n =>
      s"transform(sequence(1, size(toks) - ${n - 1}), i_ -> " +
        s"struct($n AS n, md5(array_join(slice(toks, i_, $n), ' ')) AS g))")
      .mkString("flatten(array(", ", ", "))")
    docs.select(col("ts"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 5)
      .select(col("ts"), explode(expr(gramsExpr)).as("ng"))
      .select(col("ts"), col("ng.n").as("n"), col("ng.g").as("g"))
      .withWatermark("ts", delay)
      .dropDuplicatesWithinWatermark("n", "g")
      .groupBy(window(col("ts"), windowLen).as("w"), col("n"))
      .agg(count(lit(1)).as("n_new_types"))
      .select(col("w.start").as("window_start"),
        col("n").cast("bigint").as("n"), col("n_new_types"))
  }
}
