package graft.streaming

import java.sql.Timestamp

import graft.TestSpark
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQueryException}
import org.scalatest.funsuite.AnyFunSuite

/** MemoryStream-driven tests for the streaming twins (SURVEY.md §5):
  * watermarked dedup, tumbling counts, custom-state sessionization. */
class StreamOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // keep test event times away from epoch 0: the state-store late-row
  // filter drops rows at event-time <= the initial watermark (0)
  private val Base = 1700000400000L // divisible by 10 min: aligned windows
  private def ts(minutes: Long): Timestamp = new Timestamp(Base + minutes * 60000L)

  test("dedupByKey keeps first arrival of each surrogate key") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, Timestamp)]
    val df = in.toDF().toDF("surrogate_key", "ts")
    val q = StreamOps.dedupByKey(df, "surrogate_key", "ts", "10 minutes")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(("k1", ts(0)), ("k2", ts(1)), ("k1", ts(2)))
      q.processAllAvailable()
      in.addData(("k2", ts(3)), ("k3", ts(4)))
      q.processAllAvailable()
      val keys = spark.table("dedup_out").select("surrogate_key")
        .as[String].collect().sorted.toSeq
      assert(keys == Seq("k1", "k2", "k3"))
    } finally q.stop()
  }

  test("tumblingCounts emits finalized windows once the watermark passes") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String, Double)]
    val df = in.toDF().toDF("ts", "event_type", "value")
    val q = StreamOps.tumblingCounts(df, "ts", "10 minutes", "5 minutes")
      .writeStream.format("memory").queryName("tumble_out")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData((ts(1), "click", 1.0), (ts(4), "click", 2.0), (ts(12), "view", 5.0))
      q.processAllAvailable()
      // advance watermark past window [0,10): 26 - 5 > 10
      in.addData((ts(26), "view", 1.0))
      q.processAllAvailable()
      val rows = spark.table("tumble_out")
        .select("window_start", "event_type", "n", "total")
        .collect().map(r => ((r.getTimestamp(0).getTime - Base) / 60000, r.getString(1), r.getLong(2), r.getDouble(3)))
      assert(rows.contains((0L, "click", 2L, 3.0)))
    } finally q.stop()
  }

  test("countMinWindowed: a closed window's grid equals the batch grid over the same rows") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String)]
    val df = in.toDF().toDF("ts", "tok")
    val q = StreamOps.countMinWindowed(df, "ts", "10 minutes", "5 minutes", d = 4)
      .writeStream.format("memory").queryName("cms_out")
      .outputMode(OutputMode.Append).start()
    val window1 = Seq((ts(1), "alpha"), (ts(2), "beta"), (ts(4), "alpha"),
      (ts(7), "gamma"), (ts(9), "alpha"))
    try {
      in.addData(window1: _*)
      q.processAllAvailable()
      in.addData((ts(26), "later")) // advance watermark past [0,10)
      q.processAllAvailable()
      val got = spark.table("cms_out")
        .filter(col("window_start") === ts(0))
        .select("r", "bucket", "cnt")
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSet
      val batch = graft.operators.Sketches
        .withCmsBuckets(window1.toDF("ts", "tok"), 4)
        .groupBy(col("r"), col("bucket")).agg(count(lit(1)).as("cnt"))
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSet
      assert(got == batch, s"stream $got vs batch $batch")
      // the grid answers point queries exactly like the batch sketch:
      // min over alpha's 4 buckets = alpha's true count (no collision
      // among 4 tokens is overwhelmingly likely and pinned here)
      val gridMin = (0 until 4).map { r =>
        val b = graft.operators.Sketches.cmsBucket(r, lit("alpha"))
        val bucket = spark.range(1).select(b.as("b")).head().getInt(0)
        got.collectFirst { case (`r`, `bucket`, c) => c }.getOrElse(0L)
      }.min
      assert(gridMin == 3L, s"alpha estimate $gridMin")
    } finally q.stop()
  }

  test("variantWindowed parses once, nulls malformed/non-numeric, agrees with batch") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String, String)]
    val df = in.toDF().toDF("ts", "event_type", "props")
    val q = StreamOps.variantWindowed(df, "ts", "10 minutes", "5 minutes")
      .writeStream.format("memory").queryName("variant_out")
      .outputMode(OutputMode.Append).start()
    val data = Seq(
      (ts(1), "click", """{"k": 7}"""),
      (ts(3), "click", """{"k": "abc"}"""), // non-numeric -> null k
      (ts(4), "click", """not json at all"""), // malformed -> null variant
      (ts(6), "view", """{"k": 35}"""))
    try {
      in.addData(data: _*)
      q.processAllAvailable()
      in.addData((ts(26), "view", """{}""")) // advance watermark past [0,10)
      q.processAllAvailable()
      val streamed = spark.table("variant_out")
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2),
          r.getLong(3), if (r.isNullAt(4)) -1L else r.getLong(4))).toSet
      // the batch twin over the same finalized-window rows
      val batch = data.toDF("ts", "event_type", "props")
        .withColumn("v", try_parse_json(col("props")))
        .withColumn("k", expr("try_variant_get(v, '$.k', 'bigint')"))
        .groupBy(window(col("ts"), "10 minutes").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), count(col("k")).as("n_k"), sum(col("k")).as("sum_k"))
        .collect().map(r => (r.getStruct(0).getTimestamp(0), r.getString(1),
          r.getLong(2), r.getLong(3), if (r.isNullAt(4)) -1L else r.getLong(4))).toSet
      assert(streamed == batch, s"stream=$streamed batch=$batch")
      // the try_ semantics themselves: 3 click events, only 1 numeric k
      assert(streamed.exists(t => t._2 == "click" && t._3 == 3L && t._4 == 1L && t._5 == 7L))
    } finally q.stop()
  }

  test("slidingCounts finalized windows agree with the batch sliding aggregation") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String, Double)]
    val data = Seq(
      (ts(1), "click", 1.0), (ts(4), "click", 2.0), (ts(7), "view", 5.0),
      (ts(12), "click", 3.0))
    val df = in.toDF().toDF("ts", "event_type", "value")
    val q = StreamOps.slidingCounts(df, "ts", "10 minutes", "5 minutes", "5 minutes")
      .writeStream.format("memory").queryName("slide_out")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(data: _*)
      q.processAllAvailable()
      in.addData((ts(60), "view", 1.0)) // watermark far past every data window
      q.processAllAvailable()
      val got = spark.table("slide_out")
        .select("window_start", "event_type", "n", "total")
        .collect()
        .map(r => ((r.getTimestamp(0).getTime - Base) / 60000, r.getString(1), r.getLong(2), r.getDouble(3)))
        .toSet
      // batch twin over the same rows (ignore the watermark-advancing tick)
      import org.apache.spark.sql.functions._
      val batch = data.toDF("ts", "event_type", "value")
        .groupBy(window(col("ts"), "10 minutes", "5 minutes").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("value").cast("decimal(18,2)")).cast("double").as("total"))
        .select(col("w.start").as("window_start"), col("event_type"), col("n"), col("total"))
        .collect()
        .map(r => ((r.getTimestamp(0).getTime - Base) / 60000, r.getString(1), r.getLong(2), r.getDouble(3)))
        .toSet
      assert(batch.subsetOf(got), s"missing: ${batch.diff(got)}")
      // every event lands in exactly width/slide = 2 windows
      assert(batch.toSeq.map(_._3).sum === data.size * 2)
    } finally q.stop()
  }

  test("streaming heavy hitters keep the Misra-Gries guarantee across triggers") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[(String, String)]
    val k = 3
    // skewed arrivals split across two triggers: 'a' is heavy (12/24),
    // 'b' borderline (6/24), c..h are singleton noise forcing evictions
    val chunk1 = Seq.fill(7)(("g1", "a")) ++ Seq.fill(3)(("g1", "b")) ++
      Seq(("g1", "c"), ("g1", "d"), ("g1", "e"))
    val chunk2 = Seq.fill(5)(("g1", "a")) ++ Seq.fill(3)(("g1", "b")) ++
      Seq(("g1", "f"), ("g1", "g"), ("g1", "h"))
    val q = StreamOps.heavyHitters(spark, in.toDS(), k)
      .toDF("group", "summary")
      .writeStream.format("memory").queryName("hh_out")
      .outputMode(OutputMode.Update).start()
    try {
      in.addData(chunk1: _*); q.processAllAvailable()
      in.addData(chunk2: _*); q.processAllAvailable()
      val all = chunk1 ++ chunk2
      val n = all.size
      val freq = all.groupBy(_._2).view.mapValues(_.size.toLong).toMap
      // memory sink in Update mode appends a row per trigger: the last
      // row for g1 is the final state
      val last = spark.table("hh_out").collect()
        .filter(_.getString(0) == "g1").last
        .getMap[String, Long](1)
      assert(last.size <= k, last.toString)
      val bound = n.toDouble / (k + 1)
      freq.filter(_._2 > bound).keys.foreach { heavy =>
        assert(last.contains(heavy), s"heavy '$heavy' missing from $last")
      }
      last.foreach { case (item, est) =>
        val t = freq(item)
        assert(est <= t && est >= t - bound, s"$item: est=$est true=$t bound=$bound")
      }
    } finally q.stop()
  }

  test("eventsFileStream: real events parquet streams through the tumbling agg") {
    // stage the driver-generated events file (TIMESTAMP NANOS) as a
    // stream directory; AvailableNow drains it as one epoch
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-src")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("/root/testdata/sf0.001/events.parquet"),
      dir.resolve("batch0.parquet"))
    val in = StreamOps.eventsFileStream(spark, dir.toString)
    assert(in.isStreaming)
    val q = StreamOps.tumblingCounts(in, "ts", "1 hour", "10 minutes")
      .writeStream.format("memory").queryName("file_stream_out")
      .outputMode(OutputMode.Append)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try {
      q.awaitTermination(120000)
      // append mode emits only watermark-closed windows; the final
      // (open) window is withheld — compare against the batch twin
      // restricted to closed windows
      val streamed = spark.table("file_stream_out")
        .select("window_start", "event_type", "n")
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
      val events = graft.Tables.events(spark, "/root/testdata/sf0.001")
      val maxTs = events.agg(max(col("ts"))).head().getTimestamp(0)
      val closed = events
        .select(date_trunc("hour", col("ts")).as("w"), col("event_type"))
        .groupBy("w", "event_type").agg(count(lit(1)).as("n"))
        .filter(col("w") + expr("INTERVAL 70 minutes") <= lit(maxTs))
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
      assert(closed.nonEmpty)
      assert(closed.subsetOf(streamed),
        s"missing windows: ${closed -- streamed}")
    } finally q.stop()
  }

  test("eventsFileStream dispatches the legacy nanos layout identically") {
    // the nanos layout reaches Spark as a LongType ts column (via
    // nanosAsLong); writing raw epoch-nano BIGINTs reproduces that
    // schema exactly, so this pins the dispatch's other branch against
    // the micros branch over the same rows
    import spark.implicits._
    val src = java.nio.file.Files.createTempDirectory("graft-nanos-src")
    val ev = graft.Tables.events(spark, "/root/testdata/sf0.001")
      .select(col("event_id"), unix_micros(col("ts")) * 1000,
        col("user_id"), col("event_type"), col("value"), col("props"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    ev.coalesce(1).write.mode("overwrite").parquet(src.toString)
    val in = StreamOps.eventsFileStream(spark, src.toString)
    assert(in.isStreaming)
    assert(in.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    val q = StreamOps.tumblingCounts(in, "ts", "1 hour", "10 minutes")
      .writeStream.format("memory").queryName("nanos_stream_out")
      .outputMode(OutputMode.Append)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try {
      q.awaitTermination(120000)
      val streamed = spark.table("nanos_stream_out")
        .select("window_start", "event_type", "n")
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
      val events = graft.Tables.events(spark, "/root/testdata/sf0.001")
      val maxTs = events.agg(max(col("ts"))).head().getTimestamp(0)
      val closed = events
        .select(date_trunc("hour", col("ts")).as("w"), col("event_type"))
        .groupBy("w", "event_type").agg(count(lit(1)).as("n"))
        .filter(col("w") + expr("INTERVAL 70 minutes") <= lit(maxTs))
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
      assert(closed.nonEmpty)
      assert(closed.subsetOf(streamed), s"missing: ${closed -- streamed}")
    } finally q.stop()
  }

  test("eventsFileStream declares over an EMPTY directory (producers write later)") {
    // the standard file-source pattern: start the reader before any
    // producer has written — schema sniffing must fall back (to the
    // legacy nanos layout), not throw, and the stream must then drain
    // files that arrive after declaration
    val src = java.nio.file.Files.createTempDirectory("graft-empty-src")
    val in = StreamOps.eventsFileStream(spark, src.toString) // must not throw
    assert(in.isStreaming)
    assert(in.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    // producer arrives: nanos-layout rows (raw epoch-nano BIGINTs)
    val ev = graft.Tables.events(spark, "/root/testdata/sf0.001")
      .select(col("event_id"), unix_micros(col("ts")) * 1000,
        col("user_id"), col("event_type"), col("value"), col("props"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    ev.coalesce(1).write.mode("overwrite").parquet(src.toString)
    val q = StreamOps.tumblingCounts(in, "ts", "1 hour", "10 minutes")
      .writeStream.format("memory").queryName("empty_dir_stream_out")
      .outputMode(OutputMode.Append)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try {
      q.awaitTermination(120000)
      assert(spark.table("empty_dir_stream_out").count() > 0)
    } finally q.stop()
  }

  /** Driver events file as in-ts-order AsofEvents, split into `chunks`
    * consecutive batches (in-order arrival — the agreement contract). */
  private def eventChunks(chunks: Int): Seq[Seq[StreamOps.AsofEvent]] = {
    val all = graft.Tables.events(spark, "/root/testdata/sf0.001")
      .select("user_id", "ts", "event_type", "value", "event_id")
      .orderBy("ts", "event_id")
      .collect()
      .map(r => StreamOps.AsofEvent(r.getLong(0), r.getTimestamp(1),
        r.getString(2), r.getDouble(3), r.getLong(4)))
      .toSeq
    val per = (all.size + chunks - 1) / chunks
    all.grouped(per).toSeq
  }

  test("asofEnrich agrees with the batch as-of join on the driver events file") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[StreamOps.AsofEvent]
    // effectively-unbounded state TTL: the batch as-of matches clicks
    // arbitrarily far back, so the agreement run must not expire state
    val q = StreamOps.asofEnrich(spark, in.toDS(), ttlMs = Long.MaxValue / 4)
      .writeStream.format("memory").queryName("asof_out")
      .outputMode(OutputMode.Append).start()
    try {
      eventChunks(3).foreach { chunk => in.addData(chunk); q.processAllAvailable() }
      // aggregate the per-purchase matches to the batch query's shape
      val streamed = spark.table("asof_out")
        .groupBy("user_id")
        .agg(
          count(lit(1)).as("n_purchases"),
          count(col("click_us")).as("n_matched"),
          sum(col("gap_us")).as("total_gap_us"),
          round(sum(coalesce(col("click_val"), lit(0)).cast("decimal(18,2)")), 2)
            .cast("double").as("click_val"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) null else r.getLong(3), r.getDouble(4))).toSet
      val batch = graft.operators.EventOps.q53AsofJoin
        .build(spark, "/root/testdata/sf0.001")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) null else r.getLong(3), r.getDouble(4))).toSet
      assert(streamed == batch,
        s"stream-batch: ${streamed -- batch}; batch-stream: ${batch -- streamed}")
    } finally q.stop()
  }

  test("rollingZscore agrees with the batch q113 on the driver events file") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[StreamOps.AsofEvent]
    val q = StreamOps.rollingZscore(spark, in.toDS())
      .writeStream.format("memory").queryName("zscore_out")
      .outputMode(OutputMode.Append).start()
    try {
      eventChunks(3).foreach { chunk => in.addData(chunk); q.processAllAvailable() }
      val streamed = spark.table("zscore_out")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      val batch = graft.operators.EventOps.q113RollingZscore
        .build(spark, "/root/testdata/sf0.001")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(batch.nonEmpty)
      assert(streamed == batch,
        s"stream-batch: ${streamed -- batch}; batch-stream: ${batch -- streamed}")
    } finally q.stop()
  }

  test("cusum agrees with the batch prefix-sum/running-min closed form") {
    implicit val sqlCtx = spark.sqlContext
    // baseline below the generator's mean (~50k milli) so the drift
    // accumulates and the alarm branch is exercised, not just the
    // quiet path
    val (mu, k, h) = (25000L, 2500L, 250000L)
    val in = MemoryStream[StreamOps.AsofEvent]
    val q = StreamOps.cusum(spark, in.toDS(), mu, k, h)
      .writeStream.format("memory").queryName("cusum_out")
      .outputMode(OutputMode.Append).start()
    try {
      eventChunks(3).foreach { chunk => in.addData(chunk); q.processAllAvailable() }
      val streamed = spark.table("cusum_out")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getBoolean(4))).toSet
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      val batch = graft.Tables.events(spark, "/root/testdata/sf0.001")
        .select(col("user_id"), col("event_id"),
          floor(col("value") * 1000).cast("bigint").as("v"),
          col("ts"))
        .withColumn("pf", sum(col("v") - mu - k).over(w))
        .withColumn("cusum", col("pf") -
          org.apache.spark.sql.functions.least(lit(0L),
            org.apache.spark.sql.functions.min(col("pf")).over(w)))
        .select(col("user_id"), col("event_id"), col("v"), col("cusum"),
          (col("cusum") > h).as("alarm"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getBoolean(4))).toSet
      assert(batch.nonEmpty)
      assert(batch.exists(_._5), "fixture should trip at least one alarm")
      assert(streamed == batch,
        s"stream-batch: ${(streamed -- batch).take(5)}; batch-stream: ${(batch -- streamed).take(5)}")
    } finally q.stop()
  }

  test("sprt monitor agrees with the batch cumulative LLR per event type") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[StreamOps.AsofEvent]
    val q = StreamOps.sprt(spark, in.toDS())
      .writeStream.format("memory").queryName("sprt_out")
      .outputMode(OutputMode.Append).start()
    try {
      eventChunks(3).foreach { chunk => in.addData(chunk); q.processAllAvailable() }
      val streamed = spark.table("sprt_out")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getString(5))).toSet
      // batch closed form: the same nano constants over per-type
      // cumulative (n, conversions) in (ts, event_id) order
      val k1 = math.floor(1e9 * math.log(1.25)).toLong
      val k2 = math.floor(1e9 * math.log(0.75 / 0.8)).toLong
      val bound = math.floor(1e9 * math.log(19.0)).toLong
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      val batch = graft.Tables.events(spark, "/root/testdata/sf0.001")
        .select(col("event_type"), col("event_id"), col("ts"),
          when(col("value") >= 200.0, 1L).otherwise(0L).as("conv"))
        .withColumn("n_cum", count(lit(1)).over(w))
        .withColumn("c_cum", sum(col("conv")).over(w))
        .withColumn("llr", col("c_cum") * k1 + (col("n_cum") - col("c_cum")) * k2)
        .select(col("event_type"), col("event_id"), col("n_cum"), col("c_cum"),
          col("llr"),
          when(col("llr") >= bound, "reject_h0")
            .when(col("llr") <= -bound, "accept_h0")
            .otherwise("continue").as("decision"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getString(5))).toSet
      assert(batch.nonEmpty)
      assert(batch.exists(_._6 != "continue"),
        "fixture should reach at least one decision boundary")
      assert(streamed == batch,
        s"stream-batch: ${(streamed -- batch).take(5)}; batch-stream: ${(batch -- streamed).take(5)}")
    } finally q.stop()
  }

  test("ewma agrees with a batch rank-join of the same dyadic smoother") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[StreamOps.AsofEvent]
    val q = StreamOps.ewma(spark, in.toDS())
      .writeStream.format("memory").queryName("ewma_out")
      .outputMode(OutputMode.Append).start()
    try {
      eventChunks(3).foreach { chunk => in.addData(chunk); q.processAllAvailable() }
      val streamed = spark.table("ewma_out")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      // batch reference: the q170 lag-join shape over the same events
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val r = graft.Tables.events(spark, "/root/testdata/sf0.001")
        .select(col("user_id"), col("event_id"),
          floor(col("value") * 1000).cast("bigint").as("v"),
          col("ts"))
        .withColumn("rn", org.apache.spark.sql.functions.row_number().over(w).cast("bigint"))
        .select(col("user_id"), col("event_id"), col("v"), col("rn"))
      val a = r.withColumn("d",
          org.apache.spark.sql.functions.explode(
            org.apache.spark.sql.functions.array((0 to 7).map(lit(_)): _*)))
        .select(col("user_id"), col("event_id"), col("v"), col("rn"),
          (col("rn") - col("d")).as("rn_src"),
          org.apache.spark.sql.functions.expr("cast(shiftleft(1, 7 - d) as bigint)").as("wgt"))
      val b = r.select(col("user_id"), col("rn").as("rn_src"), col("v").as("v_src"))
      val batch = a.join(b, Seq("user_id", "rn_src"))
        .groupBy(col("user_id"), col("event_id"), col("v"))
        .agg(sum(col("wgt") * col("v_src")).as("num"), sum(col("wgt")).as("den"))
        .select(col("user_id"), col("event_id"), col("v"),
          org.apache.spark.sql.functions.expr("num div den").as("ewma"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(batch.nonEmpty)
      assert(streamed == batch,
        s"stream-batch: ${(streamed -- batch).take(5)}; batch-stream: ${(batch -- streamed).take(5)}")
    } finally q.stop()
  }

  test("funnel stage counts agree with the batch funnel on the driver events file") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[StreamOps.AsofEvent]
    val q = StreamOps.funnel(spark, in.toDS())
      .writeStream.format("memory").queryName("funnel_out")
      .outputMode(OutputMode.Append).start()
    try {
      eventChunks(3).foreach { chunk => in.addData(chunk); q.processAllAvailable() }
      val streamed = spark.table("funnel_out")
        .groupBy("stage")
        .agg(count(lit(1)).as("n_users"), sum(col("gap_us")).as("total_gap_us"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      val batch = graft.operators.EventOps.q57Funnel
        .build(spark, "/root/testdata/sf0.001")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(streamed == batch,
        s"stream-batch: ${streamed -- batch}; batch-stream: ${batch -- streamed}")
    } finally q.stop()
  }

  test("touchAttribution agrees with the batch q142 attribution on the driver events file") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[StreamOps.AsofEvent]
    // unbounded TTL: the batch window looks back arbitrarily far
    val q = StreamOps.touchAttribution(spark, in.toDS(), ttlMs = Long.MaxValue / 4)
      .writeStream.format("memory").queryName("attr_out")
      .outputMode(OutputMode.Append).start()
    try {
      eventChunks(3).foreach { chunk => in.addData(chunk); q.processAllAvailable() }
      // fold the per-purchase emissions into q142's report shape
      val pur = spark.table("attr_out")
      val ft = pur.groupBy(col("ft_type").as("touch"))
        .agg(count(lit(1)).as("n_ft"), sum(col("v_milli")).as("rev_ft_milli"))
      val lt = pur.groupBy(col("lt_type").as("touch"))
        .agg(count(lit(1)).as("n_lt"), sum(col("v_milli")).as("rev_lt_milli"))
      val streamed = ft.join(lt, Seq("touch"), "full_outer")
        .select(col("touch"),
          coalesce(col("n_ft"), lit(0L)), coalesce(col("rev_ft_milli"), lit(0L)),
          coalesce(col("n_lt"), lit(0L)), coalesce(col("rev_lt_milli"), lit(0L)))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toSet
      val batch = graft.operators.EventOps.q142Attribution
        .build(spark, "/root/testdata/sf0.001")
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toSet
      assert(batch.nonEmpty)
      assert(streamed == batch,
        s"stream-batch: ${streamed -- batch}; batch-stream: ${batch -- streamed}")
    } finally q.stop()
  }

  test("dailyPeakConcurrency agrees with the batch q138 peaks on the driver events file") {
    implicit val sqlCtx = spark.sqlContext
    // the same 30-minute-gap session intervals the batch query derives
    val perUser = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val iv = graft.Tables.events(spark, "/root/testdata/sf0.001")
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("prev", lag(col("us"), 1).over(perUser))
      .withColumn("is_new",
        when(col("prev").isNull || col("us") - col("prev") > 1800000000L, 1).otherwise(0))
      .withColumn("sess", sum(col("is_new")).over(perUser))
      .groupBy(col("user_id"), col("sess"))
      .agg(min(col("us")).as("s_us"), max(col("us")).as("e_us"))
      .select(timestamp_micros(col("e_us")).as("ts"), col("s_us"), col("e_us"))
      .orderBy("e_us")
      .collect()
      .map(r => StreamOps.SessionInterval(r.getTimestamp(0), r.getLong(1), r.getLong(2)))
      .toSeq
    val in = MemoryStream[StreamOps.SessionInterval]
    val q = StreamOps.dailyPeakConcurrency(spark, in.toDS())
      .writeStream.format("memory").queryName("peak_out")
      .outputMode(OutputMode.Append).start()
    try {
      val per = (iv.size + 2) / 3
      iv.grouped(per).foreach { chunk => in.addData(chunk); q.processAllAvailable() }
      // a far-future sentinel day pushes the watermark past every real
      // day's end so all of them close and emit
      val lastUs = iv.map(_.e_us).max
      val sentinelUs = lastUs + 40L * 86400000000L
      in.addData(StreamOps.SessionInterval(
        new Timestamp(sentinelUs / 1000L), sentinelUs, sentinelUs))
      q.processAllAvailable()
      val sentinelDay = sentinelUs / 86400000000L
      val streamed = spark.table("peak_out")
        .filter(col("day") =!= sentinelDay)
        .select(date_add(lit("1970-01-01").cast("date"), col("day").cast("int")).as("d"),
          col("peak"))
        .collect().map(r => (r.getDate(0).toString, r.getLong(1))).toSet
      val batch = graft.operators.EventOps.q138PeakConcurrency
        .build(spark, "/root/testdata/sf0.001")
        .collect().map(r => (r.getDate(0).toString, r.getLong(1))).toSet
      assert(batch.nonEmpty)
      assert(streamed == batch,
        s"stream-batch: ${streamed -- batch}; batch-stream: ${batch -- streamed}")
    } finally q.stop()
  }

  test("vocabNovelty windows equal the batch first-appearance counts") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String)]
    val q = StreamOps.vocabNovelty(in.toDF().toDF("ts", "text"),
        windowLen = "10 minutes", delay = "1 hour")
      .writeStream.format("memory").queryName("nov_out")
      .outputMode(OutputMode.Append).start()
    try {
      // one doc per minute, ts derived from doc_id — in event order so
      // stream first-arrival == batch min(ts) per token
      val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
        .select("doc_id", "text").orderBy("doc_id")
        .collect().map(r => (ts(r.getLong(0)), r.getString(1))).toSeq
      val per = (docs.size + 2) / 3
      docs.grouped(per).foreach { chunk => in.addData(chunk); q.processAllAvailable() }
      // close the final windows
      in.addData((ts(docs.size + 900L), "sentinel_token_zzz"))
      q.processAllAvailable()
      val streamed = spark.table("nov_out")
        .collect().map(r => (r.getTimestamp(0).getTime, r.getLong(1)))
        .filter(_._2 > 0).toMap
      val batch = spark.createDataFrame(docs).toDF("ts", "text")
        .select(col("ts"), explode(split(col("text"), " ")).as("tok"))
        .groupBy("tok").agg(min(col("ts")).as("first_ts"))
        .groupBy(window(col("first_ts"), "10 minutes").as("w"))
        .agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getStruct(0).getTimestamp(0).getTime, r.getLong(1))).toMap
      // every batch window must appear with the identical count
      // (sentinel's window excluded — it may still be open)
      assert(batch.nonEmpty)
      for ((w, n) <- batch) assert(streamed.get(w).contains(n),
        s"window $w: stream=${streamed.get(w)} batch=$n")
    } finally q.stop()
  }

  test("qualityFilter streamed decisions reproduce the batch q146 yield per language") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String, String)]
    val q = StreamOps.qualityFilter(in.toDF().toDF("doc_id", "text", "lang"))
      .select("doc_id", "lang", "keep")
      .writeStream.format("memory").queryName("qf_out")
      .outputMode(OutputMode.Append).start()
    try {
      val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
        .select("doc_id", "text", "lang")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
      val per = (docs.size + 2) / 3
      docs.grouped(per).foreach { chunk => in.addData(chunk); q.processAllAvailable() }
      val streamed = spark.table("qf_out")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          count(when(col("keep"), 1)).as("n_kept"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      val batch = graft.operators.TextAnalysis.q146FilterYield
        .build(spark, "/root/testdata/sf0.001")
        .select("lang", "n_docs", "n_kept")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(batch.nonEmpty)
      assert(streamed == batch,
        s"stream-batch: ${streamed -- batch}; batch-stream: ${batch -- streamed}")
    } finally q.stop()
  }

  test("asofEnrich tie rules: same-ts click matches inclusively, max event_id wins") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[StreamOps.AsofEvent]
    val q = StreamOps.asofEnrich(spark, in.toDS())
      .writeStream.format("memory").queryName("asof_tie_out")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(
        // purchase with NO prior click -> unmatched
        StreamOps.AsofEvent(1L, ts(0), "purchase", 5.0, 10L),
        // two clicks at the identical ts: event_id 22 must win
        StreamOps.AsofEvent(1L, ts(5), "click", 1.0, 21L),
        StreamOps.AsofEvent(1L, ts(5), "click", 2.0, 22L),
        // purchase at the same ts as the clicks: inclusive match
        StreamOps.AsofEvent(1L, ts(5), "purchase", 9.0, 23L))
      q.processAllAvailable()
      val rows = spark.table("asof_tie_out").as[StreamOps.AsofMatch]
        .collect().sortBy(_.purchase_id)
      assert(rows.length == 2)
      assert(rows(0).click_us.isEmpty && rows(0).gap_us.isEmpty)
      assert(rows(1).click_val.contains(2.0) && rows(1).gap_us.contains(0L))
    } finally q.stop()
  }

  test("clickAttribution: stream-stream interval join bounds matches to the horizon") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[StreamOps.AsofEvent]
    val purchases = MemoryStream[StreamOps.AsofEvent]
    val joined = StreamOps.clickAttribution(
      clicks.toDF(), purchases.toDF(), delay = "10 minutes", horizon = "30 MINUTE")
    val q = joined.writeStream.format("memory").queryName("attr_out")
      .outputMode(OutputMode.Append).start()
    try {
      clicks.addData(
        StreamOps.AsofEvent(1L, ts(0), "click", 1.0, 100L),
        StreamOps.AsofEvent(1L, ts(40), "click", 2.0, 101L),
        StreamOps.AsofEvent(2L, ts(0), "click", 3.0, 102L))
      purchases.addData(
        StreamOps.AsofEvent(1L, ts(20), "purchase", 9.0, 200L), // 20m after click 100: in
        StreamOps.AsofEvent(1L, ts(55), "purchase", 8.0, 201L), // 15m after click 101: in; 55m after 100: out
        StreamOps.AsofEvent(2L, ts(45), "purchase", 7.0, 202L)) // 45m after click 102: out
      q.processAllAvailable()
      // advance both watermarks so all matches flush in append mode
      clicks.addData(StreamOps.AsofEvent(9L, ts(500), "click", 0.0, 900L))
      purchases.addData(StreamOps.AsofEvent(9L, ts(500), "purchase", 0.0, 901L))
      q.processAllAvailable()
      val got = spark.table("attr_out")
        .select("click_id", "purchase_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((100L, 200L), (101L, 201L), (900L, 901L)), got.toString)
    } finally q.stop()
  }

  test("jdbcIncrementalSink: streamed batches land exactly once per key") {
    implicit val sqlCtx = spark.sqlContext
    import graft.etl.{JdbcIo, SchemaInit}
    val target = JdbcIo.embeddedDerby(
      java.nio.file.Files.createTempDirectory("graft-stream-jdbc").toString + "/db")
    JdbcIo.initialize(spark, target, Seq(SchemaInit.TableSpec("sink", Seq(
      SchemaInit.ColumnSpec("surrogate_key", "String", length = 32, primaryKey = true),
      SchemaInit.ColumnSpec("payload", "String", length = 64)))))
    val in = MemoryStream[(String, String)]
    val ckpt = java.nio.file.Files.createTempDirectory("graft-stream-ckpt").toString
    val q = StreamOps.jdbcIncrementalSink(
      in.toDF().toDF("surrogate_key", "payload"), target, "sink", ckpt)
    try {
      in.addData(("k1", "a"), ("k2", "b"))
      q.processAllAvailable()
      // k2 replays in the next batch with different payload: must not re-append
      in.addData(("k2", "b-dup"), ("k3", "c"))
      q.processAllAvailable()
      val keys = JdbcIo.existingKeys(spark, target, "sink")
        .as[String].collect().sorted.toSeq
      assert(keys == Seq("k1", "k2", "k3"))
    } finally q.stop()
  }

  test("sessionizeDeclarative emits the same sessions as the custom-state build") {
    implicit val sqlCtx = spark.sqlContext
    val gapUs = 30L * 60 * 1000000
    // two sessions for user 7 (5-min pair, then a 2h-later single),
    // one for user 8; identical feed through both builds
    val data = Seq(
      StreamOps.SessionEvent(7L, ts(0), 1.0),
      StreamOps.SessionEvent(7L, ts(5), 2.0),
      StreamOps.SessionEvent(7L, ts(120), 4.0),
      StreamOps.SessionEvent(8L, ts(125), 1.0))
    val flush = StreamOps.SessionEvent(99L, ts(2000), 0.0)
    val inA = MemoryStream[StreamOps.SessionEvent]
    val qA = StreamOps.sessionize(spark, inA.toDS(), gapUs)
      .writeStream.format("memory").queryName("sess_custom")
      .outputMode(OutputMode.Append).start()
    val inB = MemoryStream[StreamOps.SessionEvent]
    val qB = StreamOps.sessionizeDeclarative(inB.toDS().toDF(), "ts", "30 minutes", "60 minutes")
      .writeStream.format("memory").queryName("sess_decl")
      .outputMode(OutputMode.Append).start()
    try {
      inA.addData(data: _*); qA.processAllAvailable()
      inA.addData(flush); qA.processAllAvailable()
      inB.addData(data: _*); qB.processAllAvailable()
      inB.addData(flush); qB.processAllAvailable()
      val custom = spark.table("sess_custom").as[StreamOps.SessionOut]
        .collect().filter(_.user_id != 99L)
        .map(s => (s.user_id, s.n_events, s.duration_us, s.total_value)).toSet
      // session_window.end = last event + gap: subtract the gap to
      // recover the custom build's last-minus-first duration
      val decl = spark.table("sess_decl").collect()
        .filter(_.getLong(0) != 99L)
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2) - gapUs,
          r.getDouble(3))).toSet
      assert(custom.nonEmpty, "custom build emitted nothing")
      assert(custom == decl, s"custom=$custom decl=$decl")
    } finally { qA.stop(); qB.stop() }
  }

  test("sessionize: a late event inside the watermark extends the session backward") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[StreamOps.SessionEvent]
    val gapUs = 30L * 60 * 1000000
    val q = StreamOps.sessionize(spark, in.toDS(), gapUs)
      .writeStream.format("memory").queryName("late_sess_out")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(StreamOps.SessionEvent(3L, ts(20), 2.0))
      q.processAllAvailable()
      // late arrival (t=10) still within the 1h watermark: must merge
      // BEFORE the existing state, not move last_us backward
      in.addData(StreamOps.SessionEvent(3L, ts(10), 1.0))
      q.processAllAvailable()
      // close by gap with a much later event
      in.addData(StreamOps.SessionEvent(3L, ts(300), 9.0))
      q.processAllAvailable()
      val sessions = spark.table("late_sess_out")
        .as[StreamOps.SessionOut].collect().filter(_.user_id == 3L)
      assert(sessions.exists(s =>
        s.n_events == 2 && s.duration_us == 10L * 60 * 1000000 && s.total_value == 3.0),
        s"got: ${sessions.toSeq}")
    } finally q.stop()
  }

  test("sessionize closes a session after the gap and aggregates it") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[StreamOps.SessionEvent]
    val gapUs = 30L * 60 * 1000000 // 30 min
    val q = StreamOps.sessionize(spark, in.toDS(), gapUs)
      .writeStream.format("memory").queryName("sess_out")
      .outputMode(OutputMode.Append).start()
    try {
      // user 7: two events 5 min apart -> one session of 2
      in.addData(
        StreamOps.SessionEvent(7L, ts(0), 1.0),
        StreamOps.SessionEvent(7L, ts(5), 2.0))
      q.processAllAvailable()
      // 2 hours later: previous session closed by gap; watermark advances
      in.addData(StreamOps.SessionEvent(7L, ts(120), 4.0))
      q.processAllAvailable()
      in.addData(StreamOps.SessionEvent(8L, ts(600), 1.0))
      q.processAllAvailable()
      val all = spark.table("sess_out").as[StreamOps.SessionOut].collect()
      info(s"emitted sessions: ${all.toSeq}")
      val sessions = all.filter(_.user_id == 7L)
      assert(sessions.exists(s =>
        s.n_events == 2 && s.duration_us == 5L * 60 * 1000000 && s.total_value == 3.0))
    } finally q.stop()
  }

  test("vwapBars finalized bars agree with the batch aggregation and drop unsized fills") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String, Double, String)]
    // one bar per type in [0,15): click has sizes 2 and 3 (vwap is
    // the size-weighted mean, closer to the size-3 price), view has
    // one sized fill plus a null-size and a zero-size row that must
    // NOT count toward volume or the average
    val data = Seq(
      (ts(1), "click", 3.5, """{"k": 2}"""),
      (ts(4), "click", 1.25, """{"k": 3}"""),
      (ts(2), "view", 7.0, """{"k": 4}"""),
      (ts(3), "view", 9.0, "not json"),
      (ts(5), "view", 9.0, """{"k": 0}"""))
    val df = in.toDF().toDF("ts", "event_type", "value", "props")
    val q = StreamOps.vwapBars(df, "ts", "15 minutes", "5 minutes")
      .writeStream.format("memory").queryName("vwap_out")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(data: _*)
      q.processAllAvailable()
      in.addData((ts(60), "view", 1.0, """{"k": 1}""")) // advance watermark
      q.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) =
        ((r.getTimestamp(0).getTime - Base) / 60000, r.getString(1),
          r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      val got = spark.table("vwap_out").collect().map(key).toSet
      val batch = data.toDF("ts", "event_type", "value", "props")
        .withColumn("p_m", floor(col("value") * 1000).cast("bigint"))
        .withColumn("k", expr("try_cast(get_json_object(props, '$.k') AS BIGINT)"))
        .filter(col("k").isNotNull && col("k") > 0)
        .groupBy(window(col("ts"), "15 minutes").as("w"), col("event_type"))
        .agg(sum(col("p_m") * col("k")).as("notional_m"),
          sum(col("k")).as("qty"), count(lit(1)).as("n_fills"))
        .select(col("w.start").as("window_start"), col("event_type"),
          col("qty"), col("notional_m"),
          expr("notional_m div qty").as("vwap_m"), col("n_fills"))
        .collect().map(key).toSet
      assert(batch.subsetOf(got), s"missing: ${batch.diff(got)}")
      // click: notional 3500*2 + 1250*3 = 10750 over qty 5 → vwap 2150
      assert(got.exists(t =>
        t._2 == "click" && t._3 == 5L && t._4 == 10750L && t._5 == 2150L))
      // view: only the sized fill counts — qty 4, vwap 7000, 1 fill
      assert(got.exists(t =>
        t._2 == "view" && t._3 == 4L && t._5 == 7000L && t._6 == 1L))
    } finally q.stop()
  }

  test("entropyMonitor finalized windows hit the closed-form mix entropies") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String)]
    // window [0,15): pure clicks -> H = 0; window [15,30): a 2+2 mix
    // of click/view -> H = ln 2 = 0.6931 -> floor to 693 milli-nats
    val data = Seq(
      (ts(1), "click"), (ts(4), "click"), (ts(9), "click"),
      (ts(16), "click"), (ts(17), "view"), (ts(20), "click"), (ts(22), "view"))
    val df = in.toDF().toDF("ts", "event_type")
    val q = StreamOps.entropyMonitor(df, "ts", "15 minutes", "5 minutes")
      .writeStream.format("memory").queryName("entropy_out")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(data: _*)
      q.processAllAvailable()
      in.addData((ts(60), "view"))
      q.processAllAvailable()
      val got = spark.table("entropy_out").collect()
        .map(r => ((r.getTimestamp(0).getTime - Base) / 60000,
          r.getLong(1), r.getLong(2))).toSet
      // 15-min windows align to epoch, not to Base — assert on the
      // (count, entropy) content, not absolute window starts
      assert(got.exists(t => t._2 == 3L && t._3 == 0L),
        s"pure window not at H=0: $got")
      assert(got.exists(t => t._2 == 4L && t._3 == 693L),
        s"ln2 window off: $got")
      // agreement with the batch expression over the same rows
      val batch = data.toDF("ts", "event_type")
        .groupBy(window(col("ts"), "15 minutes").as("w"))
        .agg(count(when(col("event_type") === "click", 1)).as("c1"),
          count(when(col("event_type") === "error", 1)).as("c2"),
          count(when(col("event_type") === "purchase", 1)).as("c3"),
          count(when(col("event_type") === "signup", 1)).as("c4"),
          count(when(col("event_type") === "view", 1)).as("c5"),
          count(lit(1)).as("n"))
        .select(col("w.start").as("ws"), col("n"), expr(
          """CAST(floor(-1000.0 * (
            |  (((CASE WHEN c1 > 0 THEN (CAST(c1 AS DOUBLE) / n) * ln(CAST(c1 AS DOUBLE) / n) ELSE 0.0d END
            |    + CASE WHEN c2 > 0 THEN (CAST(c2 AS DOUBLE) / n) * ln(CAST(c2 AS DOUBLE) / n) ELSE 0.0d END)
            |    + CASE WHEN c3 > 0 THEN (CAST(c3 AS DOUBLE) / n) * ln(CAST(c3 AS DOUBLE) / n) ELSE 0.0d END)
            |    + CASE WHEN c4 > 0 THEN (CAST(c4 AS DOUBLE) / n) * ln(CAST(c4 AS DOUBLE) / n) ELSE 0.0d END)
            |    + CASE WHEN c5 > 0 THEN (CAST(c5 AS DOUBLE) / n) * ln(CAST(c5 AS DOUBLE) / n) ELSE 0.0d END))
            |  AS BIGINT)""".stripMargin).as("h_milli"))
        .collect()
        .map(r => ((r.getTimestamp(0).getTime - Base) / 60000,
          r.getLong(1), r.getLong(2))).toSet
      assert(batch.subsetOf(got), s"missing: ${batch.diff(got)}")
    } finally q.stop()
  }

  test("sloBurnMonitor finalized windows hit the closed-form burn rates") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String)]
    // window A: 1 error in 4 -> 250000 ppm, burn 40*250000/1000
    // window B: 0 errors in 2 -> 0 ppm
    val data = Seq(
      (ts(1), "error"), (ts(2), "view"), (ts(4), "click"), (ts(9), "view"),
      (ts(16), "view"), (ts(22), "click"))
    val df = in.toDF().toDF("ts", "event_type")
    val q = StreamOps.sloBurnMonitor(df, "ts", "15 minutes", "5 minutes")
      .writeStream.format("memory").queryName("slo_out")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(data: _*)
      q.processAllAvailable()
      in.addData((ts(60), "view"))
      q.processAllAvailable()
      val got = spark.table("slo_out").collect()
        .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toSet
      assert(got.contains((4L, 1L, 250000L, 10000000L)), s"burn window: $got")
      assert(got.contains((2L, 0L, 0L, 0L)), s"clean window: $got")
    } finally q.stop()
  }

  test("ohlcBars finalized bars agree with the q156 batch aggregation") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String, Double, Long)]
    // one bar per type in [0,15): open must be the t=1 value even
    // though t=4 arrives in the same trigger, close the t=9 value;
    // the t=2/t=2 tie on "view" is broken by event_id
    val data = Seq(
      (ts(1), "click", 3.5, 10L), (ts(4), "click", 1.25, 11L),
      (ts(9), "click", 2.0, 12L),
      (ts(2), "view", 7.0, 20L), (ts(2), "view", 5.0, 21L))
    val df = in.toDF().toDF("ts", "event_type", "value", "event_id")
    val q = StreamOps.ohlcBars(df, "ts", "15 minutes", "5 minutes")
      .writeStream.format("memory").queryName("ohlc_out")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(data: _*)
      q.processAllAvailable()
      in.addData((ts(60), "view", 1.0, 99L)) // advance watermark past the bar
      q.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) =
        ((r.getTimestamp(0).getTime - Base) / 60000, r.getString(1),
          r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6), r.getLong(7))
      val got = spark.table("ohlc_out").collect().map(key).toSet
      val batch = data.toDF("ts", "event_type", "value", "event_id")
        .withColumn("v_m", floor(col("value") * 1000).cast("bigint"))
        .withColumn("ord", struct(col("ts"), col("event_id")))
        .groupBy(window(col("ts"), "15 minutes").as("w"), col("event_type"))
        .agg(min_by(col("v_m"), col("ord")).as("open_m"),
          max(col("v_m")).as("high_m"), min(col("v_m")).as("low_m"),
          max_by(col("v_m"), col("ord")).as("close_m"),
          sum(col("v_m")).as("vol_m"), count(lit(1)).as("n_trades"))
        .select(col("w.start").as("window_start"), col("event_type"),
          col("open_m"), col("high_m"), col("low_m"), col("close_m"),
          col("vol_m"), col("n_trades"))
        .collect().map(key).toSet
      assert(batch.subsetOf(got), s"missing: ${batch.diff(got)}")
      // spot-check the click bar end-to-end: open 3500, high 3500,
      // low 1250, close 2000, volume 6750, and the tied view bar
      // opens at event_id 20's value
      assert(got.exists(t =>
        t._2 == "click" && t._3 == 3500L && t._4 == 3500L &&
          t._5 == 1250L && t._6 == 2000L && t._7 == 6750L && t._8 == 3L))
      assert(got.exists(t => t._2 == "view" && t._3 == 7000L && t._6 == 5000L))
    } finally q.stop()
  }

  test("driftTv finalized windows agree with the batch grid; in-distribution windows read zero") {
    implicit val sqlCtx = spark.sqlContext
    // baseline: click mass on bins 3/12/14, view entirely on bin 3
    val baseRef = Seq(
      (ts(0), "click", 100.0), (ts(0), "click", 400.0), (ts(0), "click", 450.0),
      (ts(0), "view", 100.0))
      .toDF("ts", "event_type", "value")
    val baseline = StreamOps.driftBaseline(baseRef)
    val in = MemoryStream[(Timestamp, String, Double)]
    val df = in.toDF().toDF("ts", "event_type", "value")
    val q = StreamOps.driftTv(df, baseline, "15 minutes", "5 minutes")
      .writeStream.format("memory").queryName("drift_out")
      .outputMode(OutputMode.Append).start()
    try {
      // click window shifts mass to bins 3/13/15; view matches baseline
      val data = Seq(
        (ts(1), "click", 100.0), (ts(3), "click", 420.0),
        (ts(5), "click", 900.0), (ts(2), "view", 100.0))
      in.addData(data: _*)
      q.processAllAvailable()
      in.addData((ts(60), "view", 1.0)) // advance watermark past the window
      q.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) =
        ((r.getTimestamp(0).getTime - Base) / 60000, r.getString(1),
          r.getLong(2), r.getLong(3))
      val got = spark.table("drift_out").collect().map(key).toSet
      // batch twin: identical histogram + TV fold on the same rows
      val bin = expr("least((cast(floor(value * 1000) as bigint) * 16) div 500000, 15L)")
      val counters = (0 to 15).map(b =>
        sum(when(col("bin") === b, 1L).otherwise(0L)).as(s"c$b")) :+
        count(lit(1)).as("n")
      val tv = (0 to 15).map(b =>
        s"abs((1000000 * c$b) div n - b$b)").mkString("(", " + ", ") div 2")
      val batch = data.toDF("ts", "event_type", "value")
        .withColumn("bin", bin)
        .groupBy(window(col("ts"), "15 minutes").as("w"), col("event_type"))
        .agg(counters.head, counters.tail: _*)
        .join(baseline, Seq("event_type"))
        .select(col("w.start").as("window_start"), col("event_type"),
          col("n"), expr(tv).as("tv_ppm"))
        .collect().map(key).toSet
      assert(batch.subsetOf(got), s"missing: ${batch.diff(got)}")
      // the shifted click window alarms; the in-distribution view
      // window reads exactly zero (same proportions -> same ppm floor)
      assert(got.exists(t => t._2 == "click" && t._4 > 300000L),
        s"click drift not flagged: $got")
      assert(got.exists(t => t._2 == "view" && t._4 == 0L),
        s"view window should read zero drift: $got")
    } finally q.stop()
  }

  test("psiDrift finalized windows agree with the batch fold; drift outscores match") {
    implicit val sqlCtx = spark.sqlContext
    val baseRef = Seq(
      (ts(0), "click", 100.0), (ts(0), "click", 400.0), (ts(0), "click", 450.0),
      (ts(0), "view", 100.0))
      .toDF("ts", "event_type", "value")
    val baseline = StreamOps.driftBaseline(baseRef)
    val in = MemoryStream[(Timestamp, String, Double)]
    val df = in.toDF().toDF("ts", "event_type", "value")
    val q = StreamOps.psiDrift(df, baseline, "15 minutes", "5 minutes")
      .writeStream.format("memory").queryName("psi_out")
      .outputMode(OutputMode.Append).start()
    try {
      // click mass moves into new bins; view matches the baseline
      val data = Seq(
        (ts(1), "click", 100.0), (ts(3), "click", 420.0),
        (ts(5), "click", 900.0), (ts(2), "view", 100.0))
      in.addData(data: _*)
      q.processAllAvailable()
      in.addData((ts(60), "view", 1.0)) // advance watermark past the window
      q.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) =
        ((r.getTimestamp(0).getTime - Base) / 60000, r.getString(1),
          r.getLong(2), r.getLong(3))
      val got = spark.table("psi_out").collect().map(key).toSet
      // batch twin: identical histogram + the SHARED smoothed PSI fold
      val bin = expr("least((cast(floor(value * 1000) as bigint) * 16) div 500000, 15L)")
      val counters = (0 to 15).map(b =>
        sum(when(col("bin") === b, 1L).otherwise(0L)).as(s"c$b")) :+
        count(lit(1)).as("n")
      val batch = data.toDF("ts", "event_type", "value")
        .withColumn("bin", bin)
        .groupBy(window(col("ts"), "15 minutes").as("w"), col("event_type"))
        .agg(counters.head, counters.tail: _*)
        .join(baseline, Seq("event_type"))
        .select(col("w.start").as("window_start"), col("event_type"),
          col("n"), expr(StreamOps.psiFold).as("psi_nano"))
        .collect().map(key).toSet
      assert(batch.subsetOf(got), s"missing: ${batch.diff(got)}")
      // every PSI is non-negative (same-sign products), and the
      // shifted click window scores far above the matching view one
      assert(got.forall(_._4 >= 0L))
      val clickPsi = got.find(_._2 == "click").get._4
      val viewPsi = got.find(_._2 == "view").get._4
      assert(clickPsi > viewPsi * 10,
        s"shifted window must outscore the in-distribution one: $got")
    } finally q.stop()
  }

  test("latenessMonitor agrees with the batch q272 frontier per event type") {
    implicit val sqlCtx = spark.sqlContext
    // arrival order = ts + the shared md5 ingestion jitter (the q272
    // contract) — feed chunks in arrival order so cross-batch state
    // sees the same sequence the batch profile assumes
    val arr = expr(
      "unix_micros(ts) + cast(conv(substring(md5(cast(event_id as string)), " +
        "1, 15), 16, 10) as bigint) % 3600000000")
    val all = graft.Tables.events(spark, "/root/testdata/sf0.001")
      .select(col("user_id"), col("ts"), col("event_type"), col("value"),
        col("event_id"), arr.as("arr"))
      .orderBy("arr", "event_id")
      .collect()
      .map(r => StreamOps.AsofEvent(r.getLong(0), r.getTimestamp(1),
        r.getString(2), r.getDouble(3), r.getLong(4)))
      .toSeq
    val per = (all.size + 2) / 3
    val in = MemoryStream[StreamOps.AsofEvent]
    val q = StreamOps.latenessMonitor(spark, in.toDS())
      .writeStream.format("memory").queryName("late_out")
      .outputMode(OutputMode.Append).start()
    try {
      all.grouped(per).foreach { c => in.addData(c); q.processAllAvailable() }
      val streamed = spark.table("late_out").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
        .toSet
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type")).orderBy(col("arr"), col("event_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      val batch = graft.Tables.events(spark, "/root/testdata/sf0.001")
        .select(col("event_type"), col("event_id"),
          unix_micros(col("ts")).as("us"), arr.as("arr"))
        .withColumn("pmax", max(col("us")).over(w))
        .select(col("event_type"), col("event_id"),
          expr("greatest(0L, pmax - us) div 1000000").as("late_s"),
          coalesce(col("pmax") > col("us"), lit(false)).as("is_late"))
        .na.fill(0L, Seq("late_s"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
        .toSet
      assert(batch.exists(_._4), "fixture must contain late arrivals")
      assert(streamed == batch,
        s"stream-batch: ${(streamed -- batch).take(5)}; " +
          s"batch-stream: ${(batch -- streamed).take(5)}")
    } finally q.stop()
  }

  test("controlChartMonitor flags the out-of-zone window, clears the in-control one") {
    implicit val sqlCtx = spark.sqlContext
    // reference: 4 windows of 'click' milli-sums {1000, 1100, 900, 1000}
    // -> mean 1000000 milli? no: x values below; center = 1000, sigma^2 = 5000
    val ref = Seq(("click", 1000L), ("click", 1100L), ("click", 900L),
      ("click", 1000L)).toDF("event_type", "x")
    val baseline = StreamOps.controlChartBaseline(ref)
    val in = MemoryStream[(Timestamp, String, Double)]
    val df = in.toDF().toDF("ts", "event_type", "value")
    val q = StreamOps.controlChartMonitor(df, baseline, "10 minutes", "5 minutes")
      .writeStream.format("memory").queryName("cchart_out")
      .outputMode(OutputMode.Append).start()
    try {
      // window A (0-10): value sum = 1.0 -> x = 1000 milli, dead center
      // window B (10-20): value sum = 5.0 -> x = 5000, way beyond 3 sigma
      in.addData((ts(1), "click", 0.4), (ts(2), "click", 0.6),
        (ts(11), "click", 2.5), (ts(12), "click", 2.5))
      q.processAllAvailable()
      in.addData((ts(90), "click", 0.001)) // advance watermark
      q.processAllAvailable()
      val got = spark.table("cchart_out").collect()
        .map(r => ((r.getTimestamp(0).getTime - Base) / 60000,
          r.getLong(2), r.getInt(3), r.getInt(4), r.getInt(5))).toSet
      assert(got.contains((0L, 1000L, 0, 0, 0)), s"in-control window wrong: $got")
      assert(got.contains((10L, 5000L, 1, 1, 1)), s"outlier window wrong: $got")
      // batch twin on the same rows computes identical flags
      val batch = Seq((ts(1), "click", 0.4), (ts(2), "click", 0.6),
        (ts(11), "click", 2.5), (ts(12), "click", 2.5))
        .toDF("ts", "event_type", "value")
        .groupBy(window(col("ts"), "10 minutes").as("w"), col("event_type"))
        .agg(sum(expr("CAST(floor(value * 1000 + 0.5) AS BIGINT)")).as("x"))
        .join(baseline, Seq("event_type"))
        .select(col("w.start"), col("x"),
          expr("CASE WHEN (CAST(x AS DECIMAL(38,0)) * dd - ss) > 0 THEN 1 " +
            "WHEN (CAST(x AS DECIMAL(38,0)) * dd - ss) < 0 THEN -1 ELSE 0 END"),
          expr("CASE WHEN (CAST(x AS DECIMAL(38,0)) * dd - ss) * " +
            "(CAST(x AS DECIMAL(38,0)) * dd - ss) > 4 * (dd * qq - ss * ss) " +
            "THEN 1 ELSE 0 END"),
          expr("CASE WHEN (CAST(x AS DECIMAL(38,0)) * dd - ss) * " +
            "(CAST(x AS DECIMAL(38,0)) * dd - ss) > 9 * (dd * qq - ss * ss) " +
            "THEN 1 ELSE 0 END"))
        .collect()
        .map(r => ((r.getTimestamp(0).getTime - Base) / 60000,
          r.getLong(1), r.getInt(2), r.getInt(3), r.getInt(4))).toSet
      assert(batch.subsetOf(got), s"batch/stream disagree: ${batch.diff(got)}")
    } finally q.stop()
  }

  test("srmMonitor finalized windows agree bit-exactly with the batch chi2 fold") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long)]
    val df = in.toDF().toDF("ts", "user_id")
    val q = StreamOps.srmMonitor(df, "10 minutes", "5 minutes")
      .writeStream.format("memory").queryName("srm_out")
      .outputMode(OutputMode.Append).start()
    try {
      // window A: balanced-ish user draw; window B: one user hammered
      val winA = (1L to 8L).map(u => (ts(u % 8), u))
      val winB = Seq.fill(100)((ts(12), 4242L))
      in.addData(winA ++ winB: _*)
      q.processAllAvailable()
      in.addData((ts(90), 1L)) // advance watermark past both windows
      q.processAllAvailable()
      val got = spark.table("srm_out").collect()
        .map(r => (r.getTimestamp(0).getTime, r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
      assert(got.size >= 2)
      // internal identities on every emitted window
      for ((_, na, nb, chi2, alarm) <- got) {
        val d = na - nb
        assert(chi2 == 1000 * d * d / (na + nb))
        assert((alarm == 1L) == (1000 * d * d > 3841 * (na + nb)))
      }
      // the hammered window must alarm (one arm holds all 100 events)
      assert(got.exists { case (_, na, nb, _, alarm) =>
        na + nb == 100 && alarm == 1L })
      // bit-agreement with the batch fold on the same rows
      val batch = (winA ++ winB).toDF("ts", "user_id")
        .withColumn("arm", expr(
          "CAST(conv(substring(md5(concat('exp', CAST(user_id AS STRING)))," +
            " 1, 15), 16, 10) AS BIGINT) % 2"))
        .groupBy(window(col("ts"), "10 minutes").as("w"))
        .agg(sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_a"),
          sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_b"))
        .select(col("w.start"), col("n_a"), col("n_b"),
          expr("(1000 * (n_a - n_b) * (n_a - n_b)) div (n_a + n_b)"),
          when(lit(1000L) * (col("n_a") - col("n_b")) *
            (col("n_a") - col("n_b")) >
            lit(3841L) * (col("n_a") + col("n_b")), 1L).otherwise(0L))
        .collect()
        .map(r => (r.getTimestamp(0).getTime, r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
      assert(batch.subsetOf(got), s"batch/stream disagree: ${batch.diff(got)}")
    } finally q.stop()
  }

  test("dpCountMonitor releases reproducible Laplace-noised counts per window") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String)]
    val df = in.toDF().toDF("ts", "event_type")
    val q = StreamOps.dpCountMonitor(df, "10 minutes", "5 minutes")
      .writeStream.format("memory").queryName("dp_out")
      .outputMode(OutputMode.Append).start()
    try {
      val rows = (1 to 40).map(i => (ts(i % 9), "click")) ++
        (1 to 7).map(i => (ts(11 + i % 5), "view"))
      in.addData(rows: _*)
      q.processAllAvailable()
      in.addData((ts(90), "click"))
      q.processAllAvailable()
      val got = spark.table("dp_out").collect()
        .map(r => (r.getTimestamp(0).getTime, r.getString(1), r.getLong(2)))
        .toSet
      assert(got.size >= 2)
      // batch replay of count + coin chain must agree bit-exactly
      val batch = rows.toDF("ts", "event_type")
        .groupBy(window(col("ts"), "10 minutes").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("w.start"), col("event_type"),
          (lit(1000L) * col("n") + expr(
            "CAST(floor(1000.0 * (0.0 - 2.0 * (CASE WHEN " +
              "((CAST(CAST(conv(substring(md5(concat('lap', event_type, " +
              "'_', CAST(unix_millis(w.start) AS STRING))), 1, 15), 16, " +
              "10) AS BIGINT) AS DOUBLE) + 0.5) / 1152921504606846976.0) " +
              ">= 0.5 THEN 1.0 ELSE -1.0 END) * ln(1.0 - 2.0 * abs(" +
              "((CAST(CAST(conv(substring(md5(concat('lap', event_type, " +
              "'_', CAST(unix_millis(w.start) AS STRING))), 1, 15), 16, " +
              "10) AS BIGINT) AS DOUBLE) + 0.5) / 1152921504606846976.0) " +
              "- 0.5)))) AS BIGINT)")).as("noisy"))
        .collect()
        .map(r => (r.getTimestamp(0).getTime, r.getString(1), r.getLong(2)))
        .toSet
      assert(batch.subsetOf(got), s"batch/stream disagree: ${batch.diff(got)}")
    } finally q.stop()
  }

  test("benfordMonitor finalized windows agree with the batch digit fold") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, Double)]
    val df = in.toDF().toDF("ts", "amount")
    val q = StreamOps.benfordMonitor(df, "15 minutes", "5 minutes")
      .writeStream.format("memory").queryName("benford_out")
      .outputMode(OutputMode.Append).start()
    try {
      // window 1: Benford-ish leading digits (1,1,1,2,2,3,9);
      // window 2: all amounts lead with 5 — a fabricated-batch smell;
      // zero/negative amounts must drop before the counters
      val data = Seq(
        (ts(1), 120.00), (ts(2), 15.50), (ts(3), 1999.99), (ts(4), 27.25),
        (ts(5), 250.00), (ts(6), 30.10), (ts(7), 9.99), (ts(8), 0.00),
        (ts(16), 55.00), (ts(17), 5.25), (ts(18), 599.00), (ts(19), -12.00))
      in.addData(data: _*)
      q.processAllAvailable()
      in.addData((ts(60), 1.0)) // advance watermark past both windows
      q.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) =
        ((r.getTimestamp(0).getTime - Base) / 60000, r.getLong(1), r.getLong(2))
      val got = spark.table("benford_out").collect().map(key).toSet
      // batch twin: identical filter + counters + chi2 fold
      val batch = {
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
        data.toDF("ts", "amount")
          .where(expr("CAST(CAST(amount AS DECIMAL(12,2)) * 100 AS BIGINT) > 0"))
          .withColumn("digit", digit)
          .groupBy(window(col("ts"), "15 minutes").as("w"))
          .agg(counters.head, counters.tail: _*)
          .select(col("w.start").as("window_start"), col("n"),
            expr(chi2).as("chi2_ppm"))
          .collect().map(key).toSet
      }
      assert(batch.subsetOf(got), s"missing: ${batch.diff(got)}")
      // window 1 holds 7 counted rows (the 0.00 dropped); window 2
      // holds 3, all leading digit 5 — its chi2 must dwarf window 1's
      val w1 = got.find(_._2 == 7L).get
      val w2 = got.find(_._2 == 3L).get
      assert(w2._3 > w1._3,
        s"all-5s window should score worse than the Benford-ish one: $got")
    } finally q.stop()
  }

  test("conformalMonitor flags exactly the out-of-band rows per window and segment") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val model = Seq(("A", 10000L, 500L), ("B", 2000L, 100L))
      .toDF("seg", "yhat", "qhat_cents")
    val in = MemoryStream[(Timestamp, String, Double)]
    val df = in.toDF().toDF("ts", "seg", "amount")
    val q = StreamOps.conformalMonitor(df, model, "15 minutes", "5 minutes")
      .writeStream.format("memory").queryName("conformal_out")
      .outputMode(OutputMode.Append).start()
    try {
      // band A = 10000±500 cents: 104.99 in (499), 95.00 in (exactly 500,
      // inclusive), 105.01/94.99 out (501); band B = 2000±100
      val data = Seq(
        (ts(1), "A", 100.00), (ts(2), "A", 104.99), (ts(3), "A", 105.01),
        (ts(4), "A", 95.00), (ts(5), "A", 94.99),
        (ts(6), "B", 20.00), (ts(7), "B", 25.00),
        (ts(16), "A", 200.00), (ts(17), "A", 100.00))
      in.addData(data: _*)
      q.processAllAvailable()
      in.addData((ts(60), "A", 100.0)) // advance watermark past both windows
      q.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) =
        ((r.getTimestamp(0).getTime - Base) / 60000, r.getString(1),
          r.getLong(2), r.getLong(3), r.getLong(4))
      val got = spark.table("conformal_out").collect().map(key).toSet
      // 15-min windows align to the EPOCH, not Base (the q199 lesson):
      // Base sits 5 min into its window, so starts land at -5 and +10
      assert(got.contains((-5L, "A", 5L, 2L, 400000L)), s"got: $got")
      assert(got.contains((-5L, "B", 2L, 1L, 500000L)), s"got: $got")
      assert(got.contains((10L, "A", 2L, 1L, 500000L)), s"got: $got")
      // batch twin: the identical flag + fold on the same rows
      val batch = StreamOps.conformalMonitor(
        data.toDF("ts", "seg", "amount"), model, "15 minutes", "5 minutes")
        .collect().map(key).toSet
      assert(got.subsetOf(batch), s"stream rows absent from batch: ${got.diff(batch)}")
    } finally q.stop()
  }

  test("quantileSketch converges bit-exactly on the batch q191 estimates") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[StreamOps.AsofEvent]
    val q = StreamOps.quantileSketch(spark, in.toDS())
      .writeStream.format("memory").queryName("qsketch_out")
      .outputMode(OutputMode.Update).start()
    try {
      // three chunks: the counters must MERGE across triggers, not
      // just survive one batch
      eventChunks(3).foreach { chunk => in.addData(chunk); q.processAllAvailable() }
      // Update mode appends a row per key per trigger; n is monotone,
      // so the max-n row per type is the final state
      val streamed = spark.table("qsketch_out")
        .withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("event_type")).orderBy(col("n").desc)))
        .where(col("rk") === 1)
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
      val batch = graft.operators.Sketches.q191QuantileSketch
        .build(spark, "/root/testdata/sf0.001")
        .groupBy(col("event_type"), col("n"))
        .pivot("p_mille", Seq(500, 900, 990)).agg(first(col("est_milli")))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
      assert(batch.nonEmpty)
      assert(streamed == batch,
        s"stream-batch: ${streamed -- batch}; batch-stream: ${batch -- streamed}")
    } finally q.stop()
  }

  test("hedgeMonitor agrees bit-exactly with the q365 batch fold") {
    implicit val sqlCtx = spark.sqlContext
    val arms = Seq("click", "error", "purchase", "signup", "view")
    val eta = 0.1
    // batch baseline: per-(hour, type) milli sums and their max
    val hr = graft.Tables.events(spark, "/root/testdata/sf0.001")
      .groupBy(expr("unix_micros(ts) div 3600000000").as("h"),
        col("event_type").as("s"))
      .agg(sum(floor(col("value") * 1000).cast("bigint")).as("v"))
      .collect().map(r => ((r.getAs[Long]("h"), r.getAs[String]("s")),
        r.getAs[Long]("v"))).toMap
    val vmax = hr.values.max
    val in = MemoryStream[StreamOps.AsofEvent]
    val q = StreamOps.hedgeMonitor(spark, in.toDS(), vmax, eta)
      .writeStream.format("memory").queryName("hedge_out")
      .outputMode(OutputMode.Append).start()
    try {
      eventChunks(3).foreach { chunk =>
        in.addData(chunk); q.processAllAvailable()
      }
      val streamed = spark.table("hedge_out")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).sortBy(_._1)
      // batch fold: the q365 recurrence over the present-hour axis
      val hours = hr.keys.map(_._1).toSeq.distinct.sorted
      val k = arms.length
      val w = Array.fill(k)(1000000000L / k)
      val g = new Array[Long](k)
      var alg = 0L
      val batch = hours.zipWithIndex.map { case (h, idx) =>
        val r = arms.map(a => 1000L * hr.getOrElse((h, a), 0L) / vmax).toArray
        alg += (0 until k).map(i => w(i) * r(i)).sum / 1000000L
        val u = (0 until k).map(i =>
          math.floor(w(i).toDouble * math.exp(eta * r(i).toDouble / 1000.0)))
        val usum = u.sum
        for (i <- 0 until k)
          w(i) = math.floor(1000000000.0 * u(i) / usum).toLong
        for (i <- 0 until k) g(i) += r(i)
        val best = g.max * 1000L
        (idx + 1L, h, alg, best, best - alg)
      }
      // the stream finalizes an hour on the next hour's first event,
      // so it trails the batch fold by exactly the last open hour
      assert(streamed.nonEmpty)
      assert(streamed.length == hours.length - 1,
        s"${streamed.length} streamed rounds vs ${hours.length} hours")
      assert(streamed.sameElements(batch.take(streamed.length)),
        s"first diff: ${streamed.zip(batch).find(p => p._1 != p._2)}")
    } finally q.stop()
  }

  test("controlChartMonitor agrees bit-exactly with the q293 batch chart") {
    implicit val sqlCtx = spark.sqlContext
    // per-(type, day) milli sums + per-type full-corpus baseline
    // moments — exactly q293's daily/m frames
    val daily = graft.Tables.events(spark, "/root/testdata/sf0.001")
      .groupBy(col("event_type").as("t"),
        expr("unix_micros(ts) div 86400000000").as("d"))
      .agg(sum(expr("CAST(floor(value * 1000 + 0.5) AS BIGINT)")).as("x"))
      .collect()
      .map(r => ((r.getAs[String]("t"), r.getAs[Long]("d")), r.getAs[Long]("x")))
      .toMap
    val baseline = daily.groupBy(_._1._1).map { case (t, xs) =>
      val vals = xs.values.toSeq
      t -> StreamOps.SpcBaseline(BigInt(vals.size),
        vals.map(BigInt(_)).sum, vals.map(v => BigInt(v) * v).sum)
    }
    val in = MemoryStream[StreamOps.AsofEvent]
    val q = StreamOps.controlChartMonitor(spark, in.toDS(), baseline)
      .writeStream.format("memory").queryName("spc_out")
      .outputMode(OutputMode.Append).start()
    try {
      eventChunks(3).foreach { chunk => in.addData(chunk); q.processAllAvailable() }
      val streamed = spark.table("spc_out").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getInt(3),
          r.getInt(4), r.getInt(5), r.getLong(6), r.getLong(7), r.getLong(8),
          r.getLong(9), r.getLong(10)))
        .groupBy(_._1).map { case (t, rs) => t -> rs.sortBy(_._2).toSeq }
      // driver replay of the batch chart per type: same integer zone
      // identity, same 3/8-row rings, through the last CLOSED day
      for ((t, StreamOps.SpcBaseline(dd, ss, qq)) <- baseline) {
        val days = daily.keys.filter(_._1 == t).map(_._2).toSeq.sorted
        var sides = Vector.empty[Int]
        var b2us = Vector.empty[Int]
        var b2ds = Vector.empty[Int]
        var (nA, r1c, r2c, r4c) = (0L, 0L, 0L, 0L)
        val expected = days.zipWithIndex.map { case (d, i) =>
          val dev = BigInt(daily((t, d))) * dd - ss
          val var2 = dd * qq - ss * ss
          val side = dev.signum
          val b3 = if (dev * dev > var2 * 9) 1 else 0
          val b2u = if (dev * dev > var2 * 4 && side > 0) 1 else 0
          val b2d = if (dev * dev > var2 * 4 && side < 0) 1 else 0
          val r2 = if ((b2u == 1 && b2u + b2us.takeRight(2).sum >= 2) ||
            (b2d == 1 && b2d + b2ds.takeRight(2).sum >= 2)) 1 else 0
          val ring8 = (sides :+ side).takeRight(8)
          val r4 = if (ring8.size == 8 &&
            (ring8.forall(_ == 1) || ring8.forall(_ == -1))) 1 else 0
          sides = sides :+ side; b2us = b2us :+ b2u; b2ds = b2ds :+ b2d
          nA += (if (side > 0) 1 else 0); r1c += b3; r2c += r2; r4c += r4
          (t, d, side, b3, r2, r4, i + 1L, nA, r1c, r2c, r4c)
        }
        // the stream trails by exactly the open (last) day per type
        val got = streamed.getOrElse(t, Seq.empty)
        assert(got.length == days.length - 1,
          s"$t: ${got.length} streamed days vs ${days.length} batch days")
        assert(got == expected.take(got.length),
          s"$t first diff: ${got.zip(expected).find(p => p._1 != p._2)}")
      }
      // the rules must actually FIRE somewhere or the test is vacuous
      assert(streamed.values.flatten.map(_._9).max > 0L ||
        streamed.values.flatten.map(_._10).max > 0L ||
        streamed.values.flatten.map(_._8).max > 0L)
    } finally q.stop()
  }

  test("hllMonitor registers agree bit-exactly with the batch q369 chain") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[StreamOps.AsofEvent]
    val q = StreamOps.hllMonitor(spark, in.toDS())
      .writeStream.format("memory").queryName("hll_out")
      .outputMode(OutputMode.Update).start()
    try {
      eventChunks(3).foreach { chunk => in.addData(chunk); q.processAllAvailable() }
      // Update mode emits one row per key per trigger; max-n is final
      val streamed = spark.table("hll_out")
        .withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("event_type")).orderBy(col("n_seen").desc)))
        .where(col("rk") === 1)
        .collect()
        .map(r => (r.getString(0), r.getLong(2), r.getLong(3))).toSet
      // batch twin: the q369 register build + estimate chain keyed by
      // event type over user_id (same expressions, batch plan)
      val keys = graft.Tables.events(spark, "/root/testdata/sf0.001")
        .select(col("event_type").as("flag"), col("user_id")).distinct()
        .select(col("flag"),
          conv(substring(md5(col("user_id").cast("string")), 1, 15), 16, 10)
            .cast("long").as("h"))
      val reg = keys
        .select(col("flag"), expr("h div 18014398509481984").as("bucket"),
          when(col("h") % 18014398509481984L === 0, lit(55))
            .otherwise(lit(55) - length(bin(col("h") % 18014398509481984L)))
            .as("r"))
        .groupBy(col("flag"), col("bucket")).agg(max(col("r")).as("m"))
      val est = "(0.709e0 * 64.0e0 * 64.0e0 * 36028797018963968.0e0)" +
        " / CAST(num AS DOUBLE)"
      val batch = reg.groupBy(col("flag"))
        .agg((sum(expr("shiftleft(CAST(1 AS BIGINT), 55 - m)")) +
          (lit(64) - count(lit(1))) * lit(36028797018963968L))
          .cast("bigint").as("num"),
          (lit(64) - count(lit(1))).cast("bigint").as("v"))
        .select(col("flag"), col("v"),
          floor(expr(s"CASE WHEN ($est) <= 160.0e0 AND v > 0 THEN " +
            s"64.0e0 * ln(64.0e0 / CAST(v AS DOUBLE)) ELSE ($est) END"))
            .cast("bigint").as("hll_est"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(batch.nonEmpty)
      assert(streamed == batch,
        s"stream-batch: ${streamed -- batch}; batch-stream: ${batch -- streamed}")
    } finally q.stop()
  }

  test("varEsMonitor and gpdTailMonitor agree with the batch risk fold per closed day") {
    implicit val sqlCtx = spark.sqlContext
    // batch daily cent-sums -> loss series (the q352/q357 chain on the
    // event stream's value P&L)
    val revByDay = graft.Tables.events(spark, "/root/testdata/sf0.001")
      .groupBy(expr("unix_micros(ts) div 86400000000").as("d"))
      .agg(sum(expr("CAST(floor(value * 100 + 0.5) AS BIGINT)")).as("rev"))
      .collect().map(r => (r.getAs[Long]("d"), r.getAs[Long]("rev")))
      .sortBy(_._1)
    val losses = revByDay.sliding(2).collect {
      case Array((_, p), (d, r)) => (d, -(r - p))
    }.toVector
    val inV = MemoryStream[StreamOps.AsofEvent]
    val qV = StreamOps.varEsMonitor(spark, inV.toDS())
      .writeStream.format("memory").queryName("vares_out")
      .outputMode(OutputMode.Append).start()
    val inG = MemoryStream[StreamOps.AsofEvent]
    val qG = StreamOps.gpdTailMonitor(spark, inG.toDS())
      .writeStream.format("memory").queryName("gpd_out")
      .outputMode(OutputMode.Append).start()
    try {
      eventChunks(3).foreach { chunk =>
        inV.addData(chunk); inG.addData(chunk)
        qV.processAllAvailable(); qG.processAllAvailable()
      }
      // expected VaR/ES per closed day: exact rank select + tail mean
      // over the loss prefix (q352 arithmetic)
      val expV = losses.indices.map { i =>
        val day = losses(i)._1
        val pre = losses.take(i + 1).map(_._2).sorted
        val n = pre.size.toLong
        def at(a: Long) = {
          val rk = (a * n + 999) / 1000
          val tail = pre.drop(rk.toInt - 1)
          (pre(rk.toInt - 1),
            math.floor(tail.sum.toDouble / tail.size.toDouble).toLong,
            n - rk + 1)
        }
        val (v95, e95, t95) = at(950L); val (v99, e99, t99) = at(990L)
        (day, n, v95, e95, t95, v99, e99, t99)
      }
      val gotV = spark.table("vares_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
        .sortBy(_._1).toSeq
      // the monitor trails by the open last day
      assert(gotV.length == expV.length - 1,
        s"${gotV.length} streamed vs ${expV.length} closed-day folds")
      assert(gotV == expV.take(gotV.length),
        s"first diff: ${gotV.zip(expV).find(p => p._1 != p._2)}")
      // expected GPD fit per closed day: q357's MoM chains over the
      // same prefix, with the k>=2 / v>0 emission rule
      val expG = losses.indices.flatMap { i =>
        val day = losses(i)._1
        val pre = losses.take(i + 1).map(_._2).sorted
        val n = pre.size.toLong
        val u = pre(((900L * n + 999) / 1000).toInt - 1)
        val emp = pre(((990L * n + 999) / 1000).toInt - 1)
        val exc = pre.filter(_ > u).map(_ - u)
        if (exc.size < 2) None
        else {
          val k = exc.size
          val m = exc.map(BigInt(_)).sum.toDouble / k.toDouble
          val v = exc.map(e => BigInt(e) * e).sum.toDouble / k.toDouble - m * m
          if (v <= 0.0) None
          else {
            val xi = 0.5 * (1.0 - m * m / v)
            val beta = 0.5 * m * (1.0 + m * m / v)
            val ratio = k.toDouble / (n.toDouble * 0.01)
            val var99 =
              if (xi == 0.0) u.toDouble + beta * math.log(ratio)
              else u.toDouble +
                (beta / xi) * (math.exp(xi * math.log(ratio)) - 1.0)
            Some((day, n, u, k.toLong, math.floor(m).toLong,
              math.floor(1000000.0 * xi).toLong, math.floor(beta).toLong,
              math.floor(var99).toLong, emp))
          }
        }
      }
      val gotG = spark.table("gpd_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7),
          r.getLong(8)))
        .sortBy(_._1).toSeq
      val expGClosed = expG.filter(_._1 <= gotV.map(_._1).max)
      assert(gotG.nonEmpty, "GPD monitor never emitted")
      assert(gotG == expGClosed,
        s"first diff: ${gotG.zip(expGClosed).find(p => p._1 != p._2)}")
    } finally { qV.stop(); qG.stop() }
  }

  test("hwMonitor agrees with the batch Holt-Winters fold per closed day") {
    implicit val sqlCtx = spark.sqlContext
    val revByDay = graft.Tables.events(spark, "/root/testdata/sf0.001")
      .groupBy(expr("unix_micros(ts) div 86400000000").as("d"))
      .agg(sum(expr("CAST(floor(value * 100 + 0.5) AS BIGINT)")).as("rev"))
      .collect().map(r => (r.getAs[Long]("d"), r.getAs[Long]("rev")))
      .sortBy(_._1).toVector
    val in = MemoryStream[StreamOps.AsofEvent]
    val q = StreamOps.hwMonitor(spark, in.toDS())
      .writeStream.format("memory").queryName("hw_out")
      .outputMode(OutputMode.Append).start()
    try {
      eventChunks(3).foreach { chunk =>
        in.addData(chunk); q.processAllAvailable()
      }
      // expected: the q380 recursion (zero state, independently
      // floored IEEE chains, 14-day burn-in) over the daily cent sums
      val (a, b, g, burn) = (0.3, 0.1, 0.2, 14L)
      var (l, bb) = (0L, 0L)
      val sArr = new Array[Long](7); val yArr = new Array[Long](7)
      var (saeHw, saeSn) = (0L, 0L)
      val exp = revByDay.zipWithIndex.map { case ((day, y), idx) =>
        val t = idx + 1L
        val slot = ((t - 1) % 7).toInt
        val sold = sArr(slot); val yold = yArr(slot)
        val fc = l + bb + sold
        if (t > burn) { saeHw += math.abs(y - fc); saeSn += math.abs(y - yold) }
        val l2 = math.floor(a * (y - sold).toDouble +
          (1 - a) * (l + bb).toDouble).toLong
        val b2 = math.floor(b * (l2 - l).toDouble +
          (1 - b) * bb.toDouble).toLong
        val s2 = math.floor(g * (y - l2).toDouble +
          (1 - g) * sold.toDouble).toLong
        l = l2; bb = b2; sArr(slot) = s2; yArr(slot) = y
        (t, day, l2, b2, saeHw, saeSn,
          if (saeSn > 0) Some(1000L * saeHw / saeSn) else None)
      }
      val got = spark.table("hw_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5),
          if (r.isNullAt(6)) None else Some(r.getLong(6))))
        .sortBy(_._1).toSeq
      // the monitor trails by the open last day
      assert(got.length == exp.length - 1,
        s"${got.length} streamed vs ${exp.length} closed-day folds")
      assert(got == exp.take(got.length),
        s"first diff: ${got.zip(exp).find(p => p._1 != p._2)}")
    } finally q.stop()
  }

  test("phMonitor matches the batch Page-Hinkley prefix chain per closed day") {
    implicit val sqlCtx = spark.sqlContext
    val revByDay = graft.Tables.events(spark, "/root/testdata/sf0.001")
      .groupBy(expr("unix_micros(ts) div 86400000000").as("d"))
      .agg(sum(expr("CAST(floor(value * 100 + 0.5) AS BIGINT)")).as("rev"))
      .collect().map(r => (r.getAs[Long]("d"), r.getAs[Long]("rev")))
      .sortBy(_._1).toVector
    val in = MemoryStream[StreamOps.AsofEvent]
    val q = StreamOps.phMonitor(spark, in.toDS())
      .writeStream.format("memory").queryName("ph_out")
      .outputMode(OutputMode.Append).start()
    try {
      eventChunks(3).foreach { chunk =>
        in.addData(chunk); q.processAllAvailable()
      }
      // expected: the q402 exact integer prefix recursion over the
      // daily cent sums (truncating prefix mean, prefix min inclusive)
      var (cum, m, minM) = (0L, 0L, Long.MaxValue)
      val exp = revByDay.zipWithIndex.map { case ((day, y), idx) =>
        val t = idx + 1L
        cum += y
        m += y - cum / t
        minM = math.min(minM, m)
        (t, day, m, m - minM, (cum / t) / 5, (m - minM) > (cum / t) / 5)
      }
      val got = spark.table("ph_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getBoolean(5)))
        .sortBy(_._1).toSeq
      // the monitor trails by the open last day
      assert(got.length == exp.length - 1,
        s"${got.length} streamed vs ${exp.length} closed-day folds")
      assert(got == exp.take(got.length),
        s"first diff: ${got.zip(exp).find(p => p._1 != p._2)}")
      // terminal agreement: the last closed day's running lambda is the
      // batch's whole-span lambda over the same closed prefix
      val lastT = got.last._1
      assert(got.last._5 == (revByDay.take(lastT.toInt).map(_._2).sum / lastT) / 5)
    } finally q.stop()
  }

  test("varBacktestMonitor matches the replayed violation recursion and the batch LR chain") {
    implicit val sqlCtx = spark.sqlContext
    val revByDay = graft.Tables.events(spark, "/root/testdata/sf0.001")
      .groupBy(expr("unix_micros(ts) div 86400000000").as("d"))
      .agg(sum(expr("CAST(floor(value * 100 + 0.5) AS BIGINT)")).as("rev"))
      .collect().map(r => (r.getAs[Long]("d"), r.getAs[Long]("rev")))
      .sortBy(_._1).toVector
    // a VaR level the data actually violates sometimes: the 80th
    // percentile of the replayed losses
    val losses = revByDay.sliding(2).map(p => p(0)._2 - p(1)._2).toVector
    val varCents = losses.sorted.apply((losses.size * 8) / 10)
    val in = MemoryStream[StreamOps.AsofEvent]
    val q = StreamOps.varBacktestMonitor(spark, in.toDS(), varCents)
      .writeStream.format("memory").queryName("vbt_out")
      .outputMode(OutputMode.Append).start()
    try {
      eventChunks(3).foreach { chunk =>
        in.addData(chunk); q.processAllAvailable()
      }
      def lr(n: Long, x: Long): Long = {
        val nd = n.toDouble; val xd = x.toDouble
        math.floor(1000.0 * (-2.0 * ((nd - xd) * math.log(0.95)
          + xd * math.log(0.05)
          - (if (x < n) (nd - xd) * math.log(1.0 - xd / nd) else 0.0)
          - (if (x > 0) xd * math.log(xd / nd) else 0.0)))).toLong
      }
      var (x, n01, n11, prevV) = (0L, 0L, 0L, -1)
      val exp = losses.zipWithIndex.map { case (loss, i) =>
        val v = loss > varCents
        x += (if (v) 1L else 0L)
        if (prevV == 0 && v) n01 += 1L
        if (prevV == 1 && v) n11 += 1L
        prevV = if (v) 1 else 0
        (i + 1L, revByDay(i + 1)._1, loss, v, x, Some(lr(i + 1L, x)),
          n01, n11)
      }
      val got = spark.table("vbt_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getBoolean(3), r.getLong(4),
          if (r.isNullAt(5)) None else Some(r.getLong(5)),
          r.getLong(6), r.getLong(7)))
        .sortBy(_._1).toSeq
      // the monitor trails by the open last day
      assert(got.length == exp.length - 1,
        s"${got.length} streamed vs ${exp.length} replayed backtest days")
      assert(got == exp.take(got.length),
        s"first diff: ${got.zip(exp).find(p => p._1 != p._2)}")
      assert(got.exists(_._4) && got.exists(!_._4),
        "degenerate backtest: violations should be mixed at the p80 VaR")
    } finally q.stop()
  }

  test("pettittMonitor recomputes the exact rank chain on every closed prefix") {
    implicit val sqlCtx = spark.sqlContext
    val revByDay = graft.Tables.events(spark, "/root/testdata/sf0.001")
      .groupBy(expr("unix_micros(ts) div 86400000000").as("d"))
      .agg(sum(expr("CAST(floor(value * 100 + 0.5) AS BIGINT)")).as("rev"))
      .collect().map(r => (r.getAs[Long]("d"), r.getAs[Long]("rev")))
      .sortBy(_._1).toVector
    val in = MemoryStream[StreamOps.AsofEvent]
    val q = StreamOps.pettittMonitor(spark, in.toDS())
      .writeStream.format("memory").queryName("pettitt_out")
      .outputMode(OutputMode.Append).start()
    try {
      eventChunks(3).foreach { chunk =>
        in.addData(chunk); q.processAllAvailable()
      }
      // independent replay: brute-force doubled midranks (count-less /
      // count-equal per element — NOT the monitor's domain-prefix
      // construction), then the U walk, K over t<n, min argmax day
      // over all t, and the one-IEEE-chain p
      def expected(m: Int): (Long, Long, Long, Long, Long) = {
        val ys = revByDay.take(m).map(_._2)
        val ds = revByDay.take(m).map(_._1)
        val d2 = ys.map(y =>
          2L * ys.count(_ < y) + ys.count(_ == y) + 1L)
        val us = (1 to m).map(t => d2.take(t).sum - t.toLong * (m + 1L))
        val k = (1 until m).map(t => math.abs(us(t - 1))).max
        val cd = (1 to m).filter(t => math.abs(us(t - 1)) == k)
          .map(t => ds(t - 1)).min
        val nd = m.toDouble
        val p = math.floor(1000000.0 * 2.0 * math.exp(
          -6.0 * k.toDouble * k.toDouble / (nd * nd * nd + nd * nd))).toLong
        (m.toLong, ds(m - 1), k, cd, p)
      }
      val exp = (2 until revByDay.size).map(expected) // last day stays open
      val got = spark.table("pettitt_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4)))
        .sortBy(_._1).toSeq
      assert(got == exp, s"first diff: ${got.zip(exp).find(p => p._1 != p._2)}")
    } finally q.stop()
  }

  test("obfMonitor emits the five interim looks bit-equal to batch q444") {
    implicit val sqlCtx = spark.sqlContext
    // the batch answer on the same corpus (plannedN = the corpus size,
    // which is exactly how q444 derives its look cuts)
    val batch = graft.operators.EventOps.q444ObrienFleming
      .build(spark, "/root/testdata/sf0.001")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getInt(5).toLong))
      .sortBy(_._1).toSeq
    assert(batch.size == 5)
    val plannedN = graft.Tables.events(spark, "/root/testdata/sf0.001").count()
    val in = MemoryStream[StreamOps.AsofEvent]
    val q = StreamOps.obfMonitor(spark, in.toDS(), plannedN)
      .writeStream.format("memory").queryName("obf_out")
      .outputMode(OutputMode.Append).start()
    try {
      // looks MUST fire mid-stream, not only at the horizon: feed in 3
      // chunks and check the first looks are already out after chunk 1
      val chunks = eventChunks(3)
      in.addData(chunks.head); q.processAllAvailable()
      val early = spark.table("obf_out").count()
      assert(early >= 1, "no interim look emitted after the first third")
      chunks.tail.foreach { c => in.addData(c); q.processAllAvailable() }
      val got = spark.table("obf_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5)))
        .sortBy(_._1).toSeq
      assert(got == batch, s"first diff: ${got.zip(batch).find(p => p._1 != p._2)}")
    } finally q.stop()
  }

  test("cusumSqMonitor refits the prefix OLS and matches the exact gap walk per closed day") {
    implicit val sqlCtx = spark.sqlContext
    val revByDay = graft.Tables.events(spark, "/root/testdata/sf0.001")
      .groupBy(expr("unix_micros(ts) div 86400000000").as("d"))
      .agg(sum(expr("CAST(floor(value * 100 + 0.5) AS BIGINT)")).as("rev"))
      .collect().map(r => (r.getAs[Long]("d"), r.getAs[Long]("rev")))
      .sortBy(_._1).toVector
    val in = MemoryStream[StreamOps.AsofEvent]
    val q = StreamOps.cusumSqMonitor(spark, in.toDS())
      .writeStream.format("memory").queryName("cusumsq_out")
      .outputMode(OutputMode.Append).start()
    try {
      eventChunks(3).foreach { chunk =>
        in.addData(chunk); q.processAllAvailable()
      }
      // independent replay of the q417 chain: DECIMAL-exact moments,
      // milli-floored coefficients, integer residual-square walk,
      // max diagonal gap + argmax day + 0.948/sqrt(n) band
      def expected(m: Int): Option[(Long, Long, Long, Long, Long, Boolean)] = {
        val ys = revByDay.take(m).map(_._2)
        val ds = revByDay.take(m).map(_._1)
        val ts = (1 to m).map(BigInt(_))
        val (st, stt) = (ts.sum, ts.map(t => t * t).sum)
        val sy = ys.map(BigInt(_)).sum
        val sty = ts.zip(ys).map { case (t, y) => t * y }.sum
        val b = math.floor(1000.0 * ((m.toDouble * sty.toDouble
          - st.toDouble * sy.toDouble) / (m.toDouble * stt.toDouble
          - st.toDouble * st.toDouble))).toLong
        val a = math.floor((1000.0 * sy.toDouble - b.toDouble * st.toDouble)
          / m.toDouble).toLong
        val cus = (1 to m).scanLeft(BigInt(0)) { (acc, t) =>
          val e = BigInt(1000L) * ys(t - 1) - a - BigInt(b) * t
          acc + (e * e) / BigInt(1000000000L)
        }.tail
        val tu = cus.last
        if (tu <= 0) None
        else {
          val gaps = (1 to m).map(t =>
            (BigInt(m) * cus(t - 1) - BigInt(t) * tu).abs)
          val gmax = gaps.max
          val bd = (1 to m).filter(t => gaps(t - 1) == gmax)
            .map(t => ds(t - 1)).min
          val dMicro = ((BigInt(1000000L) * gmax) / (BigInt(m) * tu)).toLong
          val band = math.floor(1000000.0 * 0.948
            / math.sqrt(m.toDouble)).toLong
          Some((m.toLong, ds(m - 1), bd, dMicro, band, dMicro > band))
        }
      }
      val exp = (2 until revByDay.size).flatMap(expected)
      val got = spark.table("cusumsq_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getBoolean(5)))
        .sortBy(_._1).toSeq
      assert(got == exp, s"first diff: ${got.zip(exp).find(p => p._1 != p._2)}")
    } finally q.stop()
  }

  test("ngramNovelty windows equal the batch first-appearance gram counts per n") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String)]
    // delay longer than the whole doc span: the dedup state never hits
    // its horizon, so the stream is EXACT first-appearance counting and
    // must equal the batch fold on every window (the 1h-horizon recount
    // tradeoff is vocabNovelty's documented semantics, not under test)
    val q = StreamOps.ngramNovelty(in.toDF().toDF("ts", "text"),
        windowLen = "10 minutes", delay = "24 hours")
      .writeStream.format("memory").queryName("ngnov_out")
      .outputMode(OutputMode.Append).start()
    try {
      // one doc per minute, in event order so stream first-arrival ==
      // batch min(ts) per (n, gram)
      val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
        .select("doc_id", "text").orderBy("doc_id")
        .collect().map(r => (ts(r.getLong(0)), r.getString(1))).toSeq
      val per = (docs.size + 2) / 3
      docs.grouped(per).foreach { chunk => in.addData(chunk); q.processAllAvailable() }
      // close the final windows (>= 5 tokens so the sentinel passes
      // the length gate; far enough that watermark = sentinel - 24h
      // still clears every real window's end)
      in.addData((ts(docs.size + 2L * 24 * 60), "zz1 zz2 zz3 zz4 zz5"))
      q.processAllAvailable()
      val streamed = spark.table("ngnov_out")
        .collect().map(r => ((r.getTimestamp(0).getTime, r.getLong(1)), r.getLong(2)))
        .filter(_._2 > 0).toMap
      val gramsExpr = (1 to 5).map(n =>
        s"transform(sequence(1, size(toks) - ${n - 1}), i_ -> " +
          s"struct($n AS n, md5(array_join(slice(toks, i_, $n), ' ')) AS g))")
        .mkString("flatten(array(", ", ", "))")
      val batch = spark.createDataFrame(docs).toDF("ts", "text")
        .select(col("ts"), split(col("text"), " ").as("toks"))
        .filter(size(col("toks")) >= 5)
        .select(col("ts"), explode(expr(gramsExpr)).as("ng"))
        .groupBy(col("ng.n").as("n"), col("ng.g").as("g"))
        .agg(min(col("ts")).as("first_ts"))
        .groupBy(window(col("first_ts"), "10 minutes").as("w"), col("n"))
        .agg(count(lit(1)).as("cnt"))
        .collect().map(r => ((r.getStruct(0).getTimestamp(0).getTime,
          r.getInt(1).toLong), r.getLong(2))).toMap
      assert(batch.nonEmpty)
      for ((k, n) <- batch) assert(streamed.get(k).contains(n),
        s"window/n $k: stream=${streamed.get(k)} batch=$n")
    } finally q.stop()
  }

  test("day-close monitors and hedgeMonitor reject an event for a day or hour already closed") {
    implicit val sqlCtx = spark.sqlContext
    val (minMs, hourMs, dayMs) = (60000L, 3600000L, 86400000L)
    val d = (Base / dayMs + 1) * dayMs // 00:00 UTC of day D
    def ev(ms: Long, id: Long) =
      StreamOps.AsofEvent(1L, new Timestamp(ms), "purchase", 10.0, id)
    // chunk 1 ends at D+1 00:10, closing day D (and hour D 23); chunk 2
    // holds D 23:40, inside the 1-hour watermark delay, so no watermark
    // rule can drop it before the monitor sees it
    val closing = Seq(ev(d - 12 * hourMs, 1L), ev(d + 12 * hourMs, 2L),
      ev(d + dayMs + 10 * minMs, 3L))
    val late = Seq(ev(d + 23 * hourMs + 40 * minMs, 4L))
    val day = "day-close contract violated"
    val monitors: Seq[(String, Dataset[StreamOps.AsofEvent] => Dataset[_], String)] = Seq(
      ("hw", StreamOps.hwMonitor(spark, _), day),
      ("ph", StreamOps.phMonitor(spark, _), day),
      ("varBacktest", StreamOps.varBacktestMonitor(spark, _, 100L), day),
      ("varEs", StreamOps.varEsMonitor(spark, _), day),
      ("gpd", StreamOps.gpdTailMonitor(spark, _), day),
      ("controlChart", StreamOps.controlChartMonitor(spark, _,
        Map("purchase" -> StreamOps.SpcBaseline(BigInt(3), BigInt(3000), BigInt(4000000)))), day),
      ("pettitt", StreamOps.pettittMonitor(spark, _), day),
      ("cusumSq", StreamOps.cusumSqMonitor(spark, _), day),
      ("hedge", StreamOps.hedgeMonitor(spark, _, 1000L), "hour-close contract violated"))
    val accepted = monitors.flatMap { case (name, monitor, expected) =>
      val in = MemoryStream[StreamOps.AsofEvent]
      val q = monitor(in.toDS()).writeStream.format("memory")
        .queryName(s"reopen_$name").outputMode(OutputMode.Append).start()
      try {
        in.addData(closing); q.processAllAvailable()
        in.addData(late)
        val rejected =
          try { q.processAllAvailable(); false }
          catch {
            case e: StreamingQueryException =>
              Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
                .exists(t => Option(t.getMessage).exists(_.contains(expected)))
          }
        if (rejected) None else Some(name)
      } finally q.stop()
    }
    assert(accepted.isEmpty, s"monitors that folded the late event: $accepted")
  }
}
