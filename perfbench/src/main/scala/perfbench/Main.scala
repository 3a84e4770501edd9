package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.{Harness, QueryDef}
import graft.etl.{Compaction, EtlConfig, EtlPipeline, YamlConfig}

/** Benchmark main: runs one workload in one JVM and writes every raw
  * measurement to `<out>/measure.json`; `run.py` turns that file into
  * metrics and checks the outputs the run left in `<out>`.
  *
  * Arguments are `key=value` pairs: `workload`, `data` (the generated
  * input directory), `out`, `seconds` (timed-phase length), `trace`
  * (0 or 1), `setups` (set-up repetitions) and, for query workloads,
  * an optional comma-separated `only` subset. Workload `train` is the
  * class-loading run made once per build (see `train`); it also takes
  * `etl`, the directory of tiny `etl-daily` inputs. */
object Main {
  type Record = mutable.LinkedHashMap[String, Any]

  def main(args: Array[String]): Unit = {
    val opt = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val out = Paths.get(opt("out"))
    Files.createDirectories(out)
    if (opt("workload") == "train") {
      train(opt("data"), opt("etl"), out)
      Files.writeString(out.resolve("measure.json"), "{}")
      return
    }
    val tracer = new Tracer(opt.getOrElse("trace", "0") == "1")
    val env = new Env(opt("data"), out, opt("seconds").toDouble, tracer,
      opt.getOrElse("setups", "3").toInt)
    val rec: Record = opt("workload") match {
      case "etl-daily" => new EtlWorkload(env).run()
      case w => new QueryWorkload(env, w, opt.get("only").filter(_.nonEmpty)
        .map(_.split(",").toSet)).run()
    }
    env.stop()
    rec("peak_rss_kb") = peakRssKb()
    rec("spans") = tracer.finish().map { s =>
      mutable.LinkedHashMap[String, Any]("id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "op" -> s.op, "label" -> s.label,
        "start_ns" -> s.start, "end_ns" -> s.end, "counters" -> s.counters)
    }
    Files.writeString(out.resolve("measure.json"), Json.render(rec))
  }

  /** One short pass of each workload: a quarter of the `reports`
    * queries, then one tiny `etl-daily` drop. Run with
    * `-XX:ArchiveClassesAtExit`, it records the classes a benchmark run
    * loads in the class-data archive that every later run maps. */
  def train(corpus: String, etl: String, out: Path): Unit = {
    val queries = (graft.queries.CoreQueries.all ++ graft.operators.FinanceAudit.all)
      .zipWithIndex.collect { case (q, i) if i % 4 == 0 => q.name }.toSet
    val q = new Env(corpus, out.resolve("reports"), 0, new Tracer(false), 1)
    new QueryWorkload(q, "reports", Some(queries)).run()
    q.stop()
    val e = new Env(etl, out.resolve("etl-daily"), 0, new Tracer(false), 1)
    new EtlWorkload(e).run()
    e.stop()
  }

  /** VmHWM of this process: the peak resident set size. */
  def peakRssKb(): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
}

/** What every workload shares: the inputs, the timer, the tracer and
  * the session life cycle. */
final class Env(val data: String, val out: Path, val seconds: Double,
    val tracer: Tracer, val setups: Int) {
  var spark: SparkSession = _

  /** Stop the current session (if any) and start a fresh one, exactly as
    * the program's mains do. Returns the seconds it took. */
  def restart(): Double = {
    stop()
    val t0 = System.nanoTime()
    spark = tracer.span("harness.session", 0)(Harness.session())
    spark.sparkContext.setLogLevel("ERROR")
    tracer.attach(spark.sparkContext)
    tracer.attach(spark)
    Main.secs(t0)
  }

  /** A session with its own state on the shared context: the program's
    * process-local frame memo is keyed by session, so a fresh session
    * per pass carries no memoized frame from one timed pass into the
    * next. */
  def freshSession(): SparkSession = {
    val s = spark.newSession()
    tracer.attach(s)
    SparkSession.setActiveSession(s)
    s
  }

  def stop(): Unit = if (spark != null) { spark.stop(); spark = null }

  /** Set up `setups` times: each restarts the session and runs `warm`.
    * After the last, `load` runs once (the etl-daily backfill). */
  def setUp(warm: Int => Unit, load: => Unit): Main.Record = {
    val reps = (1 to setups).map { r =>
      val t0 = System.nanoTime()
      val session = restart()
      val t1 = System.nanoTime()
      tracer.span("harness.warmup", 0)(warm(r))
      Map("setup_s" -> Main.secs(t0), "session_s" -> session, "warmup_s" -> Main.secs(t1))
    }
    val t2 = System.nanoTime()
    load
    mutable.LinkedHashMap("reps" -> reps, "load_s" -> Main.secs(t2))
  }

  def message(e: Throwable): String =
    (e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage)).take(400)
}

/** `reports` and `dedup-graph`: each op builds one query and runs it to
  * its full result with `collect()`; after the op's timer stops
  * the rows are written out for the DuckDB check. A pass runs every
  * query once, in a fresh session, and takes the sum of its op times;
  * passes repeat while another one fits in `seconds`. */
final class QueryWorkload(env: Env, workload: String, only: Option[Set[String]]) {
  import env.tracer

  private val modules: Seq[(String, Seq[QueryDef])] = workload match {
    case "reports" => Seq(
      "CoreQueries" -> graft.queries.CoreQueries.all,
      "FinanceAudit" -> graft.operators.FinanceAudit.all)
    case "dedup-graph" => Seq(
      "Dedup" -> graft.operators.Dedup.all,
      "Graph" -> graft.operators.Graph.all,
      "PageRank" -> graft.operators.PageRank.all)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }
  private val defs: Seq[(String, QueryDef)] =
    for ((m, qs) <- modules; q <- qs if only.forall(_.contains(q.name))) yield (m, q)

  private def persistentRdds(s: SparkSession): Set[Int] =
    s.sparkContext.getPersistentRDDs.keySet.toSet

  def run(): Main.Record = {
    val rec = new Main.Record
    rec("workload") = workload
    val warmQuery = graft.queries.CoreQueries.q01PricingSummary
    rec("setup") = env.setUp(
      _ => warmQuery.build(env.spark, env.data).write.format("noop").mode("overwrite").save(),
      ())

    rec("oracle_sql") = defs.flatMap { case (_, q) => q.oracle.map(q.name -> _) }.toMap
    val resultDir = Files.createDirectories(env.out.resolve("results"))

    val ops = mutable.ArrayBuffer.empty[Main.Record]
    val passes = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    while (passes.isEmpty || Main.secs(t0) + passes.last <= env.seconds) {
      val pass = passes.size
      val s = env.freshSession()
      defs.zipWithIndex.foreach { case ((module, q), i) =>
        val op = pass * defs.size + i + 1
        val r = mutable.LinkedHashMap[String, Any](
          "name" -> q.name, "module" -> module, "pass" -> pass, "ok" -> true)
        val tb = System.nanoTime()
        try {
          val df = tracer.span("queries.build", op, q.name) {
            val before = if (tracer.enabled) persistentRdds(s) else Set.empty[Int]
            val df = q.build(s, env.data)
            if (tracer.enabled) tracer.count("ckpt_rdds", (persistentRdds(s) -- before).size)
            df
          }
          r("build_s") = Main.secs(tb)
          val ta = System.nanoTime()
          val rows = tracer.span("exec.action", op, q.name) {
            val rows = df.collect()
            tracer.count("result_rows", rows.length)
            rows
          }
          r("action_s") = Main.secs(ta)
          r("op_s") = Main.secs(tb)
          Results.write(resultDir.resolve(q.name + ".jsonl"), df.schema, rows)
        } catch { case NonFatal(e) => r("ok") = false; r("error") = env.message(e) }
        if (!r.contains("op_s")) r("op_s") = Main.secs(tb)
        ops += r
      }
      passes += ops.takeRight(defs.size).map(_("op_s").asInstanceOf[Double]).sum
    }
    rec("ops") = ops
    rec("ops_per_pass") = defs.size
    rec
  }
}

/** `etl-daily`: set-up bulk-loads the backfill into partitioned parquet
  * sinks (statements by `ym`, securities by `effect_ym`); each op then
  * processes one daily drop: route and transform the CSVs, append the
  * new keys of both mapping types, read the sinks back, and on every
  * 5th drop compact the statement-sink partitions written since the
  * last compaction. A pass is one such cycle of 5 drops; cycles start
  * until `seconds` have passed. */
final class EtlWorkload(env: Env) {
  import env.tracer

  private val data = Paths.get(env.data)
  private val config: EtlConfig = YamlConfig.loadEtlConfigFile(data.resolve("config.yaml").toString)
  private val partitionOf = Map("stm" -> "ym", "sec" -> "effect_ym")
  private val CompactEvery = 5

  private def sinkOf(root: Path, t: String): String = root.resolve(t).toString

  private def csvFiles(dir: Path): Seq[String] =
    Files.list(dir).iterator().asScala.map(_.getFileName.toString)
      .filter(_.toLowerCase.endsWith(".csv")).toSeq.sorted

  private def routed(dir: Path): Int = csvFiles(dir).count { f =>
    EtlPipeline.extractFileMeta(config, f).exists { case (bank, _, t) =>
      EtlPipeline.routeConfig(config, t, bank).isDefined
    }
  }

  private def sinkFiles(root: Path): Seq[Path] =
    if (!Files.exists(root)) Seq.empty
    else Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet")).toSeq

  /** Partition directories with a data file written after `sinceMs`:
    * what daily compaction rewrites (the `Compaction` docs' advice for
    * large partition counts: compact the recent partitions only). */
  private def touched(root: Path, sinceMs: Long): Seq[Path] =
    sinkFiles(root).filter(p => Files.getLastModifiedTime(p).toMillis > sinceMs)
      .map(_.getParent).distinct.sorted

  /** Route one directory and append both mapping types; returns rows
    * appended per type. */
  private def load(dir: Path, sinks: Path, op: Int): Map[String, Long] = {
    val byType = tracer.span("etl.route", op) {
      EtlPipeline.processCsvFiles(env.spark, dir.toString, config)
    }
    partitionOf.toSeq.sortBy(_._1).map { case (t, part) =>
      t -> tracer.span("etl.append", op, t) {
        byType.get(t).fold(0L)(df =>
          EtlPipeline.incrementalAppend(env.spark, df, sinkOf(sinks, t), Some(part)))
      }
    }.toMap
  }

  /** The reconciliation read-back: rows per partition, summed per sink. */
  private def readBack(sinks: Path): Map[String, Long] = partitionOf.map { case (t, part) =>
    val rows = env.spark.read.parquet(sinkOf(sinks, t)).groupBy(part)
      .agg(count(lit(1)).as("n")).collect()
    t -> rows.map(_.getLong(1)).sum
  }

  def run(): Main.Record = {
    val rec = new Main.Record
    rec("workload") = "etl-daily"
    val work = env.out.resolve("sinks")
    val live = work.resolve("live")
    var backfill = Map.empty[String, Long]
    // the warm-up walks a drop's whole path on two small files: a load
    // into an empty sink, then a read-back
    rec("setup") = env.setUp(
      r => {
        val sinks = work.resolve(s"warmup$r")
        load(data.resolve("warmup"), sinks, 0)
        readBack(sinks)
      },
      { backfill = tracer.span("etl.backfill", 0)(load(data.resolve("backfill"), live, 0)) })

    val drops = Files.list(data.resolve("drops")).iterator().asScala.toSeq.sorted
    var sinkRows: Map[String, Long] = backfill
    val ops = mutable.ArrayBuffer.empty[Main.Record]
    var lastCompaction = System.currentTimeMillis()
    val t0 = System.nanoTime()
    // whole compaction cycles, started until `seconds` have passed
    while (ops.size < drops.size && (ops.size % CompactEvery != 0 || ops.isEmpty ||
        Main.secs(t0) < env.seconds)) {
      val op = ops.size + 1
      val dir = drops(ops.size)
      val r = mutable.LinkedHashMap[String, Any]("drop" -> dir.getFileName.toString, "op" -> op)
      val filesBefore = if (tracer.enabled) sinkFiles(live).size else 0
      r("keys_scanned") = sinkRows.values.sum
      val ts = System.nanoTime()
      tracer.span("etl.drop", op) {
        val appended = load(dir, live, op)
        r("appended") = appended
        if (tracer.enabled) r("files_written") = sinkFiles(live).size - filesBefore
        val ta = System.nanoTime()
        sinkRows = tracer.span("etl.readback", op)(readBack(live))
        r("readback_s") = Main.secs(ta)
        if (op % CompactEvery == 0) {
          val tc = System.nanoTime()
          tracer.span("etl.compact", op) {
            touched(Paths.get(sinkOf(live, "stm")), lastCompaction)
              .foreach(leaf => Compaction.compact(env.spark, leaf.toString))
          }
          lastCompaction = System.currentTimeMillis()
          r("compact_s") = Main.secs(tc)
        }
      }
      r("op_s") = Main.secs(ts)
      r("sink_rows") = sinkRows
      if (tracer.enabled) r("sink_files") = sinkFiles(live).size
      val nRouted = routed(dir)
      r("files_routed") = nRouted
      r("files_skipped") = csvFiles(dir).size - nRouted
      ops += r
    }
    rec("ops") = ops
    rec("ops_per_pass") = CompactEvery

    // untimed: re-running the last drop must append nothing
    rec("rerun_appended") = load(drops(ops.size - 1), live, -1)
    rec("sink_dir") = env.out.relativize(live).toString
    rec
  }
}
