package graft.etl

import java.nio.file.Files

import scala.collection.mutable

import graft.TestSpark
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

/** The incremental-load contract (data_manager.py:172–201,
  * db_manager.py:56–91) of [[EtlPipeline.appendNewRecords]], run once
  * per sink adapter: the parquet lake sink and embedded Derby. */
class IncrementalLoadSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** One sink under test, fresh per test. `writeEvents` are the query
    * executions its single write reports to a QueryExecutionListener. */
  private trait Sink {
    def load(batch: DataFrame): Long
    def rows(): DataFrame
    def writeEvents: Seq[String]
  }

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  /** Parquet sink, partitioned like the pipeline's (`year` here); the
    * sink directory does not exist before the first load. */
  private def parquetSink(): Sink = new Sink {
    private val path = tmp("graft-load-parquet") + "/sink"
    def load(batch: DataFrame): Long =
      EtlPipeline.incrementalAppend(batch.sparkSession, batch, path, Some("year"))
    def rows(): DataFrame = spark.read.parquet(path)
    def writeEvents: Seq[String] = Seq("command")
  }

  private val stm = SchemaInit.TableSpec("stm", Seq(
    SchemaInit.ColumnSpec("surrogate_key", "String", length = 32, primaryKey = true),
    SchemaInit.ColumnSpec("acc_number", "String", length = 20),
    SchemaInit.ColumnSpec("amount", "Decimal", precision = 12, scale = 2),
    SchemaInit.ColumnSpec("year", "Integer")))

  /** Embedded Derby table bootstrapped with the config types, so the
    * database itself enforces VARCHAR(20) on `acc_number`. */
  private def derbySink(): Sink = new Sink {
    private val target = JdbcIo.embeddedDerby(tmp("graft-load-derby") + "/db")
    JdbcIo.initialize(spark, target, Seq(stm))
    def load(batch: DataFrame): Long =
      JdbcIo.incrementalAppend(batch.sparkSession, batch, target, "stm")
    def rows(): DataFrame = spark.read.format("jdbc")
      .option("url", target.url).option("driver", target.driver)
      .option("dbtable", "stm").load()
    // the JDBC write command runs its insert pass as a nested
    // foreachPartition over the same plan: one pass, two events
    def writeEvents: Seq[String] = Seq("command", "foreachPartition")
  }

  private val sinks = Seq[(String, () => Sink)](
    "parquet" -> (() => parquetSink()), "derby" -> (() => derbySink()))

  private def batch(rows: (String, String, String, Int)*): DataFrame = batchIn(spark, rows: _*)

  private def batchIn(s: SparkSession, rows: (String, String, String, Int)*): DataFrame = {
    import s.implicits._
    rows.toSeq.toDF("surrogate_key", "acc_number", "amount_raw", "year")
      .select($"surrogate_key", $"acc_number",
        $"amount_raw".cast("decimal(12,2)").as("amount"), $"year")
  }

  /** Sink contents as sorted (key, account, amount, year) tuples. */
  private def contents(sink: Sink): Seq[(String, String, String, Int)] =
    sink.rows().select("surrogate_key", "acc_number", "amount", "year").collect()
      .map(r => (r.getString(0), r.getString(1), r.getDecimal(2).toPlainString, r.getInt(3)))
      .toSeq.sorted

  private def keys(sink: Sink): Seq[String] = contents(sink).map(_._1)

  private def contract(name: String)(body: Sink => Unit): Unit =
    for ((kind, fresh) <- sinks) test(s"$kind sink: $name")(body(fresh()))

  contract("overlap append: only new surrogate keys land") { sink =>
    assert(sink.load(batch(("k1", "acc1", "10.50", 2024), ("k2", "acc2", "20.00", 2024))) == 2)
    // overlap: k2 already loaded -> only k3 appends
    assert(sink.load(batch(("k2", "acc2", "20.00", 2024), ("k3", "acc3", "30.25", 2025))) == 1)
    assert(contents(sink) == Seq(
      ("k1", "acc1", "10.50", 2024), ("k2", "acc2", "20.00", 2024), ("k3", "acc3", "30.25", 2025)))
  }

  contract("idempotent re-run appends nothing") { sink =>
    val first = batch(("k1", "acc1", "10.50", 2024), ("k2", "acc2", "20.00", 2024))
    val second = batch(("k2", "acc2", "20.00", 2024), ("k3", "acc3", "30.25", 2025))
    sink.load(first)
    sink.load(second)
    // full re-run is a no-op (the reference's idempotence contract)
    assert(sink.load(first.unionByName(second)) == 0)
    assert(keys(sink) == Seq("k1", "k2", "k3"))
  }

  contract("intra-batch duplicate keys collapse to one deterministic row") { sink =>
    val withDup = batch(
      ("k1", "acc1", "10.50", 2024),
      ("k1", "acc1-dup", "11.00", 2024), // same key INSIDE the batch
      ("k2", "acc2", "20.00", 2024))
    assert(sink.load(withDup) == 2)
    assert(keys(sink) == Seq("k1", "k2"))
    // deterministic survivor: max over non-key columns -> 'acc1-dup'
    // (not whichever row a task happened to see first)
    assert(contents(sink).head == ("k1", "acc1-dup", "11.00", 2024))
  }

  contract("empty first load, then a non-empty one") { sink =>
    // an empty write leaves a parquet sink holding only _SUCCESS: the
    // next load must still read its (zero) keys
    assert(sink.load(batch()) == 0)
    assert(sink.load(batch(("k1", "acc1", "10.50", 2024), ("k2", "acc2", "20.00", 2024))) == 2)
    assert(sink.load(batch(("k2", "acc2", "20.00", 2024), ("k3", "acc3", "30.25", 2025))) == 1)
    assert(keys(sink) == Seq("k1", "k2", "k3"))
  }

  contract("each append is exactly one action, with no count job") { sink =>
    // only actions over THIS test's batches carry the marker key
    val marker = s"marker-${java.util.UUID.randomUUID()}"
    def marked(rows: (String, String, String, Int)*) =
      batch(rows: _*).filter(col("surrogate_key") =!= marker)
    val seen = mutable.ArrayBuffer.empty[String]
    val listener = new QueryExecutionListener {
      private def note(funcName: String, qe: QueryExecution): Unit =
        if (qe.logical.treeString.contains(marker)) seen.synchronized(seen += funcName)
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = note(funcName, qe)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = note(funcName, qe)
    }
    spark.listenerManager.register(listener)
    try {
      for ((b, n) <- Seq(
          marked(("k1", "acc1", "10.50", 2024), ("k2", "acc2", "20.00", 2024)) -> 2L,
          marked(("k2", "acc2", "20.00", 2024), ("k3", "acc3", "30.25", 2025)) -> 1L)) {
        seen.synchronized(seen.clear())
        assert(sink.load(b) == n)
        // listener events arrive in order, the write's last: a count
        // or a second pass would show as an extra event before it
        eventually(timeout(30.seconds)) {
          assert(seen.synchronized(seen.sorted.toSeq) == sink.writeEvents.sorted)
        }
      }
    } finally spark.listenerManager.unregister(listener)
  }

  private val clean = Seq(
    ("k1", "acc1", "10.50", 2024), ("k2", "acc2", "20.00", 2024),
    ("k3", "acc3", "30.25", 2025), ("k4", "acc4", "40.00", 2025),
    ("k5", "acc5", "50.75", 2025), ("k6", "acc6", "60.00", 2025))

  /** Crash re-run (exactly-once after failure): a load that fails part
    * way, then the clean batch, must leave the sink equal to a clean
    * single run into a fresh sink. */
  private def crashRerun(fresh: () => Sink)(poisoned: SparkSession => DataFrame): Unit = {
    // no partition coalescing: the write runs as several tasks, so the
    // failure lands in one of them while the others may commit
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    val crashed = fresh()
    intercept[Exception](crashed.load(poisoned(s)))
    crashed.load(batchIn(s, clean: _*))
    val once = fresh()
    assert(once.load(batchIn(s, clean: _*)) == clean.size)
    assert(contents(crashed) == contents(once))
  }

  test("parquet sink: crash re-run equals a clean single run") {
    crashRerun(() => parquetSink()) { s =>
      // the raise_error row sits in the last input partition
      batchIn(s, clean: _*).unionByName(batchIn(s, ("boom", "acc9", "9.00", 2025)))
        .withColumn("acc_number",
          when(col("surrogate_key") === "boom", raise_error(lit("crash mid-load")).cast("string"))
            .otherwise(col("acc_number")))
    }
  }

  test("derby sink: crash re-run equals a clean single run") {
    crashRerun(() => derbySink()) { s =>
      // a 21-char account violates the table's VARCHAR(20) in ONE write
      // partition; the other partitions commit their inserts
      batchIn(s, clean :+ (("k9", "a" * 21, "9.00", 2025)): _*)
    }
  }
}
