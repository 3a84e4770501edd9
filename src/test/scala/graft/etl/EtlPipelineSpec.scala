package graft.etl

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import graft.TestSpark
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

/** Golden end-to-end test of the reference pipeline semantics
  * (SURVEY.md §5 item 4, FIXTURES.md §A): stm + sec CSVs through
  * routing → per-file transform → union → incremental anti-join
  * append, including skip-bad-file behavior and idempotent re-run. */
class EtlPipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Config loaded from the checked-in YAML fixture — the reference's
    * primary config UX (settings.py:23–31); YamlConfigSpec pins the
    * parsed shape field by field. */
  private val config = YamlConfig.loadEtlConfigFile(
    getClass.getResource("/etl_config.yaml").getPath)

  private def writeFixtures(dir: Path): Unit = {
    Files.writeString(dir.resolve("alfabank_current_stm.csv"),
      """acc;date;amount;flag;descr
        |40817001;15.01.2025;1234,56;D;groceries
        |40817001;16.01.2025;99,10;K;salary
        |40817002;16.01.2025;oops;D;bad-amount
        |""".stripMargin)
    Files.writeString(dir.resolve("alfabank_broker_sec.csv"),
      """sent,effective,ticker
        |2025-01-10,2025-01-12,SBER
        |2025-01-10,2025-02-01,GAZP
        |""".stripMargin)
    // pattern miss -> must be skipped with a log, not fail the run
    Files.writeString(dir.resolve("README.csv"), "not,a,statement\n1,2,3\n")
    // config miss (unknown bank) -> skipped
    Files.writeString(dir.resolve("nobank_x_stm.csv"), "acc;date\n1;2\n")
  }

  test("EP1 end-to-end: route, transform, accumulate, incremental append") {
    val dir = Files.createTempDirectory("graft-etl-e2e")
    writeFixtures(dir)
    val sink = dir.resolve("sink").toString

    val byType = EtlPipeline.processCsvFiles(spark, dir.toString, config)
    assert(byType.keySet == Set("stm", "sec"))

    val stm = byType("stm").orderBy("dt", "acc_number").collect()
    assert(stm.length == 3)
    val cols = byType("stm").columns.toSeq
    assert(cols == config.mapping("stm")("alfabank").desiredFields)

    val r0 = stm(0) // 15.01.2025 groceries
    assert(r0.getAs[String]("acc_name") == "Main account")
    assert(r0.getAs[Double]("sum") == -1234.56) // D -> -1, comma decimal
    assert(r0.getAs[Int]("year") == 2025)
    assert(r0.getAs[String]("ym") == "2025-01")
    assert(r0.getAs[String]("bank_name") == "alfabank")
    assert(r0.getAs[String]("acc_type") == "current")
    assert(r0.getAs[String]("surrogate_key").matches("[0-9a-f]{32}"))
    val bad = stm(2) // unparseable amount -> null, unknown account -> null
    assert(bad.isNullAt(bad.fieldIndex("sum")))
    assert(bad.isNullAt(bad.fieldIndex("acc_name")))

    val sec = byType("sec").orderBy("ticker").collect()
    assert(sec.length == 2)
    assert(sec(0).getAs[String]("ticker") == "GAZP")
    assert(sec(0).getAs[Int]("effect_year") == 2025)
    assert(sec(0).getAs[String]("effect_ym") == "2025-02")

    // first load: all new; second load of same batch: zero new (J1)
    assert(EtlPipeline.incrementalAppend(spark, byType("stm"), sink, Some("ym")) == 3)
    assert(EtlPipeline.incrementalAppend(spark, byType("stm"), sink, Some("ym")) == 0)
    // ym partitioning materialized in the sink layout
    assert(Files.exists(Paths.get(sink, "ym=2025-01")))
    assert(spark.read.parquet(sink).count() == 3)
  }

  test("observed load: metrics ride the write in one pass and match the data") {
    val dir = Files.createTempDirectory("graft-etl-observe")
    writeFixtures(dir)
    val sink = dir.resolve("sink-obs").toString
    // only actions over this test's batch carry the marker key
    val marker = s"marker-${java.util.UUID.randomUUID()}"
    val batch = EtlPipeline.processCsvFiles(spark, dir.toString, config)("stm")
      .filter(col("surrogate_key") =!= marker)
    val seen = mutable.ArrayBuffer.empty[String]
    val listener = new QueryExecutionListener {
      private def note(funcName: String, qe: QueryExecution): Unit =
        if (qe.logical.treeString.contains(marker)) seen.synchronized(seen += funcName)
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = note(funcName, qe)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = note(funcName, qe)
    }
    spark.listenerManager.register(listener)
    try {
      // the appended-row count is observed on the write itself: one
      // action, no count job before it
      assert(EtlPipeline.incrementalAppend(spark, batch, sink, Some("ym")) == 3)
      eventually(timeout(30.seconds)) {
        assert(seen.synchronized(seen.toSeq) == Seq("command"))
      }
    } finally spark.listenerManager.unregister(listener)
    val loaded = spark.read.parquet(sink)
    assert(loaded.count() == 3)
    assert(loaded.filter(col("surrogate_key").isNull).count() == 0)
    assert(loaded.select("ym").distinct().count() == 1)
    // idempotent re-run: the observed count is that of the empty anti-joined batch
    assert(EtlPipeline.incrementalAppend(spark, batch, sink, Some("ym")) == 0)
    assert(spark.read.parquet(sink).count() == 3)
  }

  test("input listing goes through the Hadoop FileSystem: a file:// URI works") {
    val dir = Files.createTempDirectory("graft-etl-uri")
    writeFixtures(dir)
    val byType = EtlPipeline.processCsvFiles(spark, dir.toUri.toString, config)
    assert(byType.keySet == Set("stm", "sec"))
    assert(byType("stm").count() == 3)
    assert(byType("stm").select("file_name").distinct().collect().map(_.getString(0)).toSeq ==
      Seq("alfabank_current_stm.csv"))
  }

  test("md5 surrogate key matches hashlib over the same concat text") {
    val dir = Files.createTempDirectory("graft-etl-key")
    writeFixtures(dir)
    val stm = EtlPipeline.processCsvFiles(spark, dir.toString, config)("stm")
    val k = stm.filter(col("dt") === to_timestamp(lit("2025-01-15")))
      .select("surrogate_key").head().getString(0)
    // python: hashlib.md5("40817001#15.01.2025#1234,56".encode()).hexdigest()
    // (key cols concatenated pre-cast, raw CSV text — all-string schema)
    val expect = java.security.MessageDigest.getInstance("MD5")
      .digest("40817001#15.01.2025#1234,56".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(k == expect)
  }
}
