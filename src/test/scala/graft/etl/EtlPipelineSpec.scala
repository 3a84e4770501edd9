package graft.etl

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import graft.TestSpark
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.csv.CSVFileFormat
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

  /** Root paths of each CSV file-scan leaf in `df`'s optimized plan. */
  private def csvScans(df: DataFrame): Seq[Seq[String]] =
    df.queryExecution.optimizedPlan.collect { case l: LogicalRelation => l.relation }.collect {
      case h: HadoopFsRelation if h.fileFormat.isInstanceOf[CSVFileFormat] =>
        h.location.rootPaths.map(_.getName).sorted
    }

  private val stmHeader = "acc;date;amount;flag;descr"

  private def writeStm(dir: Path, name: String, header: String, rows: String*): Unit =
    Files.writeString(dir.resolve(name), (header +: rows).mkString("", "\n", "\n"))

  /** (acc_number, file_name, acc_type) of every statement row. */
  private def stmOrigins(df: DataFrame): Seq[(String, String, String)] =
    df.select("acc_number", "file_name", "acc_type").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq.sorted

  /** `config` with a second statement bank, zorro, mapped as alfabank is. */
  private val twoBanks = config.copy(mapping = config.mapping.updated("stm",
    config.mapping("stm").updated("zorro", config.mapping("stm")("alfabank"))))

  /** Three statement files of two banks; one key value holds a quoted separator. */
  private def writeTwoBankDrop(dir: Path): Unit = {
    writeStm(dir, "alfabank_current_stm.csv", stmHeader,
      "40817001;15.01.2025;1234,56;D;groceries", "40817001;16.01.2025;\"99;10\";K;payroll")
    writeStm(dir, "alfabank_savings_stm.csv", stmHeader, "40817002;17.01.2025;5,00;K;interest")
    writeStm(dir, "zorro_current_stm.csv", stmHeader, "70000001;18.01.2025;40,00;D;rent")
  }

  test("rows agree with a per-file readCsv plus literal file metadata") {
    val dir = Files.createTempDirectory("graft-etl-perfile")
    writeTwoBankDrop(dir)
    val stm = EtlPipeline.processCsvFiles(spark, dir.toString, twoBanks)("stm")
    val expected = Seq(
      ("alfabank", "current", "alfabank_current_stm.csv"),
      ("alfabank", "savings", "alfabank_savings_stm.csv"),
      ("zorro", "current", "zorro_current_stm.csv"))
      .map { case (bank, accType, f) =>
        EtlPipeline.readCsv(spark, Seq(s"$dir/$f"), ";", stmHeader.split(';').toSeq)
          .select(md5(concat_ws("#", col("acc"), col("date"), col("amount"))).as("surrogate_key"),
            col("acc").as("acc_number"), col("flag").as("dc"), lit(bank).as("bank_name"),
            lit(accType).as("acc_type"), lit(f).as("file_name"))
      }
      .reduce(_ unionByName _)
    val got = stm.select(expected.columns.map(col): _*)
    assert(got.count() == 4)
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty)
  }

  test("a bank_name filter over the result plans only that bank's csv scans") {
    val dir = Files.createTempDirectory("graft-etl-bank-prune")
    writeTwoBankDrop(dir)
    val stm = EtlPipeline.processCsvFiles(spark, dir.toString, twoBanks)("stm")
    assert(csvScans(stm).size == 2)
    val zorro = stm.filter(col("bank_name") === "zorro")
    assert(csvScans(zorro) == Seq(Seq("zorro_current_stm.csv")))
    assert(stmOrigins(zorro) == Seq(("70000001", "zorro_current_stm.csv", "current")))
    val alfabank = stm.filter(col("bank_name").isin("alfabank"))
    assert(csvScans(alfabank) == Seq(Seq("alfabank_current_stm.csv", "alfabank_savings_stm.csv")))
    assert(alfabank.count() == 3)
  }

  test("routing fires no Spark job and plans one csv scan per (type, bank, header) group") {
    val dir = Files.createTempDirectory("graft-etl-groups")
    writeFixtures(dir) // alfabank_current_stm, alfabank_broker_sec and two skipped files
    writeStm(dir, "alfabank_savings_stm.csv", stmHeader, "40817002;17.01.2025;5,00;K;interest")
    writeStm(dir, "alfabank_card_stm.csv", stmHeader, "40817003;18.01.2025;7,50;D;cafe")
    val sc = spark.sparkContext
    val group = s"etl-route-${java.util.UUID.randomUUID()}"
    val sentinel = "sentinel"
    // descriptions of the jobs started in this test's job group
    val jobs = mutable.ArrayBuffer.empty[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.synchronized(jobs += e.properties.getProperty("spark.job.description"))
    }
    sc.addSparkListener(listener)
    val byType =
      try {
        sc.setJobGroup(group, "processCsvFiles")
        val out = EtlPipeline.processCsvFiles(spark, dir.toString, config)
        // listener events arrive in order: once the sentinel job is
        // seen, any job routing fired has been seen too
        sc.setJobDescription(sentinel)
        sc.parallelize(Seq(1), 1).count()
        eventually(timeout(30.seconds))(assert(jobs.synchronized(jobs.contains(sentinel))))
        out
      } finally {
        sc.clearJobGroup()
        sc.setJobDescription(null)
        sc.removeSparkListener(listener)
      }
    assert(jobs.synchronized(jobs.toSeq) == Seq(sentinel), "processCsvFiles must not fire a Spark job")
    assert(csvScans(byType("stm")) ==
      Seq(Seq("alfabank_card_stm.csv", "alfabank_current_stm.csv", "alfabank_savings_stm.csv")))
    assert(csvScans(byType("sec")) == Seq(Seq("alfabank_broker_sec.csv")))
    assert(stmOrigins(byType("stm")) == Seq(
      ("40817001", "alfabank_current_stm.csv", "current"),
      ("40817001", "alfabank_current_stm.csv", "current"),
      ("40817002", "alfabank_current_stm.csv", "current"),
      ("40817002", "alfabank_savings_stm.csv", "savings"),
      ("40817003", "alfabank_card_stm.csv", "card")))
    assert(byType("sec").count() == 2)
  }

  test("reordered headers plan as two groups and still bind every value by name") {
    val dir = Files.createTempDirectory("graft-etl-reorder")
    writeStm(dir, "alfabank_current_stm.csv", stmHeader, "40817001;15.01.2025;1234,56;D;groceries")
    writeStm(dir, "alfabank_savings_stm.csv", "descr;flag;amount;date;acc",
      "interest;K;5,00;17.01.2025;40817002")
    val stm = EtlPipeline.processCsvFiles(spark, dir.toString, config)("stm")
    assert(csvScans(stm).size == 2)
    val rows = stm.orderBy("dt").select("acc_number", "dc", "sum", "year", "acc_type").collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2), r.getInt(3), r.getString(4))).toSeq
    assert(rows == Seq(
      ("40817001", "D", -1234.56, 2025, "current"),
      ("40817002", "K", 5.0, 2025, "savings")))
  }

  test("a file lacking a mapped column is skipped while its same-bank siblings load") {
    val dir = Files.createTempDirectory("graft-etl-missing")
    writeStm(dir, "alfabank_current_stm.csv", stmHeader, "40817001;15.01.2025;1,00;D;a")
    writeStm(dir, "alfabank_savings_stm.csv", "acc;date;amount;descr", "40817002;16.01.2025;2,00;b")
    writeStm(dir, "alfabank_card_stm.csv", stmHeader, "40817003;17.01.2025;3,00;K;c")
    val stm = EtlPipeline.processCsvFiles(spark, dir.toString, config)("stm")
    assert(stmOrigins(stm) == Seq(
      ("40817001", "alfabank_current_stm.csv", "current"),
      ("40817003", "alfabank_card_stm.csv", "card")))
  }

  test("file_name and acc_type come from each row's own file, escaped names included") {
    val dir = Files.createTempDirectory("graft-etl-names")
    // a space reads %20 in Spark's raw file name; '+' must not decode to a space
    val spaced = config.copy(filePattern = "([a-z]+)_([a-z +]+)_(stm|sec)\\.csv".r)
    writeStm(dir, "alfabank_credit card_stm.csv", stmHeader,
      "40817001;15.01.2025;1,00;D;a", "40817001;16.01.2025;2,00;D;b")
    writeStm(dir, "alfabank_gold+plus_stm.csv", stmHeader, "40817002;15.01.2025;3,00;D;c")
    writeStm(dir, "alfabank_current_stm.csv", stmHeader, "40817003;15.01.2025;4,00;D;d")
    val stm = EtlPipeline.processCsvFiles(spark, dir.toString, spaced)("stm")
    assert(csvScans(stm).size == 1)
    assert(stmOrigins(stm) == Seq(
      ("40817001", "alfabank_credit card_stm.csv", "credit card"),
      ("40817001", "alfabank_credit card_stm.csv", "credit card"),
      ("40817002", "alfabank_gold+plus_stm.csv", "gold+plus"),
      ("40817003", "alfabank_current_stm.csv", "current")))
  }

  test("the driver-side header read names columns as Spark's header inference does") {
    val dir = Files.createTempDirectory("graft-etl-header")
    val fs = new HPath(dir.toString).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cases = Seq(
      ("quoted.csv", ";", "\"acc;no\";date\n1;2\n"),
      ("bom.csv", ";", "\uFEFFacc;date\n1;2\n"),
      ("blank.csv", ",", "\n  \nacc,date\n1,2\n"),
      ("bom-blank.csv", ",", "\uFEFF\r\nacc,date\r\n1,2\r\n"),
      ("names.csv", ",", "x,x,,X, y \n1,2,3,4,5\n"))
    for ((name, sep, body) <- cases) {
      val p = dir.resolve(name)
      Files.writeString(p, body)
      val spark_ = spark.read.option("sep", sep).option("header", "true").csv(p.toString).columns.toSeq
      assert(EtlPipeline.csvHeader(spark, fs, new HPath(p.toString), sep) == Right(spark_), name)
    }
    assert(EtlPipeline.csvHeader(spark, fs, new HPath(dir.resolve("quoted.csv").toString), ";") ==
      Right(Seq("acc;no", "date")))
  }

  test("an empty or header-only file is skipped with a reason, not failing the run") {
    val dir = Files.createTempDirectory("graft-etl-empty")
    val fs = new HPath(dir.toString).getFileSystem(spark.sparkContext.hadoopConfiguration)
    Files.writeString(dir.resolve("alfabank_card_stm.csv"), "")
    writeStm(dir, "alfabank_savings_stm.csv", stmHeader)
    writeStm(dir, "alfabank_current_stm.csv", stmHeader, "40817001;15.01.2025;1,00;D;a")
    def header(name: String) = EtlPipeline.csvHeader(spark, fs, new HPath(dir.resolve(name).toString), ";")
    assert(header("alfabank_card_stm.csv") == Left("no header line"))
    assert(header("alfabank_savings_stm.csv") == Left("header only, no data rows"))
    val stm = EtlPipeline.processCsvFiles(spark, dir.toString, config)("stm")
    assert(stmOrigins(stm) == Seq(("40817001", "alfabank_current_stm.csv", "current")))
  }
}
