package graft.etl

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** S5/S6 database path against embedded Derby (on the Spark
  * classpath — no server, no network): DDL bootstrap consuming the
  * config column types, key-scan + anti-join incremental append with
  * intra-batch dedup, idempotent re-run, and a load into a table that
  * was never bootstrapped — the db_manager.py:56–91 contract. The same
  * contract, plus one write per append and crash re-run, runs for every
  * sink in [[IncrementalLoadSpec]]. */
class JdbcIoSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._
  import JdbcIo._

  private def freshTarget(): JdbcTarget = embeddedDerby(
    java.nio.file.Files.createTempDirectory("graft-derby").toString + "/db")

  private val stm = SchemaInit.TableSpec("stm", Seq(
    SchemaInit.ColumnSpec("surrogate_key", "String", length = 32, primaryKey = true),
    SchemaInit.ColumnSpec("acc_number", "String", length = 20),
    SchemaInit.ColumnSpec("amount", "Decimal", precision = 12, scale = 2),
    SchemaInit.ColumnSpec("year", "Integer")))

  private def batch(keys: (String, String, String, Int)*) =
    keys.toSeq.toDF("surrogate_key", "acc_number", "amount_raw", "year")
      .select(
        $"surrogate_key", $"acc_number",
        $"amount_raw".cast("decimal(12,2)").as("amount"), $"year")

  test("initialize bootstraps typed tables via createTableColumnTypes DDL") {
    val t = freshTarget()
    initialize(spark, t, Seq(stm))
    val empty = spark.read.format("jdbc")
      .option("url", t.url).option("driver", t.driver)
      .option("dbtable", "stm").load()
    assert(empty.count() == 0)
    assert(empty.columns.map(_.toLowerCase).toSeq ==
      Seq("surrogate_key", "acc_number", "amount", "year"))
    // the config's VARCHAR(20) length is enforced by the database:
    // a 21-char account number must be rejected by the sink
    val tooLong = batch(("k1", "a" * 21, "1.00", 2024))
    intercept[Exception] {
      incrementalAppend(spark, tooLong, t, "stm")
    }
    // re-initialize drops and recreates (destructive, like db_init)
    assert(incrementalAppend(spark, batch(("k1", "acc1", "1.00", 2024)), t, "stm") == 1)
    initialize(spark, t, Seq(stm))
    assert(existingKeys(spark, t, "stm").count() == 0)
  }

  test("incremental append: only new surrogate keys cross the wire") {
    val t = freshTarget()
    initialize(spark, t, Seq(stm))
    val first = batch(
      ("k1", "acc1", "10.50", 2024),
      ("k2", "acc2", "20.00", 2024))
    assert(incrementalAppend(spark, first, t, "stm") == 2)
    // overlap: k2 already loaded -> only k3 appends
    val second = batch(
      ("k2", "acc2", "20.00", 2024),
      ("k3", "acc3", "30.25", 2025))
    assert(incrementalAppend(spark, second, t, "stm") == 1)
    // full re-run is a no-op (the reference's idempotence contract)
    assert(incrementalAppend(spark, first.unionByName(second), t, "stm") == 0)
    val rows = existingKeys(spark, t, "stm").as[String].collect().sorted
    assert(rows.toSeq == Seq("k1", "k2", "k3"))
  }

  test("intra-batch duplicate keys collapse to one appended row") {
    val t = freshTarget()
    initialize(spark, t, Seq(stm))
    val withDup = batch(
      ("k1", "acc1", "10.50", 2024),
      ("k1", "acc1-dup", "11.00", 2024), // same key INSIDE the batch
      ("k2", "acc2", "20.00", 2024))
    assert(incrementalAppend(spark, withDup, t, "stm") == 2)
    val keys = existingKeys(spark, t, "stm").as[String].collect().sorted
    assert(keys.toSeq == Seq("k1", "k2"))
    // deterministic survivor: max over non-key columns -> 'acc1-dup'
    // (not whichever row a task happened to see first)
    val acc = spark.read.format("jdbc")
      .option("url", t.url).option("driver", t.driver)
      .option("dbtable", "stm").load()
      .filter($"surrogate_key" === "k1")
      .select("acc_number").as[String].head()
    assert(acc == "acc1-dup")
  }

  test("append without bootstrap treats the whole batch as fresh") {
    val t = freshTarget()
    assert(incrementalAppend(spark, batch(("k9", "acc9", "9.99", 2023)), t, "stm") == 1)
    assert(existingKeys(spark, t, "stm").as[String].collect().toSeq == Seq("k9"))
  }
}
