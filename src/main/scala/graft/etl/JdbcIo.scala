package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}

/** S5/S6 over a real JDBC database — the reference's incremental load
  * reads existing surrogate keys from and appends new records to an
  * RDBMS (db_manager.py:56–57 key scan, :85–91 `to_sql` append), with
  * tables bootstrapped drop-and-recreate by db_init.py:91–95. The
  * parquet sink of [[EtlPipeline.incrementalAppend]] is the lake path;
  * this module is the database path, exercised in tests against
  * embedded Derby (on the Spark classpath — no network, no server).
  * Both are adapters of the one load, [[EtlPipeline.appendNewRecords]]
  * (anti-join, deterministic intra-batch dedup, one observed write):
  * the sink only changes where keys come from and where rows go.
  *
  * Scale design (100 TB): the key scan pulls ONLY the key column, and
  * Spark's JDBC scan pushes that projection into the database (the
  * database sends keys, never full rows); the append streams
  * partition-parallel INSERTs sized by `batchsize`.
  *
  * PostgreSQL dialect seam: the reference's actual sink is Postgres
  * (db_manager.py:15–17). The full Spark JDBC path is proven against
  * embedded Derby; the POSTGRES half is validated against a live
  * Postgres 15 in `PostgresDialectSpec` — the exact DDL Spark's sink
  * would issue (JdbcUtils.schemaString under PostgresDialect, fed by
  * [[SchemaInit.jdbcColumnTypes]]) parses on pg and lands the
  * parameterized catalog types, and the key-scan → anti-join →
  * append-only-fresh contract holds with pg as the system of record
  * (psql transport — this offline container ships pg server binaries
  * but no Postgres JDBC driver jar, so Spark's JDBC WIRE path to pg
  * specifically remains the one untested hop; it is the same
  * JdbcUtils code path Derby exercises). Identifier quoting and type
  * mapping go through Spark's per-database `JdbcDialect`; note the
  * TIMESTAMP_NTZ round-trip pinned there (a bare TIMESTAMP fragment
  * re-renders as `timestamptz` on pg). Transactionality is the other
  * deliberate gap: the reference wraps DDL+insert in one session_scope
  * transaction (db_manager.py:24–41); Spark's JDBC append commits per
  * partition, so a mid-write failure can leave a partial append. The
  * pipeline's correctness does not rest on rollback — the surrogate-key
  * anti-join makes re-runs idempotent (a retry appends only the rows
  * that didn't land; `IncrementalLoadSpec`'s crash re-run test pins a
  * crashed-then-re-run sink equal to a clean single run) — and the
  * streaming side's foreachBatch sink covers the continuous path.
  */
object JdbcIo {

  /** Connection descriptor — the Spark-side shape of the reference's
    * SQLAlchemy engine URL (settings.py builds it from config). */
  final case class JdbcTarget(
      url: String,
      driver: String,
      options: Map[String, String] = Map.empty)

  /** Embedded Derby target rooted at `dir` (created on first use) —
    * the offline-testable stand-in for the reference's PostgreSQL. */
  def embeddedDerby(dir: String): JdbcTarget =
    JdbcTarget(
      url = s"jdbc:derby:$dir;create=true",
      driver = "org.apache.derby.jdbc.EmbeddedDriver")

  private def reader(spark: SparkSession, t: JdbcTarget) =
    spark.read.format("jdbc")
      .options(t.options)
      .option("url", t.url)
      .option("driver", t.driver)

  private def writer(df: DataFrame, t: JdbcTarget) =
    df.write.format("jdbc")
      .options(t.options)
      .option("url", t.url)
      .option("driver", t.driver)

  /** db_init.py:91–95 drop_all + create_all against the database:
    * overwrite each table with an empty, correctly-typed dataset. The
    * config's string lengths / decimal parameters become concrete DDL
    * through `createTableColumnTypes` ([[SchemaInit.jdbcColumnTypes]]).
    * Destructive by design, like the reference. */
  def initialize(spark: SparkSession, target: JdbcTarget,
      tables: Seq[SchemaInit.TableSpec]): Unit =
    tables.foreach { t =>
      writer(
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            SchemaInit.toStructType(t)),
          target)
        .option("dbtable", t.name)
        .option("createTableColumnTypes", SchemaInit.jdbcColumnTypes(t))
        .mode("overwrite")
        .save()
    }

  /** S5 — existing-key scan (db_manager.py:56–57): only the key column
    * crosses the wire. The projection is pushed into the database by
    * Spark's JDBC scan (JDBCRDD emits `SELECT "key" FROM table` with
    * dialect-correct identifier quoting — a hand-written `query` option
    * would have to re-solve per-database case folding). */
  def existingKeys(spark: SparkSession, target: JdbcTarget, table: String): DataFrame =
    reader(spark, target)
      .option("dbtable", table)
      .load()
      .select(EtlOps.KeyColumn)

  /** Existence probe through driver-level JDBC metadata — an explicit
    * check, NOT a swallowed read failure: a connection error during the
    * key scan must abort the load (treating it as "no keys" would
    * re-append the whole batch as duplicates). */
  private def tableExists(target: JdbcTarget, table: String): Boolean = {
    Class.forName(target.driver)
    val props = new java.util.Properties()
    target.options.foreach { case (k, v) => props.setProperty(k, v) }
    val conn = java.sql.DriverManager.getConnection(target.url, props)
    try {
      val md = conn.getMetaData
      md.getTables(null, null, table, null).next() ||
        md.getTables(null, null, table.toUpperCase, null).next()
    } finally conn.close()
  }

  /** S6 — the JDBC sink adapter of [[EtlPipeline.appendNewRecords]]
    * (db_manager.py:85–91). A missing table (bootstrap not run) means
    * no loaded keys — the whole batch is fresh, and the append creates
    * the table. Returns the number of rows appended. */
  def incrementalAppend(spark: SparkSession, batch: DataFrame,
      target: JdbcTarget, table: String): Long =
    EtlPipeline.appendNewRecords(batch,
        Option.when(tableExists(target, table))(existingKeys(spark, target, table))) {
      writer(_, target).option("dbtable", table).mode("append").save()
    }
}
