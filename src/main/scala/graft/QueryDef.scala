package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One named query in the engine's public surface.
  *
  * @param name   stable key used by the driver (Verify/Bench)
  * @param build  Spark plan builder: (session, scale-factor dir) => result
  * @param oracle equivalent ANSI SQL for DuckDB over the same parquet
  *               tables (None for non-SQL-expressible ops — driver then
  *               records a weaker rows-only check)
  *
  * Determinism contract (so the driver's hash compare is stable):
  *  - every query ends in an explicit ORDER BY with a unique tiebreaker
  *  - float aggregates go through decimal casts (exact, order-insensitive)
  *    and are rounded before the final cast back to double
  *  - column names are aliased identically in the Spark plan and the SQL
  */
final case class QueryDef(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object QueryDef {
  def apply(name: String, oracle: String)(
      build: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, build, Some(oracle))
}
