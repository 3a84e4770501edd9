package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** JSON-lines ingest — the canonical LLM-corpus interchange format
  * (one JSON document per line; WebDataset/Dolma/RedPajama all ship
  * it). Complements the reference-scoped CSV path (EtlPipeline)
  * with the format a training-data pipeline actually receives.
  *
  * Design decisions (100 TB):
  *  - an EXPLICIT schema is required — schema inference reads the
  *    whole corpus twice and silently unions drifting schemas; a
  *    pipeline declares its contract instead (q196/q209 audit drift);
  *  - PERMISSIVE mode with a corrupt-record column: a bad line must
  *    neither kill the job (FAILFAST) nor vanish (DROPMALFORMED) —
  *    it lands in the reject report, because silent row loss is how
  *    corpora lose provenance;
  *  - the reject report is one aggregate pass (no second read), and
  *    `badRecords` returns the raw lines for a dead-letter sink.
  */
object JsonlIo {

  val CorruptCol = "_corrupt_record"

  /** Read `path` (file, directory, or glob of .jsonl) under the given
    * contract schema. The corrupt column rides along; downstream
    * selects prune it for free.
    *
    * Deliberately built as text-scan + `from_json` rather than the
    * JSON file source: same parser, but the corrupt column is then an
    * ordinary projected column — the file source refuses any plan
    * whose only required column is the corrupt record (SPARK-21610),
    * which breaks exactly the dead-letter counting this module
    * exists for. */
  def read(spark: SparkSession, path: String, schema: StructType): DataFrame = {
    val full = schema.add(CorruptCol, "string")
    val opts = Map("mode" -> "PERMISSIVE",
      "columnNameOfCorruptRecord" -> CorruptCol)
    spark.read.text(path)
      .select(from_json(col("value"), full, opts).as("j"))
      .select(col("j.*"))
  }

  /** Clean rows only (contract-conforming lines). */
  def goodRecords(df: DataFrame): DataFrame =
    df.filter(col(CorruptCol).isNull).drop(CorruptCol)

  /** Rejected rows (raw line in [[CorruptCol]]) — the dead-letter
    * feed. Kept as FULL rows rather than the corrupt column alone:
    * Spark's JSON reader refuses plans whose only required column is
    * the corrupt record (SPARK-21610), and the dead-letter sink wants
    * whatever partial fields did parse anyway. */
  def badRecords(df: DataFrame): DataFrame =
    df.filter(col(CorruptCol).isNotNull)

  /** One-pass ingest audit: total/corrupt line counts plus per-field
    * null counts over the clean rows (a field that is null on every
    * clean row is a contract typo — the q196 schema-drift smell at
    * ingest time). Output is 1 row; at any scale this is a single
    * partial-aggregable fold. */
  def audit(df: DataFrame): DataFrame = {
    val fields = df.schema.fieldNames.filterNot(_ == CorruptCol)
    val corrupt = sum(when(col(CorruptCol).isNotNull, 1L).otherwise(0L))
    df.agg(
      count(lit(1)).as("n_lines"),
      corrupt.as("n_corrupt") +:
        fields.map(f =>
          sum(when(col(CorruptCol).isNull && col(f).isNull, 1L)
            .otherwise(0L)).as(s"null_$f")): _*)
  }
}
