package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's transform vocabulary (SURVEY.md §2, operator IDs in
  * scaladoc), re-expressed as pure `DataFrame => DataFrame` functions
  * over codegen'd Spark built-ins — zero UDFs, zero collects.
  *
  * Null semantics follow the pandas originals: parse failures and
  * missing map keys yield null (pandas NaN), via `try_*` variants since
  * Spark 4 defaults to ANSI mode.
  */
object EtlOps {

  /** The surrogate-key column every sink is keyed and anti-joined on. */
  val KeyColumn = "surrogate_key"

  /** P1 + P2 — select the configured raw columns, rename to canonical
    * names (data_manager.py:49–53). */
  def selectAndRename(originalFields: Map[String, String])(df: DataFrame): DataFrame =
    df.select(originalFields.keys.toSeq.sorted.map(col): _*)
      .withColumnsRenamed(originalFields)

  /** F1 — '#'-joined key text. pandas `astype(str)` renders missing
    * values as the literal "nan" and joins them (data_manager.py:62);
    * `concat_ws` would *skip* nulls, so coalesce each part explicitly
    * (SURVEY.md §2 F1 fidelity note). */
  def concatKey(keyCols: Seq[String]): Column =
    concat_ws("#", keyCols.map(c => coalesce(col(c).cast("string"), lit("nan"))): _*)

  /** F1 + F2 — MD5 surrogate key over the key columns
    * (data_manager.py:62–63). 32-char lowercase hex, same as
    * hashlib.md5(...).hexdigest(). */
  def withSurrogateKey(keyCols: Seq[String])(df: DataFrame): DataFrame =
    df.withColumn(KeyColumn, md5(concatKey(keyCols)))

  /** P4 — per-file metadata + UTC load timestamp (data_manager.py:66)
    * over a scan of one bank's files: `file_name` is the file each row
    * was read from and `acc_type` that file's entry in `accTypeByFile`.
    * Spark's `_metadata.file_name` is the name's raw URI form (a space
    * reads `%20`), so it is percent-decoded; `+` is escaped first, which
    * `url_decode` would otherwise read as a space. `acc_type` tests one
    * IN list of file names per account type rather than looking the
    * name up in a map: Spark scans a map's keys for every row, while an
    * IN list of more than 10 literals becomes a hash set. */
  def withFileMetadata(bank: String, accTypeByFile: Map[String, String])(
      df: DataFrame): DataFrame = {
    val fileName = url_decode(replace(col("_metadata.file_name"), lit("+"), lit("%2B")))
    val accType = accTypeByFile.groupMap(_._2)(_._1).toSeq.sortBy(_._1)
      .foldLeft(lit(null).cast("string")) { case (other, (t, names)) =>
        when(fileName.isin(names.toSeq.sorted: _*), t).otherwise(other)
      }
    df.withColumns(Map(
      "bank_name" -> lit(bank),
      "acc_type" -> accType,
      "file_name" -> fileName,
      "processed_at" -> current_timestamp()))
  }

  /** F3 — bounded dictionary decode (data_manager.py:71). The config map
    * becomes a literal map expression: no shuffle, no broadcast var,
    * fully codegen'd. Missing key -> null (try_element_at; plain
    * element_at throws under ANSI). */
  def decode(from: String, to: String, dict: Map[String, String])(
      df: DataFrame): DataFrame =
    if (dict.isEmpty) df.withColumn(to, lit(null).cast("string"))
    else {
      val m = map(dict.toSeq.sortBy(_._1)
        .flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)
      df.withColumn(to, try_element_at(m, col(from)))
    }

  /** F4 — typed date parse from a Python-strftime config format
    * (data_manager.py:72, 80–81). Lenient (bad text -> null) to keep a
    * single malformed row from killing a 100 TB job; the reference's
    * stricter skip-the-file behavior is reproduced per-file in
    * [[EtlPipeline]]'s error handling instead. */
  def parseDate(c: String, strftimeFmt: String)(df: DataFrame): DataFrame = {
    val fmt = EtlConfig.strftimeToSpark(strftimeFmt)
    df.withColumn(c, try_to_timestamp(col(c), lit(fmt)))
  }

  /** F5 — year component (data_manager.py:73, 82). */
  def withYear(src: String, dst: String)(df: DataFrame): DataFrame =
    df.withColumn(dst, year(col(src)))

  /** F6 — 'yyyy-MM' year-month string (data_manager.py:74, 83) — also
    * the natural sink partition key at scale (SURVEY.md §7). */
  def withYm(src: String, dst: String)(df: DataFrame): DataFrame =
    df.withColumn(dst, date_format(col(src), "yyyy-MM"))

  /** F7 — comma-as-decimal-separator amount with coerce-to-null
    * (data_manager.py:75): "1234,56" -> 1234.56, junk -> null. */
  def parseCommaDecimal(src: String, dst: String)(df: DataFrame): DataFrame =
    df.withColumn(dst, expr(s"try_cast(replace(`$src`, ',', '.') as double)"))

  /** F8 — debit/credit sign multiplier (data_manager.py:76): flag -> ±1
    * via bounded map; missing flag -> null, null * x = null (NaN
    * propagation parity). */
  def signedAmount(amount: String, flag: String, dst: String,
      multipliers: Map[String, Int])(df: DataFrame): DataFrame =
    if (multipliers.isEmpty) df.withColumn(dst, lit(null).cast("double"))
    else {
      val m = map(multipliers.toSeq.sortBy(_._1)
        .flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)
      df.withColumn(dst, col(amount) * try_element_at(m, col(flag)))
    }

  /** P3 — final projection and column order (data_manager.py:90). */
  def finalProjection(desiredFields: Seq[String])(df: DataFrame): DataFrame =
    df.select(desiredFields.map(col): _*)

  /** J1 — incremental anti-join load (data_manager.py:172–201): keep only
    * rows whose surrogate_key is absent from the loaded-keys set.
    *
    * 100 TB note: the keys side stays distributed (never collected).
    * Catalyst broadcasts it below the threshold; above it, both sides
    * shuffle on surrogate_key and AQE handles skew. For repeated loads
    * against a huge key table, pre-bucket the sink by surrogate_key so
    * this join is shuffle-free on the keys side.
    */
  def antiJoinNewRecords(src: DataFrame, existingKeys: DataFrame): DataFrame =
    src.join(existingKeys.select(KeyColumn), Seq(KeyColumn), "left_anti")
}
