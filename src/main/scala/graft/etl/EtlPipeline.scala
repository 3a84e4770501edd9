package graft.etl

import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** The reference's end-to-end flow (SURVEY.md §3 EP1/EP3), one lazy
  * Spark plan per logical dataset:
  *
  *   list files (S1) → route by filename regex + config (S3/S4)
  *   → per-file: csv scan (S2) → select/rename (P1/P2) → transform
  *     (F1–F8, P3, P4)
  *   → unionByName accumulate (U1)
  *   → anti-join vs loaded keys (J1) → append sink (S6)
  *
  * Error semantics: the reference skips a file on any per-file failure
  * and keeps going (data_manager.py:121–139). Plan *construction*
  * failures (bad name, missing config, missing columns) are caught here
  * per file; data-level parse failures become nulls (EtlOps try_*
  * variants) rather than killing a distributed job.
  */
object EtlPipeline {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** S3 — filename metadata: the config regex must yield exactly
    * (bank, accType, mappingType), else the file is skipped
    * (data_manager.py:143–159). The reference uses `re.match`, which
    * anchors at the START of the name (not a full match, not a search),
    * so we use `Matcher.lookingAt` — a pattern matching mid-name must
    * NOT route the file. */
  def extractFileMeta(config: EtlConfig, fileName: String): Option[(String, String, String)] = {
    val m = config.filePattern.pattern.matcher(fileName)
    if (m.lookingAt() && m.groupCount == 3)
      Some((m.group(1), m.group(2), m.group(3)))
    else None
  }

  /** S4 — config routing (data_manager.py:161–170). */
  def routeConfig(config: EtlConfig, mappingType: String, bank: String): Option[FileMappingConfig] =
    config.mapping.get(mappingType).flatMap(_.get(bank))

  /** S2 — csv scan with an explicit all-string schema, pushing all
    * typing decisions into the config-driven casts. Surrogate-key parity
    * note (SURVEY.md §7.3 risk 2): the reference hashes `astype(str)` of
    * pandas-*inferred* dtypes (data_manager.py:62), so raw-text reads
    * give byte-identical keys only when pandas would infer the key
    * columns as object/string; numeric key columns render differently
    * there ("123.40" → "123.4", int-with-NaN → "123.0") and would need
    * explicit normalization to match reference-era hashes. */
  def readCsv(spark: SparkSession, path: String, sep: String, columns: Seq[String]): DataFrame = {
    val schema = StructType(columns.map(StructField(_, StringType, nullable = true)))
    spark.read
      .option("sep", sep)
      .option("encoding", "UTF-8")
      .option("header", "true")
      .schema(schema)
      .csv(path)
  }

  /** Header sniff for the all-string schema (driver-side, one file).
    * Uses Spark's own CSV reader on a header-only sample so that (a) the
    * path resolves through the Hadoop FileSystem API — HDFS/S3/local all
    * work, matching the 100 TB design notes — and (b) quoted header
    * fields containing the separator parse correctly (a naive
    * split-on-separator would mis-parse them). Limit(0) + columns reads
    * only the header line, not the data. */
  private def csvHeader(spark: SparkSession, path: String, sep: String): Seq[String] =
    spark.read
      .option("sep", sep)
      .option("encoding", "UTF-8")
      .option("header", "true")
      .csv(path)
      .columns
      .toSeq

  /** EP3 — the per-file transform (data_manager.py:20–32, 59–95):
    * stm and sec branches share key/metadata ops and differ in the
    * scalar battery applied (data_manager.py:69–87). */
  def buildFilePlan(spark: SparkSession, path: String, bank: String,
      accType: String, mappingType: String, cfg: FileMappingConfig): DataFrame = {
    val fileName = new Path(path).getName
    val base = readCsv(spark, path, cfg.csvSeparator, csvHeader(spark, path, cfg.csvSeparator))
    val shaped = EtlOps.selectAndRename(cfg.originalFields)(base)
    val keyed = EtlOps.withFileMetadata(bank, accType, fileName)(
      EtlOps.withSurrogateKey(cfg.surrogateKeyColumns)(shaped))
    val transformed = mappingType match {
      case "stm" =>
        // data_manager.py:69–77: decode account, parse dt, year/ym, amount
        val p = Seq[DataFrame => DataFrame](
          EtlOps.decode("acc_number", "acc_name", cfg.accounts),
          EtlOps.parseDate("dt", cfg.dateFormat),
          EtlOps.withYear("dt", "year"),
          EtlOps.withYm("dt", "ym"),
          EtlOps.parseCommaDecimal("sum", "sum_tmp"),
          EtlOps.signedAmount("sum_tmp", "dc", "sum_signed", cfg.debitMultiplier))
        p.foldLeft(keyed)((df, f) => f(df)).withColumn("sum", col("sum_signed"))
      case "sec" =>
        // data_manager.py:78–84: parse send/effect dates, effect year/ym
        val p = Seq[DataFrame => DataFrame](
          EtlOps.parseDate("send_dt", cfg.dateFormat),
          EtlOps.parseDate("effect_dt", cfg.dateFormat),
          EtlOps.withYear("effect_dt", "effect_year"),
          EtlOps.withYm("effect_dt", "effect_ym"))
        p.foldLeft(keyed)((df, f) => f(df))
      case other =>
        throw new IllegalArgumentException(s"unknown mapping type '$other'")
    }
    EtlOps.finalProjection(cfg.desiredFields)(transformed)
  }

  /** EP1 steps 1–3 (S1 + routing + per-file plans + U1): returns one
    * unioned DataFrame per mapping type, skipping unroutable files with
    * a log line exactly like the reference (data_manager.py:121–139).
    *
    * The per-file loop is driver-side plan *construction* only — the
    * resulting union is a single lazy plan whose file scans run fully
    * parallel across the cluster.
    */
  def processCsvFiles(spark: SparkSession, dir: String, config: EtlConfig): Map[String, DataFrame] = {
    val root = new Path(dir)
    val files = root.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(root)
      .filter(f => f.isFile && f.getPath.getName.toLowerCase.endsWith(".csv"))
      .map(_.getPath).sortBy(_.getName).toSeq
    if (files.isEmpty)
      throw new IllegalArgumentException(s"no csv files found in $dir") // settings.py:41–44
    val plans = files.flatMap { file =>
      val name = file.getName
      val routed = for {
        (bank, accType, mappingType) <- extractFileMeta(config, name)
        cfg <- routeConfig(config, mappingType, bank)
      } yield (bank, accType, mappingType, cfg)
      routed match {
        case None =>
          log.warn(s"skipping $name: unroutable (pattern/config miss)")
          None
        case Some((bank, accType, mappingType, cfg)) =>
          try Some(mappingType -> buildFilePlan(spark, file.toString, bank, accType, mappingType, cfg))
          catch {
            case NonFatal(e) =>
              log.warn(s"skipping $name: ${e.getMessage}")
              None
          }
      }
    }
    plans.groupMap(_._1)(_._2).map { case (t, dfs) =>
      t -> dfs.reduce(_.unionByName(_))
    }
  }

  /** EP1 steps 4–6 — the incremental load (J1 + S6) every sink shares
    * (data_manager.py:172–201), as ONE action: anti-join `batch`
    * against the sink's loaded keys (`None`: no sink yet, every key is
    * new), collapse same-key survivors to one row, and hand the result
    * to the sink's `write`. Returns the rows appended, counted by an
    * `observe()` on that write: no cache, no second job.
    *
    * Intra-batch dedup: the anti-join only sees keys already in the
    * sink, so two same-key rows inside one batch would both pass it
    * (no engine-side unique constraint). The survivor is the max over
    * all non-key columns — arbitrary but DETERMINISTIC, so re-running
    * the identical pipeline persists identical rows (dropDuplicates
    * would pick by task order). Anti-joining first means only the new
    * rows reach the dedup shuffle.
    *
    * The write runs even for an empty result: a parquet sink then
    * holds only `_SUCCESS`, which is why adapters read keys with an
    * explicit schema rather than inferring one. */
  def appendNewRecords(batch: DataFrame, loadedKeys: Option[DataFrame])(
      write: DataFrame => Unit): Long = {
    val fresh = loadedKeys.fold(batch)(EtlOps.antiJoinNewRecords(batch, _))
    val survivor = Window.partitionBy(EtlOps.KeyColumn)
      .orderBy(fresh.columns.map(col(_).desc).toSeq: _*)
    val deduped = fresh.withColumn("__rn", row_number().over(survivor))
      .filter(col("__rn") === 1).drop("__rn")
    val obs = Observation()
    write(deduped.observe(obs, count(lit(1)).as("rows")))
    obs.get("rows").asInstanceOf[Long]
  }

  /** The parquet sink adapter: loaded keys come from `sinkPath`
    * (located through the Hadoop FileSystem API, so HDFS/S3/local all
    * work), and the append is partitioned by the config's year-month
    * column when present (scale: partition pruning for downstream
    * readers + bounded file counts per partition). */
  def incrementalAppend(spark: SparkSession, batch: DataFrame, sinkPath: String,
      ymColumn: Option[String] = None): Long = {
    val sink = new Path(sinkPath)
    val fs = sink.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val loaded = Option.when(fs.exists(sink))(
      spark.read.schema(s"${EtlOps.KeyColumn} STRING").parquet(sinkPath))
    appendNewRecords(batch, loaded) { fresh =>
      val w = fresh.write.mode("append")
      ymColumn.fold(w)(c => w.partitionBy(c)).parquet(sinkPath)
    }
  }
}
