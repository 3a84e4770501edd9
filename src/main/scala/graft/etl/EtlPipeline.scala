package graft.etl

import java.io.{BufferedReader, InputStreamReader}

import scala.util.control.NonFatal

import com.univocity.parsers.csv.CsvParser
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.catalyst.csv.{CSVExprUtils, CSVOptions}
import org.apache.spark.sql.execution.datasources.csv.CSVUtils
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** The reference's end-to-end flow (SURVEY.md §3 EP1/EP3), one lazy
  * Spark plan per logical dataset:
  *
  *   list files (S1) → route by filename regex + config (S3/S4)
  *   → read each routed file's header on the driver
  *   → per (mapping type, bank, header) group: ONE multi-file csv scan
  *     (S2) → select/rename (P1/P2) → transform (F1–F8, P3, P4)
  *   → unionByName accumulate (U1)
  *   → anti-join vs loaded keys (J1) → append sink (S6)
  *
  * Error semantics: the reference skips a file on any per-file failure
  * and keeps going (data_manager.py:121–139). Plan *construction*
  * failures (bad name, missing config, unreadable header, missing
  * columns) are caught here per file, before files are grouped;
  * data-level parse failures become nulls (EtlOps try_* variants)
  * rather than killing a distributed job.
  */
object EtlPipeline {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** A routed file that passed its header checks: what grouping and the
    * group's plan need. */
  private final case class RoutedFile(path: Path, bank: String, accType: String,
      mappingType: String, cfg: FileMappingConfig, header: Seq[String])

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

  /** The CSV settings of every scan and header read. */
  private def csvSettings(sep: String): Map[String, String] =
    Map("sep" -> sep, "encoding" -> "UTF-8", "header" -> "true")

  /** S2 — csv scan with an explicit all-string schema, pushing all
    * typing decisions into the config-driven casts. Columns bind by
    * position (Spark drops each file's header line without enforcing
    * it), so every path must carry the header `columns` was read from.
    * Surrogate-key parity note (SURVEY.md §7.3 risk 2): the reference
    * hashes `astype(str)` of
    * pandas-*inferred* dtypes (data_manager.py:62), so raw-text reads
    * give byte-identical keys only when pandas would infer the key
    * columns as object/string; numeric key columns render differently
    * there ("123.40" → "123.4", int-with-NaN → "123.0") and would need
    * explicit normalization to match reference-era hashes. */
  def readCsv(spark: SparkSession, paths: Seq[String], sep: String, columns: Seq[String]): DataFrame =
    spark.read
      .options(csvSettings(sep))
      .schema(StructType(columns.map(StructField(_, StringType, nullable = true))))
      .csv(paths: _*)

  /** Header sniff for the all-string schema, on the driver and without
    * a Spark job: the first non-empty line of the file, read through the
    * Hadoop FileSystem (HDFS/S3/local all work) and tokenized with the
    * settings `readCsv` scans with, so a quoted header field may hold
    * the separator. The names are those Spark's own header inference
    * gives (`makeSafeHeader`: a blank name becomes `_c<i>`, duplicates
    * get their index appended), and a leading UTF-8 BOM is dropped as
    * Hadoop's line reader drops it. Reading stops at the first data line.
    * `Left(reason)` for a file with no header line or no data row. */
  private[etl] def csvHeader(spark: SparkSession, fs: FileSystem, path: Path,
      sep: String): Either[String, Seq[String]] = {
    val conf = spark.sessionState.conf
    val opts = new CSVOptions(csvSettings(sep), conf.csvColumnPruning, conf.sessionLocalTimeZone)
    val in = new BufferedReader(new InputStreamReader(fs.open(path), opts.charset))
    try {
      val first = Option(in.readLine()).map(_.stripPrefix("\uFEFF"))
      val lines = CSVExprUtils.filterCommentAndEmpty(
        first.iterator ++ Iterator.continually(in.readLine()).takeWhile(_ != null), opts)
      if (!lines.hasNext) Left("no header line")
      else {
        val names = CSVUtils.makeSafeHeader(
          new CsvParser(opts.asParserSettings).parseLine(lines.next()),
          conf.caseSensitiveAnalysis, opts)
        if (lines.hasNext) Right(names.toSeq) else Left("header only, no data rows")
      }
    } finally in.close()
  }

  /** S2 + S4 checks of one routed file: its header must be readable and
    * hold every column the config maps (resolved as the projection will
    * resolve it), else `Left(reason)`. */
  private def checkHeader(spark: SparkSession, fs: FileSystem, path: Path,
      cfg: FileMappingConfig): Either[String, Seq[String]] = {
    val resolve = spark.sessionState.conf.resolver
    val header =
      try csvHeader(spark, fs, path, cfg.csvSeparator)
      catch { case NonFatal(e) => Left(s"unreadable header: ${e.getMessage}") }
    header.flatMap { names =>
      val missing = cfg.originalFields.keys.filterNot(c => names.exists(resolve(_, c)))
      Either.cond(missing.isEmpty, names,
        s"missing mapped column(s) ${missing.toSeq.sorted.mkString(", ")}")
    }
  }

  /** EP3 — the transform of one group of files that share a mapping
    * type, bank and header (data_manager.py:20–32, 59–95): one csv scan
    * over all of them, then the chain the reference applies per file.
    * stm and sec branches share key/metadata ops and differ in the
    * scalar battery applied (data_manager.py:69–87). */
  private def buildGroupPlan(spark: SparkSession, files: Seq[RoutedFile]): DataFrame = {
    val RoutedFile(_, bank, _, mappingType, cfg, header) = files.head
    val base = readCsv(spark, files.map(_.path.toString), cfg.csvSeparator, header)
    val shaped = EtlOps.selectAndRename(cfg.originalFields)(base)
    val keyed = EtlOps.withFileMetadata(bank, files.map(f => f.path.getName -> f.accType).toMap)(
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

  /** EP1 steps 1–3 (S1 + routing + group plans + U1): returns one
    * unioned DataFrame per mapping type, skipping unroutable files with
    * a log line exactly like the reference (data_manager.py:121–139),
    * and files whose header is missing, empty of data or lacks a mapped
    * column with a log line that names the reason. A mapping type none
    * of whose files load is absent from the result.
    *
    * This is driver-side plan *construction* only: the listing and the
    * header reads go through the Hadoop FileSystem, and no Spark job
    * runs (up to `spark.sql.sources.parallelPartitionDiscovery.threshold`
    * files per group, 32 by default; past it Spark's file index checks
    * the group's paths in one parallel listing job). Files are grouped
    * by (mapping type, bank, header), and each group is one multi-file
    * scan with one transform chain, so the plan grows with the number of
    * groups, not of files; the union of the groups is a single lazy plan
    * whose file scans run fully parallel across the cluster. A group
    * plan that fails to build skips its files, as each of them would
    * have failed alone.
    */
  def processCsvFiles(spark: SparkSession, dir: String, config: EtlConfig): Map[String, DataFrame] = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(root)
      .filter(f => f.isFile && f.getPath.getName.toLowerCase.endsWith(".csv"))
      .map(_.getPath).sortBy(_.getName).toSeq
    if (files.isEmpty)
      throw new IllegalArgumentException(s"no csv files found in $dir") // settings.py:41–44
    val routed = files.flatMap { file =>
      val name = file.getName
      val meta = for {
        (bank, accType, mappingType) <- extractFileMeta(config, name)
        cfg <- routeConfig(config, mappingType, bank)
      } yield (bank, accType, mappingType, cfg)
      meta match {
        case None =>
          log.warn(s"skipping $name: unroutable (pattern/config miss)")
          None
        case Some((bank, accType, mappingType, cfg)) =>
          checkHeader(spark, fs, file, cfg) match {
            case Left(reason) =>
              log.warn(s"skipping $name: $reason")
              None
            case Right(header) => Some(RoutedFile(file, bank, accType, mappingType, cfg, header))
          }
      }
    }
    val plans = routed.groupBy(f => (f.mappingType, f.bank, f.header)).values.toSeq
      .sortBy(_.head.path.getName)
      .flatMap { group =>
        try Some(group.head.mappingType -> buildGroupPlan(spark, group))
        catch {
          case NonFatal(e) =>
            group.foreach(f => log.warn(s"skipping ${f.path.getName}: ${e.getMessage}"))
            None
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
