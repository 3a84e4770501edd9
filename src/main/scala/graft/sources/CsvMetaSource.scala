package graft.sources

import java.util
import scala.io.{BufferedSource, Source}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, In, IsNotNull}
import org.apache.spark.sql.types.{DataType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 connector for the reference's filename-routed CSV
  * drop directory (SURVEY.md §2 S1–S3): exposes a directory of
  * `<bank>_<accType>_<mappingType>*.csv` files as ONE Spark table
  * whose filename metadata (`bank`, `acc_type`, `file_name`) are
  * first-class PARTITION-STYLE columns.
  *
  * Where [[graft.etl.EtlPipeline.processCsvFiles]] is the faithful
  * port of the reference's driver loop (per-file routing and header
  * checks on the driver, then one csv scan per group of like files),
  * this connector is the Spark-NATIVE restatement of the same source:
  * the file listing/routing moves inside the scan, so Catalyst can
  *
  *  - PRUNE FILES from metadata predicates (`bank = 'acme'` plans
  *    only acme's files — the same class of win as parquet partition
  *    pruning; the pushed filters show in `explain` and the pruned
  *    file set shows as the scan's partition count), and
  *  - PRUNE COLUMNS into the CSV parser (a 2-column projection
  *    splits each line but materializes only 2 fields).
  *
  * Scale shape: one InputPartition per routed file (the reference's
  * unit of work), so a 10k-file drop fans out 10k-way with no
  * driver-side union of 10k plans; listing happens once at planning.
  * Files are read through the Hadoop FileSystem API — local, HDFS
  * and object stores all resolve. Rows parse with a quote-aware
  * splitter (`"a;b"` is one field, `""` an escaped quote), matching
  * the `readCsv` options (header line, UTF-8).
  *
  * Usage:
  * {{{
  *   spark.read.format("graft.sources.CsvMetaSource")
  *     .option("pattern", "([a-z0-9]+)_([a-z0-9]+)_([a-z]+)")
  *     .option("sep", ";")
  *     .load("/data/dropdir")
  * }}}
  */
class CsvMetaSource extends TableProvider with DataSourceRegister {

  /** SQL-surface name (VERDICT r10 item 6): registered through the
    * DataSourceRegister service file so a pure-SQL user reaches the
    * connector with `CREATE TABLE t USING csvmeta OPTIONS (path ...)`
    * — the same file/column pruning as the DataFrame path (spec
    * asserts executed-plan partition counts through SQL). */
  override def shortName(): String = "csvmeta"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val conf = CsvMetaSource.parse(options)
    val files = CsvMetaSource.routedFiles(conf)
    require(files.nonEmpty, s"no files under ${conf.dir} match pattern '${conf.pattern}'")
    // header of the first routed file defines the data columns (the
    // fixture contract: one drop dir = one shape per mapping type)
    val src = CsvMetaSource.openLines(conf.dir, files.head.name)
    val header = try src.getLines().nextOption().getOrElse("") finally src.close()
    val dataCols = CsvMetaSource.splitLine(header, conf.sep)
    StructType(
      dataCols.map(StructField(_, StringType, nullable = true)) ++
        CsvMetaSource.MetaCols.map(StructField(_, StringType, nullable = false)))
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new CsvMetaTable(schema,
      CsvMetaSource.parse(new CaseInsensitiveStringMap(properties)))

  override def supportsExternalMetadata(): Boolean = true
}

private[sources] object CsvMetaSource {
  /** Filename-derived columns, appended after the CSV data columns. */
  val MetaCols: Seq[String] = Seq("bank", "acc_type", "file_name")

  final case class Conf(dir: String, pattern: String, sep: String) extends Serializable

  final case class RoutedFile(name: String, bank: String, accType: String)
    extends Serializable

  def parse(options: CaseInsensitiveStringMap): Conf = {
    val dir = Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException("csvmeta: 'path' option is required"))
    Conf(dir,
      Option(options.get("pattern"))
        .getOrElse("([a-z0-9]+)_([a-z0-9]+)_([a-z]+)"),
      Option(options.get("sep")).getOrElse(";"))
  }

  /** S1 + S3: list `*.csv` under the dir and keep names the pattern
    * routes (lookingAt — anchored at the start, the `re.match`
    * fidelity of [[graft.etl.EtlPipeline.extractFileMeta]]). */
  def routedFiles(conf: Conf): Seq[RoutedFile] = {
    val p = new Path(conf.dir)
    val fs = p.getFileSystem(new Configuration())
    val rx = conf.pattern.r
    fs.listStatus(p).toSeq
      .filter(s => s.isFile && s.getPath.getName.toLowerCase.endsWith(".csv"))
      .map(_.getPath.getName).sorted
      .flatMap { name =>
        val m = rx.pattern.matcher(name)
        if (m.lookingAt() && m.groupCount >= 2)
          Some(RoutedFile(name, m.group(1), m.group(2)))
        else None
      }
  }

  /** The file's lines, read lazily through the Hadoop FileSystem; the
    * caller closes the source. */
  def openLines(dir: String, name: String): BufferedSource = {
    val p = new Path(dir, name)
    Source.fromInputStream(p.getFileSystem(new Configuration()).open(p), "UTF-8")
  }

  /** Quote-aware CSV field split: separators inside `"..."` are
    * literal; `""` inside a quoted field is an escaped quote. */
  def splitLine(line: String, sep: String): Seq[String] = {
    val s = sep.charAt(0)
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var inQ = false
    var i = 0
    while (i < line.length) {
      val c = line.charAt(i)
      if (inQ) {
        if (c == '"') {
          if (i + 1 < line.length && line.charAt(i + 1) == '"') { cur += '"'; i += 1 }
          else inQ = false
        } else cur += c
      } else if (c == '"') inQ = true
      else if (c == s) { out += cur.result(); cur.clear() }
      else cur += c
      i += 1
    }
    out += cur.result()
    out.result()
  }
}

private[sources] class CsvMetaTable(tableSchema: StructType, conf: CsvMetaSource.Conf)
  extends Table with SupportsRead {

  override def name(): String = s"csvmeta(${conf.dir})"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new CsvMetaScanBuilder(tableSchema, conf)
}

/** Pushdown surface: metadata filters prune FILES; required-column
  * pruning narrows what the per-line parser materializes. */
private[sources] class CsvMetaScanBuilder(fullSchema: StructType, conf: CsvMetaSource.Conf)
  extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = fullSchema

  /** Accept (and fully evaluate — nothing "post-scan" remains for
    * them) equality/IN/not-null filters on the filename-derived
    * columns; everything else stays with Spark. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (accepted, rejected) = filters.partition {
      case EqualTo(a, _) => CsvMetaSource.MetaCols.take(2).contains(a)
      case In(a, _) => CsvMetaSource.MetaCols.take(2).contains(a)
      case IsNotNull(a) => CsvMetaSource.MetaCols.contains(a)
      case _ => false
    }
    pushed = accepted
    rejected
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = new CsvMetaScan(fullSchema, required, pushed, conf)
}

private[sources] class CsvMetaScan(fullSchema: StructType, required: StructType,
    pushed: Array[Filter], conf: CsvMetaSource.Conf) extends Scan with Batch {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"csvmeta ${conf.dir} PushedFilters: ${pushed.mkString("[", ", ", "]")}, " +
      s"ReadSchema: ${required.catalogString}"

  private def keep(f: CsvMetaSource.RoutedFile): Boolean = pushed.forall {
    case EqualTo("bank", v) => f.bank == v
    case EqualTo("acc_type", v) => f.accType == v
    case In("bank", vs) => vs.contains(f.bank)
    case In("acc_type", vs) => vs.contains(f.accType)
    case _ => true // IsNotNull on meta cols: always true
  }

  /** One partition per SURVIVING file — metadata predicates never
    * open a pruned file, and the partition count is the audit signal
    * CsvMetaSourceSpec asserts on. */
  override def planInputPartitions(): Array[InputPartition] =
    CsvMetaSource.routedFiles(conf).filter(keep)
      .map(f => CsvMetaPartition(f): InputPartition).toArray

  override def createReaderFactory(): PartitionReaderFactory =
    new CsvMetaReaderFactory(fullSchema, required, conf)
}

private[sources] final case class CsvMetaPartition(file: CsvMetaSource.RoutedFile)
  extends InputPartition

private[sources] class CsvMetaReaderFactory(fullSchema: StructType,
    required: StructType, conf: CsvMetaSource.Conf) extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val file = partition.asInstanceOf[CsvMetaPartition].file
    new PartitionReader[InternalRow] {
      private val source = CsvMetaSource.openLines(conf.dir, file.name)
      private val it = source.getLines()
      // header positions resolve by NAME so a reordered header in one
      // file still lands values in the right columns
      private val header = CsvMetaSource
        .splitLine(it.nextOption().getOrElse(""), conf.sep)
      private val meta: Map[String, UTF8String] = Map(
        "bank" -> UTF8String.fromString(file.bank),
        "acc_type" -> UTF8String.fromString(file.accType),
        "file_name" -> UTF8String.fromString(file.name))
      // required-column plan: for each output field, either a data
      // index into the split line or a constant metadata value
      private val getters: Array[Either[Int, UTF8String]] =
        required.fieldNames.map { f =>
          meta.get(f).map(Right(_)).getOrElse(Left(header.indexOf(f)))
        }.toArray
      private var row: InternalRow = _

      override def next(): Boolean =
        if (!it.hasNext) false
        else {
          val fields = CsvMetaSource.splitLine(it.next(), conf.sep)
          row = InternalRow.fromSeq(getters.toSeq.map {
            case Right(const) => const
            case Left(i) if i >= 0 && i < fields.length =>
              UTF8String.fromString(fields(i))
            case _ => null
          })
          true
        }
      override def get(): InternalRow = row
      override def close(): Unit = source.close()
    }
  }
}
