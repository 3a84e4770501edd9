package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** A collected query result as JSON lines: the first line names each
  * column and its type as DuckDB reads the parquet Spark writes for it,
  * every further line is one row. Types the check cannot compare are
  * written as `unsupported:<type>` so the check fails by name. */
object Results {
  def duckType(t: DataType): String = t match {
    case BooleanType => "BOOLEAN"
    case ByteType => "TINYINT"
    case ShortType => "SMALLINT"
    case IntegerType => "INTEGER"
    case LongType => "BIGINT"
    case FloatType => "FLOAT"
    case DoubleType => "DOUBLE"
    case StringType => "VARCHAR"
    case DateType => "DATE"
    case d: DecimalType => s"DECIMAL(${d.precision},${d.scale})"
    case other => s"unsupported:${other.simpleString}"
  }

  private def value(v: Any): Any = v match {
    case d: Double if d.isNaN || d.isInfinite => d.toString
    case f: Float if f.isNaN || f.isInfinite => f.toString
    case b: java.math.BigDecimal => b.toPlainString
    case d: java.sql.Date => d.toString
    case d: java.time.LocalDate => d.toString
    case other => other
  }

  def write(path: Path, schema: StructType, rows: Array[Row]): Unit = {
    val header = schema.fields.map(f => Seq(f.name, duckType(f.dataType))).toSeq
    val body = rows.iterator.map(r => Json.render((0 until r.length).map(i => value(r.get(i)))))
    Files.writeString(path, (Iterator(Json.render(header)) ++ body).mkString("", "\n", "\n"))
  }
}
