package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

import scala.jdk.CollectionConverters._

/** Shared plumbing for the driver-contract mains (Verify/Bench) and
  * the per-query dev harnesses (VerifySome/BenchOne), so session
  * config and serialization quirks are fixed in ONE place. */
object Harness {

  /** The one session builder, for the mains and the tests alike: graft
    * extensions (native functions, the top-k and as-of strategies and
    * rules — the only place they are registered), driver-contract
    * parallelism, UTC (timestamp-rendering queries must agree with the
    * DuckDB oracle on any host), AQE advisory sized so mid-size
    * shuffles keep every core busy, and a codegen cache big enough
    * that a 70+-query run doesn't recompile early stages. */
  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }

  /** Dev-main arg validation: exit 2 with the known-query list on an
    * unrecognized name. */
  def requireKnown(names: Seq[String]): Unit =
    names.find(!SparkEntry.queries.contains(_)).foreach { bad =>
      System.err.println(
        s"unknown query '$bad' — known: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}")
      sys.exit(2)
    }

  /** `<outDir>/oracle_sql.json`: query name -> DuckDB SQL, the map the
    * driver and tools/check_oracle.py `json.load`. */
  def writeOracleSql(outDir: String, sql: Map[String, String]): Unit =
    new ObjectMapper().writeValue(new java.io.File(outDir, "oracle_sql.json"), sql.asJava)

  /** JSON string escape: backslash, quote, and ALL control chars
    * (<0x20), for perfbench's measurement record (`perfbench.Json`). */
  def jsonEscape(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
