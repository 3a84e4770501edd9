package graft

import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal

/** Dev harness: dump a SUBSET of queries (same layout as [[Verify]])
  * for tools/check_oracle.py — fast iteration on one query without
  * rerunning the whole surface. A failing query does not stop the
  * run: every named query is attempted, and the run then exits 1
  * listing every failure (a crash probe over the whole surface needs
  * the full list, not the first crasher). */
object VerifySome {
  def main(args: Array[String]): Unit = {
    if (args.length < 3) {
      System.err.println("usage: VerifySome <sfDir> <outDir> <queryName>...")
      sys.exit(2)
    }
    val sfDir = args(0); val outDir = args(1); val names = args.drop(2)
    Harness.requireKnown(names)
    val spark = Harness.session()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    var failed = List.empty[String]
    for (n <- names) {
      try {
        SparkEntry.queries(n)(spark, sfDir).write.mode("overwrite").parquet(s"$outDir/$n")
        println(s"[verifysome] wrote $n")
      } catch {
        case NonFatal(e) =>
          failed ::= n
          println(s"[verifysome] FAILED $n: ${e.toString.take(300)}")
      }
    }
    if (failed.nonEmpty) {
      println(s"[verifysome] ${failed.size} FAILED: ${failed.reverse.mkString(", ")}")
      spark.stop()
      sys.exit(1)
    }
    Harness.writeOracleSql(outDir, SparkEntry.oracleSql.filter(kv => names.contains(kv._1)))
    spark.stop()
  }
}
