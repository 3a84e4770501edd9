package graft

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json for the driver's DuckDB compare (the t2 gate). */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: Verify <sfDir> <outDir> (a subset of queries: VerifySome)")
    val Array(sfDir, outDir) = args
    val spark = Harness.session()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    Harness.writeOracleSql(outDir, SparkEntry.oracleSql)
    spark.stop()
  }
}
