package graft.plans

import graft.TestSpark
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Contracts for the custom top-k-per-key operator: result equivalence
  * with the window formulation, plan shape (partial below the
  * exchange, final above), bounded output. */
class TopKPerKeySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def randomDf(seed: Int) = {
    val rnd = new scala.util.Random(seed)
    // unique order values so top-k is well-defined
    rnd.shuffle((1 to 2000).toList).zipWithIndex
      .map { case (v, i) => (i % 37, v.toLong, s"row_$i") }
      .toDF("key", "score", "payload")
      .repartition(8)
  }

  /** Top-k rows per key by descending score, with their row numbers,
    * computed in Scala from the collected input (scores are unique):
    * a reference that never passes through the rewrite under test. */
  private def expectedTopK(df: DataFrame, k: Int): Seq[(Int, Long, String, Int)] =
    df.collect().groupBy(_.getInt(0)).values.flatMap { rows =>
      rows.sortBy(-_.getLong(1)).take(k).zipWithIndex
        .map { case (r, i) => (r.getInt(0), r.getLong(1), r.getString(2), i + 1) }
    }.toSeq.sorted

  private def rows3(df: DataFrame): Seq[(Int, Long, String)] =
    df.as[(Int, Long, String)].collect().toSeq.sorted

  test("matches the window row_number formulation on random data") {
    val df = randomDf(5)
    val viaOp = TopK.perKey(df, Seq("key"), "score", k = 3)
      .select("key", "score", "payload")
    assert(rows3(viaOp) == expectedTopK(df, 3).map(t => (t._1, t._2, t._3)))
  }

  test("ascending variant takes the k smallest") {
    val df = randomDf(9)
    val got = TopK.perKey(df, Seq("key"), "score", k = 1, descending = false)
      .select("score").as[Long].collect()
    val expect = df.groupBy("key").agg(min("score")).select("min(score)")
      .as[Long].collect()
    assert(got.sorted.toSeq == expect.sorted.toSeq)
  }

  test("plan shape: partial prune below the exchange, final above") {
    val df = randomDf(1)
    val plan = TopK.perKey(df, Seq("key"), "score", k = 2)
      .queryExecution.executedPlan.toString
    // node prints as "TopKPerKey [keys], [order], k, <partial>"
    val finalIdx = plan.indexOf("TopKPerKey")
    val exchangeIdx = plan.indexOf("Exchange hashpartitioning")
    val partialIdx = plan.indexOf("TopKPerKey", finalIdx + 1)
    assert(finalIdx >= 0 && exchangeIdx > 0 && partialIdx > 0, plan)
    // textual tree order: final (outer) ... exchange ... partial (inner)
    assert(finalIdx < exchangeIdx && exchangeIdx < partialIdx, plan)
    assert(plan.substring(finalIdx, exchangeIdx).contains("2, false"), plan)
    assert(plan.substring(partialIdx).contains("2, true"), plan)
  }

  private def sqlIdiom(s: org.apache.spark.sql.SparkSession) = {
    val in = randomDf(33)
    s.createDataFrame(in.rdd, in.schema).createOrReplaceTempView("topk_sql_spec")
    s.sql("""
      SELECT key, score, payload FROM (
        SELECT key, score, payload,
          row_number() OVER (PARTITION BY key ORDER BY score DESC) AS rn
        FROM topk_sql_spec) t
      WHERE rn <= 3""")
  }

  private def topKNodes(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.optimizedPlan.collect { case t: TopKPerKey => t }.size

  test("raw SQL row_number idiom reaches TopKPerKeyExec (q429 path)") {
    // the session's GraftExtensions carry the rewrite, on the shared
    // session and on a fresh newSession() of it alike
    val fresh = spark.newSession()
    for (s <- Seq(spark, fresh)) {
      val df = sqlIdiom(s)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("TopKPerKey"), s"SQL plan missed the operator:\n$plan")
      assert(rows3(df) == expectedTopK(randomDf(33), 3).map(t => (t._1, t._2, t._3)))
    }
    // building q429 registers nothing: its own plan and every idiom
    // planned after it carry ONE TopKPerKey (a second copy of the rule
    // running after InferWindowGroupLimit would stack a second one)
    val dir = java.nio.file.Files.createTempDirectory("graft-topk-q429").toString
    Seq(("A", 1.5, 1L, 1), ("A", 2.5, 1L, 2), ("A", 3.5, 2L, 1), ("A", 4.5, 3L, 1),
        ("N", 9.0, 4L, 1), ("R", 7.0, 5L, 1))
      .toDF("l_returnflag", "l_extendedprice", "l_orderkey", "l_linenumber")
      .write.parquet(s"$dir/lineitem.parquet")
    val q429 = graft.queries.SqlSurface.q429SqlTopk.build(fresh, dir)
    assert(topKNodes(q429) == 1, q429.queryExecution.optimizedPlan.toString)
    assert(q429.count() == 5)
    val after = sqlIdiom(fresh)
    assert(topKNodes(after) == 1, after.queryExecution.optimizedPlan.toString)
  }

  test("optimizer rule rewrites row_number+filter into the native operator") {
    val df = randomDf(21)
    val w = Window.partitionBy(col("key")).orderBy(col("score").desc)
    val q = df.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 4).select("key", "score", "payload", "rn")
    assert(q.queryExecution.optimizedPlan.toString.contains("TopKPerKey"),
      q.queryExecution.optimizedPlan.toString)
    assert(q.as[(Int, Long, String, Int)].collect().toSeq.sorted == expectedTopK(df, 4))
    // rank() must NOT be rewritten (different tie semantics)
    val r = df.withColumn("rk", rank().over(w)).filter(col("rk") <= 4)
    assert(!r.queryExecution.optimizedPlan.toString.contains("TopKPerKey"))
  }

  test("handles k larger than group size and single-row groups") {
    val df = Seq((1, 10L, "a"), (1, 20L, "b"), (2, 5L, "c")).toDF("key", "score", "payload")
    val got = TopK.perKey(df, Seq("key"), "score", k = 5)
      .select("key", "payload").as[(Int, String)].collect().toSet
    assert(got == Set((1, "a"), (1, "b"), (2, "c")))
  }
}
