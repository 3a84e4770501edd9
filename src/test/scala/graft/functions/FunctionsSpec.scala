package graft.functions

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.VectorOps

/** Native-expression contracts: bit-compatibility with the generated
  * explicit-sum cosine, known rolling-hash vectors, null behavior, and
  * SQL-registry access. */
class FunctionsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("try_variant_get bigint semantics q86's oracle twin relies on") {
    // fractional k TRUNCATES (oracle mirrors via trunc(double)),
    // non-numeric k nulls, integral k is exact
    val rows = spark.sql(
      """SELECT
        |  try_variant_get(parse_json('{"k": 5.5}'), '$.k', 'bigint'),
        |  try_variant_get(parse_json('{"k": -5.5}'), '$.k', 'bigint'),
        |  try_variant_get(parse_json('{"k": "abc"}'), '$.k', 'bigint'),
        |  try_variant_get(parse_json('{"k": 42}'), '$.k', 'bigint'),
        |  try_variant_get(parse_json('{}'), '$.k', 'bigint')""".stripMargin).head()
    assert(rows.getLong(0) == 5L)
    assert(rows.getLong(1) == -5L)
    assert(rows.isNullAt(2))
    assert(rows.getLong(3) == 42L)
    assert(rows.isNullAt(4))
  }

  test("cosine_sim is bit-identical to the explicit left-associated sum") {
    val rnd = new scala.util.Random(7)
    val rows = Seq.fill(50)((
      Array.fill(64)(rnd.nextFloat() * 2 - 1),
      Array.fill(64)(rnd.nextFloat() * 2 - 1)))
    val df = rows.toDF("va", "vb")
    val out = df.select(
      expr("cosine_sim(va, vb)").as("native"),
      VectorOps.cosCol("va", "vb").as("generated")).collect()
    out.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
  }

  test("cosine_sim: self similarity 1.0, opposite -1.0, null -> null") {
    val v = Array.fill(8)(0.5f)
    val df = Seq((v, v, v.map(-_))).toDF("a", "b", "neg")
    val r = df.select(
      expr("cosine_sim(a, b)"), expr("cosine_sim(a, neg)"),
      expr("cosine_sim(a, cast(null as array<float>))")).head()
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-15)
    assert(math.abs(r.getDouble(1) + 1.0) < 1e-15)
    assert(r.isNullAt(2))
  }

  test("lsh_bucket is bit-identical to the generated when/sum column") {
    val rnd = new scala.util.Random(13)
    val rows = Seq.fill(60)(Array.fill(64)(rnd.nextFloat() * 2 - 1))
    val df = rows.toDF("v")
    val out = df.select(
      expr("lsh_bucket(v, 4, 64)").as("native"),
      VectorOps.lshBucketCol("v", 4).as("generated")).collect()
    out.foreach(r => assert(r.getInt(0) == r.getInt(1)))
    // all 16 buckets must be reachable in principle: range check
    out.foreach(r => assert(r.getInt(0) >= 0 && r.getInt(0) < 16))
  }

  test("lsh_bucket: null vector -> null; short vector -> null; exact-dim matches") {
    val r = spark.sql(
      "SELECT lsh_bucket(cast(null as array<float>), 4, 64), " +
        "lsh_bucket(array(1.0f, 2.0f), 4, 64)").head()
    assert(r.isNullAt(0))
    assert(r.isNullAt(1)) // shorter than dim: no defined projection
    // a dim-8 vector under dim=8 matches the generated dim-8 column
    val rnd = new scala.util.Random(17)
    val df = Seq.fill(20)(Array.fill(8)(rnd.nextFloat() * 2 - 1)).toDF("v")
    val out = df.select(
      expr("lsh_bucket(v, 3, 8)").as("native"),
      VectorOps.lshBucketCol("v", 3, 8).as("generated")).collect()
    out.foreach(r => assert(r.getInt(0) == r.getInt(1)))
  }

  test("lsh_bucket rejects planes outside [1, 30] and dim < 1 at analysis time") {
    // planes=31 sets the Int sign bit, planes>=32 wraps `1 << p` onto
    // low bits (silent bucket collisions) — both must fail loudly
    for (bad <- Seq("lsh_bucket(array(1.0f), 31, 1)",
                    "lsh_bucket(array(1.0f), 32, 1)",
                    "lsh_bucket(array(1.0f), 0, 1)",
                    "lsh_bucket(array(1.0f), 4, 0)")) {
      val e = intercept[Exception](spark.sql(s"SELECT $bad").collect())
      assert(e.getMessage.contains("must be"), s"$bad: ${e.getMessage}")
    }
    // boundary: planes=30 is legal and evaluates
    assert(!spark.sql("SELECT lsh_bucket(array(1.0f), 30, 1)").head().isNullAt(0))
  }

  test("char_ngrams matches the substr lambda on ascii and multi-byte text") {
    val strs = Seq("", "a", "ab", "abc", "hello world",
      "päivää 你好 mixed ascii ünd ütf", "日本語のテキスト", "aa")
    val df = strs.toDF("s")
    // same guard as q22: sequence(1, len-2) counts DOWN when len < 3
    val out = df.filter(length(col("s")) >= 3).select(
      expr("char_ngrams(s, 3)").as("native"),
      transform(
        sequence(lit(1), length(col("s")) - 2),
        i => col("s").substr(i, lit(3))).as("generated")).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getSeq[String](0) == r.getSeq[String](1), r.toString)
    }
    // below n chars: empty array, not junk grams
    val short = df.filter(length(col("s")) < 3)
      .select(expr("char_ngrams(s, 3)")).collect()
    short.foreach(r => assert(r.getSeq[String](0).isEmpty, r.toString))
    // bigrams too (different n than the q22 usage)
    val bi = df.select(expr("char_ngrams(s, 2)")).collect()
    assert(bi(3).getSeq[String](0) == Seq("ab", "bc"))
    // null in -> null out
    assert(spark.sql("SELECT char_ngrams(cast(null as string), 3)").head().isNullAt(0))
  }

  test("rolling_hash known vectors and null behavior") {
    // "abc": ((97*31+98)*31+99) % 1e9+7 = 96354; "" -> 0
    val r = spark.sql(
      "SELECT rolling_hash('abc'), rolling_hash(''), rolling_hash(cast(null as string))").head()
    assert(r.getLong(0) == 96354L)
    assert(r.getLong(1) == 0L)
    assert(r.isNullAt(2))
  }

  test("rolling_hash matches a reference implementation on arbitrary strings") {
    def ref(s: String): Long =
      s.getBytes("UTF-8").foldLeft(0L)((h, b) => (h * 31 + (b & 0xff)) % 1000000007L)
    val rnd = new scala.util.Random(11)
    val strs = Seq.fill(30)(rnd.alphanumeric.take(rnd.nextInt(50)).mkString) :+ "päivää 你好"
    val got = strs.toDF("s").select(expr("rolling_hash(s)")).as[Long].collect()
    assert(got.toSeq == strs.map(ref))
  }

  test("registered functions resolve through SQL; extensions wiring applies") {
    // the test session is built by Harness.session, whose
    // GraftExtensions inject the functions and the asof_join TVF into
    // it and into every newSession() of it, with no call per session
    for (s <- Seq(spark, spark.newSession())) {
      assert(s.sql("SELECT cosine_sim(array(1.0f,0.0f), array(1.0f,0.0f))")
        .head().getDouble(0) == 1.0)
      assert(s.sql("SELECT lsh_bucket(array(1.0f, 0.0f), 2, 2)")
        .head().getInt(0) >= 0)
      s.sql("SELECT 1L AS k, 10L AS t").createOrReplaceTempView("fn_asof_l")
      s.sql("SELECT 1L AS k, 5L AS rt, 'c' AS tag").createOrReplaceTempView("fn_asof_r")
      val asof = s.sql(
        "SELECT tag FROM asof_join(TABLE(fn_asof_l), TABLE(fn_asof_r), 'k', 't', 'rt')")
      assert(asof.queryExecution.executedPlan.toString.contains("AsofJoin "))
      assert(asof.head().getString(0) == "c")
    }
    // the spark.sql.extensions path shares the same builders — applying
    // it to a fresh extensions container must inject without error
    new GraftExtensions().apply(new org.apache.spark.sql.SparkSessionExtensions)
  }
}
