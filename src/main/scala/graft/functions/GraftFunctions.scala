package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** The graft native expressions, by SQL name. [[GraftExtensions]] is
  * the one registration path: it injects every entry when
  * [[graft.Harness.session]] builds a session, so every session (and
  * every `newSession()` of it) resolves them with no further call.
  */
object GraftFunctions {

  val all: Seq[(String, Seq[Expression] => Expression, String)] = Seq(
    ("cosine_sim", (es: Seq[Expression]) => CosineSimilarity(es(0), es(1)),
      classOf[CosineSimilarity].getName),
    ("dot_product", (es: Seq[Expression]) => DotProduct(es(0), es(1)),
      classOf[DotProduct].getName),
    ("rolling_hash", (es: Seq[Expression]) => RollingHash(es.head),
      classOf[RollingHash].getName),
    ("lsh_bucket", (es: Seq[Expression]) => LshBucket(es(0),
      LshBucket.litInt(es(1), "planes"), LshBucket.litInt(es(2), "dim")),
      classOf[LshBucket].getName),
    ("char_ngrams", (es: Seq[Expression]) => CharNgrams(es(0),
      LshBucket.litInt(es(1), "n")),
      classOf[CharNgrams].getName),
    // Spark's own codegen'd bloom probe (the InjectRuntimeFilter pair),
    // surfaced by name so operators can pre-prune a join's fact side
    // with a filter built via df.stat.bloomFilter — not in the public
    // registry upstream, but same-process serialization-compatible.
    ("might_contain_bf", (es: Seq[Expression]) =>
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(es(0), es(1)),
      classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName))
}

/** `spark.sql.extensions=graft.functions.GraftExtensions` entry point:
  * native functions, the top-k and as-of planner strategies, their
  * optimizer rules and the `asof_join` TVF. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach { case (name, builder, className) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(className, name),
        builder))
    }
    ext.injectPlannerStrategy(_ => new graft.plans.TopKStrategy)
    ext.injectOptimizerRule(_ => graft.plans.RowNumberTopKRewrite)
    // SQL-visible as-of join: TVF + strategy + by-name rewrite
    ext.injectTableFunction((
      FunctionIdentifier("asof_join"),
      graft.plans.AsofSql.info,
      graft.plans.AsofSql.builder))
    ext.injectPlannerStrategy(_ => new graft.plans.AsofJoinStrategy)
    ext.injectOptimizerRule(_ => graft.plans.ResolveAsofJoinByName)
  }
}
