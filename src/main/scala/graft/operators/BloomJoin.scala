package graft.operators

import java.io.ByteArrayOutputStream

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Bloom-pruned join — the semi-join reduction that keeps a 100 TB
  * fact scan from shuffling rows the dimension side will discard.
  *
  * Shape: build a bloom filter over the (already filtered) dim keys
  * with `df.stat.bloomFilter` (a distributed aggregate; the k-bit
  * filter, not the keys, comes to the driver), embed it as a binary
  * literal, and probe it with Spark's own codegen'd
  * `BloomFilterMightContain` expression on the fact side BEFORE the
  * join's exchange. The filter rides map-side, so the fact shuffle
  * carries only matching keys plus the fpp's false positives — which
  * the join itself then removes, so the RESULT is bit-identical to the
  * plain join (that is what lets the q68 oracle stay a plain SQL join).
  *
  * This is the manual twin of AQE's runtime row-level filtering
  * (spark.sql.optimizer.runtime.bloomFilter.*), exposed as an operator
  * so a pipeline can apply it where the optimizer's heuristics won't
  * fire (e.g. the dim side is itself a subquery the planner can't
  * cost). Spark's own InjectRuntimeFilter pairs the same two
  * expressions (BloomFilterAggregate / BloomFilterMightContain).
  */
object BloomJoin {

  /** Inner-join `fact` to `dim` on `key`, pre-pruning the fact side
    * with a bloom filter of dim's keys. Result rows are exactly the
    * plain join's (false positives die in the join).
    *
    * @param expectedItems sizing for the filter (dim-side distinct keys)
    * @param fpp           false-positive rate: space/shuffle trade-off
    */
  def bloomPrunedJoin(
      fact: DataFrame,
      dim: DataFrame,
      key: String,
      expectedItems: Long,
      fpp: Double = 0.01): DataFrame = {
    // An EMPTY dim side (every row filtered out — seen on the
    // degenerate-corpus probe) makes the bloom aggregate's merged
    // state a null bit buffer, and building/serializing the filter
    // NPEs inside Spark. Pre-check emptiness explicitly (O(1): a
    // limit-1 probe that stops at the first row) rather than catching
    // NullPointerException around the build — a blanket catch would
    // silently downgrade any FUTURE NPE bug to the unpruned slow path
    // (ADVICE r12). The join result is empty either way, so the
    // unpruned fallback stays correct, and it is logged, not silent.
    val pruned =
      if (dim.select(key).limit(1).isEmpty) {
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"bloomPrunedJoin: EMPTY dim side on key=$key — bloom prune skipped")
        fact
      } else {
        val bf = dim.stat.bloomFilter(key, expectedItems, fpp)
        val bos = new ByteArrayOutputStream()
        bf.writeTo(bos)
        fact.filter(mightContain(lit(bos.toByteArray), col(key)))
      }
    pruned.join(dim, Seq(key))
  }

  /** Codegen'd probe of a serialized bloom filter (registered native
    * expression; see [[graft.functions.GraftFunctions]]). */
  def mightContain(filter: Column, key: Column): Column =
    call_function("might_contain_bf", filter, key.cast("long"))

  /** High-value-order revenue: lineitem joins the 10% of orders above
    * the price cut, bloom-pruning the lineitem side first. The oracle
    * is the PLAIN join — passing proves the pruning is invisible to
    * the result. */
  val q68BloomJoin: QueryDef = QueryDef(
    "q68_bloom_join",
    """SELECT o.o_orderpriority,
      |  count(*) AS n_items,
      |  CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
      |      * (1 - CAST(l.l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE) AS revenue
      |FROM lineitem l
      |JOIN orders o ON l.l_orderkey = o.o_orderkey
      |WHERE o.o_totalprice > 450000
      |GROUP BY o.o_orderpriority
      |ORDER BY o.o_orderpriority""".stripMargin) { (s, dir) =>
    val dec2 = (c: Column) => c.cast("decimal(18,2)")
    val dim = Tables.orders(s, dir)
      .filter(col("o_totalprice") > 450000)
      .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
    val joined = bloomPrunedJoin(
      Tables.lineitem(s, dir), dim, "l_orderkey", expectedItems = 200000)
    joined
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_items"),
        round(sum(dec2(col("l_extendedprice")) * (lit(1) - dec2(col("l_discount")))), 2)
          .cast("double").as("revenue"))
      .orderBy("o_orderpriority")
  }

  val all: Seq[QueryDef] = Seq(q68BloomJoin)
}
