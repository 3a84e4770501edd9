package graft.operators

import graft.CkptOps

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators over `documents` / `embeddings` — exact
  * hash-dedup, MinHash+LSH, SimHash, n-gram Jaccard, and embedding-
  * cosine near-dup (SURVEY.md §7.2 Phase 3 north-star set).
  *
  * Scale design (100 TB):
  *  - exact dedup is one hash-groupBy on a 32-byte signature — the
  *    shuffle carries (signature, partial counts), never document text;
  *  - MinHash signatures are computed as k parallel `min` aggregates
  *    over the shingle explosion: ONE shuffle keyed by doc_id with full
  *    map-side partial mins (the classic per-row-hash pivot), not k
  *    passes; band buckets then join doc_ids only — candidate pairs are
  *    bounded by LSH, so the quadratic verify step touches candidates,
  *    not the corpus;
  *  - SimHash is 16 integer partial-sum aggregates over the token
  *    explosion — same single-shuffle shape;
  *  - cosine near-dup brute-forces only inside random-hyperplane LSH
  *    buckets: the data-independent blocking key bounds the quadratic
  *    term at corpus/2^planes per block no matter how skewed any data
  *    column is (see [[Similarity]] for the query-side ANN path).
  *
  * Determinism: hashes are md5 hex strings (identical bytes in any
  * engine); Jaccard values are exact small-integer ratios (the double
  * division of two ints is bit-exact everywhere); cosine is an
  * explicitly generated left-associated 64-term sum so both engines
  * evaluate the identical IEEE operation sequence.
  */
object Dedup {

  private val K = 8  // minhash permutations
  private val BANDS = 4 // LSH bands (r = K/BANDS = 2 rows per band)

  /** Bag-of-words signature: md5 of the sorted distinct token set. */
  private val signature: Column =
    md5(array_join(array_sort(array_distinct(split(col("text"), " "))), " "))

  /** Exact dedup — hash-groupBy on the normalized content signature;
    * duplicates = docs beyond the first holder of each signature. */
  val q30ExactDedup: QueryDef = QueryDef(
    "q30_exact_dedup",
    """WITH sig AS (
      |  SELECT doc_id, lang,
      |    md5(array_to_string(list_sort(list_distinct(string_split(text,' '))), ' ')) AS signature
      |  FROM documents)
      |SELECT lang, count(*) AS n_docs, count(DISTINCT signature) AS n_sig,
      |  count(*) - count(DISTINCT signature) AS n_dups
      |FROM sig GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
    Tables.documents(s, dir)
      .select(col("lang"), signature.as("signature"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("signature")).as("n_sig"),
        (count(lit(1)) - countDistinct(col("signature"))).as("n_dups"))
      .orderBy("lang")
  }

  /** Word-3-gram shingles: (doc_id, shingle) exploded rows.
    *
    * Perf shape: repartition first — the corpus arrives as one small
    * parquet split, and everything downstream (shingle build, hash
    * explosion, aggregation) should use every core, not one task. The
    * 3-grams come from zip_with over three shifted slices so the token
    * split is evaluated per ROW; an element_at(split(...), i) lambda
    * would re-split the text once per element. */
  private def shingles(docs: DataFrame): DataFrame = {
    val t = col("t")
    val n = size(t)
    docs.repartition(col("doc_id"))
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= 3)
      .select(
        col("doc_id"),
        explode(
          zip_with(
            zip_with(
              slice(t, lit(1), n - 2),
              slice(t, lit(2), n - 2),
              (x, y) => concat(x, lit(" "), y)),
            slice(t, lit(3), n - 2),
            (xy, z) => concat(xy, lit(" "), z))).as("shingle"))
  }

  /** Doc pairs (b, a, inter, na, nb) sharing a shingle among `srows`
    * (doc_id, shingle; distinct): a < b, `inter` shared shingles, and
    * both shingle-set sizes broadcast in. A set-similarity equi-join on
    * the shingle key — complete for J > 0, never an all-pairs scan. */
  private def shinglePairs(srows: DataFrame): DataFrame = {
    val sz = srows.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    srows.select(col("doc_id").as("a"), col("shingle"))
      .join(srows.select(col("doc_id").as("b"), col("shingle").as("sgb")),
        col("shingle") === col("sgb") && col("a") < col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("inter"))
      .join(broadcast(sz.select(col("doc_id").as("a"), col("n").as("na"))), Seq("a"))
      .join(broadcast(sz.select(col("doc_id").as("b"), col("n").as("nb"))), Seq("b"))
  }

  /** The oracle side of [[shinglePairs]] over the CTE `srows`: the
    * CTEs `sz` (doc_id, n) and `pi` (a, b, inter). */
  private def shinglePairsSql: String =
    """sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM srows GROUP BY doc_id),
      |pi AS (
      |  SELECT a.doc_id AS a, b.doc_id AS b, CAST(count(*) AS BIGINT) AS inter
      |  FROM srows a JOIN srows b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)""".stripMargin

  /** Exact truth pairs (a, b) of the near-dup evaluations: shingle-set
    * Jaccard ≥ ½ over [[shinglePairs]] — the measure MinHash sketches. */
  private def jaccardTruth(srows: DataFrame): DataFrame =
    shinglePairs(srows)
      .filter(col("inter") * 2 >= col("na") + col("nb") - col("inter"))
      .select(col("a"), col("b"))

  /** The oracle side of [[jaccardTruth]]: the body of a CTE `truth`
    * (a, b) over [[shinglePairsSql]]'s `sz` and `pi`. */
  private def jaccardTruthSql: String =
    """SELECT pi.a, pi.b
      |  FROM pi JOIN sz za ON pi.a = za.doc_id JOIN sz zb ON pi.b = zb.doc_id
      |  WHERE inter * 2 >= za.n + zb.n - inter""".stripMargin

  /** MinHash signature matrix, pivoted: one row per doc with h0..h7 =
    * min over shingles of the k-th disjoint 8-hex-char slice of a
    * 64-char digest (two md5s per shingle — the hash-split trick:
    * disjoint slices of a cryptographic digest are independent uniform
    * draws, so 2 hash invocations serve all 8 minhash functions).
    * Single shuffle on doc_id; the k mins combine map-side. */
  private def minhash(docs: DataFrame): DataFrame =
    shingles(docs)
      .select(col("doc_id"),
        concat(md5(col("shingle")), md5(concat(col("shingle"), lit("#")))).as("hh"))
      .groupBy(col("doc_id"))
      .agg(
        min(substring(col("hh"), 1, 8)).as("h0"),
        (1 until K).map(k =>
          min(substring(col("hh"), 8 * k + 1, 8)).as(s"h$k")): _*)

  private val mhOracleMins: String = {
    val digest = "md5(shingle) || md5(shingle || '#')"
    (0 until K).map(k => s"min(substr($digest, ${8 * k + 1}, 8)) AS h$k").mkString(", ")
  }
  private val mhOracleCte: String =
    s"""toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |sh AS (
       |  SELECT doc_id, array_to_string(t[CAST(i AS INT):CAST(i AS INT)+2], ' ') AS shingle
       |  FROM toks, unnest(range(1, len(t)-1)) AS u(i) WHERE len(t) >= 3),
       |mh AS (SELECT doc_id, $mhOracleMins FROM sh GROUP BY doc_id)""".stripMargin

  /** MinHash signatures — the per-doc sketch id (md5 over the ordered
    * signature vector). */
  val q31Minhash: QueryDef = QueryDef(
    "q31_minhash",
    s"""WITH $mhOracleCte
       |SELECT doc_id, md5(${(0 until K).map(k => s"h$k").mkString(" || '|' || ")}) AS sketch
       |FROM mh ORDER BY doc_id LIMIT 200""".stripMargin) { (s, dir) =>
    minhash(Tables.documents(s, dir))
      .select(
        col("doc_id"),
        md5(concat_ws("|", (0 until K).map(k => col(s"h$k")): _*)).as("sketch"))
      .orderBy("doc_id")
      .limit(200)
  }

  /** LSH band buckets from the pivoted signature: bucket =
    * md5(band || ':' || h_{2b} || '|' || h_{2b+1}). */
  private def lshBuckets(mh: DataFrame): DataFrame =
    mh.select(
      col("doc_id"),
      explode(array((0 until BANDS).map(b =>
        md5(concat(lit(s"$b:"), col(s"h${2 * b}"), lit("|"), col(s"h${2 * b + 1}")))): _*)).as("bucket"))

  /** Candidate pairs (a < b) from band-bucket collisions. */
  private def candidatePairs(docs: DataFrame): DataFrame = {
    // materialize ONCE: the bucket self-join would otherwise run the
    // whole tokenize→minhash→band derivation on BOTH sides
    val buckets = lshBuckets(minhash(docs)).ckpt()
    buckets.as("ba").join(buckets.as("bb"),
        col("ba.bucket") === col("bb.bucket") && col("ba.doc_id") < col("bb.doc_id"))
      .select(col("ba.doc_id").as("a"), col("bb.doc_id").as("b")).distinct()
  }

  /** Distinct token sets per doc (the exact-verification feature). */
  private def tokenSets(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), array_distinct(split(col("text"), " ")).as("ts"))

  /** Verified near-dup edges: candidates whose token-set Jaccard
    * >= 0.5 — the single definition shared by q32/q37/q38. */
  private def nearDupEdges(docs: DataFrame): DataFrame = {
    // both verification sides probe this — derive the token sets once
    val ts = tokenSets(docs).ckpt()
    candidatePairs(docs)
      .join(ts.select(col("doc_id").as("a"), col("ts").as("tsa")), Seq("a"))
      .join(ts.select(col("doc_id").as("b"), col("ts").as("tsb")), Seq("b"))
      .filter(size(array_intersect(col("tsa"), col("tsb"))) * 2 >=
        size(array_union(col("tsa"), col("tsb"))))
      .select(col("a"), col("b"))
  }

  /** Oracle CTE text for buckets → cand (appended after mhOracleCte);
    * single source for the same three queries. */
  private val lshCandOracleCte: String =
    s"""buckets AS (${(0 until BANDS).map(b =>
          s"SELECT doc_id, md5('$b:' || h${2 * b} || '|' || h${2 * b + 1}) AS bucket FROM mh")
          .mkString(" UNION ALL ")}),
       |cand AS (SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
       |  FROM buckets a JOIN buckets b ON a.bucket = b.bucket AND a.doc_id < b.doc_id)""".stripMargin

  /** Oracle CTE text for token sets → verified edges. */
  private val edgesOracleCte: String =
    """tsx AS (SELECT doc_id, list_distinct(t) AS ts FROM toks),
      |edges AS (
      |  SELECT c.a, c.b FROM cand c
      |  JOIN tsx ta ON ta.doc_id = c.a JOIN tsx tb ON tb.doc_id = c.b
      |  WHERE len(list_intersect(ta.ts, tb.ts)) * 2 >= len(list_distinct(list_cat(ta.ts, tb.ts))))""".stripMargin

  /** MinHash-LSH near-dup — candidate pairs from band-bucket collisions,
    * verified with exact token-set Jaccard. Output is the summary
    * (candidate count, verified count at j>=0.5, decimal-exact sum). */
  val q32LshPairs: QueryDef = QueryDef(
    "q32_lsh_pairs",
    s"""WITH $mhOracleCte,
       |$lshCandOracleCte,
       |ts AS (SELECT doc_id, list_distinct(t) AS ts FROM toks),
       |jac AS (
       |  SELECT c.a, c.b,
       |    CAST(len(list_intersect(ta.ts, tb.ts)) AS DOUBLE) / len(list_distinct(list_cat(ta.ts, tb.ts))) AS j
       |  FROM cand c JOIN ts ta ON ta.doc_id = c.a JOIN ts tb ON tb.doc_id = c.b)
       |SELECT count(*) AS n_candidates,
       |  count(CASE WHEN j >= 0.5 THEN 1 END) AS n_verified,
       |  CAST(round(sum(CAST(j AS DECIMAL(18,12))), 6) AS DOUBLE) AS sum_j
       |FROM jac""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    val ts = tokenSets(docs)
    val jac = candidatePairs(docs)
      .join(ts.select(col("doc_id").as("a"), col("ts").as("tsa")), Seq("a"))
      .join(ts.select(col("doc_id").as("b"), col("ts").as("tsb")), Seq("b"))
      .select(
        (size(array_intersect(col("tsa"), col("tsb"))).cast("double") /
          size(array_union(col("tsa"), col("tsb")))).as("j"))
    jac.agg(
      count(lit(1)).as("n_candidates"),
      count(when(col("j") >= 0.5, 1)).as("n_verified"),
      round(sum(col("j").cast("decimal(18,12)")), 6).cast("double").as("sum_j"))
  }

  /** SimHash — 16-bit signature; bit b is the weighted majority over
    * tokens of a pseudo-random bit derived from the token's md5 hex
    * char b (ascii parity). 16 integer partial sums, one shuffle. */
  val q33Simhash: QueryDef = QueryDef(
    "q33_simhash",
    s"""WITH tk AS (
       |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok FROM documents),
       |agg AS (SELECT doc_id, lang, count(*) AS n,
       |  ${(0 until 16).map(b => s"sum(ascii(substr(md5(tok), ${b + 1}, 1)) % 2) AS s$b").mkString(", ")}
       |  FROM tk GROUP BY doc_id, lang),
       |sh AS (SELECT doc_id, lang,
       |  ${(0 until 16).map(b => s"(CASE WHEN 2*s$b > n THEN ${1 << b} ELSE 0 END)").mkString(" + ")} AS simhash
       |  FROM agg)
       |SELECT lang, count(*) AS n_docs, count(DISTINCT simhash) AS n_distinct_sh
       |FROM sh GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
    val tk = Tables.documents(s, dir)
      .repartition(col("doc_id")) // single-file scan -> use every core
      .select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("tok"))
    val agg = tk.groupBy(col("doc_id"), col("lang"))
      .agg(
        count(lit(1)).as("n"),
        (0 until 16).map(b =>
          sum(ascii(substring(md5(col("tok")), b + 1, 1)) % 2).as(s"s$b")): _*)
    val simhash = (0 until 16)
      .map(b => when(lit(2) * col(s"s$b") > col("n"), lit(1 << b)).otherwise(lit(0)))
      .reduce(_ + _)
    agg.select(col("lang"), simhash.as("simhash"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), countDistinct(col("simhash")).as("n_distinct_sh"))
      .orderBy("lang")
  }

  /** Document-frequency cap for the bigram self-join key. A bigram
    * shared by df docs contributes df·(df−1)/2 candidate pairs on ONE
    * shuffle key — a stop-bigram present in a constant fraction of the
    * corpus is the quadratic hot spot of every set-similarity join (at
    * sf0.1 the max df is 152 of 5000 docs; at 1B docs that same 3%
    * bigram would be 30M rows on one key). Keys above the cap are
    * dropped before the join (standard frequency truncation): exact
    * whenever no key exceeds the cap (all test scales), and at scale a
    * documented approximation — dropped keys only subtract from
    * `inter`, so j is strictly underestimated for pairs whose overlap
    * was carried by corpus-wide stop-bigrams, which carry no
    * similarity signal anyway. */
  private[graft] val NGRAM_DF_CAP = 1000

  /** Distinct (doc, lang, bigram-set) rows for the n-gram join.
    * Accepts either a raw `text` frame (test fixtures) or the shared
    * pre-tokenized corpus (a `tk` array from [[Corpus.tokenized]]). */
  private[graft] def bigramSets(docs: DataFrame): DataFrame = {
    val t = col("t")
    val tokd =
      if (docs.columns.contains("tk"))
        docs.select(col("doc_id"), col("lang"), col("tk").as("t"))
      else docs.select(col("doc_id"), col("lang"), split(col("text"), " ").as("t"))
    tokd
      .filter(size(col("t")) >= 2)
      .select(
        col("doc_id"), col("lang"),
        array_distinct(zip_with(
          slice(t, lit(1), size(t) - 1),
          slice(t, lit(2), size(t) - 1),
          (x, y) => concat(x, lit(" "), y))).as("bs"))
  }

  /** Size-dispatch bound for the in-memory postings kernel: below this
    * many (doc, key) rows the exploded stream collects to the driver
    * (~60 B/row as primitive tuples → ≤ ~0.2 GB transient) and pair
    * counting runs as a broadcast-postings kernel distributed over doc
    * ranges; above it the shuffle count-join runs. Mirrors
    * [[ConnectedComponents]]' size-dispatched dual path. The bound is
    * MEASURED, not guessed (r11 probe): at sf0.1 (256k rows) the
    * kernel wins 2.4 s vs 9.6 s; at sf1 (2.6M rows) it still wins
    * 10.7 s vs 13.6 s; at sf3 (7.7M rows) the driver-side index build
    * and single-pass increments lose to the distributed hash-agg
    * (38-70 s vs ~28 s) — so the crossover sits between sf1 and sf3
    * and 3M rows keeps every winning case on the kernel. */
  private[graft] val KERNEL_MAX_ROWS = 3_000_000L

  /** Session override of q34's [[KERNEL_MAX_ROWS]] dispatch (0 forces
    * the shuffle arm) — the seam tools/scale_probe.py uses to give both
    * arms scaling points, read like ScaleRank's
    * `spark.graft.scalerank.windowBytes`. */
  private val KERNEL_MAX_ROWS_KEY = "spark.graft.q34.kernelMaxRows"

  /** Shared-bigram counts per candidate pair (a < b, same lang), with
    * the DF cap applied and the j>=0.3 size-ratio prefilter. Dual
    * path, size-dispatched like [[ConnectedComponents]]:
    *
    *  - BELOW [[KERNEL_MAX_ROWS]] exploded rows: the classic AllPairs
    *    inverted-index kernel (Bayardo et al., WWW'07). Postings
    *    (key → ascending doc indices) broadcast to every task; tasks
    *    own disjoint ranges of the LEFT doc `a` and count shared keys
    *    against all postings docs b > a with one scratch int array —
    *    total work is exactly Σ_key df², the same candidate volume the
    *    shuffle join would materialize as rows, but as L1-resident
    *    integer increments instead of 24-byte shuffle rows through a
    *    2M-group hash aggregate (measured 6.0 s → well under the 3 s
    *    r9 target at sf0.1). Distributed over the `a` range — the
    *    driver only builds/broadcasts the bounded index.
    *  - ABOVE the bound: the shuffle count-join — explode, drop
    *    over-cap DF keys, self-join on the key, count shared keys per
    *    pair. Every stage a shuffle hash-agg/join, the plan that
    *    survives any corpus size (the previously audited scale path).
    *
    * Prefix filtering (SSJoin/PPJoin-style) was implemented and
    * measured SLOWER than both on this corpus shape: with a dense
    * vocabulary (~4.6k keys, mean df ~55 at sf0.1) the rarest-30%
    * prefix cuts the pair stream only 9.4M→6.0M while adding a window
    * rank, a 2M-pair DISTINCT, and a candidate×doc-length verification
    * expansion — the count-based formulations dominate it. */
  private[graft] def bigramPairInter(
      bg: DataFrame, dfCap: Int = NGRAM_DF_CAP,
      kernelMaxRows: Long = KERNEL_MAX_ROWS): DataFrame = {
    // the (lang, bigram) join key is compacted to one xxhash64 long:
    // joined rows are then fixed-width longs/ints — far cheaper to
    // produce and shuffle than string pairs (collision odds at ~23k
    // distinct keys are ~1e-11; the sf0.01 oracle gate would catch one)
    // materialize ONCE: rows feeds the hot-key scan and BOTH sides of
    // the self-join — without the checkpoint the split/zip_with/
    // explode/hash derivation over the corpus executes three times
    val rows = bg.select(col("doc_id"), size(col("bs")).as("n"),
        explode(col("bs")).as("bigram"), col("lang"))
      .select(col("doc_id"), col("n"), xxhash64(col("lang"), col("bigram")).as("kh"))
      .ckpt()
    if (rows.count() <= kernelMaxRows) {
      // the kernel holds the whole postings index anyway: the DF cap
      // is applied in-memory (postings longer than the cap dropped) —
      // no hot-key aggregate or anti-join jobs on this path
      pairInterKernel(rows, dfCap)
    } else {
      val hotKeys = rows.groupBy(col("kh"))
        .agg(count(lit(1)).as("df"))
        .filter(col("df") > dfCap)
        .select(col("kh"))
      pairInterShuffle(rows.join(broadcast(hotKeys), Seq("kh"), "left_anti"))
    }
  }

  /** Shuffle count-join pair counting (the any-scale path): self-join
    * the pruned row stream on the key (only pairs sharing ≥1 surviving
    * key ever materialize — j=0 pairs are never formed), size-ratio
    * prefilter in the join condition, count shared keys per pair. */
  private[graft] def pairInterShuffle(pruned: DataFrame): DataFrame =
    // size-ratio prefilter: j >= 0.3 needs min(|A|,|B|)*10 >= max*3
    // (inter <= min, union >= max) — prunes pairs before the count agg
    pruned.select(col("doc_id").as("a"), col("kh"), col("n").as("na"))
      .join(pruned.select(col("doc_id").as("b"), col("kh").as("khb"), col("n").as("nb")),
        col("kh") === col("khb") && col("a") < col("b")
          && col("na") * 10 >= col("nb") * 3 && col("nb") * 10 >= col("na") * 3)
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("inter"))

  /** Broadcast-postings AllPairs kernel (the small/medium path): build
    * the inverted index once on the driver (bounded by the
    * [[KERNEL_MAX_ROWS]] dispatch — see DriverComputeRegistry), then
    * count pair intersections executor-side over striped `a` ranges.
    * Emits exactly the shuffle path's output: every pair with
    * inter >= 1 passing the size-ratio prefilter, with its exact
    * shared-key count. Ascending doc-index encoding preserves the
    * a < b contract on the original doc_id order. */
  private[graft] def pairInterKernel(rows: DataFrame, dfCap: Int): DataFrame = {
    val spark = rows.sparkSession
    import spark.implicits._
    val data = rows.select(col("doc_id"), col("n"), col("kh"))
      .as[(Long, Int, Long)]
      .collect() // bounded: kernelMaxRows dispatch (<= 8M fixed-width tuples)
    // dense doc indices in ascending doc_id order (index order == id order)
    val docIds: Array[Long] = data.map(_._1).distinct.sorted
    val docIdx = docIds.zipWithIndex.toMap
    val nDocs = docIds.length
    val sizes = new Array[Int](nDocs)
    val keyIdx = collection.mutable.HashMap.empty[Long, Int]
    val postBuf = collection.mutable.ArrayBuffer.empty[collection.mutable.ArrayBuffer[Int]]
    val docKeyBuf = Array.fill(nDocs)(collection.mutable.ArrayBuffer.empty[Int])
    for ((d, n, kh) <- data) {
      val di = docIdx(d)
      sizes(di) = n
      val ki = keyIdx.getOrElseUpdate(kh, { postBuf += collection.mutable.ArrayBuffer.empty[Int]; postBuf.length - 1 })
      postBuf(ki) += di
      docKeyBuf(di) += ki
    }
    // DF cap in-memory: over-cap keys contribute no pairs (the shuffle
    // path's hot-key anti-join, applied as an index filter). Per-doc
    // set sizes stay the FULL sizes — the cap prunes join keys only.
    val hot: Set[Int] = postBuf.indices.filter(postBuf(_).length > dfCap).toSet
    // postings ascend because docs arrive grouped but not sorted — sort each
    val postings: Array[Array[Int]] =
      postBuf.indices.map(k => if (hot(k)) Array.empty[Int] else postBuf(k).toArray.sorted).toArray
    val docKeys: Array[Array[Int]] = docKeyBuf.map(_.toArray.filterNot(hot))
    val bc = spark.sparkContext.broadcast((docIds, sizes, postings, docKeys))
    spark.range(0, nDocs.toLong, 1, numPartitions = 64)
      .as[Long]
      .mapPartitions { it =>
        val (ids, sz, posts, dks) = bc.value
        val n = ids.length
        val cnt = new Array[Int](n)
        val touched = new Array[Int](n)
        it.flatMap { aL =>
          val a = aL.toInt
          var nt = 0
          val keys = dks(a)
          var i = 0
          while (i < keys.length) {
            val post = posts(keys(i))
            // first posting index with doc > a (postings ascend)
            var lo = 0; var hi = post.length
            while (lo < hi) { val mid = (lo + hi) >>> 1; if (post(mid) <= a) lo = mid + 1 else hi = mid }
            while (lo < post.length) {
              val b = post(lo)
              if (cnt(b) == 0) { touched(nt) = b; nt += 1 }
              cnt(b) += 1
              lo += 1
            }
            i += 1
          }
          val na = sz(a)
          val out = new collection.mutable.ArrayBuffer[(Long, Long, Long)](nt)
          var t = 0
          while (t < nt) {
            val b = touched(t)
            val nb = sz(b)
            if (na * 10 >= nb * 3 && nb * 10 >= na * 3)
              out += ((ids(a), ids(b), cnt(b).toLong))
            cnt(b) = 0
            t += 1
          }
          out.iterator
        }
      }
      .toDF("a", "b", "inter")
  }

  /** n-gram Jaccard near-dup — exact token-bigram Jaccard inside lang
    * blocks, top pairs. Jaccard doubles are exact int ratios →
    * identical in any engine, so the ORDER BY (j DESC, a, b) is stable.
    *
    * Spark plan is a set-similarity equi-join, NOT a quadratic block
    * join: explode distinct (doc, bigram) rows, drop over-cap DF keys
    * (see [[NGRAM_DF_CAP]]), self-join on the bigram key (only pairs
    * sharing ≥1 surviving bigram ever materialize — pairs with j=0 are
    * never formed), count shared bigrams per pair, and derive
    * union = |A| + |B| − inter from per-doc set sizes. Pair counting
    * is size-dispatched (see [[bigramPairInter]]): the broadcast-
    * postings AllPairs kernel under the dispatch bound, the shuffle
    * count-join equi-join above it — both exact, no single-task lang
    * block, pairs with j=0 never formed. (PPJoin prefix filtering was
    * implemented and measured slower on this dense-vocabulary corpus
    * shape.) The oracle states the naive quadratic formulation — same
    * result set while no key exceeds the cap. */
  val q34NgramJaccard: QueryDef = QueryDef(
    "q34_ngram_jaccard",
    """WITH bg AS (
      |  SELECT doc_id, lang,
      |    list_distinct(list_transform(range(1, len(string_split(text,' '))),
      |      i -> string_split(text,' ')[CAST(i AS INT)] || ' ' || string_split(text,' ')[CAST(i AS INT)+1])) AS bs
      |  FROM documents WHERE len(string_split(text,' ')) >= 2)
      |SELECT a.doc_id AS a, b.doc_id AS b,
      |  CAST(len(list_intersect(a.bs, b.bs)) AS DOUBLE) / len(list_distinct(list_cat(a.bs, b.bs))) AS j
      |FROM bg a JOIN bg b ON a.lang = b.lang AND a.doc_id < b.doc_id
      |WHERE len(list_intersect(a.bs, b.bs)) * 10 >= len(list_distinct(list_cat(a.bs, b.bs))) * 3
      |ORDER BY j DESC, a, b LIMIT 50""".stripMargin) { (s, dir) =>
    val bg = bigramSets(Corpus.tokenized(s, dir)) // shared corpus tokenize
    val sizes = bg.select(col("doc_id"), size(col("bs")).as("n"))
    val kmax = s.conf.get(KERNEL_MAX_ROWS_KEY, KERNEL_MAX_ROWS.toString).toLong
    val j = bigramPairInter(bg, kernelMaxRows = kmax)
      .join(sizes.select(col("doc_id").as("a"), col("n").as("na")), Seq("a"))
      .join(sizes.select(col("doc_id").as("b"), col("n").as("nb")), Seq("b"))
      .withColumn("uni", col("na") + col("nb") - col("inter"))
    j.filter(col("inter") * 10 >= col("uni") * 3)
      .select(col("a"), col("b"), (col("inter").cast("double") / col("uni")).as("j"))
      .orderBy(col("j").desc, col("a"), col("b"))
      .limit(50)
  }

  import VectorOps.{dotSql, lshBucketMaskedSql, adaptivePlanes, adaptivePlanesSqlCte, DIM}

  /** LSH-bucketed candidate pairs for embedding near-dup: every pair
    * sharing a random-hyperplane bucket, a < b. Blocking on the bucket
    * (not a data column like `label`) bounds the per-block quadratic by
    * corpus/2^planes regardless of label skew — a hot label no longer
    * explodes into all-pairs. The plane count is CORPUS-ADAPTIVE
    * ([[VectorOps.adaptivePlanes]]): expected block size stays <=
    * ADAPTIVE_TARGET_BLOCK as the corpus grows instead of a fixed
    * 16-way split leaving per-block quadratics unbounded at 100 TB
    * (VERDICT r10 item 4). Exposed for the ScaleOpsSpec bound tests. */
  private[graft] def embeddingCandidates(e: DataFrame): DataFrame = {
    // one O(1)-row count to derive the blocking resolution — the same
    // scalar the oracle CTE derives from count(*) in pure integer SQL
    val planes = adaptivePlanes(e.count())
    // per-ROW norm hoisted below the pair join (r14, the r13
    // IvfIndex.norm discipline): the pair stage evaluates ONE dot loop
    // + na·nb instead of cosine_sim's three dot loops per pair.
    // Bit-identical on this corpus's fixed-dimension embeddings — see
    // the DotProduct length contract at VectorExpressions
    val bucketed = e.select(col("vec_id"), col("embedding"),
      expr(s"lsh_bucket(embedding, $planes, $DIM)").as("bucket"),
      sqrt(expr("dot_product(embedding, embedding)")).as("nrm"))
    bucketed.select(col("vec_id").as("a"), col("bucket"),
        col("embedding").as("va"), col("nrm").as("na"))
      .join(bucketed.select(col("vec_id").as("b"), col("bucket").as("bucketb"),
          col("embedding").as("vb"), col("nrm").as("nb")),
        col("bucket") === col("bucketb") && col("a") < col("b"))
  }

  /** Embedding-cosine near-dup — pairs above threshold inside LSH
    * buckets (the scale-safe blocking; recall is the standard sign-LSH
    * tradeoff — more planes = smaller blocks, fewer candidate misses
    * per block but more boundary misses). The oracle derives the SAME
    * adaptive plane count from count(*) and applies it through the
    * masked bucket sum, so both engines block identically at every
    * corpus size. */
  val q35EmbeddingNeardup: QueryDef = QueryDef(
    "q35_embedding_neardup",
    s"""WITH ${adaptivePlanesSqlCte("pl", "embeddings")},
       |e AS (SELECT vec_id, embedding AS v,
       |    ${lshBucketMaskedSql("embedding", "pl.p")} AS bucket
       |  FROM embeddings, pl),
       |c AS (
       |  SELECT a.vec_id AS a, b.vec_id AS b,
       |    (${dotSql("a.v", "b.v", DIM)}) /
       |      (sqrt(${dotSql("a.v", "a.v", DIM)}) * sqrt(${dotSql("b.v", "b.v", DIM)})) AS cos_sim
       |  FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
       |SELECT a, b, cos_sim FROM c WHERE cos_sim >= 0.35
       |ORDER BY a, b""".stripMargin) { (s, dir) =>
    val e = Tables.embeddings(s, dir)
      .repartition(col("vec_id")) // single-file scan -> use every core
    embeddingCandidates(e)
      .select(col("a"), col("b"),
        (expr("dot_product(va, vb)") / nullif(col("na") * col("nb"), lit(0d))).as("cos_sim"))
      .filter(col("cos_sim") >= 0.35)
      .orderBy("a", "b")
  }

  /** q449 — sign-LSH plane sweep ("measure, don't guess", the q185
    * band-sweep discipline applied to the embedding blocking): on a
    * constant-size deterministic sample (first 512 vecs by md5 of
    * vec_id — CONSTANT work at any corpus size, unlike a fractional
    * sample), compute exact cosine truth (>= 0.35, q35's threshold)
    * over all sample pairs and score candidate recall/precision for
    * planes in {2, 4, 6, 8, 12, 16}, flagging the row the
    * corpus-adaptive derivation ([[VectorOps.adaptivePlanes]]) would
    * operate at. This is the audit that answers "did raising planes
    * with corpus size cost recall" — the r10 verdict's q35 concern,
    * now measurable per corpus. The 12/16 rows cover the SATURATION
    * region (VERDICT r11 item 6): adaptivePlanes clamps at 16, and
    * this sweep measures the recall the clamp ceiling pays — the
    * empirical basis for the cap (numbers recorded at
    * [[VectorOps.adaptivePlanes]]'s scaladoc contract).
    *
    * Exactness: buckets are integer sums of sign bits over generated
    * left-associated plane dots (bit-identical both engines); cosine
    * threshold compares the identical IEEE chain; all outputs are
    * counts and ppm integer divisions.
    *
    * Scale design (100 TB): the sample is TakeOrdered(512) — constant
    * rows, constant pair count (~131k), one broadcast nested-loop
    * join over a 512-row build side (allowlisted: the ONLY all-pairs
    * here is over the fixed-size sample, never the corpus); the
    * corpus-size count for the adaptive flag is one metadata-cheap
    * aggregate. Output 6 rows. */
  val q449PlaneSweep: QueryDef = {
    val shapes = Seq(2, 4, 6, 8, 12, 16)
    import VectorOps.lshBucketSql
    val cos = VectorOps.cosSql("a.v", "b.v", DIM)
    val bucketCols = shapes.map(p => s"${lshBucketSql("v", p)} AS b$p").mkString(",\n  ")
    val candCase = shapes.map(p => s"WHEN ${p} THEN c$p").mkString(" ")
    QueryDef(
      "q449_plane_sweep",
      s"""WITH ${adaptivePlanesSqlCte("pl", "embeddings")},
         |s0 AS (SELECT vec_id, embedding AS v FROM embeddings
         |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 512),
         |sb AS (SELECT vec_id, v,
         |  $bucketCols
         |  FROM s0),
         |pr AS (
         |  SELECT CASE WHEN ($cos) >= 0.35e0 THEN 1 ELSE 0 END AS truth,
         |    ${shapes.map(p => s"CASE WHEN a.b$p = b.b$p THEN 1 ELSE 0 END AS c$p").mkString(", ")}
         |  FROM sb a JOIN sb b ON a.vec_id < b.vec_id),
         |ag AS (
         |  SELECT CAST(t.p AS BIGINT) AS planes,
         |    CAST(sum(truth) AS BIGINT) AS n_truth,
         |    CAST(sum(CASE t.p $candCase END) AS BIGINT) AS n_candidates,
         |    CAST(sum((CASE t.p $candCase END) * truth) AS BIGINT) AS n_hit
         |  FROM pr, (VALUES (2), (4), (6), (8), (12), (16)) t(p)
         |  GROUP BY 1)
         |SELECT planes,
         |  CAST(CASE WHEN planes = pl.p THEN 1 ELSE 0 END AS BIGINT) AS is_adaptive,
         |  n_truth, n_candidates, n_hit,
         |  CASE WHEN n_truth > 0 THEN (1000000 * n_hit) // n_truth END AS recall_ppm,
         |  CASE WHEN n_candidates > 0 THEN (1000000 * n_hit) // n_candidates END AS precision_ppm
         |FROM ag, pl ORDER BY planes""".stripMargin) { (s, dir) =>
      val e = Tables.embeddings(s, dir)
      val pAd = adaptivePlanes(e.count())
      val sample = e
        .select(col("vec_id"), col("embedding"),
          md5(col("vec_id").cast("string")).as("mk"))
        .orderBy(col("mk"), col("vec_id")).limit(512)
        .select(Seq(col("vec_id"), col("embedding"),
          // hoisted per-row norm (r14) — one dot loop per sample pair
          sqrt(expr("dot_product(embedding, embedding)")).as("nrm")) ++
          shapes.map(p => expr(s"lsh_bucket(embedding, $p, $DIM)").as(s"b$p")): _*)
        .ckpt() // both sides of the 512-row pair join
      val left = sample.select(Seq(col("vec_id").as("a"),
        col("embedding").as("va"), col("nrm").as("na")) ++
        shapes.map(p => col(s"b$p").as(s"xa$p")): _*)
      val right = sample.select(Seq(col("vec_id").as("b"),
        col("embedding").as("vb"), col("nrm").as("nb")) ++
        shapes.map(p => col(s"b$p").as(s"xb$p")): _*)
      val pairs = left.join(right, col("a") < col("b"))
        .withColumn("truth",
          (expr("dot_product(va, vb)") / nullif(col("na") * col("nb"), lit(0d)) >= lit(0.35))
            .cast("long"))
      pairs
        .select(explode(array(shapes.map(p => struct(
          lit(p.toLong).as("planes"),
          (col(s"xa$p") === col(s"xb$p")).cast("long").as("cand"),
          ((col(s"xa$p") === col(s"xb$p")).cast("long") * col("truth")).as("hit"),
          col("truth").as("truth"))): _*)).as("x"))
        .select(col("x.*"))
        .groupBy(col("planes"))
        .agg(sum(col("truth")).as("n_truth"),
          sum(col("cand")).as("n_candidates"),
          sum(col("hit")).as("n_hit"))
        .select(col("planes"),
          when(col("planes") === pAd, 1L).otherwise(0L).as("is_adaptive"),
          col("n_truth"), col("n_candidates"), col("n_hit"),
          when(col("n_truth") > 0,
            expr("(1000000 * n_hit) div n_truth")).as("recall_ppm"),
          when(col("n_candidates") > 0,
            expr("(1000000 * n_hit) div n_candidates")).as("precision_ppm"))
        .orderBy("planes")
    }
  }

  /** Duplicate-cluster identification — connected components over the
    * verified LSH near-dup graph (edges: candidate pairs with token-set
    * Jaccard >= 0.5). Component closure runs through
    * [[ConnectedComponents]]: driver union-find while the pruned edge
    * list is small (the common case — LSH + verification shrink it by
    * orders of magnitude), Pregel-style label propagation with pointer
    * jumping beyond that. The oracle computes the same components with
    * a recursive CTE. */
  /** Oracle CTE text for nodes → reach → comp (recursive closure over
    * the verified edges) — the shared [[ConnectedComponents.oracleCte]]. */
  private val componentsOracleCte: String = ConnectedComponents.oracleCte

  val q37DupClusters: QueryDef = QueryDef(
    "q37_dup_clusters",
    s"""WITH RECURSIVE $mhOracleCte,
       |$lshCandOracleCte,
       |$edgesOracleCte,
       |$componentsOracleCte
       |SELECT component, count(*) AS sz, max(node) AS max_node
       |FROM comp GROUP BY component ORDER BY component""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    ConnectedComponents.compute(s, nearDupEdges(docs))
      .groupBy(col("component"))
      .agg(count(lit(1)).as("sz"), max(col("node")).as("max_node"))
      .orderBy("component")
  }

  /** End-to-end dedup summary — what a corpus-cleaning run reports:
    * per lang, docs dropped by exact signature dedup or as non-
    * canonical members of near-dup clusters, and docs kept. Composes
    * q30's signature dedup with q37's cluster closure (union of drop
    * sets; canonical = min doc id in both). */
  val q38DedupPipeline: QueryDef = QueryDef(
    "q38_dedup_pipeline",
    s"""WITH RECURSIVE $mhOracleCte,
       |$lshCandOracleCte,
       |$edgesOracleCte,
       |$componentsOracleCte,
       |sig AS (
       |  SELECT doc_id, lang,
       |    md5(array_to_string(list_sort(list_distinct(string_split(text,' '))), ' ')) AS signature
       |  FROM documents),
       |canon AS (SELECT signature, min(doc_id) AS keeper FROM sig GROUP BY signature),
       |dropped AS (
       |  SELECT s.doc_id FROM sig s JOIN canon c ON s.signature = c.signature AND s.doc_id <> c.keeper
       |  UNION
       |  SELECT node FROM comp WHERE node <> component)
       |SELECT d.lang, count(*) AS n_docs, count(dr.doc_id) AS n_dropped,
       |  count(*) - count(dr.doc_id) AS n_kept
       |FROM documents d
       |LEFT JOIN (SELECT DISTINCT doc_id FROM dropped) dr ON d.doc_id = dr.doc_id
       |GROUP BY d.lang ORDER BY d.lang""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    // exact-signature drops
    val sig = docs.select(col("doc_id"), signature.as("signature"))
    val canon = sig.groupBy(col("signature")).agg(min(col("doc_id")).as("keeper"))
    val exactDrop = sig.join(canon, Seq("signature"))
      .filter(col("doc_id") =!= col("keeper"))
      .select(col("doc_id"))
    // near-dup cluster drops (non-canonical members)
    val nearDrop = ConnectedComponents.compute(s, nearDupEdges(docs))
      .filter(col("node") =!= col("component"))
      .select(col("node").as("doc_id"))
    val dropped = exactDrop.union(nearDrop).distinct()
      .select(col("doc_id").as("dropped_id"))
    docs.join(dropped, docs("doc_id") === dropped("dropped_id"), "left")
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        count(col("dropped_id")).as("n_dropped"),
        (count(lit(1)) - count(col("dropped_id"))).as("n_kept"))
      .orderBy("lang")
  }

  /** 8-word spans per document (stride 1), the shared feature for
    * span-level dedup (q69) and contamination (q75). Checkpointed:
    * both queries probe it from two sides, and the tokenize + explode
    * over the corpus should run once.
    */
  private def docSpans(docs: DataFrame): DataFrame = docs
    .select(col("doc_id"), split(col("text"), " ").as("toks"))
    .filter(size(col("toks")) >= 8)
    .repartition(col("doc_id")) // single-file scan -> use every core
    .select(col("doc_id"), explode(transform(
      sequence(lit(1), size(col("toks")) - 7),
      i => array_join(slice(col("toks"), i, lit(8)), " "))).as("span"))
    .ckpt()

  /** Exact duplicated-span detection (substring-level dedup, the
    * word-shingle form of Lee et al.'s "Deduplicating Training Data
    * Makes Language Models Better"): every 8-word span occurring in
    * ≥2 distinct documents is "duplicated"; report per document how
    * much of it is cross-document boilerplate.
    *
    * Scale design (100 TB): spans are generated with one projection
    * (no self-join on text); the global span→doc-frequency count is a
    * two-level aggregate (distinct (span, doc) partials map-side, then
    * span counts), and the verdict joins back on the span key — the
    * document text itself never shuffles. At real scale the join key
    * would be xxhash64(span) (8 bytes vs ~50) at a ~2⁻⁶⁴ collision
    * risk; kept as the exact string here so the oracle is exact.
    */
  val q69SpanDedup: QueryDef = QueryDef(
    "q69_span_dedup",
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |sp AS (
      |  SELECT doc_id, array_to_string(toks[i:i+7], ' ') AS span
      |  FROM w, unnest(range(1, len(toks) - 6)) AS t(i)
      |  WHERE len(toks) >= 8),
      |dup AS (
      |  SELECT span FROM (
      |    SELECT span, count(DISTINCT doc_id) AS nd FROM sp GROUP BY span)
      |  WHERE nd >= 2)
      |SELECT s.doc_id, count(*) AS n_spans, count(d.span) AS n_dup_spans,
      |  (1000 * count(d.span)) // count(*) AS dup_permille
      |FROM sp s LEFT JOIN dup d ON s.span = d.span
      |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    val sp = docSpans(docs)
    val dup = sp.select(col("span"), col("doc_id")).distinct()
      .groupBy(col("span")).agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= 2)
      .select(col("span").as("d_span"))
    sp.join(dup, sp("span") === dup("d_span"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"), count(col("d_span")).as("n_dup_spans"))
      .withColumn("dup_permille", expr("(1000 * n_dup_spans) div n_spans"))
      .orderBy("doc_id")
  }

  /** Benchmark-contamination detection (train/eval overlap, the
    * decontamination report in LLM training runs): a training document
    * is contaminated if it shares any 8-word span with the held-out
    * benchmark slice (doc_id % 97 == 0 here). Reported per source.
    *
    * Scale design: the benchmark side is TINY relative to a 100 TB
    * corpus, so its distinct span set is broadcast and the check is a
    * map-side semi-join over the training spans — the corpus is
    * scanned once and never shuffled for the overlap test; only the
    * contaminated doc-id set (bounded by the corpus' doc count, tiny
    * in practice) reaches the final per-source aggregate. */
  val q75Contamination: QueryDef = QueryDef(
    "q75_contamination",
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |sp AS (
      |  SELECT doc_id, array_to_string(toks[i:i+7], ' ') AS span
      |  FROM w, unnest(range(1, len(toks) - 6)) AS t(i)
      |  WHERE len(toks) >= 8),
      |bench AS (SELECT DISTINCT span FROM sp WHERE doc_id % 97 = 0),
      |contam AS (
      |  SELECT DISTINCT s.doc_id FROM sp s JOIN bench b USING (span)
      |  WHERE s.doc_id % 97 <> 0)
      |SELECT d.source, count(*) AS n_train, count(c.doc_id) AS n_contam,
      |  (1000 * count(c.doc_id)) // count(*) AS contam_permille
      |FROM documents d LEFT JOIN contam c ON d.doc_id = c.doc_id
      |WHERE d.doc_id % 97 <> 0
      |GROUP BY d.source ORDER BY d.source""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    val sp = docSpans(docs)
    val bench = sp.filter(col("doc_id") % 97 === 0)
      .select(col("span")).distinct()
    val contam = sp.filter(col("doc_id") % 97 =!= 0)
      .join(broadcast(bench), Seq("span"), "left_semi")
      .select(col("doc_id")).distinct()
      .withColumnRenamed("doc_id", "c_doc_id")
    docs.filter(col("doc_id") % 97 =!= 0)
      .join(contam, col("doc_id") === col("c_doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_train"), count(col("c_doc_id")).as("n_contam"))
      .withColumn("contam_permille", expr("(1000 * n_contam) div n_train"))
      .orderBy("source")
  }

  /** The two-phase distributed W-neighborhood: all (a, b, |A∩B|,
    * |A|+|B|) pairs whose global sort distance under (snkey, doc_id)
    * is ≤ W. Phase 1 range-partitions and leads within partitions;
    * phase 2 runs the heads/tails subset (≤ 2·W·partitions rows)
    * through one tiny global window restricted to cross-partition
    * pairs — exactly the boundary-crossing neighbors, and disjoint
    * from phase 1, so the union is exact (property-tested against the
    * naive global window in ScaleOpsSpec). Input needs columns
    * (doc_id, ws, snkey). */
  private[graft] def sortedNeighborhoodPairs(d: DataFrame, W: Int): DataFrame = {
    // checkpoint: the within-pass, the heads/tails subset, and the
    // boundary window all consume `r`, and correctness REQUIRES all
    // three to observe the SAME range boundaries + partition ids —
    // exchange reuse usually guarantees that, but pinning the
    // materialized partitioning makes it structural instead of an
    // optimizer artifact
    val r = d.repartitionByRange(col("snkey"), col("doc_id"))
      .withColumn("pid", spark_partition_id())
      .ckpt()
    val wp = Window.partitionBy(col("pid"))
      .orderBy(col("snkey"), col("doc_id"))
    val wpd = Window.partitionBy(col("pid"))
      .orderBy(col("snkey").desc, col("doc_id").desc)
    def pairCols(src: DataFrame,
        win: org.apache.spark.sql.expressions.WindowSpec,
        crossOnly: Boolean) = {
      val nbr = src.select(
        (col("pid") +: col("doc_id").as("a") +: col("ws").as("wa") +:
          (1 to W).flatMap(k => Seq(
            lead(col("pid"), k).over(win).as(s"p$k"),
            lead(col("doc_id"), k).over(win).as(s"b$k"),
            lead(col("ws"), k).over(win).as(s"wb$k")))): _*)
      (1 to W).map { k =>
        val base = nbr.filter(col(s"b$k").isNotNull)
        (if (crossOnly) base.filter(col(s"p$k") =!= col("pid")) else base)
          .select(
            col("a"), col(s"b$k").as("b"),
            size(array_intersect(col("wa"), col(s"wb$k"))).cast("long").as("inter"),
            (size(col("wa")) + size(col(s"wb$k"))).cast("long").as("sz"))
      }.reduce(_ unionAll _)
    }
    val within = pairCols(r, wp, crossOnly = false)
    val subset = r
      .withColumn("rna", row_number().over(wp))
      .withColumn("rnd", row_number().over(wpd))
      .filter(col("rna") <= W || col("rnd") <= W)
      .select(col("pid"), col("doc_id"), col("ws"), col("snkey"))
    val wg = Window.orderBy(col("snkey"), col("doc_id"))
    val boundary = pairCols(subset, wg, crossOnly = true)
    within.unionAll(boundary)
  }

  /** Sorted-neighborhood dedup — the third classic blocking family
    * next to LSH (q32) and set-similarity joins (q34): sort the corpus
    * by a similarity-preserving key (the sorted distinct-word
    * signature, under which near-identical docs are adjacent) and
    * compare each doc only to the next W docs in key order. Candidate
    * count is n·W by construction — no bucket or join-key can go
    * quadratic, which is the property that makes this the
    * entity-resolution workhorse under adversarial skew.
    *
    * Scale design — a GLOBAL window (`Window.orderBy` with no
    * partitioning) would drag the corpus into one task, so the
    * neighborhood is computed in two exact phases instead:
    * (1) `repartitionByRange` on the sort key, then per-partition
    * `lead`s give every same-partition neighbor pair with full
    * parallelism; (2) only each partition's first/last W rows (the
    * heads/tails subset, ≤ 2·W·partitions rows total) go through one
    * tiny global window, restricted to cross-partition pairs, which
    * provably yields exactly the boundary-crossing neighbors (any
    * interior row missing from the subset forces > W subset rows
    * between the endpoints). The DuckDB oracle is the single global
    * sort — hash-matching it proves the boundary reconstruction is
    * exact. Verification (word-set Jaccard) runs on ≤ n·W pairs. */
  val q78SortedNeighborhood: QueryDef = {
    val W = 2 // neighborhood width
    QueryDef(
      "q78_sorted_neighborhood",
      s"""WITH d AS (
         |  SELECT doc_id, list_sort(list_distinct(string_split(text, ' '))) AS ws,
         |    array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ') AS snkey
         |  FROM documents),
         |nbr AS (
         |  SELECT doc_id AS a, ws AS wa,
         |    ${(1 to W).map(k => s"lead(doc_id, $k) OVER w AS b$k, lead(ws, $k) OVER w AS wb$k").mkString(",\n    ")}
         |  FROM d WINDOW w AS (ORDER BY snkey, doc_id)),
         |pairs AS (
         |  ${(1 to W).map(k =>
             s"SELECT a, b$k AS b, len(list_intersect(wa, wb$k)) AS inter, len(wa) + len(wb$k) AS sz FROM nbr WHERE b$k IS NOT NULL")
             .mkString("\n  UNION ALL ")})
         |SELECT a, b, (1000 * inter) // (sz - inter) AS jacc_permille
         |FROM pairs WHERE (1000 * inter) // (sz - inter) >= 500
         |ORDER BY a, b""".stripMargin) { (s, dir) =>
      val ws = array_sort(array_distinct(split(col("text"), " ")))
      val d = Tables.documents(s, dir).select(
        col("doc_id"), ws.as("ws"), array_join(ws, " ").as("snkey"))
      sortedNeighborhoodPairs(d, W)
        .withColumn("jacc_permille", expr("(1000 * inter) div (sz - inter)"))
        .filter(col("jacc_permille") >= 500)
        .select(col("a"), col("b"), col("jacc_permille"))
        .orderBy("a", "b")
    }
  }

  /** q100 — SemDeDup-style semantic dedup (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the embeddings with k-means, then find
    * exact-cosine near-dups ONLY within each cluster and keep one
    * representative (the smallest vec_id) per duplicate pair. The
    * cluster assignment is the blocking key — like q35's LSH buckets
    * but LEARNED, so blocks follow the data's own density instead of
    * random hyperplanes.
    *
    * Scale shape: assignment reuses [[Learn]]'s integer-exact
    * machinery (quantized points checkpointed once, k·dim centroids
    * broadcast — the corpus never shuffles for assignment); the
    * within-cluster pair join is quadratic ONLY per cluster, and k
    * grows with the corpus to keep cluster sizes bounded (the paper
    * runs k=50k on 5B embeddings). Cosines are the codegen'd native
    * expression, bit-identical to the oracle's term sums. */
  val q100SemanticDedup: QueryDef = {
    val K = 4 // centroid count at test scale
    val TAU = "0.35"
    QueryDef(
      "q100_semantic_dedup",
      s"""WITH ${graft.operators.Learn.ptsCte},
         |c0 AS (SELECT vec_id AS cid, pos, q AS c FROM pts WHERE vec_id < $K),
         |${graft.operators.Learn.assignSql(1, "pts", "c0")},
         |e AS (
         |  SELECT a1.vec_id, a1.cid, em.embedding AS v
         |  FROM a1 JOIN embeddings em ON a1.vec_id = em.vec_id),
         |p AS (
         |  SELECT a.cid, b.vec_id AS b
         |  FROM e a JOIN e b ON a.cid = b.cid AND a.vec_id < b.vec_id
         |  WHERE (${dotSql("a.v", "b.v", DIM)}) /
         |    (sqrt(${dotSql("a.v", "a.v", DIM)}) * sqrt(${dotSql("b.v", "b.v", DIM)})) >= $TAU),
         |drp AS (SELECT cid, count(DISTINCT b) AS n_dropped FROM p GROUP BY cid),
         |m AS (SELECT cid, CAST(count(*) AS BIGINT) AS n_members FROM a1 GROUP BY cid)
         |SELECT m.cid, m.n_members,
         |  CAST(coalesce(d.n_dropped, 0) AS BIGINT) AS n_dropped,
         |  CAST(m.n_members - coalesce(d.n_dropped, 0) AS BIGINT) AS n_kept
         |FROM m LEFT JOIN drp d USING (cid)
         |ORDER BY m.cid""".stripMargin) { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val pts = Learn.points(emb).ckpt()
      val cent = pts.filter(col("vec_id") < K)
        .select(col("vec_id").as("cid"), col("pos"), col("q").as("c"))
      // one assignment pass feeds the member counts AND both pair sides
      val asg = Learn.assign(pts, cent).ckpt()
      val e = asg.select(col("vec_id"), col("cid"))
        .join(emb.select(col("vec_id"), col("embedding")), Seq("vec_id"))
        // hoisted per-row norm (r14) — one dot loop per in-cluster pair
        .withColumn("nrm", sqrt(expr("dot_product(embedding, embedding)")))
      val dropped = e.select(col("vec_id").as("a"), col("cid"),
          col("embedding").as("va"), col("nrm").as("na"))
        .join(e.select(col("vec_id").as("b"), col("cid").as("cidb"),
            col("embedding").as("vb"), col("nrm").as("nb")),
          col("cid") === col("cidb") && col("a") < col("b"))
        .filter(expr("dot_product(va, vb)") / nullif(col("na") * col("nb"), lit(0d)) >=
          expr(TAU))
        .groupBy(col("cid")).agg(countDistinct(col("b")).as("n_dropped"))
      asg.groupBy(col("cid")).agg(count(lit(1)).as("n_members"))
        .join(dropped, Seq("cid"), "left")
        .select(col("cid"), col("n_members"),
          coalesce(col("n_dropped"), lit(0L)).as("n_dropped"),
          (col("n_members") - coalesce(col("n_dropped"), lit(0L))).as("n_kept"))
        .orderBy(col("cid"))
    }
  }

  /** q151 — dedup threshold what-if: before committing a production
    * similarity cutoff, sweep it. For every minimum
    * matching-component count m ∈ {4..8} of the 8-component MinHash
    * signature (estimated Jaccard m/8), report how many candidate
    * pairs qualify and how many documents they touch — the
    * pairs-vs-threshold curve that picks τ by eyeballing the knee
    * instead of guessing.
    *
    * Scale design: candidates come from the banded LSH join (never
    * all-pairs); the signature comparison is one 8-column equality sum
    * per candidate; the 5-level sweep is a broadcast cross join over
    * the bounded candidate set. Estimated (not exact) Jaccard is the
    * point — the sweep costs one pass over candidates at any corpus
    * size, and q135 separately audits how well the estimate tracks
    * truth. */
  val q151DedupWhatif: QueryDef = QueryDef(
    "q151_dedup_whatif",
    s"""WITH $mhOracleCte,
       |$lshCandOracleCte,
       |pm AS (
       |  SELECT c.a, c.b,
       |    ${(0 until K).map(k => s"CASE WHEN ma.h$k = mb.h$k THEN 1 ELSE 0 END").mkString(" + ")} AS m
       |  FROM cand c JOIN mh ma ON ma.doc_id = c.a JOIN mh mb ON mb.doc_id = c.b),
       |lv AS (SELECT CAST(t.m AS BIGINT) AS min_match FROM (VALUES (4), (5), (6), (7), (8)) t(m)),
       |sel AS (SELECT lv.min_match, pm.a, pm.b FROM lv, pm WHERE pm.m >= lv.min_match),
       |np AS (SELECT min_match, CAST(count(*) AS BIGINT) AS n_pairs FROM sel GROUP BY min_match),
       |di AS (SELECT min_match, a AS d FROM sel UNION SELECT min_match, b FROM sel),
       |nd AS (SELECT min_match, CAST(count(*) AS BIGINT) AS n_docs FROM di GROUP BY min_match)
       |SELECT lv.min_match, (1000000 * lv.min_match) // 8 AS est_jaccard_ppm,
       |  coalesce(np.n_pairs, 0) AS n_pairs, coalesce(nd.n_docs, 0) AS n_docs
       |FROM lv LEFT JOIN np ON np.min_match = lv.min_match
       |LEFT JOIN nd ON nd.min_match = lv.min_match
       |ORDER BY lv.min_match""".stripMargin) { (s, dir) =>
    import s.implicits._
    val docs = Tables.documents(s, dir)
    // ONE minhash derivation feeds both the banded join and the
    // component comparison (candidatePairs(docs) would re-derive it)
    val mh = minhash(docs).ckpt()
    val buckets = lshBuckets(mh)
    val cand = buckets.as("ba").join(buckets.as("bb"),
        col("ba.bucket") === col("bb.bucket") && col("ba.doc_id") < col("bb.doc_id"))
      .select(col("ba.doc_id").as("a"), col("bb.doc_id").as("b")).distinct()
    val pm = cand
      .join(mh.toDF(mh.columns.map(c => if (c == "doc_id") "a" else s"a_$c"): _*), Seq("a"))
      .join(mh.toDF(mh.columns.map(c => if (c == "doc_id") "b" else s"b_$c"): _*), Seq("b"))
      .select(col("a"), col("b"),
        (0 until K).map(k =>
          when(col(s"a_h$k") === col(s"b_h$k"), 1L).otherwise(0L))
          .reduce(_ + _).as("m"))
    val lv = broadcast(Seq(4L, 5L, 6L, 7L, 8L).toDF("min_match"))
    val sel = lv.crossJoin(pm).filter(col("m") >= col("min_match"))
      .select(col("min_match"), col("a"), col("b"))
      .ckpt()
    val np = sel.groupBy(col("min_match")).agg(count(lit(1)).as("n_pairs"))
    val nd = sel.select(col("min_match"), col("a").as("d"))
      .unionByName(sel.select(col("min_match"), col("b").as("d")))
      .distinct()
      .groupBy(col("min_match")).agg(count(lit(1)).as("n_docs"))
    lv.join(np, Seq("min_match"), "left")
      .join(nd, Seq("min_match"), "left")
      .select(col("min_match"),
        expr("(1000000 * min_match) div 8").as("est_jaccard_ppm"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"))
      .orderBy("min_match")
  }

  /** q185 — LSH band-shape sweep: with the K=8 minhash signature,
    * evaluate every banding (2 bands × 4 rows, 4×2, 8×1) against the
    * exact near-dup truth on the deterministic 50% sample — recall,
    * precision, and candidate volume per shape. q135 audits the ONE
    * production banding; this is the tuning table that CHOOSES it
    * (more bands ⇒ higher recall, more candidates — the sweep prices
    * that trade in the engine itself, q151's what-if idea applied to
    * the index parameter instead of the verify threshold).
    *
    * Scale design (100 TB): one minhash derivation (checkpointed)
    * feeds all three shapes; the bucket join keys on (shape, bucket)
    * so shapes never cross-join; truth is q135's sample-bounded
    * set-similarity equi-join, computed once and semi-joined per
    * shape. Candidate counts are the quadratic risk — identical
    * signatures collide in every band, which is why the production
    * path (q115) runs banding over the distinct-signature dictionary;
    * at sweep time the sample bound (50% of docs) caps the blowup.
    */
  lazy val q185BandSweep: QueryDef = {
    val shapes = Seq(2, 4, 8)
    def bucketSelects(bands: Int): String = {
      val r = K / bands
      (0 until bands).map { bi =>
        val parts = (0 until r)
          .map(j => s"h${bi * r + j} || '|'").mkString(" || ")
        s"SELECT doc_id, CAST($bands AS BIGINT) AS bands, " +
          s"md5('$bands:$bi:' || $parts) AS bucket FROM mh"
      }.mkString(" UNION ALL ")
    }
    val oracle =
      s"""WITH toks AS (
         |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
         |  WHERE doc_id % 2 = 0),
         |sh AS (
         |  SELECT doc_id, array_to_string(t[CAST(i AS INT):CAST(i AS INT)+2], ' ') AS shingle
         |  FROM toks, unnest(range(1, len(t)-1)) AS u(i) WHERE len(t) >= 3),
         |mh AS (SELECT doc_id, $mhOracleMins FROM sh GROUP BY doc_id),
         |srows AS (SELECT DISTINCT doc_id, shingle FROM sh),
         |$shinglePairsSql,
         |truth AS MATERIALIZED (
         |  $jaccardTruthSql),
         |bks AS (${shapes.map(bucketSelects).mkString(" UNION ALL ")}),
         |cand AS MATERIALIZED (
         |  SELECT DISTINCT a.bands, a.doc_id AS a, b.doc_id AS b
         |  FROM bks a JOIN bks b
         |  ON a.bands = b.bands AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
         |np AS (SELECT bands, CAST(count(*) AS BIGINT) AS n_candidates
         |       FROM cand GROUP BY 1),
         |nh AS (SELECT c.bands, CAST(count(*) AS BIGINT) AS n_hit
         |       FROM cand c JOIN truth t ON c.a = t.a AND c.b = t.b GROUP BY 1),
         |nt AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM truth),
         |lv AS (SELECT CAST(t.b AS BIGINT) AS bands FROM (VALUES (2), (4), (8)) t(b))
         |SELECT lv.bands, CAST($K / lv.bands AS BIGINT) AS rows_per_band,
         |  nt.n_truth, coalesce(np.n_candidates, 0) AS n_candidates,
         |  coalesce(nh.n_hit, 0) AS n_hit,
         |  CASE WHEN nt.n_truth > 0
         |    THEN (1000000 * coalesce(nh.n_hit, 0)) // nt.n_truth END AS recall_ppm,
         |  CASE WHEN coalesce(np.n_candidates, 0) > 0
         |    THEN (1000000 * coalesce(nh.n_hit, 0)) // np.n_candidates END AS precision_ppm
         |FROM lv LEFT JOIN np USING (bands) LEFT JOIN nh USING (bands), nt
         |ORDER BY lv.bands""".stripMargin
    QueryDef("q185_band_sweep", oracle) { (s, dir) =>
      import s.implicits._
      val sample = Tables.documents(s, dir).filter(col("doc_id") % 2 === 0)
      val mh = minhash(sample).ckpt()
      def shapeBuckets(bands: Int): DataFrame = {
        val r = K / bands
        mh.select(col("doc_id"), lit(bands.toLong).as("bands"),
          explode(array((0 until bands).map { bi =>
            val parts = (0 until r).flatMap(j =>
              Seq(col(s"h${bi * r + j}"), lit("|")))
            md5(concat(lit(s"$bands:$bi:") +: parts: _*))
          }: _*)).as("bucket"))
      }
      val bks = shapes.map(shapeBuckets).reduce(_ unionByName _)
        .ckpt()
      val cand = bks.as("ba").join(bks.as("bb"),
          col("ba.bands") === col("bb.bands") &&
            col("ba.bucket") === col("bb.bucket") &&
            col("ba.doc_id") < col("bb.doc_id"))
        .select(col("ba.bands").as("bands"), col("ba.doc_id").as("a"),
          col("bb.doc_id").as("b"))
        .distinct().ckpt()
      val srows = shingles(sample)
        .select(col("doc_id"), col("shingle")).distinct()
        .ckpt()
      val truth = jaccardTruth(srows)
        .ckpt()
      val np = cand.groupBy(col("bands")).agg(count(lit(1)).as("n_candidates"))
      val nh = cand.join(truth, Seq("a", "b"), "left_semi")
        .groupBy(col("bands")).agg(count(lit(1)).as("n_hit"))
      val nt = truth.agg(count(lit(1)).as("n_truth"))
      val lv = broadcast(Seq(2L, 4L, 8L).toDF("bands"))
      lv.join(np, Seq("bands"), "left").join(nh, Seq("bands"), "left")
        .crossJoin(broadcast(nt))
        .select(col("bands"),
          (lit(K.toLong) / col("bands")).cast("bigint").as("rows_per_band"),
          col("n_truth"),
          coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"),
          when(col("n_truth") > 0,
            expr("(1000000 * coalesce(n_hit, 0)) div n_truth")).as("recall_ppm"),
          when(coalesce(col("n_candidates"), lit(0L)) > 0,
            expr("(1000000 * coalesce(n_hit, 0)) div n_candidates"))
            .as("precision_ppm"))
        .orderBy("bands")
    }
  }

  /** q213 — duplicate-aware train/test split: assign documents to
    * train/test by hashing their exact-dup CLUSTER key (the md5 text
    * signature), never the document id — every copy of a text lands
    * on the SAME side, so the split cannot leak a training document
    * into the test set via its duplicates (the classic eval-inflation
    * bug a doc-id split ships silently). Reports per side the doc and
    * cluster counts, and the cross-side leakage count measured the
    * hard way (clusters seen on both sides) — zero by construction,
    * emitted so the gate would catch a broken assignment.
    *
    * Exactness: the side is a parity test on the md5-prefix integer
    * (the q36 hash contract, identical in both engines); everything
    * else is counts.
    *
    * Scale design (100 TB): one partial-aggregable pass to (cluster,
    * side) grain, one bounded rollup; the leakage audit is a ≤
    * |clusters|-row aggregate asking max(side) ≠ min(side). No joins,
    * no windows. */
  val q213LeakSafeSplit: QueryDef = QueryDef(
    "q213_leak_safe_split",
    """WITH d AS (
      |  SELECT doc_id,
      |    ('0x' || substring(md5(text), 1, 15))::BIGINT AS ck
      |  FROM documents),
      |cs AS (
      |  SELECT ck, ck % 5 = 0 AS is_test, CAST(count(*) AS BIGINT) AS n_docs
      |  FROM d GROUP BY 1, 2),
      |leak AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_leaked
      |  FROM (SELECT ck FROM cs GROUP BY ck HAVING count(DISTINCT is_test) > 1))
      |SELECT CASE WHEN is_test THEN 'test' ELSE 'train' END AS split,
      |  CAST(sum(n_docs) AS BIGINT) AS n_docs,
      |  CAST(count(*) AS BIGINT) AS n_clusters,
      |  max(leak.n_leaked) AS n_leaked_clusters
      |FROM cs CROSS JOIN leak
      |GROUP BY 1 ORDER BY split""".stripMargin) { (s, dir) =>
    val d = Tables.documents(s, dir).select(
      conv(substring(md5(col("text")), 1, 15), 16, 10).cast("long").as("ck"))
    val cs = d.groupBy(col("ck"), (col("ck") % 5 === 0).as("is_test"))
      .agg(count(lit(1)).as("n_docs"))
      .ckpt() // feeds both the leak audit and the rollup
    val leak = cs.groupBy("ck")
      .agg(countDistinct(col("is_test")).as("sides"))
      .filter(col("sides") > 1)
      .agg(count(lit(1)).as("n_leaked"))
    cs.crossJoin(broadcast(leak))
      .groupBy(when(col("is_test"), "test").otherwise("train").as("split"))
      .agg(sum("n_docs").as("n_docs"), count(lit(1)).as("n_clusters"),
        max(col("n_leaked")).as("n_leaked_clusters"))
      .orderBy("split")
  }

  private val WIN_K = 8 // winnowing k-gram length (chars)
  private val WIN_W = 4 // winnowing window (consecutive k-gram hashes)

  /** q234 — winnowing fingerprints (the MOSS scheme, Schleimer et al.
    * SIGMOD'03): hash every char 8-gram with the native codegen'd
    * [[graft.functions.RollingHash]], then keep the MINIMUM hash of
    * each sliding window of 4 consecutive gram hashes. Winnowing
    * guarantees any shared substring of length ≥ k+w-1 = 11 yields a
    * shared selected fingerprint, while storing only ~2/(w+1) of the
    * gram hashes — the density/guarantee trade the naive "mod p == 0"
    * sampler cannot make. Per source: docs, selected fingerprints
    * (total and distinct), and docs sharing ≥1 fingerprint with any
    * other doc (the near-dup candidate set).
    *
    * Exactness: hashes are the q24 polynomial ((h·31+byte) mod 1e9+7)
    * replayed in DuckDB per-gram via nested list lambdas (exact — the
    * corpus is ASCII, byte == codepoint); window minima over int64 are
    * order-free, so leftmost-vs-rightmost tie policy cannot matter for
    * the VALUE set; all outputs are counts.
    *
    * Scale design (100 TB): gram hashing + window minima are one
    * per-row codegen'd expression chain — text never shuffles; the
    * exploded (fp, doc_id) table is the ONLY shuffled data, already
    * thinned ~2/(w+1) by winnowing and deduped per-doc before the
    * explode; shared-fp detection is a partial-aggregable distinct
    * count over the fp dictionary, never a pair join — candidate PAIR
    * generation (not materialized here) would run per-fp with the q115
    * distinct-class trick. The fps frame is localCheckpoint'd once so
    * its three consumers don't re-hash the corpus. */
  val q234Winnowing: QueryDef = QueryDef(
    "q234_winnowing",
    s"""WITH g AS (
      |  SELECT doc_id, source,
      |    list_transform(range(1, length(text) - ${WIN_K - 2}), i ->
      |      list_reduce(
      |        list_prepend(CAST(0 AS BIGINT),
      |          list_transform(range(i, i + $WIN_K),
      |                         j -> CAST(ord(substring(text, j, 1)) AS BIGINT))),
      |        (a, b) -> (a * 31 + b) % 1000000007)) AS hs
      |  FROM documents WHERE length(text) >= ${WIN_K + WIN_W - 1}),
      |w AS (
      |  SELECT doc_id, source,
      |    list_distinct(list_transform(range(1, len(hs) - ${WIN_W - 2}), i ->
      |      list_min(list_slice(hs, i, i + ${WIN_W - 1})))) AS fps
      |  FROM g),
      |e AS (SELECT doc_id, source, unnest(fps) AS fp FROM w),
      |sh AS (SELECT fp FROM e GROUP BY fp HAVING count(DISTINCT doc_id) > 1),
      |base AS (
      |  SELECT source, count(*) AS n_docs,
      |    CAST(sum(len(fps)) AS BIGINT) AS n_fp_total
      |  FROM w GROUP BY source),
      |dfp AS (SELECT source, count(DISTINCT fp) AS n_fp_distinct
      |        FROM e GROUP BY source),
      |shd AS (SELECT e.source, count(DISTINCT e.doc_id) AS n_docs_shared
      |        FROM e JOIN sh USING (fp) GROUP BY e.source)
      |SELECT base.source, n_docs, n_fp_total, n_fp_distinct,
      |  coalesce(n_docs_shared, 0) AS n_docs_shared
      |FROM base JOIN dfp USING (source) LEFT JOIN shd USING (source)
      |ORDER BY base.source""".stripMargin) { (s, dir) =>
    val fps = Tables.documents(s, dir)
      .filter(length(col("text")) >= WIN_K + WIN_W - 1)
      .withColumn("hs",
        expr(s"transform(char_ngrams(text, $WIN_K), g -> rolling_hash(g))"))
      .select(col("doc_id"), col("source"),
        expr(s"array_distinct(transform(sequence(0, size(hs) - $WIN_W), " +
          s"i -> array_min(slice(hs, i + 1, $WIN_W))))").as("fps"))
      .ckpt() // text/hashes dropped; feeds all three consumers
    val e = fps.select(col("doc_id"), col("source"),
      explode(col("fps")).as("fp"))
    val shared = e.groupBy(col("fp"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") > 1).select(col("fp"))
    val base = fps.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(col("fps"))).as("n_fp_total"))
    val dfp = e.groupBy(col("source"))
      .agg(countDistinct(col("fp")).as("n_fp_distinct"))
    val shd = e.join(shared, Seq("fp"))
      .groupBy(col("source"))
      .agg(countDistinct(col("doc_id")).as("n_docs_shared"))
    base.join(dfp, Seq("source"))
      .join(shd, Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("n_fp_total"),
        col("n_fp_distinct"),
        coalesce(col("n_docs_shared"), lit(0L)).as("n_docs_shared"))
      .orderBy("source")
  }

  /** q244 — golden-record survivorship (the MDM merge step): after
    * q37's component closure identifies near-dup clusters, each
    * cluster is collapsed to ONE canonical record by explicit
    * survivorship rules — "longest content wins" picks the survivor
    * (max n_chars, ties to the min doc_id so the rule is total), and
    * the lineage columns report what the merge absorbed (members,
    * distinct sources, distinct langs). This is the step a curation
    * pipeline runs BETWEEN dedup detection (q37) and the drop
    * decision (q38): q38 keeps min-id; the golden record keeps the
    * best-evidence member and records provenance.
    *
    * Exactness: the argmax is the max-chars ⋈ min-id join (no window,
    * engine-identical); everything else is counts over the cluster
    * frame.
    *
    * Scale design (100 TB): components come from the shared
    * [[ConnectedComponents]] (edge list already LSH+verify-pruned);
    * the member frame joins components to documents by doc_id
    * (equi-join, text column pruned away before any shuffle);
    * survivorship is two partial-aggregable passes over cluster keys.
    * Every cluster has ≥ 2 members by construction (each component
    * node carries an edge), so the output IS the merge worklist. */
  val q244GoldenRecord: QueryDef = QueryDef(
    "q244_golden_record",
    s"""WITH RECURSIVE $mhOracleCte,
       |$lshCandOracleCte,
       |$edgesOracleCte,
       |$componentsOracleCte,
       |gold AS (
       |  SELECT comp.component, d.doc_id, d.n_chars, d.source, d.lang
       |  FROM comp JOIN documents d ON comp.node = d.doc_id),
       |mx AS (SELECT component, max(n_chars) AS mc FROM gold GROUP BY component),
       |surv AS (
       |  SELECT g.component, min(g.doc_id) AS survivor_doc
       |  FROM gold g JOIN mx ON g.component = mx.component AND g.n_chars = mx.mc
       |  GROUP BY g.component)
       |SELECT g.component, count(*) AS n_merged, s.survivor_doc,
       |  mx.mc AS survivor_chars,
       |  count(DISTINCT g.source) AS n_sources,
       |  count(DISTINCT g.lang) AS n_langs
       |FROM gold g JOIN mx USING (component) JOIN surv s USING (component)
       |GROUP BY g.component, s.survivor_doc, mx.mc
       |ORDER BY g.component""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    val gold = ConnectedComponents.compute(s, nearDupEdges(docs))
      .join(docs.select(col("doc_id"), col("n_chars"), col("source"),
        col("lang")), col("node") === col("doc_id"))
    val mx = gold.groupBy(col("component").as("mcomp"))
      .agg(max(col("n_chars")).as("mc"))
    val surv = gold.join(broadcast(mx), col("component") === col("mcomp")
        && col("n_chars") === col("mc"))
      .groupBy(col("component").as("scomp"))
      .agg(min(col("doc_id")).as("survivor_doc"))
    gold.groupBy(col("component"))
      .agg(count(lit(1)).as("n_merged"),
        countDistinct(col("source")).as("n_sources"),
        countDistinct(col("lang")).as("n_langs"))
      .join(broadcast(mx), col("component") === col("mcomp"))
      .join(broadcast(surv), col("component") === col("scomp"))
      .select(col("component"), col("n_merged"), col("survivor_doc"),
        col("mc").as("survivor_chars"), col("n_sources"), col("n_langs"))
      .orderBy("component")
  }

  /** q297 — blocking-strategy quality evaluation: for three candidate
    * blocking keys (char-length band, 16-char prefix, lang × length
    * band), the two numbers every entity-resolution/dedup pipeline is
    * tuned by — PAIRS COMPLETENESS (what fraction of true near-dup
    * pairs land in the same block) and REDUCTION RATIO (what fraction
    * of the n² comparison space the blocking removes). q135 evaluates
    * ONE fixed blocker (LSH bands); this ranks alternative cheap keys
    * against the same sampled shingle-Jaccard truth, the experiment
    * run before committing a blocker at corpus scale.
    *
    * Exactness: truth is q135's exact set-similarity on the
    * deterministic doc_id-parity sample (Jaccard ≥ ½ via the integer
    * cross-multiplied containment identity); candidate counts are
    * Σ b·(b−1)/2 over exact block sizes; both ratios are integer
    * floor-divs to ppm.
    *
    * Scale design (100 TB): NO strategy ever materializes its
    * candidate pairs — counts come from block-size aggregates, and
    * completeness joins the (sampled, tiny) truth set against the
    * per-doc key frame twice by doc id. The only quadratic-ish work
    * is the truth join itself, which rides the same sampled
    * shingle-postings equi-join q135 already bounds. */
  val q297BlockingQuality: QueryDef = QueryDef(
    "q297_blocking_quality",
    s"""WITH $mhOracleCte,
       |ds AS (
       |  SELECT doc_id, lang, text, n_chars FROM documents WHERE doc_id % 2 = 0),
       |srows AS (SELECT DISTINCT doc_id, shingle FROM sh WHERE doc_id % 2 = 0),
       |$shinglePairsSql,
       |truth AS (
       |  $jaccardTruthSql),
       |keys AS (
       |  SELECT doc_id, 'len100' AS strategy, CAST(n_chars // 100 AS VARCHAR) AS k FROM ds
       |  UNION ALL
       |  SELECT doc_id, 'prefix16', substring(text, 1, 16) FROM ds
       |  UNION ALL
       |  SELECT doc_id, 'lang_len200',
       |    lang || '|' || CAST(n_chars // 200 AS VARCHAR) FROM ds),
       |blocks AS (
       |  SELECT strategy, k, CAST(count(*) AS BIGINT) AS b
       |  FROM keys GROUP BY 1, 2),
       |cand AS (
       |  SELECT strategy, CAST(count(*) AS BIGINT) AS n_blocks,
       |    CAST(sum(b * (b - 1) // 2) AS BIGINT) AS n_cand
       |  FROM blocks GROUP BY 1),
       |cob AS (
       |  SELECT ka.strategy, CAST(count(*) AS BIGINT) AS n_coblocked
       |  FROM truth t
       |  JOIN keys ka ON t.a = ka.doc_id
       |  JOIN keys kb ON t.b = kb.doc_id AND ka.strategy = kb.strategy
       |    AND ka.k = kb.k
       |  GROUP BY 1),
       |tot AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |    (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_truth
       |  FROM ds)
       |SELECT cand.strategy, cand.n_blocks, cand.n_cand, tot.n_truth,
       |  coalesce(cob.n_coblocked, 0) AS n_coblocked,
       |  CASE WHEN tot.n_truth > 0
       |    THEN (1000000 * coalesce(cob.n_coblocked, 0)) // tot.n_truth END
       |    AS completeness_ppm,
       |  1000000 - (1000000 * cand.n_cand)
       |    // (tot.n_docs * (tot.n_docs - 1) // 2) AS reduction_ppm
       |FROM cand LEFT JOIN cob ON cand.strategy = cob.strategy
       |CROSS JOIN tot ORDER BY cand.strategy""".stripMargin) { (s, dir) =>
    val ds = Tables.documents(s, dir).filter(col("doc_id") % 2 === 0)
      .select(col("doc_id"), col("lang"), col("text"), col("n_chars"))
    val srows = shingles(ds)
      .select(col("doc_id"), col("shingle")).distinct()
      .ckpt() // sizes + both sides of the shingle join
    val truth = jaccardTruth(srows)
      .ckpt() // counted AND joined per strategy
    val keys = ds.select(col("doc_id"), expr(
      "stack(3, " +
        "'len100', CAST(n_chars div 100 AS STRING), " +
        "'prefix16', substring(text, 1, 16), " +
        "'lang_len200', concat(lang, '|', CAST(n_chars div 200 AS STRING))) " +
        "AS (strategy, k)"))
      .ckpt() // blocks + both completeness sides
    val cand = keys.groupBy(col("strategy"), col("k"))
      .agg(count(lit(1)).as("b"))
      .groupBy(col("strategy"))
      .agg(count(lit(1)).as("n_blocks"),
        sum(expr("b * (b - 1) div 2")).cast("bigint").as("n_cand"))
    val cob = truth
      .join(keys.select(col("doc_id").as("a"), col("strategy"), col("k")), Seq("a"))
      .join(keys.select(col("doc_id").as("b"), col("strategy").as("s2"),
        col("k").as("k2")), Seq("b"))
      .filter(col("strategy") === col("s2") && col("k") === col("k2"))
      .groupBy(col("strategy")).agg(count(lit(1)).as("n_coblocked"))
    val tot = ds.agg(count(lit(1)).as("n_docs"))
      .crossJoin(truth.agg(count(lit(1)).as("n_truth")))
    cand.join(cob, Seq("strategy"), "left")
      .crossJoin(broadcast(tot))
      .select(col("strategy"), col("n_blocks"), col("n_cand"), col("n_truth"),
        coalesce(col("n_coblocked"), lit(0L)).as("n_coblocked"),
        when(col("n_truth") > 0,
          expr("(1000000 * coalesce(n_coblocked, 0)) div n_truth"))
          .as("completeness_ppm"),
        (lit(1000000) - expr(
          "(1000000 * n_cand) div nullif(n_docs * (n_docs - 1) div 2, 0)"))
          .as("reduction_ppm"))
      .orderBy("strategy")
  }

  /** q300 — duplication-aware training weights: every document's
    * sampling weight is 1/|its exact-dup cluster| (q30's signature),
    * so each DISTINCT text contributes unit mass no matter how many
    * times it was crawled — the standard reweighting alternative to
    * hard-dropping duplicates, reported per source. eff_weight_ppm
    * (mass/docs) is the per-source "how much of this feed is
    * genuinely new" score a data-mixture planner reads.
    *
    * Exactness: cluster sizes are exact counts over the full corpus
    * (clusters SPAN sources — sizes are computed before the source
    * split); per-doc weight is the integer floor-div 10⁶//size; all
    * downstream sums are integer.
    *
    * Scale design (100 TB): signature grouping is one
    * partial-aggregable pass; the size frame joins back BY SIGNATURE
    * (equi, high-cardinality, no skew beyond true dup multiplicity);
    * output is |sources| rows. Text itself never shuffles — only the
    * 32-char signature does. */
  val q300DupWeights: QueryDef = QueryDef(
    "q300_dup_weights",
    """WITH sig AS (
      |  SELECT doc_id, source,
      |    md5(array_to_string(list_sort(list_distinct(string_split(text,' '))), ' ')) AS sg
      |  FROM documents),
      |cl AS (SELECT sg, CAST(count(*) AS BIGINT) AS sz FROM sig GROUP BY sg),
      |w AS (
      |  SELECT sig.source, sig.sg, 1000000 // cl.sz AS w_ppm
      |  FROM sig JOIN cl ON sig.sg = cl.sg)
      |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(count(DISTINCT sg) AS BIGINT) AS n_clusters,
      |  CAST(sum(w_ppm) AS BIGINT) AS weight_mass_ppm,
      |  CAST(sum(w_ppm) AS BIGINT) // count(*) AS eff_weight_ppm
      |FROM w GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
    val sig = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), signature.as("sg"))
    val cl = sig.groupBy(col("sg")).agg(count(lit(1)).as("sz"))
    sig.join(cl, Seq("sg"))
      .select(col("source"), col("sg"), expr("1000000 div sz").as("w_ppm"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("sg")).as("n_clusters"),
        sum(col("w_ppm")).cast("bigint").as("weight_mass_ppm"))
      .select(col("source"), col("n_docs"), col("n_clusters"),
        col("weight_mass_ppm"),
        expr("weight_mass_ppm div n_docs").as("eff_weight_ppm"))
      .orderBy("source")
  }

  /** q303 — MinHash estimator calibration: on the deterministic
    * doc-parity sample, bucket candidate pairs by their EXACT shingle
    * Jaccard (deciles) and report, per bucket, the mean K-component
    * MinHash ESTIMATE against the mean exact value — the bias curve
    * that answers "is K=8 enough at my dedup threshold". q135 scores
    * the LSH blocker's recall/precision at one τ; this audits the
    * underlying ESTIMATOR across the whole similarity range (the
    * E[matches/K] = J identity, whose sampling error is what q185's
    * band sweep trades against).
    *
    * Exactness: exact Jaccard deciles ride the integer
    * cross-multiplied floor (10·∩ // ∪, capped at 9); per-pair
    * estimates are integer (10⁶·matches) div K; bucket means are
    * integer floor-divs of exact sums.
    *
    * Scale design (100 TB): candidate pairs come from the SAMPLED
    * shingle-postings equi-join (q135's bounded truth machinery —
    * never all-pairs); signatures join by doc id (two equi-joins
    * against the K·8-char signature frame); everything downstream is
    * ≤10 rows. */
  val q303MinhashCalibration: QueryDef = QueryDef(
    "q303_minhash_calibration",
    s"""WITH $mhOracleCte,
       |srows AS (SELECT DISTINCT doc_id, shingle FROM sh WHERE doc_id % 2 = 0),
       |$shinglePairsSql,
       |ja AS (
       |  SELECT pi.a, pi.b, pi.inter, za.n + zb.n - pi.inter AS un
       |  FROM pi JOIN sz za ON pi.a = za.doc_id JOIN sz zb ON pi.b = zb.doc_id),
       |est AS (
       |  SELECT ja.a, ja.b, ja.inter, ja.un,
       |    ${(0 until K).map(k =>
            s"(CASE WHEN ma.h$k = mb.h$k THEN 1 ELSE 0 END)").mkString(" + ")}
       |      AS matches
       |  FROM ja JOIN mh ma ON ja.a = ma.doc_id JOIN mh mb ON ja.b = mb.doc_id),
       |bk AS (
       |  SELECT least(9, (10 * inter) // un) AS decile,
       |    (1000000 * inter) // un AS exact_ppm,
       |    (1000000 * matches) // $K AS est_ppm
       |  FROM est)
       |SELECT decile, CAST(count(*) AS BIGINT) AS n_pairs,
       |  CAST(sum(exact_ppm) AS BIGINT) // count(*) AS mean_exact_ppm,
       |  CAST(sum(est_ppm) AS BIGINT) // count(*) AS mean_est_ppm,
       |  CAST(sum(est_ppm) AS BIGINT) // count(*)
       |    - CAST(sum(exact_ppm) AS BIGINT) // count(*) AS bias_ppm
       |FROM bk GROUP BY decile ORDER BY decile""".stripMargin) { (s, dir) =>
    val sample = Tables.documents(s, dir).filter(col("doc_id") % 2 === 0)
    val srows = shingles(sample)
      .select(col("doc_id"), col("shingle")).distinct()
      .ckpt() // sizes + both sides of the postings join
    val ja = shinglePairs(srows)
      .select(col("a"), col("b"), col("inter"),
        (col("na") + col("nb") - col("inter")).as("un"))
    val mh = minhash(sample).ckpt() // joined on both pair sides
    val matches = (0 until K).map(k =>
      when(col(s"ah$k") === col(s"bh$k"), 1).otherwise(0)).reduce(_ + _)
    val est = ja
      .join(mh.select(col("doc_id").as("a") +:
        (0 until K).map(k => col(s"h$k").as(s"ah$k")): _*), Seq("a"))
      .join(mh.select(col("doc_id").as("b") +:
        (0 until K).map(k => col(s"h$k").as(s"bh$k")): _*), Seq("b"))
      .select(col("inter"), col("un"), matches.as("matches"))
    est
      .select(least(lit(9), expr("(10 * inter) div un")).as("decile"),
        expr("(1000000 * inter) div un").as("exact_ppm"),
        expr(s"(1000000 * matches) div $K").as("est_ppm"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("exact_ppm")).as("se"), sum(col("est_ppm")).as("sm"))
      .select(col("decile"), col("n_pairs"),
        expr("se div n_pairs").as("mean_exact_ppm"),
        expr("sm div n_pairs").as("mean_est_ppm"),
        (expr("sm div n_pairs") - expr("se div n_pairs")).as("bias_ppm"))
      .orderBy("decile")
  }

  /** q308 — redundancy growth curve: split the corpus into four
    * ingestion-order quartiles (doc_id is arrival order) and report,
    * per quartile, how many documents share at least one 5-word span
    * with ANY earlier document — the "dedup pressure vs corpus size"
    * curve that decides WHEN near-dup dedup must turn on in a growing
    * crawl (redundancy compounds: each quartile dedups against
    * everything before it, so the rate should rise; a flat curve
    * means the sources are disjoint and dedup can wait). q69 counts
    * duplicated spans at a fixed corpus; this tracks the trajectory.
    *
    * Exactness: first-seen is an associative min over doc_id per
    * span; the quartile cut is the integer (4·doc_id) div (max+1);
    * rates are cross-multiplied ppm floor-divs on non-negative
    * counts.
    *
    * Scale design (100 TB): spans explode with one projection (no
    * text self-join); the span→min(doc_id) collapse is
    * partial-aggregable; the verdict is an equi-join back on the span
    * key followed by a (doc)-keyed max — text never shuffles. The
    * 1-row max-id frame is broadcast. Output is 4 rows. */
  val q308DedupGrowth: QueryDef = {
    val W = 5
    QueryDef(
      "q308_dedup_growth",
      s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |sp AS (
         |  SELECT DISTINCT doc_id,
         |    array_to_string(t[i:i+${W - 1}], ' ') AS span
         |  FROM tk, unnest(range(1, len(t) - ${W - 2})) AS r(i)
         |  WHERE len(t) >= $W),
         |fs AS (SELECT span, min(doc_id) AS first_seen FROM sp GROUP BY span),
         |d AS (
         |  SELECT s.doc_id,
         |    max(CASE WHEN s.doc_id > f.first_seen THEN 1 ELSE 0 END) AS dup
         |  FROM sp s JOIN fs f ON s.span = f.span GROUP BY s.doc_id),
         |mx AS (SELECT max(doc_id) AS mid FROM documents),
         |q AS (
         |  SELECT least(3, (4 * doc.doc_id) // (mx.mid + 1)) AS quartile,
         |    coalesce(d.dup, 0) AS dup
         |  FROM documents doc LEFT JOIN d ON doc.doc_id = d.doc_id, mx)
         |SELECT CAST(quartile AS BIGINT) AS quartile,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(dup) AS BIGINT) AS n_redundant,
         |  (1000000 * CAST(sum(dup) AS BIGINT)) // count(*) AS red_ppm
         |FROM q GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val sp = docs
        .select(col("doc_id"), split(col("text"), " ").as("t"))
        .filter(size(col("t")) >= W)
        .repartition(col("doc_id")) // single-file scan -> use every core
        .select(col("doc_id"), explode(transform(
          sequence(lit(1), size(col("t")) - (W - 1)),
          i => array_join(slice(col("t"), i, lit(W)), " "))).as("span"))
        .distinct()
        .ckpt() // feeds first-seen AND the verdict join
      val fs = sp.groupBy(col("span")).agg(min(col("doc_id")).as("first_seen"))
      val d = sp.join(fs, Seq("span"))
        .groupBy(col("doc_id"))
        .agg(max(when(col("doc_id") > col("first_seen"), 1L).otherwise(0L))
          .as("dup"))
      val mx = docs.agg(max(col("doc_id")).as("mid"))
      docs.select(col("doc_id"))
        .join(d, Seq("doc_id"), "left")
        .crossJoin(broadcast(mx))
        .select(expr("least(3, (4 * doc_id) div (mid + 1))").as("quartile"),
          coalesce(col("dup"), lit(0L)).as("dup"))
        .groupBy(col("quartile"))
        .agg(count(lit(1)).as("n_docs"), sum(col("dup")).as("n_redundant"))
        .select(col("quartile").cast("bigint").as("quartile"),
          col("n_docs"), col("n_redundant"),
          expr("(1000000 * n_redundant) div n_docs").as("red_ppm"))
        .orderBy("quartile")
    }
  }

  /** q333 — SimHash Hamming-radius dedup by block decomposition
    * (Manku, Jain & Das Sarma 2007, "Detecting Near-Duplicates for
    * Web Crawling"): split each 16-bit simhash (q33's signature,
    * verbatim) into 4 blocks of 4 bits; any pair within Hamming
    * distance ≤ 3 must agree on ≥ 1 whole block (pigeonhole), so the
    * block equi-join generates a COMPLETE candidate set without an
    * all-pairs pass; exact `bit_count(xor)` then buckets the pairs by
    * distance 0–3. Output is the radius profile — how many near-dup
    * pairs each Hamming budget admits — the tuning table for the
    * simhash analog of q185's band sweep. (Production: 64-bit sigs,
    * d+1 blocks for radius d — same shape, stated here at the q33
    * test width.)
    *
    * Exactness: signatures, blocks, and Hamming distances are pure
    * integer ops; pair multiplicities come from the distinct-
    * signature dictionary (cnt_a·cnt_b cross products, n·(n−1)/2
    * within a class), so duplicate-heavy corpora cannot go quadratic
    * in the join (the q115 lesson).
    *
    * Scale design (100 TB): one signature pass (16 partial sums, one
    * shuffle — q33's shape) collapses to the distinct-sig dictionary;
    * the block join runs over (block-id, block-value) keys of that
    * DICTIONARY, not of docs; multi-block agreements dedupe on the
    * (s1, s2) pair before distance counting. Output 4 rows. */
  val q333SimhashRadius: QueryDef = {
    val simhashSql =
      s"""tk3 AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
         |agg3 AS (SELECT doc_id, count(*) AS n,
         |  ${(0 until 16).map(b => s"sum(ascii(substr(md5(tok), ${b + 1}, 1)) % 2) AS s$b").mkString(", ")}
         |  FROM tk3 GROUP BY doc_id),
         |sh AS (SELECT doc_id,
         |  ${(0 until 16).map(b => s"(CASE WHEN 2*s$b > n THEN ${1 << b} ELSE 0 END)").mkString(" + ")} AS sig
         |  FROM agg3)""".stripMargin
    QueryDef(
      "q333_simhash_radius",
      s"""WITH $simhashSql,
         |dict AS (SELECT sig, CAST(count(*) AS BIGINT) AS cnt FROM sh GROUP BY sig),
         |bl AS (
         |  SELECT sig, cnt, j, (sig // (CASE j WHEN 0 THEN 1 WHEN 1 THEN 16
         |    WHEN 2 THEN 256 ELSE 4096 END)) % 16 AS bv
         |  FROM dict, unnest([0, 1, 2, 3]) AS u(j)),
         |cand AS (
         |  SELECT DISTINCT b1.sig AS s1, b2.sig AS s2
         |  FROM bl b1 JOIN bl b2 ON b1.j = b2.j AND b1.bv = b2.bv
         |    AND b1.sig < b2.sig),
         |cross_d AS (
         |  SELECT bit_count(xor(c.s1, c.s2)) AS d,
         |    CAST(sum(d1.cnt * d2.cnt) AS BIGINT) AS n_pairs
         |  FROM cand c JOIN dict d1 ON c.s1 = d1.sig
         |    JOIN dict d2 ON c.s2 = d2.sig
         |  WHERE bit_count(xor(c.s1, c.s2)) <= 3
         |  GROUP BY 1),
         |zero_d AS (
         |  SELECT 0 AS d, CAST(sum(cnt * (cnt - 1) // 2) AS BIGINT) AS n_pairs
         |  FROM dict WHERE cnt >= 2),
         |grid AS (SELECT CAST(unnest([0, 1, 2, 3]) AS BIGINT) AS d)
         |SELECT g.d,
         |  CAST(coalesce(z.n_pairs, 0) + coalesce(x.n_pairs, 0) AS BIGINT)
         |    AS n_pairs
         |FROM grid g
         |LEFT JOIN zero_d z ON g.d = z.d
         |LEFT JOIN cross_d x ON g.d = x.d
         |ORDER BY g.d""".stripMargin) { (s, dir) =>
      import s.implicits._
      val tk = Tables.documents(s, dir)
        .repartition(col("doc_id")) // single-file scan -> use every core
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      val agg = tk.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n"),
          (0 until 16).map(b =>
            sum(ascii(substring(md5(col("tok")), b + 1, 1)) % 2)
              .as(s"s$b")): _*)
      val sig = (0 until 16)
        .map(b => when(lit(2) * col(s"s$b") > col("n"), lit(1 << b))
          .otherwise(lit(0))).reduce(_ + _)
      val dict = agg.select(sig.as("sig"))
        .groupBy(col("sig")).agg(count(lit(1)).as("cnt"))
        .ckpt() // feeds blocks AND both count lookups
      val bl = dict
        .select(col("sig"), col("cnt"),
          explode(array((0 until 4).map(lit): _*)).as("j"))
        .select(col("sig"), col("j"),
          expr("(sig div (CASE j WHEN 0 THEN 1 WHEN 1 THEN 16" +
            " WHEN 2 THEN 256 ELSE 4096 END)) % 16").as("bv"))
      val cand = bl.select(col("j"), col("bv"), col("sig").as("s1"))
        .join(bl.select(col("j").as("j2"), col("bv").as("bv2"),
          col("sig").as("s2")),
          col("j") === col("j2") && col("bv") === col("bv2") &&
            col("s1") < col("s2"))
        .select(col("s1"), col("s2")).distinct()
      val crossD = cand
        .join(dict.select(col("sig").as("s1"), col("cnt").as("c1")),
          Seq("s1"))
        .join(dict.select(col("sig").as("s2"), col("cnt").as("c2")),
          Seq("s2"))
        .filter(bit_count(expr("s1 ^ s2")) <= 3)
        .groupBy(bit_count(expr("s1 ^ s2")).cast("bigint").as("d"))
        .agg(sum(col("c1") * col("c2")).as("n_pairs"))
      val zeroD = dict.filter(col("cnt") >= 2)
        .agg(sum(expr("cnt * (cnt - 1) div 2")).as("n_pairs"))
        .select(lit(0L).as("d"), col("n_pairs"))
      val grid = Seq(0L, 1L, 2L, 3L).toDF("d")
      grid
        .join(zeroD.select(col("d").as("zd"), col("n_pairs").as("zp")),
          col("d") === col("zd"), "left")
        .join(crossD.select(col("d").as("xd"), col("n_pairs").as("xp")),
          col("d") === col("xd"), "left")
        .select(col("d"),
          (coalesce(col("zp"), lit(0L)) + coalesce(col("xp"), lit(0L)))
            .cast("bigint").as("n_pairs"))
        .orderBy("d")
    }
  }

  /** q351 — Fellegi–Sunter probabilistic record linkage (Fellegi &
    * Sunter '69) with two unrolled EM rounds (Winkler '88): a "dirty"
    * twin of every customer is derived with md5-portable corruption
    * coins (name truncated 20%, balance shifted 30%, segment
    * clobbered 10%); candidate pairs come from nation blocking; each
    * pair reduces to a 3-bit agreement pattern (name, balance-cents,
    * segment), and EM estimates the match prevalence p and the
    * per-field m/u probabilities FROM THE PATTERN COUNTS ALONE — no
    * labels. Output: the 8 patterns with pair counts, the round-2
    * match posterior, and the FS log₂ likelihood-ratio weight — the
    * classic entity-resolution decision table (q111 fuzzy-matches,
    * q244 merges survivors; this supplies the PRINCIPLED threshold).
    *
    * Exactness: the corpus-scale work ends at the 8-row pattern-count
    * frame (exact integers). Every EM quantity is quantized to
    * integer nano units between rounds — per-pattern posteriors
    * floor(10⁹·w) BIGINT, M-step sums in DECIMAL(38,0)/HUGEINT
    * (order-free), parameter ratios through shared all-DOUBLE SQL
    * chains (q286/q348 contract) — so both engines walk the identical
    * EM trajectory bit-for-bit. Degenerate masses (zero match or
    * unmatch weight) pin to 0 via CASE guards; the FS weight is NULL
    * when either conditional likelihood is 0.
    *
    * Scale design (100 TB): blocking bounds the pair space (per-block
    * quadratic is the linkage trade the operator makes explicit — the
    * blocking key is config); the pattern collapse is one
    * partial-aggregable pass over pairs; the checkpointed 8-row frame
    * feeds both EM rounds and the output, so pairs materialize ONCE;
    * both rounds are crossJoins against broadcast 1-row parameter
    * frames. Output ≤8 rows. */
  val q351FellegiSunter: QueryDef = {
    // portable corruption coin on the customer key
    def coinSql(salt: String) =
      s"('0x' || substring(md5('$salt' || CAST(c_custkey AS VARCHAR)), 1, 15))::BIGINT % 100"
    def coinSpark(salt: String) =
      s"CAST(conv(substring(md5(concat('$salt', CAST(c_custkey AS STRING))), " +
        s"1, 15), 16, 10) AS BIGINT) % 100"
    // EM weight chain over columns (g1,g2,g3, p,m1,m2,m3,u1,u2,u3)
    def prod(c: String) =
      s"(CASE WHEN g1 = 1 THEN CAST(${c}1 AS DOUBLE) / 1e9 " +
        s"ELSE 1.0 - CAST(${c}1 AS DOUBLE) / 1e9 END) * " +
        s"(CASE WHEN g2 = 1 THEN CAST(${c}2 AS DOUBLE) / 1e9 " +
        s"ELSE 1.0 - CAST(${c}2 AS DOUBLE) / 1e9 END) * " +
        s"(CASE WHEN g3 = 1 THEN CAST(${c}3 AS DOUBLE) / 1e9 " +
        s"ELSE 1.0 - CAST(${c}3 AS DOUBLE) / 1e9 END)"
    val aLik = s"(CAST(p AS DOUBLE) / 1e9) * (${prod("m")})"
    val bLik = s"(1.0 - CAST(p AS DOUBLE) / 1e9) * (${prod("u")})"
    val wn = s"CASE WHEN ($aLik) + ($bLik) = 0.0 THEN 0 ELSE " +
      s"CAST(floor(1000000000.0 * (($aLik) / (($aLik) + ($bLik)))) " +
      s"AS BIGINT) END"
    // M-step ratios over the summed columns
    val pN = "CASE WHEN scnt = 0 THEN 0 ELSE " +
      "CAST(floor(CAST(sw AS DOUBLE) / CAST(scnt AS DOUBLE)) AS BIGINT) END"
    def mN(i: Int) = s"CASE WHEN CAST(sw AS DOUBLE) = 0.0 THEN 0 ELSE " +
      s"CAST(floor(1000000000.0 * CAST(sg$i AS DOUBLE) / " +
      s"CAST(sw AS DOUBLE)) AS BIGINT) END"
    def uN(i: Int) = s"CASE WHEN CAST(vw AS DOUBLE) = 0.0 THEN 0 ELSE " +
      s"CAST(floor(1000000000.0 * CAST(vg$i AS DOUBLE) / " +
      s"CAST(vw AS DOUBLE)) AS BIGINT) END"
    val fsMilli = s"CASE WHEN (${prod("m")}) > 0.0 AND (${prod("u")}) > 0.0 " +
      s"THEN CAST(floor(1000.0 * (ln(${prod("m")}) - ln(${prod("u")})) / " +
      s"ln(2.0)) AS BIGINT) ELSE NULL END"
    // round CTE pair (duck side): weights then sums then params
    def roundSql(prev: String, t: Int) =
      s"""r${t}w AS (
         |  SELECT pc.*, $wn AS wn FROM pc, $prev),
         |r${t}s AS (
         |  SELECT sum(CAST(wn AS HUGEINT) * cnt) AS sw,
         |    sum(CAST(wn AS HUGEINT) * cnt * g1) AS sg1,
         |    sum(CAST(wn AS HUGEINT) * cnt * g2) AS sg2,
         |    sum(CAST(wn AS HUGEINT) * cnt * g3) AS sg3,
         |    sum(CAST(1000000000 - wn AS HUGEINT) * cnt) AS vw,
         |    sum(CAST(1000000000 - wn AS HUGEINT) * cnt * g1) AS vg1,
         |    sum(CAST(1000000000 - wn AS HUGEINT) * cnt * g2) AS vg2,
         |    sum(CAST(1000000000 - wn AS HUGEINT) * cnt * g3) AS vg3,
         |    CAST(sum(cnt) AS BIGINT) AS scnt
         |  FROM r${t}w),
         |p$t AS (
         |  SELECT $pN AS p, ${mN(1)} AS m1, ${mN(2)} AS m2, ${mN(3)} AS m3,
         |    ${uN(1)} AS u1, ${uN(2)} AS u2, ${uN(3)} AS u3
         |  FROM r${t}s)""".stripMargin
    QueryDef(
      "q351_fellegi_sunter",
      s"""WITH twin AS (
         |  SELECT c_custkey AS tkey, c_nationkey AS tnat,
         |    CASE WHEN ${coinSql("fsn")} < 20
         |      THEN substring(c_name, 1, length(c_name) - 1)
         |      ELSE c_name END AS name2,
         |    CASE WHEN ${coinSql("fsb")} < 30
         |      THEN CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) + 100
         |      ELSE CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) END AS bal2,
         |    CASE WHEN ${coinSql("fss")} < 10
         |      THEN 'CORRUPTED' ELSE c_mktsegment END AS seg2
         |  FROM customer),
         |pc AS (
         |  SELECT CAST(CASE WHEN a.c_name = t.name2 THEN 1 ELSE 0 END
         |      AS BIGINT) AS g1,
         |    CAST(CASE WHEN CAST(floor(a.c_acctbal * 100 + 0.5) AS BIGINT)
         |        = t.bal2 THEN 1 ELSE 0 END AS BIGINT) AS g2,
         |    CAST(CASE WHEN a.c_mktsegment = t.seg2 THEN 1 ELSE 0 END
         |      AS BIGINT) AS g3,
         |    CAST(count(*) AS BIGINT) AS cnt
         |  FROM customer a JOIN twin t ON a.c_nationkey = t.tnat
         |  GROUP BY 1, 2, 3),
         |p0 AS (
         |  SELECT CAST(100000000 AS BIGINT) AS p,
         |    CAST(900000000 AS BIGINT) AS m1, CAST(900000000 AS BIGINT) AS m2,
         |    CAST(900000000 AS BIGINT) AS m3,
         |    CAST(100000000 AS BIGINT) AS u1, CAST(100000000 AS BIGINT) AS u2,
         |    CAST(100000000 AS BIGINT) AS u3),
         |${roundSql("p0", 1)},
         |${roundSql("p1", 2)}
         |SELECT pc.g1, pc.g2, pc.g3, pc.cnt AS n_pairs, $wn AS w_nano,
         |  $fsMilli AS fs_milli,
         |  p AS p_nano, m1 AS m1_nano, m2 AS m2_nano, m3 AS m3_nano,
         |  u1 AS u1_nano, u2 AS u2_nano, u3 AS u3_nano
         |FROM pc, p2 ORDER BY pc.g1, pc.g2, pc.g3""".stripMargin) { (s, dir) =>
      val cust = Tables.customer(s, dir)
      val twin = cust.select(col("c_custkey").as("tkey"),
        col("c_nationkey").as("tnat"),
        expr(s"CASE WHEN ${coinSpark("fsn")} < 20 " +
          "THEN substring(c_name, 1, length(c_name) - 1) " +
          "ELSE c_name END").as("name2"),
        expr(s"CASE WHEN ${coinSpark("fsb")} < 30 " +
          "THEN CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) + 100 " +
          "ELSE CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) END").as("bal2"),
        expr(s"CASE WHEN ${coinSpark("fss")} < 10 " +
          "THEN 'CORRUPTED' ELSE c_mktsegment END").as("seg2"))
      val pc = cust.join(twin, col("c_nationkey") === col("tnat"))
        .groupBy(
          expr("CAST(CASE WHEN c_name = name2 THEN 1 ELSE 0 END AS BIGINT)")
            .as("g1"),
          expr("CAST(CASE WHEN CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) " +
            "= bal2 THEN 1 ELSE 0 END AS BIGINT)").as("g2"),
          expr("CAST(CASE WHEN c_mktsegment = seg2 THEN 1 ELSE 0 END " +
            "AS BIGINT)").as("g3"))
        .agg(count(lit(1)).as("cnt"))
        .ckpt() // pairs materialize once; both EM rounds ride this frame
      val p0 = s.range(1).select(
        lit(100000000L).as("p"),
        lit(900000000L).as("m1"), lit(900000000L).as("m2"),
        lit(900000000L).as("m3"),
        lit(100000000L).as("u1"), lit(100000000L).as("u2"),
        lit(100000000L).as("u3"))
      def emRound(params: DataFrame): DataFrame =
        pc.crossJoin(broadcast(params))
          .select(col("g1"), col("g2"), col("g3"), col("cnt"),
            expr(wn).as("wn"))
          .agg(
            expr("sum(CAST(wn AS DECIMAL(19,0)) * cnt)").as("sw"),
            expr("sum(CAST(wn AS DECIMAL(19,0)) * cnt * g1)").as("sg1"),
            expr("sum(CAST(wn AS DECIMAL(19,0)) * cnt * g2)").as("sg2"),
            expr("sum(CAST(wn AS DECIMAL(19,0)) * cnt * g3)").as("sg3"),
            expr("sum(CAST(1000000000 - wn AS DECIMAL(19,0)) * cnt)").as("vw"),
            expr("sum(CAST(1000000000 - wn AS DECIMAL(19,0)) * cnt * g1)")
              .as("vg1"),
            expr("sum(CAST(1000000000 - wn AS DECIMAL(19,0)) * cnt * g2)")
              .as("vg2"),
            expr("sum(CAST(1000000000 - wn AS DECIMAL(19,0)) * cnt * g3)")
              .as("vg3"),
            expr("CAST(sum(cnt) AS BIGINT)").as("scnt"))
          .select(expr(pN).as("p"),
            expr(mN(1)).as("m1"), expr(mN(2)).as("m2"), expr(mN(3)).as("m3"),
            expr(uN(1)).as("u1"), expr(uN(2)).as("u2"), expr(uN(3)).as("u3"))
      val p2 = emRound(emRound(p0))
      pc.crossJoin(broadcast(p2))
        .select(col("g1"), col("g2"), col("g3"), col("cnt").as("n_pairs"),
          expr(wn).as("w_nano"), expr(fsMilli).as("fs_milli"),
          col("p").as("p_nano"),
          col("m1").as("m1_nano"), col("m2").as("m2_nano"),
          col("m3").as("m3_nano"),
          col("u1").as("u1_nano"), col("u2").as("u2_nano"),
          col("u3").as("u3_nano"))
        .orderBy("g1", "g2", "g3")
    }
  }

  val all: Seq[QueryDef] = Seq(
    q351FellegiSunter,
    q244GoldenRecord, q333SimhashRadius,
    q30ExactDedup, q31Minhash, q32LshPairs, q33Simhash,
    q34NgramJaccard, q35EmbeddingNeardup, q37DupClusters, q38DedupPipeline,
    q69SpanDedup, q75Contamination, q78SortedNeighborhood, q100SemanticDedup,
    q128KeepBest, q135LshEval, q151DedupWhatif, q158SourceOverlap,
    q161AdmissionFunnel, q162Containment, q185BandSweep, q213LeakSafeSplit,
    q234Winnowing, q297BlockingQuality, q300DupWeights,
    q303MinhashCalibration, q308DedupGrowth, q449PlaneSweep)

  /** q161 — corpus-admission funnel: every document walks the full
    * pretraining ingestion gauntlet — exact dedup, near-dup dedup,
    * quality filter, benchmark decontamination — and each source gets
    * the cumulative survivor counts per stage plus the final admit
    * rate. This is the composition the engine exists for: the four
    * decision layers (q30, q32, q146, q75) wired into ONE report with
    * each rule coming from its shared, separately-gated definition.
    *
    * Stage rules (all deterministic, one pass, no iteration):
    *  1. exact    — keep the min-doc_id canonical per md5(text) class;
    *  2. near-dup — drop the HIGHER doc_id of every verified near-dup
    *     pair (q32's edges), regardless of upstream survival — the
    *     keep-first rule; the transitive-cluster alternative is q37's
    *     union-find, deliberately not recomputed here;
    *  3. quality  — q146's verdict (length / dup-word / top-bigram);
    *  4. decontam — q75's rule: not a benchmark doc (doc_id % 97) and
    *     shares no 8-word span with the benchmark slice.
    *
    * Scale design (100 TB): every stage is a (semi/left) equi-join of
    * the corpus against a derived key set — signature classes, LSH-
    * verified edge endpoints, per-doc flags, span matches — each of
    * which is itself built scale-safely (banded LSH, broadcast bench
    * spans, partial-agg md5 classes). Text never shuffles: the funnel
    * verdict table carries only (doc_id, source, flags). */
  lazy val q161AdmissionFunnel: QueryDef = QueryDef(
    "q161_admission_funnel",
    s"""WITH $mhOracleCte,
       |$lshCandOracleCte,
       |$edgesOracleCte,
       |${graft.operators.TextAnalysis.qualityOracleCte},
       |exc AS (SELECT md5(text) AS sig, min(doc_id) AS canon
       |  FROM documents GROUP BY md5(text)),
       |ndrop AS (SELECT DISTINCT b AS doc_id FROM edges),
       |cw AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
       |csp AS (
       |  SELECT doc_id, array_to_string(tk[i:i+7], ' ') AS span
       |  FROM cw, unnest(range(1, len(tk) - 6)) AS t(i)
       |  WHERE len(tk) >= 8),
       |cbench AS (SELECT DISTINCT span FROM csp WHERE doc_id % 97 = 0),
       |ccont AS (
       |  SELECT DISTINCT s.doc_id FROM csp s JOIN cbench b USING (span)
       |  WHERE s.doc_id % 97 <> 0),
       |v AS (
       |  SELECT d.source,
       |    CASE WHEN d.doc_id = e.canon THEN 1 ELSE 0 END AS k1,
       |    CASE WHEN d.doc_id = e.canon AND nd.doc_id IS NULL
       |         THEN 1 ELSE 0 END AS k2,
       |    CASE WHEN d.doc_id = e.canon AND nd.doc_id IS NULL
       |          AND qf.f_short = 0 AND qf.f_dup = 0 AND qf.f_bi = 0
       |         THEN 1 ELSE 0 END AS k3,
       |    CASE WHEN d.doc_id = e.canon AND nd.doc_id IS NULL
       |          AND qf.f_short = 0 AND qf.f_dup = 0 AND qf.f_bi = 0
       |          AND d.doc_id % 97 <> 0 AND cc.doc_id IS NULL
       |         THEN 1 ELSE 0 END AS k4
       |  FROM documents d
       |  JOIN exc e ON md5(d.text) = e.sig
       |  LEFT JOIN ndrop nd ON d.doc_id = nd.doc_id
       |  JOIN qf ON d.doc_id = qf.doc_id
       |  LEFT JOIN ccont cc ON d.doc_id = cc.doc_id)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_raw,
       |  CAST(sum(k1) AS BIGINT) AS n_exact,
       |  CAST(sum(k2) AS BIGINT) AS n_neardup,
       |  CAST(sum(k3) AS BIGINT) AS n_quality,
       |  CAST(sum(k4) AS BIGINT) AS n_admitted,
       |  (1000000 * CAST(sum(k4) AS BIGINT)) // CAST(count(*) AS BIGINT) AS admit_ppm
       |FROM v GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    val sig = docs.select(col("doc_id"), col("source"), md5(col("text")).as("sig"))
    val canon = sig.groupBy(col("sig")).agg(min(col("doc_id")).as("canon"))
    val ndrop = nearDupEdges(docs)
      .select(col("b").as("doc_id")).distinct().withColumn("nd", lit(1))
    val qok = graft.operators.TextAnalysis.qualityMetrics(s, dir)
      .select(col("doc_id"),
        (col("f_short") === 0 && col("f_dup") === 0 && col("f_bi") === 0).as("q_ok"))
    val spans = docSpans(docs)
    val bench = spans.filter(col("doc_id") % 97 === 0)
      .select(col("span")).distinct()
    val contam = spans.filter(col("doc_id") % 97 =!= 0)
      .join(broadcast(bench), Seq("span"))
      .select(col("doc_id")).distinct().withColumn("cc", lit(1))
    val k1 = col("doc_id") === col("canon")
    val k2 = k1 && col("nd").isNull
    val k3 = k2 && col("q_ok")
    val k4 = k3 && col("doc_id") % 97 =!= 0 && col("cc").isNull
    sig.join(canon, Seq("sig"))
      .join(ndrop, Seq("doc_id"), "left")
      .join(qok, Seq("doc_id"))
      .join(contam, Seq("doc_id"), "left")
      .select(col("source"),
        k1.cast("long").as("k1"), k2.cast("long").as("k2"),
        k3.cast("long").as("k3"), k4.cast("long").as("k4"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_raw"),
        sum(col("k1")).as("n_exact"),
        sum(col("k2")).as("n_neardup"),
        sum(col("k3")).as("n_quality"),
        sum(col("k4")).as("n_admitted"))
      .withColumn("admit_ppm", expr("(1000000 * n_admitted) div n_raw"))
      .orderBy(col("source"))
  }

  /** q158 — cross-source near-dup overlap matrix: the verified
    * near-dup edges (q32/q37's shared definition) bucketed by the
    * UNORDERED source pair of their endpoints. The dedup-policy
    * report behind "is near-duplication syndication across sources or
    * re-posting within one?" — off-diagonal mass means cross-source
    * canonical-selection rules matter; diagonal mass means per-source
    * dedup already catches most of it.
    *
    * Scale design (100 TB): edges come from the banded LSH path
    * (never all-pairs); attaching sources is two fact-sized equi-joins
    * on doc_id; the matrix aggregate's output is bounded by
    * |sources|², so the reduce side is tiny at any corpus scale. */
  lazy val q158SourceOverlap: QueryDef = QueryDef(
    "q158_source_overlap",
    s"""WITH $mhOracleCte,
       |$lshCandOracleCte,
       |$edgesOracleCte
       |SELECT least(da.source, db.source) AS src_x,
       |  greatest(da.source, db.source) AS src_y,
       |  CAST(count(*) AS BIGINT) AS n_pairs
       |FROM edges e
       |JOIN documents da ON da.doc_id = e.a
       |JOIN documents db ON db.doc_id = e.b
       |GROUP BY 1, 2 ORDER BY src_x, src_y""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    val src = docs.select(col("doc_id"), col("source"))
    nearDupEdges(docs)
      .join(src.select(col("doc_id").as("a"), col("source").as("sa")), Seq("a"))
      .join(src.select(col("doc_id").as("b"), col("source").as("sb")), Seq("b"))
      .select(least(col("sa"), col("sb")).as("src_x"),
        greatest(col("sa"), col("sb")).as("src_y"))
      .groupBy(col("src_x"), col("src_y"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("src_x"), col("src_y"))
  }

  /** q135 — LSH quality evaluation ("measure, don't guess"): on a
    * deterministic 50% document sample, compute the EXACT set of
    * near-dup pairs (shingle-set Jaccard ≥ 0.5 via a set-similarity
    * equi-join — the sample bounds the candidate space at any corpus
    * size) and score the
    * MinHash-LSH candidate generator against it: recall (what
    * fraction of true pairs land in some shared band bucket) and
    * precision (what fraction of sampled candidates are true). This
    * is the audit that decides band/row parameters in production —
    * run inside the engine, on the engine's own pipeline.
    *
    * Sampling is doc_id mod 2 (reproducible from data alone, the
    * q101 contract); truth and candidates are both restricted to the
    * sample so the two sides describe the same population. Truth is
    * SHINGLE-set Jaccard — the measure MinHash actually sketches;
    * scoring the sketch against a different similarity (e.g. token
    * sets) conflates sketch error with measure mismatch. The exact
    * truth is a set-similarity equi-join on the shingle key (complete
    * for J > 0, q34's shape with no DF cap), never an all-pairs
    * scan. */
  lazy val q135LshEval: QueryDef = QueryDef(
    "q135_lsh_eval",
    s"""WITH $mhOracleCte,
       |$lshCandOracleCte,
       |srows AS (SELECT DISTINCT doc_id, shingle FROM sh WHERE doc_id % 2 = 0),
       |$shinglePairsSql,
       |truth AS (
       |  $jaccardTruthSql),
       |sc AS (SELECT a, b FROM cand WHERE a % 2 = 0 AND b % 2 = 0),
       |hit AS (SELECT t.a, t.b FROM truth t JOIN sc ON t.a = sc.a AND t.b = sc.b),
       |m AS (
       |  SELECT (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_truth,
       |    (SELECT CAST(count(*) AS BIGINT) FROM sc) AS n_candidates,
       |    (SELECT CAST(count(*) AS BIGINT) FROM hit) AS n_hit)
       |SELECT n_truth, n_candidates, n_hit,
       |  CASE WHEN n_truth > 0 THEN (1000000 * n_hit) // n_truth END AS recall_ppm,
       |  CASE WHEN n_candidates > 0 THEN (1000000 * n_hit) // n_candidates END AS precision_ppm
       |FROM m""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    val srows = shingles(docs.filter(col("doc_id") % 2 === 0))
      .select(col("doc_id"), col("shingle")).distinct()
      .ckpt() // sizes + both sides of the shingle join
    val truth = jaccardTruth(srows)
      .ckpt() // counted AND semi-joined below
    val sc = candidatePairs(docs)
      .filter(col("a") % 2 === 0 && col("b") % 2 === 0)
      .ckpt()
    val hit = truth.join(sc, Seq("a", "b"), "left_semi")
    truth.agg(count(lit(1)).as("n_truth"))
      .crossJoin(sc.agg(count(lit(1)).as("n_candidates")))
      .crossJoin(hit.agg(count(lit(1)).as("n_hit")))
      .select(col("n_truth"), col("n_candidates"), col("n_hit"),
        when(col("n_truth") > 0,
          expr("(1000000 * n_hit) div n_truth")).as("recall_ppm"),
        when(col("n_candidates") > 0,
          expr("(1000000 * n_hit) div n_candidates")).as("precision_ppm"))
  }

  /** q128 — keep-BEST representative selection: within each
    * exact-duplicate cluster (q30's bag-of-words signature), keep the
    * highest-quality member (longest text, smallest doc_id on ties)
    * rather than q38's keep-smallest — the production curation rule
    * when duplicates differ in truncation/extraction quality, with a
    * per-source audit of what survived.
    *
    * Scale design: one shuffle on the signature for the per-cluster
    * rank (clusters are small by nature; a pathological giant cluster
    * is exactly what the q15 TopKPerKey operator bounds), then a
    * plain per-source aggregate. */
  lazy val q128KeepBest: QueryDef = QueryDef(
    "q128_keep_best",
    """WITH sig AS (
      |  SELECT doc_id, source, n_chars,
      |    md5(array_to_string(list_sort(list_distinct(string_split(text,' '))), ' ')) AS signature
      |  FROM documents),
      |r AS (
      |  SELECT doc_id, source, n_chars,
      |    row_number() OVER (PARTITION BY signature ORDER BY n_chars DESC, doc_id) AS rn
      |  FROM sig)
      |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(count(CASE WHEN rn = 1 THEN 1 END) AS BIGINT) AS n_kept,
      |  CAST(count(CASE WHEN rn > 1 THEN 1 END) AS BIGINT) AS n_dropped,
      |  CAST(sum(CASE WHEN rn = 1 THEN n_chars END) AS BIGINT) AS kept_chars
      |FROM r GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("signature"))
      .orderBy(col("n_chars").desc, col("doc_id"))
    Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), col("n_chars"), signature.as("signature"))
      .withColumn("rn", row_number().over(w))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        count(when(col("rn") === 1, 1)).as("n_kept"),
        count(when(col("rn") > 1, 1)).as("n_dropped"),
        sum(when(col("rn") === 1, col("n_chars"))).as("kept_chars"))
      .orderBy("source")
  }

  /** Document-frequency cap for the containment span-join key — the
    * q34 [[NGRAM_DF_CAP]] guard transposed to 8-word spans: a
    * boilerplate span (site chrome, license headers) shared by df docs
    * puts df·(df−1)/2 candidate pairs on one shuffle key. Keys above
    * the cap are dropped before the join; exact while no key exceeds
    * it (sf0.01 max span-df is 3), and at corpus scale a documented
    * strict underestimate of `inter` on boilerplate-only overlaps —
    * which are exactly the pairs containment dedup should NOT fire on. */
  private[graft] final val SPAN_DF_CAP = 1000

  /** q162 — asymmetric containment dedup: directed pairs where ≥80%
    * of the SMALLER document's distinct 8-word spans also occur in the
    * larger one (Broder's containment C(A,B) = |S(A)∩S(B)| / |S(A)|).
    * This is the subsumption case symmetric Jaccard (q34) structurally
    * misses: a short doc quoted whole inside a much longer one has
    * tiny Jaccard (union ≈ the big doc) but containment ≈ 1, and the
    * right dedup action is dropping the contained copy. Output is the
    * directed audit: (contained, container, set sizes, shared spans,
    * containment ppm).
    *
    * Exactness: containment is an exact integer ratio (shared-span
    * count over span-set size) → ppm floor-div; direction is chosen by
    * smaller span-set size with doc-id tiebreak, both deterministic.
    * Span sets use the q69 8-word shingle definition, spans compacted
    * to xxhash64 longs for the self-join (the q34 key-compaction
    * contract: fixed-width shuffle keys; collision odds ~1e-11 at this
    * vocabulary, and the oracle gate would catch one).
    *
    * Scale design (100 TB): same set-similarity equi-join shape as q34
    * — only pairs sharing ≥1 surviving span materialize, counted by a
    * map-side-combinable aggregate, never a quadratic block join; the
    * [[SPAN_DF_CAP]] bounds any one join key's fan-out; denominators
    * come from the pre-cap per-doc sizes so the cap only ever
    * underestimates overlap. Text leaves the scan as hashes. */
  lazy val q162Containment: QueryDef = QueryDef(
    "q162_containment",
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |sp AS (
       |  SELECT DISTINCT doc_id, array_to_string(toks[i:i+7], ' ') AS span
       |  FROM w, unnest(range(1, len(toks) - 6)) AS t(i)
       |  WHERE len(toks) >= 8),
       |ok AS (SELECT span FROM sp GROUP BY span HAVING count(*) <= $SPAN_DF_CAP),
       |spc AS (SELECT sp.doc_id, sp.span FROM sp JOIN ok USING (span)),
       |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sp GROUP BY doc_id),
       |pr AS (
       |  SELECT a.doc_id AS a, b.doc_id AS b, CAST(count(*) AS BIGINT) AS inter
       |  FROM spc a JOIN spc b ON a.span = b.span AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |d AS (
       |  SELECT CASE WHEN sa.n <= sb.n THEN pr.a ELSE pr.b END AS contained,
       |         CASE WHEN sa.n <= sb.n THEN pr.b ELSE pr.a END AS container,
       |         least(sa.n, sb.n) AS n_contained,
       |         greatest(sa.n, sb.n) AS n_container, inter
       |  FROM pr JOIN sz sa ON pr.a = sa.doc_id JOIN sz sb ON pr.b = sb.doc_id)
       |SELECT contained, container, n_contained, n_container, inter,
       |  (1000000 * inter) // n_contained AS cont_ppm
       |FROM d WHERE 10 * inter >= 8 * n_contained
       |ORDER BY contained, container""".stripMargin) { (s, dir) =>
    val sp = docSpans(Tables.documents(s, dir))
      .select(col("doc_id"), xxhash64(col("span")).as("kh"))
      .distinct()
    val sz = sp.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val hot = sp.groupBy(col("kh")).agg(count(lit(1)).as("df"))
      .filter(col("df") > SPAN_DF_CAP).select(col("kh"))
    val pruned = sp.join(broadcast(hot), Seq("kh"), "left_anti")
    val inter = pruned.select(col("doc_id").as("a"), col("kh"))
      .join(pruned.select(col("doc_id").as("b"), col("kh").as("khb")),
        col("kh") === col("khb") && col("a") < col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("inter"))
    inter
      .join(sz.select(col("doc_id").as("a"), col("n").as("na")), Seq("a"))
      .join(sz.select(col("doc_id").as("b"), col("n").as("nb")), Seq("b"))
      .select(
        when(col("na") <= col("nb"), col("a")).otherwise(col("b")).as("contained"),
        when(col("na") <= col("nb"), col("b")).otherwise(col("a")).as("container"),
        least(col("na"), col("nb")).as("n_contained"),
        greatest(col("na"), col("nb")).as("n_container"),
        col("inter"))
      .filter(col("inter") * 10 >= col("n_contained") * 8)
      .withColumn("cont_ppm", expr("(1000000 * inter) div nullif(n_contained, 0)"))
      .orderBy(col("contained"), col("container"))
  }
}
