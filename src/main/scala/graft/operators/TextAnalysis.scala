package graft.operators

import graft.CkptOps

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators over the `documents` table — the LLM-data-
  * pipeline battery (SURVEY.md §7.2 Phase 3): token counting, quality
  * scoring, n-gram language identification, and document fingerprinting.
  *
  * Scale design (100 TB):
  *  - every per-document metric is a codegen'd built-in expression over
  *    one scan — no UDFs, no collect, no driver loop;
  *  - lang-id trains per-language trigram profiles with a partial-
  *    aggregable groupBy (shuffle carries (lang, gram, count) partials,
  *    not raw trigrams) and the resulting profile — bounded at
  *    langs × 200 rows — is broadcast to score the test side, so the
  *    big side never shuffles;
  *  - determinism: ratios derive from exact integer counts (integer
  *    `div` for bucketing, one final IEEE division for display), ties in
  *    every window are broken by a unique column.
  */
object TextAnalysis {

  private val wsTokens: Column = split(col("text"), "\\s+")
  /** BPE-ish pre-tokenizer: letter runs, digit runs, single symbols. */
  private val reTokenPat = "[a-z]+|[0-9]+|[^a-z0-9\\s]"

  /** Token counting — whitespace tokens + regex pre-tokenizer counts. */
  val q20TokenStats: QueryDef = QueryDef(
    "q20_token_stats",
    """SELECT lang, count(*) AS n_docs,
      |  CAST(sum(len(string_split_regex(text, '\s+'))) AS BIGINT) AS total_ws_tokens,
      |  CAST(sum(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]'))) AS BIGINT) AS total_re_tokens,
      |  CAST(sum(len(string_split_regex(text, '\s+'))) AS DOUBLE) / count(*) AS avg_tokens
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
    Tables.documents(s, dir)
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(size(wsTokens)).as("total_ws_tokens"),
        sum(regexp_count(col("text"), lit(reTokenPat))).as("total_re_tokens"),
        (sum(size(wsTokens)).cast("double") / count(lit(1))).as("avg_tokens"))
      .orderBy("lang")
  }

  private val stopwords = Seq("the", "a", "of", "and", "to", "in", "is")

  /** Quality scoring — stopword-ratio decile buckets + type/token ratio.
    * Buckets use exact integer division so the cut is bit-stable; the
    * TTR is a single final division of exact integer sums. */
  val q21Quality: QueryDef = QueryDef(
    "q21_quality",
    """WITH m AS (
      |  SELECT doc_id, lang,
      |    len(string_split(text, ' ')) AS n_tok,
      |    len(list_filter(string_split(text, ' '), t -> t IN ('the','a','of','and','to','in','is'))) AS n_stop,
      |    len(list_distinct(string_split(text, ' '))) AS n_types
      |  FROM documents)
      |SELECT lang, (10*n_stop) // n_tok AS stop_decile, count(*) AS n,
      |  CAST(sum(n_types) AS DOUBLE)/sum(n_tok) AS ttr
      |FROM m GROUP BY 1,2 ORDER BY 1,2""".stripMargin) { (s, dir) =>
    val toks = split(col("text"), " ")
    val m = Tables.documents(s, dir).select(
      col("lang"),
      size(toks).as("n_tok"),
      size(filter(toks, t => t.isInCollection(stopwords))).as("n_stop"),
      size(array_distinct(toks)).as("n_types"))
    m.groupBy(col("lang"), expr("(10*n_stop) div n_tok").as("stop_decile"))
      .agg(
        count(lit(1)).as("n"),
        (sum(col("n_types")).cast("double") / sum(col("n_tok"))).as("ttr"))
      .orderBy("lang", "stop_decile")
  }

  /** Language ID — character-trigram profiles trained on an 80% split
    * of the labeled docs (doc_id % 5 < 4), scored on the held-out 20%:
    * profile = top-200 trigrams per language; prediction = argmax of
    * profile hits over the test doc's distinct trigrams. Output is the
    * confusion matrix. Profile is broadcast (bounded: 5 langs × 200). */
  /** Shared lang-id confusion-matrix build (q22 ships it raw; q168
    * reads it as the metrics input). Memoized via [[FrameCache]]
    * exactly like the graph family's edge builds: the corpus
    * char-trigram explosion + profile scoring is the expensive pass,
    * and both queries derive the SAME bounded ≤(|langs|+1)² frame —
    * without memoization each pays the full corpus cost in one
    * Verify/Bench JVM (q168 was the r7 bench ceiling at 6.1 s, ~5 s
    * of it a rebuild of q22's pass). Audit mode bypasses the cache so
    * PlanSweepSpec still records the full lineage. */
  private def langIdConfusion(s: SparkSession, dir: String): DataFrame =
    graft.FrameCache.getOrBuild(s, s"langid-cm:$dir") {
      val docs = Tables.documents(s, dir)
      val grams = docs
        .repartition(col("doc_id")) // single-file scan -> use every core
        .filter(length(col("text")) >= 3)
        .select(
          col("doc_id"), col("lang"),
          // native one-pass expression: a substr(i,3) lambda re-scans the
          // string per index (O(len^2)/doc on variable-width UTF-8)
          explode(expr("char_ngrams(text, 3)")).as("g"))
      // grams NOT checkpointed: the profile/test sides do re-derive the
      // trigram explosion, but materializing ~5M exploded rows costs
      // more than the recompute (measured 1.4s -> 1.9s at sf0.1)
      val profW = Window.partitionBy(col("lang"))
        .orderBy(col("c").desc, col("g"))
      val prof = grams.filter(col("doc_id") % 5 < 4)
        .groupBy(col("lang"), col("g")).agg(count(lit(1)).as("c"))
        .withColumn("rn", row_number().over(profW))
        .filter(col("rn") <= 200)
        .select(col("lang").as("cand"), col("g"))
      val test = grams.filter(col("doc_id") % 5 === 4)
        .select(col("doc_id"), col("g")).distinct()
      val scores = test.join(broadcast(prof), Seq("g"))
        .groupBy(col("doc_id"), col("cand")).agg(count(lit(1)).as("hits"))
      val bestW = Window.partitionBy(col("doc_id"))
        .orderBy(col("hits").desc, col("cand"))
      val best = scores.withColumn("rn", row_number().over(bestW))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("cand").as("pred"))
      docs.filter(col("doc_id") % 5 === 4).select(col("doc_id"), col("lang"))
        .join(best, Seq("doc_id"), "left")
        .groupBy(col("lang").as("actual"), coalesce(col("pred"), lit("unknown")).as("pred"))
        .agg(count(lit(1)).as("n"))
        .ckpt() // bounded (|langs|+1)^2 frame; one derivation per JVM
    }

  val q22LangId: QueryDef = QueryDef(
    "q22_langid",
    """WITH grams AS (
      |  SELECT doc_id, lang, substr(text, CAST(i AS INT), 3) AS g
      |  FROM documents, unnest(range(1, len(text)-1)) AS t(i)
      |  WHERE len(text) >= 3),
      |prof AS (
      |  SELECT lang, g FROM (
      |    SELECT lang, g, row_number() OVER (PARTITION BY lang ORDER BY count(*) DESC, g) AS rn
      |    FROM grams WHERE doc_id % 5 < 4 GROUP BY lang, g) WHERE rn <= 200),
      |test AS (SELECT DISTINCT doc_id, g FROM grams WHERE doc_id % 5 = 4),
      |scores AS (
      |  SELECT t.doc_id, p.lang AS cand, count(*) AS hits
      |  FROM test t JOIN prof p ON t.g = p.g GROUP BY t.doc_id, p.lang),
      |best AS (
      |  SELECT doc_id, cand AS pred FROM (
      |    SELECT doc_id, cand, row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, cand) AS rn
      |    FROM scores) WHERE rn = 1)
      |SELECT d.lang AS actual, coalesce(b.pred, 'unknown') AS pred, count(*) AS n
      |FROM (SELECT doc_id, lang FROM documents WHERE doc_id % 5 = 4) d
      |LEFT JOIN best b USING (doc_id)
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
    langIdConfusion(s, dir).orderBy("actual", "pred")
  }

  /** Document fingerprinting — md5 of whitespace-normalized text, used
    * for content-addressed dedup/lineage at the source level. */
  val q23Fingerprint: QueryDef = QueryDef(
    "q23_fingerprint",
    """SELECT source, count(*) AS n_docs,
      |  count(DISTINCT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))) AS n_fp,
      |  min(md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))) AS min_fp
      |FROM documents GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
    val fp = md5(regexp_replace(lower(trim(col("text"))), "\\s+", " "))
    Tables.documents(s, dir)
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(fp).as("n_fp"),
        min(fp).as("min_fp"))
      .orderBy("source")
  }

  /** Rabin–Karp rolling-hash fingerprints via the native codegen'd
    * [[graft.functions.RollingHash]] expression — the 8-byte
    * fingerprint primitive for winnowing-style near-dup pipelines
    * (cheaper to shuffle than 32-byte md5 hex). ORACLE-GATED: the
    * polynomial hash ((h·31 + byte) mod 1e9+7 over UTF-8 bytes) is
    * replayed in DuckDB with a list_reduce over codepoints — exact
    * because the corpus is ASCII (byte == codepoint; the oracle would
    * need a byte extractor otherwise), which pins the codegen'd loop
    * against an independent implementation on every doc in the table. */
  val q24RollingHash: QueryDef = QueryDef(
    "q24_rolling_hash",
    """WITH f AS (
      |  SELECT source,
      |    list_reduce(
      |      list_prepend(CAST(0 AS BIGINT),
      |        list_transform(range(1, length(text) + 1),
      |                       i -> CAST(ord(substring(text, i, 1)) AS BIGINT))),
      |      (a, b) -> (a * 31 + b) % 1000000007) AS fp
      |  FROM documents)
      |SELECT source, count(*) AS n_docs, count(DISTINCT fp) AS n_fp,
      |  min(fp) AS min_fp, max(fp) AS max_fp
      |FROM f GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
    Tables.documents(s, dir)
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(expr("rolling_hash(text)")).as("n_fp"),
        min(expr("rolling_hash(text)")).as("min_fp"),
        max(expr("rolling_hash(text)")).as("max_fp"))
      .orderBy("source")
  }

  /** TF-IDF top terms — tf from the per-doc token explosion, df over
    * the FULL corpus, score = tf·N/df (two IEEE ops on exactly-
    * representable ints → bit-identical in any engine; a log-idf would
    * couple the oracle to libm). Top-3 terms for the doc_id<20 sample.
    *
    * Scale shape: one explosion → per-(doc,term) counts (map-side
    * combine) → df is a second partial agg over the tf table (shuffle
    * carries (term, count) partials) → the small sample side joins df
    * on term; the corpus-wide vocabulary never broadcasts. */
  val q25Tfidf: QueryDef = QueryDef(
    "q25_tfidf",
    """WITH tf AS (
      |  SELECT doc_id, tok, count(*) AS tf
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
      |  GROUP BY doc_id, tok),
      |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
      |n AS (SELECT count(*) AS nd FROM documents),
      |scored AS (
      |  SELECT tf.doc_id, tf.tok, CAST(tf.tf * n.nd AS DOUBLE) / df.df AS score
      |  FROM tf JOIN df USING (tok) CROSS JOIN n
      |  WHERE tf.doc_id < 20),
      |r AS (
      |  SELECT doc_id, tok, score,
      |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, tok) AS rn
      |  FROM scored)
      |SELECT doc_id, CAST(rn AS INT) AS rn, tok, score FROM r WHERE rn <= 3
      |ORDER BY doc_id, rn""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir).repartition(col("doc_id"))
    val tf = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val nd = docs.agg(count(lit(1)).as("nd"))
    val scored = tf.filter(col("doc_id") < 20)
      .join(df, Seq("tok"))
      .crossJoin(broadcast(nd))
      .select(col("doc_id"), col("tok"),
        ((col("tf") * col("nd")).cast("double") / col("df")).as("score"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("tok"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("doc_id"), col("rn").cast("int").as("rn"), col("tok"), col("score"))
      .orderBy("doc_id", "rn")
  }

  /** Email / phone patterns shared by the Spark plan and the oracle —
    * restricted to syntax RE2 (DuckDB) and java.util.regex (Spark)
    * interpret identically (no lookaround, no backrefs). */
  private val emailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private val phoneRe = "\\+1-555-[0-9]{4}"

  /** PII redaction — the scrub pass a training corpus needs before
    * anything else. The synthetic docs are PII-free, so both engines
    * deterministically append the same synthetic email + phone per doc
    * and the oracle verifies real redaction work (match counts and
    * exact post-redaction length deltas), not a vacuous no-op. */
  val q26PiiRedact: QueryDef = QueryDef(
    "q26_pii_redact",
    s"""WITH aug AS (
       |  SELECT doc_id, lang,
       |    text || ' contact user' || CAST(doc_id AS VARCHAR) ||
       |    '@mail.example.com or +1-555-' || CAST(1000 + doc_id % 9000 AS VARCHAR) AS t
       |  FROM documents),
       |red AS (
       |  SELECT lang,
       |    len(regexp_extract_all(t, '$emailRe')) AS n_email,
       |    len(regexp_extract_all(t, '$phoneRe')) AS n_phone,
       |    len(t) - len(regexp_replace(regexp_replace(t, '$emailRe', '<EMAIL>', 'g'),
       |                                '$phoneRe', '<PHONE>', 'g')) AS chars_removed
       |  FROM aug)
       |SELECT lang, count(*) AS n_docs,
       |  CAST(sum(n_email) AS BIGINT) AS n_email,
       |  CAST(sum(n_phone) AS BIGINT) AS n_phone,
       |  CAST(sum(chars_removed) AS BIGINT) AS chars_removed
       |FROM red GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
    val t = concat(
      col("text"), lit(" contact user"), col("doc_id").cast("string"),
      lit("@mail.example.com or +1-555-"), (lit(1000) + col("doc_id") % 9000).cast("string"))
    val redacted = regexp_replace(
      regexp_replace(col("t"), lit(emailRe), lit("<EMAIL>")),
      lit(phoneRe), lit("<PHONE>"))
    Tables.documents(s, dir)
      .select(col("lang"), t.as("t"))
      .select(col("lang"),
        regexp_count(col("t"), lit(emailRe)).as("n_email"),
        regexp_count(col("t"), lit(phoneRe)).as("n_phone"),
        (length(col("t")) - length(redacted)).as("chars_removed"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_email")).as("n_email"),
        sum(col("n_phone")).as("n_phone"),
        sum(col("chars_removed")).as("chars_removed"))
      .orderBy("lang")
  }

  /** Repetition ratio (the Gopher-style quality signal): fraction of
    * word-3-grams that are duplicates of an earlier 3-gram in the same
    * doc. All ratios are single IEEE divisions of exact integer counts
    * — bit-identical across engines. 3-grams via zip_with over shifted
    * slices (one split per row; an element_at lambda would re-split the
    * text per element). */
  val q27Repetition: QueryDef = QueryDef(
    "q27_repetition",
    """WITH m AS (
      |  SELECT doc_id, lang,
      |    len(string_split(text,' ')) - 2 AS n_tri,
      |    len(list_distinct(list_transform(range(1, len(string_split(text,' ')) - 1),
      |      i -> string_split(text,' ')[CAST(i AS INT)] || ' ' ||
      |           string_split(text,' ')[CAST(i AS INT)+1] || ' ' ||
      |           string_split(text,' ')[CAST(i AS INT)+2]))) AS n_uniq
      |  FROM documents WHERE len(string_split(text,' ')) >= 3)
      |SELECT lang, count(*) AS n_docs,
      |  CAST(sum(n_tri - n_uniq) AS BIGINT) AS n_dup,
      |  CAST(sum(n_tri) AS BIGINT) AS n_tri,
      |  CAST(sum(n_tri - n_uniq) AS DOUBLE) / sum(n_tri) AS dup_ratio,
      |  max(CAST(n_tri - n_uniq AS DOUBLE) / n_tri) AS max_doc_ratio
      |FROM m GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
    val t = col("t")
    val n = size(t)
    val tris = array_distinct(
      zip_with(
        zip_with(
          slice(t, lit(1), n - 2),
          slice(t, lit(2), n - 2),
          (x, y) => concat(x, lit(" "), y)),
        slice(t, lit(3), n - 2),
        (xy, z) => concat(xy, lit(" "), z)))
    val m = Tables.documents(s, dir)
      .repartition(col("doc_id")) // single-file scan -> use every core
      .select(col("doc_id"), col("lang"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= 3)
      .select(col("lang"), (n - 2).as("n_tri"), size(tris).as("n_uniq"))
    m.groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tri") - col("n_uniq")).as("n_dup"),
        sum(col("n_tri")).as("n_tri"),
        (sum(col("n_tri") - col("n_uniq")).cast("double") / sum(col("n_tri"))).as("dup_ratio"),
        max((col("n_tri") - col("n_uniq")).cast("double") / col("n_tri")).as("max_doc_ratio"))
      .orderBy("lang")
  }

  /** Deterministic stratified sampling — the corpus-downsampling pass.
    * Membership is a pure function of content identity (md5 hex-char
    * parity buckets), not a RNG: any engine, any partitioning, any
    * re-run selects the identical sample — the reproducibility property
    * a training-data pipeline needs from its sampler. ~20% per stratum
    * via bucket < 2 of 10. */
  val q28Sample: QueryDef = QueryDef(
    "q28_sample",
    """WITH s AS (
      |  SELECT doc_id, lang,
      |    (ascii(substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) +
      |     ascii(substr(md5(CAST(doc_id AS VARCHAR)), 2, 1))) % 10 AS bucket
      |  FROM documents)
      |SELECT lang, count(*) AS n_docs,
      |  count(CASE WHEN bucket < 2 THEN 1 END) AS n_sampled,
      |  min(CASE WHEN bucket < 2 THEN doc_id END) AS first_sampled
      |FROM s GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
    val bucket = (ascii(substring(md5(col("doc_id").cast("string")), 1, 1)) +
      ascii(substring(md5(col("doc_id").cast("string")), 2, 1))) % 10
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), bucket.as("bucket"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        count(when(col("bucket") < 2, 1)).as("n_sampled"),
        min(when(col("bucket") < 2, col("doc_id"))).as("first_sampled"))
      .orderBy("lang")
  }

  /** Domain mixture weighting — the corpus-curation step that turns
    * per-source token inventories into sampling rates: every source
    * gets a uniform share of the total token budget, oversized
    * sources are downsampled to their share, undersized sources keep
    * everything (rate capped at 1000‰). The DoReMi/Pile-style
    * "mixture weights" computation, on exact integer arithmetic so
    * the oracle matches bit-for-bit.
    *
    * Scale: one partial-aggregable pass builds the per-source
    * inventory; the global budget is a single broadcast row. The rate
    * table this emits is what [[q28Sample]]-style deterministic
    * samplers consume downstream. */
  val q74Mixture: QueryDef = QueryDef(
    "q74_mixture",
    """WITH t AS (
      |  SELECT source, count(*) AS n_docs,
      |    CAST(sum(len(string_split_regex(text, '\s+'))) AS BIGINT) AS toks
      |  FROM documents GROUP BY source),
      |tot AS (SELECT CAST(sum(toks) AS BIGINT) AS total, count(*) AS n_src FROM t)
      |SELECT source, n_docs, toks,
      |  least(1000, (1000 * (total // n_src)) // toks) AS rate_permille,
      |  (toks * least(1000, (1000 * (total // n_src)) // toks)) // 1000 AS exp_toks
      |FROM t, tot ORDER BY source""".stripMargin) { (s, dir) =>
    val t = Tables.documents(s, dir)
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), "\\s+"))).as("toks"))
    val tot = t.agg(sum(col("toks")).as("total"), count(lit(1)).as("n_src"))
    t.crossJoin(broadcast(tot))
      .withColumn("rate_permille",
        least(lit(1000), expr("(1000 * (total div n_src)) div toks")))
      .withColumn("exp_toks", expr("(toks * rate_permille) div 1000"))
      .select(col("source"), col("n_docs"), col("toks"),
        col("rate_permille"), col("exp_toks"))
      .orderBy("source")
  }

  /** Per-source distribution divergence — the corpus-curation signal
    * behind mixture tuning ([[q74Mixture]]) and outlier-source
    * detection: token-distribution entropy H(source) and
    * KL(source ‖ corpus).
    *
    * Determinism: a float SUM over tokens would be order-dependent,
    * so each per-token term p·ln(p/q) is floored to integer nano-nats
    * and summed as BIGINTs (the [[Similarity.q73Pq]] error-sum
    * pattern) — order-free. Residual assumption, unlike q73's
    * purely-rational arithmetic: ln must agree between JVM Math.log
    * (1-ulp spec) and DuckDB's libm log for the gate inputs — it does
    * on the verification corpus (every term checked via the hash
    * gate), and a 1-ulp disagreement only matters in the ~1e-7
    * neighborhood of a floor boundary.
    *
    * Scale: two partial-aggregable count passes (per-source-token and
    * global-token) joined on the token, then one per-source rollup —
    * the corpus text itself never shuffles, only (token, count)
    * partials. */
  val q83Divergence: QueryDef = QueryDef(
    "q83_divergence",
    """WITH tok AS (
      |  SELECT source, unnest(string_split(text, ' ')) AS t FROM documents),
      |st AS (SELECT source, t, count(*) AS cnt FROM tok GROUP BY 1, 2),
      |stot AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS n FROM st GROUP BY 1),
      |gt AS (SELECT t, CAST(sum(cnt) AS BIGINT) AS gcnt FROM st GROUP BY 1),
      |gtot AS (SELECT CAST(sum(gcnt) AS BIGINT) AS g FROM gt),
      |terms AS (
      |  SELECT st.source,
      |    CAST(floor(1000000000.0 * (-((CAST(st.cnt AS DOUBLE) / CAST(stot.n AS DOUBLE)) * ln(CAST(st.cnt AS DOUBLE) / CAST(stot.n AS DOUBLE))))) AS BIGINT) AS ent_nn,
      |    CAST(floor(1000000000.0 * ((CAST(st.cnt AS DOUBLE) / CAST(stot.n AS DOUBLE)) * ln((CAST(st.cnt AS DOUBLE) / CAST(stot.n AS DOUBLE)) / (CAST(gt.gcnt AS DOUBLE) / CAST(gtot.g AS DOUBLE))))) AS BIGINT) AS kl_nn
      |  FROM st JOIN stot ON st.source = stot.source
      |  JOIN gt ON st.t = gt.t CROSS JOIN gtot)
      |SELECT source, CAST(sum(ent_nn) AS BIGINT) AS entropy_nanonats,
      |  CAST(sum(kl_nn) AS BIGINT) AS kl_nanonats
      |FROM terms GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
    val tok = Tables.documents(s, dir)
      .select(col("source"), explode(split(col("text"), " ")).as("t"))
    val st = tok.groupBy(col("source"), col("t")).agg(count(lit(1)).as("cnt"))
      .ckpt() // feeds stot, gt, and the term join
    val stot = st.groupBy(col("source")).agg(sum(col("cnt")).as("n"))
    val gt = st.groupBy(col("t")).agg(sum(col("cnt")).as("gcnt"))
    val gtot = gt.agg(sum(col("gcnt")).as("g"))
    val p = col("cnt").cast("double") / col("n").cast("double")
    val q = col("gcnt").cast("double") / col("g").cast("double")
    st.join(broadcast(stot), Seq("source"))
      .join(gt, Seq("t"))
      .crossJoin(broadcast(gtot))
      .select(col("source"),
        floor(lit(1000000000.0) * (-(p * log(p)))).as("ent_nn"),
        floor(lit(1000000000.0) * (p * log(p / q))).as("kl_nn"))
      .groupBy(col("source"))
      .agg(
        sum(col("ent_nn")).as("entropy_nanonats"),
        sum(col("kl_nn")).as("kl_nanonats"))
      .orderBy("source")
  }

  /** Weighted sampling without replacement (q89) — the
    * Efraimidis–Spirakis one-pass reservoir scheme (key = u^(1/w),
    * keep the top-k keys), here drawing a 5-doc length-proportional
    * sample per language: exactly how a mixture pipeline draws more
    * from longer documents without a second weighing pass.
    *
    * Deterministic twin of the classic randomized algorithm: u comes
    * from the engine-portable 60-bit md5 prefix of doc_id mapped to
    * (0,1), so both engines draw the IDENTICAL sample. The selection
    * key is ln(u)/w floored to integer nano-nats (the q83 trick): the
    * cross-engine assumption is only that ln agrees to 1e-9 relative —
    * a last-ulp ln flip would need two candidates within one nano-nat
    * AT the rank-k boundary to change the output. Top-k per group is
    * the row_number+filter idiom, which [[graft.plans.RowNumberTopKRewrite]]
    * rewrites to the bounded-heap native operator — no per-group sort
    * at scale. */
  val q89WeightedSample: QueryDef = QueryDef(
    "q89_weighted_sample",
    """WITH w AS (
      |  SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tokens,
      |    ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
      |  FROM documents),
      |k AS (
      |  SELECT lang, doc_id, n_tokens,
      |    CAST(floor(1000000000.0 * ln((CAST(h AS DOUBLE) + 0.5) / 1152921504606846976.0)
      |         / CAST(n_tokens AS DOUBLE)) AS BIGINT) AS key_nn
      |  FROM w),
      |r AS (
      |  SELECT lang, doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
      |    CAST(row_number() OVER (PARTITION BY lang ORDER BY key_nn DESC, doc_id) AS BIGINT) AS rn
      |  FROM k)
      |SELECT lang, doc_id, n_tokens, rn FROM r WHERE rn <= 5
      |ORDER BY lang, rn""".stripMargin) { (s, dir) =>
    val HMAX = 1152921504606846976L // 2^60
    val u = (conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
      .cast("long").cast("double") + lit(0.5)) / lit(HMAX.toDouble)
    Tables.documents(s, dir)
      .select(col("lang"), col("doc_id"),
        size(split(col("text"), " ")).as("n_tokens"))
      .withColumn("key_nn",
        floor(lit(1000000000.0) * log(u) / col("n_tokens").cast("double")).cast("long"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("lang")).orderBy(col("key_nn").desc, col("doc_id"))))
      .filter(col("rn") <= 5)
      .select(col("lang"), col("doc_id"),
        col("n_tokens").cast("long").as("n_tokens"),
        col("rn").cast("long").as("rn"))
      .orderBy("lang", "rn")
  }

  /** Sliding-window chunking (q90) — split every document into
    * overlapping token windows (64 tokens, stride 48), the standard
    * context-window preparation for embedding/RAG indexing and the
    * complement of q87's packing (packing fills a budget with whole
    * short docs; chunking cuts long docs down to the budget).
    *
    * Embarrassingly parallel — one `sequence`+`explode` per document,
    * no shuffle until the output sort; output size is linear in corpus
    * tokens (×4/3 overlap factor), never quadratic. The md5 of each
    * chunk's re-joined text pins the slicing itself (an off-by-one in
    * either engine's window arithmetic changes the fingerprint). */
  val q90Chunking: QueryDef = {
    val C = 64 // window (tokens)
    val S = 48 // stride: 16-token overlap between neighbors
    QueryDef(
      "q90_chunking",
      s"""WITH t AS (
         |  SELECT doc_id, string_split(text, ' ') AS toks,
         |    len(string_split(text, ' ')) AS n FROM documents),
         |c AS (
         |  SELECT doc_id, unnest(generate_series(1, n, $S)) AS start_tok, toks, n
         |  FROM t)
         |SELECT doc_id,
         |  CAST((start_tok - 1) // $S AS BIGINT) AS chunk_idx,
         |  CAST(start_tok AS BIGINT) AS start_tok,
         |  CAST(least(start_tok + ${C - 1}, n) - start_tok + 1 AS BIGINT) AS n_tok_chunk,
         |  md5(array_to_string(toks[start_tok : least(start_tok + ${C - 1}, n)], ' ')) AS chunk_md5
         |FROM c ORDER BY doc_id, chunk_idx""".stripMargin) { (s, dir) =>
      val toks = col("toks")
      Tables.documents(s, dir)
        .repartition(col("doc_id")) // single-file scan -> use every core
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .withColumn("n", size(toks))
        .select(col("doc_id"), toks, col("n"),
          explode(sequence(lit(1), col("n"), lit(S))).as("start_tok"))
        .select(
          col("doc_id"),
          // `div`, not `/`: Spark's `/` coerces to double
          expr(s"(start_tok - 1) div $S").cast("long").as("chunk_idx"),
          col("start_tok").cast("long").as("start_tok"),
          (least(col("start_tok") + (C - 1), col("n")) - col("start_tok") + 1)
            .cast("long").as("n_tok_chunk"),
          md5(array_join(
            slice(toks, col("start_tok"),
              least(col("start_tok") + (C - 1), col("n")) - col("start_tok") + 1),
            " ")).as("chunk_md5"))
        .orderBy("doc_id", "chunk_idx")
    }
  }

  /** Unigram log-probability quality scoring (q91) — the perplexity
    * filter every LM-data pipeline runs (score each document under a
    * language model of the corpus; surface the most surprising docs),
    * in its unigram edition: mean token log-prob under the corpus
    * unigram distribution, lowest 20 documents out.
    *
    * Two shuffles at any scale: one to build the vocabulary counts
    * (an equi-join back to the token stream — NOT a broadcast, the
    * vocab of a 100 TB corpus doesn't fit an executor), one for the
    * per-document sum. Each per-token term ln(cnt/N) is floored to
    * integer nano-nats (the q83 trick) so the per-doc sums are exact
    * integers under any partitioning/order; the final mean is ONE
    * double division of two exact integers — bit-identical in any
    * IEEE engine. */
  val q91DocLogprob: QueryDef = QueryDef(
    "q91_doc_logprob",
    """WITH tok AS (
      |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS t FROM documents),
      |v AS (SELECT t, count(*) AS cnt FROM tok GROUP BY t),
      |tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS n_total FROM v),
      |term AS (
      |  SELECT doc_id, lang,
      |    CAST(floor(1000000000.0 * ln(CAST(cnt AS DOUBLE) / n_total)) AS BIGINT) AS lp_nn
      |  FROM tok JOIN v USING (t), tot),
      |d AS (
      |  SELECT doc_id, lang, count(*) AS n_tok, CAST(sum(lp_nn) AS BIGINT) AS lp_nn_sum
      |  FROM term GROUP BY doc_id, lang)
      |SELECT doc_id, lang, n_tok, lp_nn_sum,
      |  CAST(lp_nn_sum AS DOUBLE) / CAST(n_tok AS DOUBLE) AS mean_lp_nn
      |FROM d ORDER BY mean_lp_nn, doc_id LIMIT 20""".stripMargin) { (s, dir) =>
    val tok = Tables.documents(s, dir)
      .repartition(col("doc_id")) // single-file scan -> use every core
      .select(col("doc_id"), col("lang"),
        explode(split(col("text"), " ")).as("t"))
      .ckpt() // feeds the vocab agg AND the term join
    val vocab = tok.groupBy(col("t")).agg(count(lit(1)).as("cnt"))
    val total = vocab.agg(sum(col("cnt")).cast("double").as("n_total"))
    tok.join(vocab, "t")
      .crossJoin(broadcast(total))
      .select(col("doc_id"), col("lang"),
        floor(lit(1000000000.0) *
          log(col("cnt").cast("double") / col("n_total"))).cast("long").as("lp_nn"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_tok"), sum(col("lp_nn")).as("lp_nn_sum"))
      .select(col("doc_id"), col("lang"), col("n_tok"), col("lp_nn_sum"),
        (col("lp_nn_sum").cast("double") / col("n_tok").cast("double")).as("mean_lp_nn"))
      .orderBy(col("mean_lp_nn"), col("doc_id"))
      .limit(20)
  }

  /** q101 — deterministic stratified train/val/test split: every doc
    * lands in a split by pure hash arithmetic (md5 of its id → bucket
    * 0..99 → 80/10/10), so the split is REPRODUCIBLE from the data
    * alone — no stored assignment table, no RNG seed to lose, stable
    * under re-runs, insertions, and repartitioning (the property that
    * matters when the corpus is re-materialized between training
    * runs). Per (source, split): doc count and token mass, the
    * stratification audit a curation pipeline reports.
    *
    * Scale shape: embarrassingly parallel projection + one partial-agg
    * shuffle of |sources|·3 rows; the same bucket expression serves as
    * a write-time partition column at 100 TB so each split prunes to
    * its own files. */
  val q101Split: QueryDef = QueryDef(
    "q101_split",
    """WITH b AS (
      |  SELECT source, len(string_split(text, ' ')) AS n_tokens,
      |    ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4))::INT % 100 AS bucket
      |  FROM documents)
      |SELECT source,
      |  CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
      |  count(*) AS n_docs,
      |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens
      |FROM b GROUP BY 1, 2
      |ORDER BY source, split""".stripMargin) { (s, dir) =>
    val bucket = pmod(
      conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10).cast("int"),
      lit(100))
    Tables.documents(s, dir)
      .select(col("source"), size(split(col("text"), " ")).as("n_tokens"),
        bucket.as("bucket"))
      .select(col("source"),
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "val")
          .otherwise("test").as("split"),
        col("n_tokens"))
      .groupBy(col("source"), col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).cast("long").as("n_tokens"))
      .orderBy("source", "split")
  }

  /** q108 — collocation mining: bigrams that co-occur far more often
    * than their parts' frequencies predict. The association score is
    * the PMI ratio p(x,y)/(p(x)p(y)) — reported as a scaled integer
    * ratio rather than its log, which orders identically and keeps
    * the output exact (log's libm bits are not contractual across
    * engines; IEEE multiply/divide/floor are).
    *
    * The float path is bit-deterministic by construction: every count
    * is < 2⁵³ (exact as a double), and both engines evaluate the SAME
    * left-associated multiply chain, one division, one floor — IEEE
    * 754 fixes each of those bit patterns.
    *
    * Scale design: two aggregates over the exploded token/bigram
    * streams (map-side combinable), then all attaches happen on the
    * vocabulary-sized count tables (broadcast), never on the corpus. */
  val q108Collocations: QueryDef = QueryDef(
    "q108_collocations",
    """WITH t AS (SELECT string_split(text, ' ') AS tk FROM documents),
      |u AS (SELECT unnest(tk) AS x FROM t),
      |uc AS (SELECT x, CAST(count(*) AS BIGINT) AS c FROM u GROUP BY x),
      |nt AS (SELECT CAST(count(*) AS BIGINT) AS n_tok FROM u),
      |bg AS (SELECT tk[CAST(i AS INT)] AS x, tk[CAST(i AS INT)+1] AS y
      |       FROM t, unnest(range(1, len(tk))) AS r(i)),
      |nb AS (SELECT CAST(count(*) AS BIGINT) AS n_bi FROM bg),
      |bc AS (SELECT x, y, CAST(count(*) AS BIGINT) AS c_xy FROM bg
      |       GROUP BY x, y HAVING count(*) >= 5)
      |SELECT bc.x AS w1, bc.y AS w2, bc.c_xy,
      |  CAST(floor((((1000000.0 * bc.c_xy) * nt.n_tok) * nt.n_tok) /
      |       ((CAST(nb.n_bi AS DOUBLE) * cx.c) * cy.c)) AS BIGINT) AS assoc_ppm
      |FROM bc JOIN uc cx ON bc.x = cx.x JOIN uc cy ON bc.y = cy.x, nt, nb
      |ORDER BY assoc_ppm DESC, w1, w2""".stripMargin) { (s, dir) =>
    val tk = col("tk")
    val docs = Corpus.tokenized(s, dir) // shared corpus tokenize
      .select(col("tk"))
    val uni = docs.select(explode(tk).as("x"))
    val uc = uni.groupBy(col("x")).agg(count(lit(1)).as("c"))
    val nt = uni.agg(count(lit(1)).as("n_tok"))
    val bg = docs.filter(size(tk) >= 2)
      .select(explode(zip_with(
        slice(tk, lit(1), size(tk) - 1),
        slice(tk, lit(2), size(tk) - 1),
        (x, y) => struct(x.as("x"), y.as("y")))).as("p"))
      .select(col("p.x").as("x"), col("p.y").as("y"))
    val nb = bg.agg(count(lit(1)).as("n_bi"))
    val bc = bg.groupBy(col("x"), col("y"))
      .agg(count(lit(1)).as("c_xy")).filter(col("c_xy") >= 5)
    bc
      .join(broadcast(uc.select(col("x"), col("c").as("cx"))), Seq("x"))
      .join(broadcast(uc.select(col("x").as("y"), col("c").as("cy"))), Seq("y"))
      .crossJoin(nt).crossJoin(nb)
      .select(col("x").as("w1"), col("y").as("w2"), col("c_xy"),
        floor((lit(1000000.0) * col("c_xy") * col("n_tok") * col("n_tok")) /
          (col("n_bi").cast("double") * col("cx") * col("cy")))
          .cast("bigint").as("assoc_ppm"))
      .orderBy(col("assoc_ppm").desc, col("w1"), col("w2"))
  }

  /** q112 — vocabulary coverage curve: the top-N tokens by corpus
    * frequency with each rank's cumulative share of all token
    * occurrences — the curve a tokenizer-vocab or stop-word decision
    * is read off of (how much of the corpus do 200 types cover?).
    *
    * Scale design: the corpus collapses to (token, count) partials
    * map-side; the global "sort" is orderBy().limit(200), which Spark
    * executes as TakeOrdered (per-partition top-200 heaps, no full
    * sort, no single-partition shuffle of the vocab). Only the 200
    * survivors enter the single-partition cumsum window — correct
    * because rank-r cumulative coverage depends only on ranks ≤ r. */
  val q112VocabCoverage: QueryDef = QueryDef(
    "q112_vocab_coverage",
    """WITH u AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
      |n AS (SELECT CAST(count(*) AS BIGINT) AS total FROM u),
      |tc AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM u GROUP BY tok),
      |r AS (SELECT tok, c,
      |        row_number() OVER (ORDER BY c DESC, tok) AS rnk,
      |        CAST(sum(c) OVER (ORDER BY c DESC, tok ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      |      FROM tc)
      |SELECT CAST(rnk AS BIGINT) AS rnk, tok, c AS n_occ,
      |  (1000000 * cum) // n.total AS coverage_ppm
      |FROM r, n WHERE rnk <= 200 ORDER BY rnk""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
      .repartition(col("doc_id")) // single-file scan -> use every core
    val u = docs.select(explode(split(col("text"), " ")).as("tok"))
    val n = u.agg(count(lit(1)).as("total"))
    val top = u.groupBy(col("tok")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("tok")).limit(200)
    val w = Window.orderBy(col("c").desc, col("tok"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    top
      // row_number is INT in Spark, BIGINT in DuckDB — align the type
      .withColumn("rnk", row_number().over(w).cast("bigint"))
      .withColumn("cum", sum(col("c")).over(w))
      .crossJoin(n)
      .select(col("rnk"), col("tok"), col("c").as("n_occ"),
        expr("(1000000 * cum) div total").as("coverage_ppm"))
      .orderBy("rnk")
  }

  /** q180 — Zipf-law fit over the token frequency distribution:
    * log-log regression of count on rank for the top-200 types,
    * reporting the slope (natural text ≈ −1) and the fit r² — the
    * "is this corpus natural language or templated spam?" diagnostic
    * read before trusting token-level statistics (q112's coverage
    * curve shows WHERE mass concentrates; this tests WHETHER the
    * decay is lawful).
    *
    * Exactness: ln(rank) and ln(count) are floored to integer
    * nano-nats per row BEFORE the regression moments (floor-then-sum
    * is order-free — the q83/q173 discipline); cross-moments ride
    * DECIMAL(38)/HUGEINT (x·y ≈ 7·10¹⁹ exceeds int64), and slope/r²
    * are single IEEE chains over the exact moments. floor on the
    * (negative) slope is mathematical floor in BOTH engines — the
    * div-truncation divergence does not apply to floor(double).
    *
    * Scale design (100 TB): the corpus collapses to (token, count)
    * partials map-side; the top-200 is TakeOrdered (per-partition
    * heaps); ranking and regression run on the bounded 200-row frame
    * (the documented bounded-frame window exception). */
  val q180Zipf: QueryDef = QueryDef(
    "q180_zipf",
    """WITH u AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
      |tc AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM u GROUP BY tok),
      |r AS (SELECT c, row_number() OVER (ORDER BY c DESC, tok) AS rnk FROM tc),
      |xy AS (
      |  SELECT CAST(floor(1000000000.0 * ln(CAST(rnk AS DOUBLE))) AS BIGINT) AS x,
      |    CAST(floor(1000000000.0 * ln(CAST(c AS DOUBLE))) AS BIGINT) AS y
      |  FROM r WHERE rnk <= 200),
      |m AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |    sum(CAST(x AS HUGEINT) * y) AS sxy,
      |    sum(CAST(x AS HUGEINT) * x) AS sxx,
      |    sum(CAST(y AS HUGEINT) * y) AS syy
      |  FROM xy)
      |SELECT n AS n_ranks,
      |  CAST(floor(1000.0 *
      |    CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE) /
      |    CAST(n * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)) AS BIGINT)
      |    AS slope_milli,
      |  CAST(floor(1000000.0 *
      |    (CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE) *
      |     CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)) /
      |    (CAST(n * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE) *
      |     CAST(n * syy - CAST(sy AS HUGEINT) * sy AS DOUBLE))) AS BIGINT)
      |    AS r2_ppm
      |FROM m""".stripMargin) { (s, dir) =>
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val docs = Tables.documents(s, dir)
      .repartition(col("doc_id")) // single-file scan -> use every core
    val top = docs.select(explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("tok")).limit(200)
    val w = Window.orderBy(col("c").desc, col("tok"))
    val xy = top.withColumn("rnk", row_number().over(w))
      .select(
        floor(lit(1000000000.0) * log(col("rnk").cast("double")))
          .cast("bigint").as("x"),
        floor(lit(1000000000.0) * log(col("c").cast("double")))
          .cast("bigint").as("y"))
    val m = xy.agg(count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(dec(col("x")) * col("y")).as("sxy"),
      sum(dec(col("x")) * col("x")).as("sxx"),
      sum(dec(col("y")) * col("y")).as("syy"))
    val num = (dec(col("n")) * col("sxy") - dec(col("sx")) * col("sy"))
      .cast("double")
    val dx = (dec(col("n")) * col("sxx") - dec(col("sx")) * col("sx"))
      .cast("double")
    val dy = (dec(col("n")) * col("syy") - dec(col("sy")) * col("sy"))
      .cast("double")
    m.select(col("n").as("n_ranks"),
      floor(lit(1000.0) * num / dx).cast("bigint").as("slope_milli"),
      floor(lit(1000000.0) * (num * num) / (dx * dy))
        .cast("bigint").as("r2_ppm"))
  }

  /** q181 — held-out bigram-LM cross-entropy: train an add-one
    * smoothed bigram language model on the even-doc_id half (the
    * q96/q101 split convention), score the odd half, and report per
    * language the bigram count, how many test bigrams were never seen
    * in training, and the average negative log-likelihood in
    * nano-nats. The model-based cousin of q91's unigram surprisal —
    * THE classic "which language/source is this corpus model worst
    * at?" diagnostic driving data-mix decisions; emitted as avg NLL
    * (perplexity's log) so no exp() has to agree across engines.
    *
    * Exactness: p(w₂|w₁) = (c₂+1)/(c₁+|V|) from exact int64 counts;
    * each distinct test bigram's −ln p is ONE IEEE chain floored to
    * integer nano-nats, then multiplied by its count and summed —
    * floor-then-sum is order-free (q83/q173/q180 discipline). The
    * NLL sum rides DECIMAL(38)/HUGEINT. Since c₂ ≤ c₁ and |V| ≥ 1,
    * p ≤ 1 and every NLL term is non-negative, so the final
    * floor-div is portable.
    *
    * Scale design (100 TB): train counts and test bigrams are
    * partial-aggregable explodes; the model lookup is an equi-join on
    * the (w₁,w₂)/(w₁) keys — unbounded cardinality, so nothing in the
    * plan forces a broadcast: Spark's size-based planning broadcasts
    * a model that fits and shuffle-joins one that doesn't. The only
    * unconditional broadcast is the 1-row vocab size. Output is
    * |langs| rows. */
  val q181BigramPpl: QueryDef = QueryDef(
    "q181_bigram_ppl",
    """WITH tr AS (
      |  SELECT string_split(text, ' ') AS tk FROM documents
      |  WHERE doc_id % 2 = 0),
      |te AS (
      |  SELECT lang, string_split(text, ' ') AS tk FROM documents
      |  WHERE doc_id % 2 = 1),
      |u AS (SELECT unnest(tk) AS x FROM tr),
      |v AS (SELECT CAST(count(DISTINCT x) AS BIGINT) AS vs FROM u),
      |c1 AS (SELECT x, CAST(count(*) AS BIGINT) AS c FROM u GROUP BY x),
      |c2 AS (
      |  SELECT tk[CAST(i AS INT)] AS x, tk[CAST(i AS INT)+1] AS y,
      |    CAST(count(*) AS BIGINT) AS c
      |  FROM tr, unnest(range(1, len(tk))) AS r(i) GROUP BY 1, 2),
      |tb AS (
      |  SELECT lang, tk[CAST(i AS INT)] AS x, tk[CAST(i AS INT)+1] AS y,
      |    CAST(count(*) AS BIGINT) AS m
      |  FROM te, unnest(range(1, len(tk))) AS r(i) GROUP BY 1, 2, 3),
      |sc AS (
      |  SELECT tb.lang, tb.m,
      |    CASE WHEN c2.c IS NULL THEN 1 ELSE 0 END AS oov,
      |    CAST(floor(1000000000.0 *
      |      (-ln(CAST(coalesce(c2.c, 0) + 1 AS DOUBLE) /
      |           CAST(coalesce(c1.c, 0) + v.vs AS DOUBLE)))) AS BIGINT) AS nll_nn
      |  FROM tb LEFT JOIN c2 ON tb.x = c2.x AND tb.y = c2.y
      |  LEFT JOIN c1 ON tb.x = c1.x, v)
      |SELECT lang, CAST(sum(m) AS BIGINT) AS n_bigrams,
      |  CAST(sum(m * oov) AS BIGINT) AS n_unseen,
      |  CAST(sum(CAST(m AS HUGEINT) * nll_nn) //
      |       CAST(sum(m) AS HUGEINT) AS BIGINT) AS avg_nll_nn
      |FROM sc GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val tk = col("tk")
    def bigrams(df: DataFrame, extra: Seq[Column]): DataFrame =
      df.filter(size(tk) >= 2)
        .select(extra :+ explode(zip_with(
          slice(tk, lit(1), size(tk) - 1),
          slice(tk, lit(2), size(tk) - 1),
          (x, y) => struct(x.as("x"), y.as("y")))).as("p"): _*)
        .select(extra :+ col("p.x").as("x") :+ col("p.y").as("y"): _*)
    val docs = Tables.documents(s, dir)
      .repartition(col("doc_id")) // single-file scan -> use every core
      .select(col("doc_id"), col("lang"), split(col("text"), " ").as("tk"))
    val tr = docs.filter(col("doc_id") % 2 === 0)
    val te = docs.filter(col("doc_id") % 2 === 1)
    val uni = tr.select(explode(tk).as("x"))
    val v = uni.agg(count_distinct(col("x")).as("vs"))
    val c1 = uni.groupBy(col("x")).agg(count(lit(1)).as("c1c"))
    val c2 = bigrams(tr, Seq.empty)
      .groupBy(col("x"), col("y")).agg(count(lit(1)).as("c2c"))
    val tb = bigrams(te, Seq(col("lang")))
      .groupBy(col("lang"), col("x"), col("y")).agg(count(lit(1)).as("m"))
    val nll = floor(lit(1000000000.0) *
      (-log((coalesce(col("c2c"), lit(0L)) + 1).cast("double") /
        (coalesce(col("c1c"), lit(0L)) + col("vs")).cast("double"))))
      .cast("bigint")
    tb.join(c2, Seq("x", "y"), "left")
      .join(c1, Seq("x"), "left")
      .crossJoin(broadcast(v))
      .select(col("lang"), col("m"),
        when(col("c2c").isNull, 1L).otherwise(0L).as("oov"),
        nll.as("nll_nn"))
      .groupBy(col("lang"))
      .agg(sum(col("m")).as("n_bigrams"),
        sum(col("m") * col("oov")).as("n_unseen"),
        sum(dec(col("m")) * col("nll_nn")).as("swn"))
      .select(col("lang"), col("n_bigrams"), col("n_unseen"),
        expr("CAST(swn div n_bigrams AS BIGINT)").as("avg_nll_nn"))
      .orderBy("lang")
  }

  /** Per-document quality verdict (doc_id, lang, dup_ppm, bi_ppm,
    * f_short, f_dup, f_bi) — the ONE rule set behind q146's yield
    * report and q161's admission funnel; extracting it guarantees the
    * two reports can never disagree on what "rejected" means.
    * Thresholds: MIN_TOK=20, dup ≥ 0.60, top bigram ≥ 0.05. */
  private[operators] def qualityMetrics(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .repartition(col("doc_id")) // single-file scan -> use every core
      .select(col("doc_id"), col("lang"), split(col("text"), " ").as("ts"))
    val d = docs.select(col("doc_id"), col("lang"),
      size(col("ts")).cast("long").as("n_tok"),
      size(array_distinct(col("ts"))).cast("long").as("n_dist"))
    val n = size(col("ts"))
    val bc = docs
      .select(col("doc_id"), explode(zip_with(
        slice(col("ts"), lit(1), n - 1), slice(col("ts"), lit(2), n - 1),
        (a, b) => concat(a, lit(" "), b))).as("bg"))
      .groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id")).agg(max(col("c")).as("top_bi"))
    d.join(bc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"), col("n_tok"),
        expr("(1000000 * (n_tok - n_dist)) div n_tok").as("dup_ppm"),
        when(col("n_tok") > 1,
          expr("(1000000 * coalesce(top_bi, 0L)) div (n_tok - 1)"))
          .otherwise(lit(0L)).as("bi_ppm"))
      .select(col("doc_id"), col("lang"), col("dup_ppm"), col("bi_ppm"),
        when(col("n_tok") < 20, 1L).otherwise(0L).as("f_short"),
        when(col("dup_ppm") >= 600000L, 1L).otherwise(0L).as("f_dup"),
        when(col("bi_ppm") >= 50000L, 1L).otherwise(0L).as("f_bi"))
  }

  /** Oracle twin of [[qualityMetrics]]: namespaced qf_* CTEs ending in
    * `qf` (doc_id, lang, dup_ppm, bi_ppm, f_short, f_dup, f_bi). */
  private[operators] val qualityOracleCte: String =
    """qf_s AS (SELECT doc_id, lang, string_split(text, ' ') AS ts FROM documents),
      |qf_d AS (
      |  SELECT doc_id, lang, CAST(len(ts) AS BIGINT) AS n_tok,
      |    CAST(len(list_distinct(ts)) AS BIGINT) AS n_dist
      |  FROM qf_s),
      |qf_b AS (
      |  SELECT doc_id,
      |    unnest(list_transform(range(1, len(ts)), i -> ts[i] || ' ' || ts[i+1])) AS bg
      |  FROM qf_s),
      |qf_bc AS (
      |  SELECT doc_id, CAST(max(c) AS BIGINT) AS top_bi
      |  FROM (SELECT doc_id, bg, count(*) AS c FROM qf_b GROUP BY doc_id, bg)
      |  GROUP BY doc_id),
      |qf_m AS (
      |  SELECT d.doc_id, d.lang, d.n_tok,
      |    (1000000 * (d.n_tok - d.n_dist)) // d.n_tok AS dup_ppm,
      |    CASE WHEN d.n_tok > 1
      |         THEN (1000000 * coalesce(bc.top_bi, 0)) // (d.n_tok - 1)
      |         ELSE 0 END AS bi_ppm
      |  FROM qf_d d LEFT JOIN qf_bc bc ON d.doc_id = bc.doc_id),
      |qf AS (
      |  SELECT doc_id, lang, dup_ppm, bi_ppm,
      |    CASE WHEN n_tok < 20 THEN 1 ELSE 0 END AS f_short,
      |    CASE WHEN dup_ppm >= 600000 THEN 1 ELSE 0 END AS f_dup,
      |    CASE WHEN bi_ppm >= 50000 THEN 1 ELSE 0 END AS f_bi
      |  FROM qf_m)""".stripMargin

  /** q146 — pretraining quality-filter yield report: the standard
    * repetition rules (minimum length, duplicate-word fraction,
    * most-frequent-bigram concentration — the Gopher/CCNet battery)
    * applied per document, reported as per-language ACCEPT/REJECT
    * yields. q27 measures repetition; this is the decision layer —
    * "how much of each language's corpus would this filter config
    * drop, and for which rule" — the number a data-mixture owner
    * actually tunes against.
    *
    * Scale design: length and dup-word fraction are per-row array
    * expressions (no shuffle); the top-bigram count is one
    * partial-aggregable groupBy on the high-cardinality (doc, bigram)
    * key then a per-doc max — no windows, no bounded-key sorts, and
    * the final report is |langs| rows. All rule fractions are exact
    * integer ppm (floor-div), so the DuckDB twin is bit-identical.
    *
    * Rule constants (tuned on the generated corpus so both accept and
    * reject sides are populated): MIN_TOK=20, dup ≥ 0.60, top bigram
    * ≥ 0.05 of adjacent pairs. */
  val q146FilterYield: QueryDef = QueryDef(
    "q146_filter_yield",
    s"""WITH $qualityOracleCte
       |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(f_short) AS BIGINT) AS n_short,
       |  CAST(sum(f_dup) AS BIGINT) AS n_dup_reject,
       |  CAST(sum(f_bi) AS BIGINT) AS n_bigram_reject,
       |  CAST(count(CASE WHEN f_short = 0 AND f_dup = 0 AND f_bi = 0 THEN 1 END) AS BIGINT) AS n_kept,
       |  (1000000 * CAST(count(CASE WHEN f_short = 0 AND f_dup = 0 AND f_bi = 0 THEN 1 END) AS BIGINT)) // CAST(count(*) AS BIGINT) AS kept_ppm,
       |  CAST(sum(dup_ppm) AS BIGINT) // CAST(count(*) AS BIGINT) AS avg_dup_ppm,
       |  CAST(sum(bi_ppm) AS BIGINT) // CAST(count(*) AS BIGINT) AS avg_bi_ppm
       |FROM qf GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
    val r = qualityMetrics(s, dir)
    val kept = count(when(
      col("f_short") === 0 && col("f_dup") === 0 && col("f_bi") === 0, 1))
    r.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("f_short")).as("n_short"),
        sum(col("f_dup")).as("n_dup_reject"),
        sum(col("f_bi")).as("n_bigram_reject"),
        kept.as("n_kept"),
        expr("1000000 * count(CASE WHEN f_short = 0 AND f_dup = 0 AND f_bi = 0 THEN 1 END) div count(1)").as("kept_ppm"),
        expr("sum(dup_ppm) div count(1)").as("avg_dup_ppm"),
        expr("sum(bi_ppm) div count(1)").as("avg_bi_ppm"))
      .orderBy("lang")
  }

  /** q148 — vocabulary growth curve (Heaps' law audit): split the
    * corpus into ten doc-id deciles and report, per decile, how many
    * NEW token types appear for the first time, the cumulative
    * vocabulary, and cumulative token volume — the curve that answers
    * "how much new vocabulary does the next 10% of data buy", i.e.
    * whether more of the same source still grows a tokenizer's
    * coverage.
    *
    * Unigram types saturate almost immediately on any corpus with a
    * closed vocabulary, so the report tracks BIGRAM types alongside —
    * the unit a BPE tokenizer's merge table actually grows in — whose
    * curve keeps decaying for far longer (851/54/5/1/... per decile on
    * the generated corpus).
    *
    * Scale design: the only corpus-sized operations are two
    * partial-aggregable groupBy(type) → min(decile) passes ("first
    * appearance"); everything after runs on ≤ |vocab| rows collapsing
    * to a 10-row frame, and the cumulative window orders TEN rows.
    * All counts are exact integers — no float anywhere. */
  val q148VocabGrowth: QueryDef = QueryDef(
    "q148_vocab_growth",
    """WITH mx AS (SELECT max(doc_id) AS maxid FROM documents),
      |t AS (
      |  SELECT least(9, (10 * d.doc_id) // (mx.maxid + 1)) AS bucket,
      |    d.doc_id, u.tok
      |  FROM documents d, mx, unnest(string_split(d.text, ' ')) AS u(tok)),
      |per AS (
      |  SELECT bucket, CAST(count(*) AS BIGINT) AS n_tokens,
      |    CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
      |  FROM t GROUP BY bucket),
      |firsts AS (SELECT tok, min(bucket) AS fb FROM t GROUP BY tok),
      |nv AS (SELECT fb AS bucket, CAST(count(*) AS BIGINT) AS n_new FROM firsts GROUP BY fb),
      |bg AS (
      |  SELECT least(9, (10 * d.doc_id) // (mx.maxid + 1)) AS bucket,
      |    unnest(list_transform(range(1, len(string_split(d.text, ' '))),
      |      i -> string_split(d.text, ' ')[i] || ' ' || string_split(d.text, ' ')[i+1])) AS big
      |  FROM documents d, mx),
      |bfirsts AS (SELECT big, min(bucket) AS fb FROM bg GROUP BY big),
      |bnv AS (SELECT fb AS bucket, CAST(count(*) AS BIGINT) AS n_new FROM bfirsts GROUP BY fb)
      |SELECT p.bucket AS decile, p.n_docs, p.n_tokens,
      |  coalesce(nv.n_new, 0) AS n_new_types,
      |  CAST(sum(coalesce(nv.n_new, 0)) OVER (ORDER BY p.bucket
      |       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS vocab_cum,
      |  coalesce(bnv.n_new, 0) AS n_new_bigrams,
      |  CAST(sum(coalesce(bnv.n_new, 0)) OVER (ORDER BY p.bucket
      |       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS bigram_cum,
      |  CAST(sum(p.n_tokens) OVER (ORDER BY p.bucket
      |       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS tokens_cum
      |FROM per p
      |LEFT JOIN nv ON nv.bucket = p.bucket
      |LEFT JOIN bnv ON bnv.bucket = p.bucket
      |ORDER BY p.bucket""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    val mx = docs.agg(max(col("doc_id")).as("maxid"))
    val t = docs
      .repartition(col("doc_id")) // single-file scan -> use every core
      .crossJoin(broadcast(mx))
      .select(
        least(lit(9L), expr("(10 * doc_id) div (maxid + 1)")).as("bucket"),
        col("doc_id"), explode(split(col("text"), " ")).as("tok"))
    val per = t.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_tokens"), countDistinct(col("doc_id")).as("n_docs"))
    val nv = t.groupBy(col("tok")).agg(min(col("bucket")).as("fb"))
      .groupBy(col("fb")).agg(count(lit(1)).as("n_new"))
    val nbg = docs
      .repartition(col("doc_id"))
      .select(col("doc_id"), split(col("text"), " ").as("ts2"))
      .crossJoin(broadcast(mx))
      .select(
        least(lit(9L), expr("(10 * doc_id) div (maxid + 1)")).as("bucket"),
        explode(zip_with(
          slice(col("ts2"), lit(1), size(col("ts2")) - 1),
          slice(col("ts2"), lit(2), size(col("ts2")) - 1),
          (a, b) => concat(a, lit(" "), b))).as("big"))
      .groupBy(col("big")).agg(min(col("bucket")).as("fb"))
      .groupBy(col("fb")).agg(count(lit(1)).as("bn_new"))
    // ten rows total: the unpartitioned window is bounded by design
    val cw = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    per.join(nv, per("bucket") === nv("fb"), "left")
      .join(nbg, per("bucket") === nbg("fb"), "left")
      .select(per("bucket").as("bucket"), col("n_docs"), col("n_tokens"),
        coalesce(col("n_new"), lit(0L)).as("n_new_types"),
        coalesce(col("bn_new"), lit(0L)).as("n_new_bigrams"))
      .withColumn("vocab_cum", sum(col("n_new_types")).over(cw))
      .withColumn("bigram_cum", sum(col("n_new_bigrams")).over(cw))
      .withColumn("tokens_cum", sum(col("n_tokens")).over(cw))
      .select(col("bucket").as("decile"), col("n_docs"), col("n_tokens"),
        col("n_new_types"), col("vocab_cum"), col("n_new_bigrams"),
        col("bigram_cum"), col("tokens_cum"))
      .orderBy("decile")
  }

  /** q167 — temperature-scaled source mixture: sampling weights
    * wᵢ ∝ nᵢ^α with α = 0.5 over per-source token inventories — the
    * mT5/GPT-3-style smoothing that upweights small sources relative
    * to raw proportions without flattening to uniform. Reported next
    * to the raw proportional and uniform weights plus the boost ratio
    * each source gets from the smoothing, this is the OTHER mixture
    * policy to [[q74Mixture]]'s fixed uniform budget.
    *
    * Exactness: α is 0.5 precisely because sqrt is the one
    * non-algebraic operation IEEE 754 requires correctly rounded —
    * `floor(sqrt(n)·1000)` is bit-identical in both engines (n < 2⁵³
    * exact as double), and everything downstream of that per-source
    * integer (the cross-source total, the ppm ratios) is pure int64,
    * so no ordered float summation ever happens. A general-α variant
    * would ride pow(), which neither engine guarantees bitwise.
    *
    * Scale design (100 TB): one partial-aggregable corpus pass to the
    * per-source inventory; the weight algebra runs on |sources| rows
    * with the total as a broadcast 1-row aggregate. */
  val q167TempMixture: QueryDef = QueryDef(
    "q167_temp_mixture",
    """WITH t AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS toks,
      |    CAST(floor(sqrt(CAST(sum(len(string_split(text, ' '))) AS DOUBLE)) * 1000)
      |      AS BIGINT) AS s_milli
      |  FROM documents GROUP BY source),
      |tot AS (
      |  SELECT CAST(sum(toks) AS BIGINT) AS total,
      |    CAST(sum(s_milli) AS BIGINT) AS s_total,
      |    CAST(count(*) AS BIGINT) AS n_src
      |  FROM t)
      |SELECT source, n_docs, toks,
      |  (1000000 * toks) // total AS prop_ppm,
      |  (1000000 * s_milli) // s_total AS temp_ppm,
      |  1000000 // n_src AS uniform_ppm,
      |  (1000 * ((1000000 * s_milli) // s_total)) // ((1000000 * toks) // total)
      |    AS boost_milli
      |FROM t, tot ORDER BY source""".stripMargin) { (s, dir) =>
    val t = Tables.documents(s, dir)
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ")).cast("long")).as("toks"))
      .withColumn("s_milli",
        floor(sqrt(col("toks").cast("double")) * 1000).cast("long"))
    val tot = t.agg(sum(col("toks")).as("total"),
      sum(col("s_milli")).as("s_total"), count(lit(1)).as("n_src"))
    t.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("toks"),
        expr("(1000000 * toks) div total").as("prop_ppm"),
        expr("(1000000 * s_milli) div nullif(s_total, 0)").as("temp_ppm"),
        expr("1000000 div n_src").as("uniform_ppm"),
        expr("(1000 * ((1000000 * s_milli) div nullif(s_total, 0))) div " +
          "nullif((1000000 * toks) div total, 0)")
          .as("boost_milli"))
      .orderBy("source")
  }

  /** q168 — classifier evaluation metrics over the q22 lang-id
    * confusion matrix: per-class precision/recall/F1 plus multi-class
    * Cohen's κ — chance-corrected agreement between the trigram
    * classifier and the gold `lang` labels. q22 ships the raw matrix;
    * this is the metrics layer a model-quality dashboard actually
    * reads (and the same algebra scores any annotator pair, which is
    * how inter-rater agreement is audited on labeling pipelines).
    *
    * Exactness: the confusion matrix is integer counts; precision/
    * recall are ppm floor-divs and F1 = (2·tp)/(actual+pred) is an
    * exact milli floor-div — all guarded against empty margins. κ is
    * the ONE float step: its quadratic terms n·Σdiag, Σ rowₖ·colₖ, n²
    * exceed int64 at ~10¹⁰ docs, so they ride DECIMAL(38)/HUGEINT
    * (q154 contract) into a single floor(1000·num/den) IEEE chain —
    * κ < 0 is possible (worse-than-chance) and floor, unlike integer
    * division, agrees across engines on negatives.
    *
    * Scale design (100 TB): everything downstream of q22's matrix
    * (bounded: ≤ (|langs|+1)² cells) is broadcast-sized algebra; the
    * corpus cost is q22's own scale-safe pipeline, shared via the
    * memoized [[langIdConfusion]] build — one derivation per JVM. */
  lazy val q168ClassifierEval: QueryDef = QueryDef(
    "q168_classifier_eval",
    """WITH grams AS (
      |  SELECT doc_id, lang, substr(text, CAST(i AS INT), 3) AS g
      |  FROM documents, unnest(range(1, len(text)-1)) AS t(i)
      |  WHERE len(text) >= 3),
      |prof AS (
      |  SELECT lang, g FROM (
      |    SELECT lang, g, row_number() OVER (PARTITION BY lang ORDER BY count(*) DESC, g) AS rn
      |    FROM grams WHERE doc_id % 5 < 4 GROUP BY lang, g) WHERE rn <= 200),
      |test AS (SELECT DISTINCT doc_id, g FROM grams WHERE doc_id % 5 = 4),
      |scores AS (
      |  SELECT t.doc_id, p.lang AS cand, count(*) AS hits
      |  FROM test t JOIN prof p ON t.g = p.g GROUP BY t.doc_id, p.lang),
      |best AS (
      |  SELECT doc_id, cand AS pred FROM (
      |    SELECT doc_id, cand, row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, cand) AS rn
      |    FROM scores) WHERE rn = 1),
      |cm AS (
      |  SELECT d.lang AS actual, coalesce(b.pred, 'unknown') AS pred,
      |    CAST(count(*) AS BIGINT) AS n
      |  FROM (SELECT doc_id, lang FROM documents WHERE doc_id % 5 = 4) d
      |  LEFT JOIN best b USING (doc_id) GROUP BY 1, 2),
      |ra AS (SELECT actual AS cls, CAST(sum(n) AS BIGINT) AS n_actual FROM cm GROUP BY actual),
      |rp AS (SELECT pred AS cls, CAST(sum(n) AS BIGINT) AS n_pred FROM cm GROUP BY pred),
      |marg AS (
      |  SELECT coalesce(ra.cls, rp.cls) AS cls,
      |    coalesce(n_actual, 0) AS n_actual, coalesce(n_pred, 0) AS n_pred
      |  FROM ra FULL OUTER JOIN rp ON ra.cls = rp.cls),
      |tp AS (SELECT actual AS cls, CAST(sum(n) AS BIGINT) AS tp FROM cm
      |       WHERE actual = pred GROUP BY actual),
      |tot AS (
      |  SELECT (SELECT CAST(sum(n) AS BIGINT) FROM cm) AS n_tot,
      |    (SELECT CAST(coalesce(sum(tp), 0) AS BIGINT) FROM tp) AS diag,
      |    (SELECT sum(CAST(n_actual AS HUGEINT) * n_pred) FROM marg) AS pe_num),
      |k AS (
      |  SELECT CASE WHEN CAST(n_tot AS HUGEINT) * n_tot - pe_num <> 0
      |    THEN CAST(floor(1000.0 *
      |      CAST(CAST(n_tot AS HUGEINT) * diag - pe_num AS DOUBLE) /
      |      CAST(CAST(n_tot AS HUGEINT) * n_tot - pe_num AS DOUBLE)) AS BIGINT)
      |    END AS kappa_milli
      |  FROM tot)
      |SELECT m.cls, m.n_actual, m.n_pred, coalesce(t.tp, 0) AS tp,
      |  CASE WHEN m.n_pred > 0 THEN (1000000 * coalesce(t.tp, 0)) // m.n_pred END AS prec_ppm,
      |  CASE WHEN m.n_actual > 0 THEN (1000000 * coalesce(t.tp, 0)) // m.n_actual END AS rec_ppm,
      |  CASE WHEN m.n_actual + m.n_pred > 0
      |       THEN (2000 * coalesce(t.tp, 0)) // (m.n_actual + m.n_pred) END AS f1_milli,
      |  k.kappa_milli
      |FROM marg m LEFT JOIN tp t ON t.cls = m.cls, k
      |ORDER BY m.cls""".stripMargin) { (s, dir) =>
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    val cm = langIdConfusion(s, dir) // memoized + checkpointed; shared with q22
    val ra = cm.groupBy(col("actual").as("cls")).agg(sum(col("n")).as("n_actual"))
    val rp = cm.groupBy(col("pred").as("cls")).agg(sum(col("n")).as("n_pred"))
    val marg = ra.join(rp, Seq("cls"), "full_outer")
      .select(col("cls"),
        coalesce(col("n_actual"), lit(0L)).as("n_actual"),
        coalesce(col("n_pred"), lit(0L)).as("n_pred"))
    val tp = cm.filter(col("actual") === col("pred"))
      .groupBy(col("actual").as("cls")).agg(sum(col("n")).as("tp"))
    val tot = broadcast(
      cm.agg(sum(col("n")).as("n_tot"),
          sum(when(col("actual") === col("pred"), col("n")).otherwise(0L))
            .as("diag"))
        .crossJoin(marg.agg(
          sum(dec(col("n_actual")) * dec(col("n_pred"))).as("pe_num"))))
    val k = tot.select(
      when(dec(col("n_tot")) * dec(col("n_tot")) - col("pe_num") =!= 0,
        floor(lit(1000.0) *
          (dec(col("n_tot")) * dec(col("diag")) - col("pe_num")).cast("double") /
          (dec(col("n_tot")) * dec(col("n_tot")) - col("pe_num")).cast("double"))
          .cast("long")).as("kappa_milli"))
    marg.join(tp, Seq("cls"), "left")
      .select(col("cls"), col("n_actual"), col("n_pred"),
        coalesce(col("tp"), lit(0L)).as("tp"))
      .crossJoin(broadcast(k))
      .select(col("cls"), col("n_actual"), col("n_pred"), col("tp"),
        when(col("n_pred") > 0,
          expr("(1000000 * tp) div n_pred")).as("prec_ppm"),
        when(col("n_actual") > 0,
          expr("(1000000 * tp) div n_actual")).as("rec_ppm"),
        when(col("n_actual") + col("n_pred") > 0,
          expr("(2000 * tp) div (n_actual + n_pred)")).as("f1_milli"),
        col("kappa_milli"))
      .orderBy("cls")
  }

  /** q175 — corpus composition report: per language, document count,
    * distinct-source count, the language's share of total corpus
    * characters, and the Simpson concentration of its documents over
    * sources (Σ pₛ² — 1/Simpson is the "effective number of sources"
    * feeding that language). The one-page answer to "what does this
    * corpus look like and is any language effectively single-sourced?"
    * that a training-mix designer reads before weighting languages —
    * complements q74 (which SAMPLES a target mixture) and q146 (which
    * reports filter yield) with the upstream supply picture.
    *
    * Exactness: counts int64; char sums and squared source counts
    * accumulate in DECIMAL(38)/HUGEINT (the q154 contract — at corpus
    * scale Σchars·10⁶ and cnt² both pass int64), and each final ratio
    * is ONE IEEE double division floored to ppm — identical chains
    * both engines.
    *
    * Scale design (100 TB): one partial-aggregable pass builds the
    * (lang, source) count/char table — the only fact-sized exchange;
    * n_chars rides the same pass as a sum (the text column itself
    * never moves). Everything after runs on |langs|·|sources| rows.
    * count(DISTINCT source) per lang is exact over that aggregate,
    * not over fact rows. */
  val q175Composition: QueryDef = QueryDef(
    "q175_composition",
    """WITH ls AS (
      |  SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(sum(n_chars) AS BIGINT) AS chars
      |  FROM documents GROUP BY 1, 2),
      |lg AS (
      |  SELECT lang, CAST(sum(n_docs) AS BIGINT) AS n_docs,
      |    CAST(count(*) AS BIGINT) AS n_sources,
      |    sum(CAST(chars AS HUGEINT)) AS chars,
      |    sum(CAST(n_docs AS HUGEINT) * n_docs) AS ss
      |  FROM ls GROUP BY 1),
      |tot AS (SELECT sum(chars) AS tchars FROM lg)
      |SELECT lang, n_docs, n_sources,
      |  CAST(floor(1000000.0 * CAST(lg.chars AS DOUBLE) /
      |             CAST(tot.tchars AS DOUBLE)) AS BIGINT) AS char_share_ppm,
      |  CAST(floor(1000000.0 * CAST(lg.ss AS DOUBLE) /
      |             (CAST(lg.n_docs AS DOUBLE) * CAST(lg.n_docs AS DOUBLE)))
      |    AS BIGINT) AS simpson_ppm
      |FROM lg, tot ORDER BY lang""".stripMargin) { (s, dir) =>
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    val ls = Tables.documents(s, dir)
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars"))
    // the per-lang aggregate feeds BOTH the report and the total —
    // materialize once (|langs| rows) so documents is scanned once
    val lg = ls.groupBy(col("lang"))
      .agg(sum(col("n_docs")).as("n_docs"),
        count(lit(1)).as("n_sources"),
        sum(dec(col("chars"))).as("chars"),
        sum(dec(col("n_docs")) * dec(col("n_docs"))).as("ss"))
      .ckpt()
    val tot = lg.agg(sum(col("chars")).as("tchars"))
    lg.crossJoin(broadcast(tot))
      .select(col("lang"), col("n_docs"), col("n_sources"),
        floor(lit(1000000.0) * col("chars").cast("double") /
          nullif(col("tchars").cast("double"), lit(0d)))
          .cast("bigint").as("char_share_ppm"),
        floor(lit(1000000.0) * col("ss").cast("double") /
          (col("n_docs").cast("double") * col("n_docs").cast("double")))
          .cast("bigint").as("simpson_ppm"))
      .orderBy("lang")
  }

  /** q190 — Heaps'-law fit over shingle-vocabulary growth: log-log
    * regression of cumulative distinct 3-word shingles V(n) on
    * cumulative shingle instances n across 20 corpus vigintiles in
    * doc_id order, reporting the exponent β and the fit r². q148
    * materializes the growth CURVE; this tests whether the growth is
    * LAWFUL — the "will the dedup/minhash dictionary keep exploding
    * at 10× the corpus?" read that sizes shingle dictionaries before
    * a full-corpus run. The SHINGLE space is the right object: a
    * bounded word generator saturates its unigram vocabulary in the
    * first vigintile (31 types at sf0.01 — a degenerate all-equal y
    * axis), while the combinatorial shingle space keeps growing the
    * way real vocabularies do.
    *
    * Exactness: the vigintile bucket is the q148 integer formula at
    * 20 bins; cumulative sums run over the bounded 20-row bucket
    * frame; ln(n) and ln(V) are floored to integer nano-nats per
    * point BEFORE the regression moments (floor-then-sum, q180
    * discipline); moments ride DECIMAL(38)/HUGEINT and the
    * slope/r² are single IEEE chains over exact integers.
    *
    * Scale design (100 TB): shingles explode as an in-row zip_with
    * projection (never re-splitting per element); two corpus passes —
    * instance counts and (shingle, min bucket) first-appearances —
    * each collapsing map-side (q148's shape; materializing the
    * fact-sized shingle stream to share one pass would cost more
    * than the second scan). Everything after lives on the 20-row
    * bucket axis; no window ever sees fact-sized data. */
  val q190HeapsLaw: QueryDef = QueryDef(
    "q190_heaps_law",
    """WITH mx AS (SELECT max(doc_id) AS maxid FROM documents),
      |t AS (
      |  SELECT least(19, (20 * d.doc_id) // (mx.maxid + 1)) AS bucket,
      |    unnest(list_transform(range(1, len(string_split(d.text, ' ')) - 1),
      |      i -> string_split(d.text, ' ')[i] || ' ' ||
      |           string_split(d.text, ' ')[i+1] || ' ' ||
      |           string_split(d.text, ' ')[i+2])) AS tri
      |  FROM documents d, mx),
      |per AS (
      |  SELECT bucket, CAST(count(*) AS BIGINT) AS n_tri
      |  FROM t GROUP BY bucket),
      |nv AS (
      |  SELECT fb AS bucket, CAST(count(*) AS BIGINT) AS n_new
      |  FROM (SELECT tri, min(bucket) AS fb FROM t GROUP BY tri)
      |  GROUP BY fb),
      |cum AS (
      |  SELECT p.bucket,
      |    CAST(sum(p.n_tri) OVER (ORDER BY p.bucket
      |         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS tok_cum,
      |    CAST(sum(coalesce(nv.n_new, 0)) OVER (ORDER BY p.bucket
      |         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS voc_cum
      |  FROM per p LEFT JOIN nv ON nv.bucket = p.bucket),
      |xy AS (
      |  SELECT CAST(floor(1000000000.0 * ln(CAST(tok_cum AS DOUBLE))) AS BIGINT) AS x,
      |    CAST(floor(1000000000.0 * ln(CAST(voc_cum AS DOUBLE))) AS BIGINT) AS y
      |  FROM cum),
      |m AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |    sum(CAST(x AS HUGEINT) * y) AS sxy,
      |    sum(CAST(x AS HUGEINT) * x) AS sxx,
      |    sum(CAST(y AS HUGEINT) * y) AS syy
      |  FROM xy)
      |SELECT n AS n_points,
      |  CAST(floor(1000.0 *
      |    CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE) /
      |    CAST(n * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)) AS BIGINT)
      |    AS beta_milli,
      |  CAST(floor(1000000.0 *
      |    (CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE) *
      |     CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)) /
      |    (CAST(n * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE) *
      |     CAST(n * syy - CAST(sy AS HUGEINT) * sy AS DOUBLE))) AS BIGINT)
      |    AS r2_ppm
      |FROM m""".stripMargin) { (s, dir) =>
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val docs = Corpus.tokenized(s, dir) // shared corpus tokenize
    val mx = docs.agg(max(col("doc_id")).as("maxid"))
      .ckpt() // 1-row frame; keeps the max pass out of both shingle scans
    val ts3 = col("tk")
    val tri = zip_with(
      slice(ts3, lit(1), greatest(lit(0), size(ts3) - 2)),
      zip_with(
        slice(ts3, lit(2), greatest(lit(0), size(ts3) - 2)),
        slice(ts3, lit(3), greatest(lit(0), size(ts3) - 2)),
        (b, c) => concat(b, lit(" "), c)),
      (a, bc) => concat(a, lit(" "), bc))
    val t = docs
      .crossJoin(broadcast(mx))
      .select(
        least(lit(19L), expr("(20 * doc_id) div (maxid + 1)")).as("bucket"),
        explode(tri).as("tri"))
    val per = t.groupBy(col("bucket")).agg(count(lit(1)).as("n_tri"))
    val nv = t.groupBy(col("tri")).agg(min(col("bucket")).as("fb"))
      .groupBy(col("fb")).agg(count(lit(1)).as("n_new"))
    // 20 rows total: the unpartitioned window is bounded by design
    val cw = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val xy = per.join(nv, per("bucket") === nv("fb"), "left")
      .select(per("bucket"), col("n_tri"),
        coalesce(col("n_new"), lit(0L)).as("n_new"))
      .withColumn("tok_cum", sum(col("n_tri")).over(cw))
      .withColumn("voc_cum", sum(col("n_new")).over(cw))
      .select(
        floor(lit(1000000000.0) * log(col("tok_cum").cast("double")))
          .cast("bigint").as("x"),
        floor(lit(1000000000.0) * log(col("voc_cum").cast("double")))
          .cast("bigint").as("y"))
    val m = xy.agg(count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(dec(col("x")) * col("y")).as("sxy"),
      sum(dec(col("x")) * col("x")).as("sxx"),
      sum(dec(col("y")) * col("y")).as("syy"))
    val num = (dec(col("n")) * col("sxy") - dec(col("sx")) * col("sy"))
      .cast("double")
    val dx = (dec(col("n")) * col("sxx") - dec(col("sx")) * col("sx"))
      .cast("double")
    val dy = (dec(col("n")) * col("syy") - dec(col("sy")) * col("sy"))
      .cast("double")
    m.select(col("n").as("n_points"),
      floor(lit(1000.0) * num / dx).cast("bigint").as("beta_milli"),
      floor(lit(1000000.0) * (num * num) / (dx * dy))
        .cast("bigint").as("r2_ppm"))
  }

  /** q197 — keyword extraction by chi-square keyness: for each
    * source, the tokens most over-represented versus the rest of the
    * corpus (the log-likelihood/keyness family of corpus linguistics,
    * on the χ² statistic q123 already uses for contingency drift).
    * Each (source, token) forms a 2×2 table — {token, ¬token} ×
    * {source, rest} — and the top 50 positively-keyed cells are the
    * source's signature vocabulary.
    *
    * Exactness: the 2×2 cross-product residual collapses
    * algebraically to d = a·N − tf·cs (a = in-source hits, tf = total
    * hits, cs = source token count, N = corpus tokens), exact int64
    * at any shipped scale (|d| < 2⁵³ — headroom noted below); χ² ppm
    * is ONE left-associated IEEE chain + floor, the q108/q123
    * contract. The positivity filter a·N > tf·cs and the a ≥ 5 noise
    * floor are pure integer predicates.
    *
    * Scale design (100 TB): token explode → (source, token) counts is
    * partial-aggregable; the margins join back on token (equi-join,
    * same cardinality as the count table) and on source (bounded,
    * broadcast); N is a 1-row broadcast. The top 50 is TakeOrdered
    * (per-partition heaps), never a global sort. Past ~10¹³ corpus
    * tokens d needs the DECIMAL(38) route — documented, not shipped,
    * as int64·int64 residuals stay exact through sf100. */
  val q197Keyness: QueryDef = QueryDef(
    "q197_keyness",
    """WITH tok AS (
      |  SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents),
      |a AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS a
      |      FROM tok GROUP BY 1, 2),
      |cs AS (SELECT source, CAST(count(*) AS BIGINT) AS cs FROM tok GROUP BY 1),
      |tf AS (SELECT tok, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY 1),
      |n AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM tok),
      |g AS (
      |  SELECT a.source, a.tok, a.a, cs.cs, tf.tf, n.nn,
      |    a.a * n.nn - tf.tf * cs.cs AS d
      |  FROM a JOIN cs ON cs.source = a.source
      |         JOIN tf ON tf.tok = a.tok
      |         CROSS JOIN n)
      |SELECT source, tok, a AS hits,
      |  CAST(floor((CAST(d AS DOUBLE) * d * nn * 1000000.0) /
      |       (((CAST(tf AS DOUBLE) * (nn - tf)) * cs) * (nn - cs)))
      |       AS BIGINT) AS chi2_ppm
      |FROM g
      |WHERE a >= 5 AND d > 0
      |ORDER BY chi2_ppm DESC, source, tok
      |LIMIT 50""".stripMargin) { (s, dir) =>
    val tok = Tables.documents(s, dir)
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
    val a = tok.groupBy("source", "tok").agg(count(lit(1)).as("a"))
    val cs = tok.groupBy("source").agg(count(lit(1)).as("cs"))
    val tf = tok.groupBy("tok").agg(count(lit(1)).as("tf"))
    val n = tok.agg(count(lit(1)).as("nn"))
    a.join(broadcast(cs), "source")
      .join(tf, "tok")
      .crossJoin(broadcast(n))
      .withColumn("d", col("a") * col("nn") - col("tf") * col("cs"))
      .filter(col("a") >= 5 && col("d") > 0)
      .select(col("source"), col("tok"), col("a").as("hits"),
        floor((col("d").cast("double") * col("d") * col("nn") * lit(1000000.0)) /
          (((col("tf").cast("double") * (col("nn") - col("tf"))) * col("cs")) *
            (col("nn") - col("cs"))))
          .cast("bigint").as("chi2_ppm"))
      .orderBy(col("chi2_ppm").desc, col("source"), col("tok"))
      .limit(50)
  }

  /** q198 — readability profile per language: mean words-per-sentence
    * and syllables-per-word (vowel-group heuristic), plus the Flesch
    * reading-ease score they imply — the classic text-quality gate
    * that catches both telegraphic fragments (tiny wps) and
    * machine-generated run-ons (huge wps) before they reach a
    * training mix.
    *
    * Exactness: sentence/word/syllable counts are integer regex/split
    * lengths; the two ratios are non-negative integer ppm floor-divs
    * over SUMMED counts (ratio-of-sums, not mean-of-ratios — one
    * division per group, not per doc); the Flesch score applies the
    * published coefficients (206.835, 1.015, 84.6) as exact integer
    * milli-operations on those ppms. The score itself may go negative
    * but no division follows the subtraction, so the Spark-div/
    * DuckDB-// sign divergence never engages.
    *
    * Scale design (100 TB): one pass, partial-aggregable sums on a
    * bounded lang key; the per-doc derivations are per-row codegen'd
    * expressions. No joins, no windows, no explode (lengths only). */
  val q198Readability: QueryDef = QueryDef(
    "q198_readability",
    """WITH d AS (
      |  SELECT lang,
      |    CAST(len(string_split(text, '.')) AS BIGINT) AS n_sent,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
      |    CAST(len(regexp_extract_all(text, '[aeiou]+')) AS BIGINT) AS n_syll
      |  FROM documents)
      |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_words) AS BIGINT) AS words,
      |  CAST((1000000 * CAST(sum(n_words) AS BIGINT)) // CAST(sum(n_sent) AS BIGINT)
      |       AS BIGINT) AS wps_ppm,
      |  CAST((1000000 * CAST(sum(n_syll) AS BIGINT)) // CAST(sum(n_words) AS BIGINT)
      |       AS BIGINT) AS spw_ppm,
      |  206835
      |    - (1015 * ((1000000 * CAST(sum(n_words) AS BIGINT)) // CAST(sum(n_sent) AS BIGINT))) // 1000000
      |    - (84600 * ((1000000 * CAST(sum(n_syll) AS BIGINT)) // CAST(sum(n_words) AS BIGINT))) // 1000000
      |    AS flesch_milli
      |FROM d GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
    val d = Tables.documents(s, dir)
      .select(col("lang"),
        size(split(col("text"), "\\.")).cast("bigint").as("n_sent"),
        size(split(col("text"), " ")).cast("bigint").as("n_words"),
        size(expr("regexp_extract_all(text, '[aeiou]+', 0)")).cast("bigint")
          .as("n_syll"))
    d.groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_words").as("words"),
        sum("n_sent").as("sents"),
        sum("n_syll").as("sylls"))
      .select(col("lang"), col("n_docs"), col("words"),
        expr("(1000000 * words) div sents").as("wps_ppm"),
        expr("(1000000 * sylls) div words").as("spw_ppm"),
        expr("""206835
          - (1015 * ((1000000 * words) div sents)) div 1000000
          - (84600 * ((1000000 * sylls) div words)) div 1000000""")
          .as("flesch_milli"))
      .drop("sents", "sylls")
      .orderBy("lang")
  }

  /** q200 — term burstiness (dispersion index): for the 50 highest-DF
    * tokens, the variance-to-mean ratio of their per-document counts
    * over the documents that contain them. DI ≈ 1 is Poisson
    * (function words sprinkle uniformly); DI ≫ 1 is bursty (topical
    * words clump) — the corpus-linguistics signal separating
    * stopwords from content words without any stopword list, and a
    * quality flag for template-spam (abnormally bursty boilerplate
    * tokens).
    *
    * Exactness: per-doc counts are integers, so the moment identity
    * var/mean = (n·Q − S²)/(n·S) is EXACT integer arithmetic (S=Σc,
    * Q=Σc²); n·Q − S² ≥ 0 by Cauchy–Schwarz, so the single ppm
    * floor-div stays on the non-negative Spark-div ≡ DuckDB-//
    * domain. DECIMAL(38)/HUGEINT carries the cross-products past
    * int64 at production scale.
    *
    * Scale design (100 TB): (doc, token) counts are one
    * partial-aggregable explode pass; DF and the moments fold into
    * the SAME second aggregate (count/sum/sum-of-squares per token);
    * the top-50 cut is TakeOrdered (per-partition heaps), never a
    * global sort. No joins at all. */
  val q200Burstiness: QueryDef = QueryDef(
    "q200_burstiness",
    """WITH tc AS (
      |  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      |        FROM documents)
      |  GROUP BY 1, 2),
      |m AS (
      |  SELECT tok, CAST(count(*) AS BIGINT) AS df,
      |    CAST(sum(c) AS BIGINT) AS s, CAST(sum(c * c) AS BIGINT) AS q
      |  FROM tc GROUP BY tok)
      |SELECT tok, df, s AS occurrences,
      |  CAST((CAST(1000000 AS HUGEINT) *
      |        (df * CAST(q AS HUGEINT) - CAST(s AS HUGEINT) * s))
      |       // (df * CAST(s AS HUGEINT)) AS BIGINT) AS di_ppm
      |FROM m
      |ORDER BY df DESC, tok
      |LIMIT 50""".stripMargin) { (s, dir) =>
    Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("doc_id", "tok")
      .agg(count(lit(1)).as("c"))
      .groupBy("tok")
      .agg(count(lit(1)).as("df"), sum("c").as("s"),
        sum(col("c") * col("c")).as("q"))
      .select(col("tok"), col("df"), col("s").as("occurrences"),
        expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * " +
          "(df * CAST(q AS DECIMAL(38,0)) - CAST(s AS DECIMAL(38,0)) * s)) " +
          "div (df * CAST(s AS DECIMAL(38,0))) AS BIGINT)").as("di_ppm"))
      .orderBy(col("df").desc, col("tok"))
      .limit(50)
  }

  /** q215 — Kneser–Ney bigram cross-entropy per language: the
    * interpolated-KN model (absolute discount d = 3/4, continuation-
    * count backoff) trained on the even-doc shard and scored on the
    * held-out odd shard — next to q181's add-one model this is the
    * smoothing that actually ships in n-gram LMs, and its backoff
    * distribution is the famous part: a word's backoff mass is how
    * many CONTEXTS it completes (continuation count), not how often
    * it occurs — "francisco" is frequent but only follows "san", so
    * KN backs off to it far less than raw frequency would. (On the
    * driver's uniform word-soup corpus continuation counts carry no
    * extra signal, so q215 ≈ q181 there by construction; the gate
    * tests the arithmetic, real corpora supply the win.)
    *
    * Exactness: d = 3/4 is dyadic, so the discounted numerator
    * max(4c₁₂ − 3, 0) and the λ numerator 3·N1+(x·) are EXACT
    * integers over ×4-scaled counts; each test bigram's probability
    * is ONE literally-parallel IEEE chain (the continuation term adds
    * +1/(T+V) smoothing so P > 0 even for unseen words), floored to
    * nano-NLL integers, and the per-language mean is an integer
    * HUGEINT-weighted sum — the q181 determinism pattern.
    *
    * OOV-context rule: a context is OOV if it is unigram-unseen OR
    * never opens a training bigram (occurs only doc-finally: in c1
    * but not n1p) — the latter has no context distribution to
    * discount, so it backs off to the continuation model rather than
    * NULLing the interpolation (which would silently drop its mass
    * from the weighted mean).
    *
    * Scale design (100 TB): four partial-aggregable count tables
    * (bigram, context, continuation-left, continuation-right — the
    * latter two are group-bys OVER the bigram table, not new fact
    * passes), equi-joins on unbounded keys with size-based broadcast
    * left to Spark, two 1-row broadcast frames, |langs| output. */
  val q215KnPpl: QueryDef = QueryDef(
    "q215_kn_ppl",
    """WITH tr AS (
      |  SELECT string_split(text, ' ') AS tk FROM documents
      |  WHERE doc_id % 2 = 0),
      |te AS (
      |  SELECT lang, string_split(text, ' ') AS tk FROM documents
      |  WHERE doc_id % 2 = 1),
      |u AS (SELECT unnest(tk) AS x FROM tr),
      |v AS (SELECT CAST(count(DISTINCT x) AS BIGINT) AS vs FROM u),
      |c1 AS (SELECT x, CAST(count(*) AS BIGINT) AS c FROM u GROUP BY x),
      |c2 AS (
      |  SELECT tk[CAST(i AS INT)] AS x, tk[CAST(i AS INT)+1] AS y,
      |    CAST(count(*) AS BIGINT) AS c
      |  FROM tr, unnest(range(1, len(tk))) AS r(i) GROUP BY 1, 2),
      |n1p AS (SELECT x, CAST(count(*) AS BIGINT) AS n FROM c2 GROUP BY x),
      |ncy AS (SELECT y, CAST(count(*) AS BIGINT) AS n FROM c2 GROUP BY y),
      |tt AS (SELECT CAST(count(*) AS BIGINT) AS t FROM c2),
      |tb AS (
      |  SELECT lang, tk[CAST(i AS INT)] AS x, tk[CAST(i AS INT)+1] AS y,
      |    CAST(count(*) AS BIGINT) AS m
      |  FROM te, unnest(range(1, len(tk))) AS r(i) GROUP BY 1, 2, 3),
      |sc AS (
      |  SELECT tb.lang, tb.m,
      |    CASE WHEN c1.c IS NULL OR n1p.n IS NULL THEN 1 ELSE 0 END AS oov_ctx,
      |    CAST(floor(1000000000.0 * (-ln(
      |      CASE WHEN c1.c IS NULL OR n1p.n IS NULL
      |        THEN (CAST(coalesce(ncy.n, 0) AS DOUBLE) + 1.0) / (CAST(tt.t AS DOUBLE) + v.vs)
      |        ELSE CAST(greatest(4 * coalesce(c2.c, 0) - 3, 0) AS DOUBLE) / (4.0 * c1.c)
      |          + ((3.0 * n1p.n) / (4.0 * c1.c))
      |            * ((CAST(coalesce(ncy.n, 0) AS DOUBLE) + 1.0) / (CAST(tt.t AS DOUBLE) + v.vs))
      |      END))) AS BIGINT) AS nll_nn
      |  FROM tb LEFT JOIN c2 ON tb.x = c2.x AND tb.y = c2.y
      |  LEFT JOIN c1 ON tb.x = c1.x
      |  LEFT JOIN n1p ON tb.x = n1p.x
      |  LEFT JOIN ncy ON tb.y = ncy.y, tt, v)
      |SELECT lang, CAST(sum(m) AS BIGINT) AS n_bigrams,
      |  CAST(sum(m * oov_ctx) AS BIGINT) AS n_oov_ctx,
      |  CAST(sum(CAST(m AS HUGEINT) * nll_nn) //
      |       CAST(sum(m) AS HUGEINT) AS BIGINT) AS avg_nll_nn
      |FROM sc GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
    val tk = col("tk")
    def bigrams(df: DataFrame, extra: Seq[Column]): DataFrame =
      df.filter(size(tk) >= 2)
        .select(extra :+ explode(zip_with(
          slice(tk, lit(1), size(tk) - 1),
          slice(tk, lit(2), size(tk) - 1),
          (x, y) => struct(x.as("x"), y.as("y")))).as("p"): _*)
        .select(extra :+ col("p.x").as("x") :+ col("p.y").as("y"): _*)
    val docs = Tables.documents(s, dir)
      .repartition(col("doc_id")) // single-file scan -> use every core
      .select(col("doc_id"), col("lang"), split(col("text"), " ").as("tk"))
    val tr = docs.filter(col("doc_id") % 2 === 0)
    val te = docs.filter(col("doc_id") % 2 === 1)
    val uni = tr.select(explode(tk).as("x"))
    val v = uni.agg(count_distinct(col("x")).as("vs"))
    val c1 = uni.groupBy(col("x")).agg(count(lit(1)).as("c1c"))
    val c2 = bigrams(tr, Seq.empty)
      .groupBy(col("x"), col("y")).agg(count(lit(1)).as("c2c"))
      .ckpt() // feeds n1p, ncy, tt AND the score join
    val n1p = c2.groupBy(col("x")).agg(count(lit(1)).as("n1pn"))
    val ncy = c2.groupBy(col("y")).agg(count(lit(1)).as("ncyn"))
    val tt = c2.agg(count(lit(1)).as("t"))
    val tb = bigrams(te, Seq(col("lang")))
      .groupBy(col("lang"), col("x"), col("y")).agg(count(lit(1)).as("m"))
    tb.join(c2, Seq("x", "y"), "left")
      .join(c1, Seq("x"), "left")
      .join(n1p, Seq("x"), "left")
      .join(ncy, Seq("y"), "left")
      .crossJoin(broadcast(tt)).crossJoin(broadcast(v))
      .select(col("lang"), col("m"),
        when(col("c1c").isNull || col("n1pn").isNull, 1L).otherwise(0L).as("oov_ctx"),
        expr(
          """CAST(floor(1000000000.0 * (-ln(
            |  CASE WHEN c1c IS NULL OR n1pn IS NULL
            |    THEN (CAST(coalesce(ncyn, 0) AS DOUBLE) + 1.0d) / (CAST(t AS DOUBLE) + vs)
            |    ELSE CAST(greatest(4 * coalesce(c2c, 0) - 3, 0) AS DOUBLE) / (4.0d * c1c)
            |      + ((3.0d * n1pn) / (4.0d * c1c))
            |        * ((CAST(coalesce(ncyn, 0) AS DOUBLE) + 1.0d) / (CAST(t AS DOUBLE) + vs))
            |  END))) AS BIGINT)""".stripMargin).as("nll_nn"))
      .groupBy(col("lang"))
      .agg(sum(col("m")).as("n_bigrams"),
        sum(col("m") * col("oov_ctx")).as("n_oov_ctx"),
        expr("CAST(sum(CAST(m AS DECIMAL(38,0)) * nll_nn) div CAST(sum(m) AS DECIMAL(38,0)) AS BIGINT)")
          .as("avg_nll_nn"))
      .orderBy("lang")
  }

  /** q216 — negative-sampling table: the unigram^(3/4) sampling
    * distribution word2vec-style training draws its negatives from —
    * the 3/4 power flattens the head so frequent words aren't
    * over-sampled and the tail isn't starved. Emits the top 30
    * tokens by smoothed weight with their raw and smoothed sampling
    * shares (ppm), the artifact a contrastive-training pipeline
    * materializes per corpus snapshot.
    *
    * Exactness: c^(3/4) = sqrt(c·sqrt(c)) — IEEE sqrt is CORRECTLY
    * ROUNDED (unlike pow, which is only faithfully rounded and may
    * differ between libm builds), so the two-sqrt chain is
    * bit-identical in both engines; weights floor to integers and
    * the shares are HUGEINT ppm floor-divs.
    *
    * Scale design (100 TB): one partial-aggregable token count, one
    * 1-row broadcast total of the smoothed weights, TakeOrdered for
    * the top slice. */
  val q216NegativeSampling: QueryDef = QueryDef(
    "q216_negative_sampling",
    """WITH c AS (
      |  SELECT tok, CAST(count(*) AS BIGINT) AS c
      |  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
      |  GROUP BY tok),
      |w AS (
      |  SELECT tok, c,
      |    CAST(floor(sqrt(c * sqrt(CAST(c AS DOUBLE)))) AS BIGINT) AS w
      |  FROM c),
      |t AS (SELECT CAST(sum(c) AS BIGINT) AS tc, CAST(sum(w) AS BIGINT) AS tw
      |      FROM w)
      |SELECT tok, c, w,
      |  CAST((CAST(1000000 AS HUGEINT) * c) // t.tc AS BIGINT) AS raw_ppm,
      |  CAST((CAST(1000000 AS HUGEINT) * w) // t.tw AS BIGINT) AS smoothed_ppm
      |FROM w, t
      |ORDER BY w DESC, tok
      |LIMIT 30""".stripMargin) { (s, dir) =>
    val c = Tables.documents(s, dir)
      .select(explode(split(col("text"), " ")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))
    val w = c.withColumn("w",
      floor(sqrt(col("c") * sqrt(col("c").cast("double")))).cast("bigint"))
    val t = w.agg(sum("c").as("tc"), sum("w").as("tw"))
    w.crossJoin(broadcast(t))
      .select(col("tok"), col("c"), col("w"),
        expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * c) div tc AS BIGINT)")
          .as("raw_ppm"),
        expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * w) div tw AS BIGINT)")
          .as("smoothed_ppm"))
      .orderBy(col("w").desc, col("tok"))
      .limit(30)
  }

  /** q221 — scaling-law fit: train the add-one bigram LM on nested
    * fractions of the training shard (1/16, 1/8, 1/4, 1/2 of the
    * corpus), score each model on the SAME held-out shard, and fit
    * ln(loss) = a + b·ln(tokens) — the data-scaling exponent b < 0
    * that says how fast more data buys lower loss, the curve every
    * "how much data do we need" decision reads off. Emits one row
    * per model size plus the fitted-slope row.
    *
    * Exactness: each model's NLL rides the q181 nano-int pattern;
    * the 4-point log-log fit floors ln(tokens) and ln(nll) to
    * nano-ints FIRST, accumulates the OLS moments as exact
    * DECIMAL(38) integers (float sums over rows would be
    * association-order-dependent), and performs ONE IEEE division +
    * floor at the end.
    *
    * Scale design (100 TB): the size axis is a 4-element literal
    * cross join BEFORE the count aggregates, so all four models
    * build in the same two partial-aggregable passes (size just
    * widens the key); scoring is the same per-size equi-join as
    * q181; the fit runs on 4 rows. */
  val q221ScalingLaw: QueryDef = QueryDef(
    "q221_scaling_law",
    """WITH sz AS (SELECT CAST(unnest([2, 4, 8, 16]) AS BIGINT) AS s),
      |tr AS (
      |  SELECT sz.s, string_split(text, ' ') AS tk
      |  FROM documents CROSS JOIN sz
      |  WHERE doc_id % 2 = 0 AND (doc_id // 2) % (sz.s // 2) = 0),
      |te AS (
      |  SELECT string_split(text, ' ') AS tk FROM documents
      |  WHERE doc_id % 2 = 1),
      |u AS (SELECT s, unnest(tk) AS x FROM tr),
      |v AS (SELECT s, CAST(count(DISTINCT x) AS BIGINT) AS vs,
      |      CAST(count(*) AS BIGINT) AS toks FROM u GROUP BY s),
      |c1 AS (SELECT s, x, CAST(count(*) AS BIGINT) AS c FROM u GROUP BY 1, 2),
      |c2 AS (
      |  SELECT s, tk[CAST(i AS INT)] AS x, tk[CAST(i AS INT)+1] AS y,
      |    CAST(count(*) AS BIGINT) AS c
      |  FROM tr, unnest(range(1, len(tk))) AS r(i) GROUP BY 1, 2, 3),
      |tb AS (
      |  SELECT tk[CAST(i AS INT)] AS x, tk[CAST(i AS INT)+1] AS y,
      |    CAST(count(*) AS BIGINT) AS m
      |  FROM te, unnest(range(1, len(tk))) AS r(i) GROUP BY 1, 2),
      |sc AS (
      |  SELECT v.s, tb.m,
      |    CAST(floor(1000000000.0 *
      |      (-ln(CAST(coalesce(c2.c, 0) + 1 AS DOUBLE) /
      |           CAST(coalesce(c1.c, 0) + v.vs AS DOUBLE)))) AS BIGINT) AS nll_nn
      |  FROM tb CROSS JOIN v
      |  LEFT JOIN c2 ON c2.s = v.s AND tb.x = c2.x AND tb.y = c2.y
      |  LEFT JOIN c1 ON c1.s = v.s AND tb.x = c1.x),
      |pt AS (
      |  SELECT sc.s, v.toks,
      |    CAST(sum(CAST(m AS HUGEINT) * nll_nn) // CAST(sum(m) AS HUGEINT)
      |         AS BIGINT) AS avg_nll_nn
      |  FROM sc JOIN v ON v.s = sc.s GROUP BY sc.s, v.toks),
      |lg AS (
      |  SELECT s, toks, avg_nll_nn,
      |    CAST(floor(1000000000.0 * ln(CAST(toks AS DOUBLE))) AS BIGINT) AS lx,
      |    CAST(floor(1000000000.0 * ln(CAST(avg_nll_nn AS DOUBLE) / 1000000000.0))
      |         AS BIGINT) AS ly
      |  FROM pt),
      |fit AS (
      |  SELECT CAST(floor((CAST(CAST(count(*) AS HUGEINT) * sum(CAST(lx AS HUGEINT) * ly)
      |                          - CAST(sum(lx) AS HUGEINT) * sum(ly) AS DOUBLE) * 1000.0)
      |             / CAST(CAST(count(*) AS HUGEINT) * sum(CAST(lx AS HUGEINT) * lx)
      |                          - CAST(sum(lx) AS HUGEINT) * sum(lx) AS DOUBLE))
      |       AS BIGINT) AS b_milli
      |  FROM lg)
      |SELECT CAST(s AS BIGINT) AS model, toks AS train_tokens, avg_nll_nn,
      |  NULL AS b_milli
      |FROM lg
      |UNION ALL
      |SELECT 0, NULL, NULL, b_milli FROM fit
      |ORDER BY model""".stripMargin) { (s, dir) =>
    val tk = col("tk")
    def bigrams(df: DataFrame, extra: Seq[Column]): DataFrame =
      df.filter(size(tk) >= 2)
        .select(extra :+ explode(zip_with(
          slice(tk, lit(1), size(tk) - 1),
          slice(tk, lit(2), size(tk) - 1),
          (x, y) => struct(x.as("x"), y.as("y")))).as("p"): _*)
        .select(extra :+ col("p.x").as("x") :+ col("p.y").as("y"): _*)
    val docs = Tables.documents(s, dir)
      .repartition(col("doc_id"))
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
    val sz = s.range(1).select(explode(array(
      lit(2L), lit(4L), lit(8L), lit(16L))).as("s"))
    val tr = docs.filter(col("doc_id") % 2 === 0).crossJoin(sz)
      .filter(expr("(doc_id div 2) % (s div 2) = 0"))
      .select(col("s"), tk)
    val te = docs.filter(col("doc_id") % 2 === 1).select(tk)
    val u = tr.select(col("s"), explode(tk).as("x"))
    val v = u.groupBy(col("s"))
      .agg(count_distinct(col("x")).as("vs"), count(lit(1)).as("toks"))
    val c1 = u.groupBy(col("s"), col("x")).agg(count(lit(1)).as("c1c"))
    val c2 = bigrams(tr, Seq(col("s")))
      .groupBy(col("s"), col("x"), col("y")).agg(count(lit(1)).as("c2c"))
    val tb = bigrams(te, Seq.empty)
      .groupBy(col("x"), col("y")).agg(count(lit(1)).as("m"))
    val sc = tb.crossJoin(broadcast(v))
      .join(c2, Seq("s", "x", "y"), "left")
      .join(c1, Seq("s", "x"), "left")
      .select(col("s"), col("toks"), col("m"),
        expr("""CAST(floor(1000000000.0 *
          (-ln(CAST(coalesce(c2c, 0) + 1 AS DOUBLE) /
               CAST(coalesce(c1c, 0) + vs AS DOUBLE)))) AS BIGINT)""")
          .as("nll_nn"))
    val pt = sc.groupBy(col("s"), col("toks"))
      .agg(expr("CAST(sum(CAST(m AS DECIMAL(38,0)) * nll_nn) div CAST(sum(m) AS DECIMAL(38,0)) AS BIGINT)")
        .as("avg_nll_nn"))
    val lg = pt.select(col("s"), col("toks"), col("avg_nll_nn"),
      expr("CAST(floor(1000000000.0 * ln(CAST(toks AS DOUBLE))) AS BIGINT)").as("lx"),
      expr("CAST(floor(1000000000.0 * ln(CAST(avg_nll_nn AS DOUBLE) / 1000000000.0)) AS BIGINT)").as("ly"))
      .ckpt() // feeds both the per-size rows and the fit
    val fit = lg.agg(expr(
      """CAST(floor((CAST(CAST(count(*) AS DECIMAL(38,0)) * sum(CAST(lx AS DECIMAL(38,0)) * ly)
        |     - CAST(sum(lx) AS DECIMAL(38,0)) * sum(ly) AS DOUBLE) * 1000.0)
        |   / CAST(CAST(count(*) AS DECIMAL(38,0)) * sum(CAST(lx AS DECIMAL(38,0)) * lx)
        |     - CAST(sum(lx) AS DECIMAL(38,0)) * sum(lx) AS DOUBLE))
        |AS BIGINT)""".stripMargin).as("b_milli"))
    lg.select(col("s").as("model"), col("toks").as("train_tokens"),
        col("avg_nll_nn"), lit(null).cast("long").as("b_milli"))
      .unionAll(fit.select(lit(0L).as("model"),
        lit(null).cast("long").as("train_tokens"),
        lit(null).cast("long").as("avg_nll_nn"), col("b_milli")))
      .orderBy("model")
  }

  /** q232 — leave-one-source-out influence: for every corpus source,
    * how much does REMOVING that source's documents from the unigram
    * LM hurt the model's fit on the source's own text? Per source,
    * the mean token log-prob under the LOO model (trained on all
    * other sources, Laplace-smoothed over the LOO vocabulary) minus
    * the mean under the full-corpus model — the data-valuation
    * readout ("how much does this source rely on mass only it
    * contributes") that ranks sources for curation: near-zero
    * influence = redundant with the rest of the corpus; large
    * negative = unique (or an outlier to quarantine).
    *
    * Exactness: the evaluation NEVER re-tokenizes per model — both
    * scores are Σ c_sw · lp(w) over the (source, word) count grain,
    * where the LOO count is the subtraction g_w − c_sw and the
    * smoothing denominators (N − N_s, V − |words unique to s|) are
    * exact integers; each distinct (word, source) gets ONE nano-nat
    * floored ln (q91 contract) and the sums are exact int64
    * (|lp| ≤ ~40·10⁹ nano-nats ⇒ safe through ~10⁸ tokens per
    * source; past that the products lift to DECIMAL(38)). Means are
    * single IEEE divides of exact integers.
    *
    * Scale design (100 TB): one tokenize pass to (source, word)
    * counts — the only fact-sized exchange; the global word frame
    * joins back by word equi-key (NOT broadcast — web-scale vocab);
    * per-source constants are a |sources|-row broadcast; all 20 LOO
    * models are scored in the SAME pass (the subtraction trick — no
    * per-model retrain, no loop). */
  val q232LooInfluence: QueryDef = QueryDef(
    "q232_loo_influence",
    """WITH tok AS (SELECT source AS s, unnest(string_split(text, ' ')) AS w
      |            FROM documents),
      |sw AS (SELECT s, w, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY s, w),
      |g AS (SELECT w, CAST(sum(c) AS BIGINT) AS gc,
      |             CAST(count(*) AS BIGINT) AS nsrc FROM sw GROUP BY w),
      |tot AS (SELECT CAST(sum(gc) AS BIGINT) AS nn,
      |               CAST(count(*) AS BIGINT) AS v FROM g),
      |per AS (SELECT s, CAST(sum(c) AS BIGINT) AS ns FROM sw GROUP BY s),
      |uq AS (SELECT sw.s, CAST(count(*) AS BIGINT) AS uniq
      |       FROM sw JOIN g ON g.w = sw.w WHERE g.nsrc = 1 GROUP BY sw.s),
      |consts AS (
      |  SELECT per.s, tot.nn, tot.v,
      |    tot.nn - per.ns AS n_loo, tot.v - coalesce(uq.uniq, 0) AS v_loo
      |  FROM per LEFT JOIN uq ON uq.s = per.s, tot),
      |terms AS (
      |  SELECT sw.s, sw.c,
      |    CAST(floor(1000000000.0 * ln(CAST(g.gc - sw.c + 1 AS DOUBLE) /
      |      CAST(consts.n_loo + consts.v_loo AS DOUBLE))) AS BIGINT) AS lp_loo,
      |    CAST(floor(1000000000.0 * ln(CAST(g.gc + 1 AS DOUBLE) /
      |      CAST(consts.nn + consts.v AS DOUBLE))) AS BIGINT) AS lp_full
      |  FROM sw JOIN g ON g.w = sw.w JOIN consts ON consts.s = sw.s),
      |agg AS (
      |  SELECT s, CAST(sum(c) AS BIGINT) AS n_tok,
      |    CAST(sum(c * lp_loo) AS BIGINT) AS sum_loo,
      |    CAST(sum(c * lp_full) AS BIGINT) AS sum_full
      |  FROM terms GROUP BY s),
      |dn AS (SELECT source AS s, CAST(count(*) AS BIGINT) AS n_docs
      |       FROM documents GROUP BY source)
      |SELECT agg.s AS source, dn.n_docs, agg.n_tok,
      |  CAST(agg.sum_loo AS DOUBLE) / CAST(agg.n_tok AS DOUBLE) AS mean_lp_loo_nn,
      |  CAST(agg.sum_full AS DOUBLE) / CAST(agg.n_tok AS DOUBLE) AS mean_lp_full_nn,
      |  CAST(agg.sum_loo AS DOUBLE) / CAST(agg.n_tok AS DOUBLE) -
      |  CAST(agg.sum_full AS DOUBLE) / CAST(agg.n_tok AS DOUBLE) AS influence_nn
      |FROM agg JOIN dn ON dn.s = agg.s
      |ORDER BY source""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    val tok = docs.repartition(col("doc_id")) // single-file scan -> all cores
      .select(col("source").as("s"), explode(split(col("text"), " ")).as("w"))
    val sw = tok.groupBy("s", "w").agg(count(lit(1)).as("c"))
      .ckpt() // feeds global counts, per-source totals, terms
    val g = sw.groupBy("w").agg(sum("c").as("gc"), count(lit(1)).as("nsrc"))
    val tot = g.agg(sum("gc").as("nn"), count(lit(1)).as("v"))
    val per = sw.groupBy("s").agg(sum("c").as("ns"))
    val uq = sw.join(g.filter(col("nsrc") === 1).select("w"), "w")
      .groupBy("s").agg(count(lit(1)).as("uniq"))
    val consts = per.join(uq.withColumnRenamed("s", "uq_s"),
        col("s") === col("uq_s"), "left")
      .crossJoin(broadcast(tot))
      .select(col("s").as("c_s"), col("nn"), col("v"),
        (col("nn") - col("ns")).as("n_loo"),
        (col("v") - coalesce(col("uniq"), lit(0L))).as("v_loo"))
    val nano = (x: Column) => floor(lit(1000000000.0) * log(x)).cast("long")
    val terms = sw.join(g.select(col("w"), col("gc")), "w")
      .join(broadcast(consts), col("s") === col("c_s"))
      .select(col("s"), col("c"),
        nano((col("gc") - col("c") + 1).cast("double") /
          (col("n_loo") + col("v_loo")).cast("double")).as("lp_loo"),
        nano((col("gc") + 1).cast("double") /
          (col("nn") + col("v")).cast("double")).as("lp_full"))
    val agg = terms.groupBy("s")
      .agg(sum("c").as("n_tok"),
        sum(col("c") * col("lp_loo")).as("sum_loo"),
        sum(col("c") * col("lp_full")).as("sum_full"))
    val dn = docs.groupBy(col("source").as("dn_s")).agg(count(lit(1)).as("n_docs"))
    val meanLoo = col("sum_loo").cast("double") / col("n_tok").cast("double")
    val meanFull = col("sum_full").cast("double") / col("n_tok").cast("double")
    agg.join(broadcast(dn), col("s") === col("dn_s"))
      .select(col("s").as("source"), col("n_docs"), col("n_tok"),
        meanLoo.as("mean_lp_loo_nn"), meanFull.as("mean_lp_full_nn"),
        (meanLoo - meanFull).as("influence_nn"))
      .orderBy("source")
  }

  // 2^4 slots — sized to the synthetic 31-token vocabulary so the
  // collision classes are POPULATED (31 tokens in 2^12 slots would
  // audit an all-ones histogram); production sizing is 2^18+, and the
  // plan is invariant to the constant
  private val FH_BUCKETS = 16L

  /** q243 — feature-hashing (hashing-trick, Weinberger et al.
    * ICML'09) collision audit: the vocabulary is hashed into 2⁴
    * feature slots (the dictionary-free vectorization every
    * large-scale text model front-end uses) and the audit reports the
    * slot-occupancy histogram — how many slots hold k distinct tokens
    * — plus the token count and document-frequency mass riding each
    * occupancy class. The df-mass column is the actionable part: mass
    * landing in occupancy ≥ 2 slots is signal irrecoverably summed
    * with other features, the quantity you trade against dimension.
    *
    * Exactness: the slot is the md5-prefix 60-bit integer (q36
    * contract) mod a literal power of two — non-negative, so `%`
    * agrees across engines; everything else is counts. The
    * occupancy-0 row is closed-form (2⁴ − slots used).
    *
    * Scale design (100 TB): the vocabulary is never collected or
    * broadcast — df, slot loads, and the histogram are three stacked
    * partial-aggregable passes, each output smaller than the last
    * (vocab → ≤slot-count rows → ≤max-occupancy rows). */
  val q243FeatureHashing: QueryDef = QueryDef(
    "q243_feature_hashing",
    s"""WITH v AS (
      |  SELECT tok, count(DISTINCT doc_id) AS df
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      |        FROM documents)
      |  GROUP BY tok),
      |b AS (
      |  SELECT ('0x' || substring(md5(tok), 1, 15))::BIGINT % $FH_BUCKETS
      |      AS slot,
      |    count(*) AS k, CAST(sum(df) AS BIGINT) AS dfm
      |  FROM v GROUP BY 1),
      |h AS (
      |  SELECT k AS occupancy, count(*) AS n_slots,
      |    CAST(sum(k) AS BIGINT) AS n_tokens,
      |    CAST(sum(dfm) AS BIGINT) AS df_mass
      |  FROM b GROUP BY k)
      |SELECT occupancy, n_slots, n_tokens, df_mass FROM h
      |UNION ALL
      |SELECT CAST(0 AS BIGINT), $FH_BUCKETS - (SELECT count(*) FROM b),
      |  CAST(0 AS BIGINT), CAST(0 AS BIGINT)
      |ORDER BY occupancy""".stripMargin) { (s, dir) =>
    val v = Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("tok")).agg(countDistinct(col("doc_id")).as("df"))
    val b = v.groupBy((conv(substring(md5(col("tok")), 1, 15), 16, 10)
        .cast("long") % FH_BUCKETS).as("slot"))
      .agg(count(lit(1)).as("k"), sum(col("df")).as("dfm"))
    val h = b.groupBy(col("k").as("occupancy"))
      .agg(count(lit(1)).as("n_slots"), sum(col("k")).as("n_tokens"),
        sum(col("dfm")).as("df_mass"))
    val zero = b.agg(count(lit(1)).as("u"))
      .select(lit(0L).as("occupancy"), (lit(FH_BUCKETS) - col("u")).as("n_slots"),
        lit(0L).as("n_tokens"), lit(0L).as("df_mass"))
    h.unionByName(zero).orderBy("occupancy")
  }

  private val MC_K = 5 // greedy max-coverage picks

  /** Oracle twin of [[q254MaxCoverage]]: seed-free unrolled greedy
    * rounds; per round the marginal-gain argmax is the max-count ⋈
    * min-source join, and the covered set grows by set union. */
  private def maxCoverageOracleSql: String = {
    val rounds = (1 to MC_K).map { r =>
      val prevCov = if (r == 1) "SELECT NULL AS g WHERE false"
        else s"SELECT g FROM cov${r - 1}"
      s"""gain$r AS MATERIALIZED (
         |  SELECT sg.source, count(*) AS gain
         |  FROM sg WHERE sg.g NOT IN ($prevCov)
         |    ${if (r == 1) "" else s"AND sg.source NOT IN (SELECT source FROM picks${r - 1})"}
         |  GROUP BY sg.source),
         |pick$r AS MATERIALIZED (
         |  SELECT min(source) AS source, max(gain) AS gain FROM gain$r
         |  WHERE gain = (SELECT max(gain) FROM gain$r)),
         |picks$r AS (${(1 to r).map(i => s"SELECT source FROM pick$i").mkString(" UNION ALL ")}),
         |cov$r AS MATERIALIZED (
         |  SELECT DISTINCT sg.g FROM sg JOIN picks$r p ON sg.source = p.source)""".stripMargin
    }.mkString(",\n")
    s"""WITH sg AS MATERIALIZED (
       |  SELECT DISTINCT source,
       |    md5(array_to_string(toks[i:i+2], ' ')) AS g
       |  FROM (SELECT source, string_split(text, ' ') AS toks FROM documents),
       |    unnest(range(1, len(toks) - 1)) AS t(i)),
       |$rounds
       |SELECT rk, source, gain,
       |  CAST(sum(gain) OVER (ORDER BY rk ROWS UNBOUNDED PRECEDING) AS BIGINT)
       |    AS covered
       |FROM (${(1 to MC_K).map(r =>
          s"SELECT CAST($r AS BIGINT) AS rk, source, gain FROM pick$r")
          .mkString(" UNION ALL ")})
       |ORDER BY rk""".stripMargin
  }

  /** q254 — greedy maximum-coverage source selection (the submodular
    * (1−1/e) greedy): pick 5 corpus sources that together cover the
    * most distinct 3-word shingles — each round scores every
    * remaining source by its MARGINAL gain over the shingles already
    * covered and takes the argmax (ties to min source). This is the
    * source-acquisition/budgeting decision of corpus curation
    * (which feeds to license next, which dumps to crawl first) made
    * on coverage rather than volume — and the greedy's marginal-gain
    * trail is exactly the diminishing-returns curve the budget
    * holder needs. Complements q249 (k-center picks spread POINTS;
    * this picks covering SETS) and q112 (coverage of a FIXED
    * vocabulary; this optimizes the covering family).
    *
    * Exactness: shingles are md5 keys; gains are counts; argmax is
    * the max-count ⋈ min-source join; the cumulative covered count
    * rides a window over the ≤k-row pick frame.
    *
    * Scale design (100 TB): the (source, shingle) dictionary is
    * distinct-collapsed once with map-side combine and checkpointed;
    * each round is one anti-join against the covered-key set (a
    * shuffle on the shingle key, the set-difference shape q161 uses)
    * + a ≤|sources| aggregate; k is a small constant. The covered
    * set is itself a distinct projection of the picked sources'
    * postings — never materialized per-row on the driver. */
  val q254MaxCoverage: QueryDef = QueryDef(
    "q254_max_coverage", maxCoverageOracleSql) { (s, dir) =>
    val sg = Tables.documents(s, dir)
      .select(col("source"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("source"), explode(expr(
        "transform(sequence(1, size(toks) - 2), " +
          "i -> md5(array_join(slice(toks, i, 3), ' ')))")).as("g"))
      .distinct()
    maxCoverageGreedy(s, sg)
  }

  /** Greedy max-coverage over a distinct (source, g) dictionary —
    * q254's engine, factored for the source-domain dispatch and its
    * equivalence test ([[graft.operators.MaxCoverageDispatchSpec]]).
    *
    * r13 (guide §2.4/§1.2): the greedy loop ran FIVE corpus-scale
    * anti-join + distinct rounds over the shingle dictionary. The
    * rounds only ever ask "how many of source s's shingles are not
    * yet covered", which is a function of each shingle's SOURCE SET —
    * so collapse the dictionary ONCE to a (source-bitmask → count)
    * histogram and run the identical greedy on it: gain(s | picked) =
    * Σ cnt over masks with bit s set and mask ∧ picked = 0. Same
    * integer gains, same (max gain, min source) argmax, same output.
    * The histogram is partial-aggregable and value-domain bounded
    * (≤ distinct source subsets); each round is ONE 1-row wide
    * aggregate over it instead of an anti-join over the dictionary.
    *
    * r14 (VERDICT r13 item 1 of "what's wrong"): the bit mapping
    * needs ≤ 62 sources (the generator's domain is 20 — q370's
    * procurement grouping); ABOVE 62 the greedy now dispatches to the
    * retained pre-r13 anti-join formulation instead of refusing — a
    * data change that widens the source domain degrades to the slower
    * exact plan rather than crashing. Both arms emit the identical
    * rounds (same gains, same argmax, same NULL rows for all-covered
    * rounds), pinned by the dispatch spec on both sides of the
    * boundary. */
  private[graft] def maxCoverageGreedy(
      s: org.apache.spark.sql.SparkSession,
      sg: DataFrame,
      forceAntiJoin: Boolean = false): DataFrame = {
    // the mask arm reads `sg` twice (source collect, histogram) without
    // a checkpoint: q254 at sf0.1 (local[4]) timed the same either way,
    // and the checkpoint cost more executor time
    val srcs = sg.select(col("source")).distinct()
      .orderBy("source")
      .collect() // bounded: source domain (q330/q345 class), ≤ ~20 values
      .map(_.getString(0))
    if (forceAntiJoin || srcs.length > 62)
      return maxCoverageAntiJoin(sg)
    import s.implicits._
    val bits = srcs.zipWithIndex.map { case (n, i) => (n, 1L << i) }
    val hist = sg
      .join(broadcast(bits.toSeq.toDF("source", "bit")), Seq("source"))
      .groupBy(col("g")).agg(sum(col("bit")).as("mask"))
      .groupBy(col("mask")).agg(count(lit(1)).as("cnt"))
      .ckpt() // every greedy round reads this tiny frame
    var picked = 0L
    val out = collection.mutable
      .ArrayBuffer.empty[(Long, Option[String], Option[Long], Option[Long])]
    var cum = Option.empty[Long] // SQL running sum skips nulls; all-null = null
    for (r <- 1 to MC_K) {
      val cand = bits.filter { case (_, bit) => (picked & bit) == 0 }
      val gains: Seq[(String, Long, Long)] =
        if (cand.isEmpty) Seq.empty
        else {
          val free = hist.filter((col("mask").bitwiseAND(picked)) === 0)
          val gainCols = cand.map { case (_, bit) =>
            sum(when(col("mask").bitwiseAND(bit) =!= 0, col("cnt"))
              .otherwise(lit(0L))).as(s"b$bit")
          }
          val row = free.agg(gainCols.head, gainCols.tail: _*)
            .head() // 1-row aggregate (O(1) driver pull)
          cand.toSeq.map { case (name, bit) =>
            (name, bit, Option(row.getAs[java.lang.Long](s"b$bit"))
              .fold(0L)(_.longValue))
          }
        }
      // a source with ZERO fresh shingles never appears in the
      // round's gain frame (count over an absent group) — so an
      // all-covered round picks NOTHING and emits the NULL row both
      // engines produce (aggregate over empty input)
      val positive = gains.filter(_._3 > 0)
      if (positive.isEmpty) {
        out += ((r.toLong, None, None, cum))
      } else {
        val mg = positive.map(_._3).max
        val (name, bit, gain) = positive.filter(_._3 == mg).minBy(_._1)
        picked |= bit
        cum = Some(cum.getOrElse(0L) + gain)
        out += ((r.toLong, Some(name), Some(gain), cum))
      }
    }
    out.toSeq.toDF("rk", "source", "gain", "covered")
      .orderBy("rk")
  }

  /** The pre-r13 DataFrame greedy — kept verbatim as the >62-source
    * fallback arm of [[maxCoverageGreedy]]: per round one anti-join
    * against the covered-key set + a ≤|sources| gain aggregate; no
    * driver collect in the loop, so it handles ANY source domain. */
  private def maxCoverageAntiJoin(sg0: DataFrame): DataFrame = {
    val sg = sg0.ckpt() // one shingle dictionary feeds every round
    var picked: DataFrame = null
    var covered: DataFrame = null
    var rows: DataFrame = null
    for (r <- 1 to MC_K) {
      val remaining = if (picked == null) sg
        else sg.join(broadcast(picked), Seq("source"), "anti")
      val fresh = if (covered == null) remaining
        else remaining.join(covered, Seq("g"), "anti")
      val gains = fresh.groupBy(col("source")).agg(count(lit(1)).as("gain"))
      val mx = gains.agg(max(col("gain")).as("mg"))
      val pick = gains.crossJoin(broadcast(mx))
        .filter(col("gain") === col("mg"))
        .agg(min(col("source")).as("source"), max(col("mg")).as("gain"))
        .ckpt()
      picked = if (picked == null) pick.select(col("source"))
        else picked.unionByName(pick.select(col("source"))).ckpt()
      val row = pick.select(lit(r.toLong).as("rk"), col("source"),
        col("gain"))
      rows = if (rows == null) row else rows.unionByName(row)
      covered = sg.join(broadcast(picked), Seq("source"), "semi")
        .select(col("g")).distinct().ckpt()
    }
    // cumulative coverage over the <= k-row pick frame via a bounded
    // self-join (no global window, nothing for the plan sweep to flag)
    val cum = rows.select(col("rk").as("rk2"), col("gain").as("g2"))
    rows.join(broadcast(cum), col("rk2") <= col("rk"))
      .groupBy(col("rk"), col("source"), col("gain"))
      .agg(sum(col("g2")).as("covered"))
      .orderBy("rk")
  }

  /** q264 — McNemar's paired test between two corpus-admission
    * policies (length ≥ 300 chars vs lang = 'en') over the same
    * documents: the 2×2 pass/fail agreement table and the
    * continuity-corrected statistic (|b−c|−1)²/(b+c) on the
    * DISCORDANT cells — the right test for "do these two filters
    * admit the same fraction" because concordant documents carry no
    * information about the marginal difference (a naive two-sample
    * proportion test on the same rows double-counts them). The
    * decision compares against the χ²₁ 5% line (3.841).
    *
    * Exactness: the whole statistic is integer arithmetic — exact
    * counts, an exact squared discordance (clamped at 0 after the
    * continuity −1), and one non-negative integer floor-div to
    * milli-units; no floats anywhere.
    *
    * Scale design (100 TB): ONE partial-aggregable pass over the
    * corpus produces the four cells; everything after is 1-row
    * arithmetic. */
  val q264McNemar: QueryDef = QueryDef(
    "q264_mcnemar",
    """WITH f AS (
      |  SELECT CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS pa,
      |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pb
      |  FROM documents),
      |cells AS (
      |  SELECT
      |    CAST(sum(CASE WHEN pa = 0 AND pb = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n00,
      |    CAST(sum(CASE WHEN pa = 0 AND pb = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n01,
      |    CAST(sum(CASE WHEN pa = 1 AND pb = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n10,
      |    CAST(sum(CASE WHEN pa = 1 AND pb = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n11
      |  FROM f),
      |z AS (
      |  SELECT n00, n01, n10, n11,
      |    greatest(0, abs(n10 - n01) - 1) AS d
      |  FROM cells)
      |SELECT n00, n01, n10, n11,
      |  CASE WHEN n01 + n10 = 0 THEN CAST(0 AS BIGINT)
      |    ELSE (1000 * d * d) // (n01 + n10) END AS chi2_milli,
      |  CASE WHEN n01 + n10 = 0 THEN CAST(0 AS BIGINT)
      |    WHEN (1000 * d * d) // (n01 + n10) >= 3841 THEN CAST(1 AS BIGINT)
      |    ELSE CAST(0 AS BIGINT) END AS significant
      |FROM z""".stripMargin) { (s, dir) =>
    val cells = Tables.documents(s, dir)
      .select(when(col("n_chars") >= 300, 1).otherwise(0).as("pa"),
        when(col("lang") === "en", 1).otherwise(0).as("pb"))
      .agg(
        sum(when(col("pa") === 0 && col("pb") === 0, 1L).otherwise(0L)).as("n00"),
        sum(when(col("pa") === 0 && col("pb") === 1, 1L).otherwise(0L)).as("n01"),
        sum(when(col("pa") === 1 && col("pb") === 0, 1L).otherwise(0L)).as("n10"),
        sum(when(col("pa") === 1 && col("pb") === 1, 1L).otherwise(0L)).as("n11"))
    cells
      .withColumn("d", greatest(lit(0L), abs(col("n10") - col("n01")) - 1))
      .select(col("n00"), col("n01"), col("n10"), col("n11"),
        when(col("n01") + col("n10") === 0, 0L)
          .otherwise(expr("(1000 * d * d) div nullif(n01 + n10, 0)")).as("chi2_milli"),
        when(col("n01") + col("n10") === 0, 0L)
          .when(expr("(1000 * d * d) div nullif(n01 + n10, 0)") >= 3841, 1L)
          .otherwise(0L).as("significant"))
  }

  /** q267 — Burrows' Delta stylometric distance between corpus
    * sources: each source is profiled by the relative frequency of
    * the corpus's top-30 words (the "function word" proxy — the most
    * frequent words carry style, not topic), each frequency is
    * z-scored against the across-source distribution of that word,
    * and Delta(s₁,s₂) = mean |z₁ − z₂| — the classic authorship-
    * attribution distance, here the "were these two sources scraped
    * from the same generator" audit that embedding similarity (q100)
    * can't answer because it keys on TOPIC. Low Delta between
    * nominally-distinct sources flags shared provenance (or
    * templated/synthetic text) before dedup even runs.
    *
    * Exactness: frequencies are integer ppm floor-divs; per-word
    * across-source moments are exact int64 (f ≤ 10⁶, k ≤ sources);
    * each z is ONE IEEE chain quantized to milli BEFORE any
    * cross-word sum (so the word-sum is integer — float sums would
    * be order-sensitive); constant words (zero variance) drop
    * identically in both engines; Delta is a non-negative integer
    * floor-div.
    *
    * Scale design (100 TB): one token pass to (source, word) counts
    * (partial-aggregable); the top-30 pick is a TakeOrdered top-k;
    * the profile grid is |sources|×30 — broadcast everywhere
    * downstream, including the pairwise join (on the word key, s₁ <
    * s₂). The corpus is scanned once; everything after is bounded. */
  val q267BurrowsDelta: QueryDef = QueryDef(
    "q267_burrows_delta",
    """WITH tok AS (
      |  SELECT source, unnest(string_split(text, ' ')) AS w
      |  FROM documents),
      |sw AS (
      |  SELECT source, w, CAST(count(*) AS BIGINT) AS c
      |  FROM tok GROUP BY 1, 2),
      |st AS (SELECT source, CAST(sum(c) AS BIGINT) AS tot FROM sw GROUP BY 1),
      |top AS (
      |  SELECT w FROM (
      |    SELECT w, CAST(sum(c) AS BIGINT) AS n FROM sw GROUP BY w
      |    ORDER BY n DESC, w LIMIT 30)),
      |grid AS (
      |  SELECT st.source, top.w, st.tot,
      |    coalesce(sw.c, 0) AS c
      |  FROM st CROSS JOIN top
      |  LEFT JOIN sw ON sw.source = st.source AND sw.w = top.w),
      |f AS (
      |  SELECT source, w, (1000000 * c) // tot AS fp
      |  FROM grid WHERE tot > 0),
      |wm AS (
      |  SELECT w, CAST(count(*) AS BIGINT) AS k,
      |    CAST(sum(fp) AS BIGINT) AS sm,
      |    CAST(sum(fp * fp) AS BIGINT) AS smm
      |  FROM f GROUP BY w),
      |z AS (
      |  SELECT f.source, f.w,
      |    CAST(floor(1000.0 *
      |      (CAST(f.fp AS DOUBLE) - CAST(wm.sm AS DOUBLE) / CAST(wm.k AS DOUBLE)) /
      |      sqrt((CAST(wm.k AS DOUBLE) * CAST(wm.smm AS DOUBLE)
      |            - CAST(wm.sm AS DOUBLE) * CAST(wm.sm AS DOUBLE)) /
      |           (CAST(wm.k AS DOUBLE) * CAST(wm.k AS DOUBLE)))) AS BIGINT)
      |      AS zm
      |  FROM f JOIN wm USING (w)
      |  WHERE CAST(wm.k AS DOUBLE) * CAST(wm.smm AS DOUBLE)
      |        - CAST(wm.sm AS DOUBLE) * CAST(wm.sm AS DOUBLE) > 0)
      |SELECT a.source AS s1, b.source AS s2,
      |  CAST(count(*) AS BIGINT) AS n_words,
      |  CAST(sum(abs(a.zm - b.zm)) AS BIGINT) // count(*) AS delta_milli
      |FROM z a JOIN z b ON a.w = b.w AND a.source < b.source
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
    val sw = Tables.documents(s, dir)
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("c"))
      .ckpt() // feeds totals, the top-k, and the grid
    val st = sw.groupBy(col("source")).agg(sum(col("c")).as("tot"))
    val top = sw.groupBy(col("w")).agg(sum(col("c")).as("n"))
      .orderBy(col("n").desc, col("w")).limit(30).select(col("w"))
    val grid = st.crossJoin(broadcast(top))
      .join(sw, Seq("source", "w"), "left")
      .select(col("source"), col("w"), col("tot"),
        coalesce(col("c"), lit(0L)).as("c"))
    val f = grid.filter(col("tot") > 0)
      .select(col("source"), col("w"), expr("(1000000 * c) div tot").as("fp"))
      .ckpt() // bounded |sources|x30 profile
    val wm = f.groupBy(col("w"))
      .agg(count(lit(1)).as("k"), sum(col("fp")).as("sm"),
        sum(col("fp") * col("fp")).as("smm"))
    val kd = col("k").cast("double")
    val varw = kd * col("smm").cast("double") -
      col("sm").cast("double") * col("sm").cast("double")
    val z = f.join(broadcast(wm), Seq("w"))
      .filter(varw > 0)
      .select(col("source"), col("w"),
        floor(lit(1000.0) *
          (col("fp").cast("double") - col("sm").cast("double") / kd) /
          sqrt(varw / (kd * kd))).cast("bigint").as("zm"))
    z.as("a")
      .join(broadcast(z
          .select(col("w").as("w2"), col("source").as("s2"),
            col("zm").as("zb"))),
        col("a.w") === col("w2") && col("a.source") < col("s2"))
      .groupBy(col("a.source").as("s1"), col("s2"))
      .agg(count(lit(1)).as("n_words"),
        sum(abs(col("zm") - col("zb"))).as("sz"))
      .select(col("s1"), col("s2"), col("n_words"),
        expr("sz div n_words").as("delta_milli"))
      .orderBy("s1", "s2")
  }

  /** q276 — per-source quantile normalization with a KS certificate:
    * each source's document-length distribution is mapped onto the
    * corpus-wide reference distribution (every length v goes to the
    * smallest reference length whose corpus ECDF reaches v's
    * within-source midrank fraction — the discrete quantile map),
    * and the report PROVES the batch-effect removal by showing each
    * source's KS distance to the reference before and after the map.
    * This is the batch-effect correction step (microarray heritage,
    * here: "make source lengths comparable before length-based
    * quality cuts") — and the after-column is the self-certification
    * q224 only measures one-shot.
    *
    * Exactness: everything is integer — histograms, midrank
    * fractions as integer pairs (numerator 2·cum−c over denominator
    * 2·n_s), the map condition cross-multiplied (no division), and
    * KS gaps as |cum_s·N − cum_ref·n_s| cross-products accumulated
    * in DECIMAL(38)/HUGEINT with one non-negative ppm floor-div at
    * the end. Every source value is in the reference support (the
    * reference IS the corpus), so the ECDF supremum is attained at
    * reference points — evaluating there is exact, not an
    * approximation.
    *
    * Scale design (100 TB): one pass to the (source, length)
    * histogram; the length domain grows with max document length, so
    * every cumulative structure rides [[ScaleRank]] — prefix sums
    * for both ECDFs (probe rows merged into the mass stream, the
    * q385 lesson: no domain θ-joins), and the quantile map as a
    * descending-key merge carrying a running min of reference
    * lengths (distributed searchsorted). The fact table is scanned
    * once; the only cross join is ×|sources| grid probes. */
  val q276QuantileNorm: QueryDef = QueryDef(
    "q276_quantile_norm",
    """WITH h AS (
      |  SELECT source, n_chars AS v, CAST(count(*) AS BIGINT) AS c
      |  FROM documents GROUP BY 1, 2),
      |ns AS (SELECT source, CAST(sum(c) AS BIGINT) AS n FROM h GROUP BY 1),
      |ref AS (SELECT v, CAST(sum(c) AS BIGINT) AS cr FROM h GROUP BY 1),
      |nn AS (SELECT CAST(sum(cr) AS BIGINT) AS nt FROM ref),
      |refc AS (
      |  SELECT r.v, CAST(sum(r2.cr) AS BIGINT) AS cum
      |  FROM ref r JOIN ref r2 ON r2.v <= r.v GROUP BY r.v),
      |hs AS (
      |  SELECT h.source, h.v, h.c,
      |    CAST(sum(h2.c) AS BIGINT) AS cum
      |  FROM h JOIN h h2 ON h2.source = h.source AND h2.v <= h.v
      |  GROUP BY h.source, h.v, h.c),
      |mp AS (
      |  SELECT hs.source, hs.v, hs.c, min(refc.v) AS m
      |  FROM hs JOIN ns ON hs.source = ns.source
      |    JOIN nn ON true
      |    JOIN refc ON CAST(refc.cum AS HUGEINT) * 2 * ns.n
      |      >= CAST(nn.nt AS HUGEINT) * (2 * hs.cum - hs.c)
      |  GROUP BY 1, 2, 3),
      |ha AS (
      |  SELECT source, m, CAST(sum(c) AS BIGINT) AS c FROM mp GROUP BY 1, 2),
      |eb AS (
      |  SELECT s.source, r.v,
      |    coalesce(CAST(sum(hh.c) AS HUGEINT), CAST(0 AS HUGEINT)) AS cums
      |  FROM (SELECT DISTINCT source FROM h) s
      |  CROSS JOIN refc r
      |  LEFT JOIN h hh ON hh.source = s.source AND hh.v <= r.v
      |  GROUP BY 1, 2),
      |ea AS (
      |  SELECT s.source, r.v,
      |    coalesce(CAST(sum(hh.c) AS HUGEINT), CAST(0 AS HUGEINT)) AS cums
      |  FROM (SELECT DISTINCT source FROM h) s
      |  CROSS JOIN refc r
      |  LEFT JOIN ha hh ON hh.source = s.source AND hh.m <= r.v
      |  GROUP BY 1, 2),
      |kb AS (
      |  SELECT eb.source,
      |    max(abs(eb.cums * nn.nt - CAST(refc.cum AS HUGEINT) * ns.n)) AS g
      |  FROM eb JOIN refc ON eb.v = refc.v
      |    JOIN ns ON eb.source = ns.source JOIN nn ON true
      |  GROUP BY 1),
      |ka AS (
      |  SELECT ea.source,
      |    max(abs(ea.cums * nn.nt - CAST(refc.cum AS HUGEINT) * ns.n)) AS g
      |  FROM ea JOIN refc ON ea.v = refc.v
      |    JOIN ns ON ea.source = ns.source JOIN nn ON true
      |  GROUP BY 1)
      |SELECT ns.source, ns.n,
      |  CAST((1000000 * kb.g) // (CAST(ns.n AS HUGEINT) * nn.nt) AS BIGINT)
      |    AS ks_before_ppm,
      |  CAST((1000000 * ka.g) // (CAST(ns.n AS HUGEINT) * nn.nt) AS BIGINT)
      |    AS ks_after_ppm
      |FROM ns JOIN kb ON ns.source = kb.source
      |  JOIN ka ON ns.source = ka.source, nn
      |ORDER BY ns.source""".stripMargin) { (s, dir) =>
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val h = Tables.documents(s, dir)
      .groupBy(col("source"), col("n_chars").as("v"))
      .agg(count(lit(1)).as("c"))
      .ckpt() // bounded histogram feeds everything
    val ns = h.groupBy(col("source")).agg(sum(col("c")).as("n"))
    val ref = h.groupBy(col("v")).agg(sum(col("c")).as("cr"))
    val nn = ref.agg(sum(col("cr")).as("nt"))
    // every cumulative/quantile structure below rides the distributed
    // two-level prefix machinery (q379/q385 discipline) — the n_chars
    // domain grows with max document length, so the former
    // domain-vs-domain θ-joins were O(|D|²) at scale
    val refc = ScaleRank.withRunningSum(ref, Seq.empty,
        Seq(col("v")), col("cr"), "cum")
      .ckpt()
    val hs = ScaleRank.withRunningSum(h, Seq("source"),
      Seq(col("v")), col("c"), "cum")
    // searchsorted: m = min refc.v with 2·n_s·refc.cum ≥ nt·(2·cum−c),
    // i.e. refc.cum ≥ thr = ceil-div — a merge of the two sorted
    // streams: walk the key axis DESCENDING with refc rows first at
    // ties, carry the running min of refc.v (as max of −v), and each
    // probe reads the min v among refc rows with cum ≥ its thr
    val probes = hs.join(ns, Seq("source")).crossJoin(broadcast(nn))
      .select(col("source"), col("v"), col("c"),
        expr("CAST((CAST(nt AS DECIMAL(38,0)) * (2 * cum - c) + 2 * n - 1) " +
          "div (2 * n) AS BIGINT)").as("key"),
        lit(1).as("tag"), lit(null).cast("bigint").as("nrv"))
    val refEvents = refc.select(
      lit(null).cast("string").as("source"),
      lit(null).cast("bigint").as("v"), lit(null).cast("bigint").as("c"),
      col("cum").as("key"), lit(0).as("tag"), (-col("v")).as("nrv"))
    val mp = ScaleRank.withRunningMax(refEvents.unionByName(probes),
        Seq.empty, Seq(col("key").desc, col("tag")), col("nrv"), "mx",
        inclusive = true)
      .filter(col("tag") === 1)
      .select(col("source"), col("v"), col("c"), (-col("mx")).as("m"))
    val ha = mp.groupBy(col("source"), col("m")).agg(sum(col("c")).as("c"))
    val sources = h.select(col("source")).distinct()
    // ECDF of `hist` at every refc grid point: union mass rows with
    // zero-mass probe rows and prefix-sum per source (mass at v counts
    // for the probe at v — tag orders mass first at ties)
    def ecdfAt(hist: DataFrame, valueCol: String): DataFrame = {
      val mass = hist.select(col("source"), col(valueCol).as("v"),
        dec(col("c")).as("mass"), lit(0).as("tag"))
      val grid = sources.crossJoin(broadcast(refc.select(col("v"))))
        .select(col("source"), col("v"), dec(lit(0)).as("mass"),
          lit(1).as("tag"))
      ScaleRank.withRunningSum(mass.unionByName(grid), Seq("source"),
          Seq(col("v"), col("tag")), col("mass"), "cums")
        .filter(col("tag") === 1)
        .select(col("source"), col("v"), col("cums"))
    }
    def ksOf(e: DataFrame): DataFrame =
      e.join(broadcast(refc.select(col("v"), col("cum"))), Seq("v"))
        .join(ns, Seq("source")).crossJoin(broadcast(nn))
        .groupBy(col("source"))
        .agg(max(abs(col("cums") * col("nt") - dec(col("cum")) * col("n")))
          .as("g"))
    val kb = ksOf(ecdfAt(h, "v"))
    val ka = ksOf(ecdfAt(ha, "m"))
    ns.join(kb, Seq("source")).join(ka.withColumnRenamed("g", "ga"), Seq("source"))
      .crossJoin(broadcast(nn))
      .select(col("source"), col("n"),
        expr("cast((1000000 * g) div (cast(n as decimal(38,0)) * nt) as bigint)")
          .as("ks_before_ppm"),
        expr("cast((1000000 * ga) div (cast(n as decimal(38,0)) * nt) as bigint)")
          .as("ks_after_ppm"))
      .orderBy("source")
  }

  /** q278 — corpus datasheet: the one-row "Datasheets for Datasets"
    * summary a corpus release ships with — volume (docs, tokens,
    * chars), composition (sources, languages, English share),
    * integrity (exact-duplicate rate via md5 text signatures), and
    * shape (mean/median length) — every number already defined by a
    * dedicated operator elsewhere (q30 dedup, q175 composition, q20
    * tokens), here assembled in ONE corpus pass so the datasheet is
    * cheap enough to regenerate per snapshot and diff.
    *
    * Exactness: counts are exact; the duplicate rate is
    * docs − distinct(md5(text)) over docs in ppm; mean/median chars
    * ride the exact integer mean (floor) and the weighted
    * `percentile` ≡ `quantile_cont` contract.
    *
    * Scale design (100 TB): one aggregate pass (distinct counts
    * partial-aggregable; the md5 distinct is the only wide state and
    * is itself a 16-byte key) plus one bounded histogram pass for
    * the median. No joins, no windows. */
  val q278Datasheet: QueryDef = QueryDef(
    "q278_datasheet",
    """WITH m AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
      |    CAST(sum(n_chars) AS BIGINT) AS n_chars,
      |    CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
      |    CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
      |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en,
      |    CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_uniq
      |  FROM documents),
      |med AS (SELECT quantile_cont(CAST(n_chars AS DOUBLE), 0.5) AS p50_chars
      |        FROM documents)
      |SELECT m.n_docs, m.n_tokens, m.n_chars, m.n_sources, m.n_langs,
      |  (1000000 * m.n_en) // m.n_docs AS en_ppm,
      |  (1000000 * (m.n_docs - m.n_uniq)) // m.n_docs AS dup_ppm,
      |  m.n_chars // m.n_docs AS mean_chars,
      |  med.p50_chars
      |FROM m, med""".stripMargin) { (s, dir) =>
    val d = Tables.documents(s, dir)
    val m = d.agg(count(lit(1)).as("n_docs"),
      sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"),
      sum(col("n_chars")).as("n_chars"),
      countDistinct(col("source")).as("n_sources"),
      countDistinct(col("lang")).as("n_langs"),
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_en"),
      countDistinct(md5(col("text"))).as("n_uniq"))
    val med = d.groupBy(col("n_chars")).agg(count(lit(1)).as("fn"))
      .agg(expr("percentile(cast(n_chars as double), 0.5D, fn)").as("p50_chars"))
    m.crossJoin(broadcast(med))
      .select(col("n_docs"), col("n_tokens"), col("n_chars"),
        col("n_sources"), col("n_langs"),
        expr("(1000000 * n_en) div nullif(n_docs, 0)").as("en_ppm"),
        expr("(1000000 * (n_docs - n_uniq)) div nullif(n_docs, 0)").as("dup_ppm"),
        expr("n_chars div nullif(n_docs, 0)").as("mean_chars"),
        col("p50_chars"))
  }

  /** q280 — Otsu auto-thresholding of the document-length
    * distribution: for every candidate cut t, split the corpus into
    * below/above-t classes and score the split by between-class
    * variance w₀·w₁·(μ₀−μ₁)²; the argmax is the data-driven "short
    * doc" cutoff — the unsupervised answer to where q21's quality
    * filter should put its length knob (q173's stump needs labels;
    * Otsu needs only the histogram's bimodality). The full candidate
    * curve ships so the flatness around the optimum (= how arbitrary
    * the cut is) is visible, with the argmax flagged.
    *
    * Exactness: the axis collapses to the bounded token-count
    * histogram; each candidate's score is the EXACT integer
    * (S₀w₁ − S₁w₀)² / (w₀w₁) comparison carried in DECIMAL/HUGEINT
    * (never floated), the argmax ties to the smallest t, and the
    * reported variance is one floor-div down to micro-token² units.
    *
    * Scale design (100 TB): one partial-aggregable histogram pass;
    * prefix sums and the candidate scan run on the broadcast ≤90-row
    * value frame. No windows, no collect. */
  val q280OtsuThreshold: QueryDef = QueryDef(
    "q280_otsu_threshold",
    """WITH h AS (
      |  SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS v,
      |    CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sv
      |  FROM documents GROUP BY 1),
      |tot AS (
      |  SELECT CAST(sum(n) AS BIGINT) AS nt, CAST(sum(sv) AS BIGINT) AS st
      |  FROM h),
      |pre AS (
      |  SELECT a.v AS t, CAST(sum(b.n) AS BIGINT) AS w0,
      |    CAST(sum(b.sv) AS BIGINT) AS s0
      |  FROM h a JOIN h b ON b.v < a.v GROUP BY a.v),
      |cand AS (
      |  SELECT pre.t, pre.w0, tot.nt - pre.w0 AS w1,
      |    (CAST(pre.s0 AS HUGEINT) * (tot.nt - pre.w0)
      |     - CAST(tot.st - pre.s0 AS HUGEINT) * pre.w0) AS d
      |  FROM pre, tot
      |  WHERE pre.w0 > 0 AND tot.nt - pre.w0 > 0),
      |sc AS (
      |  SELECT t, w0, w1,
      |    (d * d) // (CAST(w0 AS HUGEINT) * w1) AS score
      |  FROM cand),
      |mx AS (SELECT max(score) AS ms FROM sc),
      |best AS (SELECT min(t) AS bt FROM sc, mx WHERE sc.score = mx.ms)
      |SELECT sc.t AS threshold, sc.w0, sc.w1,
      |  CAST((1000000 * sc.score) // (CAST(tot.nt AS HUGEINT) * tot.nt)
      |    AS BIGINT) AS sigma_b_micro,
      |  CAST(CASE WHEN sc.t = best.bt THEN 1 ELSE 0 END AS BIGINT) AS best
      |FROM sc, tot, best ORDER BY sc.t""".stripMargin) { (s, dir) =>
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val h = Tables.documents(s, dir)
      .select(size(split(col("text"), " ")).cast("long").as("v"))
      .groupBy(col("v"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
      .ckpt() // bounded value histogram
    val tot = h.agg(sum(col("n")).as("nt"), sum(col("sv")).as("st"))
    val pre = h.select(col("v").as("t"))
      .join(broadcast(h.select(col("v").as("v2"), col("n"), col("sv"))),
        col("v2") < col("t"))
      .groupBy(col("t")).agg(sum(col("n")).as("w0"), sum(col("sv")).as("s0"))
    val cand = pre.crossJoin(broadcast(tot))
      .filter(col("w0") > 0 && col("nt") - col("w0") > 0)
      .select(col("t"), col("w0"), (col("nt") - col("w0")).as("w1"),
        (dec(col("s0")) * (col("nt") - col("w0")) -
          dec(col("st") - col("s0")) * col("w0")).as("d"))
    val sc = cand
      .select(col("t"), col("w0"), col("w1"),
        expr("cast((d * d) as decimal(38,0))").as("dd"),
        (dec(col("w0")) * col("w1")).as("ww"))
      .select(col("t"), col("w0"), col("w1"),
        expr("dd div ww").cast("decimal(38,0)").as("score"))
      .ckpt()
    val mx = sc.agg(max(col("score")).as("ms"))
    val best = sc.crossJoin(broadcast(mx)).filter(col("score") === col("ms"))
      .agg(min(col("t")).as("bt"))
    sc.crossJoin(broadcast(tot)).crossJoin(broadcast(best))
      .select(col("t").as("threshold"), col("w0"), col("w1"),
        expr("cast((1000000 * score) div (cast(nt as decimal(38,0)) * nt) as bigint)")
          .as("sigma_b_micro"),
        when(col("t") === col("bt"), 1L).otherwise(0L).as("best"))
      .orderBy("threshold")
  }

  /** q295 — Yule's K lexical-richness characteristic per language:
    * K = 10⁴·(Σ m²·V(m) − N)/N² over the token frequency spectrum
    * V(m) (how many types occur exactly m times), the classic
    * repeat-rate statistic that is (unlike raw type/token ratio)
    * approximately length-invariant — the stylometric complement of
    * q190's Heaps-law growth and q180's Zipf fit, and a routine
    * corpus-quality scalar in LLM data reports (high K = repetitive,
    * TEMPLATE-heavy text; low K = lexically diverse).
    *
    * Exactness: the spectrum is pure integer counting; N, ΣVm and
    * A = Σm²Vm are exact DECIMAL(38)/HUGEINT sums; K lands as ONE
    * integer cross-multiplied floor, floor(10¹⁰·(A−N)/N²), so no
    * float exists anywhere.
    *
    * Scale design (100 TB): token counts collapse map-side to
    * (lang, token) grain — the only corpus-sized exchange; the
    * spectrum pass is ≤|vocab| rows to (lang, m) grain; the final
    * frame is |langs| rows. No windows, no collect, no broadcast. */
  val q295YulesK: QueryDef = QueryDef(
    "q295_yules_k",
    """WITH tc AS (
      |  SELECT lang, tok, CAST(count(*) AS BIGINT) AS m
      |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents)
      |  WHERE tok <> '' GROUP BY 1, 2),
      |spec AS (
      |  SELECT lang, m, CAST(count(*) AS BIGINT) AS vm
      |  FROM tc GROUP BY 1, 2),
      |agg AS (
      |  SELECT lang,
      |    CAST(sum(CAST(m AS HUGEINT) * vm) AS HUGEINT) AS n,
      |    CAST(sum(vm) AS BIGINT) AS vocab,
      |    CAST(sum(CAST(m AS HUGEINT) * m * vm) AS HUGEINT) AS a
      |  FROM spec GROUP BY lang)
      |SELECT lang, CAST(n AS BIGINT) AS n_tokens, vocab,
      |  CAST((10000000000 * (a - n)) // (n * n) AS BIGINT) AS k_micro
      |FROM agg WHERE n > 0 ORDER BY lang""".stripMargin) { (s, dir) =>
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    val tc = Tables.documents(s, dir)
      .repartition(col("doc_id")) // single-file scan -> use every core
      .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col("lang"), col("tok")).agg(count(lit(1)).as("m"))
    val spec = tc.groupBy(col("lang"), col("m")).agg(count(lit(1)).as("vm"))
    spec.groupBy(col("lang"))
      .agg(sum(dec(col("m")) * col("vm")).cast("decimal(38,0)").as("n"),
        sum(col("vm")).as("vocab"),
        sum(dec(col("m")) * col("m") * col("vm")).cast("decimal(38,0)").as("a"))
      .filter(col("n") > 0)
      // `div` (not `/` + cast): decimal cast ROUNDS half-up where
      // DuckDB's `//` floors — div truncates, which equals floor on
      // this non-negative domain (A >= N since m² >= m)
      .select(col("lang"), col("n").cast("bigint").as("n_tokens"), col("vocab"),
        expr("CAST((CAST(10000000000 AS DECIMAL(38,0)) * (a - n)) div (n * n) AS BIGINT)")
          .as("k_micro"))
      .orderBy("lang")
  }

  /** q320 — per-source novelty profile: the fraction of each source's
    * distinct 5-word spans that occur in NO other source — the
    * "what does this feed uniquely contribute" number that decides
    * whether a source is worth its licensing/crawl cost in a data-mix
    * negotiation (a low-novelty source is already covered by the
    * rest of the corpus; q158 measures pairwise overlap, this is the
    * corpus-complement view per source). The distinct-span count
    * doubles as the source's content-volume denominator.
    *
    * Exactness: pure integer counts; novelty is one cross-multiplied
    * ppm floor-div on non-negative counts.
    *
    * Scale design (100 TB): spans explode with one projection; the
    * span→distinct-source collapse is two-level partial aggregation
    * (distinct (span, source) map-side, then source counts); the
    * verdict joins back equi on span and collapses to |sources|
    * rows. Text never shuffles — only hashes would at real scale
    * (q69's xxhash64 note applies). */
  val q320SourceNovelty: QueryDef = QueryDef(
    "q320_source_novelty",
    """WITH tk AS (SELECT source, string_split(text, ' ') AS t FROM documents),
      |sp AS (
      |  SELECT DISTINCT source, array_to_string(t[i:i+4], ' ') AS span
      |  FROM tk, unnest(range(1, len(t) - 3)) AS r(i)
      |  WHERE len(t) >= 5),
      |ns AS (SELECT span, count(*) AS n_src FROM sp GROUP BY span)
      |SELECT s.source, CAST(count(*) AS BIGINT) AS n_spans,
      |  CAST(sum(CASE WHEN ns.n_src = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_unique,
      |  (1000000 * CAST(sum(CASE WHEN ns.n_src = 1 THEN 1 ELSE 0 END)
      |    AS BIGINT)) // count(*) AS novelty_ppm
      |FROM sp s JOIN ns ON s.span = ns.span
      |GROUP BY s.source ORDER BY s.source""".stripMargin) { (s, dir) =>
    val sp = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= 5)
      .repartition(col("doc_id")) // single-file scan -> use every core
      .select(col("source"), explode(transform(
        sequence(lit(1), size(col("t")) - 4),
        i => array_join(slice(col("t"), i, lit(5)), " "))).as("span"))
      .distinct()
      .ckpt() // feeds the source-frequency collapse AND the verdict
    val ns = sp.groupBy(col("span")).agg(count(lit(1)).as("n_src"))
      .select(col("span").as("nspan"), col("n_src"))
    sp.join(ns, col("span") === col("nspan"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("n_src") === 1, 1L).otherwise(0L)).as("n_unique"))
      .select(col("source"), col("n_spans"), col("n_unique"),
        expr("(1000000 * n_unique) div n_spans").as("novelty_ppm"))
      .orderBy("source")
  }

  /** q321 — character-level conditional entropy rate per language:
    * H(Y|X) = −Σ p(x,y)·ln(c_xy/c_x) over character bigrams — the
    * compressibility/regularity fingerprint that separates natural
    * language from templated or machine-generated text (low H = rigid
    * structure), and the information-theoretic denominator behind
    * per-language tokenizer budgets. q181/q215 model WORD streams on
    * a train/test split; this is the in-corpus CHARACTER structure
    * measure (Shannon's classic printed-English estimate, per lang).
    *
    * Exactness: bigram/prefix counts are exact integers (prefix
    * counts derive from the bigram frame — one collapse, no second
    * scan); each distinct bigram's −ln(c_xy/c_x) is ONE IEEE chain
    * floored to nano-nats, weighted by its exact count, summed in
    * DECIMAL/HUGEINT, and divided once (non-negative throughout).
    *
    * Scale design (100 TB): the native `char_ngrams` expression
    * explodes bigrams in one codegen'd pass; counts are
    * partial-aggregable; the prefix join is equi on (lang, x) whose
    * cardinality is the alphabet — Spark's size-based planning
    * broadcasts it. Output |langs| rows. */
  val q321CharEntropy: QueryDef = QueryDef(
    "q321_char_entropy",
    """WITH bg AS (
      |  SELECT lang, substr(text, CAST(i AS INT), 2) AS g
      |  FROM documents, unnest(range(1, len(text))) AS t(i)
      |  WHERE len(text) >= 2),
      |c2 AS (
      |  SELECT lang, g, CAST(count(*) AS BIGINT) AS cxy
      |  FROM bg GROUP BY 1, 2),
      |c1 AS (
      |  SELECT lang, substring(g, 1, 1) AS x, CAST(sum(cxy) AS BIGINT) AS cx
      |  FROM c2 GROUP BY 1, 2),
      |t AS (
      |  SELECT c2.lang, c2.cxy,
      |    CAST(floor(1e9 * (0e0 - ln(CAST(c2.cxy AS DOUBLE)
      |      / CAST(c1.cx AS DOUBLE)))) AS BIGINT) AS nn
      |  FROM c2 JOIN c1 ON c2.lang = c1.lang AND substring(c2.g, 1, 1) = c1.x)
      |SELECT lang, CAST(sum(cxy) AS BIGINT) AS n_bigrams,
      |  CAST(count(*) AS BIGINT) AS n_distinct,
      |  CAST(sum(CAST(cxy AS HUGEINT) * nn) // CAST(sum(cxy) AS HUGEINT)
      |    AS BIGINT) AS h_cond_nn
      |FROM t GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val c2 = Tables.documents(s, dir)
      .repartition(col("doc_id")) // single-file scan -> use every core
      .filter(length(col("text")) >= 2)
      .select(col("lang"), explode(expr("char_ngrams(text, 2)")).as("g"))
      .groupBy(col("lang"), col("g")).agg(count(lit(1)).as("cxy"))
      .ckpt() // feeds the prefix collapse AND the term join
    val c1 = c2.groupBy(col("lang"), substring(col("g"), 1, 1).as("x"))
      .agg(sum(col("cxy")).as("cx"))
      .select(col("lang").as("lang2"), col("x"), col("cx"))
    c2.join(c1, col("lang") === col("lang2") &&
        substring(col("g"), 1, 1) === col("x"))
      .select(col("lang"), col("cxy"),
        floor(lit(1e9) * -log(col("cxy").cast("double") /
          col("cx").cast("double"))).cast("bigint").as("nn"))
      .groupBy(col("lang"))
      .agg(sum(col("cxy")).as("n_bigrams"), count(lit(1)).as("n_distinct"),
        sum(dec(col("cxy")) * col("nn")).as("swn"))
      .select(col("lang"), col("n_bigrams"), col("n_distinct"),
        expr("CAST(swn div n_bigrams AS BIGINT)").as("h_cond_nn"))
      .orderBy("lang")
  }

  /** q337 — feature-hashing collision curve: the measured fraction of
    * distinct tokens lost to hash collisions at table sizes
    * B ∈ {1024, 4096, 16384}, next to the birthday-bound prediction
    * B·(1−(1−1/B)^n) — the sizing table for q243's hashed feature
    * space (and any hashed embedding/vocab table): pick the smallest
    * B whose measured collision rate is below the budget, and flag a
    * hash family whose measured rate beats the prediction by a
    * margin (correlated keys). q318 audits Bloom membership the same
    * way; this audits cardinality preservation.
    *
    * Exactness: distinct-token and distinct-bucket counts are exact
    * integers (md5-prefix mod, the portable-coin contract); measured
    * ppm is a cross-multiplied floor-div; the prediction is ONE
    * shared exp/ln IEEE chain floored to ppm.
    *
    * Scale design (100 TB): ONE distinct-token collapse feeds all
    * three bucket countings (map-side mod + partial-aggregable
    * distinct); the verdict is 3 rows of arithmetic. */
  val q337HashCollisionCurve: QueryDef = {
    val bs = Seq(1024, 4096, 16384)
    def pred(n: String): String =
      s"CAST(floor(1e6 * (CAST($n AS DOUBLE) - CAST(b AS DOUBLE)" +
        s" * (1e0 - exp(CAST($n AS DOUBLE) * ln(1e0 - 1e0" +
        s" / CAST(b AS DOUBLE))))) / CAST($n AS DOUBLE)) AS BIGINT)"
    QueryDef(
      "q337_hash_collision_curve",
      s"""WITH tok AS (
         |  SELECT DISTINCT unnest(string_split(text, ' ')) AS x
         |  FROM documents),
         |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM tok),
         |m AS (
         |  SELECT CAST(b AS BIGINT) AS b, CAST(count(DISTINCT
         |    ('0x' || substring(md5(x), 1, 15))::BIGINT % b) AS BIGINT)
         |    AS n_buckets
         |  FROM tok, unnest([${bs.mkString(", ")}]) AS u(b)
         |  GROUP BY 1)
         |SELECT m.b, n.n AS n_distinct, m.n_buckets,
         |  (1000000 * (n.n - m.n_buckets)) // n.n AS measured_ppm,
         |  ${pred("n.n")} AS predicted_ppm
         |FROM m, n ORDER BY m.b""".stripMargin) { (s, dir) =>
      import s.implicits._
      val tok = Tables.documents(s, dir)
        .repartition(col("doc_id")) // single-file scan -> use every core
        .select(explode(split(col("text"), " ")).as("x"))
        .distinct()
        .select(conv(substring(md5(col("x")), 1, 15), 16, 10).cast("bigint")
          .as("h"))
        .ckpt() // feeds the count AND all three bucket foldings
      val n = tok.agg(count(lit(1)).as("n"))
      val m = tok
        .crossJoin(bs.map(_.toLong).toDF("b"))
        .select(col("b"), (col("h") % col("b")).as("bk"))
        .groupBy(col("b")).agg(count_distinct(col("bk")).as("n_buckets"))
      m.crossJoin(broadcast(n))
        .select(col("b"), col("n").as("n_distinct"), col("n_buckets"),
          expr("(1000000 * (n_distinct - n_buckets)) div n_distinct")
            .as("measured_ppm"),
          expr(pred("n_distinct")).as("predicted_ppm"))
        .orderBy("b")
    }
  }

  /** q350 — RAKE keyword extraction (Rose et al. 2010, "Automatic
    * Keyword Extraction from Individual Documents"): candidate
    * phrases are maximal stopword-free word runs (capped at 4 words,
    * the published default); each word scores degree/frequency where
    * degree sums the lengths of every phrase the word instance
    * appears in; a phrase scores the sum of its member-word scores.
    * Top-20 corpus keywords, score-descending. Complements q108
    * (PMI collocations — association strength) and q197 (keyness —
    * corpus contrast): RAKE ranks multi-word CANDIDATE PHRASES by
    * within-phrase co-occurrence structure, the classic cheap
    * keyword-list pass before expensive embedding-based labeling.
    *
    * Exactness: phrase segmentation is the gaps-and-islands identity
    * (position − dense rank among non-stopwords); word scores are
    * (10⁶·deg) div freq on non-negative integers; phrase scores are
    * integer sums — every number exact, and a phrase's score is a
    * pure function of corpus word stats, so duplicate occurrences
    * agree by construction (pinned via min() = the value).
    *
    * Scale design (100 TB): islands ride a PER-DOC window (doc count
    * unbounded, rows per doc bounded); phrase assembly is one
    * (doc, island) aggregate with an in-row sort — no self-join: the
    * member list explodes back out of the same aggregate; word stats
    * collapse to vocabulary grain (partial-aggregable); the score
    * join is equi on word (vocabulary can exceed broadcast at corpus
    * scale, so it shuffles — deliberately no broadcast hint); the
    * final top-20 is TakeOrdered. */
  val q350RakeKeywords: QueryDef = {
    val stop = Seq("the", "a", "of", "and", "to", "in", "is")
    val stopSql = stop.map(w => s"'$w'").mkString(", ")
    QueryDef(
      "q350_rake_keywords",
      s"""WITH w AS (
         |  SELECT doc_id, i, ws[i] AS w,
         |    CASE WHEN ws[i] IN ($stopSql) THEN 1 ELSE 0 END AS stop
         |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         |    unnest(range(1, len(ws) + 1)) AS t(i)),
         |nw AS (
         |  SELECT doc_id, i, w,
         |    i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS island
         |  FROM w WHERE stop = 0),
         |ph AS (
         |  SELECT doc_id, island,
         |    string_agg(w, ' ' ORDER BY i) AS phrase,
         |    list(w ORDER BY i) AS wlist,
         |    CAST(count(*) AS BIGINT) AS n_words
         |  FROM nw GROUP BY 1, 2 HAVING count(*) <= 4),
         |member AS (
         |  SELECT doc_id, island, phrase, n_words, unnest(wlist) AS w FROM ph),
         |wscore AS (
         |  SELECT w, (1000000 * CAST(sum(n_words) AS BIGINT))
         |      // CAST(count(*) AS BIGINT) AS score_ppm
         |  FROM member GROUP BY 1),
         |pscore AS (
         |  SELECT m.phrase, m.n_words, m.doc_id, m.island,
         |    CAST(sum(ws.score_ppm) AS BIGINT) AS score_ppm
         |  FROM member m JOIN wscore ws ON m.w = ws.w
         |  GROUP BY 1, 2, 3, 4)
         |SELECT phrase, n_words, CAST(count(*) AS BIGINT) AS n_occ,
         |  min(score_ppm) AS score_ppm
         |FROM pscore GROUP BY 1, 2
         |ORDER BY score_ppm DESC, phrase LIMIT 20""".stripMargin) { (s, dir) =>
      val words = Tables.documents(s, dir)
        .repartition(col("doc_id")) // single-file scan -> use every core
        .select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("i0", "w")))
        .select(col("doc_id"), (col("i0") + 1).as("i"), col("w"))
        .withColumn("stop",
          col("w").isin(stop.map(x => x: Any): _*).cast("int"))
      val nw = words.filter(col("stop") === 0)
        .withColumn("island", col("i") - row_number().over(
          Window.partitionBy(col("doc_id")).orderBy(col("i"))))
      val ph = nw.groupBy(col("doc_id"), col("island"))
        .agg(expr("transform(array_sort(collect_list(struct(i, w))), " +
          "x -> x.w)").as("wlist"),
          count(lit(1)).as("n_words"))
        .filter(col("n_words") <= 4)
        .withColumn("phrase", concat_ws(" ", col("wlist")))
      val member = ph.select(col("doc_id"), col("island"), col("phrase"),
        col("n_words"), explode(col("wlist")).as("w"))
      val wscore = member.groupBy(col("w"))
        .agg(expr("(1000000 * CAST(sum(n_words) AS BIGINT)) " +
          "div count(*)").as("score_ppm"))
      val pscore = member.join(wscore, Seq("w"))
        .groupBy(col("phrase"), col("n_words"), col("doc_id"), col("island"))
        .agg(sum(col("score_ppm")).cast("bigint").as("score_ppm"))
      pscore.groupBy(col("phrase"), col("n_words"))
        .agg(count(lit(1)).as("n_occ"), min(col("score_ppm")).as("score_ppm"))
        .orderBy(col("score_ppm").desc, col("phrase"))
        .limit(20)
    }
  }

  /** q353 — Good–Turing frequency re-estimation (Good '53): from the
    * unigram frequency-of-frequencies N_r, the adjusted count
    * r* = (r+1)·N_{r+1}/N_r for r = 1..10, the per-type smoothed
    * probability r* over N, and the total unseen mass P₀ = N₁/N — the
    * smoothing family that q215 (Kneser–Ney) DISCOUNTS from and q309
    * (Jelinek–Mercer) interpolates against; this is the raw estimator
    * those methods stabilize, reported so a pipeline owner can see
    * WHERE the naive GT curve gets noisy (high r, small N_r) and a
    * discount cap is warranted.
    *
    * Exactness: all N_r, N, N₁ are exact integers from two
    * aggregation passes; r* and the probability ride shared
    * all-DOUBLE floor chains (q348 contract); P₀ is a non-negative
    * cross-multiplied floor div. Absent N_{r+1} coalesces to 0 (r*=0,
    * the correct GT statement that mass vanishes); N_r = 0 yields
    * NULL (estimator undefined).
    *
    * Scale design (100 TB): one corpus pass to (token, count)
    * vocabulary grain, one vocabulary pass to the ≤11-row
    * frequency-of-frequencies frame (both partial-aggregable); the
    * rank axis is a 10-row literal; joins are broadcast against
    * bounded frames. Output 10 rows. */
  val q353GoodTuring: QueryDef = {
    val rStar = "CASE WHEN n_r > 0 THEN CAST(floor((1000000.0 * (r + 1) * " +
      "CAST(n_r1 AS DOUBLE)) / CAST(n_r AS DOUBLE)) AS BIGINT) " +
      "ELSE NULL END"
    val gtPpb = "CASE WHEN n_r > 0 THEN CAST(floor((1000000000.0 * (r + 1) " +
      "* CAST(n_r1 AS DOUBLE)) / (CAST(n_r AS DOUBLE) * " +
      "CAST(n_tok AS DOUBLE))) AS BIGINT) ELSE NULL END"
    QueryDef(
      "q353_good_turing",
      s"""WITH tc AS (
         |  SELECT tok, CAST(count(*) AS BIGINT) AS c
         |  FROM (SELECT unnest(string_split(text, ' ')) AS tok
         |        FROM documents) GROUP BY 1),
         |ff AS (
         |  SELECT c AS r, CAST(count(*) AS BIGINT) AS n_r
         |  FROM tc WHERE c <= 11 GROUP BY 1),
         |nt AS (
         |  SELECT CAST(sum(c) AS BIGINT) AS n_tok,
         |    CAST(count(*) AS BIGINT) AS n_types,
         |    CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1
         |  FROM tc),
         |rr AS (SELECT CAST(unnest(range(1, 11)) AS BIGINT) AS r),
         |j AS (
         |  SELECT rr.r, coalesce(f1.n_r, 0) AS n_r,
         |    coalesce(f2.n_r, 0) AS n_r1
         |  FROM rr LEFT JOIN ff f1 ON rr.r = f1.r
         |    LEFT JOIN ff f2 ON rr.r + 1 = f2.r)
         |SELECT j.r, j.n_r, j.n_r1,
         |  $rStar AS r_star_ppm, $gtPpb AS gt_prob_ppb,
         |  (1000000 * nt.n1) // nt.n_tok AS p0_ppm,
         |  nt.n_tok AS n_tokens, nt.n_types
         |FROM j, nt ORDER BY j.r""".stripMargin) { (s, dir) =>
      val tc = Tables.documents(s, dir)
        .repartition(col("doc_id")) // single-file scan -> use every core
        .select(explode(split(col("text"), " ")).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("c"))
      val ff = broadcast(tc.filter(col("c") <= 11)
        .groupBy(col("c").as("r")).agg(count(lit(1)).as("n_r")))
      val nt = broadcast(tc.agg(
        sum(col("c")).cast("bigint").as("n_tok"),
        count(lit(1)).as("n_types"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).cast("bigint").as("n1")))
      import s.implicits._
      val rr = (1L to 10L).toDF("r")
      rr.join(ff.as("f1"), rr("r") === col("f1.r"), "left")
        .join(ff.as("f2"), rr("r") + 1 === col("f2.r"), "left")
        .select(rr("r"),
          coalesce(col("f1.n_r"), lit(0L)).as("n_r"),
          coalesce(col("f2.n_r"), lit(0L)).as("n_r1"))
        .crossJoin(nt)
        .select(col("r"), col("n_r"), col("n_r1"),
          expr(rStar).as("r_star_ppm"), expr(gtPpb).as("gt_prob_ppb"),
          expr("(1000000 * n1) div n_tok").as("p0_ppm"),
          col("n_tok").as("n_tokens"), col("n_types"))
        .orderBy("r")
    }
  }

  /** q358 — word adaptation / burstiness audit (Church & Gale '95,
    * "Poisson Mixtures"; Church 2000, "Empirical Estimates of
    * Adaptation"): per dyadic corpus-frequency band, the measured
    * adaptation P(word occurs ≥2 in a doc | occurs ≥1) against the
    * independence null (binomial with the word's global rate over the
    * mean doc length). Natural text adapts — a word that appeared is
    * far likelier to reappear than Poisson allows — and the
    * band-resolved burst ratio is the signal a topical-dedup or
    * keyword pipeline reads to separate FUNCTION words (ratio ≈ 1)
    * from CONTENT words (ratio ≫ 1). q200 measures burstiness per
    * document; this measures it per WORD-frequency band with an
    * explicit null.
    *
    * Exactness: df and repeat-df are exact integers; the measured
    * adaptation is a non-negative ppm floor-div of band sums; each
    * word's null P(≥2|≥1) = (1 − q^L − Lp·q^(L−1))/(1 − q^L) is ONE
    * shared exp/ln double chain (q286 contract) floored to nano per
    * word BEFORE band-summing (order-free), then averaged by integer
    * division over the band's type count.
    *
    * Scale design (100 TB): one corpus pass to (doc, word) counts,
    * one vocabulary pass to per-word stats, one ≤64-row band
    * collapse — all partial-aggregable, zero windows, zero joins
    * beyond the 1-row totals broadcast. Output ≤ ~15 rows. */
  val q358WordAdaptation: QueryDef = {
    val MIN_DF = 5L
    // per-word null chain over (nw, ntok, ndoc): p = nw/ntok,
    // L = ntok/ndoc, q = 1-p
    val pD = "(CAST(nw AS DOUBLE) / CAST(ntok AS DOUBLE))"
    val lD = "(CAST(ntok AS DOUBLE) / CAST(ndoc AS DOUBLE))"
    val qlD = s"exp(($lD) * ln(1.0 - ($pD)))"
    val ql1D = s"exp((($lD) - 1.0) * ln(1.0 - ($pD)))"
    val nullNano = s"CAST(floor(1000000000.0 * " +
      s"((1.0 - ($qlD) - ($lD) * ($pD) * ($ql1D)) / (1.0 - ($qlD)))) " +
      s"AS BIGINT)"
    QueryDef(
      "q358_word_adaptation",
      s"""WITH dw AS (
         |  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
         |        FROM documents) GROUP BY 1, 2),
         |tot AS (
         |  SELECT CAST(sum(c) AS BIGINT) AS ntok,
         |    CAST(count(DISTINCT doc_id) AS BIGINT) AS ndoc
         |  FROM dw),
         |ws AS (
         |  SELECT tok, CAST(sum(c) AS BIGINT) AS nw,
         |    CAST(count(*) AS BIGINT) AS df,
         |    CAST(sum(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS r2
         |  FROM dw GROUP BY 1),
         |wn AS (
         |  SELECT CAST(floor(ln(CAST(nw AS DOUBLE)) / ln(2.0)) AS BIGINT)
         |      AS band,
         |    df, r2, $nullNano AS null_nano
         |  FROM ws, tot WHERE df >= $MIN_DF)
         |SELECT band, CAST(count(*) AS BIGINT) AS n_types,
         |  CAST(sum(df) AS BIGINT) AS sum_df,
         |  CAST(sum(r2) AS BIGINT) AS sum_r2,
         |  (1000000 * CAST(sum(r2) AS BIGINT))
         |    // CAST(sum(df) AS BIGINT) AS adapt_ppm,
         |  CAST(sum(null_nano) AS BIGINT)
         |    // (1000 * CAST(count(*) AS BIGINT)) AS null_ppm
         |FROM wn GROUP BY band ORDER BY band""".stripMargin) { (s, dir) =>
      val dw = Tables.documents(s, dir)
        .repartition(col("doc_id")) // single-file scan -> use every core
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
        .ckpt() // one (doc, word) collapse feeds totals AND word stats
      val tot = broadcast(dw.agg(
        sum(col("c")).cast("bigint").as("ntok"),
        countDistinct(col("doc_id")).as("ndoc")))
      val ws = dw.groupBy(col("tok"))
        .agg(sum(col("c")).cast("bigint").as("nw"),
          count(lit(1)).as("df"),
          sum(when(col("c") >= 2, 1L).otherwise(0L)).cast("bigint").as("r2"))
        .filter(col("df") >= MIN_DF)
      ws.crossJoin(tot)
        .select(
          expr("CAST(floor(ln(CAST(nw AS DOUBLE)) / ln(2.0)) AS BIGINT)")
            .as("band"),
          col("df"), col("r2"), expr(nullNano).as("null_nano"))
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n_types"),
          sum(col("df")).cast("bigint").as("sum_df"),
          sum(col("r2")).cast("bigint").as("sum_r2"),
          sum(col("null_nano")).cast("bigint").as("sn"))
        .select(col("band"), col("n_types"), col("sum_df"), col("sum_r2"),
          expr("(1000000 * sum_r2) div sum_df").as("adapt_ppm"),
          expr("sn div (1000 * n_types)").as("null_ppm"))
        .orderBy("band")
    }
  }

  /** q374 — TextTiling topic-boundary detection (Hearst CL'97, the
    * fixed-radius-peak variant): each document is cut into 20-token
    * blocks, adjacent blocks are compared by bag-of-words cosine, and
    * a gap is a SEGMENT BOUNDARY when its depth score (how far the
    * similarity dips below the neighboring peaks, radius 2) exceeds
    * the document's μ_d − σ_d/2 threshold — Hearst's cutoff. This is
    * the semantic chunker for RAG ingestion (q90 cuts at fixed
    * strides; this cuts where the TOPIC shifts), reported as per-source
    * segmentation rates.
    *
    * Exactness: block vectors are integer token counts; each gap
    * cosine is ONE floor-ppm sqrt chain (q44 discipline); depths are
    * integer ppm; the per-doc threshold is one IEEE chain over exact
    * integer depth moments, floored once; boundary flags are integer
    * compares. Fixed-radius peaks (±2 gaps) replace Hearst's
    * scan-to-local-max so the operator is window-relational rather
    * than per-doc sequential — the documented simplification.
    *
    * Scale design (100 TB): one explode pass builds (doc, block,
    * word) counts; the gap join is equi on (doc, word, block+1);
    * every window is PARTITIONED BY doc over the gap axis (≤ len/20
    * rows per doc); per-doc stats are grouped aggregates; output is
    * |sources| rows. */
  val q374TextTiling: QueryDef = {
    val B = 20 // block size (tokens)
    val cosChain = "CAST(floor(1000000.0e0 * CAST(dot AS DOUBLE) / " +
      "sqrt(CAST(nl AS DOUBLE) * CAST(nr AS DOUBLE))) AS BIGINT)"
    val thrChain = "CAST(floor(CAST(sd1 AS DOUBLE) / CAST(ng AS DOUBLE) - " +
      "sqrt(CAST(ng AS DOUBLE) * CAST(sd2 AS DOUBLE) - " +
      "CAST(sd1 AS DOUBLE) * CAST(sd1 AS DOUBLE)) / " +
      "(2.0e0 * CAST(ng AS DOUBLE))) AS BIGINT)"
    QueryDef(
      "q374_texttiling",
      s"""WITH t AS (
         |  SELECT doc_id, source, string_split(text, ' ') AS toks,
         |    len(string_split(text, ' ')) AS n FROM documents),
         |blk AS (
         |  SELECT doc_id, source,
         |    CAST((start_tok - 1) // $B AS BIGINT) AS b,
         |    toks[start_tok : least(start_tok + ${B - 1}, n)] AS bt
         |  FROM (SELECT doc_id, source, toks, n,
         |          unnest(generate_series(1, n, $B)) AS start_tok FROM t)),
         |bw AS (
         |  SELECT doc_id, b, w, CAST(count(*) AS BIGINT) AS cnt
         |  FROM (SELECT doc_id, b, unnest(bt) AS w FROM blk)
         |  GROUP BY 1, 2, 3),
         |nrm AS (
         |  SELECT doc_id, b, CAST(sum(cnt * cnt) AS BIGINT) AS nn
         |  FROM bw GROUP BY 1, 2),
         |dots AS (
         |  SELECT l.doc_id, l.b AS g, CAST(sum(l.cnt * r.cnt) AS BIGINT) AS dot
         |  FROM bw l JOIN bw r ON r.doc_id = l.doc_id AND r.b = l.b + 1
         |    AND r.w = l.w
         |  GROUP BY 1, 2),
         |gap0 AS (
         |  SELECT nl.doc_id, nl.b AS g, coalesce(d.dot, 0) AS dot,
         |    nl.nn AS nl, nr.nn AS nr
         |  FROM nrm nl JOIN nrm nr ON nr.doc_id = nl.doc_id AND nr.b = nl.b + 1
         |  LEFT JOIN dots d ON d.doc_id = nl.doc_id AND d.g = nl.b),
         |gaps AS (
         |  SELECT doc_id, g,
         |    CASE WHEN dot = 0 THEN 0 ELSE $cosChain END AS s
         |  FROM gap0),
         |dep AS (
         |  SELECT doc_id, g, s,
         |    greatest(coalesce(max(s) OVER wl, s) - s, 0) +
         |    greatest(coalesce(max(s) OVER wr, s) - s, 0) AS d
         |  FROM gaps
         |  WINDOW wl AS (PARTITION BY doc_id ORDER BY g
         |    ROWS BETWEEN 2 PRECEDING AND 1 PRECEDING),
         |  wr AS (PARTITION BY doc_id ORDER BY g
         |    ROWS BETWEEN 1 FOLLOWING AND 2 FOLLOWING)),
         |ds AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS ng,
         |    CAST(sum(d) AS BIGINT) AS sd1, CAST(sum(d * d) AS BIGINT) AS sd2
         |  FROM dep GROUP BY doc_id),
         |thr AS (SELECT doc_id, ng, $thrChain AS thr FROM ds WHERE ng >= 2),
         |db AS (
         |  SELECT dep.doc_id,
         |    CAST(sum(CASE WHEN dep.d > thr.thr THEN 1 ELSE 0 END) AS BIGINT)
         |      AS nb,
         |    max(thr.ng) AS ng
         |  FROM dep JOIN thr ON thr.doc_id = dep.doc_id
         |  GROUP BY dep.doc_id)
         |SELECT t.source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(db.ng) AS BIGINT) AS n_gaps,
         |  CAST(sum(db.nb) AS BIGINT) AS n_boundaries,
         |  CAST((1000 * sum(db.nb)) // sum(db.ng) AS BIGINT)
         |    AS boundary_rate_milli
         |FROM db JOIN t ON t.doc_id = db.doc_id
         |GROUP BY t.source ORDER BY t.source""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
        .repartition(col("doc_id")) // single-file scan -> use the cores
        .select(col("doc_id"), col("source"), split(col("text"), " ").as("toks"))
        .withColumn("n", size(col("toks")))
      val blk = docs
        .select(col("doc_id"), col("source"), col("toks"), col("n"),
          explode(sequence(lit(1), col("n"), lit(B))).as("start_tok"))
        .select(col("doc_id"),
          expr(s"(start_tok - 1) div $B").cast("long").as("b"),
          slice(col("toks"), col("start_tok"),
            least(col("start_tok") + (B - 1), col("n")) - col("start_tok") + 1)
            .as("bt"))
      val bw = blk.select(col("doc_id"), col("b"), explode(col("bt")).as("w"))
        .groupBy("doc_id", "b", "w").agg(count(lit(1)).as("cnt"))
        .ckpt() // both sides of the adjacent-gap join
      val nrm = bw.groupBy("doc_id", "b")
        .agg(sum(col("cnt") * col("cnt")).as("nn"))
        .ckpt() // both sides of the adjacent-norm join
      val dots = bw.select(col("doc_id"), col("b").as("g"),
          col("w"), col("cnt").as("lc"))
        .join(bw.select(col("doc_id"), (col("b") - 1).as("g"), col("w"),
          col("cnt").as("rc")), Seq("doc_id", "g", "w"))
        .groupBy("doc_id", "g").agg(sum(col("lc") * col("rc")).as("dot"))
      val gaps = nrm.select(col("doc_id"), col("b").as("g"), col("nn").as("nl"))
        .join(nrm.select(col("doc_id"), (col("b") - 1).as("g"),
          col("nn").as("nr")), Seq("doc_id", "g"))
        .join(dots, Seq("doc_id", "g"), "left")
        .select(col("doc_id"), col("g"),
          when(coalesce(col("dot"), lit(0L)) === 0, 0L)
            .otherwise(expr(cosChain)).as("s"))
      val wl = Window.partitionBy(col("doc_id")).orderBy(col("g"))
        .rowsBetween(-2, -1)
      val wr = Window.partitionBy(col("doc_id")).orderBy(col("g"))
        .rowsBetween(1, 2)
      val dep = gaps.select(col("doc_id"), col("g"), col("s"),
        (greatest(coalesce(max(col("s")).over(wl), col("s")) - col("s"), lit(0L)) +
          greatest(coalesce(max(col("s")).over(wr), col("s")) - col("s"), lit(0L)))
          .as("d"))
        .ckpt() // feeds the per-doc moments AND the boundary count
      val ds = dep.groupBy("doc_id")
        .agg(count(lit(1)).as("ng"), sum(col("d")).as("sd1"),
          sum(col("d") * col("d")).as("sd2"))
      val thr = ds.filter(col("ng") >= 2)
        .select(col("doc_id"), col("ng"), expr(thrChain).as("thr"))
      val db = dep.join(thr, Seq("doc_id"))
        .groupBy("doc_id")
        .agg(sum(when(col("d") > col("thr"), 1L).otherwise(0L)).as("nb"),
          max(col("ng")).as("ng"))
      db.join(Tables.documents(s, dir).select(col("doc_id"), col("source")),
          Seq("doc_id"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(col("ng")).as("n_gaps"),
          sum(col("nb")).as("n_boundaries"))
        .select(col("source"), col("n_docs"), col("n_gaps"),
          col("n_boundaries"),
          expr("(1000 * n_boundaries) div n_gaps").as("boundary_rate_milli"))
        .orderBy("source")
    }
  }

  /** q378 — Fleiss' κ multi-rater agreement (Fleiss '71) over three
    * independent document-quality heuristics: above-median character
    * length, above-median type-token ratio, above-median mean word
    * length — the "do our quality signals even agree" audit a
    * filtering pipeline runs before ensembling them (q328's Cohen κ
    * compares exactly two raters; Fleiss generalizes to n). Low κ
    * means the heuristics measure different things and a vote/stack
    * is warranted; high κ means they're redundant.
    *
    * Exactness: each heuristic's cut is an exact median picked by a
    * [[ScaleRank.withRunningSum]] prefix count over its (value, count)
    * domain collapse (no windows, no domain θ-joins);
    * per-doc agreement numerators n₁²+n₀²−3 are tiny integers; κ is
    * ONE guarded IEEE chain from three integer sums (NULL when votes
    * are unanimous — P_e = 1 leaves κ undefined).
    *
    * Scale design (100 TB): one token pass per doc builds all three
    * features map-side; medians live on (domain, count) collapses;
    * the κ algebra is a 1-row frame. Output 1 row. */
  val q378FleissKappa: QueryDef = {
    val kap = "CASE WHEN s1 > 0 AND s1 < 3 * nd THEN " +
      "CAST(floor(1000000.0e0 * " +
      "((CAST(sa AS DOUBLE) / (6.0e0 * CAST(nd AS DOUBLE))) - " +
      "((CAST(s1 AS DOUBLE) / (3.0e0 * CAST(nd AS DOUBLE))) * " +
      "(CAST(s1 AS DOUBLE) / (3.0e0 * CAST(nd AS DOUBLE))) + " +
      "(1.0e0 - CAST(s1 AS DOUBLE) / (3.0e0 * CAST(nd AS DOUBLE))) * " +
      "(1.0e0 - CAST(s1 AS DOUBLE) / (3.0e0 * CAST(nd AS DOUBLE))))) / " +
      "(1.0e0 - ((CAST(s1 AS DOUBLE) / (3.0e0 * CAST(nd AS DOUBLE))) * " +
      "(CAST(s1 AS DOUBLE) / (3.0e0 * CAST(nd AS DOUBLE))) + " +
      "(1.0e0 - CAST(s1 AS DOUBLE) / (3.0e0 * CAST(nd AS DOUBLE))) * " +
      "(1.0e0 - CAST(s1 AS DOUBLE) / (3.0e0 * CAST(nd AS DOUBLE)))))) " +
      "AS BIGINT) END"
    def medCte(src: String, v: String) =
      s"""${v}d AS (SELECT $v AS v, CAST(count(*) AS BIGINT) AS cnt
         |  FROM $src GROUP BY 1),
         |${v}m AS (
         |  SELECT min(a.v) AS med FROM (
         |    SELECT a.v, sum(b.cnt) AS cum
         |    FROM ${v}d a JOIN ${v}d b ON b.v <= a.v GROUP BY a.v) a, nn
         |  WHERE a.cum >= (nn.nd + 1) // 2)""".stripMargin
    QueryDef(
      "q378_fleiss_kappa",
      s"""WITH f AS (
         |  SELECT doc_id, CAST(length(text) AS BIGINT) AS len,
         |    (1000 * CAST(len(list_distinct(string_split(text, ' ')))
         |      AS BIGINT)) // CAST(len(string_split(text, ' ')) AS BIGINT)
         |      AS ttr,
         |    (1000 * (CAST(length(text) AS BIGINT) -
         |      CAST(len(string_split(text, ' ')) AS BIGINT) + 1)) //
         |      CAST(len(string_split(text, ' ')) AS BIGINT) AS mwl
         |  FROM documents),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM f),
         |${medCte("f", "len")},
         |${medCte("f", "ttr")},
         |${medCte("f", "mwl")},
         |votes AS (
         |  SELECT doc_id,
         |    (CASE WHEN f.len > lenm.med THEN 1 ELSE 0 END +
         |     CASE WHEN f.ttr > ttrm.med THEN 1 ELSE 0 END +
         |     CASE WHEN f.mwl > mwlm.med THEN 1 ELSE 0 END) AS n1,
         |    CASE WHEN f.len > lenm.med THEN 1 ELSE 0 END AS v_len,
         |    CASE WHEN f.ttr > ttrm.med THEN 1 ELSE 0 END AS v_ttr,
         |    CASE WHEN f.mwl > mwlm.med THEN 1 ELSE 0 END AS v_mwl
         |  FROM f, lenm, ttrm, mwlm),
         |agg AS (
         |  SELECT CAST(sum(n1) AS BIGINT) AS s1,
         |    CAST(sum(n1 * n1 + (3 - n1) * (3 - n1) - 3) AS BIGINT) AS sa,
         |    CAST(sum(v_len) AS BIGINT) AS p_len,
         |    CAST(sum(v_ttr) AS BIGINT) AS p_ttr,
         |    CAST(sum(v_mwl) AS BIGINT) AS p_mwl
         |  FROM votes)
         |SELECT nn.nd AS n_docs, agg.s1 AS n_pos_votes,
         |  agg.p_len, agg.p_ttr, agg.p_mwl,
         |  $kap AS kappa_micro
         |FROM nn, agg""".stripMargin) { (s, dir) =>
      val f = Tables.documents(s, dir)
        .select(col("doc_id"), length(col("text")).cast("bigint").as("len"),
          split(col("text"), " ").as("toks"))
        .select(col("doc_id"), col("len"),
          expr("(1000 * CAST(size(array_distinct(toks)) AS BIGINT)) div " +
            "CAST(size(toks) AS BIGINT)").as("ttr"),
          expr("(1000 * (len - CAST(size(toks) AS BIGINT) + 1)) div " +
            "CAST(size(toks) AS BIGINT)").as("mwl"))
        .ckpt() // one feature pass feeds three median cuts + votes
      val nn = f.agg(count(lit(1)).as("nd"))
      // ONE domain collapse for all three heuristics (map-side ×3
      // expand), then ONE grouped two-level prefix sum for the three
      // exact medians (q379/q385 discipline) — the `len` domain grows
      // with max doc length, so a (value,count)² θ-join would be
      // O(|D|²)
      val dAll = f.select(explode(array(
          struct(lit("len").as("axis"), col("len").as("v")),
          struct(lit("ttr").as("axis"), col("ttr").as("v")),
          struct(lit("mwl").as("axis"), col("mwl").as("v")))).as("e"))
        .select(col("e.axis").as("axis"), col("e.v").as("v"))
        .groupBy(col("axis"), col("v")).agg(count(lit(1)).as("cnt"))
      val meds = ScaleRank.withRunningSum(dAll, Seq("axis"),
          Seq(col("v")), col("cnt"), "cum")
        .crossJoin(broadcast(nn))
        .filter(expr("cum >= (nd + 1) div 2"))
        .groupBy(col("axis")).agg(min(col("v")).as("med"))
        .agg(max(when(col("axis") === "len", col("med"))).as("med_len"),
          max(when(col("axis") === "ttr", col("med"))).as("med_ttr"),
          max(when(col("axis") === "mwl", col("med"))).as("med_mwl"))
      val votes = f
        .crossJoin(broadcast(meds))
        .select(
          (when(col("len") > col("med_len"), 1).otherwise(0) +
            when(col("ttr") > col("med_ttr"), 1).otherwise(0) +
            when(col("mwl") > col("med_mwl"), 1).otherwise(0)).as("n1"),
          when(col("len") > col("med_len"), 1).otherwise(0).as("v_len"),
          when(col("ttr") > col("med_ttr"), 1).otherwise(0).as("v_ttr"),
          when(col("mwl") > col("med_mwl"), 1).otherwise(0).as("v_mwl"))
      val agg = votes.agg(sum(col("n1")).as("s1"),
        sum(col("n1") * col("n1") + (lit(3) - col("n1")) * (lit(3) - col("n1"))
          - 3).as("sa"),
        sum(col("v_len")).as("p_len"), sum(col("v_ttr")).as("p_ttr"),
        sum(col("v_mwl")).as("p_mwl"))
      nn.crossJoin(broadcast(agg))
        .select(col("nd").as("n_docs"), col("s1").as("n_pos_votes"),
          col("p_len"), col("p_ttr"), col("p_mwl"),
          expr(kap).as("kappa_micro"))
    }
  }

  /** q396 — Cochran's Q test (Cochran '50) over the three binary
    * document-quality raters of q378 (above-median length / TTR /
    * mean word length): do the k = 3 raters have the SAME marginal
    * pass rate? Fleiss' κ (q378) measures per-document AGREEMENT;
    * Q tests whether the raters are even exchangeable in level — the
    * within-subjects binary ANOVA (and the k-treatment extension of
    * q264's McNemar, exactly as q391's Friedman extends the paired
    * t). A significant Q says "these heuristics pass different
    * fractions — calibrate before ensembling".
    *
    * Exactness: medians are exact order statistics via the grouped
    * [[ScaleRank.withRunningSum]] prefix count (the fused q378/q385
    * machinery — one ×3 map-side expand, one prefix pass); the
    * column totals C_j, the vote total N, and ΣR_i² are exact
    * integers; Q = (k−1)(kΣC_j² − N²)/(kN − ΣR_i²) is ONE guarded
    * IEEE chain with the squares ridden through DECIMAL(38).
    *
    * Scale design (100 TB): one token pass per doc; medians on the
    * (axis, value) domain collapse; the Q algebra is a 1-row frame.
    * Output 1 row. */
  val q396CochranQ: QueryDef = {
    val qChain = "CAST(floor(1000.0e0 * 2.0e0 * " +
      "(3.0e0 * (CAST(c1 AS DOUBLE) * CAST(c1 AS DOUBLE) + " +
      "CAST(c2 AS DOUBLE) * CAST(c2 AS DOUBLE) + " +
      "CAST(c3 AS DOUBLE) * CAST(c3 AS DOUBLE)) - " +
      "CAST(nv AS DOUBLE) * CAST(nv AS DOUBLE)) / " +
      "(3.0e0 * CAST(nv AS DOUBLE) - CAST(sr2 AS DOUBLE))) AS BIGINT)"
    def medCte(src: String, v: String) =
      s"""${v}d AS (SELECT $v AS v, CAST(count(*) AS BIGINT) AS cnt
         |  FROM $src GROUP BY 1),
         |${v}m AS (
         |  SELECT min(a.v) AS med FROM (
         |    SELECT a.v, sum(b.cnt) AS cum
         |    FROM ${v}d a JOIN ${v}d b ON b.v <= a.v GROUP BY a.v) a, nn
         |  WHERE a.cum >= (nn.nd + 1) // 2)""".stripMargin
    QueryDef(
      "q396_cochran_q",
      s"""WITH f AS (
         |  SELECT doc_id, CAST(length(text) AS BIGINT) AS len,
         |    (1000 * CAST(len(list_distinct(string_split(text, ' ')))
         |      AS BIGINT)) // CAST(len(string_split(text, ' ')) AS BIGINT)
         |      AS ttr,
         |    (1000 * (CAST(length(text) AS BIGINT) -
         |      CAST(len(string_split(text, ' ')) AS BIGINT) + 1)) //
         |      CAST(len(string_split(text, ' ')) AS BIGINT) AS mwl
         |  FROM documents),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM f),
         |${medCte("f", "len")},
         |${medCte("f", "ttr")},
         |${medCte("f", "mwl")},
         |votes AS (
         |  SELECT
         |    CASE WHEN f.len > lenm.med THEN 1 ELSE 0 END AS v1,
         |    CASE WHEN f.ttr > ttrm.med THEN 1 ELSE 0 END AS v2,
         |    CASE WHEN f.mwl > mwlm.med THEN 1 ELSE 0 END AS v3
         |  FROM f, lenm, ttrm, mwlm),
         |agg AS (
         |  SELECT CAST(sum(v1) AS HUGEINT) AS c1,
         |    CAST(sum(v2) AS HUGEINT) AS c2,
         |    CAST(sum(v3) AS HUGEINT) AS c3,
         |    CAST(sum(v1 + v2 + v3) AS HUGEINT) AS nv,
         |    CAST(sum((v1 + v2 + v3) * (v1 + v2 + v3)) AS HUGEINT) AS sr2
         |  FROM votes)
         |SELECT nn.nd AS n_docs, CAST(c1 AS BIGINT) AS pass_len,
         |  CAST(c2 AS BIGINT) AS pass_ttr, CAST(c3 AS BIGINT) AS pass_mwl,
         |  $qChain AS q_milli,
         |  CASE WHEN $qChain > 5991 THEN 1 ELSE 0 END AS reject_5pct
         |FROM nn, agg WHERE 3 * nv - sr2 > 0""".stripMargin) { (s, dir) =>
      val dec = (c: Column) => c.cast("decimal(38,0)")
      val f = Tables.documents(s, dir)
        .select(col("doc_id"), length(col("text")).cast("bigint").as("len"),
          split(col("text"), " ").as("toks"))
        .select(col("doc_id"), col("len"),
          expr("(1000 * CAST(size(array_distinct(toks)) AS BIGINT)) div " +
            "CAST(size(toks) AS BIGINT)").as("ttr"),
          expr("(1000 * (len - CAST(size(toks) AS BIGINT) + 1)) div " +
            "CAST(size(toks) AS BIGINT)").as("mwl"))
        .ckpt() // one feature pass feeds the median cuts + votes
      val nn = f.agg(count(lit(1)).as("nd"))
      val dAll = f.select(explode(array(
          struct(lit("len").as("axis"), col("len").as("v")),
          struct(lit("ttr").as("axis"), col("ttr").as("v")),
          struct(lit("mwl").as("axis"), col("mwl").as("v")))).as("e"))
        .select(col("e.axis").as("axis"), col("e.v").as("v"))
        .groupBy(col("axis"), col("v")).agg(count(lit(1)).as("cnt"))
      val meds = ScaleRank.withRunningSum(dAll, Seq("axis"),
          Seq(col("v")), col("cnt"), "cum")
        .crossJoin(broadcast(nn))
        .filter(expr("cum >= (nd + 1) div 2"))
        .groupBy(col("axis")).agg(min(col("v")).as("med"))
        .agg(max(when(col("axis") === "len", col("med"))).as("med_len"),
          max(when(col("axis") === "ttr", col("med"))).as("med_ttr"),
          max(when(col("axis") === "mwl", col("med"))).as("med_mwl"))
      val votes = f.crossJoin(broadcast(meds))
        .select(when(col("len") > col("med_len"), 1L).otherwise(0L).as("v1"),
          when(col("ttr") > col("med_ttr"), 1L).otherwise(0L).as("v2"),
          when(col("mwl") > col("med_mwl"), 1L).otherwise(0L).as("v3"))
      val agg = votes.agg(dec(sum(col("v1"))).as("c1"),
        dec(sum(col("v2"))).as("c2"), dec(sum(col("v3"))).as("c3"),
        dec(sum(col("v1") + col("v2") + col("v3"))).as("nv"),
        dec(sum((col("v1") + col("v2") + col("v3")) *
          (col("v1") + col("v2") + col("v3")))).as("sr2"))
      nn.crossJoin(broadcast(agg))
        .filter(expr("3 * nv - sr2 > 0"))
        .select(col("nd").as("n_docs"), col("c1").cast("bigint").as("pass_len"),
          col("c2").cast("bigint").as("pass_ttr"),
          col("c3").cast("bigint").as("pass_mwl"),
          expr(qChain).as("q_milli"),
          when(expr(qChain) > 5991, 1).otherwise(0).as("reject_5pct"))
    }
  }

  /** q383 — weighted sampling WITHOUT replacement via exponential
    * keys (Efraimidis–Spirakis IPL'06; the ln-space form is the
    * Gumbel-top-k trick): each document draws the key
    * ln(u)/w from its portable md5 uniform u and weight w = n_chars,
    * and the k LARGEST keys are exactly a weight-proportional sample
    * without replacement — the one-pass, shuffle-light way a 100 TB
    * pipeline samples quality-weighted training docs (q89's weighted
    * sampler is WITH replacement; this is the without-replacement
    * dual, and the key is mergeable: global top-k of per-partition
    * top-ks).
    *
    * Exactness: u = (h + ½)/2⁶⁰ from the 60-bit md5 prefix (never 0
    * or 1); the key is ONE floor-nano ln chain per doc; selection is
    * TakeOrdered k=50 with doc_id tiebreak; ranks ride a window over
    * the literal-k slice (the q112/q130 shape).
    *
    * Scale design (100 TB): one map-side key computation, one
    * TakeOrdered heap — no shuffle beyond top-k merge. Output 50
    * rows. */
  val q383GumbelTopk: QueryDef = {
    val K = 50
    val key = "CAST(floor(1000000000.0e0 * ln((CAST(h AS DOUBLE) + 0.5e0) " +
      "/ 1152921504606846976.0e0) / CAST(w AS DOUBLE)) AS BIGINT)"
    QueryDef(
      "q383_gumbel_topk",
      s"""WITH d AS (
         |  SELECT doc_id, n_chars AS w,
         |    ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
         |  FROM documents WHERE n_chars > 0),
         |kk AS (SELECT doc_id, w, $key AS key_nano FROM d),
         |top AS (
         |  SELECT doc_id, w, key_nano,
         |    row_number() OVER (ORDER BY key_nano DESC, doc_id) AS rk
         |  FROM kk)
         |SELECT CAST(rk AS BIGINT) AS rank, doc_id, w AS weight,
         |  key_nano
         |FROM top WHERE rk <= $K ORDER BY rank""".stripMargin) { (s, dir) =>
      val kk = Tables.documents(s, dir)
        .filter(col("n_chars") > 0)
        .select(col("doc_id"), col("n_chars").as("w"),
          conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
            .cast("long").as("h"))
        .select(col("doc_id"), col("w"), expr(key).as("key_nano"))
      val w = Window.orderBy(col("key_nano").desc, col("doc_id"))
      kk.orderBy(col("key_nano").desc, col("doc_id")).limit(K)
        .withColumn("rank", row_number().over(w).cast("bigint"))
        .select(col("rank"), col("doc_id"), col("w").as("weight"),
          col("key_nano"))
        .orderBy("rank")
    }
  }

  /** q386 — n-gram novelty profile of the held-out split against the
    * training split, n = 1..5: what fraction of test n-gram INSTANCES
    * never appear in training data? The memorization-vs-generalization
    * audit run before trusting any held-out metric (q75's
    * contamination screen flags whole overlapping DOCS; this measures
    * the fine-grained leakage floor, and its decay across n is the
    * classic novelty curve — unigrams mostly seen, 5-grams mostly
    * novel).
    *
    * Exactness: grams are md5 hashes of space-joined token windows
    * (identical construction both engines); counts are exact
    * integers; novelty is an exact ppm floor-div.
    *
    * Scale design (100 TB): ONE corpus pass explodes all five gram
    * orders together (tagged structs from five in-row transforms);
    * the train side collapses to a DISTINCT (n, gram) dictionary
    * before the equi-join (DF-style discipline — test instances never
    * meet each other, only the dictionary). Output 5 rows. */
  val q386NgramNovelty: QueryDef = {
    val NS = 1 to 5
    def gramsSql(src: String) = NS.map(n =>
      s"(SELECT doc_id, $n AS n, unnest(list_transform(" +
        s"range(1, len(toks) - ${n - 1} + 1), i_ -> " +
        s"md5(array_to_string(toks[i_ : i_ + ${n - 1}], ' ')))) AS g " +
        s"FROM $src)").mkString("\n         |  UNION ALL ")
    QueryDef(
      "q386_ngram_novelty",
      s"""WITH d0 AS (
         |  SELECT doc_id, string_split(text, ' ') AS toks,
         |    ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
         |      % 5 AS sp
         |  FROM documents),
         |tr AS (SELECT doc_id, toks FROM d0 WHERE sp <> 0 AND len(toks) >= 5),
         |te AS (SELECT doc_id, toks FROM d0 WHERE sp = 0 AND len(toks) >= 5),
         |trg AS (SELECT DISTINCT n, g FROM (${gramsSql("tr")})),
         |teg AS (
         |  SELECT n, g, CAST(count(*) AS BIGINT) AS c
         |  FROM (${gramsSql("te")}) GROUP BY 1, 2),
         |j AS (
         |  SELECT teg.n, CAST(sum(teg.c) AS BIGINT) AS total,
         |    CAST(sum(CASE WHEN trg.g IS NULL THEN teg.c ELSE 0 END)
         |      AS BIGINT) AS novel,
         |    CAST(count(*) AS BIGINT) AS n_types,
         |    CAST(sum(CASE WHEN trg.g IS NULL THEN 1 ELSE 0 END)
         |      AS BIGINT) AS novel_types
         |  FROM teg LEFT JOIN trg ON trg.n = teg.n AND trg.g = teg.g
         |  GROUP BY teg.n)
         |SELECT CAST(n AS BIGINT) AS n, total AS test_instances,
         |  novel AS novel_instances,
         |  (1000000 * novel) // total AS novelty_ppm,
         |  n_types, novel_types
         |FROM j ORDER BY n""".stripMargin) { (s, dir) =>
      val gramsExpr = NS.map(n =>
        s"transform(sequence(1, size(toks) - ${n - 1}), i_ -> " +
          s"struct($n AS n, md5(array_join(slice(toks, i_, $n), ' ')) AS g))")
        .mkString("flatten(array(", ", ", "))")
      val hsplit = conv(substring(md5(col("doc_id").cast("string")), 1, 15),
        16, 10).cast("long") % 5
      val d0 = Tables.documents(s, dir)
        .repartition(col("doc_id")) // single-file scan -> use the cores
        .select(col("doc_id"), split(col("text"), " ").as("toks"),
          hsplit.as("sp"))
      def grams(df: org.apache.spark.sql.DataFrame) = df
        .filter(size(col("toks")) >= 5)
        .select(explode(expr(gramsExpr)).as("ng"))
        .select(col("ng.n").as("n"), col("ng.g").as("g"))
      val trg = grams(d0.filter(col("sp") =!= 0)).distinct()
        .select(col("n").as("tn"), col("g").as("tg"))
      val teg = grams(d0.filter(col("sp") === 0))
        .groupBy("n", "g").agg(count(lit(1)).as("c"))
      teg.join(trg, col("tn") === col("n") && col("tg") === col("g"), "left")
        .groupBy(col("n"))
        .agg(sum(col("c")).as("total"),
          sum(when(col("tg").isNull, col("c")).otherwise(0L)).as("novel"),
          count(lit(1)).as("n_types"),
          sum(when(col("tg").isNull, 1L).otherwise(0L)).as("novel_types"))
        .select(col("n").cast("bigint").as("n"),
          col("total").as("test_instances"),
          col("novel").as("novel_instances"),
          expr("(1000000 * novel) div total").as("novelty_ppm"),
          col("n_types"), col("novel_types"))
        .orderBy("n")
    }
  }

  /** q409 — Cohen's quadratically-weighted kappa (Cohen '68) between
    * two ordinal document "raters": the length quintile (by n_chars)
    * and the token-count quintile — κ_w = 1 − Σwᵢⱼ·Oᵢⱼ / Σwᵢⱼ·Eᵢⱼ
    * with wᵢⱼ = (i−j)². The chance-corrected agreement gauge for
    * ORDINAL labels (q378's Fleiss handles many raters but treats
    * categories as nominal; quadratic weights charge a 1↔5
    * disagreement 16× a 1↔2 one — exactly how adjacent quality-score
    * disagreements should be priced in a labeling pipeline audit).
    *
    * Exactness: both quintiles are the exact ntile assignment off
    * [[ScaleRank.withRowNumber]] under unique (value, doc_id) total
    * orders (the q129 discipline — bit-equal to the oracle's ntile
    * window); the 25-cell joint table, both margins, Σw·O, and
    * Σwᵢⱼ·rᵢ·cⱼ are exact integers; κ_w = 1000 − (1000·N·ΣwO) div
    * ΣwRC is ONE exact truncating div of non-negative ints.
    *
    * Scale design (100 TB): two distributed rank passes over the doc
    * frame joined back by doc_id (equi), one 25-cell aggregate;
    * everything downstream is ≤25 rows. Output 1 row. */
  val q409WeightedKappa: QueryDef = QueryDef(
    "q409_weighted_kappa",
    """WITH d AS (
      |  SELECT doc_id, n_chars,
      |    CAST(length(text) - length(replace(text, ' ', '')) + 1
      |      AS BIGINT) AS n_toks
      |  FROM documents),
      |r AS (
      |  SELECT doc_id,
      |    ntile(5) OVER (ORDER BY n_chars, doc_id) AS ra,
      |    ntile(5) OVER (ORDER BY n_toks, doc_id) AS rb
      |  FROM d),
      |o AS (
      |  SELECT ra, rb, CAST(count(*) AS BIGINT) AS c FROM r
      |  GROUP BY ra, rb),
      |nn AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM o),
      |wo AS (
      |  SELECT CAST(sum((ra - rb) * (ra - rb) * c) AS BIGINT) AS swo
      |  FROM o),
      |ma AS (SELECT ra, CAST(sum(c) AS BIGINT) AS rc FROM o GROUP BY ra),
      |mb AS (SELECT rb, CAST(sum(c) AS BIGINT) AS cc FROM o GROUP BY rb),
      |we AS (
      |  SELECT CAST(sum((ma.ra - mb.rb) * (ma.ra - mb.rb)
      |    * CAST(ma.rc AS HUGEINT) * mb.cc) AS HUGEINT) AS swrc
      |  FROM ma, mb)
      |SELECT nn.n AS n_docs, wo.swo AS sum_wo,
      |  CAST(1000 - (1000 * CAST(nn.n AS HUGEINT) * wo.swo) // we.swrc
      |    AS BIGINT) AS kappa_milli
      |FROM nn, wo, we WHERE we.swrc > 0""".stripMargin) { (s, dir) =>
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), col("n_chars"),
        size(split(col("text"), " ")).cast("bigint").as("n_toks"))
      .ckpt() // doc frame feeds both rank passes
    val ra = ScaleRank.withRowNumber(d.select(col("doc_id"), col("n_chars")),
        Seq.empty, Seq(col("n_chars"), col("doc_id")), "rk", "nt")
      .select(col("doc_id"),
        ScaleRank.ntileFromRank(5, col("rk"), col("nt")).as("ra"))
    val rb = ScaleRank.withRowNumber(d.select(col("doc_id"), col("n_toks")),
        Seq.empty, Seq(col("n_toks"), col("doc_id")), "rk", "nt")
      .select(col("doc_id"),
        ScaleRank.ntileFromRank(5, col("rk"), col("nt")).as("rb"))
    val o = ra.join(rb, Seq("doc_id"))
      .groupBy(col("ra"), col("rb")).agg(count(lit(1)).as("c"))
      .ckpt() // 25-cell joint table: margins + both folds
    val nn = o.agg(sum(col("c")).cast("bigint").as("n"))
    val wo = o.agg(sum((col("ra") - col("rb")) * (col("ra") - col("rb"))
      * col("c")).cast("bigint").as("swo"))
    val ma = o.groupBy(col("ra")).agg(sum(col("c")).as("rc"))
    val mb = o.groupBy(col("rb")).agg(sum(col("c")).as("cc"))
    val we = ma.crossJoin(mb)
      .agg(sum((col("ra") - col("rb")) * (col("ra") - col("rb"))
        * col("rc").cast("decimal(38,0)") * col("cc")).as("swrc"))
    nn.crossJoin(broadcast(wo)).crossJoin(broadcast(we))
      .filter(col("swrc") > 0)
      .select(col("n").as("n_docs"), col("swo").as("sum_wo"),
        expr("CAST(1000 - (1000 * CAST(n AS DECIMAL(38,0)) * swo) " +
          "div swrc AS BIGINT)").as("kappa_milli"))
  }

  /** q416 — Cronbach's alpha (Cronbach '51) over three per-document
    * quality items — type-token ratio, mean word length, vowel
    * density (all milli ratios): α = k/(k−1)·(1 − Σσᵢ²/σ²_total) —
    * the internal-consistency gauge for a composite quality score.
    * q378's Fleiss asks "do raters AGREE per doc"; q385's W asks "do
    * their RANKINGS cohere"; α asks the scale-construction question:
    * is summing these items into one 'quality' number even coherent
    * (α → 1), or are they measuring different things (α → 0)?
    *
    * Exactness: each item is an exact per-doc milli ratio (truncating
    * divs of non-negative ints — vowel counts via the
    * length-of-replace identity, portable to DuckDB verbatim); the
    * n-scaled variance numerators Mᵢ = n·Σxᵢ² − (Σxᵢ)² and
    * M_tot = n·ΣT² − (ΣT)² are exact DECIMAL(38) integers (the n²
    * denominators CANCEL in the ratio); α is ONE guarded IEEE chain.
    *
    * Scale design (100 TB): one feature pass per doc into one
    * map-side-combinable moment fold. Output 1 row. */
  val q416CronbachAlpha: QueryDef = {
    val alpha = "(1.5e0 * (1.0e0 - (CAST(m1 AS DOUBLE) + CAST(m2 AS DOUBLE)" +
      " + CAST(m3 AS DOUBLE)) / CAST(mt AS DOUBLE)))"
    QueryDef(
      "q416_cronbach_alpha",
      s"""WITH f AS (
         |  SELECT doc_id,
         |    (1000 * CAST(len(list_distinct(string_split(text, ' ')))
         |      AS BIGINT)) // CAST(len(string_split(text, ' ')) AS BIGINT)
         |      AS x1,
         |    (1000 * (CAST(length(text) AS BIGINT) -
         |      CAST(len(string_split(text, ' ')) AS BIGINT) + 1)) //
         |      CAST(len(string_split(text, ' ')) AS BIGINT) AS x2,
         |    (1000 * (CAST(length(text) AS BIGINT) - CAST(length(
         |      replace(replace(replace(replace(replace(text, 'a', ''),
         |      'e', ''), 'i', ''), 'o', ''), 'u', '')) AS BIGINT))) //
         |      CAST(length(text) AS BIGINT) AS x3
         |  FROM documents),
         |mo AS (
         |  SELECT CAST(count(*) AS HUGEINT) AS n,
         |    sum(CAST(x1 AS HUGEINT)) AS s1, sum(CAST(x1 AS HUGEINT) * x1)
         |      AS q1,
         |    sum(CAST(x2 AS HUGEINT)) AS s2, sum(CAST(x2 AS HUGEINT) * x2)
         |      AS q2,
         |    sum(CAST(x3 AS HUGEINT)) AS s3, sum(CAST(x3 AS HUGEINT) * x3)
         |      AS q3,
         |    sum(CAST(x1 + x2 + x3 AS HUGEINT)) AS st,
         |    sum(CAST(x1 + x2 + x3 AS HUGEINT) * (x1 + x2 + x3)) AS qt
         |  FROM f),
         |m AS (
         |  SELECT CAST(n AS BIGINT) AS n_docs,
         |    n * q1 - s1 * s1 AS m1, n * q2 - s2 * s2 AS m2,
         |    n * q3 - s3 * s3 AS m3, n * qt - st * st AS mt
         |  FROM mo)
         |SELECT n_docs, CAST(m1 AS BIGINT) AS var_n2_ttr,
         |  CAST(m2 AS BIGINT) AS var_n2_mwl,
         |  CAST(m3 AS BIGINT) AS var_n2_vow,
         |  CAST(floor(1000.0e0 * $alpha) AS BIGINT) AS alpha_milli
         |FROM m WHERE mt > 0""".stripMargin) { (s, dir) =>
      val dec = (c: Column) => c.cast("decimal(38,0)")
      val f = Tables.documents(s, dir)
        .select(col("doc_id"), col("text"),
          split(col("text"), " ").as("toks"))
        .select(
          expr("(1000 * CAST(size(array_distinct(toks)) AS BIGINT)) div " +
            "CAST(size(toks) AS BIGINT)").as("x1"),
          expr("(1000 * (CAST(length(text) AS BIGINT) - " +
            "CAST(size(toks) AS BIGINT) + 1)) div " +
            "CAST(size(toks) AS BIGINT)").as("x2"),
          // nullif: an EMPTY document zeroes length(text) (the x1/x2
          // divisor size(toks) is ≥ 1 even for "" — split keeps one
          // empty token); ANSI div would throw where the oracle's //
          // natively NULLs (degenerate-corpus probe)
          expr("(1000 * (CAST(length(text) AS BIGINT) - CAST(length(" +
            "replace(replace(replace(replace(replace(text, 'a', ''), " +
            "'e', ''), 'i', ''), 'o', ''), 'u', '')) AS BIGINT))) div " +
            "nullif(CAST(length(text) AS BIGINT), 0)").as("x3"))
      val mo = f.agg(dec(count(lit(1))).as("n"),
        sum(dec(col("x1"))).as("s1"), sum(dec(col("x1")) * col("x1"))
          .as("q1"),
        sum(dec(col("x2"))).as("s2"), sum(dec(col("x2")) * col("x2"))
          .as("q2"),
        sum(dec(col("x3"))).as("s3"), sum(dec(col("x3")) * col("x3"))
          .as("q3"),
        sum(dec(col("x1") + col("x2") + col("x3"))).as("st"),
        sum(dec(col("x1") + col("x2") + col("x3"))
          * (col("x1") + col("x2") + col("x3"))).as("qt"))
      mo.select(col("n").cast("bigint").as("n_docs"),
          (col("n") * col("q1") - col("s1") * col("s1")).as("m1"),
          (col("n") * col("q2") - col("s2") * col("s2")).as("m2"),
          (col("n") * col("q3") - col("s3") * col("s3")).as("m3"),
          (col("n") * col("qt") - col("st") * col("st")).as("mt"))
        .filter(col("mt") > 0)
        .select(col("n_docs"), col("m1").cast("bigint").as("var_n2_ttr"),
          col("m2").cast("bigint").as("var_n2_mwl"),
          col("m3").cast("bigint").as("var_n2_vow"),
          expr(s"CAST(floor(1000.0e0 * $alpha) AS BIGINT)")
            .as("alpha_milli"))
    }
  }

  /** Shared 8-gram machinery for the contamination/overlap audits:
    * distinct md5'd 8-token shingles per doc, derived from the shared
    * tokenized corpus. Docs under 8 tokens drop (Spark's
    * sequence(1, n−7) DESCENDS for n < 8 — the q386 lesson; DuckDB's
    * range just empties, so both engines filter explicitly). */
  private def gram8(s: SparkSession, dir: String): DataFrame =
    Corpus.tokenized(s, dir)
      .filter(size(col("tk")) >= 8)
      .select(col("doc_id"), col("source"),
        explode(array_distinct(expr(
          "transform(sequence(1, size(tk) - 7), " +
            "i_ -> md5(array_join(slice(tk, i_, 8), ' ')))"))).as("gh"))

  /** DuckDB twin of [[gram8]] (doc_id, source, gh). */
  private def gram8OracleCte: String =
    """tk8 AS (
      |  SELECT doc_id, source, string_split(text, ' ') AS tk
      |  FROM documents WHERE len(string_split(text, ' ')) >= 8),
      |g8 AS (
      |  SELECT doc_id, source,
      |    unnest(list_distinct(list_transform(range(1, len(tk) - 6),
      |      i -> md5(array_to_string(tk[CAST(i AS INT):CAST(i AS INT) + 7],
      |                               ' '))))) AS gh
      |  FROM tk8)""".stripMargin

  /** q436 — train/test contamination audit: split docs by the md5
    * hash of doc_id (NEVER doc_id % k — the r8 confounding lesson),
    * hold out bucket 7 as "test", and count test docs sharing at
    * least one 8-token shingle with ANY training doc — the
    * decontamination check run before an eval set is trusted (the
    * GPT-3-style n-gram leak audit), reported per source so a leaky
    * vendor shows up by name.
    *
    * Exactness: gram membership is exact md5 equality; counts and
    * the ppm rate are exact ints.
    *
    * Scale design (100 TB): shingles explode as an in-row transform
    * over the shared tokenized corpus (distinct within doc first —
    * map-side); the train side collapses to DISTINCT grams
    * (vocabulary-sized) before ONE gram-keyed semi join; doc flags
    * re-collapse to doc_id. No pair join ever forms — cost is
    * O(grams), not O(docs²). Output ≤|sources| rows. */
  val q436Contamination: QueryDef = QueryDef(
    "q436_contamination",
    s"""WITH $gram8OracleCte,
       |gb AS (
       |  SELECT doc_id, source, gh,
       |    ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4))::INT % 10
       |      AS bucket
       |  FROM g8),
       |tr AS (SELECT DISTINCT gh FROM gb WHERE bucket <> 7),
       |te AS (SELECT doc_id, source, gh FROM gb WHERE bucket = 7),
       |hit AS (SELECT DISTINCT te.doc_id FROM te JOIN tr ON tr.gh = te.gh),
       |tdocs AS (SELECT DISTINCT doc_id, source FROM te)
       |SELECT d.source, CAST(count(*) AS BIGINT) AS n_test_docs,
       |  CAST(count(h.doc_id) AS BIGINT) AS n_contaminated,
       |  (1000000 * CAST(count(h.doc_id) AS BIGINT))
       |    // CAST(count(*) AS BIGINT) AS contam_ppm
       |FROM tdocs d LEFT JOIN hit h ON h.doc_id = d.doc_id
       |GROUP BY d.source ORDER BY d.source""".stripMargin) { (s, dir) =>
    val g = gram8(s, dir)
      .withColumn("bucket", pmod(
        conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
          .cast("int"), lit(10)))
      .ckpt() // one shingle derivation feeds train AND test sides
    val tr = g.filter(col("bucket") =!= 7).select(col("gh")).distinct()
    val te = g.filter(col("bucket") === 7)
      .select(col("doc_id"), col("source"), col("gh"))
    val hit = te.join(tr, Seq("gh"), "left_semi")
      .select(col("doc_id")).distinct()
      .withColumn("h", lit(1))
    te.select(col("doc_id"), col("source")).distinct()
      .join(hit, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_test_docs"),
        count(col("h")).as("n_contaminated"),
        expr("1000000 * count(h) div count(1)").as("contam_ppm"))
      .orderBy("source")
  }

  /** q437 — source-pair shingle overlap matrix: exact Jaccard of the
    * per-source DISTINCT 8-gram vocabularies for every source pair —
    * "how much raw text do my vendors share" at the corpus level.
    * q158 counts near-dup DOC pairs across sources (LSH recall);
    * this is the exact set-overlap of the sources' gram spaces, the
    * number a dataset card reports and a mixture-dedup plan starts
    * from.
    *
    * Exactness: set sizes and intersections are exact distinct
    * counts; Jaccard is an exact integer ppm floor-div.
    *
    * Scale design (100 TB): gram sets collapse per source FIRST
    * (distinct — vocabulary-sized, map-side); the intersection is a
    * gram-keyed equi self-join of that collapsed frame; only the
    * ≤|sources|² size frame ever crosses. Adjudicated in the plan
    * sweep (categorical source domain). Output ≤C(|sources|,2)
    * rows. */
  val q437SourceGramJaccard: QueryDef = QueryDef(
    "q437_source_gram_jaccard",
    s"""WITH $gram8OracleCte,
       |sg AS (SELECT DISTINCT source, gh FROM g8),
       |sz AS (SELECT source, CAST(count(*) AS BIGINT) AS n
       |       FROM sg GROUP BY source),
       |inter AS (
       |  SELECT a.source AS sa, b.source AS sb, CAST(count(*) AS BIGINT) AS i
       |  FROM sg a JOIN sg b ON a.gh = b.gh AND a.source < b.source
       |  GROUP BY 1, 2),
       |pairs AS (
       |  SELECT x.source AS src_a, y.source AS src_b, x.n AS na, y.n AS nb,
       |    coalesce(i.i, 0) AS inter
       |  FROM sz x JOIN sz y ON x.source < y.source
       |  LEFT JOIN inter i ON i.sa = x.source AND i.sb = y.source)
       |SELECT src_a, src_b, na, nb, inter,
       |  (1000000 * inter) // (na + nb - inter) AS jaccard_ppm
       |FROM pairs ORDER BY src_a, src_b""".stripMargin) { (s, dir) =>
    val sg = gram8(s, dir).select(col("source"), col("gh")).distinct()
      .ckpt() // per-source gram sets: sizes AND both join sides
    val sz = sg.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val inter = sg.select(col("source").as("sa"), col("gh"))
      .join(sg.select(col("source").as("sb"), col("gh").as("ghb")),
        col("gh") === col("ghb") && col("sa") < col("sb"))
      .groupBy(col("sa"), col("sb")).agg(count(lit(1)).as("i"))
    sz.select(col("source").as("src_a"), col("n").as("na"))
      .join(sz.select(col("source").as("src_b"), col("n").as("nb")),
        col("src_a") < col("src_b"))
      .join(inter,
        col("sa") === col("src_a") && col("sb") === col("src_b"), "left")
      .select(col("src_a"), col("src_b"), col("na"), col("nb"),
        coalesce(col("i"), lit(0L)).as("inter"))
      .select(col("src_a"), col("src_b"), col("na"), col("nb"), col("inter"),
        expr("(1000000 * inter) div (na + nb - inter)").as("jaccard_ppm"))
      .orderBy("src_a", "src_b")
  }

  /** q438 — context-length truncation plan: for each candidate
    * context length L, the tokens kept under truncate-at-L, the
    * docs overflowing, and the token share lost — the table that
    * picks a packing length before a training run (q90 chunks at a
    * FIXED length; this prices every candidate first).
    *
    * Exactness: token counts, min(n, L) sums, and ppm shares are
    * exact ints.
    *
    * Scale design (100 TB): one corpus pass collapses to per-doc
    * token counts map-side; the ×4 literal-L expansion groups on L.
    * Output 4 rows. */
  val q438TruncationPlan: QueryDef = QueryDef(
    "q438_truncation_plan",
    """WITH d AS (
      |  SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
      |  FROM documents),
      |ls AS (SELECT CAST(unnest([64, 256, 1024, 4096]) AS BIGINT) AS l),
      |per AS (
      |  SELECT ls.l, CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(sum(d.nt) AS BIGINT) AS tokens_total,
      |    CAST(sum(least(d.nt, ls.l)) AS BIGINT) AS tokens_kept,
      |    CAST(sum(CASE WHEN d.nt > ls.l THEN 1 ELSE 0 END) AS BIGINT)
      |      AS docs_over
      |  FROM d, ls GROUP BY ls.l)
      |SELECT l AS ctx_len, n_docs, docs_over, tokens_total, tokens_kept,
      |  (1000000 * (tokens_total - tokens_kept)) // tokens_total AS lost_ppm
      |FROM per ORDER BY ctx_len""".stripMargin) { (s, dir) =>
    Corpus.tokenized(s, dir)
      .select(size(col("tk")).cast("bigint").as("nt"),
        explode(array(lit(64L), lit(256L), lit(1024L), lit(4096L))).as("l"))
      .groupBy(col("l"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("nt") > col("l"), 1L).otherwise(0L)).as("docs_over"),
        sum(col("nt")).cast("bigint").as("tokens_total"),
        sum(least(col("nt"), col("l"))).cast("bigint").as("tokens_kept"))
      .select(col("l").as("ctx_len"), col("n_docs"), col("docs_over"),
        col("tokens_total"), col("tokens_kept"),
        expr("(1000000 * (tokens_total - tokens_kept)) div tokens_total")
          .as("lost_ppm"))
      .orderBy("ctx_len")
  }

  /** q439 — token-budget profile per source: doc counts, token and
    * char volumes, chars-per-token, and the p50/p90 doc token
    * lengths — the sizing table for a per-source sampling budget
    * (q20 reports totals per LANG; this adds the distributional
    * reads a budget needs, per SOURCE).
    *
    * Exactness: sums are exact ints; chars-per-token is an exact ppm
    * floor-div; percentiles ride the weighted-percentile-over-
    * histogram path (q17 contract — bit-identical interpolation in
    * both engines).
    *
    * Scale design (100 TB): the corpus collapses map-side to
    * per-source moments and to the (source, token-count) histogram —
    * percentile state is O(distinct lengths), never O(docs). Output
    * ≤|sources| rows. */
  val q439SourceSizing: QueryDef = QueryDef(
    "q439_source_sizing",
    """WITH t AS (
      |  SELECT source, CAST(len(string_split(text, ' ')) AS BIGINT) AS nt,
      |    n_chars
      |  FROM documents),
      |agg AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(sum(nt) AS BIGINT) AS tokens,
      |    CAST(sum(n_chars) AS BIGINT) AS chars
      |  FROM t GROUP BY source),
      |pct AS (
      |  SELECT source, quantile_cont(nt, 0.5) AS p50_tok,
      |    quantile_cont(nt, 0.9) AS p90_tok
      |  FROM t GROUP BY source)
      |SELECT a.source, a.n_docs, a.tokens, a.chars,
      |  (1000000 * a.chars) // a.tokens AS chars_per_tok_ppm,
      |  p.p50_tok, p.p90_tok
      |FROM agg a JOIN pct p ON p.source = a.source
      |ORDER BY a.source""".stripMargin) { (s, dir) =>
    val t = Corpus.tokenized(s, dir)
      .join(Tables.documents(s, dir).select(col("doc_id"), col("n_chars")),
        Seq("doc_id"))
      .select(col("source"), size(col("tk")).cast("bigint").as("nt"),
        col("n_chars"))
    val agg = t.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).cast("bigint").as("tokens"),
        sum(col("n_chars")).cast("bigint").as("chars"))
    val pct = t.groupBy(col("source"), col("nt"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("source"))
      .agg(expr("percentile(nt, 0.5D, cnt)").as("p50_tok"),
        expr("percentile(nt, 0.9D, cnt)").as("p90_tok"))
    agg.join(pct, Seq("source"))
      .select(col("source"), col("n_docs"), col("tokens"), col("chars"),
        expr("(1000000 * chars) div tokens").as("chars_per_tok_ppm"),
        col("p50_tok"), col("p90_tok"))
      .orderBy("source")
  }

  val all: Seq[QueryDef] =
    Seq(q374TextTiling, q378FleissKappa, q383GumbelTopk, q386NgramNovelty,
      q396CochranQ, q409WeightedKappa, q416CronbachAlpha,
      q350RakeKeywords, q353GoodTuring, q358WordAdaptation,
      q295YulesK, q320SourceNovelty, q321CharEntropy,
      q337HashCollisionCurve,
      q232LooInfluence, q243FeatureHashing, q254MaxCoverage, q264McNemar,
      q267BurrowsDelta, q276QuantileNorm, q278Datasheet, q280OtsuThreshold,
      q197Keyness, q198Readability, q200Burstiness, q215KnPpl,
      q216NegativeSampling, q221ScalingLaw,
      q20TokenStats, q21Quality, q22LangId, q23Fingerprint, q24RollingHash,
      q25Tfidf, q26PiiRedact, q27Repetition, q28Sample, q74Mixture,
      q83Divergence, q89WeightedSample, q90Chunking, q91DocLogprob,
      q101Split, q108Collocations, q112VocabCoverage, q146FilterYield,
      q148VocabGrowth, q167TempMixture, q168ClassifierEval, q175Composition,
      q180Zipf, q181BigramPpl, q190HeapsLaw,
      q436Contamination, q437SourceGramJaccard, q438TruncationPlan,
      q439SourceSizing)
}
