package graft.operators

import graft.CkptOps

import graft.{QueryDef, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** BPE (byte-pair encoding) tokenizer training AND application
  * (Sennrich et al. 2016): repeatedly find the most frequent adjacent
  * symbol pair across the corpus and fuse it into a new symbol
  * (training, q94); then ENCODE new text by replaying the learned
  * merges in order (application, q98). This is the canonical
  * "sequential-looking" corpus algorithm; here each round is a pure
  * relational pass so the whole induction distributes:
  *
  *  - state = (word, freq, pos, sym) rows — symbols of each distinct
  *    word, weighted by corpus frequency. Positions keep gaps after
  *    merges; adjacency is "next row by pos within word" (a `lead`
  *    window over short partitions), never an index recomputation.
  *  - pair counting is one map-side-combinable aggregate;
  *  - the argmax pair broadcasts back as a 1-row frame (no driver
  *    collect in the loop);
  *  - greedy left-to-right application — the part folklore says needs
  *    a sequential scan — is exact relationally: matches overlap only
  *    in runs of consecutive matched rows (for l≠r a run has length 1
  *    by construction; l=r gives "aaaa" chains), and greedy = keeping
  *    the odd-indexed matches within each run. Runs are gaps-and-
  *    islands (rn − rn-among-matches), the same shape as q81.
  *  - `localCheckpoint` per round truncates the 8-round lineage, the
  *    q37/q65 iterative pattern.
  *
  * The DuckDB oracle unrolls the SAME rounds as generated CTE blocks
  * from one shared loop, so both engines execute the identical
  * algorithm: the merge table (q94) and the encoded-symbol histogram
  * (q98) both gate bit-exactly.
  */
object Bpe {

  private val MERGES = 8

  /** Greedy-apply CTEs: fuse pair `b` (columns l, r) everywhere in
    * lead-annotated state `w` (word, freq, pos, sym, nxt), emitting
    * `out`. Shared by the training and encoding unrolls. */
  private def applySql(w: String, b: String, out: String): String =
    s"""m_$out AS (SELECT word, freq, pos, sym, b.l AS bl, b.r AS br,
       |    CASE WHEN sym = b.l AND nxt = b.r THEN 1 ELSE 0 END AS m,
       |    row_number() OVER (PARTITION BY word ORDER BY pos) AS rn,
       |    row_number() OVER (PARTITION BY word,
       |      CASE WHEN sym = b.l AND nxt = b.r THEN 1 ELSE 0 END
       |      ORDER BY pos) AS mrn
       |  FROM $w, $b b),
       |a_$out AS (SELECT *, CASE WHEN m = 1 AND
       |    (row_number() OVER (PARTITION BY word,
       |       CASE WHEN m = 1 THEN rn - mrn END ORDER BY pos)) % 2 = 1
       |    THEN TRUE ELSE FALSE END AS active
       |  FROM m_$out),
       |$out AS (SELECT word, freq, pos,
       |    CASE WHEN active THEN bl || br ELSE sym END AS sym
       |  FROM (SELECT *, coalesce(lag(active) OVER (PARTITION BY word ORDER BY pos),
       |                           FALSE) AS prev_active FROM a_$out)
       |  WHERE NOT prev_active)""".stripMargin

  /** One training step: pair-count + argmax (b$k) + greedy apply. */
  private def stepSql(k: Int): String = {
    val prev = if (k == 1) "s0" else s"s${k - 1}"
    s"""w$k AS (SELECT word, freq, pos, sym,
       |  lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt FROM $prev),
       |b$k AS (SELECT sym AS l, nxt AS r, CAST(sum(freq) AS BIGINT) AS cnt
       |  FROM w$k WHERE nxt IS NOT NULL GROUP BY 1, 2
       |  ORDER BY cnt DESC, l, r LIMIT 1),
       |${applySql(s"w$k", s"b$k", s"s$k")}""".stripMargin
  }

  /** One encoding step: lead-annotate e-state, replay learned b$k. */
  private def encStepSql(k: Int): String = {
    val prev = if (k == 1) "e0" else s"e${k - 1}"
    s"""ew$k AS (SELECT word, freq, pos, sym,
       |  lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt FROM $prev),
       |${applySql(s"ew$k", s"b$k", s"e$k")}""".stripMargin
  }

  /** Character state from a word-frequency relation `wf(word, freq)`. */
  private def charStateSql(wf: String, out: String): String =
    s"""$out AS (
       |  SELECT word, freq, pos, substring(word, CAST(pos AS INT), 1) AS sym
       |  FROM (SELECT word, freq, unnest(generate_series(1, len(word))) AS pos FROM $wf))""".stripMargin

  private def trainCtes: String = {
    val steps = (1 to MERGES).map(stepSql).mkString(",\n")
    s"""wf AS (
       |  SELECT word, count(*) AS freq FROM
       |    (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
       |  GROUP BY word),
       |${charStateSql("wf", "s0")},
       |$steps""".stripMargin
  }

  private def oracleSql: String = {
    val out = (1 to MERGES)
      .map(k => s"SELECT CAST($k AS BIGINT) AS step, l, r, l || r AS merged, cnt FROM b$k")
      .mkString("\n  UNION ALL ")
    s"""WITH $trainCtes
       |SELECT * FROM (
       |  $out
       |) ORDER BY step""".stripMargin
  }

  /** q98 oracle: learn the merges on the full corpus (identical CTEs
    * to q94), then replay them over the held-out shard's words. */
  private def encodeOracleSql: String =
    s"""WITH $heldOutEncodeCtes
       |SELECT sym, CAST(sum(freq) AS BIGINT) AS freq
       |FROM e$MERGES GROUP BY sym
       |ORDER BY freq DESC, sym LIMIT 30""".stripMargin

  /** The q98/q207 encode pipeline's CTEs: the q94 training CTEs, the
    * held-out shard's word frequencies `ewf`, and the merge replay
    * e0..e<MERGES> over them. */
  private def heldOutEncodeCtes: String = {
    val encSteps = (1 to MERGES).map(encStepSql).mkString(",\n")
    s"""$trainCtes,
       |ewf AS (
       |  SELECT word, count(*) AS freq FROM
       |    (SELECT unnest(string_split(text, ' ')) AS word FROM documents
       |     WHERE doc_id % 10 = 3)
       |  GROUP BY word),
       |${charStateSql("ewf", "e0")},
       |$encSteps""".stripMargin
  }

  /** Greedy left-to-right fuse of `best` (1-row l/r frame, broadcast)
    * into the state — the islands construction in the scaladoc.
    *
    * Every window here shares ONE partitioning and ordering
    * (word, pos): a match-run's start is flagged by `lag(m)`, the
    * current run's start position arrives as a RUNNING conditional
    * max, and "odd index within the run" is parity of (rn − start).
    * The equivalent (word, m)/(word, grp) row_number formulation (the
    * oracle still states it that way) costs two EXTRA shuffles per
    * round — ×16 rounds, that was most of q94/q98's runtime, and at
    * scale it re-exchanges the whole corpus state twice per merge. */
  private def applyPair(state: DataFrame, best: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("word")).orderBy(col("pos"))
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    state.withColumn("nxt", lead(col("sym"), 1).over(w))
      .crossJoin(broadcast(best.select(col("l"), col("r"))))
      .withColumn("m", (col("sym") === col("l") && col("nxt") === col("r")).cast("int"))
      .withColumn("rn", row_number().over(w))
      .withColumn("run_start",
        (col("m") === 1 && coalesce(lag(col("m"), 1).over(w), lit(0)) === 0).cast("int"))
      .withColumn("rn_start", max(when(col("run_start") === 1, col("rn"))).over(wRun))
      .withColumn("active",
        col("m") === 1 && pmod(col("rn") - col("rn_start"), lit(2)) === 0)
      .withColumn("prev_active", lag(col("active"), 1, false).over(w))
      .filter(!col("prev_active"))
      .select(col("word"), col("freq"), col("pos"),
        when(col("active"), concat(col("l"), col("r"))).otherwise(col("sym")).as("sym"))
      .ckpt()
  }

  /** One Spark training round: returns (next state, this round's
    * 1-row merge). */
  private def step(state: DataFrame): (DataFrame, DataFrame) = {
    val w = Window.partitionBy(col("word")).orderBy(col("pos"))
    val best = state.withColumn("nxt", lead(col("sym"), 1).over(w))
      .filter(col("nxt").isNotNull)
      .groupBy(col("sym").as("l"), col("nxt").as("r"))
      .agg(sum(col("freq")).as("cnt"))
      .orderBy(col("cnt").desc, col("l"), col("r"))
      .limit(1)
      .ckpt() // consumed by the apply pass AND the output union
    (applyPair(state, best), best)
  }

  /** Exploded word stream: pre-tokenized frames (a `tk` array from
    * [[Corpus.tokenized]]) explode directly; raw `text` frames split
    * here (test fixtures, ad-hoc callers). */
  private def words(docs: DataFrame): DataFrame =
    if (docs.columns.contains("tk")) docs.select(explode(col("tk")).as("word"))
    else docs.select(explode(split(col("text"), " ")).as("word"))

  /** Per-word character state of any frame with a `text` or `tk` column. */
  private def charState(docs: DataFrame): DataFrame =
    words(docs)
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .filter(length(col("word")) >= 1) // sequence(1, 0) counts DOWN
      .select(col("word"), col("freq"),
        explode(sequence(lit(1), length(col("word")))).as("pos"))
      .withColumn("sym", expr("substring(word, pos, 1)"))
      .ckpt()

  /** Run `n` training rounds; returns the per-round 1-row merge
    * frames (each checkpointed — replayable without re-derivation). */
  private def induce(docs: DataFrame, n: Int): Seq[DataFrame] = {
    var state = charState(docs)
    (1 to n).map { _ =>
      val (next, best) = step(state)
      state = next
      best
    }
  }

  /** Learn the first `n` merges from any frame with a `text` column:
    * the merge table (step, l, r, merged, cnt). */
  private[graft] def mergesFor(docs: DataFrame, n: Int): DataFrame =
    induce(docs, n).zipWithIndex.map { case (best, i) =>
      best.select(lit((i + 1).toLong).as("step"), col("l"), col("r"),
        concat(col("l"), col("r")).as("merged"), col("cnt"))
    }.reduce(_ unionAll _).orderBy("step")

  /** The corpus-trained merge table (step, l, r, merged, cnt),
    * checkpointed and memoized per (session, dataset): q94
    * reports it, q98/q207 replay it. Training is the expensive half
    * of BPE (8 window+aggregate rounds over the corpus word state) —
    * at scale the learned merges are the broadcast model artifact
    * you train ONCE, so re-inducing them per consumer query was pure
    * duplication. Memoized via FrameCache (bypassed in plan audits). */
  private def corpusMerges(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    graft.FrameCache.getOrBuild(s, s"bpeMerges:$dir") {
      mergesFor(Corpus.tokenized(s, dir), MERGES).ckpt()
    }

  /** Per-round 1-row (l, r) frames replayed out of the cached merge
    * table — the order-preserving split of the model artifact. */
  private def bestsFrom(merges: DataFrame, n: Int): Seq[DataFrame] =
    (1 to n).map(k =>
      merges.filter(col("step") === k).select(col("l"), col("r")))

  /** q94: the first 8 BPE merges learned from the documents corpus —
    * (step, left, right, merged symbol, weighted pair count). */
  val q94BpeMerges: QueryDef = QueryDef("q94_bpe_merges", oracleSql) { (s, dir) =>
    corpusMerges(s, dir).orderBy("step")
  }

  /** Learn `n` merges from `train`, replay them over `enc`'s words;
    * returns the final encoded state (word, freq, pos, sym). */
  private[graft] def encodeState(train: DataFrame, enc: DataFrame, n: Int): DataFrame = {
    val bests = induce(train, n)
    var state = charState(enc)
    for (b <- bests) state = applyPair(state, b)
    state
  }

  /** q98: ENCODE a held-out shard (doc_id % 10 = 3) with the merges
    * learned from the full corpus — the apply half of the tokenizer.
    * Replays each learned pair in training order over the shard's
    * character state (the standard BPE encode: merges apply by learned
    * rank), then reports the resulting subword histogram. At scale the
    * merge table is the broadcast model artifact and each replay round
    * is the same islands pass as training — no per-word loops, no
    * driver participation. */
  val q98BpeEncode: QueryDef = QueryDef("q98_bpe_encode", encodeOracleSql) { (s, dir) =>
    val shard = Corpus.tokenized(s, dir).filter(col("doc_id") % 10 === 3)
    var state = charState(shard)
    for (b <- bestsFrom(corpusMerges(s, dir), MERGES))
      state = applyPair(state, b)
    state
      .groupBy(col("sym")).agg(sum(col("freq")).as("freq"))
      .orderBy(col("freq").desc, col("sym"))
      .limit(30)
  }

  /** q207 oracle: the q98 encode pipeline, rolled up to tokens-per-
    * word and chars-per-token by language instead of the subword
    * histogram. */
  private def fertilityOracleSql: String =
    s"""WITH $heldOutEncodeCtes,
       |spw AS (
       |  SELECT word, CAST(count(*) AS BIGINT) AS n_sym
       |  FROM e$MERGES GROUP BY word),
       |lw AS (
       |  SELECT lang, word, CAST(count(*) AS BIGINT) AS cnt
       |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS word
       |        FROM documents WHERE doc_id % 10 = 3)
       |  GROUP BY 1, 2)
       |SELECT lang,
       |  CAST(sum(cnt) AS BIGINT) AS n_words,
       |  CAST(sum(cnt * n_sym) AS BIGINT) AS n_tokens,
       |  CAST((1000000 * CAST(sum(cnt * n_sym) AS BIGINT))
       |       // CAST(sum(cnt) AS BIGINT) AS BIGINT) AS fertility_ppm,
       |  CAST((1000000 * CAST(sum(cnt * length(word)) AS BIGINT))
       |       // CAST(sum(cnt * n_sym) AS BIGINT) AS BIGINT) AS chars_per_tok_ppm
       |FROM lw JOIN spw USING (word)
       |GROUP BY lang ORDER BY lang""".stripMargin

  /** q207 — tokenizer fertility by language: encode the held-out
    * shard with the corpus-trained BPE (exactly q98's model), then
    * report per language the tokens-per-word (fertility) and
    * chars-per-token ratios — THE tokenizer-equity metric for a
    * multilingual training mix: a language whose fertility is 2× pays
    * twice the context budget per word, and a tokenizer tuned on one
    * language shows it here first.
    *
    * Exactness: symbol counts per word are integer row counts of the
    * final merge state; per-language word counts are integers; both
    * ratios are non-negative integer ppm floor-divs.
    *
    * Scale design (100 TB): reuses the q94/q98 broadcast-argmax
    * islands machinery (one (word, pos) exchange per round); the
    * fertility rollup adds ONE word-keyed equi-join between two
    * partial-aggregable count tables (distinct words ≪ corpus), a
    * bounded-key final aggregate, and nothing else. */
  val q207BpeFertility: QueryDef =
    QueryDef("q207_bpe_fertility", fertilityOracleSql) { (s, dir) =>
      val shard = Corpus.tokenized(s, dir).filter(col("doc_id") % 10 === 3)
      var state = charState(shard)
      for (b <- bestsFrom(corpusMerges(s, dir), MERGES))
        state = applyPair(state, b)
      val spw = state
        .groupBy(col("word")).agg(count(lit(1)).as("n_sym"))
      val lw = shard
        .select(col("lang"), explode(col("tk")).as("word"))
        .groupBy(col("lang"), col("word")).agg(count(lit(1)).as("cnt"))
      lw.join(spw, "word")
        .groupBy(col("lang"))
        .agg(sum(col("cnt")).as("n_words"),
          sum(col("cnt") * col("n_sym")).as("n_tokens"),
          sum(col("cnt") * length(col("word"))).as("n_chars"))
        .select(col("lang"), col("n_words"), col("n_tokens"),
          expr("(1000000 * n_tokens) div n_words").as("fertility_ppm"),
          expr("(1000000 * n_chars) div n_tokens").as("chars_per_tok_ppm"))
        .orderBy("lang")
    }

  val all: Seq[QueryDef] = Seq(q94BpeMerges, q98BpeEncode, q207BpeFertility)
}
