package graft.operators

import graft.CkptOps

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed "training" operators over the embedding corpus — the
  * model-fitting half of a data pipeline (cluster for semantic dedup /
  * IVF index builds, nearest-centroid classification for quality
  * routing). Complements [[Similarity]] (which consumes fixed
  * centroids) by actually FITTING them with Lloyd iterations.
  *
  * Exactness across engines (the q65 PageRank discipline): embeddings
  * are floor-quantized to integer micro-units once
  * (`floor(v*1e6)` as BIGINT), and every distance, centroid mean
  * (truncating integer division — Spark `div` ≡ DuckDB `//`), and
  * inertia sum is integer arithmetic — order-independent, so the
  * result is identical under any partitioning and bit-exact against
  * the DuckDB oracle. A floating-point Lloyd's would drift between
  * engines (FP sums reorder under parallelism) and between cluster
  * sizes.
  *
  * Scale design: the points frame explodes to (vec_id, pos, q) rows —
  * the layout a 100 TB corpus would already be columnar in — and is
  * localCheckpointed ONCE (every iteration re-reads it without
  * re-deriving). Centroids are k·dim rows (tiny at any corpus size) —
  * BROADCAST into the assignment join, so points are never shuffled
  * for assignment; the only exchanges are the partial-aggregable
  * (vec_id, cid) distance sum and the (cid, pos) centroid update,
  * both map-side combinable. Iteration count is a fixed constant
  * (finite plan; convergence polling would put a collect in the loop).
  */
object Learn {

  /** Integer micro-unit scale for quantized embedding coordinates. */
  private val SCALE = 1000000L
  private val DIM = VectorOps.DIM
  private val K = 4 // q95 cluster count
  private val ITERS = 2 // q95 Lloyd iterations

  // ---------------------------------------------------------------- shared

  /** Quantized long coordinates: (vec_id, pos ∈ 1..DIM, q). */
  private[graft] def points(emb: DataFrame): DataFrame =
    emb.repartition(col("vec_id")) // single-file scan -> use every core
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("p0", "v")))
      .select(col("vec_id"), (col("p0") + 1).as("pos"),
        floor(col("v").cast("double") * SCALE).cast("long").as("q"))

  private[graft] val ptsCte: String =
    s"""pts AS (
       |  SELECT vec_id, i AS pos,
       |    CAST(floor(CAST(embedding[CAST(i AS INT)] AS DOUBLE) * $SCALE) AS BIGINT) AS q
       |  FROM embeddings, unnest(range(1, ${DIM + 1})) AS t(i))""".stripMargin

  /** The nearest-centroid (Rocchio) model of q96 and its audits:
    * the quantized points `pts` (checkpointed), the labels `lab`
    * (vec_id, label) and the per-label integer centroids `ctrain`
    * (cid, pos, c) fitted on the even-vec_id half. */
  private def labelCentroids(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val emb = Tables.embeddings(s, dir)
    val pts = points(emb).ckpt()
    val lab = emb.select(col("vec_id"), col("label"))
    val ctrain = pts.filter(col("vec_id") % 2 === 0)
      .join(lab, Seq("vec_id"))
      .groupBy(col("label").as("cid"), col("pos"))
      .agg(expr("sum(q) div count(1)").as("c"))
    (pts, lab, ctrain)
  }

  /** The oracle side of [[labelCentroids]]: the CTEs `pts`, `lab` and
    * `ctrain`. */
  private def labelCentroidsSql: String =
    s"""$ptsCte,
       |lab AS (SELECT vec_id, label FROM embeddings),
       |ctrain AS (
       |  SELECT l.label AS cid, p.pos, CAST(sum(p.q) // count(*) AS BIGINT) AS c
       |  FROM pts p JOIN lab l USING (vec_id)
       |  WHERE p.vec_id % 2 = 0
       |  GROUP BY 1, 2)""".stripMargin

  /** One (label, threshold) cell's child-entropy contribution in
    * nano-nats over (cl, cp, nl, n): each child's (c/n)·ln(n_child/c)
    * term floored on its own (the q83 discipline) — the split score
    * q173 and q356 sum per candidate. */
  private def childEntropyNano: Column = {
    val dl = col("cl").cast("double") / col("n").cast("double")
    val dr = (col("cp") - col("cl")).cast("double") / col("n").cast("double")
    when(col("cl") > 0,
      floor(lit(1000000000.0) * (dl *
        log(col("nl").cast("double") / col("cl").cast("double"))))
        .cast("bigint")).otherwise(0L) +
      when(col("cp") - col("cl") > 0,
        floor(lit(1000000000.0) * (dr *
          log((col("n") - col("nl")).cast("double") /
            (col("cp") - col("cl")).cast("double"))))
          .cast("bigint")).otherwise(0L)
  }

  /** Quantized coordinate PAIRS (i, qi, j, qj) per vector — the Gram
    * fan-out of `points ⋈ points USING (vec_id)` WITHOUT the self-join
    * (r13, guide §2.4): the per-vector quantized array is computed once
    * and posexploded twice, so the N·d rows never shuffle or sort into
    * an equi-join — the pair stage is a pure map-side Generate chain
    * feeding the (i, j)-cell partial aggregate. Values are identical
    * to the join form for ANY embedding length (both yield len×len
    * pairs with the same floor-quantized longs; `transform` preserves
    * length, so short vectors degrade exactly as the exploded join
    * did). `extra` columns (e.g. label) are carried through. */
  private[graft] def pointPairs(emb: DataFrame, extra: Seq[String] = Nil): DataFrame = {
    val qv = expr(
      s"transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) * $SCALE) AS BIGINT))")
    emb.repartition(col("vec_id")) // single-file scan -> use every core
      .select(extra.map(col) :+ qv.as("__qv"): _*)
      .select(extra.map(col) ++ Seq(
        posexplode(col("__qv")).as(Seq("i0", "qi")), col("__qv")): _*)
      .select(extra.map(col) ++ Seq((col("i0") + 1).as("i"), col("qi"),
        posexplode(col("__qv")).as(Seq("j0", "qj"))): _*)
      .select(extra.map(col) ++ Seq(col("i"), col("qi"),
        (col("j0") + 1).as("j"), col("qj")): _*)
  }

  /** Squared-distance assignment of each point to its nearest centroid
    * (tie → smaller centroid id). `cent` is (cid, pos, c) — broadcast:
    * the corpus side never shuffles for the join. Returns
    * (vec_id, cid, dist). */
  private[graft] def assign(pts: DataFrame, cent: DataFrame): DataFrame = {
    val d = pts.join(broadcast(cent), Seq("pos"))
      .groupBy(col("vec_id"), col("cid"))
      .agg(sum((col("q") - col("c")) * (col("q") - col("c"))).as("dist"))
    val w = Window.partitionBy(col("vec_id")).orderBy(col("dist"), col("cid"))
    d.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("vec_id"), col("cid"), col("dist"))
  }

  /** Oracle twin of [[assign]]: dN/aN CTE pair over `centCte`. */
  private[graft] def assignSql(n: Int, from: String, cent: String): String =
    s"""d$n AS (
       |  SELECT p.vec_id, c.cid,
       |    CAST(sum((p.q - c.c) * (p.q - c.c)) AS BIGINT) AS dist
       |  FROM $from p JOIN $cent c ON p.pos = c.pos
       |  GROUP BY 1, 2),
       |a$n AS (
       |  SELECT vec_id, cid, dist FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
       |    FROM d$n) WHERE rn = 1)""".stripMargin

  /** Centroid update: per-(cid, pos) truncating-integer mean of member
    * coordinates. Empty clusters simply vanish (deterministic in both
    * engines). */
  private[graft] def update(asg: DataFrame, pts: DataFrame): DataFrame =
    asg.select(col("vec_id"), col("cid")).join(pts, Seq("vec_id"))
      .groupBy(col("cid"), col("pos"))
      .agg(expr("sum(q) div count(1)").as("c"))

  private def updateSql(n: Int): String =
    s"""c$n AS (
       |  SELECT a.cid, p.pos, CAST(sum(p.q) // count(*) AS BIGINT) AS c
       |  FROM a$n a JOIN pts p USING (vec_id)
       |  GROUP BY 1, 2)""".stripMargin

  // ---------------------------------------------------------------- q95

  /** q95: integer-exact k-means (k=$K, $ITERS Lloyd iterations) over
    * the embeddings; init = the k smallest vec_ids' quantized vectors.
    * Per cluster: member count, integer inertia, centroid checksum. */
  val q95Kmeans: QueryDef = {
    val steps = (1 to ITERS).map { t =>
      val cent = if (t == 1) "c0" else s"c${t - 1}"
      s"${assignSql(t, "pts", cent)},\n${updateSql(t)}"
    }.mkString(",\n")
    val oracle =
      s"""WITH $ptsCte,
         |c0 AS (SELECT vec_id AS cid, pos, q AS c FROM pts WHERE vec_id < $K),
         |$steps
         |SELECT a.cid, CAST(count(*) AS BIGINT) AS n_points,
         |  CAST(sum(a.dist) AS BIGINT) AS inertia, cs.centroid_sum
         |FROM a$ITERS a JOIN (
         |  SELECT cid, CAST(sum(c) AS BIGINT) AS centroid_sum
         |  FROM c$ITERS GROUP BY cid) cs USING (cid)
         |GROUP BY a.cid, cs.centroid_sum
         |ORDER BY a.cid""".stripMargin
    QueryDef("q95_kmeans", oracle) { (s, dir) =>
      // materialize ONCE: every assign/update round re-reads these rows
      val pts = points(Tables.embeddings(s, dir)).ckpt()
      var cent = pts.filter(col("vec_id") < K)
        .select(col("vec_id").as("cid"), col("pos"), col("q").as("c"))
      var asg: DataFrame = null
      for (_ <- 1 to ITERS) {
        // tiny frames (k·dim and N rows) — checkpoint to truncate the
        // per-round lineage, the q37/q65/q94 iterative pattern
        asg = assign(pts, cent).ckpt()
        cent = update(asg, pts).ckpt()
      }
      asg.groupBy(col("cid"))
        .agg(count(lit(1)).as("n_points"), sum(col("dist")).as("inertia"))
        .join(cent.groupBy(col("cid")).agg(sum(col("c")).as("centroid_sum")), Seq("cid"))
        .select(col("cid"), col("n_points"), col("inertia"), col("centroid_sum"))
        .orderBy(col("cid"))
    }
  }

  // ---------------------------------------------------------------- q96

  /** q96: nearest-centroid (Rocchio) classification — fit per-label
    * integer centroids on the even-vec_id half, classify the odd half
    * by nearest centroid, emit the confusion matrix. Train and apply
    * are both pure relational passes: the fitted model is k·dim rows,
    * broadcast into the scoring join exactly like a saved model would
    * be at 100 TB. */
  val q96CentroidClassify: QueryDef = {
    val oracle =
      s"""WITH $labelCentroidsSql,
         |test AS (SELECT * FROM pts WHERE vec_id % 2 = 1),
         |${assignSql(1, "test", "ctrain")}
         |SELECT l.label, a.cid AS pred, CAST(count(*) AS BIGINT) AS n
         |FROM a1 a JOIN lab l USING (vec_id)
         |GROUP BY 1, 2
         |ORDER BY l.label, pred""".stripMargin
    QueryDef("q96_centroid_classify", oracle) { (s, dir) =>
      val (pts, lab, ctrain) = labelCentroids(s, dir)
      assign(pts.filter(col("vec_id") % 2 === 1), ctrain)
        .join(lab, Seq("vec_id"))
        .groupBy(col("label"), col("cid").as("pred"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("label"), col("pred"))
    }
  }

  /** q159 — cluster-purity audit: q95's k-means assignment scored
    * against the embeddings' ground-truth labels. Per cluster: size,
    * number of distinct labels present, the majority label (ties →
    * smaller label) and its share in ppm — the "did unsupervised
    * blocking recover the real classes?" check run before trusting a
    * clustering as a dedup/sampling key (the q100 SemDeDup premise).
    *
    * Integer-exact end to end: the assignment is q95's integer Lloyd
    * chain, counts are int64, purity is a non-negative ppm floor-div.
    *
    * Scale design (100 TB): attaching labels is a fact-sized equi-join
    * on vec_id; everything after is over the (cluster × label) count
    * table — K·|labels| rows, so the majority-pick window runs on a
    * bounded aggregate frame (the documented exception to the
    * no-bounded-key-window rule), never on fact rows. */
  /** q173 — decision-stump search: the best single-feature threshold
    * split of the labeled embedding corpus by information gain, over
    * the first four dimensions with int8-style coarse thresholds
    * (micro-units bucketed to a 125000-wide grid — the q45
    * quantization idea as split candidates). The one-node tree is the
    * classic "is there ANY signal in this feature?" screen run before
    * spending on a real model, and the per-(dim, threshold, label)
    * count cube it builds is the same sufficient statistic a full
    * tree trainer consumes.
    *
    * Exactness: all counts are int64; every entropy term is computed
    * from exact integer counts as ONE IEEE chain
    * floor(1e9 · (c/n) · ln(·)) and floored to integer nano-nats
    * BEFORE summing (the q83 discipline — floor-then-sum is
    * order-free, so no float accumulation order can diverge). The
    * identity used: gain = H_parent − Σ_{side,label} (c/n)·ln(n_side/c),
    * each term non-negative.
    *
    * Scale design (100 TB): the only fact-sized work is the
    * (dim, bucket, label) count cube — a partial-aggregable groupBy
    * over 4/64ths of the exploded coordinates. Thresholds are the
    * cube's own distinct buckets (≤ ~17 per dim at any corpus size —
    * the grid is fixed, not data-sized), so the candidate × label
    * grid and every join after the cube is driver-trivial broadcast
    * work. Compare a naive per-threshold scan: |dims|·|thresholds|
    * passes over the corpus vs exactly one here. */
  val q173Stump: QueryDef = {
    val oracle =
      s"""WITH $ptsCte,
         |lab AS (SELECT vec_id, label FROM embeddings),
         |cube AS (
         |  SELECT p.pos,
         |    (p.q - ((p.q % 125000 + 125000) % 125000)) // 125000 AS qb,
         |    l.label, CAST(count(*) AS BIGINT) AS c
         |  FROM pts p JOIN lab l USING (vec_id)
         |  WHERE p.pos <= 4 GROUP BY 1, 2, 3),
         |pc AS (SELECT label, CAST(sum(c) AS BIGINT) AS cp
         |       FROM cube WHERE pos = 1 GROUP BY 1),
         |n AS (SELECT CAST(sum(cp) AS BIGINT) AS n FROM pc),
         |hp AS (
         |  SELECT CAST(sum(CAST(floor(1000000000.0 *
         |      (-((CAST(cp AS DOUBLE) / CAST(n.n AS DOUBLE)) *
         |          ln(CAST(cp AS DOUBLE) / CAST(n.n AS DOUBLE))))) AS BIGINT))
         |    AS BIGINT) AS hp_nn
         |  FROM pc, n),
         |thr AS (SELECT DISTINCT pos, qb AS t FROM cube),
         |lc AS (
         |  SELECT th.pos, th.t, pc.label, pc.cp,
         |    CAST(coalesce(sum(cu.c), 0) AS BIGINT) AS cl
         |  FROM thr th CROSS JOIN pc
         |  LEFT JOIN cube cu
         |    ON cu.pos = th.pos AND cu.label = pc.label AND cu.qb <= th.t
         |  GROUP BY 1, 2, 3, 4),
         |nl AS (SELECT pos, t, CAST(sum(cl) AS BIGINT) AS nl
         |       FROM lc GROUP BY 1, 2),
         |terms AS (
         |  SELECT lc.pos, lc.t,
         |    CAST(sum(
         |      CASE WHEN lc.cl > 0 THEN
         |        CAST(floor(1000000000.0 *
         |          ((CAST(lc.cl AS DOUBLE) / CAST(n.n AS DOUBLE)) *
         |           ln(CAST(nl.nl AS DOUBLE) / CAST(lc.cl AS DOUBLE)))) AS BIGINT)
         |      ELSE 0 END +
         |      CASE WHEN lc.cp - lc.cl > 0 THEN
         |        CAST(floor(1000000000.0 *
         |          ((CAST(lc.cp - lc.cl AS DOUBLE) / CAST(n.n AS DOUBLE)) *
         |           ln(CAST(n.n - nl.nl AS DOUBLE) /
         |              CAST(lc.cp - lc.cl AS DOUBLE)))) AS BIGINT)
         |      ELSE 0 END) AS BIGINT) AS child_nn
         |  FROM lc JOIN nl USING (pos, t), n
         |  GROUP BY 1, 2)
         |SELECT tm.pos, tm.t AS thr, nl.nl AS n_left,
         |  n.n - nl.nl AS n_right, hp.hp_nn - tm.child_nn AS gain_nn
         |FROM terms tm JOIN nl USING (pos, t), n, hp
         |ORDER BY gain_nn DESC, tm.pos, thr LIMIT 5""".stripMargin
    QueryDef("q173_stump", oracle) { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val lab = emb.select(col("vec_id"), col("label"))
      val cube = points(emb).filter(col("pos") <= 4)
        .join(lab, Seq("vec_id"))
        .groupBy(col("pos"),
          expr("(q - pmod(q, 125000)) div 125000").as("qb"),
          col("label"))
        .agg(count(lit(1)).as("c"))
        .ckpt()
      val pc = cube.filter(col("pos") === 1)
        .groupBy(col("label")).agg(sum(col("c")).as("cp"))
      val nTot = pc.agg(sum(col("cp")).as("n"))
      val pD = col("cp").cast("double") / col("n").cast("double")
      val hp = pc.crossJoin(broadcast(nTot))
        .select(floor(lit(1000000000.0) * (-(pD * log(pD))))
          .cast("bigint").as("t_nn"))
        .agg(sum(col("t_nn")).as("hp_nn"))
      val thr = cube.select(col("pos"), col("qb").as("t")).distinct()
      val lcx = thr.as("th").crossJoin(broadcast(pc.as("pc")))
        .join(cube.as("cu"),
          col("cu.pos") === col("th.pos") &&
            col("cu.label") === col("pc.label") &&
            col("cu.qb") <= col("th.t"), "left")
        .groupBy(col("th.pos").as("pos"), col("th.t").as("t"),
          col("pc.label").as("label"), col("pc.cp").as("cp"))
        .agg(coalesce(sum(col("cu.c")), lit(0L)).as("cl"))
      val nlF = lcx.groupBy(col("pos"), col("t")).agg(sum(col("cl")).as("nl"))
      val base = lcx.join(nlF, Seq("pos", "t")).crossJoin(broadcast(nTot))
      val terms = base.select(col("pos"), col("t"),
          childEntropyNano.as("t_nn"))
        .groupBy(col("pos"), col("t"))
        .agg(sum(col("t_nn")).as("child_nn"))
      terms.join(nlF, Seq("pos", "t"))
        .crossJoin(broadcast(nTot)).crossJoin(broadcast(hp))
        .select(col("pos").cast("bigint").as("pos"),
          col("t").as("thr"), col("nl").as("n_left"),
          (col("n") - col("nl")).as("n_right"),
          (col("hp_nn") - col("child_nn")).as("gain_nn"))
        .orderBy(col("gain_nn").desc, col("pos"), col("thr"))
        .limit(5)
    }
  }

  /** q174 — selective-prediction audit of the q96 nearest-centroid
    * classifier: each test point's relative margin (d2−d1)/d2 between
    * its two best centroids (0 = ambiguous, →1 = winner far clear) is
    * binned at 1%-of-margin granularity, and each bin reports
    * observed accuracy — the reliability curve that decides whether
    * margin can ROUTE data (auto-accept high-margin, send low-margin
    * to review/active sampling). A classifier whose accuracy is flat
    * across margin bins has uninformative scores no matter how
    * accurate it is overall.
    *
    * Exactness: distances are the integer-quantized q96 chain; the
    * margin ratio is ONE IEEE chain floor(1e6·(d2−d1)/d2) over int64
    * exactly representable in double (≤ 5.2e14 < 2⁵³), with the
    * degenerate d2=0 case pinned to 0 before any float; bins and
    * per-bin accuracy are non-negative integer floor-divs.
    *
    * Scale design (100 TB): centroids broadcast (the corpus never
    * shuffles for assignment), the two-best pick is a window over
    * vec_id (unbounded key), and the report is a bounded-bin
    * aggregate. */
  val q174Calibration: QueryDef = {
    val oracle =
      s"""WITH $labelCentroidsSql,
         |test AS (SELECT * FROM pts WHERE vec_id % 2 = 1),
         |d AS (
         |  SELECT p.vec_id, c.cid,
         |    CAST(sum((p.q - c.c) * (p.q - c.c)) AS BIGINT) AS dist
         |  FROM test p JOIN ctrain c ON p.pos = c.pos
         |  GROUP BY 1, 2),
         |rk AS (
         |  SELECT vec_id, cid, dist,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
         |  FROM d),
         |two AS (
         |  SELECT a.vec_id, a.cid AS pred, a.dist AS d1, b.dist AS d2
         |  FROM rk a JOIN rk b ON a.vec_id = b.vec_id
         |  WHERE a.rn = 1 AND b.rn = 2),
         |conf AS (
         |  SELECT t.vec_id, t.pred, l.label,
         |    CASE WHEN t.d2 = 0 THEN 0
         |      ELSE CAST(floor(1000000.0 * CAST(t.d2 - t.d1 AS DOUBLE) /
         |                      CAST(t.d2 AS DOUBLE)) AS BIGINT)
         |    END AS margin_ppm
         |  FROM two t JOIN lab l USING (vec_id))
         |SELECT margin_ppm // 10000 AS bin,
         |  CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(margin_ppm) AS BIGINT) // count(*) AS margin_avg_ppm,
         |  (1000000 * CAST(sum(CASE WHEN pred = label THEN 1 ELSE 0 END)
         |    AS BIGINT)) // count(*) AS acc_ppm
         |FROM conf GROUP BY 1 ORDER BY bin""".stripMargin
    QueryDef("q174_calibration", oracle) { (s, dir) =>
      val (pts, lab, ctrain) = labelCentroids(s, dir)
      val d = pts.filter(col("vec_id") % 2 === 1)
        .join(broadcast(ctrain), Seq("pos"))
        .groupBy(col("vec_id"), col("cid"))
        .agg(sum((col("q") - col("c")) * (col("q") - col("c"))).as("dist"))
      val w = Window.partitionBy(col("vec_id")).orderBy(col("dist"), col("cid"))
      val rk = d.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 2)
      val two = rk.filter(col("rn") === 1)
        .select(col("vec_id"), col("cid").as("pred"), col("dist").as("d1"))
        .join(rk.filter(col("rn") === 2)
          .select(col("vec_id"), col("dist").as("d2")), Seq("vec_id"))
      val conf = two.join(lab, Seq("vec_id"))
        .select(col("pred"), col("label"),
          when(col("d2") === 0, 0L)
            .otherwise(floor(lit(1000000.0) *
              (col("d2") - col("d1")).cast("double") /
              col("d2").cast("double")).cast("bigint"))
            .as("margin_ppm"))
      conf.groupBy(expr("margin_ppm div 10000").as("bin"))
        .agg(count(lit(1)).as("n"),
          sum(col("margin_ppm")).as("smargin"),
          sum(when(col("pred") === col("label"), 1L).otherwise(0L)).as("ncorr"))
        .select(col("bin"), col("n"),
          expr("smargin div n").as("margin_avg_ppm"),
          expr("(1000000 * ncorr) div n").as("acc_ppm"))
        .orderBy("bin")
    }
  }

  val q159ClusterPurity: QueryDef = {
    val steps = (1 to ITERS).map { t =>
      val cent = if (t == 1) "c0" else s"c${t - 1}"
      s"${assignSql(t, "pts", cent)},\n${updateSql(t)}"
    }.mkString(",\n")
    val oracle =
      s"""WITH $ptsCte,
         |c0 AS (SELECT vec_id AS cid, pos, q AS c FROM pts WHERE vec_id < $K),
         |$steps,
         |lab AS (
         |  SELECT a.cid, e.label, CAST(count(*) AS BIGINT) AS cnt
         |  FROM a$ITERS a JOIN embeddings e USING (vec_id)
         |  GROUP BY 1, 2),
         |top AS (
         |  SELECT cid, label AS top_label, cnt AS top_n FROM (
         |    SELECT *, row_number() OVER (PARTITION BY cid ORDER BY cnt DESC, label) AS rn
         |    FROM lab) WHERE rn = 1),
         |tot AS (
         |  SELECT cid, CAST(sum(cnt) AS BIGINT) AS n_points,
         |    CAST(count(*) AS BIGINT) AS n_labels
         |  FROM lab GROUP BY cid)
         |SELECT t.cid, tot.n_points, tot.n_labels, t.top_label, t.top_n,
         |  (1000000 * t.top_n) // tot.n_points AS purity_ppm
         |FROM top t JOIN tot USING (cid) ORDER BY t.cid""".stripMargin
    QueryDef("q159_cluster_purity", oracle) { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val pts = points(emb).ckpt()
      var cent = pts.filter(col("vec_id") < K)
        .select(col("vec_id").as("cid"), col("pos"), col("q").as("c"))
      var asg: DataFrame = null
      for (_ <- 1 to ITERS) {
        asg = assign(pts, cent).ckpt()
        cent = update(asg, pts).ckpt()
      }
      val lab = asg.join(emb.select(col("vec_id"), col("label")), Seq("vec_id"))
        .groupBy(col("cid"), col("label"))
        .agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy(col("cid")).orderBy(col("cnt").desc, col("label"))
      val top = lab.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("cid"), col("label").as("top_label"), col("cnt").as("top_n"))
      val tot = lab.groupBy(col("cid"))
        .agg(sum(col("cnt")).as("n_points"), count(lit(1)).as("n_labels"))
      top.join(tot, Seq("cid"))
        .select(col("cid"), col("n_points"), col("n_labels"),
          col("top_label"), col("top_n"),
          expr("(1000000 * top_n) div n_points").as("purity_ppm"))
        .orderBy(col("cid"))
    }
  }

  /** q227 — multinomial naive Bayes text classifier, trained and
    * evaluated in-engine: fit P(word|source) with Laplace smoothing on
    * the deterministic 80% train split (doc_id % 5 ≠ 0), score the
    * held-out 20%, report the confusion matrix. The classic first
    * baseline for source/domain routing of a text corpus (and the
    * quality-classifier pattern: swap `source` for any doc label) —
    * counts in, argmax out, no gradient loop.
    *
    * Exactness: every log term — class prior ln(d_c/d), seen-word
    * ln((c_wc+1)/(N_c+V)), unseen-in-class default ln(1/(N_c+V)) — is
    * floored to integer nano-nats (the q91 contract: one IEEE divide
    * + ln per DISTINCT (word, class), then order-free integer sums);
    * per-doc scores are exact int64 (≤ 10⁵ tokens × ~40·10⁹ nano-nats
    * ≈ 4·10¹⁵); argmax breaks score ties on class name ascending.
    * Test-only words (outside the train vocabulary) are dropped —
    * the standard "ignore OOV" NB convention, stated here because the
    * alternative (smoothe them too) changes scores.
    *
    * Scale design (100 TB): the model is three aggregates off one
    * tokenized-train pass — (class, word) counts, class totals, vocab
    * size; scoring joins test tokens to the sparse (word, class)
    * table by equi-key (the model is NOT broadcast — a web-scale
    * vocabulary doesn't fit an executor; only the |classes|-row
    * prior/default frame is), the per-class expansion is a broadcast
    * cross join ×|classes|, and the argmax window sees |classes| rows
    * per doc partition. All exchanges partial-aggregable. */
  val q227NaiveBayes: QueryDef = QueryDef(
    "q227_naive_bayes",
    """WITH tr AS (SELECT doc_id, source, text FROM documents WHERE doc_id % 5 <> 0),
      |te AS (SELECT doc_id, source, text FROM documents WHERE doc_id % 5 = 0),
      |ttok AS (SELECT source AS c, unnest(string_split(text, ' ')) AS w FROM tr),
      |cw AS (SELECT c, w, CAST(count(*) AS BIGINT) AS cwc FROM ttok GROUP BY c, w),
      |nc AS (SELECT c, CAST(sum(cwc) AS BIGINT) AS n FROM cw GROUP BY c),
      |vv AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS v FROM ttok),
      |pri AS (SELECT source AS c, CAST(count(*) AS BIGINT) AS dc FROM tr GROUP BY source),
      |pt AS (SELECT CAST(sum(dc) AS BIGINT) AS dt FROM pri),
      |cls AS (
      |  SELECT pri.c,
      |    CAST(floor(1000000000.0 *
      |      ln(CAST(pri.dc AS DOUBLE) / CAST(pt.dt AS DOUBLE))) AS BIGINT) AS prior_nn,
      |    CAST(floor(1000000000.0 *
      |      ln(1.0 / CAST(nc.n + vv.v AS DOUBLE))) AS BIGINT) AS def_nn,
      |    nc.n + vv.v AS den
      |  FROM pri, pt, nc, vv WHERE nc.c = pri.c),
      |lp AS (
      |  SELECT cw.c, cw.w,
      |    CAST(floor(1000000000.0 *
      |      ln(CAST(cw.cwc + 1 AS DOUBLE) / CAST(cls.den AS DOUBLE))) AS BIGINT) AS lp_nn
      |  FROM cw JOIN cls ON cls.c = cw.c),
      |tetok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM te),
      |tetv AS (
      |  SELECT t.doc_id, t.w FROM tetok t
      |  JOIN (SELECT DISTINCT w FROM cw) vw ON vw.w = t.w),
      |sc0 AS (
      |  SELECT t.doc_id, cls.c,
      |    CAST(sum(coalesce(lp.lp_nn, cls.def_nn)) AS BIGINT) AS tok_nn
      |  FROM tetv t CROSS JOIN cls
      |  LEFT JOIN lp ON lp.c = cls.c AND lp.w = t.w
      |  GROUP BY t.doc_id, cls.c),
      |scores AS (
      |  SELECT te.doc_id, te.source, cls.c,
      |    cls.prior_nn + coalesce(sc0.tok_nn, 0) AS score_nn
      |  FROM te CROSS JOIN cls
      |  LEFT JOIN sc0 ON sc0.doc_id = te.doc_id AND sc0.c = cls.c),
      |pred AS (
      |  SELECT doc_id, source, c, score_nn,
      |    row_number() OVER (PARTITION BY doc_id ORDER BY score_nn DESC, c) AS rn
      |  FROM scores)
      |SELECT source AS true_src, c AS pred_src, CAST(count(*) AS BIGINT) AS n
      |FROM pred WHERE rn = 1
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    val tr = docs.filter(col("doc_id") % 5 =!= 0)
      .select(col("doc_id"), col("source"), col("text"))
    val te = docs.filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"), col("source"), col("text"))
    val ttok = tr.select(col("source").as("c"),
        explode(split(col("text"), " ")).as("w"))
      .ckpt() // feeds (class,word) counts AND the vocab size
    val cw = ttok.groupBy("c", "w").agg(count(lit(1)).as("cwc"))
      .ckpt() // feeds class totals, vocab list, lp table
    val nc = cw.groupBy("c").agg(sum("cwc").as("n"))
    val vv = ttok.agg(countDistinct("w").as("v"))
    val pri = tr.groupBy(col("source").as("c")).agg(count(lit(1)).as("dc"))
    val pt = pri.agg(sum("dc").as("dt"))
    val nano = (x: Column) => floor(lit(1000000000.0) * log(x)).cast("long")
    val cls = pri.join(nc, "c").crossJoin(broadcast(pt)).crossJoin(broadcast(vv))
      .select(col("c"),
        nano(col("dc").cast("double") / col("dt").cast("double")).as("prior_nn"),
        nano(lit(1.0) / (col("n") + col("v")).cast("double")).as("def_nn"),
        (col("n") + col("v")).as("den"))
    val lp = cw.join(broadcast(cls.select(col("c"), col("den"))), "c")
      .select(col("c"), col("w"),
        nano((col("cwc") + 1).cast("double") / col("den").cast("double")).as("lp_nn"))
    val tetok = te.select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
    val tetv = tetok.join(cw.select("w").distinct(), Seq("w"), "leftsemi")
    val sc0 = tetv
      .crossJoin(broadcast(cls.select(col("c").as("sc_c"), col("def_nn"))))
      .join(lp, col("c") === col("sc_c") && lp("w") === tetv("w"), "left")
      .groupBy(tetv("doc_id").as("sc_doc"), col("sc_c"))
      .agg(sum(coalesce(col("lp_nn"), col("def_nn"))).as("tok_nn"))
    val scores = te.select(col("doc_id"), col("source"))
      .crossJoin(broadcast(cls.select(col("c"), col("prior_nn"))))
      .join(sc0, col("doc_id") === col("sc_doc") && col("c") === col("sc_c"), "left")
      .select(col("doc_id"), col("source"), col("c"),
        (col("prior_nn") + coalesce(col("tok_nn"), lit(0L))).as("score_nn"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score_nn").desc, col("c"))
    scores.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .groupBy(col("source").as("true_src"), col("c").as("pred_src"))
      .agg(count(lit(1)).as("n"))
      .orderBy("true_src", "pred_src")
  }

  /** q235 — split conformal prediction (Vovk; Lei et al. JASA'18):
    * wrap ANY point predictor in a prediction interval with a
    * distribution-free finite-sample coverage guarantee. Here the
    * predictor is the per-market-segment train-split mean of the order
    * total; the calibration split supplies the nonconformity scores
    * s = |y − ŷ|, whose ⌈0.9·(n+1)⌉-th smallest value q̂ makes
    * [ŷ ± q̂] cover a fresh order with probability ≥ 90% — the audit
    * reports realized coverage on the held-out test split. This is the
    * uncertainty gate a training-data pipeline puts behind every
    * learned filter score (exchangeability is the only assumption).
    *
    * Exactness: money is half-up cents (the q108 floor pattern), the
    * model is a truncating integer mean (`div` ≡ `//` on non-negative
    * sums), the conformal quantile is an EXACT k-th order statistic
    * (k = ⌈9(n+1)/10⌉ via integer ceil-div, clamped to n) — not an
    * interpolated percentile, which is what the guarantee's proof
    * requires — and coverage is an integer ppm ratio.
    *
    * Scale design (100 TB): model and quantile frames are ≤|segments|
    * rows — broadcast into every join, so the orders table is never
    * shuffled after the customer join; the order statistic rides
    * [[ScaleRank.withRunningSum]] over the (segment, s) collapse,
    * whose row count is bounded by the discrete cents-deviation
    * domain, not by data (the q17 weighted-percentile argument), with
    * every task range-chunk-bounded. */
  val q235Conformal: QueryDef = QueryDef(
    "q235_conformal",
    """WITH j AS (
      |  SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
      |         c_mktsegment AS seg, o_orderkey % 3 AS split
      |  FROM orders JOIN customer ON o_custkey = c_custkey),
      |yh AS (
      |  SELECT seg, count(*) AS n_train,
      |    CAST(sum(cents) AS BIGINT) // count(*) AS yhat
      |  FROM j WHERE split = 0 GROUP BY seg),
      |cal AS (
      |  SELECT j.seg, abs(j.cents - yh.yhat) AS s
      |  FROM j JOIN yh USING (seg) WHERE split = 1),
      |kf AS (
      |  SELECT seg, count(*) AS n_cal,
      |    least((9 * (count(*) + 1) + 9) // 10, count(*)) AS k
      |  FROM cal GROUP BY seg),
      |cc AS (SELECT seg, s, count(*) AS cnt FROM cal GROUP BY seg, s),
      |cum AS (
      |  SELECT seg, s, CAST(sum(cnt) OVER (
      |    PARTITION BY seg ORDER BY s
      |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      |  FROM cc),
      |qh AS (
      |  SELECT cum.seg, min(cum.s) AS qhat_cents
      |  FROM cum JOIN kf USING (seg) WHERE cum.cum >= kf.k
      |  GROUP BY cum.seg),
      |tst AS (
      |  SELECT j.seg,
      |    CASE WHEN abs(j.cents - yh.yhat) <= qh.qhat_cents
      |         THEN 1 ELSE 0 END AS cov
      |  FROM j JOIN yh USING (seg) JOIN qh ON qh.seg = j.seg
      |  WHERE split = 2),
      |tagg AS (
      |  SELECT seg, count(*) AS n_test, CAST(sum(cov) AS BIGINT) AS n_cov
      |  FROM tst GROUP BY seg)
      |SELECT yh.seg, yh.n_train, kf.n_cal, qh.qhat_cents, tagg.n_test,
      |  (1000000 * tagg.n_cov) // tagg.n_test AS coverage_ppm
      |FROM yh JOIN kf USING (seg) JOIN qh USING (seg) JOIN tagg USING (seg)
      |ORDER BY yh.seg""".stripMargin) { (s, dir) =>
    val j = Tables.orders(s, dir)
      .join(Tables.customer(s, dir),
        col("o_custkey") === col("c_custkey"))
      .select(
        expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").as("cents"),
        col("c_mktsegment").as("seg"),
        (col("o_orderkey") % 3).as("split"))
    val yh = j.filter(col("split") === 0).groupBy(col("seg"))
      .agg(count(lit(1)).as("n_train"), sum(col("cents")).as("sc"))
      .select(col("seg"), col("n_train"), expr("sc div n_train").as("yhat"))
    val cal = j.filter(col("split") === 1)
      .join(broadcast(yh), Seq("seg"))
      .select(col("seg"), abs(col("cents") - col("yhat")).as("s"))
    val kf = cal.groupBy(col("seg")).agg(count(lit(1)).as("n_cal"))
      .withColumn("k",
        least(expr("(9 * (n_cal + 1) + 9) div 10"), col("n_cal")))
    val cc = cal.groupBy(col("seg"), col("s")).agg(count(lit(1)).as("cnt"))
    val cum = ScaleRank.withRunningSum(
      cc, Seq("seg"), Seq(col("s")), col("cnt"), "cum")
    val qh = cum.join(broadcast(kf), Seq("seg"))
      .filter(col("cum") >= col("k"))
      .groupBy(col("seg")).agg(min(col("s")).as("qhat_cents"))
    val tst = j.filter(col("split") === 2)
      .join(broadcast(yh), Seq("seg"))
      .join(broadcast(qh), Seq("seg"))
      .select(col("seg"),
        when(abs(col("cents") - col("yhat")) <= col("qhat_cents"), 1L)
          .otherwise(0L).as("cov"))
    val tagg = tst.groupBy(col("seg"))
      .agg(count(lit(1)).as("n_test"), sum(col("cov")).as("n_cov"))
    yh.join(kf, Seq("seg")).join(qh, Seq("seg")).join(tagg, Seq("seg"))
      .select(col("seg"), col("n_train"), col("n_cal"), col("qhat_cents"),
        col("n_test"), expr("(1000000 * n_cov) div n_test").as("coverage_ppm"))
      .orderBy("seg")
  }

  private val DB_EPS = 20000L        // ε in micro-units (0.02)
  private val DB_MINPTS = 4          // |N_ε(p)| incl. self for core status
  private val DB_SHIFT = 10000000L   // coords → non-negative (div ≡ //)

  /** q238 — grid-blocked DBSCAN (Ester et al. KDD'96) over the first
    * two embedding coordinates: core points have ≥ MINPTS points
    * (incl. self) within ε, clusters are the connected components of
    * the core-core ε-graph, border points attach to the MIN cluster
    * id of their core neighbors (pinned — classic DBSCAN leaves border
    * assignment order-dependent), the rest is noise. Density-based
    * clustering is the complement of q95's k-means: no k, arbitrary
    * cluster shape, an explicit noise class — the embedding-space
    * outlier screen a curation pipeline runs where centroids mislead.
    *
    * Exactness: coordinates are the q95 floor-quantized micro-units
    * shifted non-negative (so Spark `div` ≡ DuckDB `//` for the cell
    * id), distances are exact int64 squares against ε², and component
    * ids ride [[ConnectedComponents]] vs its recursive-closure oracle
    * twin ([[ConnectedComponents.oracleCte]]); isolated cores (no core
    * neighbor) keep their own id via the coalesce.
    *
    * Scale design (100 TB): the ε-neighborhood join NEVER compares all
    * pairs — each point probes the 9 grid cells of side ε around it
    * (an equi-join on cell id after a 9-way literal offset explode),
    * so candidates are bounded by local density, the same blocking
    * argument as the LSH families; neighbor counts and per-cluster
    * rollups are partial-aggregable; the core-core edge list entering
    * component closure is density-pruned (ConnectedComponents picks
    * union-find vs distributed min-label by edge count). */
  val q238Dbscan: QueryDef = QueryDef(
    "q238_dbscan",
    s"""WITH RECURSIVE pc AS (
      |  SELECT vec_id,
      |    CAST(floor(CAST(embedding[1] AS DOUBLE) * $SCALE) AS BIGINT)
      |      + $DB_SHIFT AS qx,
      |    CAST(floor(CAST(embedding[2] AS DOUBLE) * $SCALE) AS BIGINT)
      |      + $DB_SHIFT AS qy
      |  FROM embeddings),
      |pg AS (SELECT vec_id, qx, qy,
      |         qx // $DB_EPS AS cx, qy // $DB_EPS AS cy FROM pc),
      |prs AS (
      |  SELECT a.vec_id AS a, b.vec_id AS b
      |  FROM pg a JOIN pg b
      |    ON b.cx BETWEEN a.cx - 1 AND a.cx + 1
      |   AND b.cy BETWEEN a.cy - 1 AND a.cy + 1
      |   AND a.vec_id <> b.vec_id
      |   AND (a.qx - b.qx) * (a.qx - b.qx)
      |     + (a.qy - b.qy) * (a.qy - b.qy) <= ${DB_EPS * DB_EPS}),
      |cores AS (SELECT a AS core FROM prs
      |          GROUP BY a HAVING count(*) >= ${DB_MINPTS - 1}),
      |edges AS (
      |  SELECT a, b FROM prs
      |  WHERE a < b AND a IN (SELECT core FROM cores)
      |    AND b IN (SELECT core FROM cores)),
      |${ConnectedComponents.oracleCte},
      |core_comp AS (
      |  SELECT c.core AS node, coalesce(mp.component, c.core) AS cluster
      |  FROM cores c LEFT JOIN comp mp ON mp.node = c.core),
      |borders AS (
      |  SELECT p.a AS node, min(cc.cluster) AS cluster
      |  FROM prs p JOIN core_comp cc ON cc.node = p.b
      |  WHERE p.a NOT IN (SELECT core FROM cores)
      |  GROUP BY p.a),
      |ca AS (SELECT cluster, count(*) AS n_core FROM core_comp GROUP BY cluster),
      |ba AS (SELECT cluster, count(*) AS n_border FROM borders GROUP BY cluster)
      |SELECT ca.cluster, ca.n_core,
      |  coalesce(ba.n_border, 0) AS n_border,
      |  ca.n_core + coalesce(ba.n_border, 0) AS n_members
      |FROM ca LEFT JOIN ba USING (cluster)
      |UNION ALL
      |SELECT CAST(-1 AS BIGINT) AS cluster, CAST(0 AS BIGINT) AS n_core,
      |  CAST(0 AS BIGINT) AS n_border, count(*) AS n_members
      |FROM pc WHERE vec_id NOT IN (SELECT node FROM core_comp)
      |  AND vec_id NOT IN (SELECT node FROM borders)
      |ORDER BY cluster""".stripMargin) { (s, dir) =>
    val pg = Tables.embeddings(s, dir)
      .repartition(col("vec_id")) // single-file scan -> use every core
      .select(col("vec_id"),
        (floor(element_at(col("embedding"), 1).cast("double") * SCALE)
          .cast("long") + DB_SHIFT).as("qx"),
        (floor(element_at(col("embedding"), 2).cast("double") * SCALE)
          .cast("long") + DB_SHIFT).as("qy"))
      .withColumn("cx", expr(s"qx div $DB_EPS"))
      .withColumn("cy", expr(s"qy div $DB_EPS"))
      .ckpt() // probe side + build side + the noise rollup
    val offsets = array((for (dx <- -1 to 1; dy <- -1 to 1)
      yield struct(lit(dx.toLong).as("dx"), lit(dy.toLong).as("dy"))): _*)
    val probes = pg.select(col("vec_id").as("a"), col("qx").as("qxa"),
        col("qy").as("qya"), explode(offsets).as("o"),
        col("cx"), col("cy"))
      .select(col("a"), col("qxa"), col("qya"),
        (col("cx") + col("o.dx")).as("cxp"), (col("cy") + col("o.dy")).as("cyp"))
    val prs = probes.join(
        pg.select(col("vec_id").as("b"), col("qx").as("qxb"),
          col("qy").as("qyb"), col("cx").as("cxb"), col("cy").as("cyb")),
        col("cxp") === col("cxb") && col("cyp") === col("cyb") &&
          col("a") =!= col("b"))
      .filter((col("qxa") - col("qxb")) * (col("qxa") - col("qxb")) +
        (col("qya") - col("qyb")) * (col("qya") - col("qyb")) <=
        DB_EPS * DB_EPS)
      .select(col("a"), col("b"))
      .ckpt() // feeds cores, edges, and the border pass
    val cores = prs.groupBy(col("a")).agg(count(lit(1)).as("n_nb"))
      .filter(col("n_nb") >= DB_MINPTS - 1).select(col("a").as("core"))
    val edges = prs.filter(col("a") < col("b"))
      .join(cores.select(col("core").as("a")), Seq("a"), "semi")
      .join(cores.select(col("core").as("b")), Seq("b"), "semi")
      .select(col("a"), col("b"))
    val comp = ConnectedComponents.compute(s, edges)
    val coreComp = cores
      .join(comp, cores("core") === comp("node"), "left")
      .select(col("core").as("node"),
        coalesce(col("component"), col("core")).as("cluster"))
    val borders = prs
      .join(cores.select(col("core").as("a")), Seq("a"), "anti")
      .join(coreComp.select(col("node").as("b"), col("cluster")), Seq("b"))
      .groupBy(col("a")).agg(min(col("cluster")).as("cluster"))
      .select(col("a").as("node"), col("cluster"))
    val ca = coreComp.groupBy(col("cluster")).agg(count(lit(1)).as("n_core"))
    val ba = borders.groupBy(col("cluster")).agg(count(lit(1)).as("n_border"))
    val clusters = ca.join(ba, Seq("cluster"), "left")
      .select(col("cluster"), col("n_core"),
        coalesce(col("n_border"), lit(0L)).as("n_border"),
        (col("n_core") + coalesce(col("n_border"), lit(0L))).as("n_members"))
    val assigned = coreComp.select(col("node"))
      .union(borders.select(col("node")))
    val noise = pg.join(assigned, pg("vec_id") === assigned("node"), "anti")
      .agg(count(lit(1)).as("n_members"))
      .select(lit(-1L).as("cluster"), lit(0L).as("n_core"),
        lit(0L).as("n_border"), col("n_members"))
    clusters.unionByName(noise).orderBy("cluster")
  }

  private val KC_K = 5 // coreset size (seed + 4 greedy picks)

  /** Oracle twin of [[q249KCenter]]: seed + unrolled greedy rounds as
    * MATERIALIZED CTEs over the shared quantized-points CTE. */
  private def kcenterOracleSql: String = {
    val rounds = (2 to KC_K).map { r =>
      s"""p$r AS MATERIALIZED (
         |  SELECT min(vec_id) AS cid, max(dmin) AS r2 FROM d${r - 1}
         |  WHERE dmin = (SELECT max(dmin) FROM d${r - 1})),
         |d$r AS MATERIALIZED (
         |  SELECT p.vec_id,
         |    least(dd.dmin, CAST(sum((p.q - c.q) * (p.q - c.q)) AS BIGINT))
         |      AS dmin
         |  FROM pts p
         |  JOIN (SELECT pos, q FROM pts JOIN p$r ON pts.vec_id = p$r.cid) c
         |    USING (pos)
         |  JOIN d${r - 1} dd ON dd.vec_id = p.vec_id
         |  GROUP BY p.vec_id, dd.dmin)""".stripMargin
    }.mkString(",\n")
    val rows = (2 to KC_K).map(r =>
      s"SELECT CAST($r AS BIGINT) AS rk, cid AS vec_id, r2 AS radius_sq FROM p$r")
      .mkString("\nUNION ALL ")
    s"""WITH $ptsCte,
       |c0 AS (SELECT min(vec_id) AS cid FROM pts),
       |d1 AS MATERIALIZED (
       |  SELECT p.vec_id, CAST(sum((p.q - c.q) * (p.q - c.q)) AS BIGINT)
       |    AS dmin
       |  FROM pts p
       |  JOIN (SELECT pos, q FROM pts JOIN c0 ON pts.vec_id = c0.cid) c
       |    USING (pos)
       |  GROUP BY p.vec_id),
       |$rounds
       |SELECT CAST(1 AS BIGINT) AS rk, cid AS vec_id,
       |  CAST(0 AS BIGINT) AS radius_sq FROM c0
       |UNION ALL $rows
       |ORDER BY rk""".stripMargin
  }

  /** q249 — greedy k-center coreset (Gonzalez'85 farthest-point
    * traversal, the 2-approximation): pick the min-id seed, then
    * repeatedly the point FARTHEST from every chosen center (ties to
    * min vec_id). The radius_sq trail is the certificate: after k
    * picks every point sits within radius_sq(k) of a center, the
    * coverage bound that makes the k points a faithful exemplar set.
    * This is the diversity-first data-selection step of a curation
    * pipeline (dedup keeps one PER near-dup class; the coreset keeps
    * the most SPREAD exemplars for labeling/eval budgets) — the
    * geometric opposite of q95's density-seeking k-means and the
    * deterministic cousin of k-means++ seeding.
    *
    * Exactness: q95's floor-quantized micro-unit coordinates; all
    * distances are int64 squared sums (≤ 64·(2·3·10¹¹) ≪ 2⁶³);
    * argmax is max-dmin ⋈ min-id (no window); the greedy recurrence
    * dmin' = least(dmin, d(·, new)) is exact mins over ints.
    *
    * Scale design (100 TB): each round broadcasts ONE 64-row center
    * vector against the checkpointed points layout — the corpus is
    * scanned per round but never shuffled (partial-aggregable
    * per-point distance sums, then a 1-row max broadcast); k is a
    * small constant, so the plan is k linear passes. */
  val q249KCenter: QueryDef = QueryDef("q249_kcenter", kcenterOracleSql) {
    (s, dir) =>
    val pts = points(Tables.embeddings(s, dir)).ckpt()
    def centerVec(cid: DataFrame): DataFrame =
      pts.join(broadcast(cid), pts("vec_id") === cid("cid"))
        .select(col("pos"), col("q").as("qc"))
    def distTo(cv: DataFrame): DataFrame =
      pts.join(broadcast(cv), Seq("pos"))
        .groupBy(col("vec_id"))
        .agg(sum((col("q") - col("qc")) * (col("q") - col("qc"))).as("dc"))
    val c0 = pts.agg(min(col("vec_id")).as("cid")).ckpt()
    var rows = c0.select(lit(1L).as("rk"), col("cid").as("vec_id"),
      lit(0L).as("radius_sq"))
    var d = distTo(centerVec(c0))
      .select(col("vec_id"), col("dc").as("dmin")).ckpt()
    for (r <- 2 to KC_K) {
      val mx = d.agg(max(col("dmin")).as("mx"))
      val pick = d.crossJoin(broadcast(mx))
        .filter(col("dmin") === col("mx"))
        .agg(min(col("vec_id")).as("cid"), max(col("mx")).as("r2"))
        .ckpt()
      rows = rows.unionByName(pick.select(lit(r.toLong).as("rk"),
        col("cid").as("vec_id"), col("r2").as("radius_sq")))
      d = d.join(distTo(centerVec(pick.select(col("cid")))), Seq("vec_id"))
        .select(col("vec_id"), least(col("dmin"), col("dc")).as("dmin"))
        .ckpt()
    }
    rows.orderBy("rk")
  }

  /** q255 — isotonic (PAV) probability calibration, exact minimax
    * form: orders are binned by total price (20 equal-width bins) and
    * the per-bin 'F'-status rate is projected onto the best
    * MONOTONE non-decreasing fit — the calibration map a ranker's
    * raw score needs before its outputs can be read as
    * probabilities. Where q174 only REPORTS the reliability curve,
    * this FITS the correction. Instead of the sequential
    * pool-adjacent-violators sweep (order-dependent, driver-shaped),
    * the unique isotonic solution is computed closed-form via the
    * minimax identity fit(i) = max_{j≤i} min_{k≥i} wmean(j..k) —
    * every interval's pooled rate materialized at once, which is
    * embarrassingly parallel where PAV is inherently serial.
    *
    * Exactness: pooled interval rates are (10⁶·Σs) div Σn integer
    * floor-divs; min/max over those integers; the fitted curve is
    * monotone for ANY value matrix under the minimax (j grows with
    * i, k shrinks), so the isotonic invariant survives the 1 ppm
    * quantization.
    *
    * Scale design (100 TB): one partial-aggregable pass collapses
    * the fact table to ≤20 (bin, n, s) rows; the j×k×member
    * interval expansion and both minimax reductions run on that
    * broadcast ≤20-row frame — O(B³) = 8000 tiny rows regardless of
    * corpus size. No windows, no collect. */
  val q255Isotonic: QueryDef = QueryDef(
    "q255_isotonic",
    """WITH b AS (
      |  SELECT least(19, CAST(floor(o_totalprice / 25000) AS BIGINT)) AS bin,
      |    CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS s
      |  FROM orders GROUP BY 1),
      |iv AS (
      |  SELECT j.bin AS jb, k.bin AS kb,
      |    (1000000 * sum(m.s)) // sum(m.n) AS avg_ppm
      |  FROM b j JOIN b k ON j.bin <= k.bin
      |    JOIN b m ON m.bin BETWEEN j.bin AND k.bin
      |  GROUP BY 1, 2),
      |mn AS (
      |  SELECT i.bin, iv.jb, min(iv.avg_ppm) AS lo
      |  FROM b i JOIN iv ON iv.jb <= i.bin AND iv.kb >= i.bin
      |  GROUP BY 1, 2),
      |fit AS (SELECT bin, CAST(max(lo) AS BIGINT) AS iso_ppm FROM mn GROUP BY bin)
      |SELECT b.bin, b.n, b.s AS events,
      |  (1000000 * b.s) // b.n AS rate_ppm, f.iso_ppm
      |FROM b JOIN fit f USING (bin) ORDER BY b.bin""".stripMargin) {
    (s, dir) =>
    val b = Tables.orders(s, dir)
      .groupBy(least(lit(19L),
        floor(col("o_totalprice") / 25000).cast("bigint")).as("bin"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L)).as("s"))
      .ckpt() // <=20 rows; feeds intervals, minimax, and output
    val iv = broadcast(b.select(col("bin").as("jb")))
      .join(broadcast(b.select(col("bin").as("kb"))), col("jb") <= col("kb"))
      .join(broadcast(b.select(col("bin").as("mb"), col("n"), col("s"))),
        col("mb").between(col("jb"), col("kb")))
      .groupBy(col("jb"), col("kb"))
      .agg(expr("(1000000 * sum(s)) div sum(n)").as("avg_ppm"))
    val mn = broadcast(b.select(col("bin")))
      .join(broadcast(iv), col("jb") <= col("bin") && col("kb") >= col("bin"))
      .groupBy(col("bin"), col("jb")).agg(min(col("avg_ppm")).as("lo"))
    val fit = mn.groupBy(col("bin")).agg(max(col("lo")).cast("bigint").as("iso_ppm"))
    b.join(broadcast(fit), Seq("bin"))
      .select(col("bin"), col("n"), col("s").as("events"),
        expr("(1000000 * s) div n").as("rate_ppm"), col("iso_ppm"))
      .orderBy("bin")
  }

  /** q259 — empirical-Bayes (beta-binomial) shrinkage of per-customer
    * finished-order rates: each customer's raw rate s/n is pulled
    * toward the corpus prior with strength inversely proportional to
    * their evidence — the estimator that stops a 1-for-1 customer
    * ranking above a 99-for-100 one. The prior (α, β) is fit by
    * method-of-moments on the per-customer ppm rates; the posterior
    * mean (s+α)/(n+α+β) is the shrunk estimate. This is the
    * small-sample-ranking fix every per-entity quality score
    * (source trust, seller rating, doc-quality per domain) needs
    * before a top-k cut.
    *
    * Exactness: raw rates are integer ppm floor-divs; the MoM moment
    * sums are DECIMAL(38) (order-free); the prior fit and posterior
    * mean are ONE shared IEEE-double chain — written with identical
    * operation order in both engines — with the degenerate
    * variance/strength domain pinned to strength 1 BEFORE any float
    * (fuzz-proof), and a final 1 ppm floor.
    *
    * Scale design (100 TB): one partial-aggregable rollup to
    * customer grain, one 1-row moment aggregate over the rates,
    * prior broadcast back over the customer frame — two exchanges
    * total, no windows, no collect. */
  val q259EbShrinkage: QueryDef = QueryDef(
    "q259_eb_shrinkage",
    """WITH c AS (
      |  SELECT o_custkey AS custkey, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS s
      |  FROM orders GROUP BY 1),
      |r AS (SELECT custkey, n, s, (1000000 * s) // n AS raw_ppm FROM c),
      |m AS (
      |  SELECT CAST(count(*) AS BIGINT) AS nc,
      |    sum(CAST(raw_ppm AS HUGEINT)) AS sr,
      |    sum(CAST(raw_ppm AS HUGEINT) * raw_ppm) AS srr
      |  FROM r),
      |prior AS (
      |  SELECT CAST(sr AS DOUBLE) / CAST(nc AS DOUBLE) / 1000000.0 AS mu,
      |    (CAST(nc AS DOUBLE) * CAST(srr AS DOUBLE) -
      |     CAST(sr AS DOUBLE) * CAST(sr AS DOUBLE)) /
      |    (CAST(nc AS DOUBLE) * CAST(nc AS DOUBLE)) / 1000000000000.0 AS v
      |  FROM m),
      |st AS (
      |  SELECT mu,
      |    CASE WHEN v > 0 AND mu * (1.0 - mu) / v - 1.0 > 0
      |      THEN mu * (1.0 - mu) / v - 1.0 ELSE 1.0 END AS strength
      |  FROM prior)
      |SELECT r.custkey, r.n, r.s, r.raw_ppm,
      |  CAST(floor(1000000.0 *
      |    (CAST(r.s AS DOUBLE) + st.mu * st.strength) /
      |    (CAST(r.n AS DOUBLE) + st.strength)) AS BIGINT) AS shrunk_ppm
      |FROM r, st
      |WHERE r.n >= 5
      |ORDER BY r.custkey""".stripMargin) { (s, dir) =>
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val r = Tables.orders(s, dir)
      .groupBy(col("o_custkey").as("custkey"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L)).as("s"))
      .withColumn("raw_ppm", expr("(1000000 * s) div n"))
      .ckpt() // feeds the moment pass AND the posterior pass
    val m = r.agg(count(lit(1)).as("nc"),
      sum(dec(col("raw_ppm"))).as("sr"),
      sum(dec(col("raw_ppm")) * col("raw_ppm")).as("srr"))
    val ncd = col("nc").cast("double")
    val mu = col("sr").cast("double") / ncd / lit(1000000.0)
    val v = (ncd * col("srr").cast("double") -
      col("sr").cast("double") * col("sr").cast("double")) /
      (ncd * ncd) / lit(1000000000000.0)
    val st = m.select(mu.as("mu"),
      when(v > 0 && mu * (lit(1.0) - mu) / v - lit(1.0) > 0,
        mu * (lit(1.0) - mu) / v - lit(1.0)).otherwise(lit(1.0))
        .as("strength"))
    r.filter(col("n") >= 5).crossJoin(broadcast(st))
      .select(col("custkey"), col("n"), col("s"), col("raw_ppm"),
        floor(lit(1000000.0) *
          (col("s").cast("double") + col("mu") * col("strength")) /
          (col("n").cast("double") + col("strength")))
          .cast("bigint").as("shrunk_ppm"))
      .orderBy("custkey")
  }

  // ---- q286 logistic regression: shared SQL fragments ----------------
  // One source of truth for every IEEE chain: the SAME strings parse in
  // Spark (expr) and DuckDB, so the two engines execute byte-identical
  // arithmetic. Features are micro-quantized (x = xq/1e6); betas are
  // micro ints; gradients/Hessians quantize per row to nano BEFORE the
  // exact DECIMAL/HUGEINT sums.
  private def lrEta: String =
    "CAST(b0 AS DOUBLE) / 1000000.0 + " +
      "CAST(b1 AS DOUBLE) / 1000000.0 * (CAST(x1q AS DOUBLE) / 1000000.0) + " +
      "CAST(b2 AS DOUBLE) / 1000000.0 * (CAST(x2q AS DOUBLE) / 1000000.0)"
  private def lrP: String = s"1.0 / (1.0 + exp(-($lrEta)))"
  private def lrT: String =
    s"CAST(floor(1000000000.0 * (CAST(y AS DOUBLE) - ($lrP))) AS BIGINT)"
  private def lrW: String =
    s"CAST(floor(1000000000.0 * ($lrP) * (1.0 - ($lrP))) AS BIGINT)"
  /** Cramer solve of the 3x3 symmetric system H·delta = g, entry j —
    * doubles off the exact integer moments (ha..hf upper triangle,
    * g0..g2). */
  private def lrDet: String =
    "(CAST(ha AS DOUBLE) * (CAST(hd AS DOUBLE) * CAST(hf AS DOUBLE) - CAST(he AS DOUBLE) * CAST(he AS DOUBLE)) - " +
      "CAST(hb AS DOUBLE) * (CAST(hb AS DOUBLE) * CAST(hf AS DOUBLE) - CAST(he AS DOUBLE) * CAST(hc AS DOUBLE)) + " +
      "CAST(hc AS DOUBLE) * (CAST(hb AS DOUBLE) * CAST(he AS DOUBLE) - CAST(hd AS DOUBLE) * CAST(hc AS DOUBLE)))"
  private def lrDetJ(j: Int): String = j match {
    case 0 =>
      "(CAST(g0 AS DOUBLE) * (CAST(hd AS DOUBLE) * CAST(hf AS DOUBLE) - CAST(he AS DOUBLE) * CAST(he AS DOUBLE)) - " +
        "CAST(hb AS DOUBLE) * (CAST(g1 AS DOUBLE) * CAST(hf AS DOUBLE) - CAST(he AS DOUBLE) * CAST(g2 AS DOUBLE)) + " +
        "CAST(hc AS DOUBLE) * (CAST(g1 AS DOUBLE) * CAST(he AS DOUBLE) - CAST(hd AS DOUBLE) * CAST(g2 AS DOUBLE)))"
    case 1 =>
      "(CAST(ha AS DOUBLE) * (CAST(g1 AS DOUBLE) * CAST(hf AS DOUBLE) - CAST(he AS DOUBLE) * CAST(g2 AS DOUBLE)) - " +
        "CAST(g0 AS DOUBLE) * (CAST(hb AS DOUBLE) * CAST(hf AS DOUBLE) - CAST(he AS DOUBLE) * CAST(hc AS DOUBLE)) + " +
        "CAST(hc AS DOUBLE) * (CAST(hb AS DOUBLE) * CAST(g2 AS DOUBLE) - CAST(g1 AS DOUBLE) * CAST(hc AS DOUBLE)))"
    case _ =>
      "(CAST(ha AS DOUBLE) * (CAST(hd AS DOUBLE) * CAST(g2 AS DOUBLE) - CAST(g1 AS DOUBLE) * CAST(he AS DOUBLE)) - " +
        "CAST(hb AS DOUBLE) * (CAST(hb AS DOUBLE) * CAST(g2 AS DOUBLE) - CAST(g1 AS DOUBLE) * CAST(hc AS DOUBLE)) + " +
        "CAST(g0 AS DOUBLE) * (CAST(hb AS DOUBLE) * CAST(he AS DOUBLE) - CAST(hd AS DOUBLE) * CAST(hc AS DOUBLE)))"
  }
  /** The micro-int beta update for coefficient j: the intercept's
    * Newton delta is in natural units (x0 = 1), the quantized
    * features' deltas carry the 1e6 de-scaling — see the D-matrix
    * note in the q286 scaladoc. Degenerate det keeps beta. */
  private def lrUpd(j: Int): String = {
    val scale = if (j == 0) "1000000.0" else "1000000000000.0"
    s"CASE WHEN $lrDet = 0.0 THEN b$j ELSE " +
      s"b$j + CAST(floor($scale * (${lrDetJ(j)} / $lrDet)) AS BIGINT) END"
  }
  private def lrMomentsSelect: String =
    s"""CAST(sum(CAST($lrW AS HUGEINT)) AS HUGEINT) AS ha,
       |    sum(CAST($lrW AS HUGEINT) * x1q) AS hb,
       |    sum(CAST($lrW AS HUGEINT) * x2q) AS hc,
       |    sum(CAST($lrW AS HUGEINT) * x1q * x1q) AS hd,
       |    sum(CAST($lrW AS HUGEINT) * x1q * x2q) AS he,
       |    sum(CAST($lrW AS HUGEINT) * x2q * x2q) AS hf,
       |    sum(CAST($lrT AS HUGEINT)) AS g0,
       |    sum(CAST($lrT AS HUGEINT) * x1q) AS g1,
       |    sum(CAST($lrT AS HUGEINT) * x2q) AS g2,
       |    min(b0) AS b0, min(b1) AS b1, min(b2) AS b2""".stripMargin

  /** q286 — logistic churn regression fit by TWO unrolled
    * Newton–Raphson (IRLS) steps: P(churn) = σ(β₀ + β₁·ln(1+spend) +
    * β₂·orders) over customers active before 1999, churn = no order
    * after — the canonical GLM missing between q124 (linear) and
    * q227 (naive Bayes), fit exactly the way a distributed engine
    * should: each step is ONE moment pass (gradient + Hessian as
    * nine partial-aggregable sums) and a closed-form 3×3 Cramer
    * solve, no sequential optimizer. Features use PRE-cutoff data
    * only (no label leakage), the q274 temporal-split discipline.
    *
    * Exactness: features micro-quantized once; per-row σ, gradient,
    * and weight terms are IEEE chains built from ONE shared SQL
    * string (the same text parses in Spark and DuckDB — agreement
    * by construction), quantized to nano ints BEFORE the
    * DECIMAL/HUGEINT sums; the Cramer solve and beta updates are
    * 1-row chains; the de-scaling D = diag(1, 10⁶, 10⁶) maps the
    * quantized-space solution back to natural units (H_int =
    * 10⁹·D·H·D, g_int = 10⁹·D·g ⇒ Δ = D·(H_int⁻¹g_int)). The
    * accuracy readout needs NO floats: sign(η) = sign(b0·10⁶ +
    * b1·x1q + b2·x2q), exact integers.
    *
    * Scale design (100 TB): two moment passes over the customer
    * frame (checkpointed once), each a partial-aggregable 1-row
    * aggregate with the 3-int beta broadcast; everything else is
    * 1-row arithmetic. No windows, no collect, no driver loop. */
  val q286Logistic: QueryDef = QueryDef(
    "q286_logistic",
    s"""WITH cut AS (SELECT TIMESTAMP '1999-01-01' AS t),
       |base AS (
       |  SELECT o_custkey AS cust,
       |    CAST(sum(CASE WHEN o_orderdate < (SELECT t FROM cut)
       |      THEN CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) END)
       |      AS BIGINT) AS spend,
       |    CAST(count(CASE WHEN o_orderdate < (SELECT t FROM cut) THEN 1 END)
       |      AS BIGINT) AS n_pre,
       |    CAST(count(CASE WHEN o_orderdate >= (SELECT t FROM cut) THEN 1 END)
       |      AS BIGINT) AS n_post
       |  FROM orders GROUP BY 1),
       |feat AS (
       |  SELECT cust,
       |    CAST(floor(1000000.0 * ln(1.0 + CAST(spend AS DOUBLE))) AS BIGINT)
       |      AS x1q,
       |    n_pre * 1000000 AS x2q,
       |    CASE WHEN n_post = 0 THEN 1 ELSE 0 END AS y
       |  FROM base WHERE n_pre >= 1),
       |beta0 AS (SELECT CAST(0 AS BIGINT) AS b0, CAST(0 AS BIGINT) AS b1,
       |  CAST(0 AS BIGINT) AS b2),
       |mom1 AS MATERIALIZED (
       |  SELECT $lrMomentsSelect
       |  FROM feat CROSS JOIN beta0),
       |beta1 AS MATERIALIZED (
       |  SELECT ${lrUpd(0)} AS b0, ${lrUpd(1)} AS b1, ${lrUpd(2)} AS b2
       |  FROM mom1),
       |mom2 AS MATERIALIZED (
       |  SELECT $lrMomentsSelect
       |  FROM feat CROSS JOIN beta1),
       |beta2 AS MATERIALIZED (
       |  SELECT ${lrUpd(0)} AS b0, ${lrUpd(1)} AS b1, ${lrUpd(2)} AS b2
       |  FROM mom2),
       |scored AS (
       |  SELECT y,
       |    CASE WHEN CAST(b0 AS HUGEINT) * 1000000 + CAST(b1 AS HUGEINT) * x1q
       |      + CAST(b2 AS HUGEINT) * x2q >= 0 THEN 1 ELSE 0 END AS pred,
       |    CAST(floor(1000000000.0 * (CASE WHEN y = 1
       |      THEN -ln(greatest(0.000000000001, $lrP))
       |      ELSE -ln(greatest(0.000000000001, 1.0 - ($lrP))) END))
       |      AS BIGINT) AS ll_nano
       |  FROM feat CROSS JOIN beta2)
       |SELECT metric, value FROM (
       |  SELECT 'b0_micro' AS metric, b0 AS value FROM beta2
       |  UNION ALL SELECT 'b1_micro', b1 FROM beta2
       |  UNION ALL SELECT 'b2_micro', b2 FROM beta2
       |  UNION ALL SELECT 'n', CAST(count(*) AS BIGINT) FROM scored
       |  UNION ALL SELECT 'acc_ppm',
       |    (1000000 * CAST(sum(CASE WHEN pred = y THEN 1 ELSE 0 END) AS BIGINT))
       |      // count(*) FROM scored
       |  UNION ALL SELECT 'logloss_avg_nano',
       |    CAST(sum(ll_nano) AS BIGINT) // count(*) FROM scored)
       |ORDER BY metric""".stripMargin) { (s, dir) =>
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val cutT = lit("1999-01-01").cast("timestamp")
    val feat = Tables.orders(s, dir)
      .groupBy(col("o_custkey").as("cust"))
      .agg(
        sum(when(col("o_orderdate") < cutT,
          floor(col("o_totalprice") * 100 + 0.5).cast("bigint"))).as("spend"),
        count(when(col("o_orderdate") < cutT, 1)).as("n_pre"),
        count(when(col("o_orderdate") >= cutT, 1)).as("n_post"))
      .filter(col("n_pre") >= 1)
      .select(col("cust"),
        floor(lit(1000000.0) *
          log(lit(1.0) + col("spend").cast("double"))).cast("bigint")
          .as("x1q"),
        (col("n_pre") * 1000000).as("x2q"),
        when(col("n_post") === 0, 1).otherwise(0).as("y"))
      .ckpt() // both Newton passes and the scoring pass
    def moments(beta: DataFrame): DataFrame =
      feat.crossJoin(broadcast(beta))
        .agg(
          sum(dec(expr(lrW))).as("ha"),
          sum(dec(expr(lrW)) * col("x1q")).as("hb"),
          sum(dec(expr(lrW)) * col("x2q")).as("hc"),
          sum(dec(expr(lrW)) * col("x1q") * col("x1q")).as("hd"),
          sum(dec(expr(lrW)) * col("x1q") * col("x2q")).as("he"),
          sum(dec(expr(lrW)) * col("x2q") * col("x2q")).as("hf"),
          sum(dec(expr(lrT))).as("g0"),
          sum(dec(expr(lrT)) * col("x1q")).as("g1"),
          sum(dec(expr(lrT)) * col("x2q")).as("g2"),
          min(col("b0")).as("b0"), min(col("b1")).as("b1"),
          min(col("b2")).as("b2"))
    def update(mom: DataFrame): DataFrame =
      mom.select(expr(lrUpd(0)).as("b0"), expr(lrUpd(1)).as("b1"),
        expr(lrUpd(2)).as("b2")).ckpt()
    import s.implicits._
    val beta0 = Seq((0L, 0L, 0L)).toDF("b0", "b1", "b2")
    val beta2 = update(moments(update(moments(beta0))))
    val scored = feat.crossJoin(broadcast(beta2))
      .select(col("y"),
        when(dec(col("b0")) * 1000000 + dec(col("b1")) * col("x1q") +
          dec(col("b2")) * col("x2q") >= 0, 1).otherwise(0).as("pred"),
        expr("cast(floor(1000000000.0 * (case when y = 1 then " +
          "-ln(greatest(0.000000000001, " + lrP + ")) else " +
          "-ln(greatest(0.000000000001, 1.0 - (" + lrP + "))) end)) as bigint)")
          .as("ll_nano"))
    val m1 = beta2.select(lit("b0_micro").as("metric"), col("b0").as("value"))
      .unionByName(beta2.select(lit("b1_micro").as("metric"), col("b1").as("value")))
      .unionByName(beta2.select(lit("b2_micro").as("metric"), col("b2").as("value")))
    val m2 = scored.agg(count(lit(1)).as("n"),
        sum(when(col("pred") === col("y"), 1L).otherwise(0L)).as("ncorr"),
        sum(col("ll_nano")).as("ll"))
      .select(
        array(
          struct(lit("n").as("metric"), col("n").as("value")),
          struct(lit("acc_ppm").as("metric"),
            expr("(1000000 * ncorr) div n").as("value")),
          struct(lit("logloss_avg_nano").as("metric"),
            expr("ll div n").as("value"))).as("ms"))
      .select(explode(col("ms")).as("m"))
      .select(col("m.metric"), col("m.value"))
    m1.unionByName(m2).orderBy("metric")
  }

  /** q296 — information-gain feature ranking: for each candidate
    * categorical feature (order priority, customer segment, order
    * year), the mutual information IG(Y; X) = H(Y) − H(Y|X) against
    * the binary "order finalized" label — the feature-selection
    * screen run before training any tree/NB model (q173's stump picks
    * ONE split by Gini; this ranks whole FEATURES by entropy). Also
    * the standard leakage smell-test: a feature with IG ≈ H(Y) is a
    * label proxy.
    *
    * Exactness: all counts are exact integers; every entropy term is
    * ONE shared SQL string (the q286 contract — Spark `expr()` parses
    * the SAME text DuckDB runs) evaluated per feature VALUE and
    * floored to nano-nats BEFORE the integer sum, so cross-engine
    * equality is by construction (the q83 per-term-floor trick).
    *
    * Scale design (100 TB): one partial-aggregable pass per feature
    * collapses facts to (value, n, n₁) grain (≤ |domain| rows — 5
    * priorities, 5 segments, ~7 years); the label total is a 1-row
    * frame joined into each; the final union is 3 rows. The segment
    * feature's customer join is a plain equi-join (SF-scaled dim —
    * never hint-broadcast; AQE decides). */
  val q296InfoGain: QueryDef = {
    // shared between engines: -(p ln p) with the 0·ln0 := 0 guard, as
    // ONE text both parsers compile — p = num/den as DOUBLE
    def plogp(num: String, den: String): String =
      s"(CASE WHEN $num > 0 THEN (CAST($num AS DOUBLE) / $den) * " +
        s"ln(CAST($num AS DOUBLE) / $den) ELSE CAST(0.0 AS DOUBLE) END)"
    // per-value conditional term, floored to nano-nats: weight nv/nt
    // times the binary entropy of (n1 of nv)
    def termNano(n1: String, nv: String, nt: String): String =
      s"CAST(floor(-1000000000.0 * (CAST($nv AS DOUBLE) / $nt) * " +
        s"(${plogp(n1, nv)} + ${plogp(s"($nv - $n1)", nv)})) AS BIGINT)"
    val hyNano = termNano("n1t", "nt", "nt")
    val condNano = termNano("n1", "nv", "nt")
    QueryDef(
      "q296_info_gain",
      s"""WITH lab AS (
         |  SELECT o_orderkey, o_custkey,
         |    CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y,
         |    o_orderpriority AS prio,
         |    CAST(year(o_orderdate) AS VARCHAR) AS yr
         |  FROM orders),
         |tot AS (
         |  SELECT CAST(count(*) AS BIGINT) AS nt, CAST(sum(y) AS BIGINT) AS n1t
         |  FROM lab),
         |f AS (
         |  SELECT 'priority' AS feature, prio AS v,
         |    CAST(count(*) AS BIGINT) AS nv, CAST(sum(y) AS BIGINT) AS n1
         |  FROM lab GROUP BY 1, 2
         |  UNION ALL
         |  SELECT 'year', yr, CAST(count(*) AS BIGINT), CAST(sum(y) AS BIGINT)
         |  FROM lab GROUP BY 1, 2
         |  UNION ALL
         |  SELECT 'segment', c.c_mktsegment,
         |    CAST(count(*) AS BIGINT), CAST(sum(y) AS BIGINT)
         |  FROM lab JOIN customer c ON lab.o_custkey = c.c_custkey
         |  GROUP BY 1, 2),
         |per AS (
         |  SELECT feature, CAST(count(*) AS BIGINT) AS n_values,
         |    CAST(sum($condNano) AS BIGINT) AS h_cond_nano
         |  FROM f CROSS JOIN tot GROUP BY feature),
         |hy AS (SELECT $hyNano AS h_y_nano FROM tot)
         |SELECT feature, n_values, hy.h_y_nano, per.h_cond_nano,
         |  hy.h_y_nano - per.h_cond_nano AS ig_nano
         |FROM per CROSS JOIN hy ORDER BY feature""".stripMargin) { (s, dir) =>
      val lab = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"),
          when(col("o_orderstatus") === "F", 1).otherwise(0).as("y"),
          col("o_orderpriority").as("prio"),
          year(col("o_orderdate")).cast("string").as("yr"))
        .ckpt() // feeds the total AND all three feature passes
      val tot = lab.agg(count(lit(1)).as("nt"), sum(col("y")).cast("bigint").as("n1t"))
      def valueFrame(name: String, df: DataFrame, v: Column) =
        df.groupBy(v.as("v"))
          .agg(count(lit(1)).as("nv"), sum(col("y")).cast("bigint").as("n1"))
          .select(lit(name).as("feature"), col("v"), col("nv"), col("n1"))
      val f = valueFrame("priority", lab, col("prio"))
        .unionByName(valueFrame("year", lab, col("yr")))
        .unionByName(valueFrame("segment",
          lab.join(Tables.customer(s, dir),
            col("o_custkey") === col("c_custkey")),
          col("c_mktsegment")))
      val per = f.crossJoin(broadcast(tot))
        .groupBy(col("feature"))
        .agg(count(lit(1)).as("n_values"),
          sum(expr(condNano)).cast("bigint").as("h_cond_nano"))
      val hy = tot.select(expr(hyNano).as("h_y_nano"))
      per.crossJoin(broadcast(hy))
        .select(col("feature"), col("n_values"), col("h_y_nano"),
          col("h_cond_nano"),
          (col("h_y_nano") - col("h_cond_nano")).as("ig_nano"))
        .orderBy("feature")
    }
  }

  /** q322 — class-balanced loss weights by effective number of
    * samples (Cui et al. 2019, CVPR): per label, the effective sample
    * count E_n = (1−β^n)/(1−β) at β = 0.999 and the normalized
    * per-class weight ∝ 1/E_n — the reweighting table that a trainer
    * loads to counter class imbalance without the over-correction of
    * plain 1/n (E_n saturates: the 10,000th near-duplicate sample of
    * a class adds almost nothing, so its weight stops shrinking).
    * Complements q182's Neyman allocation (which sizes SAMPLES;
    * this sizes LOSS).
    *
    * Exactness: label counts are exact; β^n = exp(n·ln β) and the
    * per-label weight are ONE shared IEEE chain floored to
    * nano-units; normalization is an integer cross-multiplied ppm
    * floor-div over the exact nano-weight sum (order-free — no float
    * sum ever happens).
    *
    * Scale design (100 TB): one partial-aggregable label count pass
    * to |labels| rows; the weight math and the 1-row weight-sum
    * broadcast run on that bounded frame. */
  val q322ClassWeights: QueryDef = {
    // (1 - beta) / (1 - beta^n), nano-scaled; beta = 0.999
    val wNano =
      "CAST(floor(1e9 * (1e0 - 0.999e0) /" +
        " (1e0 - exp(CAST(n AS DOUBLE) * ln(0.999e0)))) AS BIGINT)"
    val enbMilli =
      "CAST(floor(1e3 * (1e0 - exp(CAST(n AS DOUBLE) * ln(0.999e0))) /" +
        " (1e0 - 0.999e0)) AS BIGINT)"
    QueryDef(
      "q322_class_weights",
      s"""WITH c AS (
         |  SELECT label, CAST(count(*) AS BIGINT) AS n
         |  FROM embeddings GROUP BY label),
         |w AS (
         |  SELECT label, n, $enbMilli AS enb_milli, $wNano AS w_nano
         |  FROM c),
         |t AS (SELECT CAST(sum(w_nano) AS BIGINT) AS tot FROM w)
         |SELECT CAST(w.label AS BIGINT) AS label, w.n, w.enb_milli,
         |  (1000000 * w.w_nano) // t.tot AS w_ppm
         |FROM w, t ORDER BY label""".stripMargin) { (s, dir) =>
      val c = Tables.embeddings(s, dir)
        .groupBy(col("label")).agg(count(lit(1)).as("n"))
      val w = c.select(col("label"), col("n"),
        expr(enbMilli).as("enb_milli"), expr(wNano).as("w_nano"))
      val t = w.agg(sum(col("w_nano")).as("tot"))
      w.crossJoin(broadcast(t))
        .select(col("label").cast("bigint").as("label"), col("n"),
          col("enb_milli"),
          expr("(1000000 * w_nano) div nullif(tot, 0)").as("w_ppm"))
        .orderBy("label")
    }
  }

  /** q328 — inter-labeler agreement (Cohen's κ) between two
    * independent document-quality rules, per language: labeler A =
    * the Gopher length rule (25 ≤ words ≤ 90), labeler B = the
    * stopword-evidence rule (≥ 2 stopword hits) — the κ statistic
    * that corrects raw agreement for chance (Cohen 1960), the
    * standard check before trusting ANY ensemble of weak labelers or
    * annotator pool (κ ≈ 0 means the rules fire independently and
    * their conjunction in q306 is doing real work; κ ≈ 1 means one
    * rule is redundant). Same machinery applies verbatim to human
    * annotation audits over a labels table.
    *
    * Exactness: the 2×2 confusion cells are exact integers; κ =
    * (n·(n₁₁+n₀₀) − (a₁b₁+a₀b₀)) / (n² − (a₁b₁+a₀b₀)) is ONE
    * mirrored IEEE chain over DOUBLE casts of exact products, floored
    * to milli (sign-portable floor; κ can be negative).
    *
    * Scale design (100 TB): both rules are codegen'd expressions in
    * ONE document scan; the confusion collapse is partial-aggregable
    * to |langs| rows; the κ math runs on that bounded frame. */
  val q328CohensKappa: QueryDef = {
    val kMilli =
      "CASE WHEN CAST(n AS DOUBLE) * CAST(n AS DOUBLE)" +
        " - (CAST(a1 AS DOUBLE) * CAST(b1 AS DOUBLE)" +
        " + CAST(a0 AS DOUBLE) * CAST(b0 AS DOUBLE)) > 0e0 THEN" +
        " CAST(floor(1e3 *" +
        " (CAST(n AS DOUBLE) * CAST(agree AS DOUBLE)" +
        " - (CAST(a1 AS DOUBLE) * CAST(b1 AS DOUBLE)" +
        " + CAST(a0 AS DOUBLE) * CAST(b0 AS DOUBLE))) /" +
        " (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)" +
        " - (CAST(a1 AS DOUBLE) * CAST(b1 AS DOUBLE)" +
        " + CAST(a0 AS DOUBLE) * CAST(b0 AS DOUBLE)))) AS BIGINT) END"
    QueryDef(
      "q328_cohens_kappa",
      s"""WITH l AS (
         |  SELECT lang,
         |    CASE WHEN len(string_split(text, ' ')) BETWEEN 25 AND 90
         |      THEN 1 ELSE 0 END AS a,
         |    CASE WHEN len(list_filter(string_split(text, ' '),
         |      t -> t IN ('the','a','of','and','to','in','is'))) >= 2
         |      THEN 1 ELSE 0 END AS b
         |  FROM documents),
         |m AS (
         |  SELECT lang, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(CASE WHEN a = 1 AND b = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n11,
         |    CAST(sum(CASE WHEN a = 0 AND b = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n00,
         |    CAST(sum(a) AS BIGINT) AS a1, CAST(sum(b) AS BIGINT) AS b1
         |  FROM l GROUP BY lang),
         |k AS (
         |  SELECT lang, n, n11, n00, a1, b1, n - a1 AS a0, n - b1 AS b0,
         |    n11 + n00 AS agree
         |  FROM m)
         |SELECT lang, n AS n_docs, n11, n00,
         |  (1000 * agree) // n AS po_milli,
         |  $kMilli AS kappa_milli
         |FROM k ORDER BY lang""".stripMargin) { (s, dir) =>
      val toks = split(col("text"), " ")
      val stop = Seq("the", "a", "of", "and", "to", "in", "is")
      val l = Tables.documents(s, dir)
        .repartition(col("doc_id")) // single-file scan -> use every core
        .select(col("lang"),
          when(size(toks).between(25, 90), 1L).otherwise(0L).as("a"),
          when(size(filter(toks, t => t.isInCollection(stop))) >= 2, 1L)
            .otherwise(0L).as("b"))
      l.groupBy(col("lang"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("a") === 1 && col("b") === 1, 1L).otherwise(0L))
            .as("n11"),
          sum(when(col("a") === 0 && col("b") === 0, 1L).otherwise(0L))
            .as("n00"),
          sum(col("a")).as("a1"), sum(col("b")).as("b1"))
        .select(col("lang"), col("n"), col("n11"), col("n00"), col("a1"),
          col("b1"), (col("n") - col("a1")).as("a0"),
          (col("n") - col("b1")).as("b0"),
          (col("n11") + col("n00")).as("agree"))
        .select(col("lang"), col("n").as("n_docs"), col("n11"), col("n00"),
          expr("(1000 * agree) div n").as("po_milli"),
          expr(kMilli).as("kappa_milli"))
        .orderBy("lang")
    }
  }

  /** q329 — out-of-distribution mining by per-class diagonal
    * Mahalanobis distance: fit per-(label, dim) mean/variance on the
    * even-vec_id half, score every odd-half vector's z² =
    * Σ_d (x_d − μ_d)²/σ²_d against ITS OWN label's Gaussian, and
    * surface the 20 most-outlying examples — the classic OOD/outlier
    * review queue (Lee et al. 2018's Mahalanobis detector, diagonal
    * form) that catches corrupted embeddings and wrong-class examples
    * BEFORE q291's mutual-NN audit spends O(N·cell) on them.
    *
    * Exactness: coordinates are the integer micro-units; with
    * moments (n, S_d, Q_d) per (label, dim), each dimension's term is
    * the exact integer identity z²_d = (n·x − S)²/(n·Q − S²) (the n²
    * factors of (x−μ)² and σ² cancel), floored to micro PER
    * DIMENSION, then integer-summed (order-free, the q83
    * discipline). Zero-variance dims contribute 0 by guard.
    *
    * Scale design (100 TB): the model is |labels|·64 moment rows
    * (partial-aggregable, broadcast); scoring is one equi-join on
    * (label, pos) over the exploded test half and a per-vector sum;
    * the queue is a TakeOrdered heap. Output 20 rows. */
  val q329OodMahalanobis: QueryDef = {
    val term =
      "CASE WHEN nn * qq - ss * ss > 0 THEN" +
        " CAST((1000000 * (nn * CAST(q AS HUGEINT) - ss)" +
        " * (nn * CAST(q AS HUGEINT) - ss)) // (nn * qq - ss * ss)" +
        " AS BIGINT) ELSE 0 END"
    val termSpark =
      "CASE WHEN nn * qq - ss * ss > 0 THEN" +
        " CAST((1000000 * (nn * CAST(q AS DECIMAL(38,0)) - ss)" +
        " * (nn * CAST(q AS DECIMAL(38,0)) - ss))" +
        " div (nn * qq - ss * ss) AS BIGINT) ELSE 0 END"
    QueryDef(
      "q329_ood_mahalanobis",
      s"""WITH $ptsCte,
         |lab AS (SELECT vec_id, label FROM embeddings),
         |mom AS (
         |  SELECT l.label, p.pos, CAST(count(*) AS HUGEINT) AS nn,
         |    CAST(sum(CAST(p.q AS HUGEINT)) AS HUGEINT) AS ss,
         |    CAST(sum(CAST(p.q AS HUGEINT) * p.q) AS HUGEINT) AS qq
         |  FROM pts p JOIN lab l USING (vec_id)
         |  WHERE p.vec_id % 2 = 0 GROUP BY 1, 2),
         |sc AS (
         |  SELECT p.vec_id, l.label, $term AS t
         |  FROM pts p JOIN lab l USING (vec_id)
         |  JOIN mom m ON m.label = l.label AND m.pos = p.pos
         |  WHERE p.vec_id % 2 = 1)
         |SELECT vec_id, CAST(label AS BIGINT) AS label,
         |  CAST(sum(t) AS BIGINT) AS z2_micro
         |FROM sc GROUP BY 1, 2
         |ORDER BY z2_micro DESC, vec_id LIMIT 20""".stripMargin) { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val pts = points(emb).ckpt()
      val lab = emb.select(col("vec_id"), col("label"))
      val mom = broadcast(pts.filter(col("vec_id") % 2 === 0)
        .join(lab, Seq("vec_id"))
        .groupBy(col("label"), col("pos"))
        .agg(count(lit(1)).cast("decimal(38,0)").as("nn"),
          sum(col("q").cast("decimal(38,0)")).cast("decimal(38,0)").as("ss"),
          sum(col("q").cast("decimal(38,0)") * col("q"))
            .cast("decimal(38,0)").as("qq")))
      pts.filter(col("vec_id") % 2 === 1)
        .join(lab, Seq("vec_id"))
        .join(mom, Seq("label", "pos"))
        .select(col("vec_id"), col("label"), expr(termSpark).as("t"))
        .groupBy(col("vec_id"), col("label").cast("bigint").as("label"))
        .agg(sum(col("t")).as("z2_micro"))
        .orderBy(col("z2_micro").desc, col("vec_id"))
        .limit(20)
    }
  }

  /** q331 — active-learning acquisition queue by centroid margin:
    * classify the odd-vec_id half against q96's even-half per-label
    * centroids, and surface the 20 examples with the SMALLEST margin
    * between nearest and second-nearest centroid — uncertainty
    * sampling (Lewis & Gale 1994), the standard "label these next"
    * queue that buys the most model improvement per annotation
    * dollar. Reuses q96's exact integer-distance chain, so the queue
    * provably agrees with what the deployed classifier finds hard.
    *
    * Exactness: distances are exact integer squared-distance sums
    * over quantized coordinates; the margin d₂ − d₁ is integer; both
    * the per-vector top-2 window and the final queue break ties on
    * (cid)/(vec_id).
    *
    * Scale design (100 TB): the centroid model is |labels|·64 rows
    * broadcast into the exploded test half (equi-join on pos —
    * q96's shape); per-(vector, centroid) distances collapse
    * partial-aggregably; the top-2 window is PARTITIONED by vector;
    * the queue is a TakeOrdered heap. Output 20 rows. */
  val q331AlMargin: QueryDef = QueryDef(
    "q331_al_margin",
    s"""WITH $labelCentroidsSql,
       |d AS (
       |  SELECT p.vec_id, c.cid,
       |    CAST(sum((p.q - c.c) * (p.q - c.c)) AS BIGINT) AS dist
       |  FROM pts p JOIN ctrain c ON p.pos = c.pos
       |  WHERE p.vec_id % 2 = 1 GROUP BY 1, 2),
       |r AS (
       |  SELECT vec_id, cid, dist,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
       |  FROM d),
       |t AS (
       |  SELECT vec_id,
       |    max(CASE WHEN rn = 1 THEN cid END) AS pred,
       |    max(CASE WHEN rn = 1 THEN dist END) AS d1,
       |    max(CASE WHEN rn = 2 THEN dist END) AS d2
       |  FROM r WHERE rn <= 2 GROUP BY vec_id)
       |SELECT t.vec_id, CAST(t.pred AS BIGINT) AS pred,
       |  CAST(l.label AS BIGINT) AS label, t.d1, t.d2,
       |  t.d2 - t.d1 AS margin
       |FROM t JOIN lab l ON t.vec_id = l.vec_id
       |ORDER BY margin, t.vec_id LIMIT 20""".stripMargin) { (s, dir) =>
    val emb = Tables.embeddings(s, dir)
    val pts = points(emb).ckpt()
    val lab = emb.select(col("vec_id"), col("label"))
    val ctrain = broadcast(pts.filter(col("vec_id") % 2 === 0)
      .join(lab, Seq("vec_id"))
      .groupBy(col("label").as("cid"), col("pos"))
      .agg(expr("sum(q) div count(1)").as("c")))
    val d = pts.filter(col("vec_id") % 2 === 1)
      .join(ctrain, Seq("pos"))
      .groupBy(col("vec_id"), col("cid"))
      .agg(sum((col("q") - col("c")) * (col("q") - col("c"))).as("dist"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("dist"), col("cid"))
    val t = d.withColumn("rn", row_number().over(w)).filter(col("rn") <= 2)
      .groupBy(col("vec_id"))
      .agg(max(when(col("rn") === 1, col("cid"))).as("pred"),
        max(when(col("rn") === 1, col("dist"))).as("d1"),
        max(when(col("rn") === 2, col("dist"))).as("d2"))
    t.join(lab.select(col("vec_id"), col("label")), Seq("vec_id"))
      .select(col("vec_id"), col("pred").cast("bigint").as("pred"),
        col("label").cast("bigint").as("label"), col("d1"), col("d2"),
        (col("d2") - col("d1")).as("margin"))
      .orderBy(col("margin"), col("vec_id"))
      .limit(20)
  }

  /** q332 — query-by-committee difficulty map: a committee of 8
    * single-dimension nearest-class-mean classifiers (dims 1–8, means
    * fit on the even-vec_id half) votes on every odd-half example;
    * the 20 examples with the fewest correct votes (ambiguity count
    * as tiebreak) surface as the hard/mislabeled review queue — the
    * dataset-cartography idea (Swayamdipta et al. 2020: confidence ×
    * variability locates label errors and hard regions) with
    * committee disagreement standing in for training dynamics, and
    * the classic QBC acquisition rule (Seung–Opper–Sompolinsky 1992)
    * complementing q331's margin queue: margin measures ONE model's
    * uncertainty, disagreement measures ensemble instability.
    *
    * Exactness: per-(dim, label) means are truncating integer
    * divisions of exact sums (both engines truncate integer
    * division toward zero); each vote is an integer |q − mean|
    * argmin with label tiebreak; vote tallies are exact counts; the
    * queue breaks ties on vec_id.
    *
    * Scale design (100 TB): the model is 8·|labels| rows broadcast
    * into the dims-1–8 slice of the exploded test half; the
    * per-(vector, dim) argmin is a window PARTITIONED by (vector,
    * dim); tallies collapse partial-aggregably per vector; the queue
    * is a TakeOrdered heap. Output 20 rows. */
  val q332Committee: QueryDef = {
    val DIMS = 8
    QueryDef(
      "q332_committee",
      s"""WITH $ptsCte,
         |lab AS (SELECT vec_id, label FROM embeddings),
         |mu AS (
         |  SELECT l.label AS cid, p.pos,
         |    CAST(sum(p.q) // count(*) AS BIGINT) AS c
         |  FROM pts p JOIN lab l USING (vec_id)
         |  WHERE p.vec_id % 2 = 0 AND p.pos <= $DIMS GROUP BY 1, 2),
         |v AS (
         |  SELECT p.vec_id, p.pos, m.cid,
         |    row_number() OVER (PARTITION BY p.vec_id, p.pos
         |      ORDER BY abs(p.q - m.c), m.cid) AS rn
         |  FROM pts p JOIN mu m ON p.pos = m.pos
         |  WHERE p.vec_id % 2 = 1),
         |votes AS (SELECT vec_id, pos, cid FROM v WHERE rn = 1),
         |t AS (
         |  SELECT vo.vec_id, l.label,
         |    CAST(sum(CASE WHEN vo.cid = l.label THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_correct,
         |    CAST(count(DISTINCT vo.cid) AS BIGINT) AS n_distinct_preds
         |  FROM votes vo JOIN lab l ON vo.vec_id = l.vec_id
         |  GROUP BY 1, 2)
         |SELECT vec_id, CAST(label AS BIGINT) AS label, n_correct,
         |  n_distinct_preds
         |FROM t ORDER BY n_correct, n_distinct_preds DESC, vec_id
         |LIMIT 20""".stripMargin) { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val pts = points(emb).ckpt()
      val lab = emb.select(col("vec_id"), col("label"))
      val mu = broadcast(pts.filter(col("vec_id") % 2 === 0 &&
          col("pos") <= DIMS)
        .join(lab, Seq("vec_id"))
        .groupBy(col("label").as("cid"), col("pos"))
        .agg(expr("sum(q) div count(1)").as("c")))
      val w = Window.partitionBy(col("vec_id"), col("pos"))
        .orderBy(abs(col("q") - col("c")), col("cid"))
      val votes = pts.filter(col("vec_id") % 2 === 1)
        .join(mu, Seq("pos"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("vec_id"), col("pos"), col("cid"))
      votes.join(lab, Seq("vec_id"))
        .groupBy(col("vec_id"), col("label"))
        .agg(sum(when(col("cid") === col("label"), 1L).otherwise(0L))
          .as("n_correct"),
          count_distinct(col("cid")).as("n_distinct_preds"))
        .select(col("vec_id"), col("label").cast("bigint").as("label"),
          col("n_correct"), col("n_distinct_preds"))
        .orderBy(col("n_correct"), col("n_distinct_preds").desc,
          col("vec_id"))
        .limit(20)
    }
  }

  /** q356 — depth-2 CART (Breiman et al. '84) over the labeled
    * embeddings: q173's stump search picks the root split, the corpus
    * is partitioned by it, and the SAME exact-entropy argmax runs
    * independently inside each side to pick two child splits — then
    * the 4-leaf majority-vote accuracy is reported against the
    * 1-split stump's, the classic "does a second level pay?" model
    * check. The per-group gain machinery is q173's, threaded through
    * a side column, so root and children share one code path.
    *
    * Exactness: identical to q173 — integer count cubes, per-term
    * floor(1e9·(c/n)·ln(·)) nano-nats summed order-free; split pick
    * deterministic (gain desc, pos, threshold); accuracies are
    * non-negative ppm floor-divs of exact majority counts.
    *
    * Scale design (100 TB): three fact-sized passes — the root cube,
    * the side flag (a pos = root-dim filtered projection joined to a
    * 1-row broadcast), and the per-side cube — each partial-
    * aggregable; every gain computation runs on the ≤ |sides|·4·17
    * candidate grid (literal-bounded); the child pick is a window
    * PARTITIONED by side over that bounded grid. No iteration beyond
    * the two fixed levels. Output 3 rows. */
  val q356TreeDepth2: QueryDef = {
    val B = 125000L
    // per-group exact-entropy gain chain over a side-keyed cube —
    // emits candN CTEs; caller picks the argmax per side
    def gainSql(sfx: String, cube: String): String =
      s"""pc$sfx AS (
         |  SELECT sd, label, CAST(sum(c) AS BIGINT) AS cp
         |  FROM $cube WHERE pos = 1 GROUP BY 1, 2),
         |n$sfx AS (SELECT sd, CAST(sum(cp) AS BIGINT) AS n
         |          FROM pc$sfx GROUP BY 1),
         |hp$sfx AS (
         |  SELECT p.sd, CAST(sum(CAST(floor(1000000000.0 *
         |      (-((CAST(p.cp AS DOUBLE) / CAST(nn.n AS DOUBLE)) *
         |          ln(CAST(p.cp AS DOUBLE) / CAST(nn.n AS DOUBLE)))))
         |      AS BIGINT)) AS BIGINT) AS hp_nn
         |  FROM pc$sfx p JOIN n$sfx nn ON p.sd = nn.sd GROUP BY 1),
         |thr$sfx AS (SELECT DISTINCT sd, pos, qb AS t FROM $cube),
         |lc$sfx AS (
         |  SELECT th.sd, th.pos, th.t, p.label, p.cp,
         |    CAST(coalesce(sum(cu.c), 0) AS BIGINT) AS cl
         |  FROM thr$sfx th JOIN pc$sfx p ON th.sd = p.sd
         |  LEFT JOIN $cube cu ON cu.sd = th.sd AND cu.pos = th.pos
         |    AND cu.label = p.label AND cu.qb <= th.t
         |  GROUP BY 1, 2, 3, 4, 5),
         |nl$sfx AS (SELECT sd, pos, t, CAST(sum(cl) AS BIGINT) AS nl
         |           FROM lc$sfx GROUP BY 1, 2, 3),
         |terms$sfx AS (
         |  SELECT lc.sd, lc.pos, lc.t,
         |    CAST(sum(
         |      CASE WHEN lc.cl > 0 THEN
         |        CAST(floor(1000000000.0 *
         |          ((CAST(lc.cl AS DOUBLE) / CAST(nn.n AS DOUBLE)) *
         |           ln(CAST(nl.nl AS DOUBLE) / CAST(lc.cl AS DOUBLE))))
         |          AS BIGINT)
         |      ELSE 0 END +
         |      CASE WHEN lc.cp - lc.cl > 0 THEN
         |        CAST(floor(1000000000.0 *
         |          ((CAST(lc.cp - lc.cl AS DOUBLE) / CAST(nn.n AS DOUBLE)) *
         |           ln(CAST(nn.n - nl.nl AS DOUBLE) /
         |              CAST(lc.cp - lc.cl AS DOUBLE)))) AS BIGINT)
         |      ELSE 0 END) AS BIGINT) AS child_nn
         |  FROM lc$sfx lc
         |  JOIN nl$sfx nl ON lc.sd = nl.sd AND lc.pos = nl.pos
         |    AND lc.t = nl.t
         |  JOIN n$sfx nn ON lc.sd = nn.sd
         |  GROUP BY 1, 2, 3),
         |cand$sfx AS (
         |  SELECT tm.sd, tm.pos, tm.t, nl.nl,
         |    hp.hp_nn - tm.child_nn AS gain_nn,
         |    row_number() OVER (PARTITION BY tm.sd
         |      ORDER BY hp.hp_nn - tm.child_nn DESC, tm.pos, tm.t) AS rk
         |  FROM terms$sfx tm
         |  JOIN nl$sfx nl ON tm.sd = nl.sd AND tm.pos = nl.pos
         |    AND tm.t = nl.t
         |  JOIN hp$sfx hp ON tm.sd = hp.sd)""".stripMargin
    val oracle =
      s"""WITH $ptsCte,
         |lab AS (SELECT vec_id, label FROM embeddings),
         |cube1 AS (
         |  SELECT CAST(0 AS BIGINT) AS sd, p.pos,
         |    (p.q - ((p.q % $B + $B) % $B)) // $B AS qb,
         |    l.label, CAST(count(*) AS BIGINT) AS c
         |  FROM pts p JOIN lab l USING (vec_id)
         |  WHERE p.pos <= 4 GROUP BY 1, 2, 3, 4),
         |${gainSql("1", "cube1")},
         |root AS (SELECT pos, t, nl, gain_nn FROM cand1 WHERE rk = 1),
         |sidef AS (
         |  SELECT p.vec_id,
         |    CAST(CASE WHEN (p.q - ((p.q % $B + $B) % $B)) // $B <= r.t
         |      THEN 0 ELSE 1 END AS BIGINT) AS sd
         |  FROM pts p, root r WHERE p.pos = r.pos),
         |cube2 AS (
         |  SELECT s.sd, p.pos,
         |    (p.q - ((p.q % $B + $B) % $B)) // $B AS qb,
         |    l.label, CAST(count(*) AS BIGINT) AS c
         |  FROM pts p JOIN sidef s USING (vec_id) JOIN lab l USING (vec_id)
         |  WHERE p.pos <= 4 GROUP BY 1, 2, 3, 4),
         |${gainSql("2", "cube2")},
         |best2 AS (SELECT sd, pos, t, nl, gain_nn FROM cand2 WHERE rk = 1),
         |acc1 AS (
         |  SELECT CAST(sum(mx) AS BIGINT) AS hit1 FROM (
         |    SELECT sd, max(cp) AS mx FROM pc2 GROUP BY sd)),
         |leaf AS (
         |  SELECT s.vec_id, s.sd,
         |    CAST(CASE WHEN (p.q - ((p.q % $B + $B) % $B)) // $B <= b.t
         |      THEN 0 ELSE 1 END AS BIGINT) AS lf
         |  FROM sidef s JOIN best2 b ON b.sd = s.sd
         |  JOIN pts p ON p.vec_id = s.vec_id AND p.pos = b.pos),
         |leafc AS (
         |  SELECT lf2.sd, lf2.lf, l.label, CAST(count(*) AS BIGINT) AS c
         |  FROM leaf lf2 JOIN lab l USING (vec_id) GROUP BY 1, 2, 3),
         |acc2 AS (
         |  SELECT CAST(sum(mx) AS BIGINT) AS hit2 FROM (
         |    SELECT sd, lf, max(c) AS mx FROM leafc GROUP BY sd, lf)),
         |nt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings),
         |outp AS (
         |  SELECT 'root' AS node, r.pos, r.t AS thr, nt.n AS n_node,
         |    r.gain_nn FROM root r, nt
         |  UNION ALL
         |  SELECT CASE WHEN b.sd = 0 THEN 'left' ELSE 'right' END,
         |    b.pos, b.t, nn.n, b.gain_nn
         |  FROM best2 b JOIN n2 nn ON b.sd = nn.sd)
         |SELECT o.node, CAST(o.pos AS BIGINT) AS pos, o.thr, o.n_node,
         |  o.gain_nn,
         |  (1000000 * a1.hit1) // nt.n AS acc_stump_ppm,
         |  (1000000 * a2.hit2) // nt.n AS acc_tree_ppm
         |FROM outp o, acc1 a1, acc2 a2, nt ORDER BY o.node""".stripMargin
    QueryDef("q356_tree_depth2", oracle) { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val lab = emb.select(col("vec_id"), col("label"))
      val qb = expr(s"(q - pmod(q, $B)) div $B")
      def mkCube(ptsF: DataFrame, sideF: Option[DataFrame]): DataFrame = {
        val base = sideF match {
          case Some(sf) => ptsF.join(sf, Seq("vec_id"))
          case None     => ptsF.withColumn("sd", lit(0L))
        }
        base.join(lab, Seq("vec_id"))
          .groupBy(col("sd"), col("pos"), qb.as("qb"), col("label"))
          .agg(count(lit(1)).as("c"))
          // r14 adjudication of the r13 +0.37 s: an eager checkpoint
          // here measured 2.67 s vs 2.66 s lazy (targeted best-of-3,
          // sf0.1/32c) — the regression is not this seam; lazy kept
          .ckpt()
      }
      // per-side best split over a side-keyed cube (q173's chain)
      def bestSplit(cube: DataFrame): (DataFrame, DataFrame) = {
        val pc = cube.filter(col("pos") === 1)
          .groupBy(col("sd"), col("label")).agg(sum(col("c")).as("cp"))
        val nG = pc.groupBy(col("sd")).agg(sum(col("cp")).as("n"))
        val pD = col("cp").cast("double") / col("n").cast("double")
        val hp = pc.join(nG, Seq("sd"))
          .select(col("sd"),
            floor(lit(1000000000.0) * (-(pD * log(pD))))
              .cast("bigint").as("t_nn"))
          .groupBy(col("sd")).agg(sum(col("t_nn")).as("hp_nn"))
        val thr = cube.select(col("sd"), col("pos"), col("qb").as("t"))
          .distinct()
        val lcx = thr.as("th")
          .join(pc.as("pc"), col("th.sd") === col("pc.sd"))
          .join(cube.as("cu"),
            col("cu.sd") === col("th.sd") &&
              col("cu.pos") === col("th.pos") &&
              col("cu.label") === col("pc.label") &&
              col("cu.qb") <= col("th.t"), "left")
          .groupBy(col("th.sd").as("sd"), col("th.pos").as("pos"),
            col("th.t").as("t"), col("pc.label").as("label"),
            col("pc.cp").as("cp"))
          .agg(coalesce(sum(col("cu.c")), lit(0L)).as("cl"))
        val nlF = lcx.groupBy(col("sd"), col("pos"), col("t"))
          .agg(sum(col("cl")).as("nl"))
        val base = lcx.join(nlF, Seq("sd", "pos", "t")).join(nG, Seq("sd"))
        val terms = base.select(col("sd"), col("pos"), col("t"),
            childEntropyNano.as("t_nn"))
          .groupBy(col("sd"), col("pos"), col("t"))
          .agg(sum(col("t_nn")).as("child_nn"))
        val cand = terms.join(nlF, Seq("sd", "pos", "t"))
          .join(hp, Seq("sd"))
          .select(col("sd"), col("pos"), col("t"), col("nl"),
            (col("hp_nn") - col("child_nn")).as("gain_nn"))
        val w = Window.partitionBy(col("sd"))
          .orderBy(col("gain_nn").desc, col("pos"), col("t"))
        (cand.withColumn("rk", row_number().over(w))
          .filter(col("rk") === 1).drop("rk"), nG)
      }
      val pts = points(emb).filter(col("pos") <= 4)
      val (root, _) = bestSplit(mkCube(pts, None))
      val rootB = broadcast(root)
      val sidef = pts.join(rootB.select(col("pos"), col("t")), Seq("pos"))
        .select(col("vec_id"),
          when(qb <= col("t"), 0L).otherwise(1L).as("sd"))
      val cube2 = mkCube(pts, Some(sidef))
      val (best2, n2) = bestSplit(cube2)
      val best2B = broadcast(best2)
      val pc2 = cube2.filter(col("pos") === 1)
        .groupBy(col("sd"), col("label")).agg(sum(col("c")).as("cp"))
      val acc1 = pc2.groupBy(col("sd")).agg(max(col("cp")).as("mx"))
        .agg(sum(col("mx")).cast("bigint").as("hit1"))
      val leafF = sidef.as("sf")
        .join(best2B.select(col("sd"), col("pos").as("cpos"),
          col("t").as("ct")), Seq("sd"))
        .join(pts.as("pp"), col("pp.vec_id") === col("sf.vec_id") &&
          col("pp.pos") === col("cpos"))
        .select(col("sf.vec_id").as("vec_id"), col("sd"),
          when(expr(s"(pp.q - pmod(pp.q, $B)) div $B") <= col("ct"), 0L)
            .otherwise(1L).as("lf"))
      val leafc = leafF.join(lab, Seq("vec_id"))
        .groupBy(col("sd"), col("lf"), col("label"))
        .agg(count(lit(1)).as("c"))
      val acc2 = leafc.groupBy(col("sd"), col("lf"))
        .agg(max(col("c")).as("mx"))
        .agg(sum(col("mx")).cast("bigint").as("hit2"))
      val nt = emb.agg(count(lit(1)).as("n"))
      val rootRow = rootB.crossJoin(broadcast(nt))
        .select(lit("root").as("node"), col("pos").cast("bigint").as("pos"),
          col("t").as("thr"), col("n").as("n_node"), col("gain_nn"))
      val childRows = best2B.join(n2, Seq("sd"))
        .select(when(col("sd") === 0, "left").otherwise("right").as("node"),
          col("pos").cast("bigint").as("pos"), col("t").as("thr"),
          col("n").as("n_node"), col("gain_nn"))
      rootRow.unionByName(childRows)
        .crossJoin(broadcast(acc1)).crossJoin(broadcast(acc2))
        .crossJoin(broadcast(nt.select(col("n").as("ntot"))))
        .select(col("node"), col("pos"), col("thr"), col("n_node"),
          col("gain_nn"),
          expr("(1000000 * hit1) div ntot").as("acc_stump_ppm"),
          expr("(1000000 * hit2) div ntot").as("acc_tree_ppm"))
        .orderBy("node")
    }
  }

  /** q366 — Murphy decomposition of the Brier score (Murphy '73):
    * the nearest-centroid classifier's margin confidence, quantized
    * to ten bin-center forecasts, is scored as
    * Brier = REL − RES + UNC — reliability (how far bin confidence
    * sits from bin accuracy), resolution (how much the bins separate
    * outcomes), and the outcome uncertainty floor. The identity is
    * EXACT for bin-center forecasts, so it doubles as an end-to-end
    * certificate of the whole scoring pipeline; q174 plots the
    * reliability CURVE, this reduces it to the three-way skill
    * attribution a model owner actually acts on (miscalibrated →
    * recalibrate; unresolved → retrain).
    *
    * Exactness: outcomes and bin counts are integers; the raw Brier
    * is the PURE INTEGER Σ(p − 1000y)² div (n·10⁶→ milli² scaling);
    * REL/RES/UNC terms are per-bin nano-floored double chains over
    * exact bin aggregates (≤10 terms, order-free); the spec pins
    * |REL − RES + UNC − Brier| within the flooring slop.
    *
    * Scale design (100 TB): the margin pass is q174's (broadcast
    * centroid table, per-vector window over a ≤|labels| frame); the
    * decomposition runs entirely on the 10-row bin frame. Output 1
    * row. */
  val q366BrierDecomposition: QueryDef = {
    val relTermNano = "CAST(floor(1000000000.0 * " +
      "(CAST(nb AS DOUBLE) * (CAST(pc AS DOUBLE) / 1000.0 - " +
      "CAST(kb AS DOUBLE) / CAST(nb AS DOUBLE)) * " +
      "(CAST(pc AS DOUBLE) / 1000.0 - CAST(kb AS DOUBLE) / " +
      "CAST(nb AS DOUBLE)))) AS BIGINT)"
    val resTermNano = "CAST(floor(1000000000.0 * " +
      "(CAST(nb AS DOUBLE) * (CAST(kb AS DOUBLE) / CAST(nb AS DOUBLE) - " +
      "CAST(kt AS DOUBLE) / CAST(n AS DOUBLE)) * " +
      "(CAST(kb AS DOUBLE) / CAST(nb AS DOUBLE) - CAST(kt AS DOUBLE) / " +
      "CAST(n AS DOUBLE)))) AS BIGINT)"
    val uncMicro = "CAST(floor(1000000.0 * (CAST(kt AS DOUBLE) / " +
      "CAST(n AS DOUBLE)) * (1.0 - CAST(kt AS DOUBLE) / " +
      "CAST(n AS DOUBLE))) AS BIGINT)"
    val oracle =
      s"""WITH $labelCentroidsSql,
         |d AS (
         |  SELECT p.vec_id, ct.cid,
         |    CAST(sum((p.q - ct.c) * (p.q - ct.c)) AS HUGEINT) AS dist
         |  FROM pts p JOIN ctrain ct ON p.pos = ct.pos
         |  WHERE p.vec_id % 2 = 1 GROUP BY 1, 2),
         |rk AS (
         |  SELECT vec_id, cid, dist,
         |    row_number() OVER (PARTITION BY vec_id
         |      ORDER BY dist, cid) AS rn
         |  FROM d),
         |two AS (
         |  SELECT a.vec_id, a.cid AS pred, a.dist AS d1, b.dist AS d2
         |  FROM rk a JOIN rk b ON a.vec_id = b.vec_id
         |  WHERE a.rn = 1 AND b.rn = 2),
         |sc AS (
         |  SELECT t.vec_id,
         |    100 * ((1000 * (t.d2 - t.d1)) // t.d2 // 100) + 50 AS p,
         |    CASE WHEN t.pred = l.label THEN 1 ELSE 0 END AS y
         |  FROM two t JOIN lab l USING (vec_id)),
         |bins AS (
         |  SELECT p AS pc, CAST(count(*) AS BIGINT) AS nb,
         |    CAST(sum(y) AS BIGINT) AS kb
         |  FROM sc GROUP BY 1),
         |tot AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS kt,
         |    CAST(sum((p - 1000 * y) * (p - 1000 * y)) AS BIGINT) AS bsum
         |  FROM sc),
         |terms AS (
         |  SELECT CAST(sum($relTermNano) AS BIGINT) AS rel_nano,
         |    CAST(sum($resTermNano) AS BIGINT) AS res_nano
         |  FROM bins, tot)
         |SELECT tot.n, tot.kt AS n_correct,
         |  tot.bsum // tot.n AS brier_micro,
         |  (terms.rel_nano // tot.n) // 1000 AS rel_micro,
         |  (terms.res_nano // tot.n) // 1000 AS res_micro,
         |  $uncMicro AS unc_micro
         |FROM tot, terms""".stripMargin
    QueryDef("q366_brier_decomposition", oracle) { (s, dir) =>
      val (pts, lab, ctrain) = labelCentroids(s, dir)
      val d = pts.filter(col("vec_id") % 2 === 1)
        .join(broadcast(ctrain), Seq("pos"))
        .groupBy(col("vec_id"), col("cid"))
        .agg(sum((col("q") - col("c")) * (col("q") - col("c")))
          .cast("decimal(38,0)").as("dist"))
      val w = Window.partitionBy(col("vec_id")).orderBy(col("dist"), col("cid"))
      val rk = d.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 2)
      val sc = rk.filter(col("rn") === 1)
        .select(col("vec_id"), col("cid").as("pred"), col("dist").as("d1"))
        .join(rk.filter(col("rn") === 2)
          .select(col("vec_id"), col("dist").as("d2")), Seq("vec_id"))
        .join(lab, Seq("vec_id"))
        .select(
          expr("100 * ((1000 * CAST(d2 - d1 AS BIGINT)) div " +
            "CAST(d2 AS BIGINT) div 100) + 50").as("p"),
          when(col("pred") === col("label"), 1L).otherwise(0L).as("y"))
        .ckpt() // one scored frame feeds bins AND totals
      val bins = sc.groupBy(col("p").as("pc"))
        .agg(count(lit(1)).as("nb"), sum(col("y")).cast("bigint").as("kb"))
      val tot = broadcast(sc.agg(count(lit(1)).as("n"),
        sum(col("y")).cast("bigint").as("kt"),
        sum((col("p") - lit(1000L) * col("y")) *
          (col("p") - lit(1000L) * col("y"))).cast("bigint").as("bsum")))
      val terms = bins.crossJoin(tot)
        .select(expr(relTermNano).as("rl"), expr(resTermNano).as("rs"))
        .agg(sum(col("rl")).cast("bigint").as("rel_nano"),
          sum(col("rs")).cast("bigint").as("res_nano"))
      tot.crossJoin(broadcast(terms))
        .select(col("n"), col("kt").as("n_correct"),
          expr("bsum div n").as("brier_micro"),
          expr("(rel_nano div n) div 1000").as("rel_micro"),
          expr("(res_nano div n) div 1000").as("res_micro"),
          expr(uncMicro).as("unc_micro"))
    }
  }

  private val LOF_K = 5
  private val LOF_CELL = 100000L // 0.1 in micro-units: 3x3 block radius

  /** q390 — grid-blocked Local Outlier Factor (Breunig et al.
    * SIGMOD'00), k=5, over the leading 2-coordinate embedding
    * projection (q238's plane): LOF scores DENSITY-RELATIVE
    * outliers — a point sparse relative to its own neighborhood —
    * where q301's HBOS sees only global marginals and q329's
    * Mahalanobis assumes one global covariance. The third, and most
    * local, of the engine's outlier lenses.
    *
    * Semantics: block-LOF — k-distances, reachability, lrd, and LOF
    * are all computed within each point's 3×3 grid block (cell =
    * 0.1), and a point is flagged `resolved` when its k-distance ≤
    * one cell, which PROVES its true kNN lies inside the block (the
    * classic grid guarantee) — block-LOF = exact LOF for resolved
    * points. Points with fewer than k block neighbors are excluded.
    *
    * Exactness: coordinates are shifted micro ints; squared distances
    * are exact int64; each distance is one floor-sqrt chain;
    * reachability is an integer max clamped ≥ 1 (duplicate-point
    * guard); lrd = (10⁹·k) div Σreach and LOF = (10³·Σlrd_b) div
    * (k·lrd_a) are exact non-negative integer divisions. Top-15 by
    * LOF via TakeOrdered.
    *
    * Scale design (100 TB): the candidate join is cell-blocked
    * (never all-pairs); per-point candidate sets are bounded by 3×3
    * cell occupancy; the rank window is partitioned by point. */
  val q390Lof: QueryDef = {
    val dMicro = "CAST(floor(sqrt(CAST(d2 AS DOUBLE))) AS BIGINT)"
    QueryDef(
      "q390_lof",
      s"""WITH pc AS (
         |  SELECT vec_id,
         |    CAST(floor(CAST(embedding[1] AS DOUBLE) * 1000000) AS BIGINT)
         |      + 10000000 AS qx,
         |    CAST(floor(CAST(embedding[2] AS DOUBLE) * 1000000) AS BIGINT)
         |      + 10000000 AS qy
         |  FROM embeddings),
         |pg AS (SELECT vec_id, qx, qy,
         |  qx // $LOF_CELL AS cx, qy // $LOF_CELL AS cy FROM pc),
         |cand AS (
         |  SELECT a.vec_id AS a, b.vec_id AS b,
         |    (a.qx - b.qx) * (a.qx - b.qx) +
         |    (a.qy - b.qy) * (a.qy - b.qy) AS d2
         |  FROM pg a JOIN pg b
         |    ON b.cx BETWEEN a.cx - 1 AND a.cx + 1
         |   AND b.cy BETWEEN a.cy - 1 AND a.cy + 1
         |   AND a.vec_id <> b.vec_id),
         |knn AS (
         |  SELECT a, b, $dMicro AS d,
         |    row_number() OVER (PARTITION BY a ORDER BY d2, b) AS rn
         |  FROM cand QUALIFY rn <= $LOF_K),
         |kd AS (SELECT a, max(d) AS kdist FROM knn
         |  GROUP BY a HAVING count(*) = $LOF_K),
         |reach AS (
         |  SELECT knn.a, knn.b,
         |    greatest(kdb.kdist, knn.d, 1) AS r
         |  FROM knn JOIN kd kdb ON kdb.a = knn.b),
         |lrd AS (
         |  SELECT a, (CAST(1000000000 AS BIGINT) * $LOF_K) // CAST(sum(r) AS BIGINT) AS lrd
         |  FROM reach GROUP BY a HAVING count(*) = $LOF_K),
         |lof AS (
         |  SELECT knn.a, (1000 * CAST(sum(lb.lrd) AS BIGINT)) //
         |    ($LOF_K * max(la.lrd)) AS lof_milli,
         |    max(la.lrd) AS lrd_a, max(kda.kdist) AS kdist
         |  FROM knn JOIN lrd lb ON lb.a = knn.b
         |  JOIN lrd la ON la.a = knn.a
         |  JOIN kd kda ON kda.a = knn.a
         |  GROUP BY knn.a HAVING count(*) = $LOF_K),
         |top AS (
         |  SELECT a, lof_milli, lrd_a, kdist,
         |    row_number() OVER (ORDER BY lof_milli DESC, a) AS rk
         |  FROM lof)
         |SELECT CAST(rk AS BIGINT) AS rank, a AS vec_id, kdist AS kdist_micro,
         |  lrd_a AS lrd_ppb, lof_milli,
         |  CASE WHEN kdist <= $LOF_CELL THEN 1 ELSE 0 END AS resolved
         |FROM top WHERE rk <= 15 ORDER BY rank""".stripMargin) { (s, dir) =>
      val pg = Tables.embeddings(s, dir)
        .repartition(col("vec_id")) // single-file scan -> use the cores
        .select(col("vec_id"),
          (floor(element_at(col("embedding"), 1).cast("double") * 1000000L)
            .cast("long") + 10000000L).as("qx"),
          (floor(element_at(col("embedding"), 2).cast("double") * 1000000L)
            .cast("long") + 10000000L).as("qy"))
        .select(col("vec_id"), col("qx"), col("qy"),
          expr(s"qx div $LOF_CELL").as("cx"), expr(s"qy div $LOF_CELL").as("cy"))
        .ckpt() // both sides of the blocked candidate join
      val cand = pg.select(col("vec_id").as("a"), col("qx").as("ax"),
          col("qy").as("ay"), col("cx"), col("cy"))
        .join(pg.select(col("vec_id").as("b"), col("qx").as("bx"),
          col("qy").as("by_"), col("cx").as("bcx"), col("cy").as("bcy")),
          col("bcx").between(col("cx") - 1, col("cx") + 1) &&
            col("bcy").between(col("cy") - 1, col("cy") + 1) &&
            col("a") =!= col("b"))
        .select(col("a"), col("b"),
          ((col("ax") - col("bx")) * (col("ax") - col("bx")) +
            (col("ay") - col("by_")) * (col("ay") - col("by_"))).as("d2"))
      val wA = Window.partitionBy(col("a")).orderBy(col("d2"), col("b"))
      val knn = cand
        .withColumn("rn", row_number().over(wA))
        .filter(col("rn") <= LOF_K)
        .select(col("a"), col("b"), expr(dMicro).as("d"))
        .ckpt() // feeds kd, reach, and the LOF assembly
      val kd = knn.groupBy(col("a"))
        .agg(max(col("d")).as("kdist"), count(lit(1)).as("c"))
        .filter(col("c") === LOF_K).drop("c")
      val reach = knn
        .join(kd.select(col("a").as("b"), col("kdist").as("kdb")), Seq("b"))
        .select(col("a"), col("b"),
          greatest(col("kdb"), col("d"), lit(1L)).as("r"))
      val lrd = reach.groupBy(col("a"))
        .agg(sum(col("r")).as("sr"), count(lit(1)).as("c"))
        .filter(col("c") === LOF_K)
        .select(col("a"),
          expr(s"(CAST(1000000000 AS BIGINT) * $LOF_K) div sr").as("lrd"))
        .ckpt() // both the self and neighbor sides below
      val lof = knn
        .join(lrd.select(col("a").as("b"), col("lrd").as("lrd_b")), Seq("b"))
        .join(lrd.select(col("a"), col("lrd").as("lrd_a")), Seq("a"))
        .join(kd, Seq("a"))
        .groupBy(col("a"))
        .agg(sum(col("lrd_b")).as("slb"), max(col("lrd_a")).as("lrd_a"),
          max(col("kdist")).as("kdist"), count(lit(1)).as("c"))
        .filter(col("c") === LOF_K)
        .select(col("a"),
          expr(s"(1000 * slb) div ($LOF_K * lrd_a)").as("lof_milli"),
          col("lrd_a"), col("kdist"))
      val wTop = Window.orderBy(col("lof_milli").desc, col("a"))
      lof.orderBy(col("lof_milli").desc, col("a")).limit(15)
        .withColumn("rank", row_number().over(wTop).cast("bigint"))
        .select(col("rank"), col("a").as("vec_id"),
          col("kdist").as("kdist_micro"), col("lrd_a").as("lrd_ppb"),
          col("lof_milli"),
          when(col("kdist") <= LOF_CELL, 1).otherwise(0).as("resolved"))
        .orderBy("rank")
    }
  }

  /** q370 — exact data-valuation Shapley over five training-data
    * "vendors" (Ghorbani–Zou ICML'19, computed EXACTLY rather than by
    * Monte Carlo): the 20 document sources are grouped into 5 vendor
    * shards (src N mod 5 — the procurement granularity); the utility
    * v(S) of a vendor subset is the held-out lang-id accuracy of a
    * multinomial NB classifier trained only on S's documents, and each
    * vendor's Shapley value is its exact average marginal contribution
    * over all 2⁴ contexts — THE principled answer to "which data
    * purchase is worth renewing". Also reports the leave-one-out delta
    * (q232's influence notion) next to it, which famously disagrees.
    *
    * Exactness: all 31 subset models derive from ONE per-vendor count
    * frame because NB sufficient statistics are ADDITIVE over disjoint
    * vendor shards — the same statistic-additivity that makes the
    * computation feasible at all; ln terms are per-term nano-floored
    * (q227 discipline), scores are integer sums, argmax is
    * (score desc, lang asc) tie-broken, and Shapley weights
    * |S|!(4−|S|)!/5! are exact rationals reported in 1/120 units —
    * the output is INTEGER. v(∅) = 0 by convention.
    *
    * Scale design (100 TB): one tokenization pass builds the
    * per-(vendor, lang, word) counts; subset models materialize as a
    * single frame keyed (mask, lang, word) — 31×|langs|×|vocab| rows,
    * vocab-bounded, NOT corpus-bounded; test docs join it by word
    * equi-key (per-test-token fanout ≤ 31·|langs|, a fixed 155×); the
    * utilities frame is 31 rows and the Shapley pairing is a
    * mask-arithmetic self-join on it. Output 5 rows. */
  val q370DataShapley: QueryDef = {
    val nano = "CAST(floor(1000000000.0e0 * ln(%s)) AS BIGINT)"
    QueryDef(
      "q370_data_shapley",
      s"""WITH d0 AS (
         |  SELECT doc_id, lang, text,
         |    CAST(substring(source, 4) AS INT) % 5 AS vnd
         |  FROM documents),
         |tr AS (SELECT * FROM d0 WHERE
         |  ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 5 <> 0),
         |te AS (SELECT doc_id, lang, text FROM d0 WHERE
         |  ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 5 = 0),
         |ttok AS (
         |  SELECT vnd, lang AS c, unnest(string_split(text, ' ')) AS w
         |  FROM tr),
         |cwv AS (
         |  SELECT vnd, c, w, CAST(count(*) AS BIGINT) AS cwc
         |  FROM ttok GROUP BY 1, 2, 3),
         |vv AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS v FROM ttok),
         |priv AS (
         |  SELECT vnd, lang AS c, CAST(count(*) AS BIGINT) AS dc
         |  FROM tr GROUP BY 1, 2),
         |mk AS (SELECT CAST(unnest(range(1, 32)) AS BIGINT) AS mask),
         |mv AS (
         |  SELECT mask, vnd FROM mk, (SELECT DISTINCT vnd FROM tr) s
         |  WHERE (mask & (1::BIGINT << vnd)) <> 0),
         |cw AS (
         |  SELECT mv.mask, cwv.c, cwv.w, CAST(sum(cwv.cwc) AS BIGINT) AS cwc
         |  FROM cwv JOIN mv ON mv.vnd = cwv.vnd GROUP BY 1, 2, 3),
         |pri AS (
         |  SELECT mv.mask, priv.c, CAST(sum(priv.dc) AS BIGINT) AS dc
         |  FROM priv JOIN mv ON mv.vnd = priv.vnd GROUP BY 1, 2),
         |nc AS (SELECT mask, c, CAST(sum(cwc) AS BIGINT) AS n
         |  FROM cw GROUP BY 1, 2),
         |pt AS (SELECT mask, CAST(sum(dc) AS BIGINT) AS dt FROM pri GROUP BY 1),
         |cls AS (
         |  SELECT pri.mask, pri.c,
         |    ${nano.format("CAST(pri.dc AS DOUBLE) / CAST(pt.dt AS DOUBLE)")} AS prior_nn,
         |    ${nano.format("1.0e0 / CAST(coalesce(nc.n, 0) + vv.v AS DOUBLE)")} AS def_nn,
         |    coalesce(nc.n, 0) + vv.v AS den
         |  FROM pri JOIN pt USING (mask)
         |  LEFT JOIN nc ON nc.mask = pri.mask AND nc.c = pri.c
         |  CROSS JOIN vv),
         |lp AS (
         |  SELECT cw.mask, cw.c, cw.w,
         |    ${nano.format("CAST(cw.cwc + 1 AS DOUBLE) / CAST(cls.den AS DOUBLE)")} AS lp_nn
         |  FROM cw JOIN cls ON cls.mask = cw.mask AND cls.c = cw.c),
         |tetok AS (
         |  SELECT doc_id, w, CAST(count(*) AS BIGINT) AS cnt FROM (
         |    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM te)
         |  GROUP BY 1, 2),
         |tetv AS (
         |  SELECT t.doc_id, t.w, t.cnt FROM tetok t
         |  JOIN (SELECT DISTINCT w FROM cwv) vw ON vw.w = t.w),
         |sc0 AS (
         |  SELECT t.doc_id, cls.mask, cls.c,
         |    CAST(sum(t.cnt * coalesce(lp.lp_nn, cls.def_nn)) AS BIGINT) AS tok_nn
         |  FROM tetv t CROSS JOIN cls
         |  LEFT JOIN lp ON lp.mask = cls.mask AND lp.c = cls.c AND lp.w = t.w
         |  GROUP BY 1, 2, 3),
         |scores AS (
         |  SELECT te.doc_id, te.lang, cls.mask, cls.c,
         |    cls.prior_nn + coalesce(sc0.tok_nn, 0) AS score_nn
         |  FROM te CROSS JOIN cls
         |  LEFT JOIN sc0 ON sc0.doc_id = te.doc_id AND sc0.mask = cls.mask
         |    AND sc0.c = cls.c),
         |pred AS (
         |  SELECT doc_id, lang, mask, c,
         |    row_number() OVER (PARTITION BY doc_id, mask
         |      ORDER BY score_nn DESC, c) AS rn
         |  FROM scores),
         |util AS (
         |  SELECT mask, CAST(sum(CASE WHEN c = lang THEN 1 ELSE 0 END)
         |    AS BIGINT) AS u
         |  FROM pred WHERE rn = 1 GROUP BY mask
         |  UNION ALL SELECT 0, 0),
         |nt AS (SELECT CAST(count(*) AS BIGINT) AS n_test FROM te),
         |phi AS (
         |  SELECT s.vnd,
         |    CAST(sum((CASE bit_count(b.mask)
         |        WHEN 0 THEN 24 WHEN 1 THEN 6 WHEN 2 THEN 4
         |        WHEN 3 THEN 6 ELSE 24 END) * (wi.u - b.u)) AS BIGINT)
         |      AS phi_120
         |  FROM (SELECT DISTINCT vnd FROM tr) s
         |  JOIN util b ON (b.mask & (1::BIGINT << s.vnd)) = 0
         |  JOIN util wi ON wi.mask = b.mask + (1::BIGINT << s.vnd)
         |  GROUP BY s.vnd),
         |loo AS (
         |  SELECT s.vnd, fu.u - wo.u AS loo_delta
         |  FROM (SELECT DISTINCT vnd FROM tr) s
         |  JOIN util fu ON fu.mask = 31
         |  JOIN util wo ON wo.mask = 31 - (1::BIGINT << s.vnd))
         |SELECT CAST(phi.vnd AS BIGINT) AS vendor, phi.phi_120,
         |  CAST(loo.loo_delta AS BIGINT) AS loo_delta,
         |  (SELECT u FROM util WHERE mask = 31) AS v_full,
         |  nt.n_test
         |FROM phi JOIN loo ON loo.vnd = phi.vnd CROSS JOIN nt
         |ORDER BY vendor""".stripMargin) { (s, dir) =>
      import s.implicits._
      val nanoC = (x: Column) => floor(lit(1000000000.0) * log(x)).cast("long")
      val d0 = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), col("text"),
          (substring(col("source"), 4, 10).cast("int") % 5).as("vnd"))
      // md5 split, NOT doc_id % 5: the generator assigns sources in
      // doc_id round-robin, so a modulo split would be CONFOUNDED with
      // the vendor grouping (vendor 0 would have zero training docs)
      val hsplit = conv(substring(md5(col("doc_id").cast("string")), 1, 15),
        16, 10).cast("long") % 5
      val tr = d0.filter(hsplit =!= 0)
      val te = d0.filter(hsplit === 0)
        .select(col("doc_id"), col("lang"), col("text"))
      val ttok = tr.select(col("vnd"), col("lang").as("c"),
          explode(split(col("text"), " ")).as("w"))
        .ckpt() // one tokenization pass feeds counts AND vocab size
      val cwv = ttok.groupBy("vnd", "c", "w").agg(count(lit(1)).as("cwc"))
        .ckpt() // the ADDITIVE per-vendor sufficient statistics
      val vv = ttok.agg(countDistinct("w").as("v"))
      val priv0 = tr.groupBy(col("vnd"), col("lang").as("c"))
        .agg(count(lit(1)).as("dc"))
      val vnds = tr.select(col("vnd")).distinct()
      val mv = s.range(1, 32).toDF("mask")
        .crossJoin(broadcast(vnds))
        .filter(expr("(mask & shiftleft(CAST(1 AS BIGINT), vnd)) <> 0"))
      // r14 negative result, measured and reverted: a "mask-block"
      // rewrite that never materializes the (mask, c, w) model —
      // vendor-pivoted per-(c, w) counts with all 31 mask log-probs
      // computed inline as a 31-element array — ran 8.5 s vs 2.9 s
      // (BenchOne taskTime 10.9 s vs 4.9 s): the ~1200-node array
      // projection falls out of whole-stage codegen (the q291 r13
      // lesson), and the fan-out it removes is only ~2k rows because
      // the vocabulary is MODEL-bounded (31 words at every SF), so
      // the materialized lp join below is the cheaper plan at any
      // scale where the vocab stays model-bounded.
      val cw = cwv.join(broadcast(mv), Seq("vnd"))
        .groupBy("mask", "c", "w").agg(sum("cwc").as("cwc"))
        .ckpt() // all 31 subset models in one frame
      val pri = priv0.join(broadcast(mv), Seq("vnd"))
        .groupBy("mask", "c").agg(sum("dc").as("dc"))
      val nc = cw.groupBy("mask", "c").agg(sum("cwc").as("n"))
      val pt = pri.groupBy("mask").agg(sum("dc").as("dt"))
      val cls = pri.join(broadcast(pt), Seq("mask"))
        .join(broadcast(nc), Seq("mask", "c"), "left")
        .crossJoin(broadcast(vv))
        .select(col("mask"), col("c"),
          nanoC(col("dc").cast("double") / col("dt").cast("double"))
            .as("prior_nn"),
          nanoC(lit(1.0) / (coalesce(col("n"), lit(0L)) + col("v"))
            .cast("double")).as("def_nn"),
          (coalesce(col("n"), lit(0L)) + col("v")).as("den"))
        .ckpt() // ≤ 31·|langs| rows — broadcast everywhere below
      val lp = cw.join(broadcast(cls.select(col("mask"), col("c"), col("den"))),
          Seq("mask", "c"))
        .select(col("mask"), col("c"), col("w"),
          nanoC((col("cwc") + 1).cast("double") / col("den").cast("double"))
            .as("lp_nn"))
      val tetok = te
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .groupBy("doc_id", "w").agg(count(lit(1)).as("cnt"))
      val tetv = tetok.join(cwv.select("w").distinct(), Seq("w"), "leftsemi")
      val sc0 = tetv
        .crossJoin(broadcast(cls.select(col("mask").as("m2"),
          col("c").as("c2"), col("def_nn"))))
        .join(lp, col("m2") === lp("mask") && col("c2") === lp("c") &&
          lp("w") === tetv("w"), "left")
        .groupBy(tetv("doc_id").as("sc_doc"), col("m2"), col("c2"))
        .agg(sum(col("cnt") * coalesce(col("lp_nn"), col("def_nn")))
          .as("tok_nn"))
      val scores = te.select(col("doc_id"), col("lang"))
        .crossJoin(broadcast(cls.select(col("mask"), col("c"), col("prior_nn"))))
        .join(sc0, col("doc_id") === col("sc_doc") && col("mask") === col("m2")
          && col("c") === col("c2"), "left")
        .select(col("doc_id"), col("lang"), col("mask"), col("c"),
          (col("prior_nn") + coalesce(col("tok_nn"), lit(0L))).as("score_nn"))
      val w = Window.partitionBy(col("doc_id"), col("mask"))
        .orderBy(col("score_nn").desc, col("c"))
      val util = scores.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .groupBy(col("mask"))
        .agg(sum(when(col("c") === col("lang"), 1L).otherwise(0L)).as("u"))
        .unionByName(Seq((0L, 0L)).toDF("mask", "u"))
        .ckpt() // 32 rows: the utility table all valuation reads from
      val nt = te.agg(count(lit(1)).as("n_test"))
      val coef = "CASE bit_count(b_mask) WHEN 0 THEN 24 WHEN 1 THEN 6 " +
        "WHEN 2 THEN 4 WHEN 3 THEN 6 ELSE 24 END"
      val phi = vnds
        .join(util.select(col("mask").as("b_mask"), col("u").as("b_u")),
          expr("(b_mask & shiftleft(CAST(1 AS BIGINT), vnd)) = 0"))
        .join(util.select(col("mask").as("w_mask"), col("u").as("w_u")),
          expr("w_mask = b_mask + shiftleft(CAST(1 AS BIGINT), vnd)"))
        .groupBy(col("vnd"))
        .agg(sum(expr(coef) * (col("w_u") - col("b_u"))).cast("bigint")
          .as("phi_120"))
      val vfull = util.filter(col("mask") === 31)
        .select(col("u").as("v_full"))
      val loo = vnds
        .join(util.select(col("mask").as("f_mask"), col("u").as("f_u")),
          expr("f_mask = 31"))
        .join(util.select(col("mask").as("o_mask"), col("u").as("o_u")),
          expr("o_mask = 31 - shiftleft(CAST(1 AS BIGINT), vnd)"))
        .select(col("vnd"), (col("f_u") - col("o_u")).as("loo_delta"))
      phi.join(loo, Seq("vnd"))
        .crossJoin(broadcast(vfull)).crossJoin(broadcast(nt))
        .select(col("vnd").cast("bigint").as("vendor"), col("phi_120"),
          col("loo_delta").cast("bigint").as("loo_delta"),
          col("v_full"), col("n_test"))
        .orderBy("vendor")
    }
  }

  val all: Seq[QueryDef] = Seq(q95Kmeans, q96CentroidClassify,
    q159ClusterPurity, q173Stump, q174Calibration, q227NaiveBayes,
    q235Conformal, q238Dbscan, q249KCenter, q255Isotonic, q259EbShrinkage,
    q286Logistic, q296InfoGain, q322ClassWeights, q328CohensKappa,
    q329OodMahalanobis, q331AlMargin, q332Committee, q356TreeDepth2,
    q366BrierDecomposition, q370DataShapley, q390Lof)
}
