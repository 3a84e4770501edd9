package graft.operators

import graft.CkptOps

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import VectorOps._

/** Similarity search over the `embeddings` table — brute-force cosine
  * top-k as the exact baseline, plus the two classic scale paths:
  * random-hyperplane LSH bucketing and an IVF-style coarse quantizer
  * (SURVEY.md §7.2 Phase 3).
  *
  * Scale design (100 TB):
  *  - the query side is always the SMALL side and is broadcast — the
  *    corpus never shuffles for a search;
  *  - brute force is the correctness baseline: one broadcast-nested-
  *    loop pass through the native [[graft.functions.CosineSimilarity]]
  *    expression (codegen'd single loop, bit-compatible with the
  *    oracle's explicit term sums), top-k via per-query window;
  *  - LSH (q42) prunes candidates to one bucket per query: the bucket
  *    id is a data-independent projection computed scan-side, so the
  *    corpus can be written PARTITIONED BY bucket and a search prunes
  *    partitions instead of scanning the corpus;
  *  - IVF (q43) is the same idea with data-derived centroids: assign
  *    each vector to its nearest coarse centroid (broadcast centroids),
  *    search only the query's cell (nprobe=1 here).
  *
  * Determinism: all cosines are explicit left-associated term sums
  * (bit-exact across engines — see [[VectorOps]]); every top-k window
  * breaks ties on vec_id.
  */
object Similarity {

  private val PLANES = 4 // LSH hyperplanes → 16 buckets
  private val NQUERY = 10 // query set: vec_id < 10
  private val NCENT = 8 // IVF coarse centroids: vec_id < 8

  /** Brute-force cosine top-k for a single query vector (vec_id=0):
    * the exact-search baseline every ANN variant is judged against. */
  val q40CosineTopk: QueryDef = QueryDef(
    "q40_cosine_topk",
    s"""WITH q AS (SELECT embedding AS vq FROM embeddings WHERE vec_id = 0),
       |e AS (SELECT vec_id, label, embedding AS v FROM embeddings WHERE vec_id <> 0)
       |SELECT e.vec_id, e.label, ${cosSql("e.v", "q.vq")} AS cos_sim
       |FROM e, q
       |ORDER BY cos_sim DESC, e.vec_id
       |LIMIT 20""".stripMargin) { (s, dir) =>
    val e = Tables.embeddings(s, dir)
    val q = broadcast(e.filter(col("vec_id") === 0).select(col("embedding").as("vq")))
    e.filter(col("vec_id") =!= 0)
      .select(col("vec_id"), col("label"), col("embedding").as("v"))
      .crossJoin(q)
      .select(col("vec_id"), col("label"), expr("cosine_sim(v, vq)").as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(20)
  }

  /** kNN join — top-3 neighbors for each of the first NQUERY vectors:
    * broadcast the query set, one pass over the corpus, per-query
    * window top-k. */
  val q41KnnJoin: QueryDef = QueryDef(
    "q41_knn_join",
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS vq FROM embeddings WHERE vec_id < $NQUERY),
       |e AS (SELECT vec_id, embedding AS v FROM embeddings),
       |c AS (
       |  SELECT q.qid, e.vec_id, ${cosSql("e.v", "q.vq")} AS cos_sim
       |  FROM e JOIN q ON e.vec_id <> q.qid),
       |r AS (
       |  SELECT qid, vec_id, cos_sim,
       |    row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, vec_id) AS rn
       |  FROM c)
       |SELECT qid, CAST(rn AS INT) AS rn, vec_id, cos_sim FROM r WHERE rn <= 3
       |ORDER BY qid, rn""".stripMargin) { (s, dir) =>
    val e = Tables.embeddings(s, dir)
    val q = broadcast(e.filter(col("vec_id") < NQUERY)
      .select(col("vec_id").as("qid"), col("embedding").as("vq")))
    val c = e.repartition(col("vec_id")) // single-file scan -> all cores
      .select(col("vec_id"), col("embedding").as("v"))
      .join(q, col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"), expr("cosine_sim(v, vq)").as("cos_sim"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos_sim").desc, col("vec_id"))
    c.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("qid"), col("rn").cast("int").as("rn"), col("vec_id"), col("cos_sim"))
      .orderBy("qid", "rn")
  }

  /** Random-hyperplane LSH ANN — bucket the corpus by sign bits of
    * PLANES data-independent projections; answer each query from its
    * own bucket only. The approximate counterpart of q41 (same query
    * set, same output shape) — a recall-vs-cost knob, not an oracle of
    * exactness. */
  val q42LshAnn: QueryDef = QueryDef(
    "q42_lsh_ann",
    s"""WITH e AS (
       |  SELECT vec_id, embedding AS v, ${lshBucketSql("embedding", PLANES)} AS bucket
       |  FROM embeddings),
       |q AS (SELECT vec_id AS qid, v AS vq, bucket FROM e WHERE vec_id < $NQUERY),
       |c AS (
       |  SELECT q.qid, e.vec_id, ${cosSql("e.v", "q.vq")} AS cos_sim
       |  FROM e JOIN q ON e.bucket = q.bucket AND e.vec_id <> q.qid),
       |r AS (
       |  SELECT qid, vec_id, cos_sim,
       |    row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, vec_id) AS rn
       |  FROM c)
       |SELECT qid, CAST(rn AS INT) AS rn, vec_id, cos_sim FROM r WHERE rn <= 3
       |ORDER BY qid, rn""".stripMargin) { (s, dir) =>
    val e = Tables.embeddings(s, dir)
      .repartition(col("vec_id")) // single-file scan -> all cores
      .select(col("vec_id"), col("embedding").as("v"),
        // native codegen'd loop (O(1) plan nodes vs planes*dim
        // generated terms), bit-identical to lshBucketCol/lshBucketSql
        expr(s"lsh_bucket(embedding, $PLANES, $DIM)").as("bucket"))
    val q = broadcast(e.filter(col("vec_id") < NQUERY)
      .select(col("vec_id").as("qid"), col("v").as("vq"), col("bucket")))
    val c = e.join(q, Seq("bucket"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"), expr("cosine_sim(v, vq)").as("cos_sim"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos_sim").desc, col("vec_id"))
    c.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("qid"), col("rn").cast("int").as("rn"), col("vec_id"), col("cos_sim"))
      .orderBy("qid", "rn")
  }

  /** IVF coarse quantization — centroids are the first NCENT vectors
    * (a deterministic stand-in for a trained codebook); every vector is
    * assigned to its nearest centroid by cosine (broadcast centroids,
    * per-vector argmax window). Output: cell histogram with label
    * diversity — the partition layout an IVF index would store. */
  val q43IvfCells: QueryDef = QueryDef(
    "q43_ivf_cells",
    s"""WITH cent AS (SELECT vec_id AS cid, embedding AS vc FROM embeddings WHERE vec_id < $NCENT),
       |e AS (SELECT vec_id, label, embedding AS v FROM embeddings),
       |a AS (
       |  SELECT e.vec_id, e.label, cent.cid, ${cosSql("e.v", "cent.vc")} AS cos_sim
       |  FROM e, cent),
       |best AS (
       |  SELECT vec_id, label, cid FROM (
       |    SELECT vec_id, label, cid,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY cos_sim DESC, cid) AS rn
       |    FROM a) WHERE rn = 1)
       |SELECT cid, count(*) AS n_vecs, count(DISTINCT label) AS n_labels,
       |  min(vec_id) AS min_vec, max(vec_id) AS max_vec
       |FROM best GROUP BY cid ORDER BY cid""".stripMargin) { (s, dir) =>
    val e = Tables.embeddings(s, dir)
    val cent = broadcast(e.filter(col("vec_id") < NCENT)
      .select(col("vec_id").as("cid"), col("embedding").as("vc")))
    val a = e.repartition(col("vec_id")) // single-file scan -> all cores
      .select(col("vec_id"), col("label"), col("embedding").as("v"))
      .crossJoin(cent)
      .select(col("vec_id"), col("label"), col("cid"), expr("cosine_sim(v, vc)").as("cos_sim"))
    val w = Window.partitionBy(col("vec_id")).orderBy(col("cos_sim").desc, col("cid"))
    a.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .groupBy(col("cid"))
      .agg(
        count(lit(1)).as("n_vecs"),
        countDistinct(col("label")).as("n_labels"),
        min(col("vec_id")).as("min_vec"),
        max(col("vec_id")).as("max_vec"))
      .orderBy("cid")
  }

  /** kNN join through the native codegen'd [[graft.functions.CosineSimilarity]]
    * expression instead of the generated 192-term sum: same IEEE
    * accumulation order (index-ascending dot + norms), so the oracle's
    * explicit-sum SQL still matches bit-for-bit, but the plan carries
    * O(1) expression nodes regardless of dimension. */
  val q44CosineExpr: QueryDef = QueryDef(
    "q44_cosine_expr",
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS vq FROM embeddings WHERE vec_id >= $NQUERY AND vec_id < ${2 * NQUERY}),
       |e AS (SELECT vec_id, embedding AS v FROM embeddings),
       |c AS (
       |  SELECT q.qid, e.vec_id, ${cosSql("e.v", "q.vq")} AS cos_sim
       |  FROM e JOIN q ON e.vec_id <> q.qid),
       |r AS (
       |  SELECT qid, vec_id, cos_sim,
       |    row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, vec_id) AS rn
       |  FROM c)
       |SELECT qid, CAST(rn AS INT) AS rn, vec_id, cos_sim FROM r WHERE rn <= 5
       |ORDER BY qid, rn""".stripMargin) { (s, dir) =>
    val e = Tables.embeddings(s, dir)
    val q = broadcast(e.filter(col("vec_id") >= NQUERY && col("vec_id") < 2 * NQUERY)
      .select(col("vec_id").as("qid"), col("embedding").as("vq")))
    val c = e.repartition(col("vec_id"))
      .select(col("vec_id"), col("embedding").as("v"))
      .join(q, col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"), expr("cosine_sim(v, vq)").as("cos_sim"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos_sim").desc, col("vec_id"))
    c.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("qid"), col("rn").cast("int").as("rn"), col("vec_id"), col("cos_sim"))
      .orderBy("qid", "rn")
  }

  /** Int8 vector quantization — the compression pass that makes a
    * 100 TB ANN corpus memory-resident (4 bytes/dim → 1). Per-vector
    * min/max affine quantization to [0,255]; output verifies the
    * round trip: exact integer code sums plus the max reconstruction
    * error per label. Determinism: codes come from one mul + one div
    * on exactly-representable doubles then round (both engines round
    * half-up for the non-negative arguments here); error maxima are
    * order-free, so no float-reduction ambiguity exists anywhere. */
  val q45Quantize: QueryDef = QueryDef(
    "q45_quantize",
    """WITH e AS (
      |  SELECT vec_id, label, embedding,
      |    CAST(list_min(embedding) AS DOUBLE) AS mn,
      |    CAST(list_max(embedding) AS DOUBLE) AS mx
      |  FROM embeddings),
      |q AS (
      |  SELECT vec_id, label, embedding, mn, mx - mn AS rng,
      |    list_transform(embedding,
      |      x -> CAST(round(((CAST(x AS DOUBLE) - mn) * 255) / (mx - mn)) AS INT)) AS qs
      |  FROM e WHERE mx > mn),
      |err AS (
      |  SELECT vec_id, label,
      |    CAST(list_aggregate(qs, 'sum') AS BIGINT) AS q_sum,
      |    list_max(list_transform(range(1, len(qs) + 1),
      |      i -> abs((mn + ((CAST(qs[CAST(i AS INT)] AS DOUBLE) * rng) / 255))
      |               - CAST(embedding[CAST(i AS INT)] AS DOUBLE)))) AS max_err
      |  FROM q)
      |SELECT label, count(*) AS n_vecs,
      |  CAST(sum(q_sum) AS BIGINT) AS total_q,
      |  max(max_err) AS max_err
      |FROM err GROUP BY label ORDER BY label""".stripMargin) { (s, dir) =>
    val e = Tables.embeddings(s, dir)
      .repartition(col("vec_id")) // single-file scan -> all cores
      .select(col("vec_id"), col("label"), col("embedding"),
        array_min(col("embedding")).cast("double").as("mn"),
        array_max(col("embedding")).cast("double").as("mx"))
      .filter(col("mx") > col("mn"))
      .withColumn("rng", col("mx") - col("mn"))
    val q = e.withColumn("qs",
      transform(col("embedding"),
        x => round(((x.cast("double") - col("mn")) * 255) / col("rng")).cast("int")))
    val err = q.select(
      col("label"),
      aggregate(col("qs"), lit(0L), (acc, x) => acc + x).as("q_sum"),
      array_max(zip_with(col("qs"), col("embedding"),
        (qi, v) => abs((col("mn") + ((qi.cast("double") * col("rng")) / 255))
          - v.cast("double")))).as("max_err"))
    err.groupBy(col("label"))
      .agg(
        count(lit(1)).as("n_vecs"),
        sum(col("q_sum")).as("total_q"),
        max(col("max_err")).as("max_err"))
      .orderBy("label")
  }

  /** Product quantization (q73) — the compression half of a real ANN
    * index (IVF-PQ): split the 64-dim vector into 8 contiguous 8-dim
    * subspaces, quantize each against a 16-entry per-subspace codebook
    * (centroids = the vec_id<16 vectors' slices — deterministic, so
    * the oracle can rebuild the identical codebook), and emit each
    * vector's 8-byte code word plus its integer-scaled reconstruction
    * error.
    *
    * Scale design: the codebook is k×m×d floats (16×8×8 here) —
    * broadcast, so assignment is map-side over the corpus; the only
    * shuffle is the per-vector final fold, which a production variant
    * folds into the projection itself (a native expression computing
    * all m argmins in one loop, like [[graft.functions.LshBucket]]).
    * Expressed relationally here so every distance, argmin tie-break,
    * and the error sum stay DuckDB-checkable: distances are left-
    * associated double term sums (bit-exact), argmin ties break on
    * cid, and the error aggregates as floor(dist·1e6) BIGINTs so the
    * sum is order-independent.
    */
  val q73Pq: QueryDef = {
    val NSUB = 8 // subspaces
    val DSUB = 8 // dims per subspace
    val KPQ = 16 // codebook entries per subspace
    def termSql(d: Int): String = {
      val a = s"CAST(v.embedding[(s-1)*$DSUB+$d] AS DOUBLE)"
      val b = s"CAST(c.cvec[(s-1)*$DSUB+$d] AS DOUBLE)"
      s"(($a - $b) * ($a - $b))"
    }
    val distSql = (1 to DSUB).map(termSql).reduce((a, b) => s"($a + $b)")
    val oracle =
      s"""WITH cents AS (
         |  SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id < $KPQ),
         |d AS (
         |  SELECT v.vec_id, c.cid, s, $distSql AS dist
         |  FROM embeddings v, cents c, unnest(range(1, ${NSUB + 1})) AS t(s)),
         |best AS (
         |  SELECT vec_id, s, cid, dist,
         |    row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, cid) AS rn
         |  FROM d)
         |SELECT vec_id,
         |  string_agg(CAST(cid AS VARCHAR), '-' ORDER BY s) AS codes,
         |  CAST(sum(CAST(floor(dist * 1000000.0) AS BIGINT)) AS BIGINT) AS err_scaled
         |FROM best WHERE rn = 1
         |GROUP BY vec_id ORDER BY vec_id""".stripMargin

    QueryDef("q73_pq", oracle) { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val cents = emb.filter(col("vec_id") < KPQ)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      def dist: Column = (1 to DSUB).map { d =>
        val idx = ((col("s") - 1) * DSUB + d).cast("int")
        val a = element_at(col("embedding"), idx).cast("double")
        val b = element_at(col("cvec"), idx).cast("double")
        (a - b) * (a - b)
      }.reduce(_ + _)
      val d = emb
        .repartition(col("vec_id")) // single-file scan -> use every core
        .crossJoin(broadcast(cents))
        .select(col("vec_id"), col("cid"),
          explode(sequence(lit(1), lit(NSUB))).as("s"),
          col("embedding"), col("cvec"))
        .select(col("vec_id"), col("cid"), col("s"), dist.as("dist"))
      val w = Window.partitionBy(col("vec_id"), col("s"))
        .orderBy(col("dist"), col("cid"))
      d.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .groupBy(col("vec_id"))
        .agg(
          array_join(transform(
            array_sort(collect_list(struct(col("s"), col("cid")))),
            x => x.getField("cid").cast("string")), "-").as("codes"),
          sum(floor(col("dist") * 1000000.0)).cast("long").as("err_scaled"))
        .orderBy("vec_id")
    }
  }

  /** THE IVF implementation — one set of frames feeding every IVF
    * query (q82 = nprobe-1 baseline, q145 = multi-probe recall,
    * q166 = NDCG), so the index semantics cannot drift between the
    * baseline and the audits.
    *
    * At scale the assignment is the write-time `PARTITIONED BY (cid)`
    * layout, so a probe scans |cells probed| cell directories — the
    * same pruning PlanAuditSpec proves for the LSH layout — while
    * probe lists and the query set stay broadcast. Cosines are the
    * codegen'd [[graft.functions.CosineSimilarity]], bit-identical to
    * the oracle's explicit term sums. */
  private[graft] object IvfIndex {
    /** Norm-hoisted cosine (r13, guide step 4): `cosine_sim(x, y)`
      * evaluates THREE dot loops per pair; every pair stage below
      * instead carries each side's norm `sqrt(Σxᵢ²)` as a per-ROW
      * column and evaluates `dot / (nx·ny)` per pair. Bit-identical:
      * the norm is the same left-associated chain the native loop
      * accumulates (just evaluated once per row instead of once per
      * pair), IEEE multiplication is commutative, and the division is
      * unchanged — measured 447/447 hash-green. Pair-stage FLOPs drop
      * 3×. */
    private def norm(v: String): Column = sqrt(expr(s"dot_product($v, $v)"))

    /** Broadcast coarse-centroid frame (cid, vc, cn). */
    def centroids(e: DataFrame): DataFrame =
      broadcast(e.filter(col("vec_id") < NCENT)
        .select(col("vec_id").as("cid"), col("embedding").as("vc"))
        .withColumn("cn", norm("vc")))

    /** Corpus→cell assignment (vec_id, cid, v, vn, acs), checkpointed
      * once per query: built once, feeds query routing AND candidates.
      * `acs` is the assignment cosine (vector↔own centroid) — q291's
      * cone-prune derives each cell's angular radius from it; `vn` is
      * the hoisted norm for downstream pair stages; other consumers
      * project both away. */
    def assign(e: DataFrame, cent: DataFrame): DataFrame = {
      val aw = Window.partitionBy(col("vec_id")).orderBy(col("cs").desc, col("cid"))
      e.repartition(col("vec_id"))
        .select(col("vec_id"), col("embedding").as("v"))
        .withColumn("vn", norm("v"))
        .crossJoin(cent)
        .select(col("vec_id"), col("v"), col("vn"), col("cid"),
          (expr("dot_product(v, vc)") / nullif(col("vn") * col("cn"), lit(0d))).as("cs"))
        .withColumn("rn", row_number().over(aw))
        .filter(col("rn") === 1)
        .select(col("vec_id"), col("cid"), col("v"), col("vn"),
          col("cs").as("acs"))
        .ckpt()
    }

    /** Query set (qid, qv, qn) — read off the assignment frame. */
    def querySet(assign: DataFrame, nq: Int): DataFrame =
      assign.filter(col("vec_id") < nq)
        .select(col("vec_id").as("qid"), col("v").as("qv"),
          col("vn").as("qn"))

    /** Broadcast probe list (qid, qv, qn, cid, crank ≤ maxProbe):
      * every query ranks all NCENT centroids; crank ≤ np are the cells
      * probed at level np. At maxProbe = 1 this is exactly
      * route-to-own-cell (the query's crank-1 centroid IS its
      * assignment — same cosine, same (cs DESC, cid) tiebreak). */
    def probes(q: DataFrame, cent: DataFrame, maxProbe: Int): DataFrame = {
      val pw = Window.partitionBy(col("qid")).orderBy(col("cs").desc, col("cid"))
      broadcast(q.crossJoin(cent)
        .select(col("qid"), col("qv"), col("qn"), col("cid"),
          (expr("dot_product(qv, vc)") / nullif(col("qn") * col("cn"), lit(0d))).as("cs"))
        .withColumn("crank", row_number().over(pw))
        .filter(col("crank") <= maxProbe)
        .select(col("qid"), col("qv"), col("qn"), col("cid"), col("crank")))
    }

    /** Scored candidates (qid, crank, vec_id, cs): members of every
      * probed cell, self excluded — |cells probed| × cell size rows,
      * never the corpus. */
    def candidates(pc: DataFrame, assign: DataFrame): DataFrame =
      pc.join(assign, Seq("cid"))
        .filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("crank"), col("vec_id"),
          (expr("dot_product(v, qv)") / nullif(col("vn") * col("qn"), lit(0d))).as("cs"))

    /** Exact truth (qid, vec_id, rn ≤ topk): one corpus pass against
      * the broadcast query set; the rn ≤ topk window plants the
      * TopKPerKey map-side heap prune. */
    def exactTruth(e: DataFrame, q: DataFrame, topk: Int): DataFrame = {
      val tw = Window.partitionBy(col("qid")).orderBy(col("cs").desc, col("vec_id"))
      val qn = broadcast(q.withColumn("qn", norm("qv")))
      e.repartition(col("vec_id"))
        .select(col("vec_id"), col("embedding").as("v"))
        .withColumn("vn", norm("v"))
        .crossJoin(qn)
        .filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"),
          (expr("dot_product(v, qv)") / nullif(col("vn") * col("qn"), lit(0d))).as("cs"))
        .withColumn("rn", row_number().over(tw))
        .filter(col("rn") <= topk)
    }
  }

  /** IVF search (q82) — the retrieval half q43's cell build exists
    * for: the [[IvfIndex]] machinery at nprobe = 1 (IVF-Flat
    * baseline), ranking only the query's own cell's members with the
    * exact native cosine. q145/q166 carry the multi-probe recall and
    * NDCG stories over the SAME index frames. */
  val q82IvfSearch: QueryDef = {
    val NQ = 5 // query set: vec_id < 5
    val TOPK = 3
    QueryDef(
      "q82_ivf_search",
      s"""WITH cent AS (SELECT vec_id AS cid, embedding AS vc FROM embeddings WHERE vec_id < $NCENT),
         |e AS (SELECT vec_id, embedding AS v FROM embeddings),
         |a AS (
         |  SELECT e.vec_id, cent.cid, ${cosSql("e.v", "cent.vc")} AS cs
         |  FROM e, cent),
         |assign AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid) AS rn
         |    FROM a) WHERE rn = 1),
         |q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < $NQ),
         |cand AS (
         |  SELECT q.qid, c.vec_id, ${cosSql("e.v", "q.qv")} AS cos_sim
         |  FROM q
         |  JOIN assign qa ON qa.vec_id = q.qid
         |  JOIN assign c ON c.cid = qa.cid AND c.vec_id <> q.qid
         |  JOIN e ON e.vec_id = c.vec_id)
         |SELECT qid, vec_id, cos_sim, rank FROM (
         |  SELECT qid, vec_id, cos_sim,
         |    row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, vec_id) AS rank
         |  FROM cand) WHERE rank <= $TOPK
         |ORDER BY qid, rank""".stripMargin) { (s, dir) =>
      val e = Tables.embeddings(s, dir)
      val cent = IvfIndex.centroids(e)
      val assign = IvfIndex.assign(e, cent)
      val q = IvfIndex.querySet(assign, NQ)
      // nprobe=1: the probe list IS route-to-own-cell (the oracle's
      // assign-join formulation — value-identical, see IvfIndex.probes)
      val cand = IvfIndex.candidates(IvfIndex.probes(q, cent, maxProbe = 1), assign)
      val rw = Window.partitionBy(col("qid")).orderBy(col("cs").desc, col("vec_id"))
      // DuckDB row_number() is BIGINT where Spark's is INT
      cand.withColumn("rank", row_number().over(rw).cast("long"))
        .filter(col("rank") <= TOPK)
        .select(col("qid"), col("vec_id"), col("cs").as("cos_sim"), col("rank"))
        .orderBy("qid", "rank")
    }
  }

  /** q145 — multi-probe IVF search with an in-engine recall audit:
    * the answer to "nprobe=1 is a thin ANN story". Each query ranks
    * ALL coarse centroids (a broadcast 8-row frame), probes its
    * nprobe ∈ {1, 2, 4} nearest cells, ranks the pruned candidates
    * with the exact native cosine, and is scored against the TRUE
    * top-10 — so the recall/nprobe tradeoff curve that sizes a
    * production index is itself an oracle-gated result, the q135
    * pattern applied to IVF.
    *
    * Scale design: the corpus shuffles once into cells (write-time
    * `PARTITIONED BY (cid)` layout — q82's argument); probe lists and
    * the query set are broadcast; candidates are |cells probed| ×
    * cell size, never the corpus. The exact-truth side scans the
    * corpus once against the broadcast query set, and its per-query
    * top-10 window is planted as [[graft.plans.TopKPerKey]] by
    * [[graft.plans.RowNumberTopKRewrite]] — a map-side heap prune,
    * no per-query sort of the corpus. Recall is monotone in nprobe
    * by construction (candidate sets are nested) — pinned in
    * SkylinePhashSpec's sibling, DedupSimilaritySpec. */
  val q145IvfMultiprobe: QueryDef = {
    val NQ = 5    // query set: vec_id < 5
    val TOPK = 10 // truth depth
    QueryDef(
      "q145_ivf_multiprobe",
      s"""WITH cent AS (SELECT vec_id AS cid, embedding AS vc FROM embeddings WHERE vec_id < $NCENT),
         |e AS (SELECT vec_id, embedding AS v FROM embeddings),
         |a AS (
         |  SELECT e.vec_id, cent.cid, ${cosSql("e.v", "cent.vc")} AS cs
         |  FROM e, cent),
         |assign AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid) AS rn
         |    FROM a) WHERE rn = 1),
         |q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < $NQ),
         |pcs AS (
         |  SELECT q.qid, cent.cid, ${cosSql("q.qv", "cent.vc")} AS cs
         |  FROM q, cent),
         |pc AS (
         |  SELECT qid, cid,
         |    row_number() OVER (PARTITION BY qid ORDER BY cs DESC, cid) AS crank
         |  FROM pcs),
         |cand AS (
         |  SELECT pc.qid, pc.crank, m.vec_id, ${cosSql("e.v", "q.qv")} AS cs
         |  FROM pc
         |  JOIN assign m ON m.cid = pc.cid AND m.vec_id <> pc.qid
         |  JOIN e ON e.vec_id = m.vec_id
         |  JOIN q ON q.qid = pc.qid
         |  WHERE pc.crank <= 4),
         |lvl AS (
         |  SELECT c.qid, np.np, c.vec_id, c.cs,
         |    row_number() OVER (PARTITION BY c.qid, np.np ORDER BY c.cs DESC, c.vec_id) AS rn
         |  FROM cand c, (VALUES (1), (2), (4)) np(np)
         |  WHERE c.crank <= np.np),
         |ncand AS (
         |  SELECT qid, np, CAST(count(*) AS BIGINT) AS n_cand
         |  FROM lvl GROUP BY qid, np),
         |truth AS (
         |  SELECT qid, vec_id FROM (
         |    SELECT q.qid, e.vec_id,
         |      row_number() OVER (PARTITION BY q.qid ORDER BY ${cosSql("e.v", "q.qv")} DESC, e.vec_id) AS rn
         |    FROM q, e WHERE e.vec_id <> q.qid) WHERE rn <= $TOPK),
         |hits AS (
         |  SELECT l.qid, l.np, CAST(count(t.vec_id) AS BIGINT) AS n_hit
         |  FROM lvl l LEFT JOIN truth t ON t.qid = l.qid AND t.vec_id = l.vec_id
         |  WHERE l.rn <= $TOPK
         |  GROUP BY l.qid, l.np),
         |base AS (SELECT qid, np FROM q, (VALUES (1), (2), (4)) np(np))
         |SELECT b.qid AS qid, CAST(b.np AS BIGINT) AS nprobe,
         |  coalesce(nc.n_cand, 0) AS n_cand,
         |  coalesce(h.n_hit, 0) AS n_hit,
         |  (1000000 * coalesce(h.n_hit, 0)) // $TOPK AS recall_ppm
         |FROM base b
         |LEFT JOIN ncand nc ON nc.qid = b.qid AND nc.np = b.np
         |LEFT JOIN hits h ON h.qid = b.qid AND h.np = b.np
         |ORDER BY b.qid, nprobe""".stripMargin) { (s, dir) =>
      import s.implicits._
      val npDf = broadcast(Seq(1, 2, 4).toDF("np"))
      val e = Tables.embeddings(s, dir)
      val cent = IvfIndex.centroids(e)
      val assign = IvfIndex.assign(e, cent)
      val q = IvfIndex.querySet(assign, NQ)
      val cand = IvfIndex.candidates(IvfIndex.probes(q, cent, maxProbe = 4), assign)
      val lvl = cand
        .crossJoin(npDf)
        .filter(col("crank") <= col("np"))
      val lw = Window.partitionBy(col("qid"), col("np"))
        .orderBy(col("cs").desc, col("vec_id"))
      val lvlRn = lvl.withColumn("rn", row_number().over(lw)).ckpt()
      val ncand = lvlRn.groupBy(col("qid"), col("np"))
        .agg(count(lit(1)).as("n_cand"))
      val truth = IvfIndex.exactTruth(e, q, TOPK)
        .select(col("qid"), col("vec_id").as("tvid"))
      val hits = lvlRn.filter(col("rn") <= TOPK)
        .join(truth,
          truth("qid") === lvlRn("qid") && col("tvid") === lvlRn("vec_id"),
          "left")
        .groupBy(lvlRn("qid").as("qid"), col("np"))
        .agg(count(col("tvid")).as("n_hit"))
      val base = q.select(col("qid")).crossJoin(npDf)
      base
        .join(ncand, Seq("qid", "np"), "left")
        .join(hits, Seq("qid", "np"), "left")
        .select(col("qid"), col("np").cast("bigint").as("nprobe"),
          coalesce(col("n_cand"), lit(0L)).as("n_cand"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"),
          expr(s"(1000000 * coalesce(n_hit, 0L)) div $TOPK").as("recall_ppm"))
        .orderBy("qid", "nprobe")
    }
  }

  /** q147 — PQ recall audit via asymmetric distance computation (ADC),
    * q145's "measure, don't guess" applied to product quantization:
    * every corpus vector is represented by its q73 codes, each query
    * precomputes its distance to every codebook entry per subspace
    * (a 5×8×16 lookup table — broadcast), the approximate distance is
    * the SUM OF TABLE LOOKUPS (never touching the corpus floats — the
    * whole point of PQ), and the approximate top-10 is scored against
    * the exact L2 top-10.
    *
    * Scale design: the corpus contributes one (vec, subspace, code)
    * assignment pass (q73's plan) and is joined against the broadcast
    * lookup table — no corpus shuffle; both top-10 windows plant
    * [[graft.plans.TopKPerKey]] heap prunes. Portability: per-subspace
    * distances are floored to integer micro-units BEFORE the
    * 8-term sum, so the aggregate is order-free and exact in both
    * engines; the exact-truth distance is one left-associated 64-term
    * IEEE expression, bit-identical in both. */
  val q147PqRecall: QueryDef = {
    val NSUB = 8; val DSUB = 8; val KPQ = 16
    val NQ = 5; val TOPK = 10
    def subDistSql(x: String, y: String): String =
      (1 to DSUB).map { d =>
        val a = s"CAST($x[(s-1)*$DSUB+$d] AS DOUBLE)"
        val b = s"CAST($y[(s-1)*$DSUB+$d] AS DOUBLE)"
        s"(($a - $b) * ($a - $b))"
      }.reduce((a, b) => s"($a + $b)")
    def fullDistSql(x: String, y: String): String =
      (1 to NSUB * DSUB).map { d =>
        val a = s"CAST($x[$d] AS DOUBLE)"
        val b = s"CAST($y[$d] AS DOUBLE)"
        s"(($a - $b) * ($a - $b))"
      }.reduce((a, b) => s"($a + $b)")
    QueryDef(
      "q147_pq_recall",
      s"""WITH cents AS (
         |  SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id < $KPQ),
         |sub AS (SELECT CAST(s AS BIGINT) AS s FROM unnest(range(1, ${NSUB + 1})) AS t(s)),
         |asg AS (
         |  SELECT vec_id, s, cid AS code FROM (
         |    SELECT v.vec_id, sub.s, c.cid,
         |      row_number() OVER (PARTITION BY v.vec_id, sub.s
         |        ORDER BY ${subDistSql("v.embedding", "c.cvec")}, c.cid) AS rn
         |    FROM embeddings v, cents c, sub) WHERE rn = 1),
         |q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < $NQ),
         |lut AS (
         |  SELECT q.qid, sub.s, c.cid,
         |    CAST(floor((${subDistSql("q.qv", "c.cvec")}) * 1000000.0) AS BIGINT) AS dsc
         |  FROM q, cents c, sub),
         |approx AS (
         |  SELECT l.qid, a.vec_id, CAST(sum(l.dsc) AS BIGINT) AS adist
         |  FROM asg a JOIN lut l ON l.s = a.s AND l.cid = a.code
         |  WHERE a.vec_id <> l.qid
         |  GROUP BY l.qid, a.vec_id),
         |atop AS (
         |  SELECT qid, vec_id FROM (
         |    SELECT qid, vec_id,
         |      row_number() OVER (PARTITION BY qid ORDER BY adist, vec_id) AS rn
         |    FROM approx) WHERE rn <= $TOPK),
         |truth AS (
         |  SELECT qid, vec_id FROM (
         |    SELECT q.qid, e.vec_id,
         |      row_number() OVER (PARTITION BY q.qid
         |        ORDER BY ${fullDistSql("e.embedding", "q.qv")}, e.vec_id) AS rn
         |    FROM embeddings e, q WHERE e.vec_id <> q.qid) WHERE rn <= $TOPK)
         |SELECT a.qid, CAST(count(t.vec_id) AS BIGINT) AS n_hit,
         |  (1000000 * CAST(count(t.vec_id) AS BIGINT)) // $TOPK AS recall_ppm
         |FROM atop a LEFT JOIN truth t ON t.qid = a.qid AND t.vec_id = a.vec_id
         |GROUP BY a.qid ORDER BY a.qid""".stripMargin) { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val cents = broadcast(emb.filter(col("vec_id") < KPQ)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec")))
      def subDist(x: String, y: String): Column = (1 to DSUB).map { d =>
        val idx = ((col("s") - 1) * DSUB + d).cast("int")
        val a = element_at(col(x), idx).cast("double")
        val b = element_at(col(y), idx).cast("double")
        (a - b) * (a - b)
      }.reduce(_ + _)
      def fullDist(x: String, y: String): Column = (1 to NSUB * DSUB).map { d =>
        val a = element_at(col(x), d).cast("double")
        val b = element_at(col(y), d).cast("double")
        (a - b) * (a - b)
      }.reduce(_ + _)
      val aw = Window.partitionBy(col("vec_id"), col("s"))
        .orderBy(col("sd"), col("cid"))
      val asg = emb.repartition(col("vec_id"))
        .select(col("vec_id"), col("embedding"))
        .crossJoin(cents)
        .select(col("vec_id"), col("cid"),
          explode(sequence(lit(1L), lit(NSUB.toLong))).as("s"),
          col("embedding"), col("cvec"))
        .select(col("vec_id"), col("cid"), col("s"),
          subDist("embedding", "cvec").as("sd"))
        .withColumn("rn", row_number().over(aw))
        .filter(col("rn") === 1)
        .select(col("vec_id"), col("s"), col("cid").as("code"))
        .ckpt()
      val q = emb.filter(col("vec_id") < NQ)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val lut = broadcast(q.crossJoin(cents)
        .select(col("qid"), col("cid"),
          explode(sequence(lit(1L), lit(NSUB.toLong))).as("s"),
          col("qv"), col("cvec"))
        .select(col("qid"), col("s"), col("cid"),
          floor(subDist("qv", "cvec") * 1000000.0).cast("long").as("dsc")))
      val approx = asg
        .join(lut, lut("s") === asg("s") && lut("cid") === col("code"))
        .filter(col("vec_id") =!= col("qid"))
        .groupBy(col("qid"), col("vec_id"))
        .agg(sum(col("dsc")).as("adist"))
      val rw = Window.partitionBy(col("qid")).orderBy(col("adist"), col("vec_id"))
      val atop = approx.withColumn("rn", row_number().over(rw))
        .filter(col("rn") <= TOPK)
        .select(col("qid"), col("vec_id"))
      val tw = Window.partitionBy(col("qid")).orderBy(col("td"), col("vec_id"))
      val truth = emb.repartition(col("vec_id"))
        .select(col("vec_id"), col("embedding"))
        .crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"), fullDist("embedding", "qv").as("td"))
        .withColumn("rn", row_number().over(tw))
        .filter(col("rn") <= TOPK)
        .select(col("qid"), col("vec_id").as("tvid"))
      atop
        .join(truth,
          truth("qid") === atop("qid") && col("tvid") === atop("vec_id"), "left")
        .groupBy(atop("qid").as("qid"))
        .agg(count(col("tvid")).as("n_hit"))
        .select(col("qid"), col("n_hit"),
          expr(s"(1000000 * n_hit) div $TOPK").as("recall_ppm"))
        .orderBy("qid")
    }
  }

  /** q154 — embedding-space drift: per label, the cosine between the
    * centroid of even-id vectors and the centroid of odd-id vectors —
    * the "has this class's embedding distribution moved" audit that
    * decides when an ANN index or a classifier head needs a refresh
    * (the two halves stand in for the old/new snapshots of a corpus).
    *
    * Exactness: cosine is scale-invariant, so centroid cosine equals
    * SUM-vector cosine and no division by n ever happens. Components
    * are floored to integer micro-units BEFORE summing, making every
    * per-dimension sum exact and order-free (a raw float sum would be
    * partitioning-dependent); the dot/norm moments then accumulate in
    * DECIMAL(38,0) (exact — they overflow int64 at production row
    * counts) and only the final cosine is one IEEE chain, identical
    * in both engines.
    *
    * Scale design: one posexplode pass (rows × 64 dims) into ONE
    * partial-aggregable (label, dim) aggregate carrying BOTH halves
    * as conditional sums — no per-half self-join ever forms (the
    * r4-era shape joined c(half=0) to c(half=1); conditional
    * aggregation deletes that exchange+join outright). The p filter
    * (both halves present) reproduces the old inner-join semantics
    * for a label missing one half. Everything after the explode-agg
    * runs on |labels|·64 rows. */
  val q154EmbeddingDrift: QueryDef = QueryDef(
    "q154_embedding_drift",
    """WITH c AS (
      |  SELECT label, t.d,
      |    CAST(sum(CASE WHEN vec_id % 2 = 0 THEN
      |      CAST(floor(CAST(embedding[CAST(t.d AS INT)] AS DOUBLE) * 1000000) AS BIGINT) END) AS BIGINT) AS sa,
      |    CAST(sum(CASE WHEN vec_id % 2 = 1 THEN
      |      CAST(floor(CAST(embedding[CAST(t.d AS INT)] AS DOUBLE) * 1000000) AS BIGINT) END) AS BIGINT) AS sb
      |  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(d)
      |  GROUP BY label, t.d),
      |p AS (
      |  SELECT label, d, sa, sb FROM c
      |  WHERE sa IS NOT NULL AND sb IS NOT NULL),
      |m AS (
      |  SELECT label,
      |    CAST(sum(CAST(sa AS HUGEINT) * sb) AS DOUBLE) AS dot,
      |    CAST(sum(CAST(sa AS HUGEINT) * sa) AS DOUBLE) AS na,
      |    CAST(sum(CAST(sb AS HUGEINT) * sb) AS DOUBLE) AS nb
      |  FROM p GROUP BY label),
      |h AS (
      |  SELECT label, CAST(count(CASE WHEN vec_id % 2 = 0 THEN 1 END) AS BIGINT) AS n_even,
      |    CAST(count(CASE WHEN vec_id % 2 = 1 THEN 1 END) AS BIGINT) AS n_odd
      |  FROM embeddings GROUP BY label)
      |SELECT m.label, h.n_even, h.n_odd,
      |  CAST(floor(1000000.0 * m.dot / (sqrt(m.na) * sqrt(m.nb))) AS BIGINT) AS cos_ppm
      |FROM m JOIN h ON h.label = m.label
      |ORDER BY m.label""".stripMargin) { (s, dir) =>
    val e = Tables.embeddings(s, dir)
    val p = e.repartition(col("vec_id"))
      .select(col("label"), (col("vec_id") % 2).as("half"),
        posexplode(col("embedding")).as(Seq("d0", "v")))
      // DuckDB WITH ORDINALITY is 1-based; posexplode is 0-based
      .select(col("label"), col("half"), (col("d0") + 1).as("d"),
        floor(col("v").cast("double") * 1000000).cast("long").as("sv"))
      .groupBy(col("label"), col("d"))
      .agg(sum(when(col("half") === 0, col("sv"))).as("sa"),
        sum(when(col("half") === 1, col("sv"))).as("sb"))
      .filter(col("sa").isNotNull && col("sb").isNotNull)
    val m = p.groupBy(col("label"))
      .agg(
        sum(col("sa").cast("decimal(38,0)") * col("sb").cast("decimal(38,0)"))
          .cast("double").as("dot"),
        sum(col("sa").cast("decimal(38,0)") * col("sa").cast("decimal(38,0)"))
          .cast("double").as("na"),
        sum(col("sb").cast("decimal(38,0)") * col("sb").cast("decimal(38,0)"))
          .cast("double").as("nb"))
    val h = e.groupBy(col("label"))
      .agg(count(when(col("vec_id") % 2 === 0, 1)).as("n_even"),
        count(when(col("vec_id") % 2 === 1, 1)).as("n_odd"))
    m.join(h, Seq("label"))
      .select(col("label"), col("n_even"), col("n_odd"),
        // nullif guard (r14): zero-norm centroid → NULL in BOTH engines
        // (DuckDB's x/0 is natively NULL) instead of an ANSI throw
        floor(lit(1000000.0) * col("dot") /
            nullif(sqrt(col("na")) * sqrt(col("nb")), lit(0d)))
          .cast("long").as("cos_ppm"))
      .orderBy("label")
  }

  /** The SQL dialect surface (q84): the whole query is a `spark.sql`
    * string over a temp view, exercising the native expressions
    * (`cosine_sim`, `lsh_bucket`) through the FunctionRegistry the
    * same way an external SQL user would — the GraftExtensions path,
    * not the Column DSL. Aggregates are chosen
    * order-independent (count / max of bit-exact doubles / min id) so
    * the oracle hash-matches under any parallelism. */
  val q84SqlSurface: QueryDef = QueryDef(
    "q84_sql_surface",
    s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
       |e AS (SELECT vec_id, embedding AS v FROM embeddings)
       |SELECT ${lshBucketSql("e.v", PLANES)} AS bucket, count(*) AS n_vecs,
       |  max(${cosSql("e.v", "q.qv")}) AS max_cos,
       |  min(e.vec_id) AS min_vec
       |FROM e, q
       |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    Tables.embeddings(s, dir).createOrReplaceTempView("graft_embeddings")
    s.sql(s"""
      WITH q AS (SELECT embedding AS qv FROM graft_embeddings WHERE vec_id = 0)
      SELECT lsh_bucket(embedding, $PLANES, 64) AS bucket, count(*) AS n_vecs,
        max(cosine_sim(embedding, q.qv)) AS max_cos,
        min(vec_id) AS min_vec
      FROM graft_embeddings, q
      GROUP BY 1 ORDER BY 1""")
  }

  /** q166 — NDCG@10 of the multi-probe IVF search: q145 measures
    * recall (set overlap with exact truth); NDCG is the RANK-AWARE
    * complement — a system that finds all ten true neighbors but in
    * scrambled order scores 1.0 recall yet < 1.0 NDCG, and one that
    * nails the top ranks is rewarded even when the tail is missing.
    * Graded relevance is derived from the exact ranking itself
    * (rel = 11 − truth rank, 0 for non-neighbors), the standard
    * label-free gain assignment for self-audit.
    *
    * Exactness: the 1/log₂(i+1) discount table is precomputed in
    * Scala and inlined as INTEGER literals into both plans — so the
    * whole metric (gain × weight dot product, NDCG as ppm of the
    * closed-form ideal DCG) is pure int64 with zero runtime float
    * ops; no log evaluation ever happens in either engine.
    *
    * Scale design (100 TB): identical to q145 — assignment and truth
    * are one corpus pass each against broadcast centroids/queries
    * (the truth top-10 window plants the TopKPerKey heap prune), the
    * probe list is a broadcast |q|×NCENT frame, and the NDCG algebra
    * runs on ≤ |q|·|np-levels|·10 rows. */
  val q166IvfNdcg: QueryDef = {
    val NQ = 5    // query set: vec_id < 5 (q145's)
    val TOPK = 10 // list depth
    // floor(1e6 / log2(i+1)) — IEEE-fixed at build time, inlined as
    // integer literals so neither engine evaluates a log at runtime
    val w: IndexedSeq[Long] =
      (1 to TOPK).map(i => math.floor(1e6 / (math.log(i + 1.0) / math.log(2.0))).toLong)
    val idcg: Long = (1 to TOPK).map(r => (11L - r) * w(r - 1)).sum
    val wtValuesSql = (1 to TOPK).map(i => s"(${i}, ${w(i - 1)})").mkString(", ")
    QueryDef(
      "q166_ivf_ndcg",
      s"""WITH cent AS (SELECT vec_id AS cid, embedding AS vc FROM embeddings WHERE vec_id < $NCENT),
         |e AS (SELECT vec_id, embedding AS v FROM embeddings),
         |a AS (
         |  SELECT e.vec_id, cent.cid, ${cosSql("e.v", "cent.vc")} AS cs
         |  FROM e, cent),
         |assign AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid) AS rn
         |    FROM a) WHERE rn = 1),
         |q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < $NQ),
         |pcs AS (
         |  SELECT q.qid, cent.cid, ${cosSql("q.qv", "cent.vc")} AS cs
         |  FROM q, cent),
         |pc AS (
         |  SELECT qid, cid,
         |    row_number() OVER (PARTITION BY qid ORDER BY cs DESC, cid) AS crank
         |  FROM pcs),
         |cand AS (
         |  SELECT pc.qid, pc.crank, m.vec_id, ${cosSql("e.v", "q.qv")} AS cs
         |  FROM pc
         |  JOIN assign m ON m.cid = pc.cid AND m.vec_id <> pc.qid
         |  JOIN e ON e.vec_id = m.vec_id
         |  JOIN q ON q.qid = pc.qid
         |  WHERE pc.crank <= 4),
         |lvl AS (
         |  SELECT c.qid, np.np, c.vec_id,
         |    row_number() OVER (PARTITION BY c.qid, np.np ORDER BY c.cs DESC, c.vec_id) AS rn
         |  FROM cand c, (VALUES (1), (2), (4)) np(np)
         |  WHERE c.crank <= np.np),
         |truth AS (
         |  SELECT qid, vec_id, rn FROM (
         |    SELECT q.qid, e.vec_id,
         |      row_number() OVER (PARTITION BY q.qid ORDER BY ${cosSql("e.v", "q.qv")} DESC, e.vec_id) AS rn
         |    FROM q, e WHERE e.vec_id <> q.qid) WHERE rn <= $TOPK),
         |wt AS (SELECT * FROM (VALUES $wtValuesSql) v(i, w)),
         |dcg AS (
         |  SELECT s.qid, s.np,
         |    CAST(sum(coalesce(11 - t.rn, 0) * w.w) AS BIGINT) AS dcg
         |  FROM lvl s JOIN wt w ON w.i = s.rn
         |  LEFT JOIN truth t ON t.qid = s.qid AND t.vec_id = s.vec_id
         |  WHERE s.rn <= $TOPK
         |  GROUP BY s.qid, s.np)
         |SELECT b.qid AS qid, CAST(b.np AS BIGINT) AS nprobe,
         |  coalesce(d.dcg, 0) AS dcg,
         |  (1000000 * coalesce(d.dcg, 0)) // $idcg AS ndcg_ppm
         |FROM (SELECT qid, np FROM q, (VALUES (1), (2), (4)) np(np)) b
         |LEFT JOIN dcg d ON d.qid = b.qid AND d.np = b.np
         |ORDER BY b.qid, nprobe""".stripMargin) { (s, dir) =>
      import s.implicits._
      val npDf = broadcast(Seq(1, 2, 4).toDF("np"))
      val wtDf = broadcast(w.zipWithIndex
        .map { case (wv, i0) => (i0 + 1, wv) }.toDF("i", "w"))
      val e = Tables.embeddings(s, dir)
      val cent = IvfIndex.centroids(e)
      val assign = IvfIndex.assign(e, cent)
      val q = IvfIndex.querySet(assign, NQ)
      val cand = IvfIndex.candidates(IvfIndex.probes(q, cent, maxProbe = 4), assign)
      val lw = Window.partitionBy(col("qid"), col("np"))
        .orderBy(col("cs").desc, col("vec_id"))
      val sys = cand
        .crossJoin(npDf)
        .filter(col("crank") <= col("np"))
        .withColumn("rn", row_number().over(lw))
        .filter(col("rn") <= TOPK)
        .select(col("qid"), col("np"), col("vec_id"), col("rn"))
      val truth = IvfIndex.exactTruth(e, q, TOPK)
        .select(col("qid").as("tqid"), col("vec_id").as("tvid"),
          col("rn").as("trn"))
      val dcg = sys
        .join(wtDf, col("i") === col("rn"))
        .join(truth,
          col("tqid") === sys("qid") && col("tvid") === sys("vec_id"), "left")
        .groupBy(sys("qid").as("qid"), col("np"))
        .agg(sum(coalesce(lit(11) - col("trn"), lit(0)) * col("w"))
          .cast("long").as("dcg"))
      q.select(col("qid")).crossJoin(npDf)
        .join(dcg, Seq("qid", "np"), "left")
        .select(col("qid"), col("np").cast("bigint").as("nprobe"),
          coalesce(col("dcg"), lit(0L)).as("dcg"),
          expr(s"(1000000 * coalesce(dcg, 0L)) div $idcg").as("ndcg_ppm"))
        .orderBy("qid", "nprobe")
    }
  }

  /** q176 — MMR (maximal-marginal-relevance) diversified rerank: from
    * the query's top-50 cosine candidates, greedily pick 5 results
    * maximizing relevance-minus-redundancy (λ = 1/2, so the argmax
    * reduces to rel − max-sim-to-selected in exact ppm integers). The
    * standard "don't return five near-duplicates" layer over any ANN
    * query (q40/q82/q145 produce the candidates; this diversifies
    * them) — retrieval quality the NDCG audit (q166) can't buy with
    * recall alone.
    *
    * Determinism: every pairwise cosine is floored to ppm BEFORE the
    * max/argmax decisions, so selection operates on exact integers;
    * ties break on vec_id. The cosines themselves are the native
    * `cosine_sim` expression ≡ the oracle's left-associated chain
    * (the q44 contract).
    *
    * Scale design (100 TB): the ONLY corpus-sized stage is candidate
    * generation — a TakeOrdered top-50 against the broadcast query
    * vector (per-partition heaps, no global sort). The greedy loop
    * runs K=5 bounded rounds over the checkpointed 50-row candidate
    * frame with the ≤5-row selected set broadcast — O(K·C) pairwise
    * cosines total, independent of corpus size. The oracle
    * materializes every round's CTE (the q150 DuckDB-inlining
    * lesson). */
  val q176MmrRerank: QueryDef = {
    val K = 5
    val rounds = (2 to K).map { k =>
      s"""p$k AS MATERIALIZED (
         |  SELECT c.vec_id,
         |    max(CAST(floor(1000000.0 * ${cosSql("c.v", "s.v")}) AS BIGINT)) AS pen
         |  FROM cand c, sel${k - 1} s
         |  WHERE c.vec_id NOT IN (SELECT vec_id FROM sel${k - 1})
         |  GROUP BY 1),
         |s$k AS MATERIALIZED (
         |  SELECT c.vec_id, c.v, c.rel, p.pen, $k AS pick
         |  FROM p$k p JOIN cand c USING (vec_id)
         |  ORDER BY c.rel - p.pen DESC, c.vec_id LIMIT 1),
         |sel$k AS MATERIALIZED (
         |  SELECT * FROM sel${k - 1} UNION ALL SELECT * FROM s$k)""".stripMargin
    }.mkString(",\n")
    val oracle =
      s"""WITH q AS (SELECT embedding AS vq FROM embeddings WHERE vec_id = 0),
         |cand AS MATERIALIZED (
         |  SELECT e.vec_id, e.embedding AS v,
         |    CAST(floor(1000000.0 * ${cosSql("e.embedding", "q.vq")}) AS BIGINT) AS rel
         |  FROM embeddings e, q WHERE e.vec_id <> 0
         |  ORDER BY rel DESC, e.vec_id LIMIT 50),
         |sel1 AS MATERIALIZED (
         |  SELECT vec_id, v, rel, CAST(0 AS BIGINT) AS pen, 1 AS pick
         |  FROM cand ORDER BY rel DESC, vec_id LIMIT 1),
         |$rounds
         |SELECT CAST(pick AS BIGINT) AS pick, vec_id, rel AS rel_ppm,
         |  pen AS pen_ppm
         |FROM sel$K ORDER BY pick""".stripMargin
    QueryDef("q176_mmr_rerank", oracle) { (s, dir) =>
      val e = Tables.embeddings(s, dir)
      val qv = broadcast(e.filter(col("vec_id") === 0)
        .select(col("embedding").as("vq")))
      val cand = e.filter(col("vec_id") =!= 0)
        .crossJoin(qv)
        .select(col("vec_id"), col("embedding").as("v"),
          floor(lit(1000000.0) * expr("cosine_sim(embedding, vq)"))
            .cast("bigint").as("rel"))
        .orderBy(col("rel").desc, col("vec_id")).limit(50)
        .ckpt()
      var sel = cand.orderBy(col("rel").desc, col("vec_id")).limit(1)
        .select(col("vec_id"), col("v"), col("rel"),
          lit(0L).as("pen"), lit(1).as("pick"))
        .ckpt()
      for (k <- 2 to K) {
        val pen = cand
          .join(sel.select(col("vec_id")), Seq("vec_id"), "left_anti")
          .crossJoin(broadcast(sel.select(col("v").as("sv"))))
          .select(col("vec_id"), col("rel"),
            floor(lit(1000000.0) * expr("cosine_sim(v, sv)"))
              .cast("bigint").as("p"))
          .groupBy(col("vec_id"), col("rel"))
          .agg(max(col("p")).as("pen"))
        val pick = pen.join(cand.select(col("vec_id"), col("v")), Seq("vec_id"))
          .orderBy((col("rel") - col("pen")).desc, col("vec_id")).limit(1)
          .select(col("vec_id"), col("v"), col("rel"), col("pen"),
            lit(k).as("pick"))
          .ckpt()
        sel = sel.unionByName(pick).ckpt()
      }
      sel.select(col("pick").cast("bigint").as("pick"), col("vec_id"),
          col("rel").as("rel_ppm"), col("pen").as("pen_ppm"))
        .orderBy("pick")
    }
  }

  private val MDIMS = Seq(8, 16, 32, 64) // matryoshka prefix lengths

  /** q229 — matryoshka (MRL) truncation quality: recall@10 of
    * prefix-truncated embeddings against the full-dimension ranking,
    * for prefix lengths 8/16/32/64. The dimension-vs-recall curve that
    * decides how short a matryoshka-trained embedding can be cut for
    * the cheap first-stage retrieval pass (search at d=8, rerank at
    * d=64 — the standard two-stage MRL deployment); d=64 is the
    * self-consistency row (recall 10⁶ ppm by construction).
    *
    * Determinism: all four cosines ride the [[VectorOps]] explicit
    * left-associated term sums (bit-exact across engines), every
    * per-query ranking breaks ties on vec_id, recall is an integer
    * count over the joined top-10 sets with one non-negative ppm
    * floor-div.
    *
    * Scale design (100 TB): one corpus pass computes all four prefix
    * cosines against the broadcast 10-query set (truncation is free —
    * a prefix sub-loop of the same row, no re-embedding, no second
    * scan); the frame is localCheckpointed so the four rankings and
    * the overlap join reuse it; per-(query, d) top-10 windows are the
    * q41-class brute-force truth pass, and the overlap join runs on
    * 4·100 top-k rows. */
  val q229Matryoshka: QueryDef = QueryDef(
    "q229_matryoshka", {
      val cosines = MDIMS.map(d => s"${cosSql("e.v", "q.vq", d)} AS c$d").mkString(",\n       |    ")
      val ranks = MDIMS.map(d =>
        s"""SELECT CAST($d AS BIGINT) AS d, qid, vec_id,
           |    row_number() OVER (PARTITION BY qid ORDER BY c$d DESC, vec_id) AS rn
           |  FROM c""".stripMargin).mkString("\n  UNION ALL\n  ")
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS vq FROM embeddings WHERE vec_id < $NQUERY),
       |e AS (SELECT vec_id, embedding AS v FROM embeddings),
       |c AS (
       |  SELECT q.qid, e.vec_id,
       |    $cosines
       |  FROM e JOIN q ON e.vec_id <> q.qid),
       |r AS (
       |  $ranks),
       |top AS (SELECT d, qid, vec_id FROM r WHERE rn <= 10),
       |full_d AS (SELECT qid, vec_id FROM top WHERE d = 64)
       |SELECT t.d, CAST(count(*) AS BIGINT) AS hits,
       |  CAST((1000000 * CAST(count(*) AS BIGINT)) // ${NQUERY * 10} AS BIGINT) AS recall_ppm
       |FROM top t JOIN full_d USING (qid, vec_id)
       |GROUP BY t.d ORDER BY t.d""".stripMargin
    }) { (s, dir) =>
    val e = Tables.embeddings(s, dir)
    val q = broadcast(e.filter(col("vec_id") < NQUERY)
      .select(col("vec_id").as("qid"), col("embedding").as("vq")))
    val c = e.repartition(col("vec_id")) // single-file scan -> all cores
      .select(col("vec_id"), col("embedding").as("v"))
      .join(q, col("vec_id") =!= col("qid"))
      .select(Seq(col("qid"), col("vec_id")) ++
        MDIMS.map(d => cosCol("v", "vq", d).as(s"c$d")): _*)
      .ckpt() // feeds all four rankings
    val top = MDIMS.map { d =>
      val w = Window.partitionBy(col("qid")).orderBy(col(s"c$d").desc, col("vec_id"))
      c.withColumn("rn", row_number().over(w)).filter(col("rn") <= 10)
        .select(lit(d.toLong).as("d"), col("qid"), col("vec_id"))
    }.reduce(_ unionAll _)
    val full = top.filter(col("d") === 64).select(col("qid"), col("vec_id"))
    top.join(full, Seq("qid", "vec_id"))
      .groupBy("d").agg(count(lit(1)).as("hits"))
      .select(col("d"), col("hits"),
        expr(s"(1000000 * hits) div ${NQUERY * 10}").as("recall_ppm"))
      .orderBy("d")
  }

  private val NANCHOR = 200 // hard-negative mining batch

  /** q273 — hard-negative mining for contrastive training: for each
    * anchor in the mining batch, the most similar SAME-label vector
    * (the easiest positive) and the most similar OTHER-label vector
    * (the hardest negative); the 20 anchors with the smallest margin
    * cos(pos) − cos(neg) are the training pairs worth gradient — a
    * negative OUTSCORING every positive (margin ≤ 0) is exactly the
    * confusion a contrastive update fixes, and uniform-random
    * negatives almost never find it. The mining step between q154
    * (is the space drifting?) and an embedding re-train.
    *
    * Exactness: cosines ride the native codegen `cosine_sim` ≡ the
    * oracle's left-associated term sums (bit-exact doubles, the q40
    * contract); both best-of picks are per-anchor windows with
    * vec_id tiebreaks; the margin is one double subtraction of
    * bit-identical operands; final order ties on vec_id.
    *
    * Scale design (100 TB): the anchor batch (a fixed mining shard —
    * successive runs cover the corpus) BROADCASTS against one corpus
    * scan; per-anchor windows partition on the anchor id (unbounded
    * key); top-20 is a TakeOrdered heap. At index-serving scale the
    * corpus scan swaps for the q145 IVF probe without touching this
    * shape. */
  val q273HardNegatives: QueryDef = QueryDef(
    "q273_hard_negatives",
    s"""WITH q AS (
       |  SELECT vec_id AS aid, label AS alab, embedding AS vq
       |  FROM embeddings WHERE vec_id < $NANCHOR),
       |c AS (
       |  SELECT q.aid, q.alab, e.vec_id, e.label,
       |    ${cosSql("e.embedding", "q.vq")} AS cs
       |  FROM embeddings e JOIN q ON e.vec_id <> q.aid),
       |p AS (
       |  SELECT aid, alab, vec_id AS pos_id, cs AS cos_pos,
       |    row_number() OVER (PARTITION BY aid ORDER BY cs DESC, vec_id) AS rn
       |  FROM c WHERE label = alab),
       |n AS (
       |  SELECT aid, vec_id AS neg_id, cs AS cos_neg,
       |    row_number() OVER (PARTITION BY aid ORDER BY cs DESC, vec_id) AS rn
       |  FROM c WHERE label <> alab)
       |SELECT p.aid AS anchor_id, p.alab AS label,
       |  p.pos_id, n.neg_id, p.cos_pos, n.cos_neg,
       |  p.cos_pos - n.cos_neg AS margin
       |FROM p JOIN n ON p.aid = n.aid AND p.rn = 1 AND n.rn = 1
       |ORDER BY margin, p.aid LIMIT 20""".stripMargin) { (s, dir) =>
    val e = Tables.embeddings(s, dir)
    val q = broadcast(e.filter(col("vec_id") < NANCHOR)
      .select(col("vec_id").as("aid"), col("label").as("alab"),
        col("embedding").as("vq")))
    val c = e.repartition(col("vec_id")) // single-file scan -> all cores
      .join(q, col("vec_id") =!= col("aid"))
      .select(col("aid"), col("alab"), col("vec_id"), col("label"),
        expr("cosine_sim(embedding, vq)").as("cs"))
      .ckpt() // one corpus scan feeds both best-of picks
    val w = Window.partitionBy(col("aid")).orderBy(col("cs").desc, col("vec_id"))
    val p = c.filter(col("label") === col("alab"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("aid"), col("alab"), col("vec_id").as("pos_id"),
        col("cs").as("cos_pos"))
    val n = c.filter(col("label") =!= col("alab"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("aid"), col("vec_id").as("neg_id"), col("cs").as("cos_neg"))
    p.join(n, Seq("aid"))
      .select(col("aid").as("anchor_id"), col("alab").as("label"),
        col("pos_id"), col("neg_id"), col("cos_pos"), col("cos_neg"),
        (col("cos_pos") - col("cos_neg")).as("margin"))
      .orderBy(col("margin"), col("anchor_id"))
      .limit(20)
  }

  /** q291 — label-noise audit by mutual nearest neighbors: every
    * vector's single nearest neighbor is computed, and the pairs
    * that are EACH OTHER'S nearest neighbor but carry DIFFERENT
    * labels are surfaced, most-similar first — the confident-
    * learning-style screen for mislabeled examples (two points that
    * reciprocally claim each other as closest are overwhelmingly
    * same-class in a clean corpus; a cross-label mutual pair is
    * either a labeling error or a genuinely ambiguous boundary
    * case, and both belong in a review queue before training).
    * q273 mines hard negatives GIVEN trusted labels; this questions
    * the labels themselves.
    *
    * Exactness: cosines are the native codegen `cosine_sim` ≡ the
    * oracle's left-associated term sums; the top-1 pick is a
    * per-vector window with vec_id tiebreak; mutuality is one
    * equi-join on the (nn(a)=b, nn(b)=a) pair; output ties break on
    * the pair ids.
    *
    * Scale design (100 TB): the NN pass rides the [[IvfIndex]] cell
    * assignment with EXACT triangle-inequality cell pruning (the
    * metric-tree bound, Fukunaga–Narendra/Elkan style, on angular
    * distance): for any vector x in cell c,
    * `cos(q, x) <= cos(max(0, θ(q,c) − r_c))` where r_c is the
    * cell's angular radius (acos of the minimum assignment cosine).
    * Each vector first ranks its OWN cell's members (equi-join on
    * cid) to get a best-so-far, then probes only the cells whose
    * cone bound can still beat it (−1e-9 float slack keeps the
    * prune strictly conservative, so the result is bit-identical to
    * the brute-force oracle at EVERY scale — an exact algorithm, not
    * an ANN approximation; IVF/LSH recall was measured at <70% for
    * mutual pairs on this near-uniform corpus, which would break the
    * hash gate). No whole-table broadcast and no non-equi self-join
    * anywhere in the plan: the only broadcasts are the NCENT-row
    * centroid and radius frames, and every data×data join is equi
    * (on cid or on the per-vector keys). On a clustered production
    * corpus the bound prunes most cells; on an adversarially uniform
    * corpus it degrades to the same O(N²) cosine work as brute force
    * but distributed across cell-pair tasks with per-task memory
    * bounded by cell size (NCENT scales with the corpus so cells
    * stay task-sized — the write-time `PARTITIONED BY (cid)` layout
    * of q82). */
  val q291LabelNoise: QueryDef = QueryDef(
    "q291_label_noise",
    s"""WITH e AS (SELECT vec_id, label, embedding AS v FROM embeddings),
       |c AS (
       |  SELECT a.vec_id AS src, b.vec_id AS dst, b.label AS dlab,
       |    ${cosSql("a.v", "b.v")} AS cs
       |  FROM e a JOIN e b ON a.vec_id <> b.vec_id),
       |nn AS (
       |  SELECT src, dst, cs FROM (
       |    SELECT src, dst, cs,
       |      row_number() OVER (PARTITION BY src ORDER BY cs DESC, dst) AS rn
       |    FROM c) WHERE rn = 1),
       |mutual AS (
       |  SELECT a.src AS ida, a.dst AS idb, a.cs
       |  FROM nn a JOIN nn b ON a.dst = b.src AND b.dst = a.src
       |  WHERE a.src < a.dst)
       |SELECT m.ida, m.idb, ea.label AS label_a, eb.label AS label_b, m.cs
       |FROM mutual m
       |JOIN e ea ON m.ida = ea.vec_id JOIN e eb ON m.idb = eb.vec_id
       |WHERE ea.label <> eb.label
       |ORDER BY m.cs DESC, m.ida""".stripMargin) { (s, dir) =>
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"), col("embedding"))
      .ckpt() // feeds the index build and both label lookups
    val cent = IvfIndex.centroids(e)
    val asg = IvfIndex.assign(e, cent) // (vec_id, cid, v, vn, acs)
    // pass 1 — own-cell exact candidates (equi-join on cid): gives
    // every vector a best-so-far cosine that prices the cone prune.
    // cosines use the hoisted per-row norms (bit-identical to
    // cosine_sim, 3× fewer pair-stage dot loops — see IvfIndex.norm)
    val ownCand = asg
      .select(col("cid"), col("vec_id").as("src"), col("v").as("qv"),
        col("vn").as("qn"))
      .join(asg.select(col("cid"), col("vec_id").as("dst"), col("v").as("v2"),
        col("vn").as("n2")), Seq("cid"))
      .filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst"),
        (expr("dot_product(qv, v2)") / nullif(col("qn") * col("n2"), lit(0d))).as("cs"))
    val best1 = ownCand.groupBy(col("src")).agg(max(col("cs")).as("best"))
    // per-cell angular radius r_c = acos(min member↔centroid cosine):
    // NCENT rows, broadcast
    val rad = broadcast(asg.groupBy(col("cid")).agg(min(col("acs")).as("minacs")))
    // pass 2 — cone-bound survivors: probe cell c for vector q only
    // if cos(max(0, θ(q,c) − r_c)) could still beat q's best-so-far
    // (left join: a singleton-cell vector has no best yet, probe all)
    val probe = asg
      .select(col("vec_id").as("src"), col("v").as("qv"), col("vn").as("qn"),
        col("cid").as("ocid"))
      .crossJoin(cent) // NCENT-row broadcast centroid frame
      .filter(col("cid") =!= col("ocid"))
      .select(col("src"), col("qv"), col("qn"), col("cid"),
        (expr("dot_product(qv, vc)") / nullif(col("qn") * col("cn"), lit(0d))).as("qcs"))
      .join(rad, Seq("cid"))
      .join(best1, Seq("src"), "left")
      .filter(col("best").isNull ||
        expr("cos(greatest(0d, acos(least(1d, greatest(-1d, qcs))) - " +
          "acos(least(1d, greatest(-1d, minacs)))))") >= col("best") - lit(1e-9))
      .select(col("src"), col("qv"), col("qn"), col("cid"))
    val otherCand = probe
      .join(asg.select(col("cid"), col("vec_id").as("dst"), col("v").as("v2"),
        col("vn").as("n2")), Seq("cid"))
      .select(col("src"), col("dst"),
        (expr("dot_product(qv, v2)") / nullif(col("qn") * col("n2"), lit(0d))).as("cs"))
    val w = Window.partitionBy(col("src")).orderBy(col("cs").desc, col("dst"))
    val nn = ownCand.unionByName(otherCand)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("src"), col("dst"), col("cs"))
      .ckpt() // both sides of the mutuality join
    val mutual = nn.as("a")
      .join(nn.select(col("src").as("bsrc"), col("dst").as("bdst")),
        col("dst") === col("bsrc") && col("bdst") === col("src"))
      .filter(col("src") < col("dst"))
      .select(col("src").as("ida"), col("dst").as("idb"), col("cs"))
    mutual
      .join(e.select(col("vec_id").as("ida"), col("label").as("label_a")),
        Seq("ida"))
      .join(e.select(col("vec_id").as("idb"), col("label").as("label_b")),
        Seq("idb"))
      .filter(col("label_a") =!= col("label_b"))
      .select(col("ida"), col("idb"), col("label_a"), col("label_b"), col("cs"))
      .orderBy(col("cs").desc, col("ida"))
  }

  /** q298 — intrinsic-dimension estimate (Facco et al.'s Two-NN,
    * Sci. Rep. 2017) per label: from each probe vector's two nearest
    * neighbors, the ratio μ = d₂/d₁ follows a Pareto(ID) law, so
    * ID = n / Σ ln μ — the "how many dimensions does this embedding
    * REALLY use" diagnostic that decides matryoshka truncation depth
    * (q229) and PQ codebook sizing (q73), and flags collapsed
    * representation subspaces per class.
    *
    * Exactness: squared Euclidean distances are the shared
    * left-associated dot-product chains ([[VectorOps]] — bit-equal
    * across engines); ln μ = ½·ln(d₂²/d₁²) is floored to nano-nats
    * PER PROBE before the integer sum (the q83 contract); the final
    * ID is one integer cross-multiplied floor-div (non-negative:
    * d₂ ≥ d₁ ⇒ every term ≥ 0).
    *
    * Scale design (100 TB): the probe set is a LITERAL slice
    * (vec_id < NSAMP) — broadcast is O(NSAMP·dim) regardless of
    * corpus size; one corpus pass scores all probes; the top-2 window
    * is PARTITIONED by probe. Exact duplicates of a probe (d₁ = 0)
    * are excluded by predicate, deterministically in both engines. */
  val q298TwoNnId: QueryDef = {
    val NSAMP = 100
    def d2Sql(x: String, y: String): String =
      s"(${VectorOps.dotSql(x, x)}) + (${VectorOps.dotSql(y, y)}) " +
        s"- 2*(${VectorOps.dotSql(x, y)})"
    QueryDef(
      "q298_twonn_id",
      s"""WITH q AS (
         |  SELECT vec_id AS qid, label, embedding AS vq FROM embeddings
         |  WHERE vec_id < $NSAMP),
         |c AS (
         |  SELECT q.qid, q.label, e.vec_id, ${d2Sql("e.embedding", "q.vq")} AS d2
         |  FROM embeddings e JOIN q ON e.vec_id <> q.qid),
         |r AS (
         |  SELECT qid, label, d2,
         |    row_number() OVER (PARTITION BY qid ORDER BY d2, vec_id) AS rn
         |  FROM c),
         |p AS (
         |  SELECT qid, label,
         |    max(CASE WHEN rn = 1 THEN d2 END) AS d1sq,
         |    max(CASE WHEN rn = 2 THEN d2 END) AS d2sq
         |  FROM r WHERE rn <= 2 GROUP BY qid, label),
         |t AS (
         |  SELECT label,
         |    CAST(floor(500000000.0 * ln(d2sq / d1sq)) AS BIGINT) AS ln_nano
         |  FROM p WHERE d1sq > 0 AND d2sq > 0)
         |SELECT label, CAST(count(*) AS BIGINT) AS n_probes,
         |  CAST(sum(ln_nano) AS BIGINT) AS sum_ln_nano,
         |  CAST((1000 * count(*) * 1000000000) // CAST(sum(ln_nano) AS BIGINT)
         |    AS BIGINT) AS id_milli
         |FROM t GROUP BY label HAVING CAST(sum(ln_nano) AS BIGINT) > 0
         |ORDER BY label""".stripMargin) { (s, dir) =>
      val e = Tables.embeddings(s, dir)
      // norms hoisted BELOW the join (r13, guide step 4): ‖v‖² is one
      // per-row double computed N times instead of N·NSAMP times (and
      // ‖vq‖² NSAMP times instead of N·NSAMP) — the identical
      // left-associated IEEE chain evaluated earlier, so d2 is
      // bit-identical; the pair stage drops from 3 dot loops to 1
      // (native dot_product — the codegen'd single loop; the 64-term
      // expression-tree form falls out of codegen in join stages)
      val q = broadcast(e.filter(col("vec_id") < NSAMP)
        .select(col("vec_id").as("qid"), col("label"), col("embedding").as("vq"))
        .withColumn("nq", expr("dot_product(vq, vq)")))
      val c = e.select(col("vec_id"), col("embedding").as("v"))
        .withColumn("nv", expr("dot_product(v, v)"))
        .join(q, col("vec_id") =!= col("qid"))
        .select(col("qid"), col("label"), col("vec_id"),
          ((col("nv") + col("nq")) -
            (lit(2.0) * expr("dot_product(v, vq)"))).as("d2"))
      val w = Window.partitionBy(col("qid")).orderBy(col("d2"), col("vec_id"))
      val p = c.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 2)
        .groupBy(col("qid"), col("label"))
        .agg(max(when(col("rn") === 1, col("d2"))).as("d1sq"),
          max(when(col("rn") === 2, col("d2"))).as("d2sq"))
      p.filter(col("d1sq") > 0 && col("d2sq") > 0)
        .select(col("label"),
          floor(lit(500000000.0) * log(col("d2sq") / col("d1sq")))
            .cast("bigint").as("ln_nano"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_probes"), sum(col("ln_nano")).as("sum_ln_nano"))
        .filter(col("sum_ln_nano") > 0)
        .select(col("label"), col("n_probes"), col("sum_ln_nano"),
          expr("(1000 * n_probes * 1000000000) div sum_ln_nano").as("id_milli"))
        .orderBy("label")
    }
  }

  /** q310 — 1-bit sign quantization + Hamming reranking audit: pack
    * each 64-dim embedding into two 32-bit sign words (bit set iff
    * coordinate > 0 — 64 bits/vector, a 128× compression over fp32),
    * rank neighbors by Hamming distance with `bit_count(xor)`, and
    * report recall@10 vs the exact-cosine top-10 per probe — the
    * binary-embedding screen (Indyk–Motwani SimHash bound: P[bit
    * match] = 1 − θ/π) that prices "can the first-pass index be 64
    * BITS per vector". q45/q73 audit int8/PQ codes the same way; this
    * is the extreme end of that quantization ladder.
    *
    * Exactness: packing and Hamming are pure integer ops (two 32-bit
    * halves — bit 63 in one word would overflow a signed sum under
    * ANSI); recall counts are integer; ties in both rankings break on
    * vec_id.
    *
    * Scale design (100 TB): the probe set is a LITERAL slice (vec_id
    * < 10) — broadcast O(NQ·dim); ONE corpus pass scores both the
    * Hamming and cosine ranks (the packed words travel with the scan,
    * 16 bytes/row); per-probe top-10s are windows PARTITIONED by
    * probe. At index scale the packed words would be the stored
    * column and the fp32 embedding only fetched for rerank. */
  val q310SignAnn: QueryDef = {
    val NQ = 10
    def packSql(v: String, lo: Int): String = // 32 bits from dim lo+1..lo+32
      (1 to 32).map(i =>
        s"(CASE WHEN $v[${lo + i}] > 0 THEN ${1L << (i - 1)} ELSE 0 END)")
        .mkString(" + ")
    def packCol(v: String, lo: Int): Column =
      (1 to 32).map(i =>
        when(element_at(col(v), lo + i) > 0, lit(1L << (i - 1)))
          .otherwise(lit(0L))).reduce(_ + _)
    QueryDef(
      "q310_sign_ann",
      s"""WITH e AS (
         |  SELECT vec_id, embedding AS v,
         |    ${packSql("embedding", 0)} AS h0,
         |    ${packSql("embedding", 32)} AS h1
         |  FROM embeddings),
         |q AS (SELECT vec_id AS qid, v AS vq, h0 AS q0, h1 AS q1
         |      FROM e WHERE vec_id < $NQ),
         |sc AS (
         |  SELECT q.qid, e.vec_id,
         |    bit_count(xor(e.h0, q.q0)) + bit_count(xor(e.h1, q.q1)) AS ham,
         |    ${cosSql("e.v", "q.vq")} AS cs
         |  FROM e JOIN q ON e.vec_id <> q.qid),
         |th AS (
         |  SELECT qid, vec_id FROM (
         |    SELECT qid, vec_id,
         |      row_number() OVER (PARTITION BY qid ORDER BY ham, vec_id) AS rn
         |    FROM sc) WHERE rn <= 10),
         |tc AS (
         |  SELECT qid, vec_id FROM (
         |    SELECT qid, vec_id,
         |      row_number() OVER (PARTITION BY qid ORDER BY cs DESC, vec_id) AS rn
         |    FROM sc) WHERE rn <= 10)
         |SELECT th.qid, CAST(count(tc.vec_id) AS BIGINT) AS n_overlap,
         |  CAST(100000 * count(tc.vec_id) AS BIGINT) AS recall_ppm
         |FROM th LEFT JOIN tc ON th.qid = tc.qid AND th.vec_id = tc.vec_id
         |GROUP BY th.qid ORDER BY th.qid""".stripMargin) { (s, dir) =>
      val e = Tables.embeddings(s, dir)
        .repartition(col("vec_id")) // single-file scan -> use every core
        .select(col("vec_id"), col("embedding").as("v"),
          packCol("embedding", 0).as("h0"), packCol("embedding", 32).as("h1"))
      val q = broadcast(e.filter(col("vec_id") < NQ)
        .select(col("vec_id").as("qid"), col("v").as("vq"),
          col("h0").as("q0"), col("h1").as("q1")))
      val sc = e.join(q, col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"),
          (bit_count(expr("h0 ^ q0")) + bit_count(expr("h1 ^ q1"))).as("ham"),
          cosCol("v", "vq").as("cs"))
        .ckpt() // one corpus pass feeds both rankings
      val wh = Window.partitionBy(col("qid")).orderBy(col("ham"), col("vec_id"))
      val wc = Window.partitionBy(col("qid")).orderBy(col("cs").desc, col("vec_id"))
      val th = sc.withColumn("rn", row_number().over(wh))
        .filter(col("rn") <= 10).select(col("qid"), col("vec_id"))
      val tc = sc.withColumn("rn", row_number().over(wc))
        .filter(col("rn") <= 10)
        .select(col("qid").as("cqid"), col("vec_id").as("cvid"))
      th.join(tc, col("qid") === col("cqid") && col("vec_id") === col("cvid"),
          "left")
        .groupBy(col("qid"))
        .agg(count(col("cvid")).as("n_overlap"),
          (lit(100000L) * count(col("cvid"))).as("recall_ppm"))
        .orderBy("qid")
    }
  }

  /** q311 — Johnson–Lindenstrauss distortion audit: project every
    * embedding from 64 to 16 dims with a ±1 sign matrix (Achlioptas
    * 2003's database-friendly JL), then measure, over all probe
    * pairs, the ratio of projected to original squared distance
    * (normalized by k so the expectation is 1) — the empirical answer
    * to "how much pairwise geometry does a 4× dimension cut cost",
    * which prices the cheap-projection variant of every downstream
    * ANN/dedup index. The matrix reuses [[VectorOps.planeSign]] —
    * the SAME hyperplane family as the LSH bucketer, so the audit
    * measures the exact projections the index would use.
    *
    * Exactness: projections and distances are the shared
    * left-associated IEEE chains (bit-equal across engines); each
    * pair's ratio is floored to milli BEFORE the integer mean
    * (floor-then-sum, q83 discipline); zero-distance pairs are
    * excluded by predicate in both engines.
    *
    * Scale design (100 TB): the per-vector projection is ONE
    * codegen'd 16-chain map (no shuffle); the pair audit runs on a
    * LITERAL probe slice (vec_id < 32 ⇒ ≤496 pairs) with both sides
    * broadcast-bounded — the corpus-wide projection itself never
    * pairs. Output is 1 row. */
  val q311JlDistortion: QueryDef = {
    val K = 16 // target dims
    val NP = 32 // probe slice: pairs = NP*(NP-1)/2
    def yCols(v: String): Seq[(String, String, Column)] =
      (0 until K).map(j =>
        (s"y$j", s"(${planeDotSql(v, j)})", planeDotCol(v, j)))
    val dySql = (0 until K).map(j => s"(a.y$j - b.y$j)*(a.y$j - b.y$j)")
      .mkString(" + ")
    val dxSql = (1 to DIM).map(i =>
      s"(CAST(a.v[$i] AS DOUBLE) - CAST(b.v[$i] AS DOUBLE))*" +
        s"(CAST(a.v[$i] AS DOUBLE) - CAST(b.v[$i] AS DOUBLE))").mkString(" + ")
    val dyCol = (0 until K).map { j =>
      val d = col(s"ay$j") - col(s"by$j"); d * d
    }.reduce(_ + _)
    val dxCol = (1 to DIM).map { i =>
      val d = element_at(col("va"), i).cast("double") -
        element_at(col("vb"), i).cast("double")
      d * d
    }.reduce(_ + _)
    QueryDef(
      "q311_jl_distortion",
      s"""WITH p AS (
         |  SELECT vec_id, embedding AS v FROM embeddings WHERE vec_id < $NP),
         |y AS (
         |  SELECT vec_id, v,
         |    ${yCols("v").map { case (n, sql, _) => s"$sql AS $n" }
            .mkString(",\n    ")}
         |  FROM p),
         |r AS (
         |  SELECT a.vec_id AS ia, b.vec_id AS ib,
         |    ($dySql) AS dy2, ($dxSql) AS dx2
         |  FROM y a JOIN y b ON a.vec_id < b.vec_id),
         |m AS (
         |  SELECT CAST(floor(1e3 * dy2 / (${K}e0 * dx2)) AS BIGINT) AS ratio_milli
         |  FROM r WHERE dx2 > 0e0)
         |SELECT CAST(count(*) AS BIGINT) AS n_pairs,
         |  min(ratio_milli) AS min_milli,
         |  max(ratio_milli) AS max_milli,
         |  CAST(sum(ratio_milli) AS BIGINT) // count(*) AS mean_milli
         |FROM m""".stripMargin) { (s, dir) =>
      val p = Tables.embeddings(s, dir)
        .filter(col("vec_id") < NP)
        .select(col("vec_id"), col("embedding").as("v"))
      val y = p.select(col("vec_id") +: col("v") +:
        yCols("v").map { case (n, _, c) => c.as(n) }: _*)
      val a = broadcast(y.select(col("vec_id").as("ia") +: col("v").as("va") +:
        (0 until K).map(j => col(s"y$j").as(s"ay$j")): _*))
      val b = y.select(col("vec_id").as("ib") +: col("v").as("vb") +:
        (0 until K).map(j => col(s"y$j").as(s"by$j")): _*)
      a.join(b, col("ia") < col("ib"))
        .select(dyCol.as("dy2"), dxCol.as("dx2"))
        .filter(col("dx2") > 0d)
        .select(floor(lit(1e3) * col("dy2") / (lit(K.toDouble) * col("dx2")))
          .cast("bigint").as("ratio_milli"))
        .agg(count(lit(1)).as("n_pairs"),
          min(col("ratio_milli")).as("min_milli"),
          max(col("ratio_milli")).as("max_milli"),
          expr("CAST(sum(ratio_milli) AS BIGINT) div count(*)")
            .as("mean_milli"))
    }
  }

  /** q341 — semantic-dedup threshold calibration: on a literal probe
    * slice, the fraction of vector pairs at cosine ≥ τ that share a
    * label, across a τ grid — the curve that turns q100's SemDeDup
    * threshold from folklore into a measured choice (labels proxy
    * "genuinely same content"; pick the smallest τ whose same-label
    * precision clears the bar, because every τ notch lower deletes
    * more data). Low precision across the WHOLE grid — as on this
    * near-uniform synthetic corpus — is itself the finding: cosine
    * alone cannot drive dedup here, and the pipeline must fall back
    * to q31/q234's lexical families.
    *
    * Exactness: cosines are the shared left-associated chains,
    * floored to milli BEFORE the τ compare (so the threshold test is
    * an integer compare in both engines); counts and precision are
    * integer ppm math; empty-τ rows are kept with NULL precision.
    *
    * Scale design (100 TB): the pair frame is a LITERAL slice
    * (vec_id < 64 ⇒ ≤2016 pairs, broadcast); ONE pass computes each
    * pair's cosine and label flag; the ×|τ| grid multiplies only the
    * bounded pair frame. Output |τ| rows. */
  val q341CosLabelCurve: QueryDef = {
    val NP = 64
    val taus = Seq(100L, 150L, 200L, 250L, 300L)
    QueryDef(
      "q341_cos_label_curve",
      s"""WITH p AS (
         |  SELECT vec_id, label, embedding AS v FROM embeddings
         |  WHERE vec_id < $NP),
         |pr AS (
         |  SELECT CAST(floor(1e3 * ${cosSql("a.v", "b.v")}) AS BIGINT)
         |      AS cos_milli,
         |    CASE WHEN a.label = b.label THEN 1 ELSE 0 END AS same
         |  FROM p a JOIN p b ON a.vec_id < b.vec_id),
         |g AS (
         |  SELECT CAST(tau AS BIGINT) AS tau_milli,
         |    CAST(sum(CASE WHEN cos_milli >= tau THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_pairs,
         |    CAST(sum(CASE WHEN cos_milli >= tau THEN same ELSE 0 END)
         |      AS BIGINT) AS n_same
         |  FROM pr, unnest([${taus.mkString(", ")}]) AS t(tau)
         |  GROUP BY 1)
         |SELECT tau_milli, n_pairs, n_same,
         |  CASE WHEN n_pairs > 0
         |    THEN (1000000 * n_same) // n_pairs END AS precision_ppm
         |FROM g ORDER BY tau_milli""".stripMargin) { (s, dir) =>
      import s.implicits._
      val p = Tables.embeddings(s, dir)
        .filter(col("vec_id") < NP)
        .select(col("vec_id"), col("label"), col("embedding").as("v"))
      val a = broadcast(p.select(col("vec_id").as("ia"),
        col("label").as("la"), col("v").as("va")))
      val pr = a.join(p.select(col("vec_id").as("ib"),
          col("label").as("lb"), col("v").as("vb")),
          col("ia") < col("ib"))
        .select(floor(lit(1e3) * cosCol("va", "vb")).cast("bigint")
          .as("cos_milli"),
          when(col("la") === col("lb"), 1L).otherwise(0L).as("same"))
      pr.crossJoin(taus.toDF("tau"))
        .groupBy(col("tau").as("tau_milli"))
        .agg(sum(when(col("cos_milli") >= col("tau"), 1L).otherwise(0L))
          .as("n_pairs"),
          sum(when(col("cos_milli") >= col("tau"), col("same"))
            .otherwise(0L)).as("n_same"))
        .select(col("tau_milli"), col("n_pairs"), col("n_same"),
          when(col("n_pairs") > 0,
            expr("(1000000 * n_same) div n_pairs")).as("precision_ppm"))
        .orderBy("tau_milli")
    }
  }

  val all: Seq[QueryDef] =
    Seq(q40CosineTopk, q41KnnJoin, q42LshAnn, q43IvfCells, q44CosineExpr,
      q45Quantize, q73Pq, q82IvfSearch, q84SqlSurface, q145IvfMultiprobe,
      q147PqRecall, q154EmbeddingDrift, q166IvfNdcg, q176MmrRerank,
      q229Matryoshka, q273HardNegatives, q291LabelNoise, q298TwoNnId,
      q310SignAnn, q311JlDistortion, q341CosLabelCurve)
}
