package graft.operators

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Scale-path contracts: sketch accuracy + merge correctness, salted
  * join equivalence, bucketed co-located joins (shuffle-free plan). */
class ScaleOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("q239 HITS: L-inf normalization pins each side's top score at exactly 1e6") {
    val rows = PageRank.q239Hits.build(spark, "/root/testdata/sf0.001").collect()
    val bySide = rows.groupBy(_.getAs[String]("side"))
    assert(bySide.keySet == Set("auth", "hub"))
    for ((_, rs) <- bySide) {
      assert(rs.map(_.getAs[Long]("rk")).sorted.sameElements(1L to rs.length))
      val sorted = rs.sortBy(_.getAs[Long]("rk"))
      assert(sorted.head.getAs[Long]("score") == 1000000L,
        "max-normalized top score must be exactly 1e6")
      // scores are non-increasing in rank and stay in (0, 1e6]
      val scores = sorted.map(_.getAs[Long]("score"))
      assert(scores.zip(scores.tail).forall { case (x, y) => x >= y })
      assert(scores.forall(v => v > 0L && v <= 1000000L))
    }
  }

  test("q241 LPA: communities are bipartite-consistent and size-ranked") {
    val rows = PageRank.q241LabelProp.build(spark, "/root/testdata/sf0.001")
      .collect()
    assert(rows.nonEmpty && rows.length <= 25)
    val sizes = rows.map(_.getAs[Long]("n_members"))
    assert(sizes.zip(sizes.tail).forall { case (x, y) => x >= y },
      "top-25 must be ordered by community size")
    for (r <- rows)
      assert(r.getAs[Long]("n_members") ==
        r.getAs[Long]("n_cust") + r.getAs[Long]("n_parts"),
        "every member is either a customer or a part")
  }

  test("q242 SSSP: source at distance 0, output sorted by exact cents distance") {
    val rows = PageRank.q242Sssp.build(spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    assert(rows.head.getAs[Long]("node") == 1L &&
      rows.head.getAs[Long]("dist") == 0L,
      "the source must be its own nearest node at distance 0")
    val dists = rows.map(_.getAs[Long]("dist"))
    assert(dists.zip(dists.tail).forall { case (x, y) => x <= y })
    assert(dists.forall(_ >= 0L))
  }

  test("q243 feature hashing: histogram accounts for every slot and every token") {
    val rows = graft.operators.TextAnalysis.q243FeatureHashing
      .build(spark, "/root/testdata/sf0.001").collect()
    assert(rows.map(_.getAs[Long]("n_slots")).sum == 16L,
      "occupancy classes must partition the 16 slots")
    val vocab = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(explode(split(col("text"), " ")).as("tok"))
      .agg(countDistinct(col("tok"))).head().getLong(0)
    assert(rows.map(_.getAs[Long]("n_tokens")).sum == vocab,
      "every vocabulary token lands in exactly one slot")
  }

  test("q248 postings: varint model never exceeds raw and stays >= 1 byte/entry") {
    val rows = Retrieval.q248PostingsCompression
      .build(spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val df = r.getAs[Long]("df")
      val vb = r.getAs[Long]("varint_bytes")
      assert(vb >= df && vb <= r.getAs[Long]("raw_bytes"))
      assert(r.getAs[Long]("ratio_ppm") >= 125000L &&
        r.getAs[Long]("ratio_ppm") <= 500000L,
        s"${r.getAs[String]("tok")} models outside [1,4] bytes/posting")
    }
  }

  test("q249 k-center: greedy radii are non-increasing and centers distinct") {
    val rows = Learn.q249KCenter.build(spark, "/root/testdata/sf0.001")
      .collect().sortBy(_.getAs[Long]("rk"))
    assert(rows.length == 5)
    assert(rows.head.getAs[Long]("radius_sq") == 0L)
    assert(rows.map(_.getAs[Long]("vec_id")).distinct.length == 5,
      "a point can be picked at most once")
    val radii = rows.tail.map(_.getAs[Long]("radius_sq"))
    assert(radii.zip(radii.tail).forall { case (a, b) => a >= b },
      s"farthest-point radii must shrink: ${radii.mkString(",")}")
    assert(radii.forall(_ > 0L))
  }

  test("q191 dyadic quantile sketch: estimate shares the exact value's octave (error < 2x)") {
    val rows = Sketches.q191QuantileSketch.build(spark, "/root/testdata/sf0.001")
      .collect()
    assert(rows.length == 15, s"expected 5 types x 3 quantiles: ${rows.length}")
    for (r <- rows) {
      val est = r.getAs[Long]("est_milli")
      val exact = r.getAs[Long]("exact_milli")
      val err = r.getAs[Long]("err_ppm")
      // the crossing octave contains the exact rank, so the estimate
      // can be off by at most the octave width: strictly under 2x
      // relative (and under 1x when exact sits high in its octave)
      assert(err < 1000000L, s"octave bound broken: est=$est exact=$exact err=$err")
      assert(est >= 0 && exact >= 0, r.toString)
    }
  }

  test("KMV sketch: exact below k, within 10% above k, merges across partitions") {
    val kmv = udaf(Sketches.Kmv(256))
    // 40 distinct keys (< k): estimate must be exact
    val small = (1 to 1000).map(i => i % 40).toDF("v")
      .repartition(8)
      .agg(kmv(xxhash64(col("v")))).head().getDouble(0)
    assert(small == 40.0)
    // 20_000 distinct (> k): estimator error well inside 10% at k=256
    val big = (1 to 20000).toDF("v")
      .repartition(8) // forces partial-sketch merges
      .agg(kmv(xxhash64(col("v")))).head().getDouble(0)
    assert(math.abs(big - 20000) / 20000.0 < 0.10, s"estimate $big")
  }

  test("KMV query runs on test data and estimates track exact counts") {
    val rows = Sketches.q36KmvSketch.build(spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val exact = r.getAs[Long]("exact").toDouble
      val est = r.getAs[Double]("kmv_est")
      assert(math.abs(est - exact) / exact < 0.15, s"$r")
    }
  }

  test("theta-sketch set ops track exact union/inter/diff within sketch error") {
    // A = [0, 20000), B = [12000, 36000): union 36000, inter 8000, A\B 12000
    val lab = (0 until 20000).map(i => ("A", i)).toDF("s", "key")
      .union((12000 until 36000).map(i => ("B", i)).toDF("s", "key"))
      .repartition(16)
    val r = Sketches.thetaSetEstimates(lab, 256).head()
    def rel(est: Double, exact: Double) = math.abs(est - exact) / exact
    assert(rel(r.getAs[Double]("est_union"), 36000) < 0.15, s"$r")
    assert(rel(r.getAs[Double]("est_inter"), 8000) < 0.25, s"$r")
    assert(rel(r.getAs[Double]("est_diff"), 12000) < 0.25, s"$r")
  }

  test("BottomKSample aggregator draws the identical sample as q85's window form") {
    val k = 50
    val bks = udaf(Sketches.BottomKSample(k))
    val data = (1 to 3000).map(i => (i.toLong, (i * 37 % 1000).toDouble)).toDF("id", "v")
      .repartition(8) // forces partial-sample merges
      .withColumn("h",
        conv(substring(md5(col("id").cast("string")), 1, 15), 16, 10).cast("long"))
    val aggSample = data.agg(bks(col("h"), col("v")))
      .head().getSeq[Double](0)
    // reference under the aggregator's own TOTAL (h, value) order —
    // an h-only sort is nondeterministic at a tied k-boundary
    val windowSample = data.orderBy(col("h"), col("v")).limit(k)
      .select(col("v")).collect().map(_.getDouble(0)).sorted.toSeq
    assert(aggSample == windowSample)
    assert(aggSample.length == k)
    // forced hash ties (the tie-keeping semantics under test): many
    // rows share each hash with distinct values; ties must be KEPT
    // and resolved by the value order, deterministically under merges
    val tied = (1 to 400).map(i => ((i % 7).toLong, i.toDouble)).toDF("h", "v")
      .repartition(8)
    val tiedAgg = tied.agg(bks(col("h"), col("v"))).head().getSeq[Double](0)
    val tiedRef = (1 to 400).map(i => ((i % 7).toLong, i.toDouble))
      .sortBy(identity).take(k).map(_._2).sorted
    assert(tiedAgg == tiedRef)
    // quantiles from the k-sample track the exact distribution
    val med = aggSample(k / 2)
    val exactMed = data.select(expr("percentile(v, 0.5D)")).head().getDouble(0)
    assert(math.abs(med - exactMed) <= 200, s"sample median $med vs exact $exactMed")
  }

  test("Misra-Gries: bounded size, no false negatives above n/(k+1), error bound holds") {
    val k = 256
    // 10 heavy items x 500 + 20_000 singletons; n = 25_000, n/(k+1) ~ 97
    val heavies = (0 until 10).flatMap(h => Seq.fill(500)(s"heavy_$h"))
    val noise = (0 until 20000).map(i => s"rare_$i")
    val exact = (heavies ++ noise).groupBy(identity).view.mapValues(_.size.toLong).toMap
    val n = heavies.size + noise.size
    val mg = udaf(Sketches.MisraGries(k))
    val summary = (heavies ++ noise).toDF("v")
      .repartition(8) // forces partial-summary merges
      .agg(mg(col("v"))).head().getMap[String, Long](0)
    assert(summary.size <= k, s"summary overflowed: ${summary.size}")
    val bound = n.toDouble / (k + 1)
    (0 until 10).foreach { h =>
      val key = s"heavy_$h"
      assert(summary.contains(key), s"false negative for $key (freq 500 > $bound)")
      val est = summary(key)
      assert(est <= exact(key) && exact(key) - est <= bound,
        s"$key estimate $est outside [${exact(key) - bound}, ${exact(key)}]")
    }
  }

  test("q67 heavy hitters: sketch candidates never change the exact answer") {
    // brute-force exact heavy hitters on sf0.001 must equal the query
    val rows = Sketches.q67HeavyHitters.build(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val toks = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(explode(split(col("text"), " ")).as("tok"))
    val n = toks.count()
    val exact = toks.groupBy("tok").count()
      .filter(col("count") * 100 > n)
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    assert(rows.toSeq === exact.toSeq)
  }

  test("bloom-pruned join: result equals plain join, probe actually prunes") {
    val fact = (1L to 20000L).map(i => (i % 2000, i)).toDF("key", "fact_id")
    val dim = (0L until 100L).map(k => (k, s"dim_$k")).toDF("key", "name")
    val plain = fact.join(dim, Seq("key"))
    val pruned = BloomJoin.bloomPrunedJoin(fact, dim, "key", expectedItems = 1000)
    assert(pruned.count() === plain.count())
    assert(pruned.exceptAll(plain).isEmpty && plain.exceptAll(pruned).isEmpty)
    // the probe alone (before the join removes false positives) must
    // keep all true matches and drop the bulk of the non-matching fact
    val bf = dim.stat.bloomFilter("key", 1000, 0.01)
    val bytes = { val b = new java.io.ByteArrayOutputStream(); bf.writeTo(b); b.toByteArray }
    val kept = fact.filter(BloomJoin.mightContain(lit(bytes), col("key"))).count()
    // every true-match fact row must survive the probe (no false negatives)
    assert(kept >= plain.count(), "probe dropped true matches")
    assert(kept < 20000 / 2, s"probe kept $kept of 20000 — not pruning")
  }

  test("HLL (approx_count_distinct) stays inside its published error bound") {
    // default rsd = 0.05; 3 sigma over 20k distinct keys
    val est = (1 to 20000).toDF("v").repartition(8)
      .agg(approx_count_distinct(col("v"))).head().getLong(0)
    assert(math.abs(est - 20000) / 20000.0 < 0.15, s"estimate $est")
  }

  test("salted join returns exactly the plain join's rows under skew") {
    val rnd = new scala.util.Random(3)
    // 90% of facts hit one hot key
    val fact = (1 to 5000).map(i =>
      (if (rnd.nextInt(10) < 9) 7L else rnd.nextInt(50).toLong, i.toLong))
      .toDF("key", "fact_id")
    val dim = (0L until 50L).map(k => (k, s"dim_$k")).toDF("key", "name")
    val plain = fact.join(dim, Seq("key")).select("key", "fact_id", "name")
    val salted = SkewOps.saltedInnerJoin(fact, dim, "key", col("fact_id"), buckets = 8)
      .select("key", "fact_id", "name")
    assert(salted.count() == plain.count())
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
  }

  test("connected components: union-find and distributed propagation agree") {
    val rnd = new scala.util.Random(17)
    // random graph: chains, triangles, isolated pairs
    val edges = (Seq.tabulate(30)(i => (i.toLong, (i + 1).toLong)) ++ // 31-node chain
      Seq((100L, 101L), (101L, 102L), (102L, 100L)) ++ // triangle
      Seq.fill(40)((200L + rnd.nextInt(60), 200L + rnd.nextInt(60))))
      .filter { case (a, b) => a != b }
      .toDF("a", "b")
    val viaUf = ConnectedComponents.driverUnionFind(spark, edges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaDist = ConnectedComponents.distributed(edges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaUf == viaDist)
    // the 31-node chain collapses to component 0
    assert(viaUf.filter(_._1 <= 30).forall(_._2 == 0L))
  }

  test("embedding near-dup candidates stay bounded under total label skew") {
    val rnd = new scala.util.Random(23)
    val n = 400
    // adversarial corpus: EVERY vector shares one label — label-blocking
    // would materialize all n*(n-1)/2 = 79_800 pairs
    val e = (0 until n).map(i => (i.toLong, "hot", Array.fill(64)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "label", "embedding")
    val pairs = Dedup.embeddingCandidates(e).count()
    // LSH blocking bounds pairs by sum over 16 buckets of nb*(nb-1)/2;
    // for ~uniform buckets that's ~ (n/16)^2/2 * 16 = n^2/32 ≈ 5000.
    // Allow slack for bucket imbalance but require well under all-pairs.
    val allPairs = n.toLong * (n - 1) / 2
    assert(pairs < allPairs / 4, s"candidates $pairs vs all-pairs $allPairs")
    assert(pairs > 0)
  }

  test("adaptive LSH planes keep expected block size bounded as the corpus grows") {
    // the integer derivation itself: smallest p with n <= 32*2^p,
    // clamped to [4, 16]
    import VectorOps.{adaptivePlanes, ADAPTIVE_TARGET_BLOCK}
    assert(adaptivePlanes(1) == 4)      // clamp floor
    assert(adaptivePlanes(500) == 4)    // sf0.001/sf0.01 gate scales unchanged
    assert(adaptivePlanes(512) == 4)
    assert(adaptivePlanes(513) == 5)
    assert(adaptivePlanes(2000) == 6)   // sf0.1
    assert(adaptivePlanes(4000) == 7)
    assert(adaptivePlanes(Long.MaxValue) == 16) // clamp ceiling
    // monotone: more corpus never means coarser blocking
    assert((1L to 20).forall(k => adaptivePlanes(1L << k) <= adaptivePlanes(1L << (k + 1))))
    // the r10 verdict's bound: under a 10x corpus the per-block
    // candidate load must stay near the target, not scale with n²/16
    val rnd = new scala.util.Random(31)
    val n = 4000 // 10x the r10 test corpus
    val e = (0 until n).map(i => (i.toLong, "hot", Array.fill(64)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "label", "embedding")
    val planes = adaptivePlanes(n.toLong)
    val blocks = e.select(expr(s"lsh_bucket(embedding, $planes, 64)").as("bucket"))
      .groupBy("bucket").count().collect().map(_.getLong(1))
    // random-hyperplane buckets over random vectors are ~binomial:
    // mean block = n / 2^planes ≈ 31; allow 4x imbalance slack
    assert(blocks.max <= 4L * ADAPTIVE_TARGET_BLOCK,
      s"max block ${blocks.max} exceeds 4x target $ADAPTIVE_TARGET_BLOCK")
    // and the candidate volume collapses versus all-pairs: with a
    // FIXED 16-way split it would be ~n²/32 ≈ 500k; adaptive blocking
    // holds it near n * target
    val pairs = Dedup.embeddingCandidates(e).count()
    assert(pairs < n.toLong * ADAPTIVE_TARGET_BLOCK,
      s"candidate pairs $pairs vs bound ${n.toLong * ADAPTIVE_TARGET_BLOCK}")
  }

  test("ngram DF cap bounds candidate pairs under a stop-bigram corpus") {
    // adversarial corpus: every doc shares the bigram "the end"; all
    // other bigrams are unique per doc — without the cap, the shared
    // key alone materializes all n*(n-1)/2 pairs (kernel increments or
    // join rows alike; both paths honor the cap BEFORE pair counting)
    val n = 300
    val docs = (0 until n)
      .map(i => (i.toLong, "en", s"the end u${i}a u${i}b u${i}c"))
      .toDF("doc_id", "lang", "text")
    val bg = Dedup.bigramSets(docs)
    for (kmax <- Seq(Long.MaxValue, 0L)) { // kernel path, then shuffle path
      val uncapped = Dedup.bigramPairInter(bg, dfCap = Int.MaxValue, kernelMaxRows = kmax).count()
      val capped = Dedup.bigramPairInter(bg, dfCap = 50, kernelMaxRows = kmax).count()
      assert(uncapped == n.toLong * (n - 1) / 2, s"kmax=$kmax uncapped $uncapped")
      assert(capped == 0, s"kmax=$kmax capped $capped")
    }
    // and on realistic data the default cap changes nothing (max DF at
    // every test scale is far below it)
    val real = Dedup.bigramSets(
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet"))
    val a = Dedup.bigramPairInter(real).collect().toSet
    val b = Dedup.bigramPairInter(real, dfCap = Int.MaxValue).collect().toSet
    assert(a == b)
  }

  test("q34 kernel and shuffle pair-count paths both equal the naive quadratic") {
    // the size dispatch must be invisible: on pseudo-random corpora
    // with heavy token reuse, BOTH paths must emit exactly the naive
    // all-pairs result (every inter>=1 size-ratio-passing pair with
    // its exact shared-bigram count)
    for (seed <- Seq(11, 42)) {
      val rnd = new scala.util.Random(seed)
      val vocab = Vector.tabulate(12)(i => s"w$i") // tiny vocab -> dense overlaps
      val docs = (0 until 120).map { i =>
        val len = 3 + rnd.nextInt(8)
        (i.toLong, if (rnd.nextBoolean()) "en" else "de",
          Vector.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }.toDF("doc_id", "lang", "text")
      val bg = Dedup.bigramSets(docs).cache()
      def run(kmax: Long): Set[(Long, Long, Long)] =
        Dedup.bigramPairInter(bg, kernelMaxRows = kmax)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val kernel = run(Long.MaxValue)
      val shuffle = run(0L)
      val naive = bg.select(col("doc_id").as("a"), col("lang"), col("bs").as("ba"), size(col("bs")).as("na"))
        .join(bg.select(col("doc_id").as("b"), col("lang").as("lb"), col("bs").as("bb"), size(col("bs")).as("nb")),
          col("lang") === col("lb") && col("a") < col("b")
            && col("na") * 10 >= col("nb") * 3 && col("nb") * 10 >= col("na") * 3)
        .select(col("a"), col("b"),
          size(array_intersect(col("ba"), col("bb"))).cast("long").as("inter"))
        .filter(col("inter") >= 1)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(naive.nonEmpty, s"seed $seed: degenerate fixture, no qualifying pairs")
      assert(kernel == naive, s"seed $seed: kernel path diverges from naive")
      assert(shuffle == naive, s"seed $seed: shuffle path diverges from naive")
      bg.unpersist()
    }
  }

  test("sorted-neighborhood boundary reconstruction equals the global window on random corpora") {
    import org.apache.spark.sql.expressions.Window
    // deterministic pseudo-random corpora with heavy snkey ties (the
    // worst case for range-partition boundaries: runs of equal keys
    // spanning partitions) across several sizes incl. tiny partitions
    val W = 2
    for (seed <- Seq(7, 23); n <- Seq(5, 37, 160)) {
      val docs = (0 until n).map { i =>
        val r = new scala.util.Random(seed * 100003 + i)
        // ~n/6 distinct word sets -> many identical snkeys
        val base = r.nextInt(math.max(1, n / 6))
        (i.toLong, s"w$base x${base % 3} y${(base / 3) % 4}")
      }.toDF("doc_id", "text")
      val ws = array_sort(array_distinct(split(col("text"), " ")))
      val d = docs.select(col("doc_id"), ws.as("ws"), array_join(ws, " ").as("snkey"))
      val twoPhase = Dedup.sortedNeighborhoodPairs(d, W)
        .select("a", "b", "inter", "sz").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      // naive single global window: the semantic definition
      val wg = Window.orderBy(col("snkey"), col("doc_id"))
      val naive = (1 to W).map { k =>
        d.withColumn("pid", lit(0))
          .select(col("doc_id").as("a"), col("ws").as("wa"),
            lead(col("doc_id"), k).over(wg).as("b"),
            lead(col("ws"), k).over(wg).as("wb"))
          .filter(col("b").isNotNull)
          .select(col("a"), col("b"),
            size(array_intersect(col("wa"), col("wb"))).cast("long").as("inter"),
            (size(col("wa")) + size(col("wb"))).cast("long").as("sz"))
      }.reduce(_ unionAll _).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(twoPhase == naive,
        s"seed=$seed n=$n missing=${naive.diff(twoPhase)} extra=${twoPhase.diff(naive)}")
    }
  }

  test("percentile_approx tracks exact percentiles within the accuracy bound") {
    val l = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val r = l.agg(
      expr("percentile(l_extendedprice, 0.5D)").as("exact50"),
      expr("percentile_approx(l_extendedprice, 0.5D, 1000)").as("approx50"),
      expr("percentile(l_extendedprice, 0.99D)").as("exact99"),
      expr("percentile_approx(l_extendedprice, 0.99D, 1000)").as("approx99")).head()
    // percentile_approx(acc=1000) guarantees rank error <= n/1000; on
    // this distribution that lands within 2% relative value error
    assert(math.abs(r.getDouble(1) - r.getDouble(0)) / r.getDouble(0) < 0.02, r.toString)
    assert(math.abs(r.getDouble(3) - r.getDouble(2)) / r.getDouble(2) < 0.02, r.toString)
  }

  test("compaction rewrites small files into sized files, preserving rows") {
    val src = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val dir = java.nio.file.Files.createTempDirectory("graft-compact").toString + "/t"
    src.repartition(20).write.parquet(dir) // 20 small files
    val rows = src.count()
    val res = graft.etl.Compaction.compact(spark, dir, targetBytes = 512L * 1024)
    assert(res.filesBefore == 20, res.toString)
    assert(res.filesAfter < 20 && res.filesAfter >= 1, res.toString)
    assert(res.rows == rows)
    assert(spark.read.parquet(dir).count() == rows) // readable post-swap
    // no tmp/bak residue
    val parent = new java.io.File(dir).getParentFile.list().toSeq
    assert(parent == Seq("t"), parent.toString)
  }

  test("compaction preserves a partitioned layout and its pruning") {
    val src = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .withColumn("yr", expr("year(CAST(o_orderdate AS DATE))"))
    val dir = java.nio.file.Files.createTempDirectory("graft-compact-part").toString + "/t"
    src.repartition(10).write.partitionBy("yr").parquet(dir) // 10 files per yr dir
    val rows = src.count()
    val res = graft.etl.Compaction.compact(spark, dir, targetBytes = 16L * 1024 * 1024)
    assert(res.rows == rows)
    assert(res.filesAfter < res.filesBefore, res.toString)
    val re = spark.read.parquet(dir)
    assert(re.count() == rows)
    // yr is still a partition column: pruning must survive compaction
    assert(re.columns.contains("yr"))
    val probe = re.filter(col("yr") === 1995)
    val files = probe.select(input_file_name()).distinct().collect().map(_.getString(0))
    assert(files.nonEmpty && files.forall(_.contains("yr=1995")), files.mkString("\n"))
  }

  test("integer pagerank is bit-identical under different partitionings") {
    val o = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val l = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    def ranks(oo: org.apache.spark.sql.DataFrame, ll: org.apache.spark.sql.DataFrame) =
      PageRank.compute(oo, ll).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
    val a = ranks(o, l)
    val b = ranks(o.repartition(13), l.repartition(7))
    // integer arithmetic: no FP summation-order drift — exact equality,
    // the property a float pagerank cannot have under parallelism
    assert(a == b)
    assert(a.nonEmpty && a.values.forall(_ > 0))
  }

  test("bucketed tables co-locate: the join plans without a shuffle") {
    spark.sql("DROP TABLE IF EXISTS bkt_orders")
    spark.sql("DROP TABLE IF EXISTS bkt_lineitem")
    val o = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val l = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    o.write.bucketBy(4, "o_orderkey").sortBy("o_orderkey").saveAsTable("bkt_orders")
    l.write.bucketBy(4, "l_orderkey").sortBy("l_orderkey").saveAsTable("bkt_lineitem")
    // force the non-broadcast path: bucketing is the mechanism under
    // test (broadcast would sidestep it for these small tables)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("bkt_orders").join(
        spark.table("bkt_lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"expected shuffle-free bucketed join:\n$plan")
      assert(plan.contains("SortMergeJoin"), plan)
      assert(joined.count() == l.count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }
}
