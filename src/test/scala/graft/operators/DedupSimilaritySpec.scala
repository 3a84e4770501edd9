package graft.operators

import java.nio.file.Files

import graft.TestSpark
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic tests for the dedup + similarity operators on handcrafted
  * corpora (SURVEY.md §5 item 2), driven through the public query
  * surface against a temp table dir. */
class DedupSimilaritySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val dir: String = {
    val d = Files.createTempDirectory("graft-dedup-test").toString
    val base = "spark makes big data small again with queries and plans " +
      "shuffles joins aggregates windows streams sketches vectors hashes " +
      "partitions executors stages tasks codegen catalyst tungsten arrow"
    val nearDup = base.replace("small", "tiny") // one token of ~28 differs
    val docs = Seq(
      // 0 and 1: same bag of words, different order -> exact dup group
      (0L, base, "en", "srcA", base.length.toLong),
      (1L, base.split(' ').reverse.mkString(" "), "en", "srcA", base.length.toLong),
      (2L, nearDup, "en", "srcB", nearDup.length.toLong),
      (3L, "completely different words about databases and storage engines", "en", "srcB", 62L),
      (4L, "ein ganz anderer text ohne gemeinsame woerter", "de", "srcB", 45L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.write.mode("overwrite").parquet(s"$d/documents.parquet")

    // dim-64 vectors: v1 ~ v0 (near-dup), v2 orthogonal-ish, v3 = -v0
    def vec(f: Int => Float): Array[Float] = Array.tabulate(64)(f)
    val v0 = vec(i => math.sin(i * 0.3).toFloat)
    val v1 = vec(i => (math.sin(i * 0.3) + 0.01).toFloat)
    val v2 = vec(i => math.cos(i * 1.7).toFloat)
    val v3 = v0.map(-_)
    Seq((0L, v0, 0), (1L, v1, 0), (2L, v2, 0), (3L, v3, 0))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    d
  }

  test("q30: bag-of-words dedup groups reordered docs, not near-dups") {
    val rows = Dedup.q30ExactDedup.build(spark, dir).collect()
    val en = rows.find(_.getString(0) == "en").get
    assert(en.getLong(1) == 4)  // en docs
    assert(en.getLong(2) == 3)  // distinct signatures: {0,1}, {2}, {3}
    assert(en.getLong(3) == 1)  // one duplicate
  }

  test("q31: minhash signature is identical for identical shingle sets") {
    // docs 0 and 1 have different shingles (order matters for 3-grams),
    // but a doc and itself must agree: determinism across runs
    val a = Dedup.q31Minhash.build(spark, dir).collect().map(r => (r.getLong(0), r.getString(1)))
    val b = Dedup.q31Minhash.build(spark, dir).collect().map(r => (r.getLong(0), r.getString(1)))
    assert(a.sameElements(b))
    assert(a.length == 5)
  }

  test("q234: winnowing guarantee — docs sharing a >=11-char substring share a fingerprint") {
    // doc 0 (base) and doc 2 (one word swapped) share substrings far longer
    // than k+w-1 = 11, so winnowing MUST select a common fingerprint for
    // them: both srcA and srcB report near-dup candidate docs. The German
    // doc 4 shares no 8-char gram with anything.
    val bySrc = Dedup.q234Winnowing.build(spark, dir).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    assert(bySrc.keySet == Set("srcA", "srcB"))
    for (r <- bySrc.values) {
      assert(r.getAs[Long]("n_fp_distinct") <= r.getAs[Long]("n_fp_total"))
      assert(r.getAs[Long]("n_docs_shared") <= r.getAs[Long]("n_docs"))
    }
    assert(bySrc("srcA").getAs[Long]("n_docs_shared") >= 1L,
      "base doc must share a winnowed fingerprint with its near-dup")
    assert(bySrc("srcB").getAs[Long]("n_docs_shared") >= 1L)
  }

  test("q244: golden record merges the near-dup cluster under longest-wins") {
    val rows = Dedup.q244GoldenRecord.build(spark, dir).collect()
    // docs 0 and 2 (one word swapped) shingle-match into one cluster;
    // doc 1 (reversed word order) has different 3-gram shingles and
    // stays out. Longest-wins picks doc 0 (doc 2 lost a char in
    // small->tiny)
    val c0 = rows.find(_.getAs[Long]("component") == 0L)
    assert(c0.isDefined, s"cluster 0 missing: ${rows.mkString(";")}")
    assert(c0.get.getAs[Long]("n_merged") == 2L)
    assert(c0.get.getAs[Long]("survivor_doc") == 0L)
    assert(c0.get.getAs[Long]("n_sources") == 2L) // srcA + srcB
    assert(c0.get.getAs[Long]("n_langs") == 1L)
    for (r <- rows) {
      assert(r.getAs[Long]("n_merged") >= 2L,
        "every emitted component carries an edge, so >= 2 members")
      assert(r.getAs[Long]("n_sources") <= r.getAs[Long]("n_merged"))
    }
  }

  test("q32: LSH surfaces the near-dup candidate pair and verifies it") {
    val Row(nCand: Long, nVerified: Long, _) =
      Dedup.q32LshPairs.build(spark, dir).head()
    // docs 2 vs 0: 1 token of ~10 differs -> most shingles shared ->
    // some band collides; fully-different docs must not flood the set
    assert(nCand >= 1 && nCand <= 4)
    assert(nVerified >= 1)
  }

  test("q35: embedding near-dup finds (0,1), not the anti-parallel pair") {
    val pairs = Dedup.q35EmbeddingNeardup.build(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((0L, 1L)))
    assert(!pairs.contains((0L, 3L))) // cosine(v0, -v0) = -1
  }

  test("q40: brute-force top-k ranks the near-identical vector first") {
    val top = Similarity.q40CosineTopk.build(spark, dir).head()
    assert(top.getLong(0) == 1L) // v1 nearest to v0
    assert(top.getDouble(2) > 0.99)
  }

  test("q42: LSH ANN places near-identical vectors in the same bucket") {
    val rows = Similarity.q42LshAnn.build(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    // query 0's bucket must contain v1 (same signs on every plane at
    // this perturbation), so (0 -> 1) appears among its neighbors
    assert(rows.contains((0L, 1L)))
  }

  test("q145: multi-probe recall is monotone in nprobe and the probes do find neighbors") {
    // candidate sets are nested by construction (crank <= np), so
    // recall and candidate count must be non-decreasing per query —
    // the structural guarantee that makes nprobe a pure
    // recall-for-cost knob; run on the real generated corpus
    val rows = Similarity.q145IvfMultiprobe
      .build(spark, "/root/testdata/sf0.001")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(4)))
      .groupBy(_._1)
    assert(rows.nonEmpty)
    for ((qid, rs) <- rows) {
      val byNp = rs.sortBy(_._2)
      assert(byNp.map(_._2).toSeq == Seq(1L, 2L, 4L))
      val cands = byNp.map(_._3)
      val recalls = byNp.map(_._4)
      assert(cands.zip(cands.tail).forall { case (a, b) => a <= b },
        s"qid=$qid: candidate count not monotone: ${cands.mkString(",")}")
      assert(recalls.zip(recalls.tail).forall { case (a, b) => a <= b },
        s"qid=$qid: recall not monotone: ${recalls.mkString(",")}")
      assert(recalls.forall(r => r >= 0L && r <= 1000000L))
    }
    // the index must actually retrieve: full-probe (half the cells)
    // recall can't be zero for every query on real data
    assert(rows.values.flatMap(_.filter(_._2 == 4L).map(_._4)).max > 0L)
  }

  test("q147: ADC recall is present for every query and inside its domain") {
    val rows = Similarity.q147PqRecall
      .build(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.map(_._1).toSeq.sorted == Seq(0L, 1L, 2L, 3L, 4L))
    assert(rows.forall { case (_, hit, ppm) =>
      hit >= 0 && hit <= 10 && ppm == 1000000L * hit / 10
    })
    // a 16-entry codebook over 8 subspaces must retrieve SOMETHING:
    // all-zero recall means the lookup-table join is broken, not that
    // PQ is coarse
    assert(rows.map(_._2).sum > 0, "ADC retrieved nothing on any query")
  }

  test("q291: cone-pruned NN pass is EXACT vs in-test brute force at gate scale") {
    // the r6 verdict's ask pinned here: the IVF-routed NN pass must
    // agree with brute force — and because the cone prune is exact
    // (triangle-inequality bound + conservative float slack), the
    // agreement is total equality of the flagged-pair set, not a
    // recall level. Brute force recomputed independently in-test.
    val sfDir = "/root/testdata/sf0.001"
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("label"), col("embedding").as("v"))
    val brute = e.select(col("vec_id").as("src"), col("v"))
      .crossJoin(e.select(col("vec_id").as("dst"), col("v").as("v2")))
      .filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst"), expr("cosine_sim(v, v2)").as("cs"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("src")).orderBy(col("cs").desc, col("dst"))))
      .filter(col("rn") === 1).select(col("src"), col("dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bruteMutual = brute.collect {
      case (a, b) if brute.get(b).contains(a) && a < b => (a, b)
    }.toSet
    val labels = e.select(col("vec_id"), col("label"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val bruteFlagged = bruteMutual.filter { case (a, b) => labels(a) != labels(b) }
    val coneFlagged = Similarity.q291LabelNoise.build(spark, sfDir)
      .select(col("ida"), col("idb"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(coneFlagged == bruteFlagged,
      s"cone-pruned mutual-NN set diverged from brute force: " +
        s"missing=${(bruteFlagged -- coneFlagged).take(5)} " +
        s"extra=${(coneFlagged -- bruteFlagged).take(5)}")
    assert(coneFlagged.nonEmpty)
  }

  test("LSH bucket of a vector equals the sign pattern of its projections") {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val withBucket = e.select(col("vec_id"),
      VectorOps.lshBucketCol("embedding", 4).as("bucket"))
    val buckets = withBucket.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // v0 and v1 share all projection signs; -v0 flips every sign
    assert(buckets(0L) == buckets(1L))
    assert(buckets(3L) == 15 - buckets(0L))
  }
}
