package graft.queries

import graft.TestSpark
import graft.operators.{Dedup, Similarity}
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape audits: the physical plans must carry the scale
  * properties the scaladocs claim — pushdown reaching the scan,
  * dimensions broadcast, no stray shuffles, whole-stage codegen on the
  * hot paths. Guards against silent plan regressions that correctness
  * gates cannot see. */
class PlanAuditSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def plan(q: graft.QueryDef): String =
    q.build(spark, dir).queryExecution.executedPlan.toString

  test("q11: filter and projection push into the parquet scan") {
    val p = plan(CoreQueries.q11FilterProject)
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("EqualTo(l_returnflag,R)"), p)
    assert(p.contains("GreaterThan(l_quantity,"), p) // toString truncates the list
    // pruned read schema: only the four selected columns
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_quantity:double,l_returnflag:string>"), p)
  }

  test("q04: dimension joins are broadcast, fact side never shuffles for the join") {
    val p = plan(CoreQueries.q04DecodeBroadcast)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q01: single shuffle for the aggregation, partial aggregate map-side") {
    val p = plan(CoreQueries.q01PricingSummary)
    assert(p.contains("HashAggregate"), p)
    // partial + final pair: two HashAggregate levels around one exchange
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    assert(p.contains("partial_sum"), p) // map-side combine before the exchange
  }

  test("q03: anti join planned as a real join, not a driver-side filter") {
    val p = plan(CoreQueries.q03AntiJoin)
    assert(p.contains("LeftAnti"), p)
  }

  test("q41: query side broadcast for the kNN join") {
    val p = plan(Similarity.q41KnnJoin)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
  }

  test("LSH-bucket-partitioned corpus layout: a bucket search prunes partitions") {
    // the 100 TB ANN story (Similarity scaladoc): the bucket id is
    // data-independent, so the corpus can be written PARTITIONED BY
    // bucket and a query's search touches one directory, not the corpus
    import org.apache.spark.sql.functions._
    val out = java.nio.file.Files.createTempDirectory("graft-bucketed-ann").toString
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .withColumn("bucket", expr("lsh_bucket(embedding, 4, 64)"))
    e.write.partitionBy("bucket").mode("overwrite").parquet(out)
    val probe = spark.read.parquet(out).filter(col("bucket") === 5)
    val p = probe.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters:"), p)
    assert(p.contains("(bucket"), p) // the bucket predicate is a partition filter
    // and the scan really only touches the one bucket directory
    val files = probe.select(input_file_name()).distinct()
      .collect().map(_.getString(0))
    assert(files.nonEmpty && files.forall(_.contains("bucket=5")), files.mkString("\n"))
    assert(probe.count() == e.filter(col("bucket") === 5).count())
  }

  test("q85: the sample's rn <= k filter plants the TopKPerKey heap prune") {
    // the count-over-partition that used to ride the same Window node
    // disabled the rewrite (single-row_number guard) and forced a full
    // per-flag sort; with the count split into an aggregate + broadcast
    // join, the heap prune must be in the plan
    val q = graft.operators.Sketches.q85SampleQuantiles.build(spark, dir)
    assert(q.queryExecution.optimizedPlan.toString.contains("TopKPerKey"),
      q.queryExecution.optimizedPlan.toString)
  }

  test("q34: both pair-count arms plan safe shapes (kernel MapPartitions / shuffle equi join)") {
    // default dispatch at gate scale rides the AllPairs postings
    // kernel: the pair stream is a MapPartitions over a Range of doc
    // indices (distributed by `a` range), never a cartesian
    val pk = plan(Dedup.q34NgramJaccard)
    assert(pk.contains("MapPartitions") && pk.contains("Range"), pk)
    assert(!pk.contains("CartesianProduct"), pk)
    assert(!pk.contains("BroadcastNestedLoopJoin"), pk)
    // the any-scale arm (forced via kernelMaxRows = 0): the hashed-key
    // derivation sits behind a localCheckpoint (shared by the hot-key
    // scan and both join sides), so the plan joins an ExistingRDD on
    // the compacted kh column — an equi hash join, no pair explosion
    val bg = Dedup.bigramSets(
      graft.operators.Corpus.tokenized(spark, dir))
    val ps = Dedup.bigramPairInter(bg, kernelMaxRows = 0L)
      .queryExecution.executedPlan.toString
    assert(ps.contains("Scan ExistingRDD") && ps.contains("kh#"), ps)
    assert(!ps.contains("CartesianProduct"), ps)
    assert(!ps.contains("BroadcastNestedLoopJoin"), ps)
  }

  test("q69: span dedup never joins on raw text and has no quadratic join") {
    val p = plan(Dedup.q69SpanDedup)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // the dup verdict joins on the span key; document text stays in
    // the projection, never in a join condition
    assert(!p.toLowerCase.contains("join [text"), p)
  }

  test("q70: corpus stats are broadcast; the documents side is never shuffled for them") {
    val p = plan(graft.operators.Retrieval.q70Bm25)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
  }

  test("q73: the PQ codebook is broadcast against the corpus") {
    val p = plan(Similarity.q73Pq)
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q78: the neighborhood windows are partitioned — no corpus-wide single-task window") {
    val p = plan(Dedup.q78SortedNeighborhood)
    // phase-1 windows carry the pid partition spec; only the tiny
    // heads/tails boundary window is global
    assert(p.contains("[pid#"), p)
  }

  test("q99: date filter pushes into the orders scan; the nation chain is broadcast") {
    val p = plan(CoreQueries.q99StarJoin)
    // predicate pushdown: the year cut reaches the parquet scan
    assert(p.contains("GreaterThanOrEqual(o_orderdate,"), p)
    // the region->nation dimension chain joins as broadcast
    assert(p.contains("BroadcastHashJoin"), p)
    // pruned scans: lineitem reads only the join/measure columns
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_suppkey:bigint,l_extendedprice:double,l_discount:double>"), p)
  }

  test("q95: centroid assignment joins broadcast — the points side never shuffles for it") {
    // audit the assignment stage itself: the checkpointed end-to-end
    // plan truncates lineage, hiding the join this test is about
    import org.apache.spark.sql.functions.col
    val pts = graft.operators.Learn.points(
      spark.read.parquet(s"$dir/embeddings.parquet"))
    val cent = pts.filter(col("vec_id") < 4)
      .select(col("vec_id").as("cid"), col("pos"), col("q").as("c"))
    val p = graft.operators.Learn.assign(pts, cent)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("partial_sum"), p) // distance sums combine map-side
  }

  test("q97: the count-min grid probe side joins against a broadcast grid") {
    val p = plan(graft.operators.Sketches.q97CountMin)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("partial_count"), p) // grid build combines map-side
  }

  test("q104: triangle join is equi-join only — no cartesian wedge explosion") {
    val p = plan(graft.operators.Graph.q104Triangles)
    assert(!p.contains("CartesianProduct") ||
      // the final 1-row stat crossJoins are the only nested-loop joins
      !p.substring(0, p.indexOf("Scan ExistingRDD")).contains("CartesianProduct"), p)
    assert(p.contains("Scan ExistingRDD"), p) // checkpointed edge list reused
  }

  test("q68: the bloom probe filters the fact side before its exchange") {
    val p = plan(graft.operators.BloomJoin.q68BloomJoin)
    assert(p.contains("might_contain"), p) // codegen'd probe in a Filter
    val probeIdx = p.indexOf("might_contain")
    val scanIdx = p.indexOf("Scan parquet", probeIdx)
    assert(scanIdx > 0, p) // the probe sits directly over the fact scan,
    // i.e. upstream of any exchange on that path
    assert(!p.substring(probeIdx, scanIdx).contains("Exchange"), p)
  }

  test("q107: pair generation is an array expansion, not a basket self-join") {
    val p = plan(graft.operators.Association.q107AssocRules)
    // one Generate (the explode of the per-order pair array); the only
    // joins are the bounded count-attach joins, all broadcast
    assert(p.contains("Generate explode"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q110: both skyline prune stages join broadcast — the part scan never shuffles") {
    val p = plan(graft.operators.Skyline.q110Skyline)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q116/q121: profile joins are broadcast against the fact scan") {
    for (q <- Seq(graft.operators.DataProfile.q116Histogram,
        graft.operators.DataProfile.q121FkAudit)) {
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), p)
      assert(!p.contains("SortMergeJoin"), p)
    }
  }

  test("q122: the factor matrix is broadcast; the tf triples meet it without a join shuffle") {
    val p = plan(graft.operators.Linalg.q122Spmm)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q113: the three rolling window sums share ONE exchange and one sort") {
    val p = plan(graft.operators.EventOps.q113RollingZscore)
    // a single Window node computes n/s/q over the same (user_id) spec
    assert("RunningWindowFunction|Window".r.findAllIn(p).size >= 1, p)
    val exchanges = "Exchange hashpartitioning\\(user_id".r.findAllIn(p).size
    assert(exchanges == 1, s"expected 1 user_id exchange, got $exchanges\n$p")
  }

  test("q125: the interval join is an equi-join on the day bucket, not a theta join") {
    val p = plan(graft.operators.EventOps.q125IntervalJoin)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q170: the lag expansion joins as a keyed equi-join, never a cartesian") {
    val p = plan(graft.operators.Forecast.q170Ewma)
    // (cust, rn_src) equi-join — both sides hash-partitioned, no
    // nested-loop fallback from the lag arithmetic
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // the per-customer rank window partitions by the unbounded key
    assert(p.contains("hashpartitioning(cust"), p)
  }

  test("q171: gap expansion is a projection — one window, no join at all") {
    val p = plan(graft.operators.Forecast.q171Interpolate)
    assert(!p.contains("Join"), s"interpolation should be join-free:\n$p")
    // two keyed exchanges total: the (user_id, d) daily aggregate and
    // the per-user window — nothing else moves rows
    val exchanges = "Exchange hashpartitioning\\(user_id".r.findAllIn(p).size
    assert(exchanges == 2, s"expected 2 user_id-keyed exchanges, got $exchanges\n$p")
  }

  test("q173: threshold scoring runs on broadcast aggregates — one fact-sized cube pass") {
    val p = plan(graft.operators.Learn.q173Stump)
    assert(!p.contains("CartesianProduct"), p)
    // the count cube is localCheckpointed: downstream stages read the
    // materialized RDD, never re-deriving the corpus explode
    assert(p.contains("ExistingRDD") || p.contains("LocalTableScan"), p)
  }

  test("q174: centroid distances join broadcast; the two-best pick partitions by vec_id") {
    val p = plan(graft.operators.Learn.q174Calibration)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("hashpartitioning(vec_id"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q185: shapes share one checkpointed signature; the bucket join keys on (shape, bucket)") {
    val p = plan(graft.operators.Dedup.q185BandSweep)
    assert(p.contains("ExistingRDD"), p) // minhash derived once
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("bands"), p) // shape id in the join key
  }

  test("q182: the rate table broadcasts into the sampling pass; fact rows never shuffle") {
    val p = plan(graft.operators.DataProfile.q182NeymanSample)
    // the fact-side sampling join must be broadcast with the hash
    // filter in its condition (a sort-merge join may appear in the
    // final report join — two ≤|strata|-row aggregates, harmless)
    assert("BroadcastHashJoin \\[etype#\\d+\\], \\[etype#\\d+\\], Inner"
      .r.findAllIn(p).nonEmpty, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q186: one fact pass into a 9-group aggregate; report math never rescans orders") {
    val p = plan(graft.operators.DataProfile.q186Benford)
    // exactly one parquet scan (the cents pass); the Benford literal
    // axis meets the digit counts in a broadcast join; the total is a
    // window over the 9-row frame, not a second aggregate of the scan
    assert("Scan parquet".r.findAllIn(p).size == 1, p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // partial/final digit counts — map-side combine before the exchange
    assert(p.contains("partial_count"), p)
  }

  test("q187: pairwise slopes ride the checkpointed day axis, never fact rows") {
    val p = plan(graft.operators.Forecast.q187TheilSen)
    // orders collapses to the day axis once at checkpoint time; the
    // |days|^2 pair frame and the rank both start from ExistingRDD
    assert(!p.contains("Scan parquet"), p)
    assert(p.contains("ExistingRDD"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q190: two map-collapsing passes over the SHARED tokenized corpus, math on the bucket axis") {
    val p = plan(graft.operators.TextAnalysis.q190HeapsLaw)
    // r10: both corpus passes read the memoized Corpus.tokenized
    // checkpoint — no parquet re-scan, no re-split, anywhere
    assert(!p.contains("Scan parquet"), p)
    assert(p.contains("ExistingRDD"), p)
    // shingle explosion is the zip_with projection over the shared tk
    // array: one Generate per pass, never an element-wise re-split
    assert("Generate explode".r.findAllIn(p).size == 2, p)
    assert(p.contains("partial_count") || p.contains("partial_min"), p)
  }

  test("q191: one fact collapse feeds sketch, totals, and truth; totals broadcast back") {
    val p = plan(graft.operators.Sketches.q191QuantileSketch)
    // the checkpointed (type, value) histogram replaces every scan
    assert(!p.contains("Scan parquet"), p)
    assert(p.contains("ExistingRDD"), p)
    // per-type totals are a broadcast; the truth side carries the
    // ScaleRank chunking, not a per-type value-domain window
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("__sr_pid") &&
      (p.contains("rangepartitioning") || p.contains("RangePartitioning")), p)
  }

  test("q188: the duplicate screen is an equi-join on the composite key, never a theta join") {
    val p = plan(graft.operators.FinanceAudit.q188DupCharge)
    // the hash match must carry all three key columns; the window and
    // orientation predicates are post-join filters
    assert("(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \\[s#\\d+L?, p#\\d+L?, q#\\d+L?\\]"
      .r.findAllIn(p).nonEmpty, p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q184: both lag joins ride the checkpointed day axis") {
    val p = plan(graft.operators.EventOps.q184Mase)
    assert(!p.contains("Scan parquet"), p)
    assert(p.contains("ExistingRDD"), p)
  }

  test("q181: the LM lookup is an equi-join on the bigram keys") {
    val p = plan(graft.operators.TextAnalysis.q181BigramPpl)
    // key-equi joins only — Spark's size-based planning broadcasts
    // the tiny test-scale model and shuffle-joins a real one; nothing
    // in the plan FORCES a broadcast. The lone nested-loop is the
    // 1-row vocab-size cross join.
    assert("BroadcastHashJoin \\[x#\\d+, y#\\d+\\]".r.findAllIn(p).nonEmpty ||
      p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q178: cusum windows run on the checkpointed day axis, never fact rows") {
    val p = plan(graft.operators.EventOps.q178Cusum)
    // orders collapses to the day axis at checkpoint time; the
    // prefix/min windows see only the bounded axis
    assert(!p.contains("Scan parquet"), p)
    assert(p.contains("ExistingRDD"), p)
  }

  test("q179: the 32-replicate bootstrap axis expands map-side into one aggregate pass") {
    val p = plan(graft.operators.DataProfile.q179BootstrapCi)
    // one generate + partial/final aggregate pair; no join, no
    // replicate-axis shuffle of fact rows
    assert(!p.contains("Join"), p)
    assert(p.contains("Generate explode"), p)
    assert(p.contains("partial_sum") || "HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("q180: the vocab top-200 plans as TakeOrdered, regression on the bounded frame") {
    val p = plan(graft.operators.TextAnalysis.q180Zipf)
    assert(p.contains("TakeOrdered"), p)
  }

  test("q176: candidate generation plans as TakeOrdered; rerank rounds ride checkpoints") {
    val p = plan(graft.operators.Similarity.q176MmrRerank)
    // the final plan runs over the checkpointed ≤5-row selected set —
    // no corpus scan, no global sort survives in it
    assert(!p.contains("Scan parquet"), p)
    assert(p.contains("ExistingRDD"), p)
  }

  test("q177: one fact-sized histogram pass; pair stats ride the bounded histogram") {
    val p = plan(graft.operators.DataProfile.q177MannWhitney)
    // events collapses to the (type, value) histogram at checkpoint
    // time; no parquet scan survives downstream
    assert(!p.contains("Scan parquet"), p)
    assert(p.contains("__sr_pid"),
      s"q177: pair running count lost the ScaleRank chunking:\n$p")
  }

  test("q175: one pass over documents; report stages never rescan the corpus") {
    // the per-lang aggregate is localCheckpointed at build time (the
    // single corpus scan); the report plan reads only the
    // materialized frame — zero parquet scans survive in it
    val p = plan(graft.operators.TextAnalysis.q175Composition)
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans == 0, s"expected no residual documents scan, got $scans\n$p")
    assert(p.contains("ExistingRDD"), p)
  }
}
