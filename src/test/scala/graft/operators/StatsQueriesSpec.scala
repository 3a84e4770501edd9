package graft.operators

import graft.{Tables, TestSpark}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic invariants of the round-6 statistics/audit batch (q223 –
  * q229) that the hash gate can't express: normalized statistics stay
  * inside their defining ranges, self-consistency rows are exact, and
  * known-true dependencies hold. All at the sf0.001 smoke scale. */
class StatsQueriesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("q223: EMD is a normalized distance — every group in [0, 1e6] ppm") {
    val rows = Privacy.q223TCloseness.build(spark, dir)
      .select(col("emd_ppm")).collect().map(_.getLong(0))
    assert(rows.nonEmpty)
    assert(rows.forall(e => e >= 0 && e <= 1000000L),
      s"EMD outside [0, 1] range: ${rows.filter(e => e < 0 || e > 1000000L).mkString(",")}")
  }

  test("q235: conformal intervals cover the test split at ~the 90% guarantee") {
    val rows = Learn.q235Conformal.build(spark, dir).collect()
    assert(rows.length == 5) // one per market segment
    for (r <- rows) {
      val seg = r.getAs[String]("seg")
      val cov = r.getAs[Long]("coverage_ppm")
      assert(r.getAs[Long]("qhat_cents") >= 0L)
      assert(r.getAs[Long]("n_cal") > 0L && r.getAs[Long]("n_test") > 0L)
      // marginal guarantee is >= 90% in expectation; at the smoke scale
      // (~100 test orders/segment) allow ~4 sigma of binomial noise
      assert(cov >= 780000L && cov <= 1000000L,
        s"$seg coverage $cov ppm implausible for a 90% conformal interval")
    }
  }

  test("q236: off-policy estimates are well-formed per hour") {
    val rows = EventOps.q236OffPolicy.build(spark, dir).collect()
    assert(rows.length == 24)
    for (r <- rows) {
      val mu = r.getAs[Long]("mu_ppm")
      assert(mu > 0L && mu <= 1000000L, s"propensity $mu outside (0, 1e6]")
      assert(r.getAs[Long]("n_eval_matched") <= r.getAs[Long]("n_eval"))
      assert(r.getAs[Long]("ips_cents") >= 0L)
      assert(r.getAs[Long]("dm_cents") >= 0L)
      if (r.getAs[Long]("n_eval_matched") == 0L)
        assert(r.getAs[Long]("ips_cents") == 0L,
          "no matched rows must mean a zero IPS numerator")
    }
  }

  test("q237: compaction plan never grows the file count; group sizes bounded") {
    val rows = Layout.q237Compaction.build(spark, dir).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val before = r.getAs[Long]("n_files_before")
      val small = r.getAs[Long]("n_small")
      val groups = r.getAs[Long]("n_groups")
      assert(r.getAs[Long]("n_files_after") <= before)
      assert(groups <= small)
      assert((groups == 0L) == (small == 0L))
      // streaming fill: a group spans < TARGET of boundary plus one
      // tail file, each tail file < MIN
      assert(r.getAs[Long]("max_group_chars") < 2000L + 400L,
        s"group exceeds the streaming-fill bound in ${r.getAs[String]("source")}")
    }
  }

  test("q238: DBSCAN partitions every point exactly once") {
    val rows = Learn.q238Dbscan.build(spark, dir).collect()
    val total = Tables.embeddings(spark, dir).count()
    assert(rows.map(_.getAs[Long]("n_members")).sum == total,
      "clusters + noise must partition the point set")
    val noise = rows.filter(_.getAs[Long]("cluster") == -1L)
    assert(noise.length == 1 && noise.head.getAs[Long]("n_core") == 0L)
    for (r <- rows; if r.getAs[Long]("cluster") >= 0L) {
      assert(r.getAs[Long]("n_core") >= 1L, "a cluster needs a core point")
      assert(r.getAs[Long]("n_members") ==
        r.getAs[Long]("n_core") + r.getAs[Long]("n_border"))
    }
  }

  test("q240: SAX words are 6 symbols over {a,b,c,d} with quartile balance") {
    val rows = EventOps.q240Sax.build(spark, dir).collect()
    assert(rows.nonEmpty)
    val words = rows.map(_.getAs[String]("word"))
    assert(words.forall(w => w.length == 6 && w.forall("abcd_".contains(_))))
    val syms = words.flatMap(_.toSeq).filter(_ != '_')
    // quartile breakpoints put ~25% of PAA cells in each symbol class
    for (c <- "abcd") {
      val share = syms.count(_ == c).toDouble / syms.length
      assert(share > 0.10 && share < 0.40,
        s"symbol '$c' share $share violates the quartile balance")
    }
  }

  test("q245: changepoint split partitions the day axis with non-negative gain") {
    val r = Forecast.q245Changepoint.build(spark, dir).head()
    val nDays = Tables.events(spark, dir)
      .select(to_date(col("ts"))).distinct().count()
    assert(r.getAs[Long]("n_left") + r.getAs[Long]("n_right") == nDays)
    assert(r.getAs[Long]("n_left") >= 1L && r.getAs[Long]("n_right") >= 1L)
    // between-group gain is >= 0 in exact arithmetic (Cauchy-Schwarz);
    // allow one ulp of IEEE slack before the floor
    assert(r.getAs[Long]("gain_floor") >= -1L)
  }

  test("q246: removal effects are non-negative and consistent with the base rate") {
    val rows = EventOps.q246MarkovAttribution.build(spark, dir).collect()
    assert(rows.map(_.getAs[String]("channel")).sorted.toSeq ==
      Seq("click", "error", "signup", "view"))
    val bases = rows.map(_.getAs[Long]("base_ppm")).distinct
    assert(bases.length == 1, "base conversion must be scenario-invariant")
    for (r <- rows) {
      val b = r.getAs[Long]("base_ppm")
      val rem = r.getAs[Long]("removed_ppm")
      val eff = r.getAs[Long]("effect_ppm")
      assert(eff == b - rem)
      // unrenormalized removal only deletes probability mass, so the
      // removed-graph conversion can never exceed the base
      assert(rem >= 0L && rem <= b)
      assert(b >= 0L && b <= 1000000L)
    }
  }

  test("q247: randomized-response debiasing recovers true shares within noise") {
    val rows = Privacy.q247RandomizedResponse.build(spark, dir).collect()
    assert(rows.length == 5)
    val trueSum = rows.map(_.getAs[Long]("true_ppm")).sum
    assert(math.abs(trueSum - 1000000L) <= 5L, s"true shares must sum to 1: $trueSum")
    for (r <- rows) {
      assert(r.getAs[Long]("est_ppm") >= 0L)
      assert(r.getAs[Long]("err_ppm") ==
        math.abs(r.getAs[Long]("est_ppm") - r.getAs[Long]("true_ppm")))
      // ~1.2k events/category at smoke scale: 4 sigma of debiased
      // sampling noise is ~4%
      assert(r.getAs[Long]("err_ppm") < 40000L,
        s"${r.getAs[String]("cat")} debias error ${r.getAs[Long]("err_ppm")}")
    }
  }

  test("q250: the maintained view equals a direct recompute of the live rows") {
    val maintained = MergeOps.q250IvmView.build(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val direct = Tables.orders(spark, dir)
      .filter(col("o_orderkey") % 8 =!= 1)
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .join(Tables.nation(spark, dir), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"))
      .agg(count(lit(1)).as("n_orders"),
        sum(expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"))
          .as("revenue_cents"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(maintained == direct,
      "signed-merge maintenance must commute with the aggregation")
    assert(maintained.nonEmpty)
  }

  test("q251: Shapley efficiency holds as an exact integer identity") {
    val rows = EventOps.q251ShapleyAttribution.build(spark, dir).collect()
    assert(rows.length == 4)
    val vFull = rows.head.getAs[Long]("v_full_ppm")
    val vEmpty = rows.head.getAs[Long]("v_empty_ppm")
    // sum of phi*24 telescopes to 24*(v(N) - v(empty)) for ANY v —
    // exact even under the per-coalition ppm truncation
    assert(rows.map(_.getAs[Long]("phi24_ppm")).sum == 24L * (vFull - vEmpty),
      "efficiency axiom violated")
    assert(vFull >= vEmpty, "adding channels cannot remove paths")
    for (r <- rows)
      assert(r.getAs[Long]("phi_ppm") >= -1L,
        "marginals are monotone up to ppm truncation jitter")
  }

  test("q252: permutation p-value is the smoothed extreme fraction") {
    val r = DataProfile.q252PermutationTest.build(spark, dir).head()
    val ne = r.getAs[Long]("n_extreme")
    assert(ne >= 0L && ne <= 32L)
    assert(r.getAs[Long]("p_ppm") == (1000000L * (1 + ne)) / 33L)
    val pooled = Tables.events(spark, dir)
      .filter(col("event_type").isin("click", "view")).count()
    assert(r.getAs[Long]("n_click") + r.getAs[Long]("n_view") == pooled)
  }

  test("q253: the price/volume/mix bridge closes exactly for every nation") {
    val rows = FinanceAudit.q253PriceVolumeMix.build(spark, dir).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val dRev = r.getAs[Long]("rev2") - r.getAs[Long]("rev1")
      assert(dRev == r.getAs[Long]("vol_effect") +
        r.getAs[Long]("price_effect") + r.getAs[Long]("resid"),
        s"${r.getAs[String]("nation")} bridge does not close")
      // residual is only truncation slack from the integer averages
      assert(math.abs(r.getAs[Long]("resid")) <=
        r.getAs[Long]("n1") + r.getAs[Long]("n2"),
        s"${r.getAs[String]("nation")} residual exceeds truncation bounds")
    }
  }

  test("q254: greedy coverage gains diminish and the covered column is their cumsum") {
    val rows = TextAnalysis.q254MaxCoverage.build(spark, dir).collect()
      .sortBy(_.getAs[Long]("rk"))
    assert(rows.length == 5)
    assert(rows.map(_.getAs[String]("source")).distinct.length == 5)
    val gains = rows.map(_.getAs[Long]("gain"))
    assert(gains.zip(gains.tail).forall { case (a, b) => a >= b },
      s"greedy marginal gains must be non-increasing: ${gains.mkString(",")}")
    assert(rows.map(_.getAs[Long]("covered")).toSeq ==
      gains.scanLeft(0L)(_ + _).tail.toSeq)
  }

  test("q224: KS D in [0, 1e6] ppm and sample sizes match the fact table") {
    val r = DataProfile.q224KsTest.build(spark, dir).head()
    val na = r.getAs[Long]("na")
    val nb = r.getAs[Long]("nb")
    val d = r.getAs[Long]("d_ppm")
    assert(d >= 0 && d <= 1000000L)
    val counts = Tables.orders(spark, dir)
      .groupBy("o_orderstatus").count().collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(na == counts("F") && nb == counts("O"))
  }

  test("q225: Spearman rho in [-1e6, 1e6] ppm") {
    val rho = DataProfile.q225Spearman.build(spark, dir)
      .head().getAs[Long]("rho_ppm")
    assert(rho >= -1000000L && rho <= 1000000L, s"rho_ppm=$rho")
  }

  test("q226: the primary-key FD holds exactly; g3 errors stay in [0, 1e6)") {
    val rows = DataProfile.q226FdAudit.build(spark, dir).collect()
    val pk = rows.find(_.getAs[String]("fd") == "o_orderkey->o_orderstatus").get
    assert(pk.getAs[Long]("violations") == 0L && pk.getAs[Boolean]("holds"),
      "o_orderkey is the orders primary key — its FD must hold exactly")
    assert(rows.forall { r =>
      val g3 = r.getAs[Long]("g3_ppm")
      g3 >= 0 && g3 < 1000000L
    })
  }

  test("q227: confusion matrix mass equals the held-out doc count") {
    val predicted = Learn.q227NaiveBayes.build(spark, dir)
      .agg(sum("n")).head().getLong(0)
    val heldOut = Tables.documents(spark, dir)
      .filter(col("doc_id") % 5 === 0).count()
    assert(predicted == heldOut,
      s"every test doc must receive exactly one prediction " +
        s"($predicted predicted vs $heldOut held out)")
  }

  test("q228: estimator is a mean of squares (>= 0); exact F2 >= row count") {
    val r = Sketches.q228F2Sketch.build(spark, dir).head()
    val exact = r.getAs[Long]("exact_f2")
    val est = r.getAs[Long]("est_f2")
    val rows = Tables.lineitem(spark, dir).count()
    assert(est >= 0L)
    assert(exact >= rows, "sum f^2 >= sum f: each key contributes f^2 >= f")
  }

  test("q230: SPRT decision states are consistent with the emitted LLR and bound") {
    // the boundary constant is the same nano-floored ln(19) the query
    // uses — recompute it here and check every row's state agrees
    val bound = math.floor(1e9 * math.log(19.0)).toLong
    val rows = EventOps.q230Sprt.build(spark, dir).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val llr = r.getAs[Long]("llr_nn")
      val expected =
        if (llr >= bound) "reject_h0"
        else if (llr <= -bound) "accept_h0"
        else "continue"
      assert(r.getAs[String]("state") == expected, s"day ${r.get(0)}: $r")
    }
  }

  test("q231: exact join size matches the materialized join; AGM bounds it") {
    val r = Sketches.q231JoinCardinality.build(spark, dir).head()
    val exact = r.getAs[Long]("exact_join")
    val materialized = Tables.orders(spark, dir)
      .join(Tables.lineitem(spark, dir),
        col("o_orderkey") === col("l_orderkey")).count()
    assert(exact == materialized,
      s"histogram product $exact vs materialized join $materialized")
    assert(r.getAs[Long]("agm_bound") >= exact,
      "Cauchy-Schwarz: sqrt(F2_o * F2_l) >= sum f_o*f_l")
  }

  test("q232: per-source token mass sums to the corpus total") {
    val agg = TextAnalysis.q232LooInfluence.build(spark, dir)
      .agg(sum("n_tok"), sum("n_docs")).head()
    val docs = Tables.documents(spark, dir)
    val nDocs = docs.count()
    val nTok = docs.select(size(split(col("text"), " ")).cast("long").as("n"))
      .agg(sum("n")).head().getLong(0)
    assert(agg.getLong(1) == nDocs)
    assert(agg.getLong(0) == nTok,
      s"every corpus token must be scored exactly once " +
        s"(${agg.getLong(0)} scored vs $nTok in corpus)")
  }

  test("q233: rendezvous expansion moves keys only INTO the new shard") {
    val rows = Layout.q233Rendezvous.build(spark, dir).collect()
    assert(rows.length == 9)
    for (r <- rows) {
      val shard = r.getAs[Long]("shard")
      if (shard < 8) {
        assert(r.getAs[Long]("moved_in") == 0L,
          s"minimal movement violated: keys moved into old shard $shard")
      } else {
        assert(r.getAs[Long]("n_v8") == 0L)
        assert(r.getAs[Long]("moved_in") == r.getAs[Long]("n_v9"),
          "every key on the new shard must be a moved key")
      }
    }
    assert(rows.map(_.getAs[Long]("n_v8")).sum ==
      rows.map(_.getAs[Long]("n_v9")).sum, "both layouts place every key")
  }

  test("q229: the d=64 row is self-consistent (recall exactly 1e6 ppm)") {
    val rows = Similarity.q229Matryoshka.build(spark, dir).collect()
      .map(r => r.getAs[Long]("d") -> r.getAs[Long]("recall_ppm")).toMap
    assert(rows(64L) == 1000000L,
      "full-dimension ranking compared to itself must have perfect recall")
    assert(rows.values.forall(r => r >= 0 && r <= 1000000L))
  }

  test("q255: the isotonic fit is monotone and inside the raw-rate range") {
    val rows = Learn.q255Isotonic.build(spark, dir)
      .orderBy("bin").collect()
    assert(rows.nonEmpty)
    val iso = rows.map(_.getAs[Long]("iso_ppm"))
    val raw = rows.map(_.getAs[Long]("rate_ppm"))
    assert(iso.zip(iso.tail).forall { case (a, b) => a <= b },
      s"isotonic fit must be non-decreasing: ${iso.mkString(",")}")
    // minimax pooling can't escape the raw-rate envelope (1 ppm floor slop)
    assert(iso.forall(v => v >= raw.min - 1 && v <= raw.max + 1))
  }

  test("q256: tau-b is a correlation; pair accounting is consistent") {
    val r = DataProfile.q256KendallTau.build(spark, dir).head()
    val n = r.getAs[Long]("n")
    val n0 = n * (n - 1) / 2
    val tau = r.getAs[Long]("tau_b_ppm")
    assert(tau >= -1000000L && tau <= 1000000L)
    // concordant + discordant + all tied pairs can never exceed n-choose-2
    assert(r.getAs[Long]("conc") + r.getAs[Long]("disc") <= n0)
    assert(r.getAs[Long]("ties_x") <= n0 && r.getAs[Long]("ties_y") <= n0)
  }

  test("q257: variance decomposition is non-negative and eta2 is a fraction") {
    val r = DataProfile.q257Anova.build(spark, dir).head()
    assert(r.getAs[Long]("k_groups") == 5L)
    assert(r.getAs[Long]("ssb_cents2") >= 0L)
    assert(r.getAs[Long]("ssw_cents2") > 0L)
    assert(r.getAs[Long]("f_milli") >= 0L)
    val eta = r.getAs[Long]("eta2_ppm")
    assert(eta >= 0L && eta <= 1000000L)
  }

  test("q258: every PSI contribution is non-negative (same-sign product)") {
    val rows = DataProfile.q258Psi.build(spark, dir).collect()
    assert(rows.length == 20) // the fixed bucket grid, empty buckets included
    assert(rows.forall(_.getAs[Long]("psi_nano") >= 0L))
  }

  test("q259: shrinkage pulls every raw rate TOWARD the prior mean") {
    val rows = Learn.q259EbShrinkage.build(spark, dir).collect()
    assert(rows.nonEmpty)
    // the prior mean is the mean raw rate over ALL customers (the fit
    // population), recomputed here independently of the query
    val muPpm = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(expr("(1000000 * sum(case when o_orderstatus = 'F' then 1 else 0 end)) div count(1)").as("r"))
      .agg(avg(col("r"))).head().getDouble(0)
    for (r <- rows) {
      val raw = r.getAs[Long]("raw_ppm")
      val shrunk = r.getAs[Long]("shrunk_ppm")
      assert(shrunk >= 0L && shrunk <= 1000000L)
      if (raw < muPpm - 1) assert(shrunk >= raw - 1,
        s"below-prior rate must shrink UP: raw=$raw shrunk=$shrunk mu=$muPpm")
      if (raw > muPpm + 1) assert(shrunk <= raw + 1,
        s"above-prior rate must shrink DOWN: raw=$raw shrunk=$shrunk mu=$muPpm")
    }
  }

  test("q261: seasonal indexes are per-weekday means over complete neighborhoods") {
    val rows = Forecast.q261SeasonalDecomp.build(spark, dir).collect()
    // at smoke scale most days are absent, so only SOME weekdays have
    // complete 7-day neighborhoods — but each present index must be a
    // valid weekday with at least one contributing day, listed once
    assert(rows.nonEmpty)
    val dows = rows.map(_.getAs[Long]("dow"))
    assert(dows.distinct.length == dows.length)
    assert(dows.forall(d => d >= 1L && d <= 7L))
    assert(rows.forall(_.getAs[Long]("n_days") >= 1L))
  }

  test("q262: the growth-accounting waterfall closes exactly") {
    val rows = Segmentation.q262GrowthAccounting.build(spark, dir)
      .orderBy("mo").collect()
    assert(rows.nonEmpty)
    val activeByMo = rows.map(r =>
      r.getAs[java.sql.Date]("mo").toString -> r.getAs[Long]("n_active")).toMap
    for ((r, i) <- rows.zipWithIndex) {
      assert(r.getAs[Long]("n_new") + r.getAs[Long]("n_retained") +
        r.getAs[Long]("n_resurrected") == r.getAs[Long]("n_active"),
        s"active split must close at ${r.getAs[java.sql.Date]("mo")}")
      val prevMo = r.getAs[java.sql.Date]("mo").toLocalDate.minusMonths(1).toString
      activeByMo.get(prevMo).foreach { prevActive =>
        assert(r.getAs[Long]("n_retained") + r.getAs[Long]("n_churned")
          == prevActive,
          s"retained+churned must equal previous active at month $i")
      }
      if (i == 0) assert(r.getAs[Long]("n_new") == r.getAs[Long]("n_active"),
        "the first month is all-new by definition")
    }
  }

  test("q263: HHI sits between perfect spread (1/n) and monopoly (1)") {
    val rows = FinanceAudit.q263Hhi.build(spark, dir).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val n = r.getAs[Long]("n_suppliers")
      val hhi = r.getAs[Long]("hhi_ppm")
      assert(hhi >= 1000000L / n - 1 && hhi <= 1000000L,
        s"${r.getAs[String]("nation")}: HHI $hhi outside [1e6/$n, 1e6]")
      assert(r.getAs[Long]("eff_suppliers_milli") <= n * 1000L + 1)
    }
  }

  test("q264: McNemar cells cover the corpus; decision matches the statistic") {
    val r = TextAnalysis.q264McNemar.build(spark, dir).head()
    val total = r.getAs[Long]("n00") + r.getAs[Long]("n01") +
      r.getAs[Long]("n10") + r.getAs[Long]("n11")
    assert(total == Tables.documents(spark, dir).count())
    val chi2 = r.getAs[Long]("chi2_milli")
    assert(chi2 >= 0L)
    assert(r.getAs[Long]("significant") == (if (chi2 >= 3841L) 1L else 0L))
  }

  test("q265: gains accumulate to exactly 100% and cum is monotone") {
    val rows = Segmentation.q265CumGains.build(spark, dir)
      .orderBy("decile").collect()
    assert(rows.map(_.getAs[Long]("decile")).toSeq == (1L to 10L))
    val cum = rows.map(_.getAs[Long]("cum_events"))
    assert(cum.zip(cum.tail).forall { case (a, b) => a <= b })
    assert(cum.last == rows.map(_.getAs[Long]("events")).sum)
    assert(rows.last.getAs[Long]("gain_ppm") == 1000000L,
      "the full population captures every event by definition")
  }

  test("q266: CUPED reports both arms, one shared theta, var_red = rho^2 in [0,1]") {
    val rows = DataProfile.q266Cuped.build(spark, dir).collect()
    assert(rows.map(_.getAs[Long]("arm")).sorted.toSeq == Seq(0L, 1L))
    assert(rows.map(_.getAs[Long]("theta_ppm")).distinct.length == 1,
      "theta is a corpus-level constant, identical on both arm rows")
    for (r <- rows) {
      val vr = r.getAs[Long]("var_red_ppm")
      assert(vr >= 0L && vr <= 1000000L, s"rho^2 outside [0,1]: $vr")
      assert(r.getAs[Long]("n_users") > 0L)
    }
  }

  test("q267: Burrows Delta covers every source pair with bounded word panels") {
    val rows = TextAnalysis.q267BurrowsDelta.build(spark, dir).collect()
    val k = Tables.documents(spark, dir).select("source").distinct().count()
    assert(rows.length == k * (k - 1) / 2,
      s"expected all ${k * (k - 1) / 2} unordered source pairs")
    assert(rows.forall(r => r.getAs[Long]("n_words") >= 1L &&
      r.getAs[Long]("n_words") <= 30L))
    assert(rows.forall(_.getAs[Long]("delta_milli") >= 0L))
    assert(rows.forall(r => r.getAs[String]("s1") < r.getAs[String]("s2")))
  }

  test("q268: tiling predicates' estimates sum to ~n; truth sums exactly") {
    val rows = DataProfile.q268SelectivityAudit.build(spark, dir)
      .orderBy("pid").collect()
    assert(rows.length == 5)
    val n = Tables.lineitem(spark, dir).count()
    // preds 1-4 tile [0, 2e7) which covers the whole cents domain
    val est4 = rows.take(4).map(_.getAs[Long]("est_rows")).sum
    val act4 = rows.take(4).map(_.getAs[Long]("actual_rows")).sum
    assert(act4 == n, "tiling predicates must partition every row")
    assert(math.abs(est4 - n) <= 100,
      s"histogram mass must be conserved across a tiling battery: $est4 vs $n")
    assert(rows.forall(_.getAs[Long]("est_rows") >= 0L))
  }

  test("q269: the advisor recognizes the sorted key and the 3-value flag") {
    val rows = Layout.q269EncodingAdvisor.build(spark, dir).collect()
      .map(r => r.getAs[String]("cname") -> r).toMap
    assert(rows.size == 7)
    assert(rows("l_orderkey").getAs[Long]("frac_nondec_ppm") == 1000000L,
      "write order IS orderkey order, so the column is perfectly sorted")
    // the sorted key repeats ~4x (one run per order), so RLE outranks
    // DELTA in the ladder — both are valid, RLE is what the data says
    assert(rows("l_orderkey").getAs[String]("recommendation") == "RLE")
    assert(rows("l_returnflag").getAs[String]("recommendation") == "DICT")
    assert(rows("l_extendedprice").getAs[String]("recommendation") == "PLAIN",
      "near-unique random-order values defeat every structured codec")
    assert(rows("l_returnflag").getAs[Long]("frac_nondec_ppm") == -1L,
      "string columns carry no delta-monotonicity signal")
  }

  test("q270: modularity accounting is internally consistent") {
    val rows = PageRank.q270Modularity.build(spark, dir).collect()
    val (tot, comms) = rows.partition(_.getAs[Long]("lab") == -1L)
    assert(tot.length == 1)
    assert(comms.forall(r =>
      r.getAs[Long]("in_edges") <= r.getAs[Long]("deg_sum")))
    val q = tot.head.getAs[Long]("contrib_nano")
    assert(q >= -1000000000L && q <= 1000000000L, s"Q outside [-1,1]: $q")
    // the in-community edge mass can never exceed the total edge mass
    assert(tot.head.getAs[Long]("in_edges") <= tot.head.getAs[Long]("deg_sum"))
  }

  test("q271: Hamilton closure — every order's allocations sum to its rebate") {
    val rows = FinanceAudit.q271Proration.build(spark, dir).collect()
    assert(rows.nonEmpty)
    val byOrder = rows.groupBy(_.getAs[Long]("orderkey"))
    for ((ok, ls) <- byOrder) {
      val rebate = ls.head.getAs[Long]("rebate_cents")
      assert(ls.map(_.getAs[Long]("alloc_cents")).sum == rebate,
        s"order $ok leaks cents against its rebate")
      assert(ls.count(_.getAs[Long]("bumped") == 1L) < ls.length ||
        ls.length == 1,
        s"order $ok bumped every line — remainder must be < line count")
    }
    // a bumped line gets exactly its floor share + 1
    assert(rows.forall { r =>
      val a = r.getAs[Long]("alloc_cents")
      a >= 0L && a <= r.getAs[Long]("rebate_cents")
    })
  }

  test("q271: a repeated line number's leftover cent goes to the same line in any row order") {
    // order 1 repeats line 1 with 28 and 48 cents: etot = 100 is
    // divisible by 20, so both share frac = 5 * (e mod 20) = 40, the
    // top of the order, and the one leftover cent (rebate 5 = 1 + 2 + 1
    // + 1) must land on the same one of the two whatever the row order
    val lines = Seq((1L, 1, 0.28), (1L, 1, 0.48), (1L, 2, 0.24))
    def run(rows: Seq[(Long, Int, Double)]): Seq[String] = {
      val d = java.nio.file.Files.createTempDirectory("graft-q271").toString
      spark.createDataFrame(rows).toDF("l_orderkey", "l_linenumber", "l_extendedprice")
        .coalesce(1).write.parquet(s"$d/lineitem.parquet")
      FinanceAudit.q271Proration.build(spark, d).collect().map(_.toString).toSeq.sorted
    }
    val fwd = run(lines)
    assert(fwd == Seq("[1,1,28,5,2,1]", "[1,1,48,5,2,0]", "[1,2,24,5,1,0]"))
    assert(run(lines.reverse) == fwd)
  }

  test("q272: lateness quantiles are ordered and bounded by the max") {
    val rows = EventOps.q272LatenessProfile.build(spark, dir).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val p50 = r.getAs[Double]("p50_s"); val p95 = r.getAs[Double]("p95_s")
      val p99 = r.getAs[Double]("p99_s")
      val mx = r.getAs[Long]("max_late_s")
      assert(p50 <= p95 && p95 <= p99 && p99 <= mx.toDouble,
        s"${r.getAs[String]("event_type")}: quantiles out of order")
      assert(r.getAs[Long]("n_late") <= r.getAs[Long]("n"))
      if (r.getAs[Long]("n_late") == 0L) assert(mx == 0L)
    }
    // the md5 ingestion jitter (up to 1h over ~4-minute event gaps)
    // guarantees real disorder — the profile must not be vacuous
    assert(rows.map(_.getAs[Long]("n_late")).sum > 0L,
      "jittered arrivals must produce late events")
  }

  test("q273: mined pairs are genuinely cross-label and sorted hardest-first") {
    val rows = Similarity.q273HardNegatives.build(spark, dir).collect()
    assert(rows.length == 20)
    val margins = rows.map(_.getAs[Double]("margin"))
    assert(margins.zip(margins.tail).forall { case (a, b) => a <= b },
      "output must list the hardest (smallest-margin) anchors first")
    for (r <- rows) {
      assert(r.getAs[Long]("pos_id") != r.getAs[Long]("anchor_id"))
      assert(r.getAs[Long]("neg_id") != r.getAs[Long]("anchor_id"))
      assert(math.abs(r.getAs[Double]("margin") -
        (r.getAs[Double]("cos_pos") - r.getAs[Double]("cos_neg"))) == 0.0)
    }
  }

  test("q274: eval population and hit accounting are consistent") {
    val r = Association.q274NextPurchaseEval.build(spark, dir).head()
    val n = r.getAs[Long]("n_eval")
    assert(n > 0L)
    for (c <- Seq("hits_cooc", "hits_pop")) {
      assert(r.getAs[Long](c) >= 0L && r.getAs[Long](c) <= n)
    }
    assert(r.getAs[Long]("rate_cooc_ppm") ==
      1000000L * r.getAs[Long]("hits_cooc") / n)
    assert(r.getAs[Long]("rate_pop_ppm") ==
      1000000L * r.getAs[Long]("hits_pop") / n)
  }

  test("q275: removing hubs only ever shrinks the graph") {
    val rows = Graph.q275HubRobustness.build(spark, dir).orderBy("k").collect()
    assert(rows.map(_.getAs[Long]("k")).toSeq == Seq(0L, 10L, 25L, 50L))
    def mono(c: String) = {
      val v = rows.map(_.getAs[Long](c))
      v.zip(v.tail).forall { case (a, b) => a >= b }
    }
    assert(mono("n_edges"), "edge count must be non-increasing in k")
    assert(mono("gcc_size"), "the giant component can only shrink")
    assert(rows.forall(r =>
      r.getAs[Long]("gcc_size") <= r.getAs[Long]("n_nodes")))
  }

  test("q276: the quantile map never worsens a source's KS distance") {
    val rows = TextAnalysis.q276QuantileNorm.build(spark, dir).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val before = r.getAs[Long]("ks_before_ppm")
      val after = r.getAs[Long]("ks_after_ppm")
      assert(before >= 0L && after >= 0L)
      assert(after <= before,
        s"${r.getAs[String]("source")}: normalization worsened KS " +
          s"($before -> $after)")
    }
  }

  test("q277: the DP is optimal — more buckets never hurt, heuristics never win") {
    val rows = DataProfile.q277VoptHistogram.build(spark, dir).collect()
    val vopt = rows.filter(_.getAs[String]("method") == "voptimal")
      .sortBy(_.getAs[Long]("n_buckets"))
    assert(vopt.length == 8)
    val costs = vopt.map(_.getAs[Long]("sse_micro"))
    assert(costs.zip(costs.tail).forall { case (a, b) => a >= b },
      "optimal SSE must be non-increasing in the bucket budget")
    val v8 = costs.last
    for (m <- Seq("equiwidth", "equidepth")) {
      val h = rows.find(_.getAs[String]("method") == m).get.getAs[Long]("sse_micro")
      assert(v8 <= h, s"V-optimal(8) must not lose to $m ($v8 vs $h)")
    }
  }

  test("q278: the datasheet row is internally consistent") {
    val r = TextAnalysis.q278Datasheet.build(spark, dir).head()
    val n = r.getAs[Long]("n_docs")
    assert(n > 0L)
    assert(r.getAs[Long]("n_tokens") >= n)
    assert(r.getAs[Long]("en_ppm") >= 0L && r.getAs[Long]("en_ppm") <= 1000000L)
    assert(r.getAs[Long]("dup_ppm") >= 0L && r.getAs[Long]("dup_ppm") < 1000000L)
    assert(r.getAs[Long]("mean_chars") > 0L)
    assert(r.getAs[Double]("p50_chars") > 0.0)
  }

  test("q279: exactly one plan is chosen and actual finals agree") {
    val rows = Sketches.q279JoinOrder.build(spark, dir).collect()
    assert(rows.length == 2)
    assert(rows.map(_.getAs[Long]("chosen")).sum == 1L,
      "the optimizer must pick exactly one join order")
    assert(rows.map(_.getAs[Long]("act_final")).distinct.length == 1,
      "both orders compute the same final join")
    assert(rows.forall(r => r.getAs[Long]("est_intermediate") >= 0L &&
      r.getAs[Long]("act_intermediate") >= 0L))
  }

  test("q280: exactly one Otsu argmax; it attains the curve's maximum") {
    val rows = TextAnalysis.q280OtsuThreshold.build(spark, dir).collect()
    assert(rows.nonEmpty)
    assert(rows.count(_.getAs[Long]("best") == 1L) == 1,
      "the argmax must be unique (ties broken to the smallest threshold)")
    val bestSigma = rows.find(_.getAs[Long]("best") == 1L).get
      .getAs[Long]("sigma_b_micro")
    assert(rows.forall(_.getAs[Long]("sigma_b_micro") <= bestSigma))
    assert(rows.forall(r => r.getAs[Long]("w0") + r.getAs[Long]("w1") ==
      rows.head.getAs[Long]("w0") + rows.head.getAs[Long]("w1")))
  }

  test("q281: zone-map scans are supersets of the true matches, never > 16 files") {
    val rows = Layout.q281CurveShootout.build(spark, dir).collect()
    assert(rows.length == 12)
    assert(rows.forall(_.getAs[Long]("files_scanned") <= 16L))
    // true matching row counts per predicate, recomputed directly
    val d = Tables.part(spark, dir).select(
      (col("p_size") - 1).cast("long").as("sz"),
      floor((col("p_retailprice") - lit(900.0)) * lit(64.0) / lit(100.0))
        .cast("long").as("pb"))
    val preds = Map(
      1L -> ((0L, 7L, 0L, 63L)), 2L -> ((0L, 63L, 0L, 7L)),
      3L -> ((20L, 29L, 20L, 29L)), 4L -> ((40L, 49L, 0L, 15L)))
    for (r <- rows) {
      val (a, b, c2, d2) = preds(r.getAs[Long]("pid"))
      val truth = d.filter(col("sz").between(a, b) &&
        col("pb").between(c2, d2)).count()
      assert(r.getAs[Long]("rows_scanned") >= truth,
        s"pred ${r.getAs[Long]("pid")} ${r.getAs[String]("layout")}: " +
          s"a zone-map scan can never read fewer rows than actually match")
    }
  }

  test("q282: decayed revenue never exceeds raw; board is rank-ordered") {
    val rows = FinanceAudit.q282DecayedTopk.build(spark, dir)
      .orderBy("rank").collect()
    assert(rows.length == 10)
    assert(rows.map(_.getAs[Long]("rank")).toSeq == (1L to 10L))
    for (r <- rows) {
      assert(r.getAs[Long]("decayed_cents") <= r.getAs[Long]("raw_cents"),
        "decay weights are <= 1, so decayed mass cannot exceed lifetime mass")
      assert(r.getAs[Long]("all_time_rank") >= 1L)
    }
  }

  test("q283: elasticity is finite per segment and R2 is a fraction") {
    val rows = Linalg.q283Elasticity.build(spark, dir).collect()
    assert(rows.length == 5)
    for (r <- rows) {
      val r2 = r.getAs[Long]("r2_ppm")
      assert(r2 >= 0L && r2 <= 1000000L)
      assert(math.abs(r.getAs[Long]("elasticity_micro")) < 100000000L,
        "a |slope| >= 100 on log axes means the moments are broken")
    }
  }

  test("q284: Boruvka rounds keep the forest identity; weight matches Kruskal") {
    val rows = Graph.q284Boruvka.build(spark, dir).orderBy("round").collect()
    assert(rows.length == 3)
    // the weighted edge list, recomputed independently
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
    val edges = li.as("a")
      .join(li.select(col("o"), col("p").as("p2")), Seq("o"))
      .filter(col("p") < col("p2"))
      .groupBy(col("p"), col("p2")).agg(count(lit(1)).as("n"))
      .filter(col("n") >= 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    // driver-side Kruskal under the SAME total order (max count; ties
    // by (a, b)) — i.e. ascending (w = -n, a, b)
    val parent = scala.collection.mutable.Map(nodes.map(n => n -> n): _*)
    def find(x: Long): Long = {
      var r = x; while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    var kruskalWeight = 0L
    var kruskalEdges = 0
    for ((a, b, n) <- edges.sortBy { case (a, b, n) => (-n, a, b) }) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { parent(ra) = rb; kruskalWeight += n; kruskalEdges += 1 }
    }
    val trueComps = nodes.length - kruskalEdges
    for (r <- rows) {
      assert(r.getAs[Long]("n_forest_edges") ==
        nodes.length - r.getAs[Long]("n_comp_after"),
        s"round ${r.getAs[Long]("round")}: picked edges must form a forest")
      assert(r.getAs[Long]("n_comp_after") < r.getAs[Long]("n_comp_before"))
    }
    val last = rows.last
    if (last.getAs[Long]("n_comp_after") == trueComps) {
      // fully converged at this scale -> the forest IS the MSF
      assert(last.getAs[Long]("forest_affinity") == kruskalWeight,
        s"converged Boruvka must equal Kruskal " +
          s"(${last.getAs[Long]("forest_affinity")} vs $kruskalWeight)")
    } else {
      // partial trajectory: Boruvka's cut property still bounds it
      assert(last.getAs[Long]("forest_affinity") <= kruskalWeight)
    }
  }

  test("q285: the loss curve is monotone in the delay and ends near zero") {
    val rows = EventOps.q285WatermarkLoss.build(spark, dir)
      .orderBy("event_type", "delay_s").collect()
    assert(rows.length == 25) // 5 types x 5 candidate delays
    for (g <- rows.groupBy(_.getAs[String]("event_type")).values) {
      val drops = g.sortBy(_.getAs[Long]("delay_s")).map(_.getAs[Long]("drop_ppm"))
      assert(drops.zip(drops.tail).forall { case (a, b) => a >= b },
        "a longer watermark can only drop fewer events")
      assert(drops.last == 0L,
        "the 1h delay equals the jitter bound, so nothing can be later")
    }
  }

  test("q286: two Newton steps beat the coin and never lose to the majority") {
    val rows = Learn.q286Logistic.build(spark, dir).collect()
      .map(r => r.getAs[String]("metric") -> r.getAs[Long]("value")).toMap
    assert(rows.size == 6)
    val n = rows("n")
    // the fit population is exactly the customers with pre-cutoff orders
    val cut = lit("1999-01-01").cast("timestamp")
    val expected = Tables.orders(spark, dir)
      .filter(col("o_orderdate") < cut)
      .select(col("o_custkey")).distinct().count()
    assert(n == expected)
    assert(rows("logloss_avg_nano") < 693147181L,
      "a fitted model must beat the uninformed ln(2) log-loss")
    val churners = Tables.orders(spark, dir).groupBy(col("o_custkey"))
      .agg(max(col("o_orderdate")).as("mx"))
      .filter(col("mx") < cut).count()
    val majority = math.max(churners, expected - churners)
    assert(rows("acc_ppm") >= 1000000L * majority / expected - 20000L,
      "Newton must not lose to the majority-class baseline")
    assert(rows("acc_ppm") <= 1000000L)
  }

  test("q287: universe sampling retains far more joint evidence than row sampling") {
    val rows = Sketches.q287SamplingJoinEst.build(spark, dir).collect()
      .map(r => r.getAs[String]("method") -> r).toMap
    assert(rows.size == 2)
    val u = rows("universe"); val r = rows("row")
    assert(u.getAs[Long]("actual_rows") == r.getAs[Long]("actual_rows"))
    // same budget, but correlated keys survive at 1/64 while
    // independent rows pair-survive at 1/64^2
    assert(u.getAs[Long]("sample_join_rows") > r.getAs[Long]("sample_join_rows"),
      "key-universe sampling must keep more matched pairs per budget")
    for (x <- Seq(u, r)) {
      assert(x.getAs[Long]("est_rows") >= 0L)
      assert(x.getAs[Long]("err_ppm") ==
        1000000L * math.abs(x.getAs[Long]("est_rows") -
          x.getAs[Long]("actual_rows")) /
          math.max(x.getAs[Long]("actual_rows"), 1L))
    }
  }

  test("q288: BH ranks are a permutation and significance is downward-closed") {
    val rows = DataProfile.q288BhFdr.build(spark, dir).collect()
    assert(rows.length == 10)
    val ranks = rows.map(_.getAs[Long]("bh_rank")).sorted.toSeq
    assert(ranks == (1L to 10L), s"ranks must be a permutation: $ranks")
    for (r <- rows) {
      assert(r.getAs[Long]("bh_cut_ppm") == 10000L * r.getAs[Long]("bh_rank"))
      val p = r.getAs[Long]("p_ppm")
      assert(p >= 1000000L / 33 && p <= 1000000L,
        s"smoothed permutation p outside its possible range: $p")
    }
    // the BH step-up rejects a PREFIX of the sorted p-values
    val byRank = rows.sortBy(_.getAs[Long]("bh_rank"))
      .map(_.getAs[Long]("significant"))
    assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b },
      "significance must be downward-closed in the BH rank")
  }

  test("q289: HRU greedy benefits diminish and the answer cost only falls") {
    val rows = Layout.q289ViewSelection.build(spark, dir).orderBy("rk").collect()
    assert(rows.length == 3)
    assert(rows.map(_.getAs[String]("view_name")).distinct.length == 3,
      "the greedy must never re-pick a materialized view")
    val bene = rows.map(_.getAs[Long]("benefit"))
    assert(bene.zip(bene.tail).forall { case (a, b) => a >= b },
      "greedy marginal benefits are non-increasing (submodularity)")
    val costs = rows.map(_.getAs[Long]("total_cost_after"))
    assert(costs.zip(costs.tail).forall { case (a, b) => a >= b },
      "materializing more views can never raise the total answer cost")
    assert(rows.forall(_.getAs[Long]("benefit") >= 0L))
  }

  test("q290: anomaly scores are sorted hardest-first and self-consistent") {
    val rows = Forecast.q290SeasonalAnomaly.build(spark, dir).collect()
    assert(rows.nonEmpty && rows.length <= 15)
    val zabs = rows.map(r => math.abs(r.getAs[Long]("z_milli")))
    assert(zabs.zip(zabs.tail).forall { case (a, b) => a >= b },
      "output must be ordered by |z| descending")
    // exact identity: residual = detrended*1000 - that weekday's index,
    // with the index recomputed here independently
    val seasonal = Forecast.q261SeasonalDecomp.build(spark, dir).collect()
      .map(r => r.getAs[Long]("dow") -> r.getAs[Long]("seasonal_millicents"))
      .toMap
    for (r <- rows) {
      val day = r.getAs[java.sql.Date]("day").toLocalDate
      val dow = (day.getDayOfWeek.getValue % 7) + 1 // Spark: Sunday = 1
      val det = (r.getAs[Long]("cents") - r.getAs[Long]("trend_cents")) * 1000
      assert(r.getAs[Long]("resid_milli") == det - seasonal(dow),
        s"$day: residual must equal detrended minus the dow-$dow index")
    }
  }

  test("q291: flagged pairs are cross-label, canonical, and sorted") {
    val rows = Similarity.q291LabelNoise.build(spark, dir).collect()
    assert(rows.nonEmpty)
    val pairs = rows.map(r => (r.getAs[Long]("ida"), r.getAs[Long]("idb")))
    assert(pairs.forall { case (a, b) => a < b })
    assert(pairs.distinct.length == pairs.length,
      "each mutual pair appears exactly once")
    assert(rows.forall(r =>
      r.getAs[Int]("label_a") != r.getAs[Int]("label_b")))
    val cs = rows.map(_.getAs[Double]("cs"))
    assert(cs.zip(cs.tail).forall { case (a, b) => a >= b },
      "review queue must list the most-similar (most suspicious) first")
  }

  test("q260: WL refinement only ever SPLITS color classes") {
    val rows = Graph.q260WlRefinement.build(spark, dir)
      .orderBy("round").collect()
    assert(rows.length == 3)
    val colors = rows.map(_.getAs[Long]("n_colors"))
    val maxc = rows.map(_.getAs[Long]("max_class"))
    val single = rows.map(_.getAs[Long]("n_singletons"))
    assert(colors.zip(colors.tail).forall { case (a, b) => a <= b },
      "distinct colors can only grow under refinement")
    assert(maxc.zip(maxc.tail).forall { case (a, b) => a >= b },
      "the largest class can only shrink under refinement")
    assert(single.zip(single.tail).forall { case (a, b) => a <= b },
      "singleton classes never re-merge under refinement")
  }
}
