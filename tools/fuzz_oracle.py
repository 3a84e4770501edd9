#!/usr/bin/env python3
"""Oracle fuzz harness for the known portability cliffs.

The correctness gate runs against ONE generated corpus per scale — a
query can be green there yet diverge on data the generator merely
happens not to produce (the round-2 HUGEINT class shipped exactly this
way). This tool redraws the VALUE domains of the tables feeding the
fragile oracle twins — money 2dp doubles, event values, variant props,
document text — while keeping every key, timestamp, and pinned corpus
invariant (events.value in [0,1000), ASCII text, props.k in the q86
domain, doc_id < 1e6), then replays graft.VerifySome + the DuckDB
compare on the redrawn corpus.

Usage: python3 tools/fuzz_oracle.py [seed ...]   (default seeds 1..5)

Each seed is an independent corpus under /tmp/fuzz_sf_<seed>; exit 1 if
any seed fails any query.
"""
import os
import re
import shutil
import subprocess
import sys

import duckdb

SRC = "/root/testdata/sf0.001"

# the fragile families: decimal-cast money chains, ppm floor-divs,
# IEEE double chains, variant casts, distributed-rank ntile twins,
# the ScaleRank window conversions, weighted percentiles, and the
# round-5 text/graph additions
QUERIES = [
    "q01_pricing_summary", "q17_percentiles", "q86_variant_extract",
    # r11: q34 rides the documents text redraw AND gained the
    # dual-path pair counting — fuzz exercises the kernel arm + the
    # naive-quadratic oracle twin on every redrawn corpus
    "q34_ngram_jaccard",
    # r11: the dup-key boundary family — (l_orderkey, l_linenumber)
    # is NOT unique in the driver's lineitem (1161 dup groups); the
    # seed-4 stable-set sample caught q11's LIMIT cut splitting a tie
    # group (exactly what --sample exists for). All three now carry
    # full tiebreaks; pinned here so every future redraw re-proves it
    "q11_filter_project", "q02_surrogate_key", "q269_encoding_advisor",
    # r12: the two r11 stable-set catches, fixed and pinned —
    # q345's corpus-total divisor can be 0 when a redraw admits no
    # tokens (ANSI DIVIDE_BY_ZERO, now greatest(1,t)-guarded on both
    # sides); q50's oracle needed q86's json_valid guard against the
    # injected malformed-props literal
    "q345_knapsack_mix", "q50_json_extract",
    "q106_iqr_outliers", "q107_assoc_rules",
    "q108_collocations", "q113_rolling_zscore", "q116_histogram",
    "q119_rfm", "q123_chisq_independence", "q124_group_regression",
    "q129_equidepth", "q131_reconciliation", "q133_gini",
    "q134_seasonality", "q137_dwell_times", "q138_peak_concurrency",
    "q139_fulfillment", "q144_weighted_median", "q146_filter_yield",
    "q148_vocab_growth", "q149_skew_report", "q150_kcore_peel",
    "q151_dedup_whatif", "q156_ohlc_bars", "q157_cohort_ltv",
    "q70_bm25", "q158_source_overlap", "q160_hybrid_rrf",
    "q161_admission_funnel",
    # round-5 additions: span containment (text redraw), ACF/z-test/
    # kappa IEEE chains, KM integer recurrence, sqrt mixture weights
    "q162_containment", "q163_acf", "q164_survival", "q165_ab_test",
    "q167_temp_mixture", "q168_classifier_eval",
    # dyadic EWMA + interpolation + MAD ride redrawn money/values;
    # composition rides the documents redraw (HUGEINT/double shares)
    "q170_ewma", "q171_interpolate", "q172_mad_outliers",
    "q175_composition", "q177_mannwhitney",
    # CUSUM rides redrawn money; bootstrap rides redrawn values;
    # Zipf's ln chains ride the documents text redraw
    "q178_cusum", "q179_bootstrap_ci", "q180_zipf",
    "q181_bigram_ppl",
    # Neyman weights ride redrawn value variances; Wilson/MASE are
    # IEEE-chain + HUGEINT ratios over redrawn counts/money
    "q182_neyman_sample", "q183_funnel_ci", "q184_mase",
    "q185_band_sweep",
    # Benford digits ride the money redraw (decimal-cast cents,
    # HUGEINT share); Theil-Sen's IEEE floor-div slopes ride redrawn
    # money AND a rank-selected median over them
    "q186_benford", "q187_theil_sen",
    # the dup screen rides redrawn quantities/dates; Pareto rides the
    # money redraw through the running-sum class cut
    "q188_dup_charge", "q189_pareto_abc",
    # Heaps rides the documents text redraw through ln chains and the
    # shingle first-appearance axis
    "q190_heaps_law",
    # the quantile sketch rides the events value redraw through both
    # the octave estimate and the exact rank selection
    "q191_quantile_sketch",
    # VWAP/round-bias ride the money+quantity redraw through integer
    # floor-divs; drawdown rides it through running sum/max windows;
    # keyness rides the documents text redraw through the q123-style
    # IEEE chi-square chain; schema drift rides the props/ts redraw
    # through the json_valid guard
    "q192_vwap", "q193_drawdown", "q195_round_bias",
    "q196_schema_drift", "q197_keyness",
    # readability rides the text redraw through split/regex counts;
    # entropy is a literal five-term IEEE ln chain over redrawn event
    # mixes; burstiness rides the text redraw through HUGEINT moments
    "q198_readability", "q199_session_entropy", "q200_burstiness",
    # the privacy audits ride the customer balance redraw (below):
    # 2dp balances spanning NEGATIVE values exercise the shifted-
    # bucket div exactly where Spark div and DuckDB // would diverge
    # unshifted, plus the ladder monotonicity across regrouped sizes
    "q201_k_anonymity", "q202_l_diversity", "q203_generalization_ladder",
    # Haar details ride the money redraw through signed integer sums;
    # the zone-map audit rides the lineitem redraw through the
    # two-level rank (group shapes shift with redrawn row content)
    "q204_haar_detail", "q205_zonemap_prune",
    # the sketch rollup rides the events ts redraw through week cells;
    # fertility rides the documents text redraw through the full BPE
    # train+encode recursion and the word-keyed rollup join
    "q206_sketch_rollup", "q207_bpe_fertility",
    # DiD cell means and the ABC x XYZ matrix ride the money+quantity
    # redraws through floor-div means, the Pareto running-sum cut, and
    # the integer dispersion moments
    "q210_diff_in_diff", "q211_abc_xyz",
    # CDC compaction rides the money redraw through the arg-max
    # survivors; the leak-safe split rides the text redraw through the
    # md5-prefix cluster keys (duplicate texts regroup every seed)
    "q212_cdc_compact", "q213_leak_safe_split",
    # the ledger register rides the money redraw through per-row
    # content hashes up both levels of the hash tree
    "q214_ledger_register",
    # KN rides the text redraw through four count tables and the
    # dyadic-discount IEEE chain (unseen contexts/words regroup)
    "q215_kn_ppl",
    # negative sampling rides the text redraw through the correctly-
    # rounded sqrt(c*sqrt(c)) chain; pseudonymization rides the
    # customer redraw through salted md5-prefix keys on BOTH sides
    "q216_negative_sampling", "q217_pseudonymize",
    # the weekly KPI rides the money redraw through the signed IEEE
    # WoW division; SLO burn rides the events redraw through running
    # ppm ratios and the clamped budget
    "q218_weekly_kpi", "q219_slo_burn",
    # stickiness rides the events redraw through the trailing-window
    # expansion and exact distinct counts
    "q220_stickiness",
    # the scaling-law fit rides the text redraw through four nested
    # models, the nano-int NLL chain, and the integer OLS moments
    "q221_scaling_law",
    # the velocity screen's flag threshold rides the (unchanged)
    # order dates, but the pair counts regroup with redrawn rows
    "q222_velocity_screen",
    # t-closeness rides the customer balance redraw through the
    # shifted buckets and the CDF cross-products; KS rides the money
    # redraw through both ECDFs AND the critical-value sqrt chain;
    # Spearman rides money+quantity through doubled average ranks and
    # the HUGEINT/DECIMAL moment casts; NB rides the text redraw
    # through every ln chain and the OOV-drop/absent-class defaults
    "q223_t_closeness", "q224_ks_test", "q225_spearman",
    "q227_naive_bayes",
    # the SPRT rides the events value redraw through the conversion
    # threshold and the nano-floored ln constants; LOO influence rides
    # the text redraw through per-(word,source) ln chains and the
    # unique-word vocabulary subtraction
    "q230_sprt", "q232_loo_influence",
    # round-6 additions: winnowing/golden-record/feature-hashing ride
    # the text redraw (gram hashes, shingle clusters, slot loads);
    # conformal/changepoint/SSSP ride the money redraw (cents order
    # statistics, IEEE split scores, min-cents edge weights); the
    # off-policy and SAX screens ride the events value redraw
    # (propensity argmax regroup, PAA quartile breakpoints)
    "q234_winnowing", "q235_conformal", "q236_offpolicy",
    "q240_sax", "q242_sssp", "q243_feature_hashing",
    "q244_golden_record", "q245_changepoint",
    # postings gaps regroup with the text redraw; the IVM view rides
    # the money redraw through every signed partial sum
    "q248_postings_compression", "q250_ivm_view",
    # the permutation test rides the events value redraw through every
    # relabeled mean; the PVM bridge rides the money redraw through
    # the truncating-average effects and the closure residual
    "q252_permutation_test", "q253_price_volume_mix",
    # greedy coverage picks regroup with the text redraw (shingle
    # dictionaries and marginal-gain argmaxes shift per corpus)
    "q254_max_coverage",
    # the calibration/drift/shrinkage quartet rides the money redraw
    # (price bins, interval pooling, MoM prior fit, ln drift terms);
    # Kendall rides the discount/quantity joint histogram regroup
    "q255_isotonic", "q256_kendall_tau", "q257_anova", "q258_psi",
    "q259_eb_shrinkage",
    # seasonal/HHI/gains ride the money redraw (daily cents, shares,
    # decile cuts); McNemar rides the text redraw (n_chars threshold)
    "q261_seasonal_decomp", "q263_hhi", "q264_mcnemar", "q265_cum_gains",
    # CUPED rides the events value redraw through every moment and the
    # md5-arm split; Burrows Delta rides the text redraw through the
    # top-30 panel, the z-scores, and the pairwise fold
    "q266_cuped", "q267_burrows_delta",
    # the selectivity audit and encoding advisor ride the money redraw
    # (histogram boundaries, interpolation fractions, run/monotone
    # structure of the cents columns)
    "q268_selectivity_audit", "q269_encoding_advisor",
    # proration rides the money redraw through every floor share,
    # remainder rank, and the per-order closure
    "q271_proration",
    # the lateness profile rides the events redraw through the frontier
    # running max and the weighted lateness quantiles
    "q272_lateness_profile",
    # the recommender eval rides the timestamp-preserving money redraw
    # only through basket structure (keys preserved), but its temporal
    # split depends on o_orderdate staying in-domain — keep it gated
    "q274_next_purchase_eval",
    # quantile normalization and the datasheet ride the text redraw
    # (length histograms, md5 dup signatures); the V-optimal DP and
    # the join-order costing ride the money/structure redraw
    "q276_quantile_norm", "q277_vopt_histogram", "q278_datasheet",
    "q279_join_order",
    # Otsu rides the text redraw (token-count histogram); the curve
    # shoot-out rides the money redraw (price buckets move every file
    # box under all three layouts)
    "q280_otsu_threshold", "q281_curve_shootout",
    # decayed leaderboard and elasticity ride the money redraw (cents
    # masses, ln chains); q272's jitter keys on preserved ids/timestamps
    # (inert replay, kept as a stability check)
    "q282_decayed_topk", "q283_elasticity",
    # the logistic fit rides the money redraw through every sigma/
    # gradient/Hessian chain and both Cramer solves
    "q286_logistic",
    # the sampling estimators key on preserved ids (inert membership),
    # kept as a stability check on the scale-up arithmetic
    "q287_sampling_join_est",
    # the BH battery rides the events value redraw through every pair's
    # observed/permuted means, the p-values, and the step-up cut
    "q288_bh_fdr",
    # the seasonal anomaly screen rides the money redraw through the
    # trend, the weekday index, and every z chain
    "q290_seasonal_anomaly",
    # the quantile-regression grid rides the lineitem money redraw
    # through residual bucketing (shiftright on signed residuals), the
    # histogram refinement, and the pinball DECIMAL fold
    "q340_quantile_regression",
    # RANSAC rides the lineitem redraw through the md5 seed RANKING
    # (prices feed the tiebreak), every integer inlier test, and the
    # all-double refit chains
    "q348_ransac_consensus",
    # RAKE and Good-Turing ride the documents text redraw through
    # segmentation, word stats, and the freq-of-freq frame
    "q350_rake_keywords", "q353_good_turing",
    # Fellegi-Sunter rides the customer balance redraw through the g2
    # agreement field, the pattern counts, and both EM rounds
    "q351_fellegi_sunter",
    # VaR/ES rides the orders money redraw through day P&L, the loss
    # order statistics, and the tail-mean floor chain
    "q352_var_es",
    # the newsvendor rides the lineitem quantity redraw through every
    # demand distribution, fractile pick, and cost sum
    "q354_newsvendor",
    # data-Shapley rides the documents text redraw through every NB
    # count, the nano-ln model terms, and all 31 subset argmaxes
    "q370_data_shapley",
    # TextTiling rides the text redraw through block vectors, the
    # cosine sqrt chains, and the per-doc depth thresholds
    "q374_texttiling",
    # UCB1 rides the events value redraw through the reward grid, every
    # sqrt/ln index chain, and the whole pick trajectory
    "q375_ucb_regret",
    # Gumbel top-k rides the text redraw through every n_chars weight
    # and ln-key chain; Kendall W through all three rank domains
    "q383_gumbel_topk", "q385_kendall_w",
    # n-gram novelty rides the text redraw through every gram hash and
    # the split regrouping; Ljung-Box / runs / Cook's ride the orders
    # money redraw through deviations, signs, and the OLS chains
    "q386_ngram_novelty", "q387_ljung_box", "q388_runs_test",
    "q389_cooks_distance",
    # Friedman rides the orders money redraw through every within-week
    # rank comparison (q390 LOF reads only embeddings - COPY_AS_IS,
    # inert, not registered)
    "q391_friedman",
    # round-9 stats battery: everything below rides the orders money
    # redraw (trend/OLS/rank chains over day revenue) or the events
    # value redraw (two-sample rank/moment tests) or the text redraw
    # (quality-item moments / quintiles)
    "q392_mann_kendall", "q393_welch_t", "q394_brown_forsythe",
    "q395_jarque_bera", "q396_cochran_q", "q399_ansari_bradley",
    "q400_mood_median", "q401_variance_ratio", "q402_page_hinkley",
    "q403_grubbs", "q404_durbin_watson", "q405_chow_test",
    "q406_permutation_entropy", "q407_cramer_von_mises",
    "q408_tukey_hsd", "q409_weighted_kappa", "q410_breusch_pagan",
    "q411_quade", "q412_kupiec_pof", "q413_christoffersen",
    "q414_pettitt", "q415_icc", "q416_cronbach_alpha",
    "q417_cusum_squares",
    # round-9 batches 4-5: day-revenue rank/sign/pair machinery and the
    # paired/two-sample event-value rank tests
    "q418_dunn", "q419_hellinger", "q420_turning_points",
    "q421_bartels_rvn", "q422_newey_west", "q423_seasonal_mk",
    "q424_cox_stuart", "q425_hodges_lehmann", "q426_runs_updown",
    "q427_cucconi", "q428_signed_rank",
    # survival/epidemiology IEEE chains: ride the event_type
    # permutation + ts day-jitter (r10 — until then these were inert
    # replays because the redraw preserved ts/event_type verbatim)
    "q397_nelson_aalen", "q398_mantel_haenszel",
    # timestamp-geometry stats: inert before the r10 ts day-jitter
    "q349_variance_time", "q355_burst_intervals",
    # round-10 additions: the SQL-surface pair rides redrawn
    # lineitem money / event ts+value; the day-axis stats ride the
    # money redraw through scaled-integer + IEEE chains; the
    # contamination/overlap/budget audits ride the text redraw
    "q429_sql_topk", "q430_sql_asof",
    "q431_period_strength", "q432_kpss", "q433_hurst_rs",
    "q434_arch_lm", "q435_realized_bipower",
    "q436_contamination", "q437_source_gram_jaccard",
    "q438_truncation_plan", "q439_source_sizing",
    # PACF's generated Durbin-Levinson chain, the tercile-migration
    # ntile twins, the event-study OLS window, and the iterative ESD
    # argmax rounds all ride the money redraw
    "q440_pacf", "q441_rfm_migration", "q442_event_study", "q443_gesd",
    # the OBF looks ride the event_type permutation + ts jitter; the
    # binary-segmentation gains ride the money redraw through the
    # shared telescoped-SSE IEEE chain and the per-segment argmax
    "q444_obrien_fleming", "q445_binary_segmentation",
    # absorption times ride the event_type permutation (transition
    # counts redraw); the EM mixture rides the money redraw through
    # the responsibility floor chain and both M-step passes
    "q446_absorption_time", "q447_em_mixture",
]
# q289 HRU view selection reads only categorical dimension columns
# (preserved by the redraw) — an inert replay, not registered.
# q291 mutual-NN label noise reads only embeddings (COPY_AS_IS) —
# likewise inert.
# q284 Boruvka and q448 HyperANF read only basket structure
# (orderkey/partkey, preserved by the redraw), so their fuzz replays
# would be the identical graph.
# q273 hard-negative mining reads only embeddings (COPY_AS_IS under the
# fuzz redraw), so a fuzz entry would replay the identical corpus.
# q349 variance-time and q355 burst intervals read timestamps, which
# the r10 ts day-jitter now redraws — registered above since r10.
# q356 depth-2 tree reads only embeddings (COPY_AS_IS) — inert.

COPY_AS_IS = ["region", "nation", "supplier", "part",
              "embeddings"]

WORDS = ("spark shuffle join scan filter agg window state stream batch "
         "row col key hash sort merge plan node stage task core disk "
         "page cache limit range union pivot").split()


def gen(dst, seed):
    os.makedirs(dst, exist_ok=True)
    for t in COPY_AS_IS:
        shutil.copy(f"{SRC}/{t}.parquet", f"{dst}/{t}.parquet")
    con = duckdb.connect()
    con.execute(f"SELECT setseed({(seed % 1000) / 1000.0})")

    # orders: fresh 2dp money (the generator's contract — raw <= 2dp is
    # what makes the q01/q119 decimal-cast path portable); keys, dates,
    # priorities untouched so joins and group shapes survive
    con.execute(f"""COPY (
        SELECT o_orderkey, o_custkey, o_orderstatus,
               1.0 + floor(random() * 49999900) / 100.0 AS o_totalprice,
               o_orderdate, o_orderpriority
        FROM '{SRC}/orders.parquet')
        TO '{dst}/orders.parquet' (FORMAT PARQUET)""")

    # customer: fresh 2dp balances straddling zero down to -$9,999.99
    # (inside the pinned > -$100k shift bound) — keys, nation, segment
    # untouched so the QI group shapes and joins survive
    con.execute(f"""COPY (
        SELECT c_custkey, c_name, c_nationkey,
               -9999.99 + floor(random() * 2000000) / 100.0 AS c_acctbal,
               c_mktsegment
        FROM '{SRC}/customer.parquet')
        TO '{dst}/customer.parquet' (FORMAT PARQUET)""")

    # lineitem: 2dp price, 2dp discount in [0, 0.10], integral quantity
    con.execute(f"""COPY (
        SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber,
               1.0 + floor(random() * 50) AS l_quantity,
               1.0 + floor(random() * 9999900) / 100.0 AS l_extendedprice,
               floor(random() * 11) / 100.0 AS l_discount,
               floor(random() * 9) / 100.0 AS l_tax,
               l_returnflag, l_linestatus, l_shipdate
        FROM '{SRC}/lineitem.parquet')
        TO '{dst}/lineitem.parquet' (FORMAT PARQUET)""")

    # events: full-precision doubles in [0, 1000) (the pinned invariant
    # domain) and props.k redrawn across the q86 oracle domain: JSON
    # numbers below 2^53 (int / float / exponent form), non-numeric
    # strings, a missing key, malformed JSON. Rewritten via pyarrow —
    # a DuckDB COPY would downcast the TIMESTAMP(NANOS) ts column to
    # micros and break the Spark-side nanosAsLong read path.
    gen_events(dst, seed)

    # documents: random ASCII word soup (the q24/q61 byte-hash contract)
    # with enough vocabulary reuse to exercise q108's PMI chain
    words = ", ".join(f"'{w}'" for w in WORDS)
    con.execute(f"""COPY (
        WITH src AS (SELECT doc_id, lang, source FROM '{SRC}/documents.parquet'),
        gen AS (
          SELECT doc_id, lang, source,
                 list_aggregate(list_transform(range(5 + CAST(doc_id % 40 AS INT)),
                   x -> ([{words}])[1 + CAST(floor(random() * {len(WORDS)}) AS INT)]),
                   'string_agg', ' ') AS text
          FROM src)
        SELECT doc_id, text, lang, source,
               CAST(length(text) AS BIGINT) AS n_chars
        FROM gen)
        TO '{dst}/documents.parquet' (FORMAT PARQUET)""")
    con.close()


def gen_events(dst, seed):
    import random as pyrandom

    import pyarrow as pa
    import pyarrow.parquet as pq

    rnd = pyrandom.Random(seed)
    t = pq.read_table(f"{SRC}/events.parquet")
    n = t.num_rows

    def one_props():
        shape = rnd.randrange(8)
        if shape == 0:
            return '{"k": %d}' % rnd.randrange(10**12)
        if shape == 1:
            return '{"k": %r}' % (rnd.random() * 1e6)
        if shape == 2:
            return '{"k": %de%d}' % (rnd.randrange(1000), rnd.randrange(8))
        if shape == 3:
            return '{"k": -%d}' % rnd.randrange(2**52)
        if shape == 4:
            return '{"k": "w%dx"}' % rnd.randrange(100)
        if shape == 5:
            return '{"other": 1}'
        if shape == 6:
            return 'not json at all'
        return '{"k": "txt"}'

    values = pa.array([rnd.random() * 1000.0 for _ in range(n)],
                      type=pa.float64())
    props = pa.array([one_props() for _ in range(n)], type=pa.string())
    t = t.set_column(t.schema.get_field_index("value"), "value", values)
    t = t.set_column(t.schema.get_field_index("props"), "props", props)
    # r10: redraw the sequential/categorical axes too, so the
    # survival/epidemiology chains (q397 Nelson-Aalen lifetimes from
    # per-user purchase spans, q398 Mantel-Haenszel strata counts)
    # actually see fresh inputs.
    #  - event_type: a global PERMUTATION — marginal counts stay
    #    exactly invariant (funnel/count shapes survive) while every
    #    per-user sequence redraws.
    #  - ts: a per-row day-level jitter in [-2, +2] days — day axes,
    #    lifetimes, and inter-event gaps all redraw while the overall
    #    calendar range moves by at most 2 days (oracle SQL recomputes
    #    on the same redrawn parquet, so both engines shift together).
    types = t.column("event_type").to_pylist()
    rnd.shuffle(types)
    t = t.set_column(t.schema.get_field_index("event_type"),
                     "event_type", pa.array(types, type=pa.string()))
    us = t.column("ts").cast(pa.timestamp("us")).to_pylist()
    import datetime
    jittered = [v + datetime.timedelta(days=rnd.randrange(-2, 3))
                for v in us]
    t = t.set_column(t.schema.get_field_index("ts"), "ts",
                     pa.array(jittered, type=pa.timestamp("us")))
    # force the TIMESTAMP(NANOS) physical layout regardless of what
    # the driver testdata currently ships (it flipped to micros in r5)
    # so the Spark nanosAsLong read path in Tables.events stays
    # exercised by every fuzz seed; values are micro-precision so the
    # ns cast is exact and DuckDB's ns->us truncation is lossless
    tsIdx = t.schema.get_field_index("ts")
    t = t.set_column(tsIdx, "ts", t.column("ts").cast(pa.timestamp("ns")))
    pq.write_table(t, f"{dst}/events.parquet")


def query_universe():
    """Every oracle-gated query name: the freshest Verify dump if one
    exists (the verify_pass sequence runs Verify first), else the
    latest committed CORRECTNESS_r*.json. Used by --sample."""
    import glob
    import json
    try:
        return sorted(json.load(open("/tmp/verify_out/oracle_sql.json")))
    except Exception:
        pass
    snaps = sorted(glob.glob("/root/repo/CORRECTNESS_r*.json"),
                   key=lambda f: int(re.search(r"_r(\d+)", f).group(1)))
    return sorted(json.load(open(snaps[-1])))


def sample_stable(n, seed):
    """Seed-deterministic sample of n queries from the NON-fragile set
    (VERDICT r10 item 5: 241 queries were assumed redraw-robust but
    never fuzzed — the q86 class was only caught BECAUSE it was
    fuzzed). Each fuzz seed draws its own sample, so a 5-seed close
    sweeps ~5n distinct stable queries."""
    import random
    stable = [q for q in query_universe() if q not in QUERIES]
    rnd = random.Random(990000 + seed)
    return sorted(rnd.sample(stable, min(n, len(stable))))


LEDGER = "/root/repo/FUZZLEDGER.json"

ALL_TABLES = ["region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "documents", "embeddings"]


def gen_permuted(src, dst, seed):
    """Row-order permutation of EVERY table, values untouched — the
    Class-B probe (VERDICT r11 item 2): a LIMIT cut or row_number over
    a non-unique sort key returns an engine/order-arbitrary row set,
    which a value redraw only catches by luck. On a permuted corpus a
    deterministic query must return EXACTLY what it returned on the
    original row order; any diff is a real q11/q02/q269-class bug."""
    import random
    import pyarrow.parquet as pq
    os.makedirs(dst, exist_ok=True)
    for t in ALL_TABLES:
        tab = pq.read_table(f"{src}/{t}.parquet")
        idx = list(range(tab.num_rows))
        random.Random(77000 + seed).shuffle(idx)
        pq.write_table(tab.take(idx), f"{dst}/{t}.parquet")


def gen_degenerate(src, dst):
    """Worst-plausible-case corpus for the CRASH-robustness probe
    (Class A empirical backstop, VERDICT r11 item 2): every
    value-dependent filter admits as little as possible — single-token
    and empty documents (token-count-1 and zero-admission divisors),
    malformed JSON everywhere, all-zero money/values (zero sums and
    variances). Keys, row counts, timestamps, and schemas are
    untouched. There is NO oracle compare here — degenerate values are
    outside the generator's domain, so the only assertion is that
    graft.VerifySome EXITS 0 (no ANSI DIVIDE_BY_ZERO / overflow kills
    the surface). q345's crash was exactly this class."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    os.makedirs(dst, exist_ok=True)
    for t in ALL_TABLES:
        tab = pq.read_table(f"{src}/{t}.parquet")
        if t == "documents":
            n = tab.num_rows
            texts = ["" if i % 3 == 0 else ("x" if i % 3 == 1 else "x x")
                     for i in range(n)]
            tab = tab.set_column(tab.schema.get_field_index("text"),
                                 "text", pa.array(texts, type=pa.string()))
            # keep the table self-consistent: n_chars must match the
            # rewritten text lengths (ADVICE r12 — unsafe otherwise if
            # this corpus is ever reused for an oracle compare)
            tab = tab.set_column(tab.schema.get_field_index("n_chars"),
                                 "n_chars",
                                 pa.array([len(s) for s in texts],
                                          type=pa.int64()))
        if t == "events":
            n = tab.num_rows
            idx = tab.schema.get_field_index("properties") \
                if "properties" in tab.schema.names \
                else tab.schema.get_field_index("props") \
                if "props" in tab.schema.names else None
            if idx is not None:
                tab = tab.set_column(
                    idx, tab.schema.names[idx],
                    pa.array(["not json at all"] * n, type=pa.string()))
            if "value" in tab.schema.names:
                vi = tab.schema.get_field_index("value")
                tab = tab.set_column(
                    vi, "value", pa.array([0.0] * n, type=pa.float64()))
        if t == "lineitem":
            n = tab.num_rows
            for c, v in [("l_extendedprice", 0.0), ("l_discount", 0.0),
                         ("l_tax", 0.0)]:
                if c in tab.schema.names:
                    ci = tab.schema.get_field_index(c)
                    tab = tab.set_column(
                        ci, c, pa.array([v] * n, type=pa.float64()))
        if t == "orders" and "o_totalprice" in tab.schema.names:
            n = tab.num_rows
            ci = tab.schema.get_field_index("o_totalprice")
            tab = tab.set_column(
                ci, "o_totalprice", pa.array([0.0] * n, type=pa.float64()))
        if t == "customer" and "c_acctbal" in tab.schema.names:
            n = tab.num_rows
            ci = tab.schema.get_field_index("c_acctbal")
            tab = tab.set_column(
                ci, "c_acctbal", pa.array([0.0] * n, type=pa.float64()))
        pq.write_table(tab, f"{dst}/{t}.parquet")


def degenerate_check(src):
    """Run the FULL surface on the degenerate corpus; pass = rc 0."""
    dst = "/tmp/degenerate_sf"
    out = "/tmp/degenerate_out"
    shutil.rmtree(dst, ignore_errors=True)
    shutil.rmtree(out, ignore_errors=True)
    print(f"== degenerate: generating {dst} from {src}")
    gen_degenerate(src, dst)
    queries = query_universe()
    cmd = ["sbt", "-batch",
           f"runMain graft.VerifySome {dst} {out} " + " ".join(queries)]
    r = subprocess.run(cmd, cwd="/root/repo", capture_output=True,
                       text=True)
    wrote = len([x for x in os.listdir(out)]) if os.path.isdir(out) else 0
    print(f"== degenerate: rc={r.returncode}, {wrote} outputs written")
    for line in r.stdout.splitlines():
        if "FAILED" in line:
            print(line)
    return r.returncode


def permute_check(sf_dir, ref_out, seed=1):
    """Run the FULL query surface on a row-permuted copy of sf_dir and
    require every output to row-match the reference Verify output
    (same canonicalization as the driver gate). Returns (ok, fail)."""
    import check_oracle
    dst = f"/tmp/permute_sf_{seed}"
    out = f"/tmp/permute_out_{seed}"
    shutil.rmtree(dst, ignore_errors=True)
    shutil.rmtree(out, ignore_errors=True)
    print(f"== permute seed {seed}: generating {dst} from {sf_dir}")
    gen_permuted(sf_dir, dst, seed)
    queries = query_universe()
    cmd = ["sbt", "-batch",
           f"runMain graft.VerifySome {dst} {out} " + " ".join(queries)]
    r = subprocess.run(cmd, cwd="/root/repo", capture_output=True, text=True)
    if r.returncode != 0:
        print(r.stdout[-4000:])
        print(f"== permute seed {seed}: VerifySome FAILED")
        return (0, len(queries))
    con = duckdb.connect()
    ok = fail = 0
    for name in queries:
        try:
            a = check_oracle.canon(con.sql(
                f"SELECT * FROM '{ref_out}/{name}/*.parquet'").fetchall())
            b = check_oracle.canon(con.sql(
                f"SELECT * FROM '{out}/{name}/*.parquet'").fetchall())
        except Exception as e:
            print(f"  [FAIL read] {name}: {e}")
            fail += 1
            continue
        if a != b:
            fail += 1
            print(f"  [FAIL permute] {name}: {len(a)} ref rows vs "
                  f"{len(b)} permuted")
            for i, (x, y) in enumerate(zip(a, b)):
                if x != y:
                    print(f"    first diff at {i}:\n      ref     : {x}"
                          f"\n      permuted: {y}")
                    break
        else:
            ok += 1
    print(f"== permute seed {seed}: {ok} ok, {fail} fail ==")
    return (ok, fail)


def ledger_record(seed, chk_stdout):
    """Cumulative 'has been fuzzed at least once' ledger (VERDICT r11
    item 5): per query, which seeds have replayed it on a redrawn
    corpus and with what outcome. Merged across runs; committed at the
    repo root so coverage of the once-never-fuzzed tail is auditable.
    Only queries that actually reached the DuckDB compare are
    recorded — a VerifySome crash records nothing for that seed."""
    import json
    try:
        led = json.load(open(LEDGER))
    except Exception:
        led = {}
    for line in chk_stdout.splitlines():
        m = re.match(r"\s*\[(ok|FAIL [a-z]+)\] (\w+):", line)
        if not m:
            continue
        outcome = "ok" if m.group(1) == "ok" else "fail"
        ent = led.setdefault(m.group(2), {"ok": [], "fail": []})
        if seed not in ent[outcome]:
            ent[outcome].append(seed)
            ent[outcome].sort()
        # a later green run on the same seed clears the fail mark
        if outcome == "ok" and seed in ent["fail"]:
            ent["fail"].remove(seed)
    with open(LEDGER, "w") as f:
        json.dump(dict(sorted(led.items())), f, indent=1, sort_keys=True)
        f.write("\n")
    return led


def main():
    args = sys.argv[1:]
    if "--degenerate" in args:
        # usage: --degenerate [sfDir]   (crash-robustness only, no oracle)
        i = args.index("--degenerate")
        src = args[i + 1] if len(args) > i + 1 else SRC
        sys.exit(degenerate_check(src))
    if "--permute" in args:
        # usage: --permute <sfDir> <refVerifyOutDir> [seed]
        i = args.index("--permute")
        sf_dir, ref_out = args[i + 1], args[i + 2]
        seed = int(args[i + 3]) if len(args) > i + 3 else 1
        ok, fail = permute_check(sf_dir, ref_out, seed)
        sys.exit(1 if fail else 0)
    sample_n = 0
    run_all = False
    if "--all" in args:
        # full-surface mode: every oracle-gated query on every seed's
        # redrawn corpus — the batch path for sweeping the
        # never-fuzzed tail (one seed ~= one full VerifySome run)
        run_all = True
        args = [a for a in args if a != "--all"]
    if "--sample" in args:
        i = args.index("--sample")
        sample_n = int(args[i + 1])
        args = args[:i] + args[i + 2:]
    seeds = [int(a) for a in args] or [1, 2, 3, 4, 5]
    failed = False
    for seed in seeds:
        dst = f"/tmp/fuzz_sf_{seed}"
        out = f"/tmp/fuzz_out_{seed}"
        shutil.rmtree(dst, ignore_errors=True)
        shutil.rmtree(out, ignore_errors=True)
        queries = list(QUERIES)
        if run_all:
            queries = query_universe()
            print(f"== seed {seed}: FULL surface ({len(queries)} queries)")
        elif sample_n:
            extra = sample_stable(sample_n, seed)
            print(f"== seed {seed}: stable-set sample ({len(extra)}): "
                  + " ".join(extra))
            queries += [q for q in extra if q not in queries]
        print(f"== seed {seed}: generating {dst}")
        gen(dst, seed)
        cmd = ["sbt", "-batch",
               f"runMain graft.VerifySome {dst} {out} " + " ".join(queries)]
        r = subprocess.run(cmd, cwd="/root/repo",
                           capture_output=True, text=True)
        if r.returncode != 0:
            print(r.stdout[-4000:])
            print(f"== seed {seed}: VerifySome FAILED")
            failed = True
            continue
        chk = subprocess.run(
            ["python3", "tools/check_oracle.py", dst, out],
            cwd="/root/repo", capture_output=True, text=True)
        print(chk.stdout.strip())
        led = ledger_record(seed, chk.stdout)
        print(f"== ledger: {len(led)} queries fuzzed at least once")
        if chk.returncode != 0:
            print(f"== seed {seed}: ORACLE MISMATCH")
            failed = True
        else:
            print(f"== seed {seed}: all green")
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
