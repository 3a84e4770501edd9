package graft.queries

/** Ratchet baseline for [[OrderSweepSpec]]: the audited set of
  * LIMIT / order-sensitive-window sites whose tie-freedom the static
  * unique-set prover cannot derive. These are NOT known bugs - they
  * are gated EMPIRICALLY by the row-permutation replay
  * (tools/fuzz_oracle.py --permute: full surface on a permuted corpus
  * must byte-match the reference run) executed per close by
  * verify_pass.py. The spec fails when a NEW unprovable site appears
  * (append a unique tiebreak to the axis in BOTH engines, or
  * consciously regenerate this baseline in the same commit and say
  * why) and when a listed entry stops firing (regenerate - the
  * ratchet only tightens).
  * AUTO-GENERATED by tools/regen_sweep_baselines.py; do not hand-edit.
  */
object OrderSweepBaseline {
  val entries: Set[String] = Set(
    "q10_topk: LIMIT over non-provably-unique sort [revenue,p_partkey]",
    "q115_phash_neardup: row_number over non-provably-unique axis [doc_id]",
    "q11_filter_project: LIMIT over non-provably-unique sort [order_id,line_no,qty]",
    "q136_gap_ranges: lead over non-provably-unique axis [lo]",
    "q136_gap_ranges: row_number over non-provably-unique axis [lo]",
    "q145_ivf_multiprobe: row_number over non-provably-unique axis [cs,cid]",
    "q145_ivf_multiprobe: row_number over non-provably-unique axis [cs,vec_id]",
    "q160_hybrid_rrf: LIMIT over non-provably-unique sort [rrf_ppm,doc_id]",
    "q166_ivf_ndcg: row_number over non-provably-unique axis [cs,cid]",
    "q173_stump: LIMIT over non-provably-unique sort [gain_nn,pos,thr]",
    "q193_drawdown: LIMIT over non-provably-unique sort [drawdown_cents,day]",
    "q205_zonemap_prune: row_number over non-provably-unique axis [o,ln]",
    "q207_bpe_fertility: lag over non-provably-unique axis [pos]",
    "q207_bpe_fertility: lead over non-provably-unique axis [pos]",
    "q207_bpe_fertility: row_number/lag over non-provably-unique axis [pos]",
    "q271_proration: row_number over non-provably-unique axis [frac,ln2,e]",
    "q273_hard_negatives: LIMIT over non-provably-unique sort [margin,anchor_id]",
    "q290_seasonal_anomaly: LIMIT over non-provably-unique sort [abs(z_milli),day]",
    "q329_ood_mahalanobis: LIMIT over non-provably-unique sort [z2_micro,vec_id]",
    "q332_committee: LIMIT over non-provably-unique sort [n_correct,n_distinct_preds,vec_id]",
    "q340_quantile_regression: row_number over non-provably-unique axis [l,m]",
    "q350_rake_keywords: LIMIT over non-provably-unique sort [score_ppm,phrase]",
    "q350_rake_keywords: row_number over non-provably-unique axis [i]",
    "q352_var_es: lag over non-provably-unique axis [d]",
    "q355_burst_intervals: row_number over non-provably-unique axis [rn]",
    "q357_pot_gpd: lag over non-provably-unique axis [d]",
    "q360_diebold_mariano: lag over non-provably-unique axis [d]",
    "q388_runs_test: row_number over non-provably-unique axis [d]",
    "q389_cooks_distance: LIMIT over non-provably-unique sort [d_nano,x]",
    "q389_cooks_distance: row_number over non-provably-unique axis [d_nano,x]",
    "q412_kupiec_pof: row_number over non-provably-unique axis [d]",
    "q413_christoffersen: row_number over non-provably-unique axis [d]",
    "q426_runs_updown: row_number over non-provably-unique axis [ta]",
    "q429_sql_topk: row_number over non-provably-unique axis [_w0,sql429_lineitem.l_orderkey,sql429_lineitem.l_linenumber]",
    "q433_hurst_rs: row_number over non-provably-unique axis [d]",
    "q434_arch_lm: row_number over non-provably-unique axis [d]",
    "q435_realized_bipower: row_number over non-provably-unique axis [d]",
    "q442_event_study: LIMIT over non-provably-unique sort [rev,d]",
    "q442_event_study: row_number over non-provably-unique axis [d]",
    "q445_binary_segmentation: row_number over non-provably-unique axis [_w0,t]",
    "q445_binary_segmentation: row_number over non-provably-unique axis [d]",
    "q82_ivf_search: row_number over non-provably-unique axis [cs,cid]",
    "q91_doc_logprob: LIMIT over non-provably-unique sort [mean_lp_nn,doc_id]",
    "q94_bpe_merges: lag over non-provably-unique axis [pos]",
    "q94_bpe_merges: lead over non-provably-unique axis [pos]",
    "q94_bpe_merges: row_number/lag over non-provably-unique axis [pos]",
    "q98_bpe_encode: lag over non-provably-unique axis [pos]",
    "q98_bpe_encode: lead over non-provably-unique axis [pos]",
    "q98_bpe_encode: row_number/lag over non-provably-unique axis [pos]",
  )
}
