#!/usr/bin/env python3
"""sf1 scaling probe (VERDICT r7 item 7): measure the top-10 bench
heavies at ~10x the bench scale and check wall-time grows linear-ish.

The driver ships sf0.1 as the largest corpus, so this synthesizes
/tmp/sf1 as TEN DISJOINT SHIFTED COPIES of sf0.1 — the TPC-H scaling
model (key domains grow with data): orderkeys/partkeys/suppkeys/
custkeys/doc_ids/vec_ids shift by 1e6 per copy, and document tokens get
a per-copy suffix so the copies share no vocabulary (a 10x corpus that
is 90% verbatim duplicates would measure the DEDUP families' class-size
quadratics, not the operators' scaling). Dimension tables and events
are copied as-is (they are SF-fixed or unused by the probe set).

A second, STEEPER point (30 copies ~ "sf3") reruns the three
steepest sf1 scalers (q270 x4.29, q241 x4.10, q254 x3.99 in r8) to
check the growth curve bends down, not up (VERDICT r8 item 6).

Usage: python3 tools/scale_probe.py [--gen-only|--bench-only]
Writes the measured table to target/scale_probe.json AND the committed
SCALE_PROBE.json at the repo root (target/ is gitignored and the
driver's rerun overwrites it — the r8 probe artifact lesson).
"""
import json
import os
import shutil
import subprocess
import sys

import duckdb

SRC = "/root/testdata/sf0.1"
DST = "/tmp/sf1"
DST3 = "/tmp/sf3"
COPIES = 10
COPIES3 = 30
OFF = 1_000_000

PROBE = [
    "q22_langid", "q168_classifier_eval", "q275_hub_robustness",
    "q284_boruvka", "q270_modularity", "q34_ngram_jaccard",
    "q169_pca_power", "q254_max_coverage", "q241_label_prop",
    "q239_hits", "q340_quantile_regression",
    # r10: the heaviest round-9 stats shapes — q425's |V1|x|V2|
    # day-value histogram product is the one new super-day-linear
    # term; q402/q418 pin the "calendar-bounded collapse" claim
    # (10x rows, same day axis -> near-flat wall is the PASS)
    "q402_page_hinkley", "q418_dunn", "q425_hodges_lehmann",
    # r11: the new round-10 heavies (VERDICT r10 item 3) — EM's
    # day-axis recursion, binary segmentation's changepoint splits,
    # HyperANF's iterative register merges (graph family -> STEEP)
    "q447_em_mixture", "q445_binary_segmentation", "q448_hyperanf",
]

AS_IS = ["region", "nation", "customer", "supplier", "part", "events"]

# the steepest sf1 scalers (r8): fixed-round iterative graph
# algorithms — the ones whose curve needs a second, steeper point —
# plus (r10) the bench-ceiling set-similarity join q34, probed to
# sf3 so its shuffle-heavy growth curve has a second point too
STEEP = ["q270_modularity", "q241_label_prop", "q254_max_coverage",
         "q34_ngram_jaccard", "q448_hyperanf"]


def gen(dst=DST, copies=COPIES):
    shutil.rmtree(dst, ignore_errors=True)
    os.makedirs(dst)
    for t in AS_IS:
        shutil.copy(f"{SRC}/{t}.parquet", f"{dst}/{t}.parquet")
    con = duckdb.connect()
    con.execute(f"CREATE VIEW c AS SELECT unnest(range({copies})) AS i")
    con.execute(f"""COPY (
        SELECT l_orderkey + i * {OFF} AS l_orderkey,
               l_partkey + i * {OFF} AS l_partkey,
               l_suppkey + i * {OFF} AS l_suppkey,
               l_linenumber, l_quantity, l_extendedprice, l_discount,
               l_tax, l_returnflag, l_linestatus, l_shipdate
        FROM '{SRC}/lineitem.parquet', c
    ) TO '{dst}/lineitem.parquet' (FORMAT PARQUET)""")
    con.execute(f"""COPY (
        SELECT o_orderkey + i * {OFF} AS o_orderkey,
               o_custkey + i * {OFF} AS o_custkey,
               * EXCLUDE (o_orderkey, o_custkey, i)
        FROM '{SRC}/orders.parquet', c
    ) TO '{dst}/orders.parquet' (FORMAT PARQUET)""")
    # per-copy token suffix: copies share no vocabulary (see header)
    con.execute(f"""COPY (
        SELECT doc_id + i * {OFF} AS doc_id,
               CASE WHEN i = 0 THEN text
                    ELSE replace(text, ' ', '_c' || i || ' ') || '_c' || i
               END AS text,
               lang, source,
               CAST(length(CASE WHEN i = 0 THEN text
                    ELSE replace(text, ' ', '_c' || i || ' ') || '_c' || i
               END) AS BIGINT) AS n_chars
        FROM '{SRC}/documents.parquet', c
    ) TO '{dst}/documents.parquet' (FORMAT PARQUET)""")
    con.execute(f"""COPY (
        SELECT vec_id + i * {OFF} AS vec_id, embedding, label
        FROM '{SRC}/embeddings.parquet', c
    ) TO '{dst}/embeddings.parquet' (FORMAT PARQUET)""")
    for t in ["lineitem", "orders", "documents", "embeddings"]:
        n = con.sql(f"SELECT count(*) FROM '{dst}/{t}.parquet'").fetchone()[0]
        print(f"  {t}: {n} rows")


def loadavg():
    try:
        return open("/proc/loadavg").read().split()[:3]
    except OSError:
        return []


def bench(sf_dir, probe=None, conf=None):
    # sf1/sf3 run 10-30x the bench data through ONE JVM whose default
    # heap (8g) is sized for sf0.1 — the r10 Corpus/DayAxis shared
    # checkpoints pushed the sf3 graph heavies over it (BlockManager
    # put failures). 16g fixes that; a 48g heap was MEASURED to slow
    # the iterative graph heavies 3-8x (old-gen GC pathology: q254
    # 18->107s at sf1), so keep the bump minimal.
    mem = "8g" if sf_dir == SRC else "16g"
    # the box shows multi-x load tides on ~20 min periods (r10/r11
    # adjudications): record the load at each stage start so a
    # poisoned stage is identifiable from the committed artifact alone
    print(f"  loadavg at stage start: {' '.join(loadavg())}")
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir, SPARK_DRIVER_MEM=mem)
    # session conf for the forked Bench JVM: SparkConf reads -Dspark.*
    sets = [f'set javaOptions += "-D{k}={v}"'
            for k, v in (conf or {}).items()]
    r = subprocess.run(
        ["sbt", "-batch", *sets,
         f"runMain graft.Bench {','.join(probe or PROBE)}"],
        cwd="/root/repo", env=env, capture_output=True, text=True)
    if r.returncode != 0:
        print(r.stdout[-4000:], r.stderr[-2000:])
        sys.exit(1)
    with open("/root/repo/target/bench_some.json") as f:
        return json.load(f)["queries"]


def main():
    mode = sys.argv[1] if len(sys.argv) > 1 else ""
    if mode != "--bench-only":
        print(f"generating {DST} ({COPIES} shifted copies of {SRC}) ...")
        gen()
        print(f"generating {DST3} ({COPIES3} shifted copies of {SRC}) ...")
        gen(DST3, COPIES3)
    if mode == "--gen-only":
        return
    print("bench @ sf0.1 ...")
    base = bench(SRC)
    print("bench @ sf1 ...")
    big = bench(DST)
    # q34's dual path: the default dispatch rides the in-memory
    # postings kernel at every probe scale (rows <= 8M), so probe the
    # SHUFFLE (any-scale) arm explicitly by forcing the dispatch off
    print("bench @ sf0.1 + sf1, q34 shuffle arm "
          "(spark.graft.q34.kernelMaxRows=0) ...")
    shuffle_arm = {"spark.graft.q34.kernelMaxRows": 0}
    shuf_base = bench(SRC, ["q34_ngram_jaccard"], shuffle_arm)
    shuf_big = bench(DST, ["q34_ngram_jaccard"], shuffle_arm)
    print(f"bench @ sf3 (steep trio: {', '.join(STEEP)}) ...")
    big3 = bench(DST3, STEEP)
    rows = []
    for q in PROBE:
        b, g = base.get(q, -1), big.get(q, -1)
        ratio = round(g / b, 2) if b and b > 0 and g > 0 else None
        row = {"query": q, "sf0.1_s": round(b, 3),
               "sf1_s": round(g, 3), "ratio": ratio}
        if q in STEEP:
            g3 = big3.get(q, -1)
            row["sf3_s"] = round(g3, 3)
            row["ratio30"] = round(g3 / b, 2) if b and b > 0 and g3 > 0 else None
            # sub-linear continuation: tripling the data from sf1 to
            # sf3 should cost < 3x the sf1 wall
            row["sf3_over_sf1"] = round(g3 / g, 2) if g and g > 0 and g3 > 0 else None
        rows.append(row)
    sb, sg = shuf_base.get("q34_ngram_jaccard", -1), shuf_big.get("q34_ngram_jaccard", -1)
    rows.append({"query": "q34_ngram_jaccard[shuffle-arm]",
                 "sf0.1_s": round(sb, 3), "sf1_s": round(sg, 3),
                 "ratio": round(sg / sb, 2) if sb and sb > 0 and sg > 0 else None})
    out = {"copies": COPIES, "steep_copies": COPIES3,
           "loadavg_at_end": loadavg(), "probe": rows,
           "total_sf01": round(sum(r["sf0.1_s"] for r in rows), 1),
           "total_sf1": round(sum(r["sf1_s"] for r in rows), 1)}
    with open("/root/repo/target/scale_probe.json", "w") as f:
        json.dump(out, f, indent=2)
    with open("/root/repo/SCALE_PROBE.json", "w") as f:
        json.dump(out, f, indent=2)
        f.write("\n")
    print(f"{'query':28s} {'sf0.1':>8s} {'sf1':>8s} {'ratio':>6s}")
    for r in rows:
        print(f"{r['query']:28s} {r['sf0.1_s']:8.2f} {r['sf1_s']:8.2f} "
              f"{r['ratio'] if r['ratio'] is not None else '?':>6}")
    print(f"{'TOTAL':28s} {out['total_sf01']:8.1f} {out['total_sf1']:8.1f} "
          f"{round(out['total_sf1']/out['total_sf01'],2):>6}")


if __name__ == "__main__":
    main()
