#!/usr/bin/env python3
"""Self-tests of the benchmark: a tiny smoke run of each workload, and
proof that the output checks catch a flipped value in a query result
and a deleted sink key.

    python3 perfbench/selftest.py

Runs the JVM three times on tiny inputs (a few minutes in all); exits
non-zero on the first failed test.
"""
import glob
import json
import os
import shutil
import subprocess
import sys

import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import check  # noqa: E402
import compare  # noqa: E402
import run  # noqa: E402

SEED = 7
SPEC = json.load(open(os.path.join(HERE, "..", "BENCHMARK.json")))
WORKDIR = os.path.join(run.BUILD, "selftest")


def smoke(workload, trace, *extra):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(SEED),
         "--seconds", "0", "--trace", str(trace), "--setups", "1", *extra],
        capture_output=True, text=True)
    assert proc.returncode == 0, proc.stderr[-3000:]
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, res
    expected = {m["name"] for m in SPEC["per_layer" if trace else "end_to_end"]}
    assert set(res["metrics"]) == expected, set(res["metrics"]) ^ expected
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, proc.stdout[-3000:]
    return os.path.join(run.BUILD, "runs", workload)


def test_percentile_and_verdict():
    p, v = run.tail(list(range(1, 48)))
    assert p == 75 and abs(v - 36) < 0.5, (p, v)
    assert run.tail([1.0, 2.0, 3.0])[0] == 75
    assert abs(run.quantile([1.0, 2.0, 3.0, 4.0, 5.0], 0.5) - 3.0) < 1e-6
    assert compare.verdict([10.0] * 10, [8.0] * 10, "lower", 0.1)["verdict"] == "improved"
    assert compare.verdict([10.0] * 10, [12.0] * 10, "lower", 0.1)["verdict"] == "regressed"
    noisy = [5.0, 15.0] * 5
    assert compare.verdict(noisy, noisy, "lower", 0.1)["verdict"] == "unresolved"


def test_reports_smoke_and_flipped_value():
    out = smoke("reports", 1, "--only", "q01_pricing_summary,q192_vwap,q271_proration")
    m = json.load(open(os.path.join(out, "measure.json")))
    data = run.inputs("reports", SEED, False, None)
    names = [o["name"] for o in m["ops"]]
    results = os.path.join(WORKDIR, "results")
    shutil.rmtree(WORKDIR, ignore_errors=True)
    shutil.copytree(os.path.join(out, "results"), results)
    assert check.queries(data, results, names, m["oracle_sql"])[0] == {}
    # flip one numeric value in one row of q01's result
    path = os.path.join(results, "q01_pricing_summary.jsonl")
    lines = open(path).read().splitlines()
    header, row = json.loads(lines[0]), json.loads(lines[1])
    col = next(i for i, (_, t) in enumerate(header) if t in ("BIGINT", "DOUBLE")
               or t.startswith("DECIMAL"))
    row[col] = str(float(row[col]) + 1) if isinstance(row[col], str) else row[col] + 1
    lines[1] = json.dumps(row)
    open(path, "w").write("\n".join(lines) + "\n")
    failed = check.queries(data, results, names, m["oracle_sql"])[0]
    assert list(failed) == ["q01_pricing_summary"], failed
    assert failed["q01_pricing_summary"].startswith("rows differ"), failed


def test_etl_smoke_and_deleted_key():
    out = smoke("etl-daily", 1, "--tiny")
    m = json.load(open(os.path.join(out, "measure.json")))
    data = run.inputs("etl-daily", SEED, True, None)
    drops = [o["drop"] for o in m["ops"]]
    readback = m["ops"][-1]["sink_rows"]
    sinks = os.path.join(WORKDIR, "sinks")
    shutil.rmtree(WORKDIR, ignore_errors=True)
    shutil.copytree(os.path.join(out, m["sink_dir"]), sinks)
    failed, stats = check.etl(data, sinks, drops, m["rerun_appended"], readback)
    assert failed == {} and stats["sink_rows"] == sum(readback.values()), (failed, stats)
    # delete every row of one statement key from the sink
    files = sorted(glob.glob(os.path.join(sinks, "stm", "**", "*.parquet"), recursive=True))
    key = next(t.column("surrogate_key")[0].as_py()
               for t in (pq.ParquetFile(f).read() for f in files) if t.num_rows)
    for f in files:
        t = pq.ParquetFile(f).read()
        pq.write_table(t.filter(pc.not_equal(t.column("surrogate_key"), key)), f)
    failed, _ = check.etl(data, sinks, drops, m["rerun_appended"], readback)
    assert any("keys lost" in why for why in failed.values()), failed


def test_dedup_graph_smoke():
    smoke("dedup-graph", 0, "--only", "q30_exact_dedup,q150_kcore_peel")


def main():
    tests = [test_percentile_and_verdict, test_reports_smoke_and_flipped_value,
             test_etl_smoke_and_deleted_key, test_dedup_graph_smoke]
    for t in tests:
        t()
        print(f"ok {t.__name__}", flush=True)
    shutil.rmtree(WORKDIR, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
