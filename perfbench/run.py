#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload reports --seed 1 --seconds 30 --trace 0

Builds the program and the benchmark from source on first use (sbt,
offline), generates the seeded inputs (reused per seed), runs the
workload in one JVM, checks every output against DuckDB, and prints a
report followed by one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones, with `--trace 1`
the per-layer ones (see README.md). Everything it writes goes under
`.bench_build/` at the repository root.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import zipfile

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
ARCHIVE = os.path.join(BUILD, "classes.jsa")
# Spark runs local[2] whatever the core count: the workloads are mostly
# driver-side work on small inputs, and a cold run keeps about three
# cores busy, most of it JIT compilation; the free cores take the JIT
# compiler, GC and the OS, so that they do not compete with the tasks.
CORES = 2
WORKLOADS = ("reports", "etl-daily", "dedup-graph")
PERCENTILES = (99, 95, 90, 75, 50)
TAIL_FALLBACK = 75
RUN_LIMIT_S = 170          # the whole run, build excepted
BUILD_LIMIT_S = 800
KEEP_SEEDS = 12            # generated input sets kept per kind
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]

E2E = ("setup_s", "wall_s", "op_p50_s", "op_tail_s", "rows_per_s", "peak_rss_mb")


class BenchError(Exception):
    pass


def log(msg):
    print(msg, file=sys.stderr, flush=True)


# --- build -----------------------------------------------------------

def _source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the program and the benchmark; return the JVM classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")) or \
            not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        raise BenchError("the program's sources are not next to the benchmark")
    os.makedirs(BUILD, exist_ok=True)
    stamp = _source_stamp()
    cp_file, stamp_file = os.path.join(BUILD, "classpath.txt"), os.path.join(BUILD, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "-Dsbt.offline" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    log("building the program and the benchmark (sbt) ...")
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        rc = _wait(subprocess.Popen(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
             "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
            start_new_session=True), BUILD_LIMIT_S)
    lines = [l.strip() for l in open(os.path.join(BUILD, "build.log")) if l.strip()]
    cp = next((l for l in reversed(lines) if "classes" in l and not l.startswith("[")), None)
    if rc != 0 or cp is None:
        raise BenchError(f"build failed (exit {rc}); see .bench_build/build.log")
    cp = _jar_classes(cp)
    _train(cp)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def _jar_classes(cp):
    """Pack the compiled class directories of the classpath into jars:
    the JVM's class-data archive takes classes from jars only."""
    entries = []
    for i, entry in enumerate(cp.split(os.pathsep)):
        if os.path.isdir(entry):
            jar = os.path.join(BUILD, f"classes{i}.jar")
            with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
                for d, _, fs in sorted(os.walk(entry)):
                    for f in sorted(fs):
                        z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), entry))
            entry = jar
        entries.append(entry)
    return os.pathsep.join(entries)


def _train(cp):
    """Record the classes a run loads in a class-data archive (AppCDS)
    that every later run maps, so that a cold JVM spends less of its
    set-up loading classes. Without the archive runs are slower, not
    wrong, so a failed training is logged and otherwise ignored."""
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    log("training the class-data archive ...")
    out = os.path.join(BUILD, "train")
    try:
        run_jvm(cp, {"workload": "train", "data": inputs("reports", 0, False, None),
                     "etl": inputs("etl-daily", 0, True, None), "out": out},
                out, time.time() + BUILD_LIMIT_S, [f"-XX:ArchiveClassesAtExit={ARCHIVE}"])
    except BenchError as e:
        log(f"no class-data archive: {e}")


def _wait(proc, limit):
    """Wait for `proc` at most `limit` seconds; kill its process group on
    timeout. Returns the exit code (None on timeout)."""
    try:
        return proc.wait(timeout=limit)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None


# --- inputs ----------------------------------------------------------

def inputs(workload, seed, tiny, corpus):
    """The seeded input directory, generated on first use and keyed by
    the generator's source and the corpus it permutes."""
    import gen
    key = hashlib.sha256(open(gen.__file__, "rb").read())
    corpus = os.path.abspath(corpus or gen.CORPUS)
    if workload == "etl-daily":
        kind = "etl-tiny" if tiny else "etl"
    else:
        kind = "corpus"
        key.update(corpus.encode())
    base = os.path.join(BUILD, "data", f"{kind}-{key.hexdigest()[:12]}")
    d = os.path.join(base, str(seed))
    if not os.path.exists(os.path.join(d, ".done")):
        shutil.rmtree(d, ignore_errors=True)
        t0 = time.time()
        if workload != "etl-daily":
            gen.corpus(seed, d, corpus)
        else:
            gen.etl(seed, d, tiny=tiny)
        open(os.path.join(d, ".done"), "w").close()
        log(f"generated {kind} inputs for seed {seed} in {time.time() - t0:.1f} s")
        old = sorted((os.path.getmtime(os.path.join(base, s)), s) for s in os.listdir(base))
        for _, s in old[:-KEEP_SEEDS]:
            shutil.rmtree(os.path.join(base, s), ignore_errors=True)
    return d


# --- the JVM run -----------------------------------------------------

def run_jvm(cp, args, out, deadline, flags=()):
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(CORES), SPARK_LOCAL_DIRS=tmp)
    if not flags and os.path.exists(ARCHIVE):
        flags = [f"-XX:SharedArchiveFile={ARCHIVE}"]
    cmd = ["java"] + [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xms2g", "-Xmx2g", *flags, f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "perfbench.Main"] + \
        [f"{k}={v}" for k, v in args.items()]
    with open(os.path.join(out, "jvm.log"), "w") as logf:
        rc = _wait(subprocess.Popen(cmd, cwd=out, env=env, stdout=logf, stderr=subprocess.STDOUT,
                                    stdin=subprocess.DEVNULL, start_new_session=True),
                   max(10, deadline - time.time()))
    if rc != 0:
        raise BenchError(f"benchmark JVM {'timed out' if rc is None else f'exited {rc}'}; "
                         f"see {os.path.relpath(out, ROOT)}/jvm.log")
    return json.load(open(os.path.join(out, "measure.json")))


# --- metrics ---------------------------------------------------------

def quantile(values, p):
    """The Harrell-Davis estimate of quantile `p`: a mean of all order
    statistics, weighted by a Beta((n+1)p, (n+1)(1-p)) distribution. It
    moves far less from run to run than one order statistic, because a
    run's ops are different queries (or drops) whose times do not move
    together."""
    xs = np.sort(np.asarray(values, dtype=float))
    n, m = len(xs), 20000
    if n == 1:
        return float(xs[0])
    a, b = p * (n + 1), (1 - p) * (n + 1)
    t = (np.arange(m) + 0.5) / m
    cdf = np.concatenate([[0.0], np.cumsum(np.exp((a - 1) * np.log(t) + (b - 1) * np.log1p(-t)))])
    cdf /= cdf[-1]
    weights = np.diff(cdf[np.round(np.arange(n + 1) / n * m).astype(int)])
    return float(weights @ xs)


def tail(values):
    """(percentile, value): the highest percentile with at least ten
    samples beyond it; p75 when there are too few for any (an
    etl-daily run has about 10 drops)."""
    n = len(values)
    p = next((p for p in PERCENTILES if n - math.ceil(p / 100 * n) >= 10), TAIL_FALLBACK)
    return p, quantile(values, p / 100)


def dur(s):
    return (s["end_ns"] - s["start_ns"]) / 1e9


def self_times(spans):
    """Per layer: total duration minus the part covered by child spans."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        cover, cur_end = 0, None
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["start_ns"]):
            a, b = max(c["start_ns"], s["start_ns"]), min(c["end_ns"], s["end_ns"])
            if cur_end is not None and a < cur_end:
                a = cur_end
            if b > a:
                cover += b - a
                cur_end = b
        layer = s["name"].split(".")[0]
        out[layer] = out.get(layer, 0.0) + dur(s) - cover / 1e9
    return out


def passes(m):
    """Timed passes, as a fraction: a pass is every query once, or one
    5-drop compaction cycle."""
    return len(m["ops"]) / m["ops_per_pass"]


def end_to_end(m, check_stats, manifest):
    ops = [o["op_s"] for o in m["ops"]]
    p, v = tail(ops)
    res = {
        "setup_s": statistics.median(s["setup_s"] for s in m["setup"]["reps"])
                   + m["setup"]["load_s"],
        "wall_s": sum(ops) / passes(m),
        "op_p50_s": quantile(ops, 0.5),
        "op_tail_s": v,
        "peak_rss_mb": m["peak_rss_kb"] / 1024,
    }
    if m["workload"] == "etl-daily":
        rows = sum(sum(manifest["batches"][o["drop"]]["rows"].values()) for o in m["ops"])
    else:
        rows = check_stats["result_rows"] * passes(m)
    res["rows_per_s"] = rows / sum(ops)
    return res, p


def per_layer(m, check_stats, manifest):
    npass = passes(m)
    timed = [s for s in m["spans"] if s["op"] > 0]

    def tot(name, key=None):
        """Per pass: summed duration (or counter `key`) of spans `name`."""
        ss = [s for s in timed if s["name"] == name]
        return sum(dur(s) if key is None else s["counters"].get(key, 0) for s in ss) / npass

    etl = m["workload"] == "etl-daily"
    action_names = ("etl.route", "etl.append", "etl.readback", "etl.compact") if etl \
        else ("exec.action",)
    actions = [s for s in timed if s["name"] in action_names]

    def exec_sum(key):
        """Per pass: counter `key` summed over the ops' action spans."""
        return sum(s["counters"].get(key, 0) for s in actions) / npass

    action_s = sum(dur(s) for s in actions) / npass
    res = {
        "harness.session_s": statistics.median(s["session_s"] for s in m["setup"]["reps"]),
        "harness.warmup_s": statistics.median(s["warmup_s"] for s in m["setup"]["reps"]),
        "queries.build_s": tot("queries.build"),
        "queries.build_jobs": tot("queries.build", "jobs"),
        "queries.build_stages": tot("queries.build", "stages"),
        "queries.ckpt_rdds": tot("queries.build", "ckpt_rdds"),
    }
    for phase in ("analysis", "optimization", "planning"):
        res[f"catalyst.{phase}_s"] = tot(f"catalyst.{phase}")
    res.update({
        "exec.jobs": exec_sum("jobs"),
        "exec.stages": exec_sum("stages"),
        "exec.tasks": exec_sum("tasks"),
        "exec.busy_ratio": exec_sum("task_run_s") / max(1e-9, action_s * CORES),
        "exec.action_s": action_s,
        "exec.peak_mem_bytes": max([s["counters"].get("peak_mem_bytes", 0) for s in actions] or [0]),
    })
    for key in ("task_run_s", "task_cpu_s", "gc_s", "shuffle_read_bytes", "shuffle_write_bytes",
                "spill_bytes", "result_rows"):
        res[f"exec.{key}"] = exec_sum(key)
    ops = m["ops"] if etl else []
    rows_in = sum(sum(manifest["batches"][o["drop"]]["rows"].values()) for o in ops)
    appended = sum(sum(o["appended"].values()) for o in ops)
    res.update({
        "etl.route_s": tot("etl.route"),
        "etl.route_jobs": tot("etl.route", "jobs"),
        "etl.files_routed": sum(o["files_routed"] for o in ops) / npass,
        "etl.files_skipped": sum(o["files_skipped"] for o in ops) / npass,
        "etl.append_s": tot("etl.append"),
        "etl.append_jobs": tot("etl.append", "jobs"),
        "etl.keys_scanned": sum(o["keys_scanned"] for o in ops) / npass,
        "etl.rows_in": rows_in / npass,
        "etl.rows_appended": appended / npass,
        "etl.append_yield": appended / rows_in if rows_in else 0.0,
        "etl.compact_s": tot("etl.compact"),
        "etl.compact_bytes_rewritten": tot("etl.compact", "bytes_written"),
        "etl.files_written": sum(o.get("files_written", 0) for o in ops) / npass,
        "etl.bytes_written": tot("etl.append", "bytes_written"),
        "etl.sink_files": ops[-1]["sink_files"] if ops else 0,
        "etl.readback_s": tot("etl.readback"),
        "etl.sink_bytes_per_row": (check_stats["sink_bytes"] / check_stats["sink_rows"]
                                   if etl else 0.0),
        "etl.dup_key_rows": check_stats.get("dup_key_rows", 0),
    })
    return res


def units():
    """Metric name -> unit, from BENCHMARK.json."""
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


# --- report ----------------------------------------------------------

def report(m, failed, metrics, trace, tail_p, extra):
    n_ops = len(m["ops"])
    print(f"workload {m['workload']}: {n_ops} ops in {passes(m):g} pass(es), "
          f"{len(m['setup']['reps'])} set-ups, local[{CORES}]; DuckDB {extra['duckdb']}")
    for name, why in sorted(failed.items()):
        print(f"  FAILED {name}: {why}")
    print(f"  check: {n_ops - extra['failed']}/{n_ops} ops passed, "
          f"fail_ratio {extra['failed'] / n_ops:.4f}")
    if not trace:
        few = n_ops - math.ceil(tail_p / 100 * n_ops) < 10
        print(f"  op_tail_s is p{tail_p} of {n_ops} samples"
              + (" (too few for a percentile with ten beyond it)" if few else "")
              + "; op_p50_s and op_tail_s are Harrell-Davis estimates")
    unit = units()
    for k, v in metrics.items():
        print(f"  {k:32s} {v:16.6f} {unit[k]}")
    if trace:
        npass = passes(m)
        timed = [s for s in m["spans"] if s["op"] > 0]
        print("  self time per layer, s per pass (harness: per set-up):")
        setup = [s for s in m["spans"] if s["op"] == 0]
        for layer, t in sorted(self_times(timed).items()):
            print(f"    {layer:12s} {t / npass:10.4f}")
        print(f"    {'harness':12s} {self_times(setup).get('harness', 0) / len(m['setup']['reps']):10.4f}")
        if extra.get("untraced_wall_s"):
            wall, base = sum(o["op_s"] for o in m["ops"]) / passes(m), extra["untraced_wall_s"]
            print(f"  tracing overhead: traced wall_s {wall:.4f} - untraced {base:.4f} "
                  f"= {wall - base:.4f} s")
        if m["workload"] != "etl-daily":
            by_op = {}
            for s in timed:
                by_op.setdefault(s["op"], []).append(s)
            print("  per query (median over passes): op_s build_s action_s catalyst_s "
                  "build_jobs jobs stages tasks")
            rows = {}
            for i, o in enumerate(m["ops"]):
                ss = by_op.get(i + 1, [])
                cat = sum(dur(s) for s in ss if s["name"].startswith("catalyst."))
                b = [s for s in ss if s["name"] == "queries.build"]
                a = [s for s in ss if s["name"] == "exec.action"]
                rows.setdefault((o["module"], o["name"]), []).append((
                    o["op_s"], o.get("build_s", 0), o.get("action_s", 0), cat,
                    sum(s["counters"].get("jobs", 0) for s in b),
                    sum(s["counters"].get("jobs", 0) for s in a),
                    sum(s["counters"].get("stages", 0) for s in a),
                    sum(s["counters"].get("tasks", 0) for s in a)))
            for module in dict.fromkeys(k[0] for k in rows):
                qs = [(k[1], v) for k, v in rows.items() if k[0] == module]
                total = sum(statistics.median(x[0] for x in v) for _, v in qs)
                print(f"    {module} ({len(qs)} queries, {total:.3f} s)")
                for q, v in qs:
                    med = [statistics.median(x[j] for x in v) for j in range(8)]
                    print(f"      {q:34s} " + " ".join(f"{x:8.3f}" for x in med[:4])
                          + " " + " ".join(f"{x:6.0f}" for x in med[4:]))


# --- main ------------------------------------------------------------

def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--setups", type=int, default=3, help="set-up repetitions (median reported)")
    ap.add_argument("--only", default="", help="query workloads: comma-separated query subset")
    ap.add_argument("--tiny", action="store_true", help="etl-daily: tiny inputs, for a smoke run")
    ap.add_argument("--corpus", help="query workloads: permute this directory's tables instead "
                                     "of the committed sf0.01 corpus (e.g. an sf0.1 corpus)")
    a = ap.parse_args(argv)
    sys.path.insert(0, HERE)
    try:
        cp = build()
        deadline = time.time() + RUN_LIMIT_S
        data = inputs(a.workload, a.seed, a.tiny, a.corpus)
        out = os.path.join(BUILD, "runs", a.workload)
        m = run_jvm(cp, {"workload": a.workload, "data": data, "out": out,
                         "seconds": a.seconds, "trace": a.trace, "setups": a.setups,
                         "only": a.only}, out, deadline)
        result = evaluate(m, data, out, a.trace, f"{a.workload} {data} {a.only}")
    except BenchError as e:
        log(f"benchmark failed: {e}")
        return 1
    print(json.dumps(result))
    return 0


def evaluate(m, data, out, trace, config):
    """Check the outputs, compute the metrics, print the report; returns
    the result object. `config` keys the untraced wall_s kept for the
    tracing-overhead line."""
    import check
    import duckdb
    manifest = None
    if m["workload"] == "etl-daily":
        manifest = json.load(open(os.path.join(data, "manifest.json")))
        last = m["ops"][-1]["sink_rows"]
        failed, stats = check.etl(data, os.path.join(out, m["sink_dir"]),
                                  [o["drop"] for o in m["ops"]], m["rerun_appended"], last)
        for o in m["ops"]:
            o["name_for_check"] = o["drop"]
    else:
        names = list(dict.fromkeys(o["name"] for o in m["ops"]))
        failed, stats = check.queries(data, os.path.join(out, "results"), names, m["oracle_sql"])
        for o in m["ops"]:
            o["name_for_check"] = o["name"]
    for o in m["ops"]:
        if not o.get("ok", True):
            failed.setdefault(o["name_for_check"], o.get("error", "op threw"))
    # a failure charged to set-up (the backfill) counts as one failed op
    names = {o["name_for_check"] for o in m["ops"]}
    n_failed = min(len(m["ops"]), sum(1 for o in m["ops"] if o["name_for_check"] in failed)
                   + len(set(failed) - names))
    e2e, tail_p = end_to_end(m, stats, manifest)
    extra = {"duckdb": duckdb.__version__, "failed": n_failed}
    walls = os.path.join(BUILD, "untraced_wall_s.json")
    known = json.load(open(walls)) if os.path.exists(walls) else {}
    if trace:
        metrics = per_layer(m, stats, manifest)
        extra["untraced_wall_s"] = known.get(config)
    else:
        metrics = {k: e2e[k] for k in E2E}
        known[config] = e2e["wall_s"]
        with open(walls, "w") as f:
            json.dump(known, f)
    report(m, failed, metrics, trace, tail_p, extra)
    return {"correct": not failed, "attempted": len(m["ops"]), "failed": n_failed,
            "metrics": {k: {"value": v, "unit": units()[k]} for k, v in metrics.items()}}


if __name__ == "__main__":
    sys.exit(main())
