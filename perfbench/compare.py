#!/usr/bin/env python3
"""Compare a parent and a change checkout on the benchmark's end-to-end
metrics, by alternating pairs of runs.

    python3 perfbench/compare.py --parent ../parent --change . --pairs 10

Pair i runs both sides on seed `--seed + i`, parent first on even i and
change first on odd i. Per workload and metric it reports each side's
median and quartiles and a verdict:

- improved:   the change wins at least 9 of 10 pairs (ties count for
              neither side) and the medians differ by more than the
              parent's own quartile spread;
- regressed:  the change's median is worse than the parent's by more
              than the metric's bound;
- unresolved: the parent's quartile spread, as a share of its median,
              exceeds the bound, unless every change run is better than
              every parent run;
- same:       none of these.

Fewer than 10 pairs always read unresolved.

`--save FILE` keeps every run's metrics.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def verdict(parent, change, better, bound):
    """Verdict for one metric from paired samples (same length, pair i
    ran on the same seed)."""
    sign = 1 if better == "higher" else -1
    pm, cm = statistics.median(parent), statistics.median(change)
    q1, q3 = quartiles(parent)
    wins = sum(1 for p, c in zip(parent, change) if sign * (c - p) > 0)
    all_better = min(sign * c for c in change) > max(sign * p for p in parent)
    if len(parent) < 10:
        v = "unresolved"
    elif wins >= 0.9 * len(parent) and abs(cm - pm) > (q3 - q1):
        v = "improved"
    elif sign * (cm - pm) < -bound * abs(pm):
        v = "regressed"
    elif pm and (q3 - q1) / abs(pm) > bound and not all_better:
        v = "unresolved"
    else:
        v = "same"
    return {"verdict": v, "parent_median": pm, "change_median": cm, "wins": wins,
            "pairs": len(parent), "parent_q": (q1, q3), "change_q": quartiles(change)}


def run_once(checkout, workload, seed, seconds):
    proc = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, capture_output=True, text=True)
    if proc.returncode != 0:
        raise SystemExit(f"run failed in {checkout} ({workload}, seed {seed}):\n{proc.stderr[-2000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", required=True, help="parent checkout")
    ap.add_argument("--change", required=True, help="change checkout")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1000)
    ap.add_argument("--workload", action="append", help="default: every workload")
    ap.add_argument("--save", help="save every run's metrics here (JSON)")
    a = ap.parse_args(argv)
    spec = json.load(open(os.path.join(HERE, "..", "BENCHMARK.json")))
    workloads = a.workload or [w["name"] for w in spec["workloads"]]
    runs = {}
    for w in workloads:
        runs[w] = {"parent": [], "change": []}
        for i in range(a.pairs):
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            for side in order:
                res = run_once(getattr(a, side), w, a.seed + i, spec["run_seconds"])
                if not res["correct"]:
                    print(f"warning: {side} {w} seed {a.seed + i}: {res['failed']} failed ops")
                runs[w][side].append({k: v["value"] for k, v in res["metrics"].items()})
    if a.save:
        with open(a.save, "w") as f:
            json.dump(runs, f)
    print(f"{'workload':12s} {'metric':12s} {'parent median [q1, q3]':>34s} "
          f"{'change median [q1, q3]':>34s} {'delta':>7s} {'wins':>5s}  verdict")
    for w in workloads:
        verdicts = []
        for m in spec["end_to_end"]:
            v = verdict([r[m["name"]] for r in runs[w]["parent"]],
                        [r[m["name"]] for r in runs[w]["change"]], m["better"], m["bound"])
            delta = (v["change_median"] / v["parent_median"] - 1) * 100 if v["parent_median"] else 0.0
            side = [f"{med:.4g} [{q[0]:.4g}, {q[1]:.4g}]" for med, q in
                    ((v["parent_median"], v["parent_q"]), (v["change_median"], v["change_q"]))]
            print(f"{w:12s} {m['name']:12s} {side[0]:>34s} {side[1]:>34s} {delta:+6.1f}% "
                  f"{v['wins']:2d}/{v['pairs']:<2d}  {v['verdict']}")
            verdicts.append(f"{m['name']} {v['verdict']}")
        print(f"{w:12s} " + ", ".join(verdicts))
    return 0


if __name__ == "__main__":
    sys.exit(main())
