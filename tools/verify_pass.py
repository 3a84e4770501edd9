#!/usr/bin/env python3
"""Standard local verify pass — the one command to run before the
driver's gate (VERDICT r5 item 7).

Sequence (fail-fast between stages, so a broken build never burns the
fuzz seeds' sbt time):
  1. `sbt runMain graft.Verify <sfDir> /tmp/verify_out` — dump every
     SparkEntry query to parquet + oracle_sql.json
  2. tools/check_oracle.py — the DuckDB row/schema/type/value compare
     (the same semantics as the driver's CORRECTNESS gate)
  3. tools/fuzz_oracle.py --sample 20 1..5 — replay the fragile-query
     set PLUS a per-seed 20-query stable-set sample on five
     value-domain-redrawn corpora
  4. tools/fuzz_oracle.py --permute — full surface on a row-permuted
     corpus must reproduce the stage-1 output exactly
  5. tools/fuzz_oracle.py --degenerate — full surface must exit 0 on
     the worst-plausible corpus (crash robustness, no oracle)

Writes FUZZLOG.json at the repo root: per-stage rc + summary line, no
timestamps (so a green rerun is a no-op diff). That file IS the green
log artifact the verdict asked for — commit it when it changes.

Usage: python3 tools/verify_pass.py [sfDir]
       python3 tools/verify_pass.py --summary   # closing numbers ONLY,
           derived from target/test_summary.json + target/bench_full.json
           (never hand-write close-out numbers — VERDICT r7 item 1)
"""
import json
import re
import shutil
import subprocess
import sys

import duckdb

REPO = "/root/repo"


def run(cmd):
    r = subprocess.run(cmd, cwd=REPO, capture_output=True, text=True)
    return r.returncode, (r.stdout + r.stderr)


def main():
    if len(sys.argv) > 1 and sys.argv[1] == "--summary":
        print(closing_summary(snapshot=True))
        return
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    out = "/tmp/verify_out"
    log = {"sf": sf, "stages": {}}

    shutil.rmtree(out, ignore_errors=True)
    rc, txt = run(["sbt", "-batch", f"runMain graft.Verify {sf} {out}"])
    log["stages"]["verify"] = {"rc": rc}
    if rc != 0:
        print(txt[-4000:])
        finish(log, 1)

    rc, txt = run(["python3", "tools/check_oracle.py", sf, out])
    m = re.search(r"== (\d+) ok, (\d+) fail", txt)
    log["stages"]["oracle"] = {
        "rc": rc,
        "ok": int(m.group(1)) if m else None,
        "fail": int(m.group(2)) if m else None,
    }
    print(txt.strip().splitlines()[-1] if txt.strip() else "(no output)")
    if rc != 0:
        print(txt[-4000:])
        finish(log, 1)

    # --sample 20: each seed also replays a seed-deterministic
    # 20-query draw from the non-fragile set (VERDICT r10 item 5)
    rc, txt = run(["python3", "tools/fuzz_oracle.py",
                   "--sample", "20", "1", "2", "3", "4", "5"])
    seeds = {s: f"seed {s}: all green" in txt for s in (1, 2, 3, 4, 5)}
    log["stages"]["fuzz"] = {"rc": rc, "seeds_green": seeds}
    print(txt.strip().splitlines()[-1] if txt.strip() else "(no output)")
    if rc != 0:
        print(txt[-6000:])
    fuzz_rc = rc

    # Class-B probe (VERDICT r11 item 2): full surface on a
    # row-PERMUTED copy of the gate corpus must reproduce the stage-1
    # Verify output exactly — catches order-dependent LIMIT/row_number
    # cuts that value redraws only find by luck
    rc, txt = run(["python3", "tools/fuzz_oracle.py",
                   "--permute", sf, out, "1"])
    m = re.search(r"== permute seed 1: (\d+) ok, (\d+) fail", txt)
    log["stages"]["permute"] = {
        "rc": rc,
        "ok": int(m.group(1)) if m else None,
        "fail": int(m.group(2)) if m else None,
    }
    print(txt.strip().splitlines()[-1] if txt.strip() else "(no output)")
    if rc != 0:
        print(txt[-6000:])
    permute_rc = rc

    # Class-A empirical backstop (VERDICT r12 item 5): the full surface
    # must EXIT 0 on the worst-plausible corpus (empty/1-token docs,
    # malformed JSON, all-zero money) — the probe that found the 24
    # ANSI DIVIDE_BY_ZERO crashers + the bloom NPE, now a per-close gate
    rc, txt = run(["python3", "tools/fuzz_oracle.py", "--degenerate", sf])
    log["stages"]["degenerate"] = {"rc": rc}
    print(txt.strip().splitlines()[-1] if txt.strip() else "(no output)")
    if rc != 0:
        print(txt[-6000:])
    finish(log, fuzz_rc or permute_rc or rc)


def _mtime(path):
    import datetime
    import os
    try:
        return datetime.datetime.fromtimestamp(
            os.path.getmtime(path)).strftime("%Y-%m-%d %H:%M")
    except Exception:
        return "missing"


def closing_summary(snapshot=False):
    """The ONLY legitimate source of close-out numbers (VERDICT r7 item
    1: commit 6f86099 hand-claimed 399 tests / 218.2s while the
    artifacts held 374 / 232.0). Reads target/test_summary.json +
    target/bench_full.json and prints the summary string to paste into
    the closing commit / SURVEY 6.1 — never write those numbers by
    hand.

    snapshot=True (the explicit `--summary` invocation ONLY) also
    copies both source files to the committed `*_close_r{N}` names.
    finish() prints the summary after every pass but must NOT
    snapshot: r11's corrupted close (BENCH_close_r11.json = the r10
    driver bench, VERDICT r11 item 3) happened exactly because a
    stale target/ file was copied under a close filename as a side
    effect. Source mtimes are printed either way — verify by eye that
    both artifacts were generated in THIS round's close sequence
    (fresh sbt test + fresh Bench) before pasting the numbers."""
    parts = []
    rnd = _round_number()
    try:
        t = json.load(open(f"{REPO}/target/test_summary.json"))
        parts.append(
            (f"{t['tests']} tests green in {t['suites']} suites"
             if t.get("failed", 0) == 0 else
             f"TESTS RED: {t['failed']} failed of {t['tests']}")
            + f" [generated {_mtime(f'{REPO}/target/test_summary.json')}]")
        if snapshot:
            # snapshot the EXACT scalatest summary the closing counts
            # come from to a COMMITTED artifact (VERDICT r9 item 2)
            shutil.copyfile(f"{REPO}/target/test_summary.json",
                            f"{REPO}/TESTS_close_r{rnd}.json")
            parts.append(f"snapshot: TESTS_close_r{rnd}.json")
    except Exception as e:
        parts.append(f"(no test_summary.json: {e})")
    try:
        b = json.load(open(f"{REPO}/target/bench_full.json"))
        qs = b["queries"]
        n = len(qs)
        bad = sorted(k for k, v in qs.items() if v < 0)
        tot = sum(v for v in qs.values() if v >= 0)
        s = (f"best-of-3 bench {tot:.1f}s/{n} at sf0.1 "
             f"(mean {tot / max(n, 1):.3f}s)"
             f" [generated {_mtime(f'{REPO}/target/bench_full.json')}]")
        if bad:
            s += f" — {len(bad)} FAILED: {', '.join(bad)}"
        parts.append(s)
        if snapshot:
            # snapshot the EXACT bench JSON these numbers derive from
            # (VERDICT r8 item 4: target/ is gitignored and the
            # driver's post-commit rerun overwrites it)
            shutil.copyfile(f"{REPO}/target/bench_full.json",
                            f"{REPO}/BENCH_close_r{rnd}.json")
            parts.append(f"snapshot: BENCH_close_r{rnd}.json")
    except Exception as e:
        # At CLOSE (snapshot=True) a missing/clipped bench artifact is a
        # hard failure, not a footnote: r13's driver-side PERF had
        # n_common=0 because a clipped BENCH line went unnoticed
        # (VERDICT r13 item 7) — the close must prove the committed
        # BENCH_close snapshot parses as one complete JSON object.
        if snapshot:
            raise SystemExit(
                f"CLOSE ABORTED: target/bench_full.json is not valid "
                f"JSON ({e}) — rerun graft.Bench before snapshotting")
        parts.append(f"(no bench_full.json: {e})")
    return "; ".join(parts)


def _round_number():
    """Current round = highest driver CORRECTNESS_r{N} + 1 (the driver
    writes r{N} after the round closes, so while building round N only
    r{N-1} exists)."""
    rounds = [int(m.group(1)) for f in __import__("os").listdir(REPO)
              if (m := re.match(r"CORRECTNESS_r(\d+)\.json$", f))]
    return (max(rounds) + 1) if rounds else 1


def finish(log, rc):
    log["green"] = rc == 0
    # the oracle's semantics (x/0 -> NULL, see check_oracle.py) are
    # pinned to the DuckDB release that checked them
    log["duckdb_version"] = duckdb.__version__
    # Ledger block is DERIVED from FUZZLEDGER.json at write time
    # (VERDICT r12 item 4: the r12 close snapshot shipped
    # fuzzed_ever: 298 while the ledger — updated by a later seed-6
    # batch — said 447; computing it here means the two files can
    # never disagree at the moment FUZZLOG is written)
    try:
        led = json.load(open(f"{REPO}/FUZZLEDGER.json"))
        oracle = log.get("stages", {}).get("oracle", {})
        universe = None
        if oracle.get("ok") is not None and oracle.get("fail") is not None:
            universe = oracle["ok"] + oracle["fail"]
        log.setdefault("stages", {}).setdefault("fuzz", {})["ledger"] = {
            "fuzzed_ever": len(led),
            "universe": universe,
            "failing_now": sorted(q for q, e in led.items() if e["fail"]),
        }
    except Exception:
        pass
    with open(f"{REPO}/FUZZLOG.json", "w") as f:
        json.dump(log, f, indent=2, sort_keys=True)
        f.write("\n")
    print(f"== verify pass {'GREEN' if rc == 0 else 'RED'} ==")
    print(f"closing summary (artifact-derived): {closing_summary()}")
    sys.exit(rc)


if __name__ == "__main__":
    main()
