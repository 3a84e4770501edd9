#!/usr/bin/env python3
"""Local pre-flight mirror of the driver's correctness gate.

Runs graft.Verify output (parquet per query + oracle_sql.json) against
DuckDB on the same sf dir and reports per-query row/schema/value match.
Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir>
"""
import json, sys, glob
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def canon(rows):
    out = []
    for r in rows:
        vals = []
        for v in r:
            if isinstance(v, float):
                vals.append(round(v, 6))
            elif hasattr(v, "isoformat"):
                vals.append(v.isoformat())
            else:
                vals.append(v)
        out.append(tuple(vals))
    return sorted(out, key=repr)


def assert_zero_division_null(con):
    """The oracles lean on DuckDB's x/0 being NULL for every numeric
    type (Spark's twin is an explicit nullif guard). DuckDB 1.0 returns
    NULL; a release that returns inf or raises must fail here, loudly,
    not as scattered row mismatches."""
    got = con.execute(
        "SELECT CAST(1 AS DOUBLE) / CAST(0 AS DOUBLE), 1.0 / 0.0, 1 // 0"
    ).fetchone()
    assert got == (None, None, None), (
        f"duckdb {duckdb.__version__}: x/0 is {got}, the oracles expect NULL")


def main(sf_dir, out_dir):
    con = duckdb.connect()
    assert_zero_division_null(con)
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    ok = fail = 0
    seen = set()
    for qdir in sorted(glob.glob(f"{out_dir}/*/")):
        name = qdir.rstrip("/").split("/")[-1]
        seen.add(name)
        got = con.sql(f"SELECT * FROM '{qdir}*.parquet'")
        gcols = sorted(got.columns)
        grows = canon(con.sql(
            f"SELECT {', '.join(gcols)} FROM got").fetchall())
        if name not in oracle:
            print(f"  [rows-only] {name}: {len(grows)} rows")
            continue
        exp = con.sql(oracle[name])
        ecols = sorted(exp.columns)
        erows = canon(con.sql(
            f"SELECT {', '.join(ecols)} FROM exp").fetchall())
        # The driver's hash is TYPE-sensitive (e.g. DuckDB sum(BIGINT) is
        # HUGEINT vs Spark's BIGINT hash differently even on identical
        # values) — so dtype mismatch must fail here too, or latent gate
        # failures ship (round 2 shipped 8 this way).
        gtypes = dict(zip(got.columns, (str(t) for t in got.types)))
        etypes = dict(zip(exp.columns, (str(t) for t in exp.types)))
        type_diffs = [
            f"{c}: spark={gtypes[c]} oracle={etypes[c]}"
            for c in sorted(set(gtypes) & set(etypes))
            if gtypes[c] != etypes[c]]
        if gcols != ecols:
            print(f"  [FAIL cols] {name}: spark={gcols} oracle={ecols}")
            fail += 1
        elif type_diffs:
            print(f"  [FAIL types] {name}: " + "; ".join(type_diffs))
            fail += 1
        elif grows != erows:
            print(f"  [FAIL rows] {name}: spark {len(grows)} rows vs oracle {len(erows)}")
            for i, (a, b) in enumerate(zip(grows, erows)):
                if a != b:
                    print(f"    first diff at {i}:\n      spark : {a}\n      oracle: {b}")
                    break
            fail += 1
        else:
            print(f"  [ok] {name}: {len(grows)} rows")
            ok += 1
    # An oracle-covered query whose Verify run crashed writes no output
    # dir; that is a failure, not a skip — otherwise the gate can pass a
    # run where covered queries never executed.
    for name in sorted(set(oracle) - seen):
        print(f"  [FAIL missing] {name}: no Verify output written")
        fail += 1
    print(f"== {ok} ok, {fail} fail, "
          f"{len(oracle) - ok - fail} missing/rows-only ==")
    sys.exit(1 if fail else 0)


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
