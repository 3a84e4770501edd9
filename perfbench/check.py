"""Output checks against DuckDB, which computes every expected result on
its own from the same input files the program read.

- `queries`: each query's collected result against the query's oracle
  SQL, type-sensitively, as order-insensitive row multisets.
- `etl`: the sinks against DuckDB's own md5 keys and transform of the
  generated CSVs.

Each returns ({op name: failure reason} for the ops that failed, stats).
"""
import datetime
import decimal
import glob
import json
import os

import duckdb

from gen import (ACC_TYPES, BANKS, SEC_FIELDS, SEC_KEY, SEC_OUT, STM_FIELDS, STM_OUT, TABLES,
                 account_number)


def _canon(rows):
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


def _sorted_rows(con, rel):
    cols = sorted(rel.columns)
    types = dict(zip(rel.columns, (str(t) for t in rel.types)))
    quoted = ", ".join(f'"{c}"' for c in cols)
    return cols, types, _canon(con.sql(f"SELECT {quoted} FROM rel").fetchall())


def _value(v, t):
    if v is None:
        return None
    if t in ("DOUBLE", "FLOAT"):
        return float(v)
    if t.startswith("DECIMAL"):
        return decimal.Decimal(v)
    if t == "DATE":
        return datetime.date.fromisoformat(v)
    return v


def load_result(path):
    """A result the benchmark collected: (sorted columns, {column: type},
    canonical rows)."""
    with open(path) as f:
        header = json.loads(f.readline())
        rows = [json.loads(line) for line in f]
    order = sorted(range(len(header)), key=lambda i: header[i][0])
    return ([header[i][0] for i in order], dict(map(tuple, header)),
            _canon(tuple(_value(r[i], header[i][1]) for i in order) for r in rows))


def query_result(con, name, result_dir, oracle, stats):
    """None when the result equals the oracle, else the reason."""
    path = os.path.join(result_dir, f"{name}.jsonl")
    if not os.path.exists(path):
        return "no result written"
    gcols, gtypes, grows = load_result(path)
    stats["result_rows"] += len(grows)
    if oracle is None:
        return None if grows else "empty result and no oracle"
    exp = con.sql(oracle)
    ecols, etypes, erows = _sorted_rows(con, exp)
    if gcols != ecols:
        return f"columns differ: program {gcols} oracle {ecols}"
    diffs = [f"{c}: program {gtypes[c]} oracle {etypes[c]}"
             for c in gcols if gtypes[c] != etypes[c]]
    if diffs:
        return "types differ: " + "; ".join(diffs)
    if grows != erows:
        first = next((i for i, (a, b) in enumerate(zip(grows, erows)) if a != b),
                     min(len(grows), len(erows)))
        return (f"rows differ: program {len(grows)} rows, oracle {len(erows)}, "
                f"first difference at sorted row {first}")
    return None


def queries(data_dir, result_dir, names, oracle_sql):
    """Returns (failed, stats): stats counts the result rows."""
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    failed, stats = {}, {"result_rows": 0}
    for name in names:
        try:
            why = query_result(con, name, result_dir, oracle_sql.get(name), stats)
        except duckdb.Error as e:
            why = f"check error: {e}"
        if why:
            failed[name] = why
    return failed, stats


# --- etl-daily -------------------------------------------------------

# the sink columns compared: every output column but the load time
STM_COLS = [c for c in STM_OUT if c != "processed_at"]
SEC_COLS = [c for c in SEC_OUT if c != "processed_at"]


def _key(cols):
    return "md5(concat_ws('#', " + ", ".join(f"coalesce({c}, 'nan')" for c in cols) + "))"


def _lit(s):
    return "'" + s.replace("'", "''") + "'"


def _source_sql(path, name, batch, kind):
    """DuckDB's transform of one routed CSV, with its batch number."""
    bank_name, acc_type = name.split("_")[:2]
    b = next(i for i, x in enumerate(BANKS) if x["bank"] == bank_name)
    bank = BANKS[b]
    fmt = _lit(bank["fmt"])
    names = STM_FIELDS if kind == "stm" else SEC_FIELDS
    ren = ", ".join(f'"{h}" AS {f}' for h, f in zip(bank[kind], names))
    src = (f"(SELECT {ren} FROM read_csv({_lit(path)}, delim={_lit(bank['sep'])}, "
           f"header=true, all_varchar=true, quote='\"'))")
    meta = f"{_lit(bank_name)} AS bank_name, {_lit(acc_type)} AS acc_type, {_lit(name)} AS file_name"
    if kind == "stm":
        accounts = " ".join(f"WHEN {_lit(account_number(b, a))} THEN {_lit(bank_name + ' ' + t)}"
                            for a, t in enumerate(ACC_TYPES))
        flags = " ".join(f"WHEN {_lit(k)} THEN {v}" for k, v in bank["flags"].items())
        return f"""SELECT {_key(names)} AS surrogate_key, {meta}, acc_number,
            CASE acc_number {accounts} END AS acc_name,
            try_strptime(dt, {fmt}) AS dt,
            CAST(year(try_strptime(dt, {fmt})) AS INTEGER) AS year,
            strftime(try_strptime(dt, {fmt}), '%Y-%m') AS ym,
            TRY_CAST(replace(sum, ',', '.') AS DOUBLE) * (CASE dc {flags} END) AS sum,
            dc, descr, {batch} AS batch FROM {src}"""
    return f"""SELECT {_key(SEC_KEY)} AS surrogate_key,
        {meta}, ticker, qty, side, price,
        try_strptime(send_dt, {fmt}) AS send_dt, try_strptime(effect_dt, {fmt}) AS effect_dt,
        CAST(year(try_strptime(effect_dt, {fmt})) AS INTEGER) AS effect_year,
        strftime(try_strptime(effect_dt, {fmt}), '%Y-%m') AS effect_ym,
        {batch} AS batch FROM {src}"""


def etl(data_dir, sink_root, drops, rerun_appended, readback):
    """Check the sinks after the backfill and `drops` (names, in order).

    Holds with and without intra-batch dedup: a key may land more than
    once, but only from the batch that first brought it.
    Returns (failed {op name: reason}, stats)."""
    manifest = json.load(open(os.path.join(data_dir, "manifest.json")))
    batches = ["backfill"] + list(drops)
    batch_name = {manifest["batches"][b]["batch"]: b for b in batches}
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    failed, stats = {}, {"sink_rows": 0, "sink_bytes": 0, "dup_key_rows": 0}

    def blame(batch_rows, what):
        for (batch, n) in batch_rows:
            name = batch_name.get(batch, "backfill")
            failed.setdefault(name, f"{what}: {n} rows")

    for kind, cols, part in (("stm", STM_COLS, "ym"), ("sec", SEC_COLS, "effect_ym")):
        parts = []
        for b in batches:
            entry = manifest["batches"][b]
            d = "backfill" if b == "backfill" else os.path.join("drops", b)
            for name in sorted(entry["rows"]):
                if f"_{kind}_" in name:
                    parts.append(_source_sql(os.path.join(data_dir, d, name), name,
                                             entry["batch"], kind))
        con.execute(f"CREATE TABLE src_{kind} AS " + " UNION ALL ".join(parts))
        sink = os.path.join(sink_root, kind)
        sel = ", ".join(f"CAST({c} AS TIMESTAMP) AS {c}" if c in ("dt", "send_dt", "effect_dt")
                        else c for c in cols)
        con.execute(f"""CREATE TABLE sink_{kind} AS SELECT {sel} FROM read_parquet(
            '{sink}/**/*.parquet', hive_partitioning=true, hive_types={{'{part}': VARCHAR}})""")
        src_cols = ", ".join(cols)
        file_batch = f"(SELECT DISTINCT file_name, batch FROM src_{kind})"
        # every sink row is the transform of a source row (processed_at aside)
        blame(con.sql(f"""SELECT f.batch, count(*) FROM (SELECT {src_cols} FROM sink_{kind}
            EXCEPT ALL SELECT {src_cols} FROM src_{kind}) x
            LEFT JOIN {file_batch} f USING (file_name) GROUP BY 1""").fetchall(),
              f"{kind} sink rows that match no source row")
        # no key is lost
        blame(con.sql(f"""SELECT first, count(*) FROM (
            SELECT surrogate_key, min(batch) AS first FROM src_{kind} GROUP BY 1) k
            WHERE NOT EXISTS (SELECT 1 FROM sink_{kind} s WHERE s.surrogate_key = k.surrogate_key)
            GROUP BY 1""").fetchall(), f"{kind} keys lost")
        # no key lands after the batch that first brought it
        blame(con.sql(f"""SELECT f.batch, count(*) FROM sink_{kind} s
            JOIN {file_batch} f USING (file_name)
            JOIN (SELECT surrogate_key, min(batch) AS first FROM src_{kind} GROUP BY 1) k
              USING (surrogate_key)
            WHERE f.batch <> k.first GROUP BY 1""").fetchall(),
              f"{kind} keys appended after their first batch")
        rows = con.sql(f"SELECT count(*) FROM sink_{kind}").fetchone()[0]
        if readback.get(kind) != rows:
            failed.setdefault(drops[-1], f"{kind} read-back counted {readback.get(kind)} "
                                         f"rows, sink holds {rows}")
        stats["sink_rows"] += rows
        stats["sink_bytes"] += sum(os.path.getsize(p) for p in glob.glob(
            os.path.join(sink, "**", "*.parquet"), recursive=True))
        stats["dup_key_rows"] += con.sql(f"""SELECT count(*) FROM sink_{kind} WHERE surrogate_key IN
            (SELECT surrogate_key FROM sink_{kind} GROUP BY 1 HAVING count(*) > 1)""").fetchone()[0]
    if any(rerun_appended.values()):
        failed.setdefault(drops[-1], f"re-running the drop appended {rerun_appended}")
    return failed, stats
