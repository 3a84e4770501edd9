"""Seeded input generators. Both run before any timing starts and write
into a directory that is reused by every later run with the same seed.

- `corpus`: a row-permuted copy of the committed sf0.01 corpus, written
  with pyarrow (the writer that made the original files), in an order
  drawn from the seed.
- `etl`: the `etl-daily` inputs: a one-year backfill, a warm-up drop
  and daily drops of bank CSVs, with the YAML config that routes them.
"""
import datetime
import json
import os
import random

import numpy as np
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
CORPUS = os.path.join(HERE, "corpus", "sf0.01")
TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def corpus(seed, out, base=CORPUS):
    """Permute the rows of every table in `base` with a generator seeded
    by `seed`."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    for t in TABLES:
        table = pq.read_table(os.path.join(base, f"{t}.parquet"))
        perm = rng.permutation(table.num_rows)
        pq.write_table(table.take(perm), os.path.join(out, f"{t}.parquet"))


# --- etl-daily -------------------------------------------------------

START = datetime.date(2024, 1, 1)
BACKFILL_DAYS = 365
WINDOW = 7          # each drop re-exports the last 7 days
DROPS = 30          # more than a timed phase uses
STM_PER_DAY = 20    # statement rows per account and day
SEC_PER_DAY = 6     # securities rows per bank and day
ACC_TYPES = ["current", "savings", "card"]

# Three banks that differ in separator, date format, header names and
# debit/credit flags, as real statement exports do.
BANKS = [
    {"bank": "alpha", "sep": ",", "fmt": "%Y-%m-%d", "flags": {"D": -1, "C": 1},
     "stm": ["account", "date", "amount", "direction", "memo"],
     "sec": ["trade_date", "settle_date", "isin", "quantity", "side", "price"]},
    {"bank": "beta", "sep": ";", "fmt": "%d.%m.%Y", "flags": {"S": -1, "H": 1},
     "stm": ["Konto", "Datum", "Betrag", "SH", "Text"],
     "sec": ["Schluss", "Valuta", "WKN", "Stueck", "Richtung", "Kurs"]},
    {"bank": "gamma", "sep": "|", "fmt": "%m/%d/%Y", "flags": {"DR": -1, "CR": 1},
     "stm": ["acct", "posted", "amt", "type", "details"],
     "sec": ["sent", "effective", "ticker", "qty", "bs", "px"]},
]
STM_FIELDS = ["acc_number", "dt", "sum", "dc", "descr"]   # all of them key a row
SEC_FIELDS = ["send_dt", "effect_dt", "ticker", "qty", "side", "price"]
SEC_KEY = ["ticker", "send_dt", "qty", "side", "price"]
STM_OUT = ["surrogate_key", "bank_name", "acc_type", "file_name", "processed_at",
           "acc_number", "acc_name", "dt", "year", "ym", "sum", "dc", "descr"]
SEC_OUT = ["surrogate_key", "bank_name", "acc_type", "file_name", "processed_at",
           "ticker", "qty", "side", "price", "send_dt", "effect_dt",
           "effect_year", "effect_ym"]
MERCHANTS = ["grocer", "fuel", "pharmacy", "rent", "salary", "transfer", "cafe",
             "books", "telecom", "insurance", "travel", "utilities"]
TICKERS = [f"XS{n:010d}" for n in range(40)]
PATTERN = r"(\w+?)_(\w+?)_(stm|sec)_\d{8}\.csv"


def account_number(b, a):
    return f"40817{b}{a:02d}0001"


def config_yaml():
    """The routing and transform config, in the reference's YAML shape."""
    lines = [f"file_pattern: '{PATTERN}'", "mapping:"]
    for kind, fields, out in (("stm", STM_FIELDS, STM_OUT), ("sec", SEC_FIELDS, SEC_OUT)):
        lines.append(f"  {kind}:")
        for b, bank in enumerate(BANKS):
            lines += [f"    {bank['bank']}:",
                      f"      csv_separator: '{bank['sep']}'",
                      "      original_fields:"]
            lines += [f"        {h}: {f}" for h, f in zip(bank[kind], fields)]
            key = STM_FIELDS if kind == "stm" else SEC_KEY
            lines.append(f"      surrogate_key_columns: [{', '.join(key)}]")
            if kind == "stm":
                lines.append("      accounts:")
                lines += [f"        '{account_number(b, a)}': '{bank['bank']} {t}'"
                          for a, t in enumerate(ACC_TYPES)]
                flags = ", ".join(f"{k}: {v}" for k, v in bank["flags"].items())
                lines.append(f"      debit_multiplier: {{{flags}}}")
            lines.append(f"      date_format: '{bank['fmt']}'")
            lines.append("      desired_fields:")
            lines += [f"        - {f}" for f in out]
    return "\n".join(lines) + "\n"


class Ledger:
    """Deterministic transactions per (seed, file kind, day): a re-export
    of a day always yields the same rows, so its keys match. The seed
    draws the rows' content; their number per file and day is fixed, so
    every seed loads the same volume."""

    def __init__(self, seed, scale=1.0):
        self.seed = seed
        self.stm_rows = max(2, round(STM_PER_DAY * scale))
        self.sec_rows = max(2, round(SEC_PER_DAY * scale))
        self.cache = {}

    def stm(self, b, a, day):
        key = ("stm", b, a, day)
        if key not in self.cache:
            rng = random.Random(f"{self.seed}:{key}")
            bank = BANKS[b]
            date = (START + datetime.timedelta(days=day)).strftime(bank["fmt"])
            debit, credit = list(bank["flags"])
            rows = []
            for _ in range(self.stm_rows):
                if rng.random() < 0.003 and rows:  # repeated same-day purchase
                    rows.append(rows[-1])
                    continue
                acc = account_number(b, a) if rng.random() >= 0.01 \
                    else f"40999{rng.randint(0, 99999):05d}"     # unknown account
                amount = f"{rng.randint(100, 500000) / 100:.2f}".replace(".", ",")
                if rng.random() < 0.002:                          # malformed amount
                    amount = rng.choice(["n/a", "12,34,56", "--"])
                flag = debit if rng.random() < 0.7 else credit
                descr = f"{rng.choice(MERCHANTS)} {rng.randint(1, 9999)}"
                rows.append((acc, date, amount, flag, descr))
            self.cache[key] = rows
        return self.cache[key]

    def sec(self, b, day):
        key = ("sec", b, day)
        if key not in self.cache:
            rng = random.Random(f"{self.seed}:{key}")
            fmt = BANKS[b]["fmt"]
            sent = (START + datetime.timedelta(days=day)).strftime(fmt)
            rows = []
            for _ in range(self.sec_rows):
                effect = (START + datetime.timedelta(days=day + rng.choice([1, 2, 3])))
                rows.append((sent, effect.strftime(fmt), rng.choice(TICKERS),
                             str(rng.randint(1, 1000)), rng.choice(["B", "S"]),
                             f"{rng.randint(100, 100000) / 100:.2f}"))
            self.cache[key] = rows
        return self.cache[key]


def _write(path, sep, header, rows):
    def field(v):
        return f'"{v}"' if sep in v else v
    with open(path, "w", encoding="utf-8", newline="") as f:
        f.write(sep.join(header) + "\n")
        for r in rows:
            f.write(sep.join(map(field, r)) + "\n")
    return len(rows)


def _export(ledger, out, first, last, banks=len(BANKS), accounts=len(ACC_TYPES)):
    """Write one export of days [first, last]: a statement file per
    account and a securities file per bank (for the first `banks` banks
    and `accounts` accounts), plus one file no config routes. Returns
    {file name: data rows}."""
    os.makedirs(out, exist_ok=True)
    stamp = (START + datetime.timedelta(days=last)).strftime("%Y%m%d")
    days = range(first, last + 1)
    rows = {}
    for b, bank in enumerate(BANKS[:banks]):
        for a, t in enumerate(ACC_TYPES[:accounts]):
            name = f"{bank['bank']}_{t}_stm_{stamp}.csv"
            rows[name] = _write(os.path.join(out, name), bank["sep"], bank["stm"],
                                [r for d in days for r in ledger.stm(b, a, d)])
        name = f"{bank['bank']}_broker_sec_{stamp}.csv"
        rows[name] = _write(os.path.join(out, name), bank["sep"], bank["sec"],
                            [r for d in days for r in ledger.sec(b, d)])
    _write(os.path.join(out, f"fx_rates_{stamp}.csv"), ",", ["ccy", "rate"],
           [("EUR", "1.08"), ("GBP", "1.27")])
    return rows


def etl(seed, out, tiny=False):
    """Backfill (batch 0), warm-up and daily drops (batch k). `tiny`
    shrinks every size for a quick smoke run."""
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, "config.yaml"), "w") as f:
        f.write(config_yaml())
    days, drops, scale = (30, 10, 0.1) if tiny else (BACKFILL_DAYS, DROPS, 1.0)
    ledger = Ledger(seed, scale)
    last = days - 1
    batches = {"backfill": {"batch": 0, "rows": _export(ledger, os.path.join(out, "backfill"), 0, last)}}
    # the warm-up loads two small files of days before the backfill
    # into a throwaway sink
    _export(Ledger(seed + 1, 0.1), os.path.join(out, "warmup"), -3, -1, banks=1, accounts=1)
    for k in range(1, drops + 1):
        name = f"d{k:03d}"
        batches[name] = {"batch": k, "rows": _export(
            ledger, os.path.join(out, "drops", name), last + k - WINDOW + 1, last + k)}
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump({"batches": batches}, f)
