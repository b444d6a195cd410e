"""Landed transaction CSVs for the `etl_files` workload, in the shape of the
reference's uploader (9 columns, `TXN_yyyymmdd_nnnn` ids, 70/30
expense/income, files under `raw-data/year=/month=/day=`), drawn from a
seed, plus what the handler must produce from them.

About one file in ten is a re-delivery: an exact copy of an earlier file
under a new key, so its rows take the upsert's conflict-update path. About
one row in fifty is dirty: an unparseable date (kept, date becomes null),
an empty amount (dropped by the handler's key filter), or a description
wider than the warehouse's VARCHAR(200) (kept in the JSON document,
rejected before the MERGE).
"""
import csv
import json
import os
import random
from decimal import Decimal

N_FILES = 200
ROWS = (20, 100)
REDELIVERY_SHARE = 0.10
DIRTY_SHARE = 0.02
HEADER = ["transaction_id", "date", "timestamp", "amount", "category",
          "description", "transaction_type", "account", "location"]
INCOME = {"salary": "Monthly salary", "freelance": "Freelance project",
          "investment": "Dividend payment", "bonus": "Performance bonus"}
EXPENSE = {"food": "Groceries", "transport": "Gas station",
           "utilities": "Electric bill", "entertainment": "Movie tickets",
           "shopping": "Online purchase", "healthcare": "Pharmacy"}
ACCOUNTS = ["checking", "savings", "credit_card"]
LOCATIONS = ["Online", "New York", "Los Angeles", "Chicago", "Houston"]


def _row(rng, day, seq):
    income = rng.random() < 0.30
    cents = rng.randint(50000, 500000) if income else -rng.randint(1000, 50000)
    cat, desc = rng.choice(sorted((INCOME if income else EXPENSE).items()))
    date = f"2024-07-{day:02d}"
    ts = f"{date} {rng.randint(6, 22):02d}:{rng.randint(0, 59):02d}:{rng.randint(0, 59):02d}"
    row = [f"TXN_202407{day:02d}_{seq:04d}", date, ts, str(Decimal(cents) / 100),
           cat, desc, "income" if income else "expense", rng.choice(ACCOUNTS),
           rng.choice(LOCATIONS)]
    if rng.random() < DIRTY_SHARE:
        kind = rng.randrange(3)
        if kind == 0:
            row[1] = "2024-13-45"
        elif kind == 1:
            row[3] = ""
        else:
            row[5] = "x" * 250
    return row


def generate(d, seed):
    rng = random.Random(seed)
    manifest, next_seq = [], {}
    for i in range(N_FILES):
        if manifest and rng.random() < REDELIVERY_SHARE:
            src = rng.choice(manifest)
            day, rows = src["day"], src["rows"]
        else:
            day = 1 + i * 30 // N_FILES
            rows = []
            for _ in range(rng.randint(*ROWS)):
                next_seq[day] = next_seq.get(day, 0) + 1
                rows.append(_row(rng, day, next_seq[day]))
        rel = (f"raw-data/year=2024/month=07/day={day:02d}/"
               f"transactions_202407{day:02d}_{i:04d}.csv")
        path = os.path.join(d, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", newline="") as f:
            w = csv.writer(f)
            w.writerow(HEADER)
            w.writerows(rows)
        manifest.append({"path": path, "day": day, "rows": rows})
    with open(os.path.join(d, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    open(os.path.join(d, "_DONE"), "w").close()


def _manifest(d):
    with open(os.path.join(d, "manifest.json")) as f:
        return json.load(f)


def files(d):
    return [m["path"] for m in _manifest(d)]


def _kept(row):
    return row[0] != "" and row[3] != ""


def record_counts(d):
    """The JSON document's record count for each file."""
    return {m["path"]: sum(_kept(r) for r in m["rows"]) for m in _manifest(d)}


def warehouse_totals(d, done):
    """Rows and exact cent sum the warehouse holds after the files in
    `done` were handled: every kept row that fits the DDL, once per id."""
    by_path = {m["path"]: m for m in _manifest(d)}
    rows = {}
    for path in done:
        for r in by_path[path]["rows"]:
            if _kept(r) and len(r[5]) <= 200:
                rows[r[0]] = int(Decimal(r[3]) * 100)
    return len(rows), sum(rows.values())
