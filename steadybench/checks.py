"""Output checks, run after timing.

Analytics results are compared with the registered DuckDB oracle by row
count, sorted column names and the order-insensitive value hash of
``tools/check_correctness.py``.  The viewing profile is compared with
the generator's plain-Python totals, and ingested rows with the lines
that were dropped.
"""

from __future__ import annotations

import csv
import glob
import os

import duckdb
import pyarrow.parquet as pq

from tools.check_correctness import MIN_ROWS, table_hash

from .corpus import CATEGORY_APPS


def digest(rows: list[tuple], cols: list[str]) -> tuple[int, list[str], str]:
    return len(rows), sorted(cols), table_hash(rows, cols)


def oracle_digests(corpus_dir: str, oracles: dict[str, str], names: list[str],
                   tables: tuple[str, ...]) -> dict[str, tuple]:
    con = duckdb.connect()
    try:
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{corpus_dir}/{t}.parquet')")
        out = {}
        for name in names:
            res = con.execute(oracles[name])
            cols = [d[0] for d in res.description]
            out[name] = digest([tuple(r) for r in res.fetchall()], cols)
        return out
    finally:
        con.close()


def analytics_problem(name: str, got: tuple, want: tuple) -> str | None:
    if got[0] < MIN_ROWS.get(name, 1):
        return f"{name}: {got[0]} rows, expected a non-empty result"
    if got[:2] != want[:2]:
        return f"{name}: rows/columns {got[:2]} != oracle {want[:2]}"
    if got[2] != want[2]:
        return f"{name}: value hash differs from the oracle"
    return None


def profile_problem(out_dir: str, expected: dict[str, dict[str, int]]) -> str | None:
    parts = glob.glob(os.path.join(out_dir, "part-*.csv"))
    if len(parts) != 1:
        return f"profile: {len(parts)} CSV part files, expected 1"
    got = {}
    with open(parts[0], newline="") as fh:
        for row in csv.DictReader(fh):
            got[row["Contract"]] = {k: int(row[k]) for k in [*CATEGORY_APPS, "TotalDevices"]}
    if got.keys() != expected.keys():
        return f"profile: {len(got)} contracts, expected {len(expected)}"
    bad = [c for c in expected if got[c] != expected[c]]
    if bad:
        return f"profile: totals differ for {len(bad)} contracts, e.g. {bad[0]}: {got[bad[0]]} != {expected[bad[0]]}"
    return None


def ingested_rows(out_dir: str) -> tuple[int, int]:
    """(rows, rows with a parsed payload) under a partitioned parquet
    output, from the file footers and the ``Mac`` column."""
    rows = parsed = 0
    for f in glob.glob(os.path.join(out_dir, "log_date=*", "*.parquet")):
        t = pq.read_table(f, columns=["Mac"])
        rows += t.num_rows
        parsed += t.num_rows - t.column("Mac").null_count
    return rows, parsed
