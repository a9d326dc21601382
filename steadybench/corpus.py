"""Seeded inputs for the benchmark.

Every input the engine sees comes from here and depends only on the
workload seed and the scale: the star corpus (parquet, one file and one
row group per table, the shape of the shipped test data) and the daily
viewing-log drops (JSON lines in the FIXTURES.md section 1 envelope,
edge rows included).  The viewing generator also returns the answers
the pipeline must reproduce, computed in plain Python.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from tools.gen_testdata import (
    EVENT_TYPES,
    LANGS,
    PART_ADJ,
    PART_NOUN,
    PRIORITIES,
    PTYPES,
    REGIONS,
    SEGMENTS,
    ZIPF_S,
    _zipf_vocab,
)

VOCAB_SIZE = 20_000


def _ts(rng_days: np.ndarray, epoch: str) -> pa.Array:
    base = np.datetime64(epoch, "us")
    return pa.array(base + (rng_days * 86_400_000_000).astype("timedelta64[us]"))


def _write(out: Path, name: str, cols: dict) -> None:
    table = pa.table(cols)
    pq.write_table(
        table, out / f"{name}.parquet", compression="snappy",
        row_group_size=max(1, table.num_rows),
    )


def star_corpus(seed: int, sf: float, out: Path, tables: tuple[str, ...]) -> None:
    """Write the named star tables at scale ``sf`` under ``out``.  The
    value distributions follow ``tools/gen_testdata.py``; every table is
    drawn from its own stream of the seed, so the subset asked for does
    not change any table's content."""
    out.mkdir(parents=True, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_ev, n_doc, n_emb = int(1_500_000 * sf), int(1_000_000 * sf), int(50_000 * sf), int(20_000 * sf)

    def rng(i: int) -> np.random.Generator:
        return np.random.default_rng([seed, i])

    def region():
        _write(out, "region", {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)), "r_name": REGIONS})

    def nation():
        _write(out, "nation", {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        })

    def customer():
        r = rng(1)
        _write(out, "customer", {
            "c_custkey": np.arange(n_cust),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(r.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": np.round(r.uniform(-1000, 10_000, n_cust), 2),
            "c_mktsegment": pa.array(np.array(SEGMENTS)[r.integers(0, 5, n_cust)]),
        })

    def supplier():
        r = rng(2)
        _write(out, "supplier", {
            "s_suppkey": np.arange(n_supp),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(r.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": np.round(r.uniform(-1000, 10_000, n_supp), 2),
        })

    def part():
        r = rng(3)
        adj = np.array(PART_ADJ)[r.integers(0, len(PART_ADJ), n_part)]
        noun = np.array(PART_NOUN)[r.integers(0, len(PART_NOUN), n_part)]
        _write(out, "part", {
            "p_partkey": np.arange(n_part),
            "p_name": [f"{a} {n}" for a, n in zip(adj, noun)],
            "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
            "p_type": pa.array(np.array(PTYPES)[r.integers(0, 6, n_part)]),
            "p_size": pa.array(r.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": np.round(r.uniform(900, 2100, n_part), 2),
        })

    def orders_lineitem():
        r = rng(4)
        odays = r.integers(0, 2404, n_ord).astype(np.float64)
        if "orders" in tables:
            _write(out, "orders", {
                "o_orderkey": np.arange(n_ord),
                "o_custkey": r.integers(0, n_cust, n_ord),
                "o_orderstatus": pa.array(np.array(["O", "F", "P"])[r.integers(0, 3, n_ord)]),
                "o_totalprice": np.round(r.uniform(1000, 400_000, n_ord), 2),
                "o_orderdate": _ts(odays, "1995-01-01"),
                "o_orderpriority": pa.array(np.array(PRIORITIES)[r.integers(0, 5, n_ord)]),
            })
        if "lineitem" not in tables:
            return
        r = rng(5)
        nlines = r.integers(1, 8, n_ord)
        okey = np.repeat(np.arange(n_ord), nlines)
        n_li = okey.size
        linenum = np.arange(n_li) - np.repeat(np.cumsum(nlines) - nlines, nlines) + 1
        _write(out, "lineitem", {
            "l_orderkey": okey,
            "l_partkey": r.integers(0, n_part, n_li),
            "l_suppkey": r.integers(0, n_supp, n_li),
            "l_linenumber": pa.array(linenum.astype(np.int32)),
            "l_quantity": r.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": np.round(r.uniform(900, 105_000, n_li), 2),
            "l_discount": np.round(r.integers(0, 11, n_li) / 100.0, 2),
            "l_tax": np.round(r.integers(0, 9, n_li) / 100.0, 2),
            "l_returnflag": pa.array(np.array(["N", "A", "R"])[r.integers(0, 3, n_li)]),
            "l_linestatus": pa.array(np.array(["O", "F"])[r.integers(0, 2, n_li)]),
            "l_shipdate": _ts(np.repeat(odays, nlines) + r.integers(1, 96, n_li), "1995-01-01"),
        })

    def events():
        r = rng(6)
        n_users = max(1, int(15_000 * sf))
        _write(out, "events", {
            "event_id": np.arange(n_ev),
            "ts": _ts(r.uniform(0, 30, n_ev), "2024-01-01"),
            "user_id": r.integers(0, n_users, n_ev),
            "event_type": pa.array(np.array(EVENT_TYPES)[r.integers(0, 5, n_ev)]),
            "value": np.round(np.abs(r.normal(35, 45, n_ev)), 2),
            "props": [json.dumps({"k": int(k)}) for k in r.integers(0, 100, n_ev)],
        })

    def documents():
        r = rng(7)
        vocab = _zipf_vocab(rng(8), VOCAB_SIZE)
        p = np.arange(1, VOCAB_SIZE + 1, dtype=np.float64) ** -ZIPF_S
        p /= p.sum()
        lens = r.integers(10, 101, n_doc)
        flat = vocab[r.choice(VOCAB_SIZE, int(lens.sum()), p=p)]
        offs = np.concatenate([[0], np.cumsum(lens)])
        texts = [" ".join(flat[offs[i]:offs[i + 1]]) for i in range(n_doc)]
        # exact duplicates, duplicate clusters of 4-6 and near-duplicates
        # with ~10% of tokens redrawn, as in the shipped generator
        n_dup = max(2, n_doc // 500)
        for d, s in zip(r.choice(n_doc, n_dup, replace=False), r.choice(n_doc, n_dup)):
            texts[d] = texts[s]
        n_clusters = max(2, n_doc // 1000)
        pool = r.choice(n_doc, n_clusters * 7, replace=False)
        at = 0
        for _ in range(n_clusters):
            size = int(r.integers(4, 7))
            members = pool[at:at + size]
            at += size
            for m in members[1:]:
                texts[m] = texts[members[0]]
        near = r.choice(np.setdiff1d(np.arange(n_doc), pool), max(2, n_doc // 500), replace=False)
        for d, s in zip(near, r.choice(n_doc, near.size)):
            toks = texts[s].split(" ")
            for j in r.choice(len(toks), max(1, len(toks) // 10), replace=False):
                toks[j] = vocab[r.choice(VOCAB_SIZE, p=p)]
            texts[d] = " ".join(toks)
        _write(out, "documents", {
            "doc_id": np.arange(n_doc),
            "text": texts,
            "lang": pa.array(np.array(LANGS)[r.integers(0, len(LANGS), n_doc)]),
            "source": pa.array([f"src{i}" for i in r.integers(0, 20, n_doc)]),
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        })

    def embeddings():
        r = rng(9)
        dim, k = 64, 10
        centers = r.normal(0, 0.016, (k, dim))
        labels = r.integers(0, k, n_emb)
        vecs = centers[labels] + r.normal(0, 0.125, (n_emb, dim))
        vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
        _write(out, "embeddings", {
            "vec_id": np.arange(n_emb),
            "embedding": pa.array(list(vecs.astype(np.float32)), type=pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32)),
        })

    makers = {
        "region": region, "nation": nation, "customer": customer,
        "supplier": supplier, "part": part, "orders": orders_lineitem,
        "lineitem": orders_lineitem, "events": events,
        "documents": documents, "embeddings": embeddings,
    }
    for fn in dict.fromkeys(makers[t] for t in tables):
        fn()


def link_copy(src: Path, dst: Path) -> Path:
    """A new directory holding hard links to ``src``'s files: the same
    bytes under a path no earlier op has read, at no copying cost."""
    dst.mkdir(parents=True)
    for name in sorted(os.listdir(src)):
        os.link(src / name, dst / name)
    return dst


# --- viewing logs ---------------------------------------------------------

CATEGORY_APPS = {
    "TVDuration": ("CHANNEL", "DSHD", "KPLUS", "KPlus"),
    "MovieDuration": ("VOD", "FIMS_RES", "BHD_RES", "VOD_RES", "FIMS", "BHD", "DANET"),
    "RelaxDuration": ("RELAX",),
    "ChildDuration": ("CHILD",),
    "SportDuration": ("SPORT",),
}
APP_CATEGORY = {a: c for c, apps in CATEGORY_APPS.items() for a in apps}
JUNK_APPS = ("UNKNOWN_APP", "kplus", "IPTV", "")
DAY_SECONDS = 86_400


def viewing_days(seed: int, n_days: int, rows_per_day: int, n_contracts: int):
    """``(files, expected)``: ``files`` is a list of ``(name, text, lines,
    valid_rows)`` per day, ``expected`` maps each contract the fidelity
    pipeline must output to its per-category second totals and its
    ``TotalDevices`` (log-row count, the reference's quirk)."""
    r = np.random.default_rng([seed, 100])
    apps = np.array(list(APP_CATEGORY) + list(JUNK_APPS))
    weights = np.array([3.0] * len(APP_CATEGORY) + [0.4] * len(JUNK_APPS))
    contracts = np.array([f"HN{c:06d}" for c in range(n_contracts)])
    macs = [[f"{c:06X}{m:06X}" for m in range(1 + c % 3)] for c in range(n_contracts)]
    child_free_day = 1 % n_days  # one day-file carries no CHILD rows at all
    rows_by_day: list[list[dict | str]] = [[] for _ in range(n_days)]
    for d in range(n_days):
        p = weights.copy()
        if d == child_free_day:
            p[list(apps).index("CHILD")] = 0.0
        p /= p.sum()
        cs = r.integers(0, n_contracts, rows_per_day)
        ap = apps[r.choice(len(apps), rows_per_day, p=p)]
        dur = r.integers(1, 20_000, rows_per_day)
        mi = r.integers(0, 3, rows_per_day)
        for c, a, t, m in zip(cs, ap, dur, mi):
            rows_by_day[d].append({
                "Contract": str(contracts[c]), "Mac": macs[c][m % len(macs[c])],
                "TotalDuration": int(t), "AppName": str(a),
            })
    edges = [
        {"Contract": "0", "Mac": "AA0000000001", "TotalDuration": 10, "AppName": "VOD"},
        {"Mac": "AA0000000002", "TotalDuration": 10, "AppName": "VOD"},
        {"Contract": "EDGEJUNK", "Mac": "AA0000000003", "TotalDuration": 10, "AppName": "UNKNOWN_APP"},
        {"Contract": "EDGEJUNK", "Mac": "AA0000000003", "TotalDuration": 7, "AppName": "KPLUS"},
        {"Contract": "EDGECASE", "Mac": "AA0000000004", "TotalDuration": 11, "AppName": "KPlus"},
        {"Contract": "EDGECASE", "Mac": "AA0000000004", "TotalDuration": 13, "AppName": "KPLUS"},
        {"Contract": "EDGESPORT", "Mac": "AA0000000005", "TotalDuration": 900, "AppName": "SPORT"},
        {"Contract": "EDGETIE", "Mac": "AA0000000006", "TotalDuration": 5000, "AppName": "CHILD"},
        {"Contract": "EDGETIE", "Mac": "AA0000000006", "TotalDuration": 5000, "AppName": "SPORT"},
        {"Contract": "EDGELOW", "Mac": "AA0000000007", "TotalDuration": 5 * DAY_SECONDS, "AppName": "VOD"},
        {"Contract": "EDGEMID", "Mac": "AA0000000008", "TotalDuration": 15 * DAY_SECONDS, "AppName": "RELAX"},
        {"Contract": "EDGEHIGH", "Mac": "AA0000000009", "TotalDuration": 25 * DAY_SECONDS, "AppName": "CHANNEL"},
    ]
    edges += [
        {"Contract": "EDGEALL", "Mac": "AA000000000A", "TotalDuration": 100 + i, "AppName": a}
        for i, a in enumerate(("CHANNEL", "VOD", "RELAX", "CHILD", "SPORT"))
    ]
    # one contract on three devices, five rows, two of them identical
    edges += [
        {"Contract": "EDGEMULTI", "Mac": mac, "TotalDuration": 60, "AppName": "VOD"}
        for mac in ("AA00000000B1", "AA00000000B2", "AA00000000B3", "AA00000000B1", "AA00000000B1")
    ]
    for d in range(n_days):
        rows_by_day[d].extend(edges)  # every edge contract spans every day
        rows_by_day[d].append("{not json: malformed line")

    expected: dict[str, dict[str, int]] = defaultdict(lambda: dict.fromkeys([*CATEGORY_APPS, "TotalDevices"], 0))
    files = []
    for d in range(n_days):
        lines, valid = [], 0
        for i, row in enumerate(rows_by_day[d]):
            if isinstance(row, str):
                lines.append(row)
                continue
            valid += 1
            env = {"_index": "history", "_type": str(row["AppName"]).lower(),
                   "_id": f"{seed:x}-{d}-{i}", "_score": 0, "_source": row}
            lines.append(json.dumps(env, separators=(",", ":")))
            c = row.get("Contract")
            if c is None:
                continue
            expected[c]["TotalDevices"] += 1
            cat = APP_CATEGORY.get(row["AppName"])
            if cat is not None and c != "0":
                expected[c][cat] += row["TotalDuration"]
                expected[c]["_kept"] = 1
        files.append((f"202401{d + 1:02d}.jsonl", "\n".join(lines) + "\n", len(lines), valid))
    kept = {c: {k: v for k, v in e.items() if k != "_kept"} for c, e in expected.items() if e.get("_kept")}
    return files, kept
