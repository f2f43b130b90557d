"""Seeded input generator for the benchmark (no Spark, no program code).

Three input sets, each a pure function of ``--seed``:

* ``csv/`` — a messy multi-schema CSV export in the shape of FIXTURES.md §B:
  0-3 meta rows before the header, the key header named ``storeId`` or
  ``商店序號`` (sometimes space-padded), 2-9 ``col_####`` payload columns,
  padded and blank keys, ragged rows, ``12,345`` / ``45%`` / null-sentinel
  cells, and files with no key column at all. ``expected.json`` records,
  from the generator's own bookkeeping, the rows each (store, keyed file)
  must receive and the exact meta-plus-header prefix bytes of each file.
* ``tables/`` — the TPC-H-ish parquet tables the reporting jobs read
  (``orders``, ``lineitem``, ``customer``, ``supplier``);
* ``corpus/`` — the ``documents`` / ``embeddings`` tables the curation
  stages read.

Run alone: ``python3 perfbench/gen.py --seed 1 --out inputs``.
"""

from __future__ import annotations

import argparse
import csv
import io
import json
import os
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

KEY_NAMES = ("storeId", "商店序號")
NULL_SENTINELS = ("", "nan", "NULL", "None")
META_ROWS = (
    ["Established At Year", "2025", "2024"],
    ["Report", "store referral export"],
    ["Generated", "2025-01-31", "", "UTC"],
    ["Filter", "all branches"],
)


# --- messy CSV export ---------------------------------------------------------
def _store_ids(rng: np.random.Generator, n: int) -> list[str]:
    """Store ids with the zero-padding hazards of the reference exports."""
    ids: set[str] = set()
    while len(ids) < n:
        k = int(rng.integers(0, 3))
        v = int(rng.integers(1, 99_999))
        ids.add([f"store_{v:05d}", f"{v:04d}", str(v)][k])
    return sorted(ids)


def _cell(rng: np.random.Generator, kind: str) -> str:
    r = rng.random()
    if r < 0.04:
        return NULL_SENTINELS[int(rng.integers(0, len(NULL_SENTINELS)))]
    if kind == "str":
        return f"val_{int(rng.integers(0, 100_000)):05d}"
    if kind == "int":
        v = int(rng.integers(-100_000, 100_001))
        return f"{v:,}" if r < 0.15 else str(v)  # thousands separators
    if kind == "float":
        return f"{rng.uniform(-1000, 1000):.4f}"
    if kind == "pct":
        return f"{int(rng.integers(0, 101))}%"
    if kind == "date":
        d = datetime(2018, 1, 1) + timedelta(days=int(rng.integers(0, 2556)))
        return d.strftime("%Y-%m-%d")
    return "true" if r < 0.5 else "false"


def _row_bytes(rows: list[list[str]]) -> bytes:
    buf = io.StringIO()
    w = csv.writer(buf)  # default dialect: minimal quoting, \r\n
    for r in rows:
        w.writerow(r)
    return buf.getvalue().encode("utf-8")


def gen_csv_export(
    rng: np.random.Generator,
    out_dir: str,
    n_files: int,
    n_keyless: int,
    n_stores: int,
    rows_lo: int,
    rows_hi: int,
) -> dict:
    """Write the messy export and return the expected fan-out tallies."""
    os.makedirs(out_dir, exist_ok=True)
    stores = _store_ids(rng, n_stores)
    kinds = ("str", "int", "float", "pct", "date", "bool")
    files: dict[str, dict] = {}
    for i in range(n_files):
        # one upper-case extension exercises the case-insensitive scan
        name = f"export_{i:02d}" + (".CSV" if i == 1 else ".csv")
        # shape is a function of the file index (the same work for every
        # seed); cell values, key placement and meta rows come from the seed
        n_cols = 2 + (3 * i) % 8
        keyed = i < n_files - n_keyless
        col_ids = rng.choice(9000, size=n_cols, replace=False) + 1000
        cols = [f"col_{c}" for c in col_ids]
        col_kinds = [kinds[(i + j) % len(kinds)] for j in range(n_cols)]
        key_name = KEY_NAMES[int(rng.integers(0, 2))]
        kpos = int(rng.integers(0, n_cols + 1))
        header = list(cols)
        if keyed:
            padded = rng.random() < 0.3
            header.insert(kpos, f" {key_name} " if padded else key_name)
        meta = [
            list(META_ROWS[j])
            for j in sorted(rng.choice(len(META_ROWS), size=int(rng.integers(0, 4)), replace=False))
        ]
        # each file covers a random subset of the stores, skewed to a few
        subset = rng.choice(stores, size=n_stores // (1 + i % 2), replace=False)
        weights = 1.0 / np.arange(1, len(subset) + 1) ** 0.6
        weights /= weights.sum()
        n_rows = rows_lo + (rows_hi - rows_lo) * i // max(1, n_files - n_keyless - 1)
        if not keyed:
            n_rows = rows_lo  # only its header is ever scanned
        picks = rng.choice(len(subset), size=n_rows, p=weights)
        tally: dict[str, int] = {}
        data: list[list[str]] = []
        width = len(header)
        for p in picks:
            row = [_cell(rng, k) for k in col_kinds]
            if not keyed:
                data.append(row)
                continue
            store = str(subset[p])
            r = rng.random()
            if r < 0.03:
                key = " " * int(rng.integers(0, 3))  # blank key: dropped
            elif r < 0.06:
                key = " " * int(rng.integers(1, 3)) + store + " " * int(rng.integers(0, 3))
            else:
                key = store
            row.insert(kpos, key)
            if rng.random() < 0.02:
                # ragged row: cut either before the key (no key at all) or
                # after it (key present, trailing cells missing)
                cut = int(rng.integers(1, width)) if width > 1 else 1
                row = row[:cut]
            data.append(row)
            if kpos < len(row) and row[kpos].strip(" "):
                k = row[kpos].strip(" ")
                tally[k] = tally.get(k, 0) + 1
        prefix = _row_bytes(meta + [header])
        with open(os.path.join(out_dir, name), "wb") as f:
            f.write(prefix)
            f.write(_row_bytes(data))
        files[name] = {
            "keyed": keyed,
            "key": key_name if keyed else None,
            "rows": n_rows,
            "prefix": prefix.decode("utf-8"),
            "per_store": tally,
        }
    total = sum(sum(f["per_store"].values()) for f in files.values())
    return {"files": files, "keyed_rows": total, "stores": len(stores)}


# --- reporting tables -----------------------------------------------------------
def _ts(days: np.ndarray, base: datetime) -> pa.Array:
    us = (np.datetime64(base, "us") + days.astype("timedelta64[D]")).astype("datetime64[us]")
    return pa.array(us, type=pa.timestamp("us"))


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def gen_tables(rng: np.random.Generator, out_dir: str, n_customers: int, n_orders: int) -> None:
    """The reporting jobs' inputs (FIXTURES.md §C: store = customer)."""
    os.makedirs(out_dir, exist_ok=True)
    n_nations, n_supp = 25, 40
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_customers), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_customers)],
        "c_nationkey": pa.array(rng.integers(0, n_nations, n_customers), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_customers), 2),
        "c_mktsegment": segs[rng.integers(0, 5, n_customers)],
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, n_nations, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2),
    })
    # orders span 1995-2001 so the jobs' 1999 / 2000 windows both hold data
    odays = rng.integers(0, 2400, n_orders)
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_customers, n_orders), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)],
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n_orders), 2),
        "o_orderdate": _ts(odays, datetime(1995, 1, 1)),
        "o_orderpriority": prios[rng.integers(0, 5, n_orders)],
    })
    lines = rng.integers(1, 8, n_orders)
    lok = np.repeat(np.arange(n_orders), lines)
    n_li = len(lok)
    qty = rng.integers(1, 51, n_li).astype(float)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(lok, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, 400, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(np.concatenate([np.arange(1, k + 1) for k in lines]), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(odays[lok] + rng.integers(1, 122, n_li), datetime(1995, 1, 1)),
    })


def gen_corpus(rng: np.random.Generator, out_dir: str, n_docs: int, n_vecs: int) -> None:
    """Word-salad documents with planted near-duplicate clusters, short
    (low-quality) documents, and 64-dim label-clustered embeddings with
    planted near-duplicate vectors."""
    os.makedirs(out_dir, exist_ok=True)
    vocab = np.array([
        "scan", "column", "window", "order", "sort", "part", "agg", "value",
        "line", "key", "join", "merge", "group", "query", "a", "vector",
        "hash", "slow", "stream", "filter", "fast", "the", "batch", "spark",
        "table", "small", "data", "big", "customer", "row", "shard", "index",
        "delta", "bloom", "token", "cache", "spill", "skew", "quota", "lease",
    ])
    texts: list[str] = []
    template: list[str] = []
    for i in range(n_docs):
        if i % 24 in (1, 2) and template:
            # cluster member: the cluster head's words, ~1/20 mutated
            words = list(template)
            for j in rng.choice(len(words), size=max(1, len(words) // 20), replace=False):
                words[j] = str(vocab[int(rng.integers(0, len(vocab)))])
        else:
            n_words = int(rng.integers(10, 100))  # < 20 words fails the gate
            words = [str(w) for w in vocab[rng.integers(0, len(vocab), n_words)]]
            if i % 24 == 0:
                template = words
        if rng.random() < 0.03:
            words.append("dup")
        texts.append(" ".join(words))
    langs = np.array(["en", "fr", "es", "zh", "de"])
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": langs[rng.integers(0, 5, n_docs)],
        "source": [f"src{int(s)}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    dim, n_labels = 64, 10
    centroids = rng.normal(0, 1, (n_labels, dim))
    labels = rng.integers(0, n_labels, n_vecs)
    vecs = centroids[labels] + rng.normal(0, 2.5, (n_vecs, dim))
    dup = np.arange(n_vecs) % 50 == 1  # near-copies of the previous vector
    vecs[dup] = vecs[np.flatnonzero(dup) - 1] + rng.normal(0, 2e-3, (int(dup.sum()), dim))
    labels[dup] = labels[np.flatnonzero(dup) - 1]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


#: Input sizes. Fixed, so every seed builds the same amount of work; the
#: seed only changes values.
SIZES = {
    "csv": {"n_files": 4, "n_keyless": 1, "n_stores": 40, "rows_lo": 4000, "rows_hi": 16000},
    "tables": {"n_customers": 60, "n_orders": 1500},
    "corpus": {"n_docs": 500, "n_vecs": 500},
}
PARTS = {"csv": gen_csv_export, "tables": gen_tables, "corpus": gen_corpus}


def generate(seed: int, out: str, parts: tuple[str, ...]) -> dict:
    """Write the *parts* of the inputs for *seed* under *out*; return the
    generator's bookkeeping (also written to ``expected.json``)."""
    expected: dict = {"seed": seed, "sizes": {p: SIZES[p] for p in parts}}
    for p in parts:
        # one stream per part: a part's bytes do not depend on the others
        rng = np.random.default_rng([seed, list(PARTS).index(p)])
        book = PARTS[p](rng, os.path.join(out, p), **SIZES[p])
        if book is not None:
            expected[p] = book
    with open(os.path.join(out, "expected.json"), "w", encoding="utf-8") as f:
        json.dump(expected, f, ensure_ascii=False)
    return expected


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    c = generate(a.seed, a.out, tuple(PARTS))["csv"]
    print(json.dumps({"files": len(c["files"]), "keyed_rows": c["keyed_rows"], "stores": c["stores"]}))


if __name__ == "__main__":
    main()
