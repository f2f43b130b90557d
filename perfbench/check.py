"""Output checks computed apart from the program.

Every workload operation's outputs are checked against either the input
generator's own bookkeeping (``expected.json``) or DuckDB running the
operation's registered oracle twin over the same parquet inputs, compared
under the rules of ``tools/check_correctness.py``: same row count, same
column set and coarse dtype, and equal values after sorting rows by every
column (floats bit-exact, NULL equals NULL).

Run alone on a run directory kept with ``run.py --keep``::

    python3 perfbench/check.py RUN_DIR            # check, exit 1 on a defect
    python3 perfbench/check.py RUN_DIR --self-test

``--self-test`` first requires the untouched outputs to pass, then corrupts
one output at a time (deletes a fan-out store file, alters one report value,
drops one report job's record, alters one curation decision), requires the
checks to fail on each, and restores it.
"""

from __future__ import annotations

import csv
import hashlib
import io
import json
import math
import os
import shutil
import sys
from functools import reduce

import pandas as pd

from workload import REPORT_JOBS

#: Documented value sets (``api.Corpus.verdicts`` / ``final_selection``).
STATUSES = {"benchmark", "low_quality", "contaminated", "duplicate", "kept", "kept_trimmed"}
DECISIONS = {
    "benchmark", "low_quality", "contaminated", "duplicate",
    "semantic_duplicate", "over_budget", "selected",
}
BOM = b"\xef\xbb\xbf"
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# --- frame comparison (tools/check_correctness.py rules) ------------------------
def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


def _dtype_class(dt) -> str:
    s = str(dt).lower()
    for k, name in (("int", "int"), ("float", "float"), ("double", "float"), ("bool", "bool")):
        if k in s:
            return name
    return "obj"


def _same(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float) and math.isnan(a) and math.isnan(b):
        return True
    if pd.isna(a) and pd.isna(b):
        return True
    return a == b


def compare(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    if len(got) != len(want):
        return [f"rows {len(got)} != oracle {len(want)}"]
    if sorted(got.columns) != sorted(want.columns):
        return [f"columns {sorted(got.columns)} != oracle {sorted(want.columns)}"]
    g, w = _canon(got), _canon(want)
    out = []
    for c in g.columns:
        if _dtype_class(g[c].dtype) != _dtype_class(w[c].dtype):
            out.append(f"dtype[{c}] {g[c].dtype} != oracle {w[c].dtype}")
            continue
        bad = [i for i, (a, b) in enumerate(zip(g[c].tolist(), w[c].tolist())) if not _same(a, b)]
        if bad:
            i = bad[0]
            out.append(f"value[{c}] {len(bad)} diffs, first: {g[c][i]!r} != oracle {w[c][i]!r}")
    return out


class Oracle:
    """DuckDB over the run's parquet inputs plus the registered SQL twins."""

    def __init__(self, tables_dir: str) -> None:
        import duckdb

        if ROOT not in sys.path:
            sys.path.insert(0, ROOT)  # the oracle twins live in the program
        import __spark_entry__

        self.sql = __spark_entry__.oracle_sql()
        self.con = duckdb.connect()
        for f in sorted(os.listdir(tables_dir)):
            t = f.removesuffix(".parquet")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(tables_dir, f)}'")

    def twin(self, name: str) -> pd.DataFrame:
        return self.con.execute(self.sql[name]).df()

    def scalar(self, q: str):
        return self.con.execute(q).fetchone()[0]


# --- store_pipeline --------------------------------------------------------------
def _typed(strings: pd.DataFrame, like: pd.DataFrame) -> pd.DataFrame:
    """CSV cells (all strings; NULL written as '') typed like the oracle."""
    out = pd.DataFrame(index=strings.index)
    for c in strings.columns:
        kind = _dtype_class(like[c].dtype) if c in like else "obj"
        col = strings[c]
        if kind == "obj":
            out[c] = col
        elif kind == "bool":
            out[c] = col.map({"True": True, "False": False, "": None})
        elif kind == "int" and not col.eq("").any():
            out[c] = col.map(int).astype("int64")
        else:
            # float() round-trips repr exactly; pd.to_numeric can be 1 ulp off
            out[c] = col.map(lambda v: float(v) if v else math.nan).astype("float64")
    return out


def _oracle_strings(df: pd.DataFrame) -> pd.DataFrame:
    """The oracle with string NULLs as '' (a CSV cannot tell them apart)."""
    df = df.copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(lambda v: "" if v is None or (isinstance(v, float) and math.isnan(v)) else str(v))
    return df


def check_fanout(expected: dict, fan_dir: str) -> dict[str, list[str]]:
    probs: dict[str, list[str]] = {}
    files = expected["csv"]["files"]
    on_disk: dict[str, set[str]] = {}
    for store in sorted(os.listdir(fan_dir)) if os.path.isdir(fan_dir) else []:
        for f in os.listdir(os.path.join(fan_dir, store)):
            on_disk.setdefault(f, set()).add(store)
    for name, spec in files.items():
        p = probs.setdefault(f"ingest:{name}", [])
        stores = on_disk.get(name, set())
        if not spec["keyed"]:
            if stores:
                p.append(f"keyless file written for {len(stores)} stores")
            continue
        want = spec["per_store"]
        if stores != set(want):
            p.append(
                f"store files: {len(stores - set(want))} unexpected "
                f"(e.g. {sorted(stores - set(want))[:3]}), {len(set(want) - stores)} missing"
            )
        prefix = spec["prefix"].encode("utf-8")
        header = list(csv.reader(io.StringIO(spec["prefix"])))[-1]
        kpos = next(i for i, h in enumerate(header) if h.strip() == spec["key"])
        for store in sorted(stores & set(want)):
            with open(os.path.join(fan_dir, store, name), "rb") as f:
                data = f.read()
            if not data.startswith(prefix):
                p.append(f"{store}/{name}: meta+header prefix differs")
                continue
            rows = list(csv.reader(io.StringIO(data[len(prefix):].decode("utf-8"), newline="")))
            if len(rows) != want[store]:
                p.append(f"{store}/{name}: {len(rows)} rows, generator wrote {want[store]}")
            if any(len(r) <= kpos or r[kpos].strip(" ") != store for r in rows):
                p.append(f"{store}/{name}: a row's key is not {store!r}")
    stray = {s for names in on_disk.values() for s in names} - {
        s for spec in files.values() for s in spec["per_store"]
    }
    if stray:
        probs.setdefault("scan_csv_dir", []).append(f"store dirs for no expected key: {sorted(stray)[:5]}")
    return probs


def check_verify(run: dict, expected: dict) -> list[str]:
    rep = run.get("verify")
    if rep is None:
        return ["no verify_fan_out report"]
    p = [f"{k} = {rep.get(k)}" for k in (
        "missing_store_files", "extra_store_files", "key_value_violations", "sampled_violations",
    ) if rep.get(k) != 0]
    if rep.get("rows_checked") != expected["csv"]["keyed_rows"]:
        p.append(f"rows_checked {rep.get('rows_checked')} != generator {expected['csv']['keyed_rows']}")
    stores = {s for f in expected["csv"]["files"].values() for s in f["per_store"]}
    if rep.get("stores_checked") != len(stores):
        p.append(f"stores_checked {rep.get('stores_checked')} != generator {len(stores)}")
    return p


def check_report(oracle: Oracle, job: str, columns: list[str], rep_dir: str) -> list[str]:
    want = oracle.twin(job)
    p: list[str] = []
    stores = set(want["store_id"].astype(str))
    found = {s for s in os.listdir(rep_dir) if os.path.isfile(os.path.join(rep_dir, s, f"{job}.csv"))} if os.path.isdir(rep_dir) else set()
    if found != stores:
        p.append(f"store files: {len(found - stores)} unexpected, {len(stores - found)} missing")
    if set(columns) != set(want.columns):
        p.append(f"job columns {columns} != oracle {list(want.columns)}")
        return p
    parts = []
    for s in sorted(found):
        with open(os.path.join(rep_dir, s, f"{job}.csv"), "rb") as f:
            data = f.read()
        if not data.startswith(BOM):
            p.append(f"{s}/{job}.csv: no utf-8 BOM")
            continue
        rows = list(csv.reader(io.StringIO(data[len(BOM):].decode("utf-8"), newline="")))
        if not rows or rows[0] != columns:
            p.append(f"{s}/{job}.csv: header {rows[:1]} != {columns}")
            continue
        parts.append(pd.DataFrame(rows[1:], columns=columns, dtype=object))
    if p:
        return p
    got = pd.concat(parts, ignore_index=True) if parts else pd.DataFrame(columns=columns)
    try:
        got = _typed(got, want)
    except (ValueError, TypeError) as e:
        return [f"unparseable value: {e}"]
    obj = [c for c in want.columns if _dtype_class(want[c].dtype) == "obj"]
    return compare(got, _oracle_strings(want) if obj else want)


def check_store(run_dir: str) -> dict[str, list[str]]:
    run = _load(run_dir)
    expected = _expected(run_dir)
    probs = check_fanout(expected, run["dirs"]["fanout"])
    probs["verify_fan_out"] = check_verify(run, expected)
    oracle = Oracle(os.path.join(run_dir, "inputs", "tables"))
    for job, _ in REPORT_JOBS:
        meta = run["reports"].get(job)
        probs[f"report:{job}"] = ["no output"] if meta is None else check_report(
            oracle, job, meta["columns"], run["dirs"]["reports"]
        )
    return probs


# --- corpus_curation --------------------------------------------------------------
def manifest_hash(doc_id: int) -> int:
    """A selected id's term in the manifest's XOR set digest, as documented
    by ``api.Corpus.manifest``: the first 15 hex digits of
    md5('manifest|<id>')."""
    return int(hashlib.md5(f"manifest|{doc_id}".encode()).hexdigest()[:15], 16)


def check_corpus(run_dir: str) -> dict[str, list[str]]:
    out = os.path.join(run_dir, "out")
    oracle = Oracle(os.path.join(run_dir, "inputs", "corpus"))
    n_docs = oracle.scalar("SELECT COUNT(*) FROM documents")
    probs: dict[str, list[str]] = {}

    def frame(name: str) -> pd.DataFrame | None:
        path = os.path.join(out, f"corpus_{name}.parquet")
        return pd.read_parquet(path) if os.path.exists(path) else None

    def one_per_doc(df: pd.DataFrame, col: str, allowed: set[str]) -> list[str]:
        p = []
        if len(df) != n_docs or df["doc_id"].nunique() != n_docs:
            p.append(f"{len(df)} rows / {df['doc_id'].nunique()} docs, documents.parquet has {n_docs}")
        extra = set(df[col]) - allowed
        if extra:
            p.append(f"undocumented {col} values {sorted(extra)}")
        return p

    v = frame("verdicts")
    probs["verdicts"] = ["no output"] if v is None else (
        one_per_doc(v, "status", STATUSES) + compare(v, oracle.twin("curation_span_status"))
    )
    sd = frame("semantic_duplicates")
    probs["semantic_duplicates"] = ["no output"] if sd is None else compare(
        sd, oracle.twin("dedup_semdedup_prune").rename(columns={"vec_id": "doc_id"})
    )
    fs = frame("final_selection")
    fs_want = oracle.twin("corpus_final_selection")
    probs["final_selection"] = ["no output"] if fs is None else (
        one_per_doc(fs, "decision", DECISIONS) + compare(fs, fs_want)
    )
    m = frame("manifest")
    if m is None:
        probs["manifest"] = ["no output"]
    else:
        # checked against the oracle's selection, so it stands apart from
        # the program's final_selection output
        sel = fs_want.loc[fs_want["decision"] == "selected", "doc_id"].astype("int64").tolist()
        p = []
        if int(m["n_docs"].sum()) != len(sel):
            p.append(f"shard n_docs sum {int(m['n_docs'].sum())} != {len(sel)} selected")
        xor_sel = reduce(lambda a, b: a ^ b, map(manifest_hash, sel), 0)
        xor_man = reduce(lambda a, b: a ^ b, (int(x) for x in m["ids_xor"]), 0)
        if xor_sel != xor_man:
            p.append(f"XOR of shard ids_xor {xor_man} != XOR of selected ids {xor_sel}")
        probs["manifest"] = p
    return probs


#: Workload -> check: run dir -> problems per operation (empty: output right).
CHECKS = {"store_pipeline": check_store, "corpus_curation": check_corpus}


def _load(run_dir: str) -> dict:
    with open(os.path.join(run_dir, "out", "result.json"), encoding="utf-8") as f:
        return json.load(f)


def _expected(run_dir: str) -> dict:
    with open(os.path.join(run_dir, "inputs", "expected.json"), encoding="utf-8") as f:
        return json.load(f)


# --- self-test -----------------------------------------------------------------------
def _corruptions(run_dir: str, workload: str):
    """(description, path, mutate) for one corrupted output per kind."""
    run = _load(run_dir)
    if workload == "store_pipeline":
        fan = run["dirs"]["fanout"]
        store = sorted(os.listdir(fan))[0]
        victim = os.path.join(fan, store, sorted(os.listdir(os.path.join(fan, store)))[0])
        yield "delete one fan-out store file", victim, os.remove
        rep = run["dirs"]["reports"]
        job = next(iter(run["reports"]))
        store = sorted(s for s in os.listdir(rep) if os.path.exists(os.path.join(rep, s, f"{job}.csv")))[0]
        path = os.path.join(rep, store, f"{job}.csv")

        def alter_report(p: str) -> None:
            with open(p, "rb") as f:
                lines = f.read().split(b"\n")
            cells = lines[1].split(b",")
            cells[-1] = b"123456.5" if cells[-1].strip() != b"123456.5" else b"7.25"
            lines[1] = b",".join(cells) + (b"\r" if lines[1].endswith(b"\r") else b"")
            with open(p, "wb") as f:
                f.write(b"\n".join(lines))

        yield f"alter one value in {store}/{job}.csv", path, alter_report

        def drop_job(p: str) -> None:
            rec = _load(run_dir)
            del rec["reports"][job]
            with open(p, "w", encoding="utf-8") as f:
                json.dump(rec, f, ensure_ascii=False)

        yield f"drop the record of {job}, as when the job raised", os.path.join(run_dir, "out", "result.json"), drop_job
    else:
        path = os.path.join(run_dir, "out", "corpus_final_selection.parquet")

        def alter_decision(p: str) -> None:
            df = pd.read_parquet(p)
            i = df.index[df["decision"] != "selected"][0]
            df.loc[i, "decision"] = "selected"
            df.to_parquet(p, index=False)

        yield "alter one final_selection decision", path, alter_decision


def self_test(run_dir: str, workload: str) -> bool:
    clean = CHECKS[workload](run_dir)
    bad = {op: p for op, p in clean.items() if p}
    print(f"untouched outputs: {'pass' if not bad else 'FAIL ' + json.dumps(bad)[:500]}")
    ok = not bad
    for desc, path, mutate in list(_corruptions(run_dir, workload)):
        keep = path + ".selftest"
        shutil.copy2(path, keep)
        try:
            mutate(path)
            caught = {op: p for op, p in CHECKS[workload](run_dir).items() if p}
        finally:
            os.replace(keep, path)
        print(f"{desc}: {'caught by ' + ', '.join(sorted(caught)) if caught else 'NOT CAUGHT'}")
        ok &= bool(caught)
    return ok


def main(argv: list[str]) -> int:
    if not argv:
        print(__doc__)
        return 2
    run_dir = argv[0]
    workload = _load(run_dir)["workload"]
    if "--self-test" in argv[1:]:
        return 0 if self_test(run_dir, workload) else 1
    probs = CHECKS[workload](run_dir)
    for op, p in probs.items():
        print(f"{'ok  ' if not p else 'FAIL'} {op}" + ("" if not p else ": " + "; ".join(p)[:400]))
    return 1 if any(probs.values()) else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
