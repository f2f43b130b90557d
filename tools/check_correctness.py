"""Local stand-in for the driver's t2 correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at the given sf dir, then compares row count, schema (column names +
coarse dtype), and order-insensitive values (rows sorted by all columns,
NaN-safe exact comparison; doubles must match bit-for-bit — the engine is
designed for that, see cleaning.sum_exact).

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = set(sys.argv[2:])

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


def dtype_class(dt) -> str:
    s = str(dt)
    if "int" in s.lower():
        return "int"
    if "float" in s.lower() or "double" in s.lower():
        return "float"
    if "bool" in s.lower():
        return "bool"
    return "obj"


def values_equal(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b
    if pd.isna(a) and pd.isna(b):
        return True
    try:
        if pd.isna(a) != pd.isna(b):
            return False
    except (TypeError, ValueError):
        pass
    return a == b


def main() -> int:
    import __spark_entry__ as entrymod
    from ting_data_etl_spark.session import get_spark

    spark = get_spark(shuffle_partitions=8, long_lived=True)
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    unknown = ONLY - set(qs)
    if unknown:
        # a typo'd name must not produce a silent 0-query green exit
        print(f"ERROR: unknown queries {sorted(unknown)}; "
              f"did you mean one of {sorted(qs)[:5]}...?")
        return 2
    failures, passed, rows_only = [], 0, 0
    for name, fn in qs.items():
        if ONLY and name not in ONLY:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR).toPandas()
        except Exception as e:
            failures.append((name, f"SPARK ERROR: {type(e).__name__}: {e}"))
            print(f"FAIL {name}: spark error {e}")
            continue
        if name not in oracles:
            rows_only += 1
            print(f"rows-only {name}: {len(sdf)} rows ({time.time()-t0:.1f}s)")
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as e:
            failures.append((name, f"ORACLE ERROR: {type(e).__name__}: {e}"))
            print(f"FAIL {name}: oracle error {e}")
            continue
        problems = []
        if len(sdf) != len(odf):
            problems.append(f"rowcount spark={len(sdf)} oracle={len(odf)}")
        if sorted(sdf.columns) != sorted(odf.columns):
            problems.append(f"columns spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}")
        else:
            s_c, o_c = canon(sdf), canon(odf)
            for c in s_c.columns:
                if dtype_class(s_c[c].dtype) != dtype_class(o_c[c].dtype):
                    problems.append(
                        f"dtype[{c}] spark={s_c[c].dtype} oracle={o_c[c].dtype}"
                    )
            if not problems and len(s_c) == len(o_c):
                for c in s_c.columns:
                    sv, ov = s_c[c].tolist(), o_c[c].tolist()
                    bad = [
                        (i, a, b)
                        for i, (a, b) in enumerate(zip(sv, ov))
                        if not values_equal(a, b)
                    ]
                    if bad:
                        i, a, b = bad[0]
                        problems.append(
                            f"value[{c}] {len(bad)} diffs, first@{i}: spark={a!r} oracle={b!r}"
                        )
        if problems:
            failures.append((name, "; ".join(problems)))
            print(f"FAIL {name}: {'; '.join(problems)[:400]}")
        else:
            passed += 1
            print(f"PASS {name} ({len(sdf)} rows, {time.time()-t0:.1f}s)")

    print(f"\n== {passed} passed, {len(failures)} failed, {rows_only} rows-only ==")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
