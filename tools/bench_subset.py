"""Time a named subset of registered queries (warm, noop sink, best-of-reps).

The optimization-round inner loop: full ``bench.py`` costs ~15 min at sf0.1,
so per-change A/B uses this — same session defaults, same noop-sink
methodology, REPS passes after one untimed warm pass, reporting best-of-reps
per query (the same statistic ``tools/bench_ab.py`` uses, robust to one-off
GC/compaction hiccups on a shared host).

Usage: python tools/bench_subset.py [--sf DIR] [--reps N] query [query ...]
Prints one JSON line: {"sf": ..., "reps": N, "queries": {name: best_sec}}.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()

    import __spark_entry__ as entrymod
    from ting_data_etl_spark.session import get_spark

    qs = entrymod.queries()
    missing = [q for q in args.queries if q not in qs]
    if missing:
        raise SystemExit(f"unknown queries: {missing}")

    spark = get_spark(app_name="ting-data-etl-bench-subset", long_lived=True)
    spark.sparkContext.setLogLevel("ERROR")

    def run(name: str) -> float:
        spark.sparkContext.setJobDescription(f"bench_subset: {name}")
        t0 = time.time()
        qs[name](spark, args.sf).write.format("noop").mode("overwrite").save()
        dt = time.time() - t0
        spark.sparkContext.setJobDescription(None)
        return dt

    # warm pass (absorbs one-time stage builds, codegen, JIT)
    for name in args.queries:
        run(name)
    best: dict[str, float] = {}
    for _ in range(args.reps):
        for name in args.queries:
            dt = run(name)
            if name not in best or dt < best[name]:
                best[name] = dt
    print(json.dumps({
        "sf": args.sf,
        "reps": args.reps,
        "queries": {k: round(v, 3) for k, v in best.items()},
    }))


if __name__ == "__main__":
    main()
