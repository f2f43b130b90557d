"""High-cardinality fan-out sink stress (VERDICT r06 next-round #5).

S4/S5 are oracle-tested at ~150 store keys; the 100 TB contract is millions.
The reference's own answer to unbounded key cardinality is open/append/close
per ROW — zero standing handles (`fan_out_by_storeid.py:42-48`,
`README.md:61`). Spark's answer is the planned write: sort by partition key
before writing so each task holds ONE open writer at a time
(`spark.sql.optimizer.plannedWrite.enabled`, with
`spark.sql.maxConcurrentOutputFileWriters` as the concurrent-writer cap when
the sort is skipped). This runner pushes ~100k distinct keys through both
sinks and MEASURES the safety property instead of citing it:

* peak open file descriptors across the WHOLE process tree (driver python,
  the local-mode JVM, and the Arrow python workers), polled from
  ``/proc/<pid>/fd`` during the write — the writers' handles live in the
  JVM (and, for ``applyInPandas`` sinks, the python workers), NOT in the
  driver python process, so a ``/proc/self/fd`` poll would measure nothing;
* wall time, files produced, receipts verified;
* ``write_fanout`` both WITH the key-clustering repartition (our default)
  and WITHOUT it, to show what the clustering is protecting against.

The first attempt at this measurement IS the finding: the original
``write_fanout`` had only ``sortWithinPartitions`` (bounding open writers,
not file count), and at 100k keys the randomly-distributed input made all
32 tasks emit a file per key — a 3.2M-file write that had spent 15+ minutes
creating 578k task-attempt dirs before being killed. The fixed sink
repartitions on the key first (one shuffle, O(keys) files); the unclustered
leg is kept here at REDUCED cardinality so the blowup is measured, not
narrated.

Usage: python tools/fanout_stress.py [--keys 100000] [--rows 2000000]
Writes FANOUT_STRESS_r07.json at the repo root.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

OUT_ROOT = "/tmp/fanout_stress"


def _descendant_pids(root: int) -> list[int]:
    """root plus all its descendants, from one scan of /proc ppids."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            children.setdefault(int(fields[1]), []).append(int(entry))
        except (OSError, IndexError, ValueError):
            continue
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _tree_fd_counts() -> list[int]:
    counts = []
    for pid in _descendant_pids(os.getpid()):
        try:
            counts.append(len(os.listdir(f"/proc/{pid}/fd")))
        except OSError:  # process exited between scan and read
            continue
    return counts


class FdPoller:
    """Samples open-fd counts over the process TREE at ~10 Hz.

    The driver python process holds no writer handles in local mode — the
    CSV/parquet output streams are opened by the JVM child, and the
    ``applyInPandas`` sink writes from python worker grandchildren — so
    both the per-process max and the tree total are sampled.
    """

    def __init__(self) -> None:
        counts = _tree_fd_counts()
        self.baseline_total = sum(counts)
        self.baseline_max_proc = max(counts, default=0)
        self.peak_total = 0
        self.peak_max_proc = 0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            try:
                counts = _tree_fd_counts()
                self.peak_total = max(self.peak_total, sum(counts))
                self.peak_max_proc = max(self.peak_max_proc, max(counts, default=0))
            except OSError:
                pass
            time.sleep(0.1)

    def __enter__(self) -> "FdPoller":
        self._t.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._t.join(timeout=2)


def gen_rows(spark, n_rows: int, n_keys: int):
    from pyspark.sql import functions as F

    return spark.range(n_rows).select(
        F.concat(
            F.lit("store"), F.pmod(F.xxhash64("id", F.lit(7)), F.lit(n_keys))
        ).alias("store_id"),
        F.col("id").alias("row_id"),
        (F.pmod(F.xxhash64("id", F.lit(11)), F.lit(100000)) / 100.0).alias("amt"),
    )


def count_files(root: str, pattern: str) -> int:
    return sum(1 for _ in glob.iglob(os.path.join(root, pattern)))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--keys", type=int, default=100_000)
    ap.add_argument("--rows", type=int, default=2_000_000)
    args = ap.parse_args()

    from ting_data_etl_spark.session import get_spark
    from ting_data_etl_spark.sinks.fanout import write_fanout
    from ting_data_etl_spark.sinks.single_file import write_per_group_csv

    spark = get_spark(app_name="fanout-stress", long_lived=True)
    spark.sparkContext.setLogLevel("ERROR")
    shutil.rmtree(OUT_ROOT, ignore_errors=True)

    df = gen_rows(spark, args.rows, args.keys)
    report: dict = {
        "n_rows": args.rows,
        "n_keys_requested": args.keys,
        "n_keys_actual": df.select("store_id").distinct().count(),
    }

    # --- S4 partitioned fan-out, key-clustered (our default) ---------------
    out1 = os.path.join(OUT_ROOT, "fanout_clustered")
    with FdPoller() as p:
        t0 = time.time()
        write_fanout(df, out1, partition_cols=("store_id",), fmt="csv")
        sec = round(time.time() - t0, 1)
    report["write_fanout_clustered"] = {
        "sec": sec,
        "dirs": count_files(out1, "store_id=*"),
        "files": count_files(out1, "store_id=*/part-*"),
        "fd_baseline_total": p.baseline_total,
        "fd_peak_total": p.peak_total,
        "fd_peak_max_proc": p.peak_max_proc,
    }
    print("write_fanout (clustered):", report["write_fanout_clustered"], flush=True)

    # --- the hazard leg: NO clustering, at reduced cardinality -------------
    # files ~ keys x tasks instead of ~ keys; run small enough to finish and
    # report the measured blowup factor (at --keys full scale this shape had
    # written 578k task-attempt dirs in 15 min before being killed)
    small_keys = max(200, args.keys // 50)
    small_rows = max(20_000, args.rows // 10)
    small = gen_rows(spark, small_rows, small_keys)
    out2 = os.path.join(OUT_ROOT, "fanout_unclustered")
    with FdPoller() as p:
        t0 = time.time()
        write_fanout(
            small, out2, partition_cols=("store_id",), fmt="csv",
            cluster_by_key=False,
        )
        sec = round(time.time() - t0, 1)
    n_keys_small = small.select("store_id").distinct().count()
    files_unclustered = count_files(out2, "store_id=*/part-*")
    report["write_fanout_unclustered_reduced"] = {
        "n_rows": small_rows,
        "n_keys": n_keys_small,
        "sec": sec,
        "dirs": count_files(out2, "store_id=*"),
        "files": files_unclustered,
        "files_per_key": round(files_unclustered / n_keys_small, 1),
        "fd_baseline_total": p.baseline_total,
        "fd_peak_total": p.peak_total,
        "fd_peak_max_proc": p.peak_max_proc,
    }
    print(
        "write_fanout (unclustered, reduced):",
        report["write_fanout_unclustered_reduced"],
        flush=True,
    )

    # --- S5 one-file-per-group sink at 100k groups -------------------------
    out3 = os.path.join(OUT_ROOT, "per_group")
    with FdPoller() as p:
        t0 = time.time()
        receipts = write_per_group_csv(
            df,
            out3,
            group_col="store_id",
            file_name="data.csv",
            columns=["store_id", "row_id", "amt"],
            sort_by=["row_id"],
        )
        agg = receipts.groupBy().sum("rows_written").first()[0]
        sec = round(time.time() - t0, 1)
    report["write_per_group_csv"] = {
        "sec": sec,
        "rows_receipted": int(agg),
        "files": count_files(out3, "*/data.csv"),
        "fd_baseline_total": p.baseline_total,
        "fd_peak_total": p.peak_total,
        "fd_peak_max_proc": p.peak_max_proc,
    }
    print("write_per_group_csv:", report["write_per_group_csv"], flush=True)

    ok = (
        report["write_per_group_csv"]["rows_receipted"] == args.rows
        and report["write_per_group_csv"]["files"]
        == report["n_keys_actual"]
    )
    report["receipts_consistent"] = ok

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "FANOUT_STRESS_r07.json",
    )
    with open(path, "w") as f:
        json.dump(report, f, indent=1)
    print(f"wrote {path} (consistent={ok})", flush=True)


if __name__ == "__main__":
    main()
