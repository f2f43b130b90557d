"""One workload in one fresh process: set up, run the timed body, dump outputs.

Started by ``perfbench/run.py`` with the checkout on ``PYTHONPATH``, a fresh
``TMPDIR`` and a fresh working directory. Writes ``result.json`` (timings,
operations, output metadata) and the stage outputs the checks read into
``--out``; with ``--trace 1`` also the span file.

The process is a closed loop: one driver thread, one call after another.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback
import warnings

import pandas as pd

from spans import NullTracer, Tracer, tree_cpu_s, vm_hwm_mb

#: The six reporting jobs: (registered name, Pipeline method).
REPORT_JOBS = (
    ("job_23_1_annual_kpi", "annual_referral_kpi"),
    ("job_23_2_monthly_yoy", "monthly_yoy_trend"),
    ("job_24_1_performance_kpi", "performance_kpi"),
    ("job_24_2_branch_month_conversion", "branch_month_conversion"),
    ("job_25_1_top5_branches", "top_branches"),
    ("job_25_2_bottom5_branches", "bottom_branches"),
)
CURATION_BUILD = ("verdicts", "semantic_duplicates", "final_selection", "manifest")
KEY_NAMES = ("storeId", "商店序號")


class Ops:
    """Operations attempted, each with its error (``None`` when it ran)."""

    def __init__(self) -> None:
        self.items: list[dict] = []

    def run(self, name: str, fn):
        rec = {"op": name, "error": None}
        self.items.append(rec)
        try:
            return fn()
        except Exception as e:  # one failed operation must not stop the run
            rec["error"] = f"{type(e).__name__}: {str(e).splitlines()[0][:300] if str(e) else ''}"
            traceback.print_exc(file=sys.stderr)
            return None


def du_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(root, f)).st_size
            except OSError:
                pass
    return total


def set_up(t_spawn: float, traced: bool):
    """Session up + one trivial Spark job + one Arrow-UDF call."""
    from pyspark.sql.functions import pandas_udf

    from ting_data_etl_spark.session import get_spark

    t0 = time.monotonic()
    spark = get_spark(app_name="perfbench")
    t1 = time.monotonic()
    spark.sparkContext.setLogLevel("ERROR")

    @pandas_udf("long")
    def plus_one(s: pd.Series) -> pd.Series:
        return s + 1

    n = spark.range(100).count()
    got = [r.v for r in spark.range(4).select(plus_one("id").alias("v")).collect()]
    if n != 100 or got != [1, 2, 3, 4]:
        raise RuntimeError(f"set-up jobs returned {n} and {got}")
    t2 = time.monotonic()
    timing = {
        "setup_s": t2 - t_spawn,
        "session.get_spark_s": t1 - t0,
        "session.warmup_s": t2 - t1,
    }
    return spark, Tracer(spark) if traced else NullTracer(), timing


# --- store_pipeline -----------------------------------------------------------
def store_pipeline(spark, tr, ops: Ops, inputs: str, tmp: str) -> tuple[dict, dict]:
    from pyspark.sql import functions as F

    from ting_data_etl_spark.api import Pipeline
    from ting_data_etl_spark.sinks.fanout import write_fanout_per_store_csv
    from ting_data_etl_spark.sinks.single_file import write_per_group_csv
    from ting_data_etl_spark.sources.csv import (
        filter_valid_keys,
        read_messy_csv,
        scan_csv_dir,
    )

    fan_dir = os.path.join(tmp, "out", "fanout")
    ver_dir = os.path.join(tmp, "out", "verify")
    rep_dir = os.path.join(tmp, "out", "reports")
    res: dict = {"reports": {}}
    phases: dict[str, float] = {}

    t0 = time.monotonic()
    with tr.span("phase.fanout"):
        with tr.span("sources.scan_csv_dir"):
            paths = ops.run("scan_csv_dir", lambda: scan_csv_dir(os.path.join(inputs, "csv"))) or []
        keyed = []
        for i, path in enumerate(paths):
            name = os.path.basename(path)

            def ingest(path=path, name=name, i=i):
                with tr.span("sources.read_messy_csv", file=name) as a:
                    for key in KEY_NAMES:
                        r = read_messy_csv(spark, path, key_col=key)
                        if not r.skipped:
                            break
                    a["skipped"] = r.skipped
                if r.skipped:
                    return
                with tr.span("sinks.fanout", file=name) as a:
                    receipts = write_fanout_per_store_csv(
                        r.df, fan_dir, key_col=key, file_name=name,
                        columns=r.header, meta_rows=r.meta_rows,
                        raw_header=r.raw_header,
                    ).collect()
                    a["files"] = len(receipts)
                k = F.trim(F.col(key))
                keyed.append(
                    filter_valid_keys(r.df, key).select(
                        (F.monotonically_increasing_id() + F.lit(i << 40)).alias("row_id"),
                        k.alias("store_id"),
                        k.alias("store_key_copy"),
                        F.lit(name).alias("src"),
                    )
                )

            ops.run(f"ingest:{name}", ingest)
    phases["fanout_s"] = time.monotonic() - t0

    p = Pipeline(spark, os.path.join(inputs, "tables"))
    t1 = time.monotonic()
    with tr.span("phase.verify"):

        def verify():
            src = keyed[0]
            for d in keyed[1:]:
                src = src.unionByName(d)
            with tr.span("verify.verify_fan_out") as a:
                rows = p.verify_fan_out(src, ver_dir).collect()
                a["report"] = {r.check_name: r.n for r in rows}
            res["verify"] = {r.check_name: r.n for r in rows}

        ops.run("verify_fan_out", verify)
    phases["verify_s"] = time.monotonic() - t1

    t2 = time.monotonic()
    with tr.span("phase.report"):
        for job, method in REPORT_JOBS:

            def report(job=job, method=method):
                with tr.span("plans.build", job=job):
                    df = getattr(p, method)()
                cols = list(df.columns)
                sort_by = [c for c in ("month",) if c in cols]
                with tr.span("sinks.report", job=job) as a:
                    receipts = write_per_group_csv(
                        df, rep_dir, group_col="store_id", file_name=f"{job}.csv",
                        columns=cols, sort_by=sort_by,
                    ).collect()
                    a["files"] = len(receipts)
                res["reports"][job] = {"columns": cols, "files": len(receipts)}

            ops.run(f"report:{job}", report)
    phases["report_s"] = time.monotonic() - t2
    res["phases"] = phases
    res["dirs"] = {"fanout": fan_dir, "verify": ver_dir, "reports": rep_dir}
    return res, {}


# --- corpus_curation ------------------------------------------------------------
def corpus_curation(spark, tr, ops: Ops, inputs: str, tmp: str) -> tuple[dict, dict]:
    from ting_data_etl_spark.api import Corpus

    c = Corpus(spark, os.path.join(inputs, "corpus"))
    res: dict = {"stages": {}}
    frames = {}

    def stage(name: str):
        def go():
            with tr.span(f"corpus.{name}") as a:
                pdf = getattr(c, name)().toPandas()
                a["rows"] = len(pdf)
            frames[name] = pdf
            res["stages"][name] = len(pdf)

        return go

    for name in CURATION_BUILD:
        ops.run(name, stage(name))
    return res, {f"corpus_{name}": pdf for name, pdf in frames.items()}


WORKLOADS = {"store_pipeline": store_pipeline, "corpus_curation": corpus_curation}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--t-spawn", type=float, required=True)
    a = ap.parse_args()
    warnings.simplefilter("ignore")  # skipped-file warnings are expected
    tmp = os.environ["TMPDIR"]

    spark, tr, timing = set_up(a.t_spawn, bool(a.trace))
    ops = Ops()
    with tr.span("workload", workload=a.workload):
        cpu0, t0 = tree_cpu_s(os.getpid()), time.monotonic()
        res, frames = WORKLOADS[a.workload](spark, tr, ops, a.inputs, tmp)
        res["wall_s"] = time.monotonic() - t0
        res["cpu_s"] = tree_cpu_s(os.getpid()) - cpu0
    for name, pdf in frames.items():  # outputs the checks read, written untimed
        pdf.to_parquet(os.path.join(a.out, f"{name}.parquet"), index=False)
    jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    res.update(timing)
    res["workload"] = a.workload
    res["ops"] = ops.items
    res["staged_mb"] = du_bytes(tmp) / 1e6
    res["peak_rss_mb"] = vm_hwm_mb("self") + vm_hwm_mb(jvm_pid)
    res["driver_heap"] = spark.conf.get("spark.driver.memory")
    if a.trace:
        tr.dump(os.path.join(a.out, "spans.json"), {"workload": a.workload})
    with open(os.path.join(a.out, "result.json"), "w", encoding="utf-8") as f:
        json.dump(res, f, ensure_ascii=False)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
