"""Metric names, units, and the per-layer metrics derived from a span file.

Layers are named by the program module the benchmark calls into; each
per-layer metric sums the status-store, ``/proc`` and reuse-counter deltas
of the spans around that module's calls (see ``spans.py``). A layer a
workload never enters reads 0 on that workload.
"""

from __future__ import annotations

from spans import self_time

#: End-to-end metrics (untraced runs): name -> unit.
END_TO_END = {
    "setup_s": "s",
    "cpu_s": "s",
    "staged_mb": "MB",
}

CORPUS_STAGES = ("verdicts", "semantic_duplicates", "final_selection", "manifest")

#: Per-layer metrics (traced runs): name -> unit, in BENCHMARK.json order.
UNITS = {
    "session.get_spark_s": "s",
    "session.warmup_s": "s",
    "workload.wall_s": "s",
    "phase.fanout_s": "s",
    "phase.verify_s": "s",
    "phase.report_s": "s",
    "sources.read_s": "s",
    "sources.files_read": "count",
    "sources.files_skipped": "count",
    "sources.jobs": "count",
    "sinks.fanout_s": "s",
    "sinks.fanout_files": "count",
    "sinks.fanout_tasks": "count",
    "sinks.fanout_busy_cores": "cores",
    "verify.s": "s",
    "verify.jobs": "count",
    "verify.rows_checked": "count",
    "plans.build_s": "s",
    "plans.jobs": "count",
    "sinks.report_write_s": "s",
    "sinks.report_files": "count",
    "sinks.report_tasks": "count",
    "sinks.report_busy_cores": "cores",
    **{f"corpus.{st}_{k}": u for st in CORPUS_STAGES for k, u in (("s", "s"), ("jobs", "count"))},
    "reuse.memo_builds": "count",
    "reuse.memo_hits": "count",
    "reuse.stage_builds": "count",
    "reuse.memo_hit_ratio": "ratio",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.exec_run_s": "s",
    "spark.exec_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.busy_cores": "cores",
    "python.cpu_s": "s",
    "memory.peak_rss_mb": "MB",
    "harness.self_s": "s",
}


def per_layer(rnd: dict) -> dict[str, float]:
    """Per-layer metrics of one traced round (its spans plus set-up times)."""
    spans = rnd["spans"]

    def named(name: str) -> list[dict]:
        return [s for s in spans if s["name"] == name]

    def wall(ss: list[dict]) -> float:
        return sum(s["end"] - s["start"] for s in ss)

    def delta(ss: list[dict], k: str) -> float:
        return sum(s["delta"][k] for s in ss)

    def attr(ss: list[dict], k: str) -> int:
        return sum(int(s["attrs"].get(k, 0)) for s in ss)

    def busy(ss: list[dict]) -> float:
        w = wall(ss)
        return delta(ss, "exec_run_ms") / 1000.0 / w if w else 0.0

    m: dict[str, float] = {
        "session.get_spark_s": rnd["session.get_spark_s"],
        "session.warmup_s": rnd["session.warmup_s"],
    }
    m["workload.wall_s"] = rnd["wall_s"]
    for ph in ("fanout", "verify", "report"):
        m[f"phase.{ph}_s"] = wall(named(f"phase.{ph}"))

    reads = named("sources.read_messy_csv")
    src = reads + named("sources.scan_csv_dir")
    m["sources.read_s"] = wall(src)
    m["sources.files_read"] = sum(1 for s in reads if not s["attrs"].get("skipped"))
    m["sources.files_skipped"] = sum(1 for s in reads if s["attrs"].get("skipped"))
    m["sources.jobs"] = delta(src, "jobs")

    fo = named("sinks.fanout")
    m["sinks.fanout_s"] = wall(fo)
    m["sinks.fanout_files"] = attr(fo, "files")
    m["sinks.fanout_tasks"] = delta(fo, "tasks")
    m["sinks.fanout_busy_cores"] = busy(fo)

    ver = named("verify.verify_fan_out")
    m["verify.s"] = wall(ver)
    m["verify.jobs"] = delta(ver, "jobs")
    m["verify.rows_checked"] = sum(s["attrs"].get("report", {}).get("rows_checked", 0) for s in ver)

    pb = named("plans.build")
    m["plans.build_s"] = wall(pb)
    m["plans.jobs"] = delta(pb, "jobs")

    rp = named("sinks.report")
    m["sinks.report_write_s"] = wall(rp)
    m["sinks.report_files"] = attr(rp, "files")
    m["sinks.report_tasks"] = delta(rp, "tasks")
    m["sinks.report_busy_cores"] = busy(rp)

    for st in CORPUS_STAGES:
        cs = named(f"corpus.{st}")
        m[f"corpus.{st}_s"] = wall(cs)
        m[f"corpus.{st}_jobs"] = delta(cs, "jobs")

    top = named("workload")
    builds, hits = delta(top, "memo_build"), delta(top, "memo_hit")
    m["reuse.memo_builds"] = builds
    m["reuse.memo_hits"] = hits
    m["reuse.stage_builds"] = delta(top, "stage_build")
    m["reuse.memo_hit_ratio"] = hits / (hits + builds) if hits + builds else 0.0

    m["spark.jobs"] = delta(top, "jobs")
    m["spark.stages"] = delta(top, "stages")
    m["spark.tasks"] = delta(top, "tasks")
    m["spark.exec_run_s"] = delta(top, "exec_run_ms") / 1e3
    m["spark.exec_cpu_s"] = delta(top, "exec_cpu_ns") / 1e9
    m["spark.gc_s"] = delta(top, "gc_ms") / 1e3
    m["spark.shuffle_write_mb"] = delta(top, "shuffle_write_b") / 1e6
    m["spark.spill_mb"] = delta(top, "spill_b") / 1e6
    m["spark.busy_cores"] = busy(top)
    m["python.cpu_s"] = delta(top, "py_cpu_s")
    m["memory.peak_rss_mb"] = rnd["peak_rss_mb"]
    # driver-side time between the program calls: glue, output dumps, tracing
    m["harness.self_s"] = sum(self_time(spans, s) for s in top)
    for s in spans:
        s["self_s"] = self_time(spans, s)
    return {k: m[k] for k in UNITS}
