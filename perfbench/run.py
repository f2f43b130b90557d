"""The benchmark's one command.

    python3 perfbench/run.py --workload store_pipeline --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Each round starts the workload in a fresh
Python process (``perfbench/workload.py``) with the checkout on
``PYTHONPATH``, ``SPARK_GRAFT_CPUS`` = the usable core count, and an empty
temp root (``TMPDIR``, Spark local dirs, JVM tmpdir, working directory)
under ``.perfbench/``, deleted afterwards. Rounds run one after another
(a closed loop: one client, no concurrent runs) until ``--seconds`` of
timed work has been measured; every run makes at least one round.

After each round the outputs are checked (``perfbench/check.py``) against
the generator's bookkeeping and DuckDB oracle twins. The last stdout line is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` —
the end-to-end metrics (medians over rounds) with ``--trace 0``, the
per-layer metrics from the span file with ``--trace 1``. The line before it
discloses the host (cores, driver heap, busy and steal CPU seconds).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402
from spans import proc_stat_cpu, proc_table  # noqa: E402

#: Workload -> the input sets it needs from the generator.
INPUTS = {"store_pipeline": ("csv", "tables"), "corpus_curation": ("corpus",)}
ROUND_TIMEOUT_S = 150


def usable_cores() -> int:
    return len(os.sched_getaffinity(0))


def group_alive(pgid: int) -> bool:
    """Whether any non-zombie process is left in process group *pgid*."""
    return any(p.pgrp == pgid and p.state != "Z" for p in proc_table().values())


def stop_group(proc: subprocess.Popen) -> None:
    """Kill what is left of the workload's process group (the workload, its
    JVM and the pyspark workers) and wait until none of it runs."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.monotonic() + 10
    while group_alive(proc.pid):
        if time.monotonic() > deadline:
            raise RuntimeError(f"process group {proc.pid} survived SIGKILL for 10 s")
        time.sleep(0.05)


def one_round(root: str, run_dir: str, workload: str, trace: int) -> dict:
    """Start the workload process, wait for it, check its outputs."""
    for d in ("tmp", "work", "local", "jvmtmp", "out"):
        shutil.rmtree(os.path.join(run_dir, d), ignore_errors=True)
        os.makedirs(os.path.join(run_dir, d))
    env = dict(os.environ)
    env.update(
        PYTHONPATH=root,
        TMPDIR=os.path.join(run_dir, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        SPARK_GRAFT_CPUS=str(usable_cores()),
        JAVA_TOOL_OPTIONS="-Djava.io.tmpdir=" + os.path.join(run_dir, "jvmtmp"),
        PYTHONDONTWRITEBYTECODE="1",
    )
    log_path = os.path.join(run_dir, "workload.log")
    t_spawn = time.monotonic()
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            [
                sys.executable, os.path.join(HERE, "workload.py"),
                "--workload", workload,
                "--inputs", os.path.join(run_dir, "inputs"),
                "--out", os.path.join(run_dir, "out"),
                "--trace", str(trace),
                "--t-spawn", repr(t_spawn),
            ],
            cwd=os.path.join(run_dir, "work"),
            env=env,
            stdout=log,
            stderr=subprocess.STDOUT,
            start_new_session=True,  # the JVM and Python workers join its group
        )
        rc = None
        try:
            rc = proc.wait(timeout=ROUND_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            pass
        finally:
            stop_group(proc)
    result_path = os.path.join(run_dir, "out", "result.json")
    if rc != 0 or not os.path.exists(result_path):
        with open(log_path, errors="replace") as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"{workload}: workload process ended with {rc}")
    with open(result_path, encoding="utf-8") as f:
        res = json.load(f)

    res["problems"] = check.CHECKS[workload](run_dir)
    if trace:
        with open(os.path.join(run_dir, "out", "spans.json"), encoding="utf-8") as f:
            dump = json.load(f)
        res["spans"], res["trace_cost_s"] = dump["spans"], dump["trace_cost_s"]
    return res


def main() -> int:
    ap = argparse.ArgumentParser(description="spark-graft benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(INPUTS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", action="store_true", help="keep the run directory (for check.py)")
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "ting_data_etl_spark", "__init__.py")):
        print(f"run from the checkout root: no ting_data_etl_spark/ under {root}", file=sys.stderr)
        return 2

    base = os.path.join(root, ".perfbench")
    run_dir = os.path.join(base, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        gen.generate(a.seed, os.path.join(run_dir, "inputs"), INPUTS[a.workload])
        busy0, steal0 = proc_stat_cpu()
        rounds: list[dict] = []
        measured = 0.0
        while not rounds or measured < a.seconds:
            r = one_round(root, run_dir, a.workload, a.trace)
            rounds.append(r)
            measured += r["wall_s"]
            print(
                "round: " + json.dumps({k: r[k] for k in ("setup_s", "wall_s", "cpu_s", "trace_cost_s", "phases", "stages") if k in r}),
                file=sys.stderr,
            )
        busy1, steal1 = proc_stat_cpu()
    finally:
        if not a.keep:
            shutil.rmtree(run_dir, ignore_errors=True)
        else:
            print(f"kept {run_dir}", file=sys.stderr)

    attempted = failed = 0
    correct = True
    for r in rounds:
        errors = {o["op"]: o["error"] for o in r["ops"]}
        for op, err in errors.items():
            bad = r["problems"].get(op, [])
            attempted += 1
            if err or bad:
                failed += 1
                print(f"{op}: {err or '; '.join(bad)[:500]}", file=sys.stderr)
            # an operation that raised is counted in failed; `correct` speaks
            # of the outputs of the operations that ran to their end
            correct &= bool(err) or not bad
        stray = set(r["problems"]) - set(errors)
        for op in stray:
            if r["problems"][op]:
                correct = False
                print(f"{op}: {'; '.join(r['problems'][op])[:500]}", file=sys.stderr)

    host = {
        "cores": usable_cores(),
        "driver_heap": rounds[0]["driver_heap"],
        "rounds": len(rounds),
        "host_busy_s": round(busy1 - busy0, 2),
        "host_steal_s": round(steal1 - steal0, 2),
        "peak_rss_mb": [round(r["peak_rss_mb"], 1) for r in rounds],
        "inputs": {p: gen.SIZES[p] for p in INPUTS[a.workload]},
    }
    if a.trace:
        metrics = layers.per_layer(rounds[0])
        os.makedirs(os.path.join(base, "traces"), exist_ok=True)
        with open(os.path.join(base, "traces", f"{a.workload}-seed{a.seed}.json"), "w") as f:
            json.dump({"host": host, "metrics": metrics, "spans": rounds[0]["spans"]}, f, indent=1)
        units = layers.UNITS
    else:
        metrics = {k: statistics.median(r[k] for r in rounds) for k in layers.END_TO_END}
        units = layers.END_TO_END
    print(json.dumps({"host": host}))
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
