"""Spans and counters read from outside the program.

A :class:`Tracer` records one span (name, start, end, parent) around each
call the benchmark makes into the program, and attaches to it the deltas of
three outside counters over the span:

* Spark's status store (``sc._jsc.sc().statusStore()``, readable with
  ``spark.ui.enabled=false``): jobs, stages, tasks, executor run and CPU
  time, JVM GC time, shuffle-write and spill bytes;
* ``/proc``: CPU seconds of the pyspark Python worker processes under the
  driver JVM (``executorCpuTime`` counts JVM threads only);
* ``ting_data_etl_spark.runstats``: session-memo builds/hits and on-disk
  stage builds.

Spans stay in memory; :meth:`Tracer.dump` writes them out once, at exit.
:class:`NullTracer` has the same interface and records nothing, so the
untraced run pays for one ``time.monotonic()`` pair per call and no more.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from typing import NamedTuple

CLK_TCK = os.sysconf("SC_CLK_TCK")
COUNTERS = (
    "jobs", "stages", "tasks", "exec_run_ms", "exec_cpu_ns", "gc_ms",
    "shuffle_write_b", "spill_b", "py_cpu_s", "memo_build", "memo_hit",
    "stage_build",
)


def proc_stat_cpu() -> tuple[float, float]:
    """Host (busy, steal) CPU seconds since boot, from ``/proc/stat``."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return (v[0] + v[1] + v[2]) / CLK_TCK, v[7] / CLK_TCK


def vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set (``VmHWM``) of one process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class Proc(NamedTuple):
    ppid: int
    pgrp: int
    state: str
    start: str
    cpu_s: float
    reaped_cpu_s: float  # of its children that exited and were waited for


def proc_table() -> dict[int, Proc]:
    """pid -> :class:`Proc` (parent, process group, state, start time, own
    and reaped children's CPU seconds) for every process, from
    ``/proc/<pid>/stat``."""
    out: dict[int, Proc] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                s = f.read()
        except OSError:
            continue  # exited between listdir and open
        fields = s[s.rindex(")") + 2 :].split()
        ticks = int(fields[11]) + int(fields[12])  # utime + stime
        reaped = int(fields[13]) + int(fields[14])  # cutime + cstime
        out[int(d)] = Proc(
            int(fields[1]), int(fields[2]), fields[0], fields[19], ticks / CLK_TCK, reaped / CLK_TCK
        )
    return out


def below(table: dict[int, Proc], root: int) -> list[int]:
    """Pids of every process in *table* below *root*."""
    kids: dict[int, list[int]] = {}
    for pid, p in table.items():
        kids.setdefault(p.ppid, []).append(pid)
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by *root* and every live process below it,
    with the children each of them has reaped."""
    table = proc_table()
    return sum(
        table[pid].cpu_s + table[pid].reaped_cpu_s for pid in [root, *below(table, root)] if pid in table
    )


class WorkerCpu:
    """CPU seconds of the processes below one root (the pyspark workers).

    Workers come and go; each one's CPU is remembered at the last reading
    that saw it alive, keyed by (pid, start time), so the total never goes
    backwards. CPU a worker spends after its last reading is lost, which
    undercounts by at most one reading interval per exited worker.
    """

    def __init__(self, root: int) -> None:
        self.root = root
        self._seen: dict[tuple[int, str], float] = {}

    def total(self) -> float:
        table = proc_table()
        for pid in below(table, self.root):
            self._seen[(pid, table[pid].start)] = table[pid].cpu_s
        return sum(self._seen.values())


class StatusStore:
    """Cumulative counters over the stages and jobs Spark has finished."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._jvm = sc._jvm
        self._gw = sc._gateway
        self._sc = sc._jsc.sc()
        self._store = self._sc.statusStore()
        self._stage_floor = -1  # every stage id at or below it is counted
        self._counted: set[int] = set()  # counted stage ids above the floor
        self._job_floor = -1
        self.jvm_pid = int(self._jvm.java.lang.ProcessHandle.current().pid())
        self.totals = dict.fromkeys(COUNTERS[:8], 0)

    def _drain(self) -> None:
        # status updates arrive through the listener bus asynchronously
        self._sc.listenerBus().waitUntilEmpty()

    def refresh(self) -> dict[str, int]:
        self._drain()
        empty = self._gw.new_array(self._jvm.double, 0)
        stages = self._store.stageList(None, False, False, empty, None)
        top, hold = self._stage_floor, None
        t = self.totals
        # both lists come newest first: stop at the first id below the floor
        for i in range(stages.size()):
            st = stages.apply(i)
            sid = st.stageId()
            if sid <= self._stage_floor:
                break
            top = max(top, sid)
            if sid in self._counted:
                continue
            status = st.status().toString()
            if status in ("ACTIVE", "PENDING"):
                hold = sid if hold is None else min(hold, sid)
                continue
            self._counted.add(sid)
            if status == "SKIPPED":
                continue
            t["stages"] += 1
            t["tasks"] += st.numCompleteTasks()
            t["exec_run_ms"] += st.executorRunTime()
            t["exec_cpu_ns"] += st.executorCpuTime()
            t["gc_ms"] += st.jvmGcTime()
            t["shuffle_write_b"] += st.shuffleWriteBytes()
            t["spill_b"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        # an unfinished stage holds the floor below it; the finished stages
        # above it stay in _counted so the next reading skips them
        self._stage_floor = top if hold is None else hold - 1
        self._counted = {sid for sid in self._counted if sid > self._stage_floor}
        jobs = self._store.jobsList(None)
        top = self._job_floor
        for i in range(jobs.size()):
            jid = jobs.apply(i).jobId()
            if jid <= self._job_floor:
                break
            t["jobs"] += 1
            top = max(top, jid)
        self._job_floor = top
        return dict(t)


class Tracer:
    def __init__(self, spark) -> None:
        from ting_data_etl_spark import runstats

        self._runstats = runstats
        self._store = StatusStore(spark)
        self._workers = WorkerCpu(self._store.jvm_pid)
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.cost_s = 0.0  # time spent reading the counters: the tracer's own cost

    def counters(self) -> dict[str, float]:
        t0 = time.monotonic()
        c: dict[str, float] = dict(self._store.refresh())
        c["py_cpu_s"] = self._workers.total()
        rs = self._runstats.snapshot()
        for k in ("memo_build", "memo_hit", "stage_build"):
            c[k] = rs.get(k, 0)
        self.cost_s += time.monotonic() - t0
        return c

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        before = self.counters()
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "attrs": attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        rec["start"] = time.monotonic()
        try:
            yield rec["attrs"]
        finally:
            rec["end"] = time.monotonic()
            self._stack.pop()
            after = self.counters()
            rec["delta"] = {k: after[k] - before[k] for k in COUNTERS}

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump({**extra, "trace_cost_s": self.cost_s, "spans": self.spans}, f, indent=1)


class NullTracer:
    spans: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        yield attrs

    def dump(self, path: str, extra: dict) -> None:
        pass


def self_time(spans: list[dict], span: dict) -> float:
    """Duration of *span* minus the union of its children's intervals."""
    kids = sorted(
        (s["start"], s["end"]) for s in spans if s["parent"] == span["id"]
    )
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in kids:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (span["end"] - span["start"]) - covered
