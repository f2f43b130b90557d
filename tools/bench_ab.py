"""Controlled same-session A/B of two repo revisions' bench runs.

VERDICT r07 flagged a uniform ~1.26x wall-time slowdown between the r6 and
r7 bench artifacts and asked for adjudication under identical host
conditions (the variance discipline of SURVEY §7.6.5: same box, same hour,
interleaved runs). This harness runs `bench.py` in each revision's worktree
as a subprocess, interleaved A/B/A/B, and writes BENCH_AB_r{round}.json
with per-query ratios over the common query set.

Interleaving (rather than all-A-then-all-B) is the point: any slow drift in
host conditions hits both heads equally, so a real plan regression shows up
as a stable per-query ratio across both repetitions while host noise shows
up as disagreement between them.

Usage: python tools/bench_ab.py <worktree_a> <worktree_b> <label_a> <label_b> \
           [reps] [out_name.json]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys


def run_bench(worktree: str) -> dict:
    """Run bench.py in *worktree*; return the full per-query payload."""
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)
    subprocess.run(
        [sys.executable, "bench.py"],
        cwd=worktree,
        env=env,
        check=True,
        stdout=subprocess.DEVNULL,
        stderr=subprocess.DEVNULL,
    )
    # bench.py writes BENCH_LOCAL.json (older revisions: BENCH_LOCAL_r{NN})
    cands = [
        f
        for f in os.listdir(worktree)
        if f.startswith("BENCH_LOCAL") and f.endswith(".json")
    ]
    latest = max(cands, key=lambda f: os.path.getmtime(os.path.join(worktree, f)))
    with open(os.path.join(worktree, latest)) as f:
        return json.load(f)


def main() -> None:
    wa, wb, la, lb = sys.argv[1:5]
    reps = int(sys.argv[5]) if len(sys.argv) > 5 else 2
    runs: dict[str, list[dict]] = {la: [], lb: []}
    for i in range(reps):
        for label, wt in ((la, wa), (lb, wb)):
            payload = run_bench(wt)
            runs[label].append(payload)
            print(
                f"rep {i} {label}: warm={payload['value']}s "
                f"cold={payload['cold_total_sec']}s "
                f"n={len(payload['queries'])}",
                flush=True,
            )

    # best-of-reps per query per head: the minimum is the least-noise
    # estimate of the plan's intrinsic cost on this host
    def best(label: str) -> dict[str, float]:
        out: dict[str, float] = {}
        for payload in runs[label]:
            for q, t in payload["queries"].items():
                out[q] = min(out.get(q, float("inf")), t)
        return out

    qa, qb = best(la), best(lb)
    common = sorted(set(qa) & set(qb))
    ratios = {q: round(qb[q] / qa[q], 3) if qa[q] > 0 else None for q in common}
    tot_a = sum(qa[q] for q in common)
    tot_b = sum(qb[q] for q in common)
    flagged = {
        q: r
        for q, r in ratios.items()
        if r is not None and r > 1.5 and qb[q] - qa[q] > 0.3
    }
    result = {
        "a": la,
        "b": lb,
        "reps": reps,
        "common_queries": len(common),
        "warm_total_a_sec": round(tot_a, 3),
        "warm_total_b_sec": round(tot_b, 3),
        "common_ratio_b_over_a": round(tot_b / tot_a, 4),
        "per_rep_warm_totals": {
            lab: [p["value"] for p in runs[lab]] for lab in (la, lb)
        },
        "flagged_over_1p5x": flagged,
        "ratios": ratios,
    }
    out_name = sys.argv[6] if len(sys.argv) > 6 else "BENCH_AB.json"
    out_path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        out_name,
    )
    with open(out_path, "w") as f:
        json.dump(result, f, indent=1, sort_keys=True)
    print(
        json.dumps(
            {
                k: result[k]
                for k in (
                    "common_ratio_b_over_a",
                    "warm_total_a_sec",
                    "warm_total_b_sec",
                    "flagged_over_1p5x",
                )
            }
        )
    )


if __name__ == "__main__":
    main()
