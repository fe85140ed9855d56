"""Smoke test of the benchmark itself (not part of the benchmark runs).

Runs every workload traced on the sf0.001 corpus with one sample per
query, then checks that

- every query passes its oracle;
- every metric BENCHMARK.json names is present and finite;
- for every traced sample, the execute span is positive and does not
  exceed the sample's ``toPandas`` span by more than 10% of the wall
  time (transport = to_pandas - execute, so a negative transport beyond
  timing noise means execute measured other work than the collect);
- for every traced sample, build + plan + execute + transport is within
  10% of the sample's wall time.  Because transport is derived, this
  sum is build + plan + to_pandas: the check catches time spent in the
  sample outside those spans (tracer bookkeeping, job-group switches).

    python3 perfbench/smoke.py        # from the repository root; ~2 min
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys

import run
import worker
from workloads import WORKLOADS

PARTS = ["operators.build_s", "engine.plan_s", "engine.execute_s", "engine.transport_s"]
TOLERANCE = 0.10


def check_report(report: dict, spec: dict) -> list[str]:
    problems = [f"{q}: {why}" for q, why in report["failures"].items()]
    metrics = dict(report["metrics"])
    metrics.update(worker.end_to_end(report))
    metrics["setup_s"] = report["setup"]["setup_s"]
    for m in spec["end_to_end"] + spec["per_layer"]:
        v = metrics.get(m["name"])
        if not isinstance(v, (int, float)) or not math.isfinite(v):
            problems.append(f"metric {m['name']} = {v!r}")
    for q, rec in report["queries"].items():
        for s in rec["traced"]:
            wall, ex, tr = s["wall_s"], s["engine.execute_s"], s["engine.transport_s"]
            if ex <= 0 or tr < -TOLERANCE * wall:
                problems.append(f"{q}: execute {ex:.4f}s, transport {tr:.4f}s, wall {wall:.4f}s")
            parts = sum(s[k] for k in PARTS)
            if abs(parts - wall) > TOLERANCE * wall:
                problems.append(f"{q}: layers sum {parts:.4f}s vs wall {wall:.4f}s")
    return problems


def main() -> int:
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    report_dir = os.path.join(run.WORK, "smoke")
    run_dir = os.path.join(run.WORK, "runs", f"smoke{os.getpid()}")
    os.makedirs(report_dir, exist_ok=True)
    os.makedirs(run_dir, exist_ok=True)
    failed = False
    try:
        for name in WORKLOADS:
            args = [
                "--workload", name, "--seed", "0", "--seconds", "0", "--trace", "1",
                "--corpus", "sf0.001", "--data-root", os.path.join(run.WORK, "data"),
                "--report-dir", report_dir,
            ]
            report = run.run_worker(args, run_dir)
            problems = check_report(report, spec)
            failed |= bool(problems)
            print(f"{'FAIL' if problems else 'ok'} {name}: {len(report['queries'])} queries")
            for p in problems:
                print(f"  {p}")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
