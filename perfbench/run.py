"""Benchmark entry point.

    python3 perfbench/run.py --workload scan_x16 --seed 1 --seconds 10 --trace 0

Run from the repository root.  Prepares the inputs in ``.perfbench_work/``
(a generated corpus, plus the 16x replica for ``scan_x16``), times the
set-up of three fresh processes (two probes and the measuring worker,
reporting the median), runs the workload in the worker and prints one
JSON line as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer ones.  The worker's full report (hardware, versions, seed,
query order, every sample, failures) is written to
``.perfbench_work/reports/``; see perfbench/README.md.
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
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
#: Files of the program under test the benchmark drives or imports.
REQUIRED = [
    "covid_19_data_analysis_bigdata_spark/__init__.py",
    "__spark_entry__.py",
    "tools/check.py",
    "tools/scalebench.py",
]
SETUP_PROBES = 2
WORKER_TIMEOUT_S = 850


def child_env(run_dir: str) -> dict:
    """Keep every file the engine writes inside the work directory."""
    jtmp = os.path.join(run_dir, "jtmp")
    tmp = os.path.join(WORK, "tmp")  # package fixtures persist across runs
    for d in (jtmp, tmp):
        os.makedirs(d, exist_ok=True)
    env = dict(os.environ)
    env.update(
        PYTHONPATH=os.pathsep.join([ROOT, HERE]),
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        TMPDIR=tmp,
        PYSPARK_SUBMIT_ARGS=(
            "--conf spark.ui.showConsoleProgress=false "
            f"--conf spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')} "
            f"--driver-java-options -Djava.io.tmpdir={jtmp} pyspark-shell"
        ),
    )
    env.pop("OMP_NUM_THREADS", None)
    return env


def run_child(args: list[str], run_dir: str) -> dict:
    """Run worker.py in its own session; return its last stdout line as
    JSON.  Whatever the worker started (the JVM) is stopped with it."""
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "worker.py"), *args],
        cwd=run_dir,
        env=child_env(run_dir),
        stdout=subprocess.PIPE,
        text=True,
        start_new_session=True,
    )
    try:
        out, _ = proc.communicate(timeout=WORKER_TIMEOUT_S)
    finally:
        _stop_group(proc)
    lines = out.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"worker {args[:2]} exited with {proc.returncode}")
    return json.loads(lines[-1])


def run_worker(args: list[str], run_dir: str) -> dict:
    """The measuring worker.  The first run on a corpus only primes it
    (see worker.measure); a second, fresh worker then measures."""
    report = run_child(args, run_dir)
    if report.get("primed"):
        report = run_child(args, run_dir)
    return report


def _stop_group(proc: subprocess.Popen) -> None:
    """Kill the worker if it is still running, then signal its process
    group until it is empty: SIGTERM for 20 s, then SIGKILL for 10 s."""
    if proc.poll() is None:
        proc.kill()
        proc.wait()
    start = time.monotonic()
    while time.monotonic() - start < 30:
        sig = signal.SIGTERM if time.monotonic() - start < 20 else signal.SIGKILL
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            return
        time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description="perfbench: repo benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: program files missing: {missing}", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    import fixtures
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    data_root = os.path.join(WORK, "data")
    report_dir = os.path.join(WORK, "reports")
    os.makedirs(data_root, exist_ok=True)
    os.makedirs(report_dir, exist_ok=True)
    fixtures.ensure_corpus(data_root, 0.1)
    fixtures.ensure_corpus(data_root, 0.001)

    run_dir = os.path.join(WORK, "runs", str(os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        setups = []
        if not args.trace:
            for _ in range(SETUP_PROBES):
                setups.append(run_child(["--setup-only"], run_dir)["setup_s"])
        worker_args = [
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data-root", data_root, "--report-dir", report_dir,
        ]
        report = run_worker(worker_args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    metrics = dict(report["metrics"])
    if not args.trace:
        setups.append(report["setup"]["setup_s"])
        metrics["setup_s"] = statistics.median(setups)
    report["setup_samples_s"] = setups
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(report_dir, name), "w") as fh:
        json.dump(report, fh, indent=1)
    failures = report["failures"]
    for qid, reason in failures.items():
        print(f"FAIL {qid}: {reason}")
    print("# environment " + json.dumps(report["environment"]))
    print(
        json.dumps(
            {
                "correct": not failures,
                "attempted": report["attempted"],
                "failed": len(failures),
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
