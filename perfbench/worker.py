"""One benchmark run in a fresh process; started by ``run.py``.

The process times its own set-up (imports + ``get_spark`` +
``core.load_all``), then drives one workload from a single client in a
closed loop and prints one JSON report as its last stdout line.

Every query gets ``seconds / len(queries)`` of sampling time and at
least one sample; a sample is ``fn(spark, sf_dir).toPandas()``.  The
last timed result of each query is checked against its DuckDB oracle
outside the timed region.

With ``--trace`` each untraced sample is followed by a traced one of
the same query (a same-session A/B, so the difference is the tracing
overhead).  A traced sample is split into layers:

- ``operators.build``: the ``fn(spark, sf_dir)`` call, including any
  eager work it does (checkpoints, MERGE round-trips, stream replays);
- ``engine.plan``: ``queryExecution().executedPlan()`` on the fresh frame;
- ``engine.to_pandas``: ``toPandas()`` on the now-planned frame;
- ``engine.execute``: afterwards, outside the sample's wall time, the
  same physical plan planned again on a fresh ``QueryExecution`` and
  executed with ``execute().count()``: all of the work, no Arrow
  conversion or transfer to Python;
- ``engine.transport``: ``to_pandas`` minus ``execute``.

``build + plan + execute + transport`` therefore reconstructs the
sample's wall time; the smoke test checks that nothing else hides in it.
"""

from __future__ import annotations

import time

_T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import random  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402


def setup() -> tuple:
    """Imports + ``get_spark`` + ``core.load_all``, each timed."""
    from covid_19_data_analysis_bigdata_spark.session import get_spark

    t1 = time.perf_counter()
    spark = get_spark("perfbench")
    t2 = time.perf_counter()
    from covid_19_data_analysis_bigdata_spark import core

    core.load_all()
    import __spark_entry__  # noqa: F401  (the public registry)

    t3 = time.perf_counter()
    return spark, {
        "setup_s": t3 - _T0,
        "session.start_s": t2 - t1,
        "core.load_all_s": t3 - t2,
    }


def environment(spark, seed: int) -> dict:
    """Hardware and versions, so a number cannot be read for another box's."""
    def _proc(path: str, key: str) -> str:
        with open(path) as fh:
            return next((ln.split(":", 1)[1].strip() for ln in fh if ln.startswith(key)), "?")

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "cpu_model": _proc("/proc/cpuinfo", "model name"),
        "mem_total": _proc("/proc/meminfo", "MemTotal"),
        "spark": spark.version,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "seed": seed,
    }


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as fh:
        kb = next(int(ln.split()[1]) for ln in fh if ln.startswith("VmHWM"))
    return kb / 1024.0


def clear_caches(spark) -> None:
    from covid_19_data_analysis_bigdata_spark.cache import clear_cache

    clear_cache()
    spark.catalog.clearCache()


def run_untimed(spark, fn, sf_dir: str) -> None:
    """Warm-up or priming execution; a failure here is left for the
    timed loop to report."""
    clear_caches(spark)
    try:
        fn(spark, sf_dir).toPandas()
    except Exception:  # noqa: BLE001
        traceback.print_exc(file=sys.stderr)


def untraced_sample(spark, fn, sf_dir: str):
    t0 = time.perf_counter()
    df = fn(spark, sf_dir)
    pdf = df.toPandas()
    return df, pdf, time.perf_counter() - t0


def traced_sample(spark, tracer, name: str, i: int, fn, sf_dir: str) -> dict:
    """One layer-split sample of query ``name`` (see module docstring)."""
    from covid_19_data_analysis_bigdata_spark.cache import cache_stats

    from tracing import streaming_totals, walk_final_plan

    tracer.qid, tracer.sample = name, i
    group = f"perfbench:{name}:{i}"
    first = len(tracer.spans)
    c0 = cache_stats()
    t0 = time.perf_counter()
    with tracer.installed(), tracer.span("sample"):
        with tracer.job_group(group + ":build"), tracer.span("operators.build") as b:
            df = fn(spark, sf_dir)
        with tracer.job_group(group + ":run"):
            with tracer.span("engine.plan") as p:
                df._jdf.queryExecution().executedPlan()
            with tracer.span("engine.to_pandas") as tp:
                pdf = df.toPandas()
    wall = time.perf_counter() - t0
    c1 = cache_stats()
    # the same physical plan (ReturnAnswer root, as toPandas runs it) on
    # a fresh QueryExecution, executed without the Arrow conversion
    plan = df.select("*")._jdf.queryExecution().executedPlan()
    with tracer.job_group(group + ":exec"), tracer.span("engine.execute") as ex:
        plan.execute().count()
    dur = lambda s: s["end"] - s["start"]  # noqa: E731
    run_jobs = tracer.job_totals(group + ":run")
    rec = {
        "wall_s": wall,
        "operators.build_s": dur(b),
        "operators.build_jobs": tracer.job_totals(group + ":build")["jobs"],
        "engine.plan_s": dur(p),
        "engine.execute_s": dur(ex),
        "engine.transport_s": dur(tp) - dur(ex),
        "engine.jobs": run_jobs["jobs"],
        "engine.stages": run_jobs["stages"],
        "engine.tasks": run_jobs["tasks"],
        "engine.result_rows": len(pdf),
        "cache.hits": c1["hits"] - c0["hits"],
        "cache.misses": c1["misses"] - c0["misses"],
    }
    rec.update(tracer.layer_totals(first))
    rec.update(streaming_totals(tracer.listener.drain()))
    rec.update(walk_final_plan(df))
    return rec


def trace_one(spark, tracer, name: str, rec: dict, fn, sf_dir: str) -> None:
    clear_caches(spark)
    rec["traced"].append(traced_sample(spark, tracer, name, len(rec["traced"]), fn, sf_dir))


def run_workload(spark, wl, sf_dir: str, warm_dir: str, seed: int,
                 seconds: float, tracer, oracle) -> dict:
    """Sample the workload's queries one after another, in a
    seed-permuted order, each until it has spent its
    ``seconds / len(queries)`` share (at least one sample).  Both caches
    are cleared before every sample.  A query's samples run back to
    back, so each follows its own previous run rather than whatever
    garbage another query left behind."""
    import __spark_entry__ as E

    qs, sqls = E.queries(), E.oracle_sql()
    names = list(wl.queries)
    random.Random(seed).shuffle(names)
    t0 = time.perf_counter()
    for name in names:  # warm the JVM on a smaller corpus
        run_untimed(spark, qs[name], warm_dir)
    phase = {"warm_up_s": time.perf_counter() - t0, "sampling_s": 0.0, "check_s": 0.0}
    budget = seconds / len(names)
    out = {}
    for qi, name in enumerate(names):
        rec, fn = {"samples": [], "traced": [], "error": None}, qs[name]
        out[name] = rec
        t_start = time.perf_counter()
        try:
            while True:
                # a traced run alternates which of the pair goes first,
                # so neither side of the A/B always runs second
                traced_first = tracer is not None and (qi + len(rec["samples"])) % 2
                if traced_first:
                    trace_one(spark, tracer, name, rec, fn, sf_dir)
                clear_caches(spark)
                df, pdf, dt = untraced_sample(spark, fn, sf_dir)
                rec["samples"].append(dt)
                if tracer is not None and not traced_first:
                    trace_one(spark, tracer, name, rec, fn, sf_dir)
                if sum(rec["samples"]) >= budget:
                    break
            t_check = time.perf_counter()
            phase["sampling_s"] += t_check - t_start
            problem = oracle.check(sqls[name], df.schema, pdf)
            if problem:
                rec["error"] = "oracle: " + problem
            if oracle.tolerated:
                rec["tolerated"] = oracle.tolerated
            phase["check_s"] += time.perf_counter() - t_check
        except Exception as exc:  # noqa: BLE001 - one failing query must not end the run
            rec["error"] = f"{type(exc).__name__}: {str(exc).splitlines()[0][:300]}"
            traceback.print_exc(file=sys.stderr)
        df = pdf = None
    return {"order": names, "queries": out, "phase": phase}


def end_to_end(result: dict) -> dict:
    meds = [
        statistics.median(r["samples"])
        for r in result["queries"].values()
        if r["samples"] and not r["error"]
    ]
    n = len(result["queries"])
    failed = sum(1 for r in result["queries"].values() if r["error"])
    return {
        "total_s": sum(meds),
        "geomean_s": math.exp(sum(map(math.log, meds)) / len(meds)) if meds else 0.0,
        "pass_frac": (n - failed) / n,
    }


def per_layer(result: dict, setup_info: dict, rss_mb: float) -> dict:
    ok = [r for r in result["queries"].values() if r["traced"] and not r["error"]]
    keys = [k for k in ok[0]["traced"][0] if k != "wall_s"] if ok else []
    out = {k: sum(statistics.median(s[k] for s in r["traced"]) for r in ok) for k in keys}
    base = out.get("cache.hits", 0) + out.get("cache.misses", 0)
    out["cache.hit_ratio"] = out.get("cache.hits", 0) / base if base else 0.0
    traced = sum(statistics.median(s["wall_s"] for s in r["traced"]) for r in ok)
    untraced = sum(statistics.median(r["samples"]) for r in ok)
    out["trace.overhead_frac"] = traced / untraced - 1.0 if untraced else 0.0
    out["session.start_s"] = setup_info["session.start_s"]
    out["core.load_all_s"] = setup_info["core.load_all_s"]
    out["session.jvm_peak_rss_mb"] = rss_mb
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--data-root")
    ap.add_argument("--report-dir")
    ap.add_argument("--setup-only", action="store_true")
    ap.add_argument("--corpus", help="run every workload on this corpus instead")
    args = ap.parse_args()

    spark, setup_info = setup()
    jvm = spark.sparkContext._gateway.proc
    try:
        if args.setup_only:
            print(json.dumps(setup_info))
            return 0
        spark.sparkContext.setLogLevel("ERROR")
        return measure(spark, setup_info, args)
    finally:
        spark.stop()
        jvm.stdin.close()  # the gateway JVM exits on EOF
        jvm.wait(timeout=60)


def measure(spark, setup_info: dict, args) -> int:
    import fixtures
    from oracle import Oracle
    from tracing import Tracer
    from workloads import WORKLOADS

    wl = WORKLOADS[args.workload]

    def corpus(name: str) -> str:
        if name == "x16":
            return fixtures.ensure_replica(
                spark, args.data_root, fixtures.ensure_corpus(args.data_root, 0.1)
            )
        return fixtures.ensure_corpus(args.data_root, float(name[2:]))

    sf_dir = corpus(args.corpus or wl.corpus)
    warm_dir = corpus(args.corpus or wl.warm_up_corpus)
    corpus_key = fixtures.footer_fingerprint(sf_dir)
    primed = os.path.join(args.data_root, f"primed-{wl.name}-{corpus_key}")
    if not os.path.exists(primed):
        # First run on this corpus: let the package write its own
        # fixtures (partitioned sinks, snapshots), then end this process
        # so the timed run starts from a fresh session like every other.
        import __spark_entry__ as E

        for name in wl.queries:
            run_untimed(spark, E.queries()[name], sf_dir)
        open(primed, "w").close()
        print(json.dumps({"primed": True}))
        return 0

    tracer = Tracer(spark) if args.trace else None
    oracle = Oracle(sf_dir, os.path.join(args.data_root, "oracle.duckdb"), corpus_key)
    try:
        result = run_workload(
            spark, wl, sf_dir, warm_dir, args.seed, args.seconds, tracer, oracle,
        )
    finally:
        oracle.close()
    report = {
        "workload": wl.name,
        "trace": args.trace,
        "environment": environment(spark, args.seed),
        "setup": setup_info,
        **result,
        "failures": {q: r["error"] for q, r in result["queries"].items() if r["error"]},
        "attempted": len(result["queries"]),
    }
    if tracer is not None:
        report["metrics"] = per_layer(result, setup_info, jvm_peak_rss_mb(spark))
        tracer.write(os.path.join(args.report_dir, f"spans-{wl.name}-seed{args.seed}.jsonl"))
    else:
        report["metrics"] = end_to_end(result)
    print(json.dumps(report))
    return 0


if __name__ == "__main__":
    sys.exit(main())
