"""Layer tracing from outside the package.

A :class:`Tracer` rebinds the package's layer entry points while a
traced sample runs and records one span per call:

- ``sources``: ``io.load_table`` and ``io.spread``
- ``cache``: ``cache.cached``
- ``streaming``: ``streaming.ops.run_to_table``

Operator modules bind these names with ``from ... import load_table``,
so the wrapper replaces the name in every package module that holds the
original function, and puts the original back afterwards.  Spans (name,
start, end, parent, query id, sample) stay in memory until
:meth:`Tracer.write` is called at the end of the run.

Engine-side numbers come from public Spark surfaces: ``statusTracker``
(jobs, stages, tasks per job group), a ``StreamingQueryListener``
(micro-batches, state rows, commit times) and a walk of AQE's final
plan (SQL metrics of every operator).
"""

from __future__ import annotations

import contextlib
import functools
import json
import sys
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener

PACKAGE = "covid_19_data_analysis_bigdata_spark"

#: (module, attribute, span name) of every wrapped layer entry point.
ENTRY_POINTS = [
    (f"{PACKAGE}.sources.io", "load_table", "sources.load_table"),
    (f"{PACKAGE}.sources.io", "spread", "sources.spread"),
    (f"{PACKAGE}.cache", "cached", "cache.cached"),
    (f"{PACKAGE}.streaming.ops", "run_to_table", "streaming.run_to_table"),
]


class _ProgressListener(StreamingQueryListener):
    """Collects streaming progress events; delivery is asynchronous."""

    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.started = 0
        self.terminated = 0
        self.progress: list = []

    def onQueryStarted(self, event) -> None:
        with self.lock:
            self.started += 1

    def onQueryProgress(self, event) -> None:
        p = event.progress
        ops = p.stateOperators or []
        with self.lock:
            self.progress.append(
                {
                    "run_id": str(p.runId),
                    "rows_total": sum(o.numRowsTotal for o in ops),
                    "commit_ms": sum(o.commitTimeMs for o in ops)
                    + p.durationMs.get("walCommit", 0)
                    + p.durationMs.get("commitOffsets", 0),
                }
            )

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self.lock:
            self.terminated += 1

    def drain(self, timeout: float = 5.0) -> list:
        """Wait until every started query reported termination, then
        return and forget the progress events seen so far."""
        deadline = time.perf_counter() + timeout
        while time.perf_counter() < deadline:
            with self.lock:
                if self.terminated >= self.started:
                    break
            time.sleep(0.01)
        with self.lock:
            out, self.progress = self.progress, []
            self.started = self.terminated = 0
        return out


def streaming_totals(progress: list) -> dict:
    """Batches, final state rows per stream, and commit time of a sample."""
    last_rows: dict[str, int] = {}
    for p in progress:
        last_rows[p["run_id"]] = p["rows_total"]
    return {
        "streaming.batches": len(progress),
        "streaming.state_rows": sum(last_rows.values()),
        "streaming.commit_ms": sum(p["commit_ms"] for p in progress),
    }


class Tracer:
    """In-memory span recorder plus the engine-side probes of one session."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.qid: str | None = None
        self.sample = 0
        self.listener = _ProgressListener()
        spark.streams.addListener(self.listener)

    # -- spans ---------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str):
        """Record ``name`` around the block, nested under the open span."""
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "qid": self.qid,
            "sample": self.sample,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def _wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    @contextlib.contextmanager
    def installed(self):
        """Rebind every layer entry point in every loaded package module."""
        swaps = []
        for mod_name, attr, span_name in ENTRY_POINTS:
            orig = getattr(sys.modules[mod_name], attr)
            wrapper = self._wrap(span_name, orig)
            for name, mod in list(sys.modules.items()):
                if mod is None or not name.startswith(PACKAGE):
                    continue
                for key, val in list(vars(mod).items()):
                    if val is orig:
                        setattr(mod, key, wrapper)
                        swaps.append((mod, key, orig))
        try:
            yield
        finally:
            for mod, key, orig in swaps:
                setattr(mod, key, orig)

    def layer_totals(self, first: int) -> dict:
        """Call counts and inclusive seconds of the spans from ``first``."""
        out = {
            "sources.load_calls": 0,
            "sources.load_s": 0.0,
            "sources.spread_calls": 0,
            "streaming.replay_s": 0.0,
        }
        for rec in self.spans[first:]:
            dur = rec["end"] - rec["start"]
            if rec["name"] == "sources.load_table":
                out["sources.load_calls"] += 1
                # a load_table nested in spread() is counted under spread's span
                parent = rec["parent"]
                if parent is None or self.spans[parent]["name"] != "sources.spread":
                    out["sources.load_s"] += dur
            elif rec["name"] == "sources.spread":
                out["sources.spread_calls"] += 1
                out["sources.load_s"] += dur
            elif rec["name"] == "streaming.run_to_table":
                out["streaming.replay_s"] += dur
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for rec in self.spans:
                fh.write(json.dumps(rec) + "\n")

    # -- jobs ----------------------------------------------------------

    @contextlib.contextmanager
    def job_group(self, group: str):
        self.sc.setJobGroup(group, group)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def job_totals(self, group: str, timeout: float = 5.0) -> dict:
        """Jobs, stages that ran tasks, and completed tasks of ``group``."""
        st = self.sc.statusTracker()
        ids = st.getJobIdsForGroup(group)
        deadline = time.perf_counter() + timeout
        # the status store is fed by the listener bus, which lags actions
        while time.perf_counter() < deadline:
            infos = [st.getJobInfo(j) for j in ids]
            if all(i is None or i.status in ("SUCCEEDED", "FAILED") for i in infos):
                break
            time.sleep(0.01)
        tasks: dict[int, int] = {}
        for info in infos:
            for s in info.stageIds if info else ():
                si = st.getStageInfo(s)
                if si is not None and si.numCompletedTasks > 0:
                    tasks[s] = si.numCompletedTasks
        return {"jobs": len(ids), "stages": len(tasks), "tasks": sum(tasks.values())}


#: SQL metric -> (output key, nodes it is read from; None = every node).
PLAN_METRICS = {
    "filesSize": ("sources.scan_bytes", {"FileSourceScanExec"}),
    "shuffleBytesWritten": ("engine.shuffle_bytes", {"ShuffleExchangeExec"}),
    "spillSize": ("engine.spill_bytes", None),
    "peakMemory": ("engine.peak_memory_bytes", None),
}
PLAN_NODES = {
    "ShuffleExchangeExec": "engine.exchanges",
    "SortMergeJoinExec": "engine.sort_merge_joins",
    "BroadcastHashJoinExec": "engine.broadcast_joins",
}


def walk_final_plan(df) -> dict:
    """Sum SQL metrics and count operators over AQE's final plan of
    ``df``'s last execution: ``AdaptiveSparkPlanExec.executedPlan()``
    -> ``*QueryStageExec.plan()`` -> children, subqueries included.
    Reused exchanges are not descended (their work is counted once)."""
    out = {k: 0 for k, _ in PLAN_METRICS.values()}
    out.update({k: 0 for k in PLAN_NODES.values()})
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        if cls == "ReusedExchangeExec":
            continue
        if cls in PLAN_NODES:
            out[PLAN_NODES[cls]] += 1
        metrics = node.metrics()
        for metric, (key, classes) in PLAN_METRICS.items():
            if classes is not None and cls not in classes:
                continue
            opt = metrics.get(metric)
            if opt.isDefined():
                out[key] += opt.get().value()
        for seq in (node.children(), node.subqueries()):
            stack.extend(seq.apply(i) for i in range(seq.size()))
    return out
