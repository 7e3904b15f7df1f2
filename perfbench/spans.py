"""In-memory span tracer for the benchmark's traced runs.

Spans are recorded from the benchmark's side only: wrappers around the
package's public functions (:func:`install`) and ``span()`` blocks around
the benchmark's own calls. Each span keeps its name, start, end, parent span
and operation id, plus the py4j call count at entry and exit. Spark jobs
are read back from the driver's status store after each operation and
attributed to the innermost span that was open when they were submitted.
Nothing is written until the run ends.
"""

from __future__ import annotations

import functools
import sys
import time
from contextlib import contextmanager

PACKAGE = "bigquery_postgres_events_etl_spark"


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time of every span: its duration minus the part of that
    interval covered by its direct children (clipped to the parent)."""
    children: dict[int, list[tuple[float, float]]] = {}
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        p = by_id.get(s["parent"])
        if p is not None:
            children.setdefault(p["id"], []).append(
                (max(s["start"], p["start"]), min(s["end"], p["end"]))
            )
    return {
        s["id"]: (s["end"] - s["start"]) - union_length(children.get(s["id"], []))
        for s in spans
    }


def layer_of(name: str) -> str:
    return name.split(".", 1)[0]


class Tracer:
    """Spans and counters for one run. ``enabled`` switches recording on
    and off per operation, so a traced run can also time untraced
    operations as its own overhead reference."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self.jobs: list[dict] = []
        self.enabled = False
        self.op = -1
        self.py4j = 0
        self._stack: list[dict] = []
        self._patched: list[tuple[object, str, object]] = []
        self._last_job = -1
        self.op_stats: dict[int, dict] = {}
        sc = spark.sparkContext
        self._store = sc._jsc.sc().statusStore()
        self._bus = sc._jsc.sc().listenerBus()
        client = sc._gateway._gateway_client
        send = client.send_command

        def counting_send(*a, **k):
            if self._stack:
                self.py4j += 1
            return send(*a, **k)

        client.send_command = counting_send
        self._patched.append((client, "send_command", None))
        self._last_job = max(sc.statusTracker().getJobIdsForGroup(None), default=-1)

    # -- spans -----------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        s = {
            "id": len(self.spans),
            "parent": self._stack[-1]["id"] if self._stack else None,
            "name": name,
            "op": self.op,
            "start": time.time(),
            "py4j0": self.py4j,
            "attrs": {},
        }
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            self._stack.pop()
            s["end"] = time.time()
            s["py4j1"] = self.py4j

    def wrap(self, fn, name: str, keep_result: bool = False):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as s:
                out = fn(*args, **kwargs)
                if s is not None and keep_result:
                    s["attrs"]["result"] = out
                return out

        return traced

    def patch_function(self, fn, wrapper) -> None:
        """Replace ``fn`` by ``wrapper`` wherever a package module holds
        it, including names imported with ``from … import``."""
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(PACKAGE):
                continue
            for attr, val in list(vars(mod).items()):
                if val is fn:
                    setattr(mod, attr, wrapper)
                    self._patched.append((mod, attr, fn))

    def patch_method(self, cls, attr: str, name: str) -> None:
        orig = cls.__dict__[attr]
        setattr(cls, attr, self.wrap(orig, name))
        self._patched.append((cls, attr, orig))

    def uninstall(self) -> None:
        for obj, attr, orig in reversed(self._patched):
            if orig is None:
                delattr(obj, attr)
            else:
                setattr(obj, attr, orig)
        self._patched.clear()

    # -- Spark jobs ------------------------------------------------------
    def harvest_jobs(self) -> list[dict]:
        """Read every job submitted since the last call from the status
        store and attribute it to the innermost span open at submission."""
        self._bus.waitUntilEmpty(30_000)
        ids = sorted(
            i for i in self.spark.sparkContext.statusTracker().getJobIdsForGroup(None)
            if i > self._last_job
        )
        if not ids:
            return []
        self._last_job = ids[-1]
        op_spans = [s for s in self.spans if s["op"] == self.op and "end" in s]
        new = []
        for jid in ids:
            j = self._store.job(jid)
            sub, comp = j.submissionTime(), j.completionTime()
            if not (sub.isDefined() and comp.isDefined()):
                continue
            start, end = sub.get().getTime() / 1000.0, comp.get().getTime() / 1000.0
            owner = None
            for s in op_spans:  # innermost = latest start among enclosing
                if s["start"] <= start <= s["end"] and (owner is None or s["start"] >= owner["start"]):
                    owner = s
            if owner is None:
                continue  # a check or harvest job outside any traced operation
            job = {"id": jid, "span": owner["id"], "op": self.op, "start": start,
                   "end": end, "tasks": 0, "run_ms": 0, "shuffle_write": 0, "spill": 0}
            sids = j.stageIds()
            for k in range(sids.size()):
                st = self._store.lastStageAttempt(sids.apply(k))
                if st.status().toString() == "SKIPPED":
                    continue
                job["tasks"] += st.numCompleteTasks()
                job["run_ms"] += st.executorRunTime()
                job["shuffle_write"] += st.shuffleWriteBytes()
                job["spill"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            new.append(job)
        self.jobs.extend(new)
        return new

    def end_op(self, persisted_rdds: int | None = None) -> None:
        """Collect what the operation just traced left behind: its jobs,
        the Catalyst phase times of the DataFrames its operator spans
        returned (planned here if the action ran on a derived plan), and
        the number of persisted RDDs."""
        self.harvest_jobs()
        stats = {"analysis_ms": 0.0, "optimization_ms": 0.0, "planning_ms": 0.0,
                 "persisted_rdds": persisted_rdds}
        mine = {s["id"]: s for s in self.spans if s["op"] == self.op}
        results = {i: s["attrs"].pop("result") for i, s in mine.items() if "result" in s["attrs"]}
        for i, df in results.items():
            p = mine.get(mine[i]["parent"])
            while p is not None and p["id"] not in results:
                p = mine.get(p["parent"])
            if p is not None:
                continue  # an enclosing operator span's plan covers this one
            qe = df._jdf.queryExecution()
            qe.executedPlan()
            phases = qe.tracker().phases()
            for phase in ("analysis", "optimization", "planning"):
                summary = phases.get(phase)
                if summary.isDefined():
                    stats[f"{phase}_ms"] += float(summary.get().durationMs())
        self.op_stats[self.op] = stats

    def persisted_rdds(self) -> int:
        return self.spark.sparkContext._jsc.getPersistentRDDs().size()


def install(tracer: Tracer) -> None:
    """Wrap the package's public functions at each layer boundary."""
    from bigquery_postgres_events_etl_spark import io, service
    from bigquery_postgres_events_etl_spark.operators import etl
    from bigquery_postgres_events_etl_spark.sources import sinks, watermark
    from bigquery_postgres_events_etl_spark.streaming import incremental

    for fn, name, keep in (
        (incremental.run_incremental_etl, "incremental.run", False),
        (watermark.read_watermark_us, "watermark.read", False),
        (watermark.write_watermark_us, "watermark.write", False),
        (io.load_table, "io.load_table", False),
        (etl.flagship_pipeline, "operators.flagship_pipeline", True),
        (sinks.idempotent_append_parquet, "sinks.append", False),
    ):
        tracer.patch_function(fn, tracer.wrap(fn, name, keep_result=keep))
    tracer.patch_method(service.EtlService, "trigger", "service.trigger")
    tracer.patch_method(sinks.TargetLock, "__enter__", "sinks.lock")

    merge = sinks.write_jdbc_merge_append

    def traced_merge(*args, **kwargs):
        # the sink's own timings= hook splits staging write from MERGE
        timings = kwargs.setdefault("timings", {})
        with tracer.span("sinks.append") as s:
            out = merge(*args, **kwargs)
        if s is not None:
            s["attrs"].update(timings)
        return out

    tracer.patch_function(merge, traced_merge)


def layer_metrics(spans: list[dict], jobs: list[dict], window: str) -> dict[str, float]:
    """Per-layer totals over a set of operations' spans and jobs.

    Returns ``<layer>.s`` (wall in the layer's outermost spans),
    ``<layer>.self_s``, ``<layer>.jobs`` (jobs submitted in the layer's
    own time), ``<layer>.py4j_calls`` (self) and ``<layer>.calls`` for
    every layer seen. ``exec.*`` covers the jobs outside the build layers
    (``io``, ``operators``); ``exec.s`` is the wall of the spans named
    ``window`` and ``exec.gap_s`` the part of it during which no job ran.
    """
    selfs = self_times(spans)
    by_id = {s["id"]: s for s in spans}
    out: dict[str, float] = {}

    def add(key: str, v: float) -> None:
        out[key] = out.get(key, 0.0) + v

    for s in spans:
        add(f"{s['name']}_s", s["end"] - s["start"])
        for k, v in s["attrs"].items():
            if isinstance(v, (int, float)):
                add(f"{layer_of(s['name'])}.{k}", v)

    child_py4j: dict[int, int] = {}
    for s in spans:
        if s["parent"] is not None:
            child_py4j[s["parent"]] = child_py4j.get(s["parent"], 0) + s["py4j1"] - s["py4j0"]
    for s in spans:
        layer = layer_of(s["name"])
        parent = by_id.get(s["parent"])
        if parent is None or layer_of(parent["name"]) != layer:
            add(f"{layer}.s", s["end"] - s["start"])
            add(f"{layer}.calls", 1)
        add(f"{layer}.self_s", selfs[s["id"]])
        add(f"{layer}.py4j_calls", s["py4j1"] - s["py4j0"] - child_py4j.get(s["id"], 0))
        out.setdefault(f"{layer}.jobs", 0.0)
    build_layers = {"io", "operators"}
    exec_jobs = []
    for j in jobs:
        layer = layer_of(by_id[j["span"]]["name"])
        add(f"{layer}.jobs", 1)
        if layer not in build_layers:
            exec_jobs.append(j)
    wins = [s for s in spans if s["name"] == window]
    out["exec.s"] = sum(w["end"] - w["start"] for w in wins)
    out["exec.gap_s"] = sum(
        (w["end"] - w["start"])
        - union_length([
            (max(j["start"], w["start"]), min(j["end"], w["end"]))
            for j in jobs if w["start"] <= j["start"] <= w["end"]
        ])
        for w in wins
    )
    out["exec.jobs"] = float(len(exec_jobs))
    out["exec.tasks"] = float(sum(j["tasks"] for j in exec_jobs))
    out["exec.job_s"] = sum(j["end"] - j["start"] for j in exec_jobs)
    out["exec.busy_s"] = union_length([(j["start"], j["end"]) for j in exec_jobs])
    out["exec.executor_run_s"] = sum(j["run_ms"] for j in exec_jobs) / 1000.0
    out["exec.shuffle_write_mb"] = sum(j["shuffle_write"] for j in exec_jobs) / 1e6
    out["exec.spill_mb"] = sum(j["spill"] for j in exec_jobs) / 1e6
    return out
