"""Tracing for the benchmark's traced run.

Everything here observes the engine from outside:

- ``install_layer_wrappers`` replaces each public function of the layer
  modules with a wrapper that records a span while a ``Tracer`` is
  recording. It must run before ``rsbsa_etl_spark.registry`` is
  imported, so that ``from ... import name`` bindings in
  ``families/*`` pick up the wrappers; bindings made earlier between
  the layer modules themselves are rebound in the same sweep.
- ``SparkProbe`` reads job, stage and per-node SQL metrics from Spark's
  status stores after an op's jobs have finished (the listener bus is
  asynchronous, so it is drained first).
- ``Tracer`` keeps spans in memory (name, start, end, parent, op id),
  attributes Spark jobs to the innermost span that submitted them, and
  folds one pass of spans into per-layer totals.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import re
import sys
import time
from dataclasses import asdict, dataclass, field

#: layer name -> modules whose public functions form that layer
LAYER_MODULES: dict[str, tuple[str, ...]] = {
    "functions.similarity": ("rsbsa_etl_spark.functions.similarity",),
    "functions.retrieval": ("rsbsa_etl_spark.functions.retrieval",),
    "functions.dedup": ("rsbsa_etl_spark.functions.dedup",),
    "functions.textstats": ("rsbsa_etl_spark.functions.textstats",),
    "functions.curation": ("rsbsa_etl_spark.functions.curation",),
    "functions.strings": ("rsbsa_etl_spark.functions.strings",),
    "operators": tuple(
        f"rsbsa_etl_spark.operators.{m}"
        for m in (
            "aggregates", "analytics", "filters", "joins",
            "profiling", "scans", "sorts", "sync",
        )
    ),
    "plans": (
        "rsbsa_etl_spark.plans.etl_pipeline",
        "rsbsa_etl_spark.plans.tpch",
    ),
    "sources.fixtures": ("rsbsa_etl_spark.sources.fixtures",),
    "sources.sinks": ("rsbsa_etl_spark.sources.sinks",),
    "sources.ann_index": ("rsbsa_etl_spark.sources.ann_index",),
    "streaming.stateful": ("rsbsa_etl_spark.streaming.stateful",),
}

#: (node-name prefix or None for any node, SQL metric name) -> layer metric
NODE_METRICS: dict[tuple[str | None, str], str] = {
    ("Scan", "scan time"): "scan.s",
    ("Scan", "size of files read"): "scan.bytes",
    ("Scan", "number of output rows"): "scan.rows",
    ("Scan", "number of files read"): "scan.files",
    ("Exchange", "shuffle bytes written"): "shuffle.write_bytes",
    ("Exchange", "shuffle records written"): "shuffle.records",
    ("Exchange", "fetch wait time"): "shuffle.fetch_wait_s",
    ("WholeStageCodegen", "duration"): "codegen.s",
    (None, "time in aggregation build"): "agg.build_s",
    (None, "sort time"): "sort.s",
    ("BroadcastExchange", "data size"): "broadcast.bytes",
    ("BroadcastExchange", "time to collect"): "broadcast.collect_s",
    (None, "time to run Python workers"): "python.run_s",
    (None, "time to start Python workers"): "python.start_s",
    (None, "time to initialize Python workers"): "python.start_s",
    (None, "data sent to Python workers"): "python.bytes_sent",
    (None, "data returned from Python workers"): "python.bytes_returned",
    (None, "spill size"): "spill.bytes",
    (None, "peak memory"): "peak_mem.bytes",
    ("Execute", "number of written files"): "write.files",
    ("Execute", "written output"): "write.bytes",
    ("Execute", "task commit time"): "write.commit_s",
    ("Execute", "job commit time"): "write.commit_s",
}

_UNIT = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_VALUE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """Parse Spark's formatted SQL metric value into base units
    (bytes, seconds or a plain count).

    Spark prints ``"60,099"``, ``"1056.0 KiB"``, ``"387 ms"``, or for
    per-task metrics ``"total (min, med, max ...)\\n1.9 s (...)"``; the
    total is the first value of the last line."""
    m = _VALUE.match(text.splitlines()[-1])
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNIT.get(m.group(2), 1)


@dataclass
class Span:
    name: str
    start: float  # time.time(), comparable with Spark's job timestamps
    end: float
    parent: int | None
    op: str
    layer: str | None = None
    jobs: list[int] = field(default_factory=list)


class Tracer:
    """In-memory span recorder. Spans are recorded only while
    ``recording`` is true; otherwise the wrappers call straight
    through."""

    def __init__(self) -> None:
        self.recording = False
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._op = ""

    def begin(self, name: str, layer: str | None = None) -> int:
        parent = self._stack[-1] if self._stack else None
        self.spans.append(
            Span(name, time.time(), 0.0, parent, self._op, layer)
        )
        idx = len(self.spans) - 1
        self._stack.append(idx)
        return idx

    def end(self, idx: int) -> None:
        self.spans[idx].end = time.time()
        self._stack.pop()

    def span(self, name: str, layer: str | None = None):
        return _SpanContext(self, name, layer)

    def op(self, op_id: str, name: str):
        self._op = op_id
        return _SpanContext(self, f"op.{name}", None)

    def attribute_jobs(self, op_id: str, jobs: dict[int, float]) -> None:
        """Give each job (id -> submission time in epoch seconds) to
        the innermost span of ``op_id`` whose interval holds it."""
        spans = [s for s in self.spans if s.op == op_id]
        for jid, at in jobs.items():
            best = None
            for s in spans:
                # Spark truncates the stamp to whole milliseconds
                if s.start - 1e-3 < at <= s.end:
                    if best is None or s.start >= best.start:
                        best = s
            if best is not None:
                best.jobs.append(jid)

    def layer_totals(self, op_ids: set[str]) -> dict[str, float]:
        """Per-layer self time, call count and self jobs over the spans
        of ``op_ids``. Self time is a span's duration minus the time its
        direct children cover (children nest and never overlap: the
        driver thread is single)."""
        out: dict[str, float] = {}
        child_time: dict[int, float] = {}
        for i, s in enumerate(self.spans):
            if s.op in op_ids and s.parent is not None:
                child_time[s.parent] = (
                    child_time.get(s.parent, 0.0) + s.end - s.start
                )
        for i, s in enumerate(self.spans):
            if s.op not in op_ids or s.layer is None:
                continue
            self_s = (s.end - s.start) - child_time.get(i, 0.0)
            for q, v in (
                ("self_s", self_s), ("calls", 1), ("jobs", len(s.jobs))
            ):
                k = f"{s.layer}.{q}"
                out[k] = out.get(k, 0.0) + v
        return out

    def subtree_jobs(self, root: int) -> list[int]:
        """Jobs of span ``root`` and all its descendants."""
        keep = {root}
        jobs = list(self.spans[root].jobs)
        for i in range(root + 1, len(self.spans)):
            if self.spans[i].parent in keep:
                keep.add(i)
                jobs.extend(self.spans[i].jobs)
        return jobs

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for i, s in enumerate(self.spans):
                fh.write(json.dumps({"id": i, **asdict(s)}) + "\n")


class _SpanContext:
    def __init__(self, tracer: Tracer, name: str, layer: str | None):
        self.tracer, self.name, self.layer = tracer, name, layer
        self.idx = -1

    def __enter__(self) -> int:
        if self.tracer.recording:
            self.idx = self.tracer.begin(self.name, self.layer)
        return self.idx

    def __exit__(self, *exc) -> None:
        if self.idx >= 0:
            self.tracer.end(self.idx)


def _wrap(fn, layer: str, tracer: Tracer):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        if not tracer.recording:
            return fn(*args, **kwargs)
        idx = tracer.begin(layer, layer)
        try:
            return fn(*args, **kwargs)
        finally:
            tracer.end(idx)

    # functools.wraps keeps __module__/__qualname__, so cloudpickle
    # still ships a wrapped function by reference and Python workers
    # resolve it to the plain function of their own import.
    return wrapper


def install_layer_wrappers(tracer: Tracer) -> int:
    """Wrap every public function of the layer modules and rebind
    every reference to it held by an already-imported package module.
    Returns the number of functions wrapped."""
    if "rsbsa_etl_spark.registry" in sys.modules:
        raise RuntimeError("layer wrappers must be installed before the registry import")
    wrapped: dict[int, object] = {}
    for layer, mods in LAYER_MODULES.items():
        for name in mods:
            mod = importlib.import_module(name)
            for attr, obj in list(vars(mod).items()):
                if (
                    not attr.startswith("_")
                    and inspect.isfunction(obj)
                    and obj.__module__ == name
                ):
                    w = _wrap(obj, layer, tracer)
                    wrapped[id(obj)] = w
                    setattr(mod, attr, w)
    for name, mod in list(sys.modules.items()):
        if not name.startswith("rsbsa_etl_spark") or mod is None:
            continue
        for attr, obj in list(vars(mod).items()):
            w = wrapped.get(id(obj))
            if w is not None:
                setattr(mod, attr, w)
    return len(wrapped)


class SparkProbe:
    """Reads Spark's status stores (the UI is disabled, the stores are
    not). Call ``drain`` before reading anything about finished jobs."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self.store = self._jsc.statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.mark()

    def mark(self) -> None:
        """forget the SQL executions so far"""
        self._n_exec = self.sql.executionsCount()

    def drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()

    def jobs(self, group: str) -> dict[int, float]:
        """job id -> submission time (epoch seconds) for a job group."""
        out = {}
        for jid in self.sc.statusTracker().getJobIdsForGroup(group):
            sub = self.store.job(jid).submissionTime()
            out[int(jid)] = sub.get().getTime() / 1000.0 if sub.isDefined() else 0.0
        return out

    def stage_totals(self, job_ids: list[int]) -> dict[str, float]:
        """tasks, CPU, run and GC time over the (deduplicated) stages
        that ran for ``job_ids``; skipped stages contribute nothing."""
        stages: set[int] = set()
        for jid in job_ids:
            ids = self.store.job(jid).stageIds()
            stages.update(int(ids.apply(i)) for i in range(ids.size()))
        tot = {"tasks": 0.0, "cpu_s": 0.0, "run_s": 0.0, "gc_s": 0.0}
        for sid in stages:
            try:
                st = self.store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - stage never submitted
                continue
            if str(st.status()) != "COMPLETE":
                continue
            tot["tasks"] += st.numCompleteTasks()
            tot["cpu_s"] += st.executorCpuTime() / 1e9
            tot["run_s"] += st.executorRunTime() / 1e3
            tot["gc_s"] += st.jvmGcTime() / 1e3
        return tot

    def new_node_metrics(self) -> dict[str, float]:
        """Operator metrics summed over the SQL executions that started
        since the previous call."""
        n = self.sql.executionsCount()
        out: dict[str, float] = {}
        if n == self._n_exec:
            return out
        execs = self.sql.executionsList(self._n_exec, n - self._n_exec)
        self._n_exec = n
        for i in range(execs.size()):
            eid = execs.apply(i).executionId()
            values = self.sql.executionMetrics(eid)
            nodes = self.sql.planGraph(eid).allNodes()
            for a in range(nodes.size()):
                node = nodes.apply(a)
                kind = node.name().split(" ")[0]
                metrics = node.metrics()
                for j in range(metrics.size()):
                    m = metrics.apply(j)
                    key = NODE_METRICS.get((kind, m.name())) or NODE_METRICS.get(
                        (None, m.name())
                    )
                    if key is None:
                        continue
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        out[key] = out.get(key, 0.0) + parse_metric(v.get())
        return out

    def cached(self) -> tuple[int, float]:
        """(persisted RDD count, cached MB in memory and on disk)."""
        self.drain()
        infos = self._jsc.getRDDStorageInfo()
        mb = sum(r.memSize() + r.diskSize() for r in infos) / 1e6
        return self.sc._jsc.getPersistentRDDs().size(), mb

    def clear_cache(self) -> None:
        """Drop cached tables and every persisted RDD, so the next pass
        starts from the same state."""
        self.spark.catalog.clearCache()
        rdds = self.sc._jsc.getPersistentRDDs()
        for rid in list(rdds.keySet()):
            rdds.get(rid).unpersist(True)
