"""The benchmark's workloads, its pass loop and its correctness gate.

An *op* is one delivered result:

- a registry key: ``QUERIES[key](spark, sf_dir)`` followed by a ``noop``
  write that materialises every column;
- a storage tick: the change-log sync of ``plans.etl_pipeline`` landed
  on the keyed parquet target with ``sources.sinks``; the op ends when
  the last target write commits.

A pass runs every op of the workload once, back to back, in one
long-lived session. Before a pass the workload restores its base state
(untimed); after it the benchmark records what the session still has
cached and clears it.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path

from tracing import SparkProbe, Tracer

CORES = 4
#: target buckets; the sink's default 64 is sized for sf0.1 and up, and
#: at sf0.01 (750 base customers) it would leave ~12 rows per bucket file
N_BUCKETS = 16
#: events in the sparse tick's change-log slice (a few dozen keys)
SPARSE_EVENTS = 60

#: ``min_warm``: untraced warm passes a run measures at the least. The
#: JVM's JIT ramp goes on for several warm passes, so a run that stops
#: after however many passes fit in its window would read lower on a
#: fast host and higher on a slow one; a fixed floor makes every run
#: cover the same stretch of the ramp
WORKLOADS: dict[str, dict] = {
    "cdc_sync": {
        "sf": 0.01,
        "keys": ["string_upper_multi"],
        "ticks": True,
        "min_warm": 2,
    },
    "llm_curation": {
        "sf": 0.01,
        "keys": ["dedup_jaccard_auto", "mmr_rerank"],
        "ticks": False,
        "min_warm": 5,
    },
}
TICKS = ("tick_sparse", "tick_dense")


def op_names(workload: str) -> list[str]:
    w = WORKLOADS[workload]
    return [*(TICKS if w["ticks"] else ()), *w["keys"]]


def cpu_ticks() -> tuple[int, int]:
    """(busy, stolen) clock ticks summed over the VM's CPUs so far.
    Stolen ticks are time a CPU wanted to run but the hypervisor ran
    another tenant."""
    with open("/proc/stat") as fh:
        user, nice, system, _, _, irq, softirq, steal = (
            int(x) for x in fh.readline().split()[1:9]
        )
    return user + nice + system + irq + softirq, steal


def net_of_steal(seconds: float, before: tuple[int, int], after: tuple[int, int]) -> float:
    """``seconds`` of wall time scaled by the share of runnable CPU time
    the VM actually got between the two ``cpu_ticks`` readings: an
    estimate of the wall time on a host that stole nothing."""
    busy, stolen = after[0] - before[0], after[1] - before[1]
    return seconds * (1 - stolen / (busy + stolen)) if busy + stolen else seconds


def _data_files(root: Path) -> dict[str, int]:
    """committed parquet part files under ``root`` -> size in bytes"""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            if f.startswith("part-"):
                p = os.path.join(d, f)
                out[p] = os.path.getsize(p)
    return out


class KeyedTarget:
    """The reference's sync target: customer (one-to-one, upsert) and
    lineitem (one-to-many, keyed overwrite), stored key-bucketed."""

    def __init__(self, spark, sf_dir: str, work: Path, n_events: int):
        from pyspark.sql import functions as F

        from rsbsa_etl_spark import params as P
        from rsbsa_etl_spark.functions.numeric import dec_round
        from rsbsa_etl_spark.sources.fixtures import load

        self.spark = spark
        self.base, self.live = work / "target_base", work / "target"
        self.landed_sparse = work / "landed_sparse"
        cust = load(spark, sf_dir, "customer")
        li = load(spark, sf_dir, "lineitem").select(
            F.col("l_orderkey").alias("rsbsa_no"),
            "l_linenumber",
            dec_round(F.col("l_quantity"), 2).alias("l_quantity"),
        )
        self.sources = {
            "customer": cust.select(
                F.col("c_custkey").alias("rsbsa_no"), "c_name", "c_mktsegment"
            ),
            "lineitem": li,
        }
        # base state diverges from the sources (lower-cased names, odd
        # order keys only) so both merge paths do real work
        self.initial = {
            "customer": cust.where(F.col("c_custkey") % 2 == 0).select(
                F.col("c_custkey").alias("rsbsa_no"),
                F.lower(F.col("c_name")).alias("c_name"),
                "c_mktsegment",
            ),
            "lineitem": li.where(F.col("rsbsa_no") % 2 == 1),
        }
        # change log: events routed to customer/lineitem by user_id % 3
        # (remainder 2 is unroutable), key 0 nulled (invalid row)
        ev = load(spark, sf_dir, "events")
        self.changelog = ev.select(
            F.col("event_id").alias("log_id"),
            F.nullif(F.col("user_id"), F.lit(0)).alias("rsbsa_no"),
            F.when(F.col("user_id") % 3 == 0, F.lit("customer"))
            .when(F.col("user_id") % 3 == 1, F.lit("lineitem"))
            .alias("table"),
        )
        self.since = {
            "tick_sparse": n_events - 1 - SPARSE_EVENTS,
            "tick_dense": P.WATERMARK_EVENT_ID,
        }

    def initial_load(self) -> None:
        from rsbsa_etl_spark.sources.sinks import write_keyed_target

        for table, df in self.initial.items():
            write_keyed_target(df, str(self.base / table), "rsbsa_no", N_BUCKETS)

    def reset(self) -> None:
        shutil.rmtree(self.live, ignore_errors=True)
        shutil.copytree(self.base, self.live)

    def batches(self, tick: str) -> dict:
        from pyspark.sql import functions as F

        from rsbsa_etl_spark.functions.strings import apply_table_rules
        from rsbsa_etl_spark.operators.scans import keyed_scan_df
        from rsbsa_etl_spark.plans.etl_pipeline import changed_keys

        keys = changed_keys(self.changelog, self.since[tick])
        return {
            t: apply_table_rules(
                keyed_scan_df(
                    src, "rsbsa_no",
                    keys.where(F.col("table") == t).select("rsbsa_no"),
                ),
                t,
            )
            for t, src in self.sources.items()
        }

    def tick(self, tick: str) -> None:
        from rsbsa_etl_spark.sources.sinks import overwrite_by_key_into, upsert_into

        b = self.batches(tick)
        upsert_into(b["customer"], str(self.live / "customer"), "rsbsa_no", N_BUCKETS)
        overwrite_by_key_into(
            b["lineitem"], str(self.live / "lineitem"), "rsbsa_no", N_BUCKETS
        )

    def read(self, root: Path, table: str):
        from rsbsa_etl_spark.sources.sinks import BUCKET_COL, read_keyed_target

        return read_keyed_target(self.spark, str(root / table)).drop(BUCKET_COL)

    def check(self) -> tuple[dict[str, bool], dict[str, int]]:
        """Each tick's landed target against ``operators.sync`` applied
        to the state before it. Returns (tick -> equal, tick -> changed
        rows). Run after the pass that saved ``landed_sparse``. The four
        (tick, table) checks are independent and untimed, so they run
        in parallel."""
        from concurrent.futures import ThreadPoolExecutor

        from rsbsa_etl_spark.operators.sync import overwrite_by_key, upsert_merge
        from rsbsa_etl_spark.verify import canon

        merge = {"customer": upsert_merge, "lineitem": overwrite_by_key}
        states = {
            "tick_sparse": (self.base, self.landed_sparse),
            "tick_dense": (self.landed_sparse, self.live),
        }

        def one(tick: str, table: str) -> tuple[bool, int]:
            before, after = states[tick]
            batch = self.batches(tick)[table]
            want = merge[table](self.read(before, table), batch, "rsbsa_no").toPandas()
            got = self.read(after, table).toPandas()
            equal = len(got) == len(want) and canon(got).equals(canon(want))
            return equal, batch.count()

        jobs = [(tick, t) for tick in TICKS for t in merge]
        with ThreadPoolExecutor(len(jobs)) as pool:
            results = list(pool.map(lambda j: one(*j), jobs))
        ok = {tick: True for tick in TICKS}
        changed = {tick: 0 for tick in TICKS}
        for (tick, _), (equal, n) in zip(jobs, results):
            ok[tick] &= equal
            changed[tick] += n
        return ok, changed


@dataclass
class OpSample:
    name: str
    seconds: float
    ok: bool
    net_s: float


@dataclass
class Pass:
    index: int
    traced: bool
    ops: list[OpSample]
    persisted_rdds: int
    retained_mb: float
    written_bytes: int
    buckets_touched: int
    layers: dict[str, float] = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return sum(o.seconds for o in self.ops)

    @property
    def net_s(self) -> float:
        return sum(o.net_s for o in self.ops)


class Workload:
    """One workload in one long-lived session."""

    def __init__(self, name: str, spark, sf_dir: str, work: Path,
                 manifest: dict, tracer: Tracer):
        from rsbsa_etl_spark.registry import QUERIES

        self.name, self.spark, self.sf_dir = name, spark, sf_dir
        self.queries = QUERIES
        self.tracer = tracer
        self.probe = SparkProbe(spark)
        self.spec = WORKLOADS[name]
        self.target = (
            KeyedTarget(spark, sf_dir, work, manifest["events"]["rows"])
            if self.spec["ticks"] else None
        )
        self.passes: list[Pass] = []
        self.changed_rows = 0
        self._before: dict[str, int] = {}

    # -- ops ---------------------------------------------------------
    def _key_op(self, key: str) -> None:
        tr = self.tracer
        with tr.span("build"):
            df = self.queries[key](self.spark, self.sf_dir)
        if tr.recording:
            with tr.span("plan"):
                df._jdf.queryExecution().executedPlan()
        with tr.span("exec"):
            df.write.format("noop").mode("overwrite").save()

    def _tick_op(self, tick: str) -> None:
        with self.tracer.span("exec"):
            self.target.tick(tick)

    def _run_op(self, name: str) -> None:
        if name in TICKS:
            self._tick_op(name)
        else:
            self._key_op(name)

    # -- passes ------------------------------------------------------
    def run_pass(self, traced: bool) -> Pass:
        index = len(self.passes)
        if self.target is not None:
            self.target.reset()
            self._before = _data_files(self.target.live)
        written = buckets = 0
        ops, layers = [], {}
        sc = self.spark.sparkContext
        for name in op_names(self.name):
            op_id = f"{self.name}.p{index}.{name}"
            sc.setJobGroup(op_id, name)
            if traced:
                self.probe.drain()
                self.probe.mark()
            self.tracer.recording = traced
            c0 = cpu_ticks()
            t0 = time.perf_counter()
            try:
                with self.tracer.op(op_id, name) as root:
                    self._run_op(name)
                ok = True
            except Exception:  # noqa: BLE001 - a failed op is counted, not fatal
                traceback.print_exc(file=sys.stderr)
                ok = False
            dt = time.perf_counter() - t0
            self.tracer.recording = False
            ops.append(OpSample(name, dt, ok, net_of_steal(dt, c0, cpu_ticks())))
            if name in TICKS:
                w, b = self._landed(name, index)
                written += w
                buckets += b
            if traced:
                _add(layers, self._op_layers(op_id, root, name, dt))
        persisted, retained = self.probe.cached()
        self.probe.clear_cache()
        p = Pass(index, traced, ops, persisted, retained, written, buckets)
        if traced:
            layers.update(self.tracer.layer_totals(
                {f"{self.name}.p{index}.{n}" for n in op_names(self.name)}
            ))
            layers["exec.cpu_util"] = (
                layers.get("exec.cpu_s", 0.0)
                / max(layers.get("exec.s", 0.0) * CORES, 1e-9)
            )
            layers["cache.persisted_rdds"] = persisted
            layers["cache.retained_mb"] = retained
            layers["sink.buckets_touched"] = buckets
            layers["sink.bytes_per_changed_row"] = (
                written / self.changed_rows if self.changed_rows else 0.0
            )
            p.layers = layers
        self.passes.append(p)
        return p

    def _landed(self, tick: str, index: int) -> tuple[int, int]:
        """(bytes, buckets) the tick committed to the target; on the
        first pass also keep the sparse tick's landed state for the
        gate."""
        after = _data_files(self.target.live)
        new = {p: s for p, s in after.items() if p not in self._before}
        self._before = after
        if index == 0 and tick == "tick_sparse":
            shutil.copytree(self.target.live, self.target.landed_sparse)
        return sum(new.values()), len({os.path.dirname(p) for p in new})

    def _op_layers(self, op_id: str, root: int, name: str, dt: float) -> dict:
        tr, probe = self.tracer, self.probe
        probe.drain()
        tr.attribute_jobs(op_id, probe.jobs(op_id))
        out = {f"op.{name}.s": dt}
        for i in range(root + 1, len(tr.spans)):
            s = tr.spans[i]
            if s.parent != root:
                continue
            jobs = tr.subtree_jobs(i)
            out[f"{s.name}.s"] = out.get(f"{s.name}.s", 0.0) + s.end - s.start
            if s.name in ("build", "exec"):
                out[f"{s.name}.jobs"] = out.get(f"{s.name}.jobs", 0) + len(jobs)
            if s.name == "exec":
                st = probe.stage_totals(jobs)
                for q in ("tasks", "cpu_s", "gc_s"):
                    out[f"exec.{q}"] = out.get(f"exec.{q}", 0.0) + st[q]
        _add(out, probe.new_node_metrics())
        return out

    # -- correctness gate -------------------------------------------
    def gate(self) -> dict[str, dict]:
        """Untimed, once per run: every key through the DuckDB oracle
        (``verify.verify_key``) and every tick's landed target against
        its pure-plan semantics."""
        from rsbsa_etl_spark.verify import row_green, verify_keys

        self.spark.sparkContext.setJobGroup(f"{self.name}.gate", "gate")
        rows = {
            k: {"green": row_green(r), **r}
            for k, r in verify_keys(self.spark, self.spec["keys"], self.sf_dir).items()
        }
        if self.target is not None:
            try:
                ok, changed = self.target.check()
            except Exception:  # noqa: BLE001 - the gate reports, never raises
                traceback.print_exc(file=sys.stderr)
                ok, changed = {t: False for t in TICKS}, {}
            self.changed_rows = sum(changed.values())
            for t in TICKS:
                rows[t] = {"green": ok[t], "changed_rows": changed.get(t)}
        self.probe.clear_cache()
        return rows


def _add(acc: dict, more: dict) -> None:
    for k, v in more.items():
        acc[k] = acc.get(k, 0.0) + v


def median(xs):
    return statistics.median(xs) if xs else 0.0


def p90(xs):
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=10, method="inclusive")[8]
