#!/usr/bin/env python3
"""Delivered-result benchmark for rsbsa_etl_spark.

    python3 perfbench/run.py --workload cdc_sync --seed 7 --seconds 8 --trace 0

Run from the repository root. One process, one client, a closed loop on
``local[4]``: set up the session, run one cold pass, check every result
against its oracle (untimed), then run warm passes until ``--seconds``
have elapsed and the workload's minimum of warm passes has run.
``--trace 0`` prints the end-to-end metrics; ``--trace 1`` alternates
traced and untraced warm passes and prints the per-layer metrics. The
last line of standard output is one JSON object. See perfbench/README.md
for the workloads and metric definitions.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
#: a seed never used while the benchmark or the engine was tuned
HOLDOUT_SEED = 90211
#: traced warm passes per traced run at the least, so that counts can be
#: compared across two passes
MIN_TRACED = 2

#: (name, unit, printed in the JSON). Printed but kept out of the JSON's
#: regression-checked metrics: op_p90_s, because a run's 3 op samples
#: leave fewer than 10 beyond it, and error_rate, cache_retained_mb and
#: bytes_written_mb, because they can be 0
END_TO_END = [
    ("setup_s", "s", True),
    ("cold_pass_s", "s", True),
    ("pass_s", "s", True),
    ("op_p50_s", "s", True),
    ("op_p90_s", "s", False),
    ("error_rate", "ratio", False),
    ("cache_retained_mb", "MB", False),
    ("bytes_written_mb", "MB", False),
]


def per_layer_spec() -> list[tuple[str, str]]:
    """every per-layer metric name with its unit, in print order"""
    from tracing import LAYER_MODULES
    from workloads import WORKLOADS, op_names

    names = [
        "registry.import_s", "session.start_s",
        "build.s", "build.jobs", "plan.s",
        "exec.s", "exec.jobs", "exec.tasks", "exec.cpu_s", "exec.gc_s",
        "exec.cpu_util",
    ]
    for layer in LAYER_MODULES:
        names += [f"{layer}.self_s", f"{layer}.calls", f"{layer}.jobs"]
    names += [
        "scan.s", "scan.bytes", "scan.rows", "scan.files",
        "shuffle.write_bytes", "shuffle.records", "shuffle.fetch_wait_s",
        "codegen.s", "agg.build_s", "sort.s", "broadcast.bytes",
        "broadcast.collect_s",
        "python.run_s", "python.start_s", "python.bytes_sent",
        "python.bytes_returned",
        "spill.bytes", "peak_mem.bytes",
        "write.files", "write.bytes", "write.commit_s",
        "sink.buckets_touched", "sink.bytes_per_changed_row",
        "cache.persisted_rdds", "cache.retained_mb",
    ]
    seen = set(names)
    for w in WORKLOADS:
        for op in op_names(w):
            if f"op.{op}.s" not in seen:
                seen.add(f"op.{op}.s")
                names.append(f"op.{op}.s")
    names.append("trace.overhead_frac")
    return [(n, _unit(n)) for n in names]


def _unit(name: str) -> str:
    q = name.rsplit(".", 1)[-1]
    if name in ("exec.cpu_util", "trace.overhead_frac"):
        return "ratio"
    if name == "sink.bytes_per_changed_row":
        return "bytes/row"
    if name == "cache.retained_mb":
        return "MB"
    if q == "s" or q.endswith("_s"):
        return "s"
    if "bytes" in q:
        return "bytes"
    return "count"


def _isolate(run_dir: Path) -> None:
    """keep every file the engine, Spark and Python workers write
    inside the run's own directory"""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )


def _stop(spark) -> None:
    """stop the session and wait for the JVM (and with it the Python
    worker daemon) to exit"""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - last resort: never leave it running
            proc.kill()
            proc.wait()


def run(args) -> dict:
    from workloads import (
        WORKLOADS, Workload, cpu_ticks, median, net_of_steal, op_names, p90,
    )

    import fixtures
    from tracing import Tracer, install_layer_wrappers

    spec = WORKLOADS[args.workload]
    t_run = time.perf_counter()
    sf_dir, manifest = fixtures.ensure(ROOT, WORK / "fixtures", spec["sf"], args.seed)
    run_dir = WORK / "runs" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    _isolate(run_dir)
    out_dir = WORK / "out"
    out_dir.mkdir(parents=True, exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"

    tracer = Tracer()
    spark = None
    try:
        # ---- setup: registry import, session, warm-up, initial load
        ticks0 = cpu_ticks()
        t = time.perf_counter()
        if args.trace:
            install_layer_wrappers(tracer)
        import rsbsa_etl_spark.registry  # noqa: F401
        from rsbsa_etl_spark.session import get_spark

        import_s = time.perf_counter() - t
        t = time.perf_counter()
        spark = get_spark(cpus=4)
        session_s = time.perf_counter() - t
        t = time.perf_counter()
        spark.range(1000).selectExpr("sum(id)").collect()
        wl = Workload(args.workload, spark, str(sf_dir), run_dir, manifest, tracer)
        warmup_s = time.perf_counter() - t
        t = time.perf_counter()
        if wl.target is not None:
            wl.target.initial_load()
        load_s = time.perf_counter() - t
        setup_wall_s = import_s + session_s + warmup_s + load_s
        setup_s = net_of_steal(setup_wall_s, ticks0, cpu_ticks())

        # ---- cold pass, gate, warm passes
        wl.run_pass(traced=False)
        t = time.perf_counter()
        gate = wl.gate()
        gate_s = time.perf_counter() - t
        t_warm = time.perf_counter()
        warm = []
        # a traced run alternates traced and untraced passes, so both
        # ride the same stretch of the ramp; one untraced pass is
        # enough for trace.overhead_frac
        min_plain = 1 if args.trace else spec["min_warm"]
        while True:
            traced = bool(args.trace) and len(warm) % 2 == 0
            warm.append(wl.run_pass(traced=traced))
            n_traced = sum(p.traced for p in warm)
            enough = len(warm) - n_traced >= min_plain and (
                not args.trace or n_traced >= MIN_TRACED
            )
            if enough and time.perf_counter() - t_warm >= args.seconds:
                break
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    # ---- metrics
    bad_ops = {k for k, r in gate.items() if not r["green"]}
    all_ops = [o for p in wl.passes for o in p.ops]
    failed = sum(1 for o in all_ops if not o.ok or o.name in bad_ops)
    plain = [p for p in warm if not p.traced]
    samples = [o.net_s for p in plain for o in p.ops]
    e2e = {
        "setup_s": setup_s,
        "cold_pass_s": wl.passes[0].net_s,
        "pass_s": median([p.net_s for p in plain]),
        "op_p50_s": median(samples),
        "op_p90_s": p90(samples),
        "error_rate": failed / len(all_ops),
        "cache_retained_mb": median([p.retained_mb for p in wl.passes]),
        "bytes_written_mb": median([p.written_bytes / 1e6 for p in wl.passes]),
    }
    # the same timings before removing hypervisor steal
    wall = {
        "setup_wall_s": setup_wall_s,
        "cold_pass_wall_s": wl.passes[0].seconds,
        "pass_wall_s": median([p.seconds for p in plain]),
    }
    record = {
        "workload": args.workload, "seed": args.seed, "sf": spec["sf"],
        "cores": 4, "ops": op_names(args.workload),
        "fixture": manifest, "gate": gate, "end_to_end": e2e,
        "op_samples": len(samples), "gate_s": gate_s,
        "setup_parts": {"import_s": import_s, "session_s": session_s,
                        "warmup_s": warmup_s, "load_s": load_s},
        "wall": wall,
        "wall_s": time.perf_counter() - t_run,
        "passes": [
            {
                "traced": p.traced, "seconds": p.seconds,
                "net_s": p.net_s,
                "ops": {o.name: [o.seconds, o.ok, o.net_s] for o in p.ops},
                "retained_mb": p.retained_mb,
                "persisted_rdds": p.persisted_rdds,
                "written_bytes": p.written_bytes,
                "buckets_touched": p.buckets_touched,
                "layers": p.layers,
            }
            for p in wl.passes
        ],
    }

    print(f"workload {args.workload}: sf{spec['sf']} seed {args.seed}, "
          f"local[4], ops {', '.join(op_names(args.workload))}")
    for t_name, st in manifest.items():
        print(f"  fixture {t_name}: {st['rows']} rows, {st['bytes']} bytes, "
              f"{st['files']} files")
    for k, r in gate.items():
        print(f"  gate {k}: {'green' if r['green'] else 'RED'}"
              + (f" ({r['err']})" if r.get("err") else ""))
    print(f"  passes: 1 cold + {len(plain)} warm"
          + (f" + {len(warm) - len(plain)} traced" if args.trace else "")
          + f"; {len(samples)} warm op samples")
    for name, unit, _ in END_TO_END:
        print(f"  {name} = {e2e[name]:.6g} {unit}")
    for name, v in wall.items():
        print(f"  {name} = {v:.6g} s")

    if args.trace:
        traced = [p for p in warm if p.traced]
        layers = {"registry.import_s": import_s, "session.start_s": session_s}
        for name, _ in per_layer_spec():
            if name not in layers and name != "trace.overhead_frac":
                layers[name] = median([p.layers.get(name, 0.0) for p in traced])
        layers["trace.overhead_frac"] = (
            median([p.net_s for p in traced]) / e2e["pass_s"] - 1
        )
        counts = {
            q: [p.layers.get(q, 0.0) for p in traced]
            for q in ("build.jobs", "write.files", "sink.buckets_touched",
                      "cache.retained_mb")
        }
        for q, vs in counts.items():
            print(f"  per-pass {q}: {vs}")
        for name, unit in per_layer_spec():
            print(f"  {name} = {layers[name]:.6g} {unit}")
        tracer.write(str(out_dir / f"{tag}-spans.jsonl"))
        record["per_layer"] = layers
        record["per_pass_counts"] = counts
        metrics = {n: {"value": layers[n], "unit": u} for n, u in per_layer_spec()}
    else:
        metrics = {
            n: {"value": e2e[n], "unit": u} for n, u, keep in END_TO_END if keep
        }
    (out_dir / f"{tag}.json").write_text(json.dumps(record, indent=1, default=str))
    return {
        "correct": failed == 0 and not bad_ops,
        "attempted": len(all_ops),
        "failed": failed,
        "metrics": metrics,
    }


def main(argv: list[str] | None = None) -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--holdout-seed", action="store_true",
        help=f"ignore --seed and use {HOLDOUT_SEED}, a seed not used "
        "while tuning",
    )
    args = ap.parse_args(argv)
    if args.holdout_seed:
        args.seed = HOLDOUT_SEED
    missing = [
        p for p in ("rsbsa_etl_spark/registry.py", "tools/gen_sf.py")
        if not (ROOT / p).is_file()
    ]
    if missing:
        print(f"perfbench: not a repository checkout, missing {missing}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
