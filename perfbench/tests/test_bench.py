"""Self-test of the benchmark.

    python3 -m pytest perfbench/tests -q

The fast tests need no Spark. The ``selftest`` tests run one
small-seed benchmark per workload and mode (about a minute each on a
4-CPU box); deselect them with ``-m 'not selftest'``.
"""

from __future__ import annotations

import json
import re
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent.parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

from run import END_TO_END, per_layer_spec  # noqa: E402
from tracing import Tracer, parse_metric  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

SEED = 3
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def test_parse_metric_formats():
    assert parse_metric("60,099") == 60099
    assert parse_metric("1056.0 KiB") == 1056 * 1024
    assert parse_metric("387 ms") == pytest.approx(0.387)
    assert parse_metric(
        "total (min, med, max (stageId: taskId))\n1.9 s (593 ms, 601 ms, 736 ms)"
    ) == pytest.approx(1.9)


def test_self_time_subtracts_children():
    tr = Tracer()
    tr.recording = True
    with tr.op("o1", "k"):
        outer = tr.begin("plans", "plans")
        inner = tr.begin("operators", "operators")
        tr.end(inner)
        tr.end(outer)
    tr.spans[outer].start, tr.spans[outer].end = 0.0, 3.0
    tr.spans[inner].start, tr.spans[inner].end = 1.0, 2.0
    tr.attribute_jobs("o1", {7: 1.5, 8: 2.5})
    tot = tr.layer_totals({"o1"})
    assert tot["plans.self_s"] == pytest.approx(2.0)
    assert tot["operators.self_s"] == pytest.approx(1.0)
    assert (tot["plans.jobs"], tot["operators.jobs"]) == (1, 1)


def test_spec_matches_benchmark_json():
    assert [w["name"] for w in SPEC["workloads"]] == list(WORKLOADS)
    assert [(m["name"], m["unit"]) for m in SPEC["per_layer"]] == per_layer_spec()
    json_e2e = [(n, u) for n, u, keep in END_TO_END if keep]
    assert [(m["name"], m["unit"]) for m in SPEC["end_to_end"]] == json_e2e


def test_fails_outside_a_checkout(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".work"))
    p = subprocess.run(
        [sys.executable, *SPEC["command"][1:], "--workload", "cdc_sync",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""


def _bench(workload: str, trace: int) -> tuple[str, dict]:
    p = subprocess.run(
        [sys.executable, *SPEC["command"][1:], "--workload", workload,
         "--seed", str(SEED), "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=400,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    return p.stdout, result


def _printed(stdout: str) -> dict[str, tuple[float, str]]:
    return {
        m.group(1): (float(m.group(2)), m.group(3))
        for m in re.finditer(r"^  (\S+) = (\S+) (\S+)$", stdout, re.M)
    }


@pytest.mark.selftest
@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_untraced_run_prints_every_end_to_end_metric(workload):
    stdout, result = _bench(workload, 0)
    printed = _printed(stdout)
    for name, unit, _ in END_TO_END:
        assert printed[name][1] == unit
    assert printed["error_rate"][0] == 0
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in SPEC["end_to_end"]
    }
    for m in SPEC["end_to_end"]:
        assert result["metrics"][m["name"]]["value"] > 0


@pytest.mark.selftest
@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_traced_run_counts_repeat_across_passes(workload):
    stdout, result = _bench(workload, 1)
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in SPEC["per_layer"]
    }
    assert _printed(stdout)["error_rate"][0] == 0
    record = json.loads(
        (HERE / ".work" / "out" / f"{workload}-seed{SEED}-trace1.json").read_text()
    )
    for name, per_pass in record["per_pass_counts"].items():
        assert len(per_pass) >= 2 and len(set(per_pass)) == 1, (name, per_pass)
