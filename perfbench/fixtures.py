"""Seeded input generation through ``tools/gen_sf.py``, cached by
(sf, seed) under the benchmark's scratch area."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

#: the sf-invariant TPC-H dimension tables gen_sf.py copies from
#: ``--ref``; written here so generation needs nothing outside the repo
REGION = pa.table({
    "r_regionkey": pa.array(range(5), pa.int32()),
    "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
})
NATION = pa.table({
    "n_nationkey": pa.array(range(25), pa.int32()),
    "n_name": [f"NATION_{i}" for i in range(25)],
    "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
})


def _table_stats(path: Path) -> dict:
    files = [path] if path.is_file() else sorted(path.glob("*.parquet"))
    return {
        "rows": sum(pq.ParquetFile(f).metadata.num_rows for f in files),
        "bytes": sum(f.stat().st_size for f in files),
        "files": len(files),
    }


def ensure(root: Path, cache: Path, sf: float, seed: int) -> tuple[Path, dict]:
    """Return (fixture dir, manifest) for (sf, seed), generating it
    on first use. The manifest holds each table's rows, bytes and
    file count."""
    out = cache / f"sf{sf}-seed{seed}"
    manifest = out / "MANIFEST.json"
    if manifest.exists():
        return out, json.loads(manifest.read_text())
    ref = cache / "ref"
    if not (ref / "nation.parquet").exists():
        ref.mkdir(parents=True, exist_ok=True)
        pq.write_table(REGION, ref / "region.parquet")
        pq.write_table(NATION, ref / "nation.parquet")
    partial = cache / f".partial-{out.name}-{os.getpid()}"
    shutil.rmtree(partial, ignore_errors=True)
    subprocess.run(
        [
            sys.executable, str(root / "tools" / "gen_sf.py"),
            "--sf", str(sf), "--seed", str(seed),
            "--out", str(partial), "--ref", str(ref),
        ],
        check=True, stdout=subprocess.DEVNULL,
    )
    tables = {
        p.name.removesuffix(".parquet"): _table_stats(p)
        for p in sorted(partial.glob("*.parquet"))
    }
    (partial / "MANIFEST.json").write_text(json.dumps(tables, indent=1))
    partial.rename(out)
    return out, tables
