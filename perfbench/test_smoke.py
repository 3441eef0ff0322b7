"""Smoke test of the benchmark at tiny sizes.

    python3 -m pytest perfbench/test_smoke.py -q

Runs every workload once untraced and once traced, and checks that each
metric BENCHMARK.json names is printed with its unit, that the layers
each workload runs read non-zero, and that every output check passed.
Also checks that the runner refuses to run, without printing a result,
in a directory holding only the benchmark.
"""

from __future__ import annotations

import json
import math
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
WORKLOADS = ["geo_pages", "geo_pipeline_resume", "raster_tiles", "text_dedup"]
TIMEOUT_S = 600

# the per-layer metrics each workload produces; the result line reports
# a layer the workload does not run as 0
LAYERS_OF = {
    "geo_pages": ["sources.pages.scan_s", "operators.spatial_join.fused_pages_pip_s"],
    "geo_pipeline_resume": [
        "sources.pages.scan_s", "operators.spatial_join.fused_pages_pip_s",
        "plans.lineage.python_ms", "plans.lineage.bytes_sent",
        "plans.partitioning.histogram_s", "plans.partitioning.skew_ratio",
        "plans.checkpoint.write_s", "plans.checkpoint.buckets_written",
        "plans.checkpoint.buckets_skipped", "plans.checkpoint.useful_ratio",
    ],
    "raster_tiles": ["sources.rasters.read_s", "operators.tiling.focal_stats_s",
                     "shuffle.bytes_written"],
    "text_dedup": ["sources.pages.scan_s", "operators.dedup.substring_s",
                   "operators.dedup.minhash_s", "queries_textdata.bloom_s",
                   "shuffle.bytes_written"],
}


def _run(cwd: Path, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd,
        capture_output=True, text=True, timeout=TIMEOUT_S, check=False)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_workload_prints_every_metric(workload: str, trace: int) -> None:
    proc = _run(ROOT, "--workload", workload, "--seed", "7", "--seconds", "0",
                "--trace", str(trace), "--scale", "tiny")
    assert proc.returncode == 0, proc.stderr[-4000:]
    report, result = (json.loads(x) for x in proc.stdout.strip().splitlines()[-2:])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, report["errors"]
    assert result["attempted"] >= 1
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    wanted = spec["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in wanted}
    for m in wanted:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], float) and math.isfinite(got["value"])
        if not trace:
            assert got["value"] > 0, m["name"]
    if trace:
        for name in LAYERS_OF[workload]:
            assert report["metrics"][name] > 0, name


def test_refuses_without_the_engine(tmp_path: Path) -> None:
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(tmp_path, "--workload", "geo_pages", "--seed", "1",
                "--seconds", "1", "--trace", "0")
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
