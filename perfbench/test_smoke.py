"""Smoke tests of the benchmark itself (not part of the engine's tests).

    python3 -m pytest perfbench/test_smoke.py -q

Each workload runs in ``--smoke`` size, untraced and traced: the last
stdout line must be the result object with every metric name and
unit, and every output check must pass. A second test runs the
benchmark in a directory that holds only ``BENCHMARK.json`` and the
benchmark, where it must fail without printing a result. Takes a few
minutes: every run starts Spark.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))

from harness import END_TO_END, ETL_END_TO_END, ETL_LAYER, PER_LAYER  # noqa: E402


def _run(cwd: Path, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=900,
        check=False,
    )


def _benchmark_json() -> dict:
    return json.loads((ROOT / "BENCHMARK.json").read_text())


@pytest.mark.parametrize("trace", ["0", "1"])
@pytest.mark.parametrize("workload", ["query_mix", "archive_decode", "etl_daily"])
def test_smoke_run_reports_every_metric(workload: str, trace: str) -> None:
    p = _run(ROOT, "--workload", workload, "--seed", "7", "--seconds", "1",
             "--trace", trace, "--smoke")
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0, p.stdout
    assert result["attempted"] >= 1
    want = dict(PER_LAYER if trace == "1" else END_TO_END)
    if workload == "etl_daily":
        want.update(ETL_LAYER if trace == "1" else ETL_END_TO_END)
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want
    for v in result["metrics"].values():
        assert isinstance(v["value"], (int, float))


def test_benchmark_json_matches_the_harness() -> None:
    spec = _benchmark_json()
    assert spec["command"] == ["python3", "perfbench/run.py"]
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    assert any(m["name"] == "setup_s" for m in spec["end_to_end"])


def test_fails_without_the_engine(tmp_path: Path) -> None:
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("out", "__pycache__"))
    p = _run(tmp_path, "--workload", "query_mix", "--seed", "1", "--seconds", "1", "--trace", "0")
    assert p.returncode != 0
    lines = p.stdout.strip().splitlines()
    assert not lines or not lines[-1].startswith("{")
