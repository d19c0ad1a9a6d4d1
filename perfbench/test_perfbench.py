"""Smoke tests of the benchmark itself, at a tiny scale (150 customers,
100 chain blocks) and a one-second loop:

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _run(workload: str, trace: int, patch: str = "") -> tuple[dict, dict]:
    """Run the benchmark in a subprocess; ``patch`` is Python run before
    ``run.main`` (with perfbench on sys.path). Returns (report, result)."""
    argv = ["--workload", workload, "--seed", "7", "--seconds", "1",
            "--trace", str(trace), "--scale", "tiny"]
    code = (f"import sys; sys.path.insert(0, {HERE!r})\n{patch}\n"
            f"import run; run.main({argv!r})")
    proc = subprocess.run([sys.executable, "-c", code], cwd=ROOT, capture_output=True,
                          text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2])["report"], json.loads(lines[-1])


def _check_metrics(result: dict, spec: list[dict]) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in spec}
    for name, m in result["metrics"].items():
        assert isinstance(m["value"], float), name


@pytest.mark.parametrize("workload", ["sparql_mix", "paths_dist"])
def test_untraced_run_prints_every_end_to_end_metric(workload):
    report, result = _run(workload, 0)
    _check_metrics(result, SPEC["end_to_end"])
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    assert report["error_rate"] == 0.0
    assert report["seed"] == 7
    assert {"nproc", "loadavg_1m_start", "loadavg_1m_end", "loadavg_warning",
            "spark", "java"} <= set(report["box"])
    for name in ("setup_s", "query_p50_ms", "append_p50_ms", "store_bytes_per_triple"):
        assert result["metrics"][name]["value"] > 0, name


def test_traced_run_prints_every_per_layer_metric():
    report, result = _run("paths_dist", 1)
    _check_metrics(result, SPEC["per_layer"])
    assert result["correct"] and result["failed"] == 0
    m = {k: v["value"] for k, v in result["metrics"].items()}
    # the distributed closure runs its rounds as Spark jobs inside query()
    assert m["translate.jobs"] > 0 and m["exec.tasks"] > 0
    assert m["load_pipeline.bulk_jobs"] > 0 and m["load_pipeline.append_jobs"] > 0
    assert m["exec.shuffle_write_bytes"] > 0
    assert report["self_time_ms"]["bulk_load.dictionary"] > 0
    assert os.path.isfile(os.path.join(HERE, "_traces", "paths_dist-seed7.json"))


def test_wrong_expected_answer_counts_as_failure():
    # corrupt the DuckDB oracle for the point lookup: one expected row short
    patch = (
        "import workloads\n"
        "_rows = workloads.DerivedOracle.rows\n"
        "def rows(self, sql):\n"
        "    out = _rows(self, sql)\n"
        "    return out[1:] if sql.startswith('SELECT p, o FROM triples') else out\n"
        "workloads.DerivedOracle.rows = rows\n"
    )
    report, result = _run("sparql_mix", 0, patch)
    assert not result["correct"]
    assert result["failed"] >= 1
    assert any(f.startswith("point query") for f in report["failures"])
    assert report["error_rate"] == result["failed"] / result["attempted"]
