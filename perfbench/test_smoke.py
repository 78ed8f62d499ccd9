"""Self-test of the benchmark: each workload, traced and untraced, emits
every metric ``BENCHMARK.json`` declares, with its unit, measures the
layers it exercises, and its output checks ran.

    python3 -m pytest perfbench/test_smoke.py -q

Each case starts its own Spark session; the whole file takes about five
minutes on a 4-core host.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)
LISTED = [w["name"] for w in BENCH["workloads"]]


def run_bench(workload: str, trace: int, cwd: str = ROOT):
    cmd = BENCH["command"] + [
        "--workload", workload, "--seed", "3", "--seconds", "1",
        "--trace", str(trace),
    ]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=900)


# per-layer metrics each workload must measure as non-zero
EXERCISED = {
    "corpus_llm": ("queries.build_jobs", "queries.exec_tasks", "spark.shuffle_write_mb"),
    "etl_jobs": ("jobs.corpus_ingest_etl.s", "sources.write_calls", "streaming.batches",
                 "spark.output_mb", "write_amp"),
}


@pytest.mark.parametrize("workload,trace", [(w, t) for w in LISTED for t in (0, 1)])
def test_every_metric_emitted_and_outputs_checked(workload, trace):
    proc = run_bench(workload, trace)
    assert proc.returncode == 0, proc.stderr[-4000:]
    *_, context_line, result_line = proc.stdout.strip().splitlines()
    context = json.loads(context_line)["context"]
    result = json.loads(result_line)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["attempted"] >= 1 and 0 <= result["failed"] <= result["attempted"]
    assert context["checks_run"] >= result["attempted"]
    declared = {m["name"]: m["unit"] for m in BENCH["per_layer" if trace else "end_to_end"]}
    assert set(result["metrics"]) == set(declared)
    for name, got in result["metrics"].items():
        assert isinstance(got["value"], float), name
        assert got["unit"] == declared[name], name
    if trace:
        for name in EXERCISED[workload]:
            assert result["metrics"][name]["value"] > 0, name
    else:
        for name in declared:
            assert result["metrics"][name]["value"] > 0, name


def test_fails_without_the_package(tmp_path):
    """In a directory holding only the benchmark's own files the command
    exits non-zero and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for path in BENCH["paths"]:
        shutil.copytree(
            os.path.join(ROOT, path), tmp_path / path,
            ignore=shutil.ignore_patterns("__pycache__"),
        )
    proc = run_bench(LISTED[0], 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


if __name__ == "__main__":
    sys.exit(pytest.main([__file__, "-q"]))
