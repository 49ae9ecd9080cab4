"""Smoke test of the benchmark.

Every registered workload runs at the tiny size, untraced and traced,
with ``--scratch-check`` (canonicalize counts must also equal a
from-scratch canonicalize of the same root); each run must check out
correct and print exactly the metrics that ``BENCHMARK.json`` names,
with their units. The benchmark must also
fail cleanly (non-zero exit, no result line) in a directory that holds
only ``BENCHMARK.json`` and the benchmark's own files.

    python3 perfbench/smoke_test.py
    python3 -m pytest perfbench/smoke_test.py

Takes a few minutes: each run starts its own Spark session.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def _run(cwd: str, workload: str, trace: int, *extra: str) -> subprocess.CompletedProcess:
    cmd = _spec()["command"] + [
        "--workload", workload, "--seed", "1", "--seconds", "1",
        "--trace", str(trace), *extra,
    ]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=900)


def test_registry_matches_benchmark_json():
    sys.path.insert(0, ROOT)
    from perfbench.run import END_TO_END, per_layer_metrics

    spec = _spec()
    assert [(m["name"], m["unit"], m["better"]) for m in spec["end_to_end"]] == END_TO_END
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == (
        per_layer_metrics()
    )


def test_every_metric_present():
    spec = _spec()
    for workload in spec["workloads"]:
        metrics = {}
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            out = _run(ROOT, workload["name"], trace, "--size", "tiny", "--scratch-check")
            assert out.returncode == 0, out.stderr[-3000:]
            result = json.loads(out.stdout.strip().splitlines()[-1])
            assert set(result) == {"correct", "attempted", "failed", "metrics"}
            assert result["correct"] and result["failed"] == 0, out.stderr[-3000:]
            assert result["attempted"] >= 1
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            assert got == want
            metrics[trace] = result["metrics"]
        overhead = metrics[1]["trace.op_s"]["value"] - metrics[0]["op_s"]["value"]
        print(f"{workload['name']}: tracing overhead {overhead:+.3f} s per operation")


def test_fails_without_program():
    os.makedirs(os.path.join(ROOT, ".perfbench_work"), exist_ok=True)
    with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".perfbench_work")) as d:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
        for path in _spec()["paths"]:
            shutil.copytree(
                os.path.join(ROOT, path),
                os.path.join(d, path),
                ignore=shutil.ignore_patterns("__pycache__"),
            )
        out = _run(d, _spec()["workloads"][0]["name"], 0)
        assert out.returncode != 0
        assert not out.stdout.strip()


if __name__ == "__main__":
    test_registry_matches_benchmark_json()
    test_fails_without_program()
    test_every_metric_present()
    print("smoke test passed")
