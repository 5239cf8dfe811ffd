"""Smoke run of the benchmark at tiny input size.

    python3 perfbench/smoke.py

From the repository root. For every workload, in both modes, it runs the
benchmark on a small scale and asserts that the last line is the result
object, that every metric named in BENCHMARK.json is emitted with its
unit, and that every output check passed. It also runs the benchmark in
a directory holding only BENCHMARK.json and the benchmark, where it must
fail without printing a result. Takes a few minutes (one JVM per run).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()
SCALE = "0.05"
SECONDS = "2"


def bench_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run(args: list[str], cwd: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def check_run(spec: dict, workload: str, trace: int) -> None:
    p = run(["--workload", workload, "--seed", "7", "--seconds", SECONDS,
             "--trace", str(trace), "--scale", SCALE], ROOT)
    label = f"{workload} trace={trace}"
    assert p.returncode == 0, f"{label}: exit {p.returncode}\n{p.stderr[-3000:]}"
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    record = json.loads(lines[-2])["run"]
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, label
    assert result["correct"] is True, f"{label}: {record['errors']}"
    assert result["failed"] == 0 and result["attempted"] >= 1, label
    expected = spec["per_layer" if trace else "end_to_end"]
    got = result["metrics"]
    assert set(got) == {m["name"] for m in expected}, (
        f"{label}: metric names differ: {set(got) ^ {m['name'] for m in expected}}")
    for m in expected:
        v = got[m["name"]]
        assert v["unit"] == m["unit"], f"{label}: {m['name']} unit {v['unit']}"
        assert isinstance(v["value"], float), f"{label}: {m['name']}"
    if not trace:
        assert all(got[m["name"]]["value"] > 0 for m in expected), f"{label}: zero metric"
    print(f"ok  {label}: {result['attempted']} ops, record {sorted(record)[:4]}...")


def check_empty_dir(spec: dict) -> None:
    """Only BENCHMARK.json and the benchmark's own files: must fail."""
    d = os.path.join(ROOT, ".perfbench_work", "bare")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
    for p in spec["paths"]:
        shutil.copytree(os.path.join(ROOT, p), os.path.join(d, p),
                        ignore=shutil.ignore_patterns("__pycache__"))
    p = run(["--workload", "model_fit", "--seed", "1", "--seconds", "1",
             "--trace", "0"], d)
    assert p.returncode != 0, "bare directory: exit 0"
    assert '"metrics"' not in p.stdout, "bare directory: printed a result"
    shutil.rmtree(d)
    print("ok  bare directory: exit", p.returncode)


def main() -> None:
    spec = bench_spec()
    check_empty_dir(spec)
    for w in spec["workloads"]:
        for trace in (0, 1):
            check_run(spec, w["name"], trace)
    print("smoke: all checks passed")


if __name__ == "__main__":
    main()
