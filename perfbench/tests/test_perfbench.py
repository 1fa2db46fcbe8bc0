"""Self-tests of the benchmark: the percentile rule, input checksums
that do not depend on the core count, and a smoke run of each workload
at the tiny size.

    python3 -m pytest perfbench/tests -q

The smoke runs start Spark and take several minutes in all.
"""
from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, ROOT)

from perfbench import stats  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as _fh:
    SPEC = json.load(_fh)


def run_bench(workload, seed=5, trace=0, cpus=None, cwd=ROOT, timeout=600):
    env = dict(os.environ)
    if cpus is not None:
        env["SPARK_GRAFT_CPUS"] = str(cpus)
    proc = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
         "--workload", workload, "--seed", str(seed), "--seconds", "1",
         "--trace", str(trace), "--size", "tiny"],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=timeout,
    )
    lines = proc.stdout.strip().splitlines()
    return proc, lines


def parse(lines):
    return json.loads(lines[-2]), json.loads(lines[-1])


# ---------------------------------------------------------------- percentiles

def test_tail_percentile_needs_ten_samples_beyond():
    samples = [float(i) for i in range(1, 100)]   # 99 samples
    assert stats.beyond(samples, 90) == 9
    assert stats.tail_percentile(samples, 90) is None
    samples.append(100.0)                           # 100 samples
    assert stats.beyond(samples, 90) == 10
    assert stats.tail_percentile(samples, 90) == 90.0


def test_highest_tail_picks_the_highest_supported_percentile():
    assert stats.highest_tail([1.0] * 19) is None
    assert stats.highest_tail([float(i) for i in range(40)])[0] == 75.0
    assert stats.highest_tail([float(i) for i in range(1000)]) == (99.0, 989.0)


def test_percentile_is_nearest_rank():
    assert stats.percentile([3.0, 1.0, 2.0], 50) == 2.0
    assert stats.percentile([1.0, 2.0, 3.0, 4.0], 50) == 2.0
    assert stats.percentile([5.0], 99) == 5.0


# ---------------------------------------------------------------- inputs

def _checksum_under(cpus, tmp_path):
    code = (
        "import sys; sys.path.insert(0, sys.argv[1]);"
        "from perfbench import inputs, workloads;"
        "p = workloads.build(workloads.WORKLOADS['small_serial'], 13, sys.argv[2], 'full');"
        "print(inputs.checksum(p.input_dir))"
    )
    out = tmp_path / f"cpus{cpus}"
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus))
    proc = subprocess.run([sys.executable, "-c", code, ROOT, str(out)],
                          env=env, capture_output=True, text=True, check=True)
    return proc.stdout.strip()


def test_input_checksum_does_not_depend_on_core_count(tmp_path):
    assert _checksum_under(1, tmp_path) == _checksum_under(8, tmp_path)


def test_seed_changes_values_not_questions(tmp_path):
    """The planted labels depend on the instance slot only; the leaf
    values on the seed."""
    from perfbench import inputs, workloads

    w = workloads.WORKLOADS["small_serial"]
    a = workloads.build(w, 1, str(tmp_path / "a"), "tiny")
    b = workloads.build(w, 2, str(tmp_path / "b"), "tiny")
    assert [i.label for i in a.instances] == [i.label for i in b.instances]
    assert inputs.checksum(a.input_dir) != inputs.checksum(b.input_dir)


# ---------------------------------------------------------------- smoke runs

END_TO_END = {m["name"] for m in SPEC["end_to_end"]}
PER_LAYER = {m["name"] for m in SPEC["per_layer"]}


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_smoke_listed_workload(workload):
    proc, lines = run_bench(workload)
    assert proc.returncode == 0, proc.stderr[-3000:]
    detail, result = parse(lines)
    assert result["correct"] is True
    assert result["failed"] == 0 and result["attempted"] >= detail["requests_per_pass"]
    assert set(result["metrics"]) == END_TO_END
    for m in SPEC["end_to_end"]:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"] and got["value"] > 0


def test_smoke_traced_run_reports_every_layer():
    proc, lines = run_bench("small_serial", trace=1)
    assert proc.returncode == 0, proc.stderr[-3000:]
    _, result = parse(lines)
    assert result["correct"] is True
    assert set(result["metrics"]) == PER_LAYER
    for m in SPEC["per_layer"]:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]
    assert result["metrics"]["operators.riskloc.spark_jobs"]["value"] >= 1


def test_smoke_large_distributed():
    proc, lines = run_bench("large_distributed", timeout=900)
    assert proc.returncode == 0, proc.stderr[-3000:]
    detail, result = parse(lines)
    assert result["correct"] is True and result["failed"] == 0
    assert detail["requests_per_pass"] == 3


def test_same_seed_same_answers_under_two_core_counts():
    """Two runs on the same seed: identical inputs whatever the core
    count, identical answers for the same core count."""
    runs = [run_bench("small_serial", seed=9, cpus=c) for c in (2, 2, 4)]
    details = []
    for proc, lines in runs:
        assert proc.returncode == 0, proc.stderr[-3000:]
        detail, result = parse(lines)
        assert result["correct"] is True
        details.append(detail)
    assert len({d["input_sha256"] for d in details}) == 1
    assert details[0]["answers_sha256"] == details[1]["answers_sha256"]
    assert details[0]["f1"] == details[1]["f1"]
    assert details[0]["f1_mean"] == details[1]["f1_mean"]


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    proc, lines = run_bench("small_serial", cwd=str(tmp_path), timeout=170)
    assert proc.returncode != 0
    assert not any(line.startswith("{") for line in lines)
