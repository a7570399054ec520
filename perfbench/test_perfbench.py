"""The benchmark's own tests. Run from the repository root:

    python3 -m pytest perfbench/test_perfbench.py -q

The generator and declaration tests take seconds. The others start
the benchmark as a subprocess: five short runs of 40-60 s each.
"""

from __future__ import annotations

import filecmp
import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import gen, harness, run  # noqa: E402


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.mark.parametrize("workload", sorted(gen.GENERATORS))
def test_generator_is_byte_identical_for_a_seed(workload, tmp_path):
    make = gen.GENERATORS[workload]
    a = make(7, str(tmp_path / "a"))
    b = make(7, str(tmp_path / "b"))
    c = make(8, str(tmp_path / "c"))
    for name in a:
        assert filecmp.cmp(a[name], b[name], shallow=False), name
        assert not filecmp.cmp(a[name], c[name], shallow=False), name


def test_declared_metrics_and_workloads_match_benchmark_json():
    spec = _benchmark_json()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == harness.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == harness.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert spec["command"] == ["python3", "perfbench/run.py"]


_RUNS: dict[tuple, dict] = {}


def _run(workload: str, trace: int, seed: int, seconds: int, tag: int = 0) -> dict:
    """Last stdout line of one benchmark run, cached per argument set."""
    key = (workload, trace, seed, seconds, tag)
    if key not in _RUNS:
        out = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
             "--seconds", str(seconds), "--trace", str(trace)],
            cwd=ROOT, capture_output=True, text=True, timeout=300,
        )
        assert out.returncode == 0, out.stderr[-3000:]
        _RUNS[key] = json.loads(out.stdout.strip().splitlines()[-1])
    return _RUNS[key]


@pytest.mark.parametrize("workload", run.WORKLOADS)
@pytest.mark.parametrize("trace", [0, 1])
def test_emitted_metrics_match_declaration(workload, trace):
    # a served query takes about 1 s: 10 s leaves each half of a traced
    # run a few batches
    result = _run(workload, trace, seed=5, seconds=6 if workload == "vector_point" else 10)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    declared = harness.PER_LAYER if trace else harness.END_TO_END
    assert {n: m["unit"] for n, m in result["metrics"].items()} == declared


def test_exact_counts_repeat_for_one_seed():
    first = _run("vector_point", 1, seed=5, seconds=6)["metrics"]
    second = _run("vector_point", 1, seed=5, seconds=6, tag=1)["metrics"]
    for name in harness.EXACT_COUNTS:
        assert first[name]["value"] == second[name]["value"], name
        assert first[name]["value"] > 0, name


def test_exits_nonzero_without_the_engine(tmp_path):
    """A directory holding only the benchmark: no result, non-zero exit."""
    import shutil

    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "vector_point", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode != 0
    assert '"metrics"' not in out.stdout
