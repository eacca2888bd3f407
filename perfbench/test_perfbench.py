"""Steadiness self-check of the benchmark.

    python -m pytest perfbench -q

The input tests take seconds. The trace tests start Spark three times
(about four minutes on 4 cores): counters must repeat exactly for a
fixed seed, and another seed must change the inputs but not the op
counts.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench import inputs

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _per_layer(*units: str) -> list:
    """Names of the per-layer metrics in BENCHMARK.json with these units."""
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return [m["name"] for m in spec["per_layer"] if m["unit"] in units]


def _shapes(inp: dict):
    """Sizes of every generated input, recursively."""
    if isinstance(inp, dict):
        return {k: _shapes(v) for k, v in inp.items()}
    if isinstance(inp, list):
        return [_shapes(v) for v in inp]
    if hasattr(inp, "shape"):
        return tuple(inp.shape)
    return type(inp).__name__


@pytest.mark.parametrize("make", [inputs.kv_inputs, inputs.index_inputs])
def test_seed_changes_inputs_not_sizes(make):
    a, b, c = make(5), make(5), make(6)
    assert inputs.fingerprint(a) == inputs.fingerprint(b)
    assert inputs.fingerprint(a) != inputs.fingerprint(c)
    assert _shapes(a) == _shapes(c)


def test_kv_batches_mix_sizes_and_absent_keys():
    inp = inputs.kv_inputs(5)
    sizes = [len(b) for b in inp["batches"]]
    assert sizes == list(inputs.KEY_BATCH_SIZES) * inputs.KEY_BATCH_CYCLES
    present = set(inp["latest"]["o_orderkey"].tolist())
    keys = [k for b in inp["batches"] for k in b]
    absent = sum(k not in present for k in keys) / len(keys)
    assert 0.05 < absent < 0.15


def test_exits_nonzero_without_the_program(tmp_path):
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(REPO, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "kv_point", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert out.returncode != 0
    assert "correct" not in out.stdout


def _trace(seed: int) -> dict:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "kv_point", "--seed", str(seed),
         "--seconds", "1", "--trace", "1"],
        cwd=REPO, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0
    return {k: v["value"] for k, v in result["metrics"].items()}


@pytest.fixture(scope="module")
def kv_traces():
    return _trace(5), _trace(5), _trace(6)


def test_counters_repeat_for_a_fixed_seed(kv_traces):
    a, b, _ = kv_traces
    # counts, ratios of counts and byte sizes
    exact = _per_layer("count", "ratio", "B")
    assert {k: a[k] for k in exact} == {k: b[k] for k in exact}


def test_other_seed_keeps_op_counts(kv_traces):
    a, _, c = kv_traces
    counts = _per_layer("count")
    assert {k: a[k] for k in counts} == {k: c[k] for k in counts}
