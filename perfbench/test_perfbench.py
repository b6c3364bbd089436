"""Self-test of the benchmark: seeded inputs, metric names, and a
tiny-size run of every workload.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import workloads  # noqa: E402

with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def test_same_seed_same_inputs(tmp_path):
    a = gen.corpus(7, 60, start=30, tag="r")
    pd.testing.assert_frame_equal(a, gen.corpus(7, 60, start=30, tag="r"))
    assert not a.equals(gen.corpus(8, 60, start=30, tag="r"))
    pool = gen.term_pool(
        [t for t in gen.rare_terms(a, start=30, tag="r") if t])
    pd.testing.assert_frame_equal(gen.queries(7, 20, 1, pool),
                                  gen.queries(7, 20, 1, pool))
    cached = gen.cached_corpus(str(tmp_path), 7, 60, start=30, tag="r")
    pd.testing.assert_frame_equal(pd.read_parquet(cached), a)
    assert os.listdir(tmp_path) == [os.path.basename(cached)]


def test_rare_terms_are_unique_to_their_doc():
    pdf = gen.corpus(3, 80, start=10, tag="b")
    rare = [t for t in gen.rare_terms(pdf, start=10, tag="b") if t]
    assert len(rare) > 60
    for tok in rare:
        assert sum(tok in text.split() for text in pdf["content"]) == 1


def test_metric_names_match_benchmark_json():
    e2e = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
    assert e2e == workloads.E2E_UNITS
    assert layer == {k: v[0] for k, v in workloads.LAYER_METRICS.items()}
    assert [w["name"] for w in BENCH["workloads"]] == list(workloads.WORKLOADS)


@pytest.mark.parametrize("workload", list(workloads.WORKLOADS))
@pytest.mark.parametrize("trace", [0, 1])
def test_tiny_run(workload, trace):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         workload, "--seed", "1", "--seconds", "1", "--trace", str(trace),
         "--tiny"],
        capture_output=True, text=True, timeout=600,
        cwd=os.path.dirname(HERE))
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] >= 1
    names = [m["name"] for m in
             BENCH["per_layer" if trace else "end_to_end"]]
    assert sorted(result["metrics"]) == sorted(names)
