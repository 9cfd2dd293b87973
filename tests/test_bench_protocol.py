"""Bench-harness protocol invariants (no Spark needed).

The bench numbers are the round's perf evidence; these pin the
protocol mechanics that r9's verdict flagged: chunk slicing must keep
the mb_* block (shared scaled-warehouse fixture) inside ONE chunk, and
slicing must stay a partition of the catalog under any chunk count.
"""

from __future__ import annotations

import importlib.util
import os

import pytest


@pytest.fixture(scope="module")
def bench():
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "bench_module", os.path.join(here, "bench.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _fake_names() -> list[str]:
    return sorted(
        [f"b{i:03d}_op" for i in range(25)]
        + [f"mb_report_{i}" for i in range(7)]
        + [f"q{i:02d}_rel" for i in range(10)]
    )


@pytest.mark.parametrize("k", [1, 2, 3, 5, 8])
def test_chunk_slice_is_a_partition(bench, k):
    names = _fake_names()
    slices = [bench.chunk_slice(names, i, k) for i in range(k)]
    flat = sorted(n for s in slices for n in s)
    assert flat == names


@pytest.mark.parametrize("k", [2, 3, 5, 8])
def test_chunk_slice_keeps_mb_block_together(bench, k):
    names = _fake_names()
    slices = [bench.chunk_slice(names, i, k) for i in range(k)]
    homes = [
        i for i, s in enumerate(slices) if any(n.startswith("mb_") for n in s)
    ]
    assert len(homes) == 1, f"mb_* block straddles chunks {homes}"


def test_chunk_slice_real_catalog_partition(bench):
    names = bench.catalog_names()
    slices = [bench.chunk_slice(names, i, 5) for i in range(5)]
    assert sorted(n for s in slices for n in s) == names
    homes = {
        i
        for i, s in enumerate(slices)
        if any(n.startswith("mb_") for n in s)
    }
    assert len(homes) <= 1


def test_regression_baseline_needs_equal_scale_and_cores(bench):
    prev = {"sf": 0.1, "cpus": 4, "queries_full": {"q01_pricing_summary": 1.0}}
    assert bench.baseline_timings(prev, 0.1, 4) == {"q01_pricing_summary": 1.0}
    assert bench.baseline_timings(prev, 0.1, 32) == {}
    assert bench.baseline_timings(prev, 1.0, 4) == {}
    # a detail file that predates the cpus field is no baseline
    del prev["cpus"]
    assert bench.baseline_timings(prev, 0.1, 4) == {}
