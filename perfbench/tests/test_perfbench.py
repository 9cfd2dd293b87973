"""End-to-end checks of the benchmark harness on tiny inputs.

    python3 -m pytest perfbench/tests -q

Each test starts and stops its own Spark JVM; the file takes a few
minutes on four cores.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import run as bench  # noqa: E402
from workloads import REPORTS, Config  # noqa: E402

#: 200 patients, one month, one graph entry at TPC-H scale 0.001
SMOKE = Config(n_patients=200, entries=("b107_resolve_threads",), sf=0.001)


@pytest.fixture(autouse=True, scope="module")
def environment():
    cwd = os.getcwd()
    bench.configure_environment()  # before the library is first imported
    yield
    os.chdir(cwd)


def test_smoke_export_traced():
    result = bench.run("export", 1, 0.1, True, SMOKE)
    summary = result["summary"]
    assert summary["correct"], result["problems"]
    assert (summary["attempted"], summary["failed"]) == (len(REPORTS), 0)
    metrics = {k: m["value"] for k, m in summary["metrics"].items()}
    assert set(metrics) == set(bench.PER_LAYER)
    for name in ("facility.lookup_s", "follow_up.wide_build_s", "linelists.build_s",
                 "csv_sink.to_arrow_s", "packaging.zip_s", "spark.jobs",
                 "spark.task_busy_s", "csv_sink.rows", "session.start_s"):
        assert metrics[name] > 0, name
    assert 0 < metrics["packaging.zip_ratio"] < 1
    assert metrics["graph.build_s"] == 0


def test_smoke_graph_untraced():
    result = bench.run("graph_loops", 1, 0.1, False, SMOKE)
    summary = result["summary"]
    assert summary["correct"], result["problems"]
    assert (summary["attempted"], summary["failed"]) == (1, 0)
    assert set(summary["metrics"]) == set(bench.END_TO_END)
    assert all(m["value"] > 0 for m in summary["metrics"].values())


def test_failing_report_is_counted_and_the_rest_still_packaged(monkeypatch):
    from data_export_tool_spark.mamba import linelists as LL

    def broken(*args, **kwargs):
        raise RuntimeError("injected report failure")

    monkeypatch.setattr(LL, REPORTS["Tx_Curr_TPT_LineList"], broken)
    result = bench.run("export", 1, 0.1, False, SMOKE)
    summary = result["summary"]
    assert (summary["attempted"], summary["failed"]) == (len(REPORTS), 1)
    assert not summary["correct"]
    # the zip of the other reports was produced, opened and matched
    # their goldens
    assert not result["problems"], result["problems"]
    (digests,) = result["outcome"].digests.values()
    assert digests["Tx_Curr_TPT_LineList"] is None
    assert len(digests) == len(REPORTS)
    assert any(d is not None for d in digests.values())


def test_silent_empty_report_counts_as_failed():
    from workloads import Outcome, compare_digests

    out = Outcome()
    goldens = {"k": {"A": "d1", "B": "d2", "C": None}}
    compare_digests("k", {"A": "d1", "B": None, "C": None}, goldens, [], out)
    assert out.failed == 1 and not out.problems


def test_missing_golden_is_a_mismatch():
    from workloads import Outcome, compare_digests

    out = Outcome()
    compare_digests("k", {"A": "d1"}, {}, [], out)
    assert out.problems and not out.failed
    out = Outcome()
    compare_digests("k", {"A": "d1"}, None, [], out)  # recording
    assert not out.problems and out.digests == {"k": {"A": "d1"}}


def test_seed_selects_an_input_set_with_goldens():
    from workloads import INPUT_SEEDS, input_seed

    assert [input_seed(s) for s in INPUT_SEEDS] == list(INPUT_SEEDS)
    assert {input_seed(s) for s in (0, 11, 42, 10**6, -3)} <= set(INPUT_SEEDS)
