"""The catalog surface of the 12 native line-lists: the names and order
of the driver-gate ``m*`` entries and the scaled ``mb_*`` bench entries
(bench.py, tools/bench_sf1.py, tools/plan_audit.py and
BENCH_DETAIL.json history key on them), and that each report entry
calls the ``mamba.linelists.LINELISTS`` builder of its report."""

from __future__ import annotations

import pytest

from data_export_tool_spark.mamba.linelists import LINELISTS
from data_export_tool_spark.queries import all_queries, bench_mamba

#: the reference's config order (export_config.json)
REPORTS = [
    "Tx_Curr_LineList",
    "Tx_Curr_VLTestReceived_LineList",
    "Tx_Curr_AHD_LineList",
    "Tx_Curr_HVL_LineList",
    "Tx_Curr_VLEligibleNew_LineList",
    "Tx_Curr_TPT_LineList",
    "Tx_Curr_OutComeList",
    "Tx_Curr_CCANew_LineList",
    "Tx_Curr_CCA_LineList",
    "Tx_Curr_VLEligible_LineList",
    "PMTCT_Maternal_LineList",
    "PMTCT_HEI_LineList",
]

#: driver-gate entry → its report, in catalog order
M_ENTRIES = {
    "m01_tx_curr_linelist": "Tx_Curr_LineList",
    "m02_tx_curr_outcome": "Tx_Curr_OutComeList",
    "m03_vl_received_linelist": "Tx_Curr_VLTestReceived_LineList",
    "m04_cca_linelist": "Tx_Curr_CCA_LineList",
    "m05_tpt_linelist": "Tx_Curr_TPT_LineList",
    "m06_pmtct_maternal": "PMTCT_Maternal_LineList",
    "m07_pmtct_hei": "PMTCT_HEI_LineList",
    "m08_tx_curr_hvl": "Tx_Curr_HVL_LineList",
    "m09_tx_curr_ahd": "Tx_Curr_AHD_LineList",
    "m10_vl_eligible": "Tx_Curr_VLEligible_LineList",
    "m11_vl_eligible_new": "Tx_Curr_VLEligibleNew_LineList",
    "m12_cca_new": "Tx_Curr_CCANew_LineList",
}

#: scaled report entry → its report, in ``bench_mamba.QUERIES`` order
#: (after ``mb_wide_view``)
MB_ENTRIES = {
    "mb_ahd_linelist": "Tx_Curr_AHD_LineList",
    "mb_hvl_linelist": "Tx_Curr_HVL_LineList",
    "mb_vl_eligible_new": "Tx_Curr_VLEligibleNew_LineList",
    "mb_outcome": "Tx_Curr_OutComeList",
    "mb_pmtct_hei": "PMTCT_HEI_LineList",
    "mb_tx_curr": "Tx_Curr_LineList",
    "mb_vl_received": "Tx_Curr_VLTestReceived_LineList",
    "mb_cca": "Tx_Curr_CCA_LineList",
    "mb_cca_new": "Tx_Curr_CCANew_LineList",
    "mb_tpt": "Tx_Curr_TPT_LineList",
    "mb_vl_eligible": "Tx_Curr_VLEligible_LineList",
    "mb_pmtct_maternal": "PMTCT_Maternal_LineList",
}


def test_catalog_entry_names_and_order():
    assert list(LINELISTS) == REPORTS
    names = list(all_queries())
    first = names.index("m01_tx_curr_linelist")
    assert names[first : first + len(M_ENTRIES)] == list(M_ENTRIES)
    assert [s.name for s in bench_mamba.QUERIES] == ["mb_wide_view", *MB_ENTRIES]


@pytest.fixture
def recorded_calls(spark, monkeypatch):
    """Replace every ``LINELISTS`` builder with a stub returning a
    one-row frame that names its report, and the fixture warehouse with
    sentinels; returns the calls as (report, got the wide view)."""
    calls = []
    wide = object()
    monkeypatch.setattr(
        bench_mamba, "fixture_warehouse", lambda spark, n: ({}, wide)
    )
    for report in LINELISTS:

        def stub(tables, start, end, follow_up=None, report=report):
            calls.append((report, follow_up is wide))
            return spark.range(1).selectExpr(f"'{report}' AS report")

        monkeypatch.setitem(LINELISTS, report, stub)
    return calls


def test_each_report_entry_calls_its_linelist_builder(spark, recorded_calls):
    specs = {**all_queries(), **{s.name: s for s in bench_mamba.QUERIES}}
    for name, report in {**M_ENTRIES, **MB_ENTRIES}.items():
        rows = specs[name].builder(spark, "/data/sf0.1").collect()
        assert [r[0] for r in rows] == [report], name
    # every call handed the warehouse's wide view over
    assert recorded_calls == [
        (r, True) for r in [*M_ENTRIES.values(), *MB_ENTRIES.values()]
    ]


def test_fixture_warehouse_memo_keeps_this_applications_sizes(spark, monkeypatch):
    """One memo serves every patient count of the running application
    and drops the entries of stopped ones."""
    monkeypatch.setattr(bench_mamba, "_WAREHOUSES", {("stopped-app", 40): ({}, None)})
    small = bench_mamba.fixture_warehouse(spark, 40)
    large = bench_mamba.fixture_warehouse(spark, 60)
    try:
        assert bench_mamba.fixture_warehouse(spark, 40) is small
        app = spark.sparkContext.applicationId
        assert set(bench_mamba._WAREHOUSES) == {(app, 40), (app, 60)}
        assert small[1].is_cached and large[1].is_cached
    finally:
        small[1].unpersist()
        large[1].unpersist()
