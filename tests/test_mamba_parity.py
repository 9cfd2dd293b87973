"""Reference-parity tests (SURVEY.md §5.2): the engine's DataFrame
line-lists vs the REFERENCE'S OWN SQL executed on DuckDB (after the
documented MySQL→DuckDB dialect shim) over identical seeded fixtures.

The reference SQL is read from /root/reference at test time (read-only
study of behavior — never copied into this repo); tests skip if the
reference tree is absent.
"""

from __future__ import annotations

import os

import duckdb
import pytest

from data_export_tool_spark.mamba.fixtures import (
    WINDOW_END,
    WINDOW_START,
    create_fixture_frames,
    write_fixture_parquet,
)
from data_export_tool_spark.mamba.linelists import LINELISTS
from data_export_tool_spark.plans.dialect import (
    install_duckdb_macros,
    shim_mysql_to_duckdb,
)

REFERENCE_SQL_DIR = "/root/reference/sql_queries"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(REFERENCE_SQL_DIR), reason="reference tree not available"
)

PARAMS = {
    "REPORT_START_DATE": WINDOW_START.isoformat(),
    "REPORT_END_DATE": WINDOW_END.isoformat(),
}


@pytest.fixture(scope="module")
def fixture_env(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("mamba_fixtures"))
    paths = write_fixture_parquet(spark, out)
    frames = create_fixture_frames(spark)
    con = duckdb.connect()
    install_duckdb_macros(con)
    for name, path in paths.items():
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{path}/*.parquet'")
    return frames, con, paths


@pytest.fixture(scope="module")
def wide(fixture_env):
    """The fixtures' cached follow-up wide view, shared by every
    builder that reads it."""
    from data_export_tool_spark.mamba.follow_up import assemble_follow_up

    view = assemble_follow_up(fixture_env[0]).cache()
    yield view
    view.unpersist()


def _canon(pdf):
    """Order-insensitive canonical rows; midnight timestamps equal
    dates; integral floats equal ints (DuckDB HUGEINT aggregates reach
    pandas as float64); column names matched case-insensitively
    (DuckDB re-cases un-aliased identifiers it resolved
    case-insensitively)."""
    pdf = pdf.copy()
    pdf.columns = _dedup_names(pdf.columns)
    pdf = pdf[sorted(pdf.columns)]

    def norm(v):
        if v is None or (isinstance(v, float) and v != v) or str(v) == "NaT":
            return "<NULL>"
        if hasattr(v, "isoformat"):
            s = v.isoformat()
            return s[:-9] if s.endswith("T00:00:00") else s
        if isinstance(v, float) and v.is_integer():
            return str(int(v))
        return str(v)

    return sorted(
        tuple(norm(v) for v in row) for row in pdf.itertuples(index=False, name=None)
    )


def _reference_on_duckdb(con, query_file: str):
    sql = open(os.path.join(REFERENCE_SQL_DIR, query_file)).read()
    return con.sql(shim_mysql_to_duckdb(sql, PARAMS)).df()


def _dedup_names(columns):
    """Lowercase and positionally suffix duplicate output names — the
    reference emits `BookingDate` twice (PMTCT_Maternal_LineList.sql:
    144,146); DuckDB's pandas conversion already suffixes `_1`, Spark's
    keeps duplicates. This makes both frames use the same scheme."""
    seen: dict[str, int] = {}
    out = []
    for c in columns:
        c = c.lower()
        if c in seen:
            seen[c] += 1
            out.append(f"{c}_{seen[c]}")
        else:
            seen[c] = 0
            out.append(c)
    return out


def _assert_parity(mine_pdf, oracle_pdf, query_file: str):
    assert sorted(_dedup_names(mine_pdf.columns)) == sorted(
        _dedup_names(oracle_pdf.columns)
    ), query_file
    assert len(mine_pdf) == len(oracle_pdf), (
        f"{query_file}: rows {len(mine_pdf)} vs oracle {len(oracle_pdf)}"
    )
    mine_c, oracle_c = _canon(mine_pdf), _canon(oracle_pdf)
    mismatches = [
        (a, b) for a, b in zip(mine_c, oracle_c) if a != b
    ]
    assert not mismatches, f"{query_file}: first diffs {mismatches[:2]}"


def test_tx_curr_linelist_parity(spark, fixture_env, wide):
    from data_export_tool_spark.mamba.linelists import tx_curr_linelist

    frames, con, _ = fixture_env
    mine = tx_curr_linelist(frames, WINDOW_START, WINDOW_END, follow_up=wide).toPandas()
    oracle = _reference_on_duckdb(con, "Tx_Curr_LineList.sql")
    assert len(mine) > 20, "cohort unexpectedly small — fixture drift?"
    _assert_parity(mine, oracle, "Tx_Curr_LineList.sql")


def test_tx_curr_outcome_parity(spark, fixture_env, wide):
    from data_export_tool_spark.mamba.linelists import tx_curr_outcome
    from data_export_tool_spark.mamba.reports import QUERY_PATCHES
    from data_export_tool_spark.plans.dialect import shim_mysql_to_duckdb

    frames, con, _ = fixture_env
    mine = tx_curr_outcome(frames, WINDOW_START, WINDOW_END, follow_up=wide).toPandas()
    sql = open(os.path.join(REFERENCE_SQL_DIR, "Tx_Curr_OutComeList.sql")).read()
    oracle = con.sql(
        shim_mysql_to_duckdb(sql, PARAMS, QUERY_PATCHES.get("Tx_Curr_OutComeList"))
    ).df()
    assert len(mine) == 1
    _assert_parity(mine, oracle, "Tx_Curr_OutComeList.sql")


def test_vl_received_linelist_parity(spark, fixture_env, wide):
    from data_export_tool_spark.mamba.linelists import tx_curr_vl_received_linelist
    from data_export_tool_spark.mamba.reports import QUERY_PATCHES
    from data_export_tool_spark.plans.dialect import shim_mysql_to_duckdb

    frames, con, _ = fixture_env
    mine = tx_curr_vl_received_linelist(frames, WINDOW_START, WINDOW_END, follow_up=wide).toPandas()
    sql = open(
        os.path.join(REFERENCE_SQL_DIR, "Tx_Curr_VLTestReceived_LineList.sql")
    ).read()
    oracle = con.sql(
        shim_mysql_to_duckdb(
            sql, PARAMS, QUERY_PATCHES.get("Tx_Curr_VLTestReceived_LineList")
        )
    ).df()
    assert len(mine) > 50
    _assert_parity(mine, oracle, "Tx_Curr_VLTestReceived_LineList.sql")


def test_cca_linelist_parity(spark, fixture_env, wide):
    from data_export_tool_spark.mamba.linelists import tx_curr_cca_linelist

    frames, con, _ = fixture_env
    mine = tx_curr_cca_linelist(frames, WINDOW_START, WINDOW_END, follow_up=wide).toPandas()
    oracle = _reference_on_duckdb(con, "Tx_Curr_CCA_LineList.sql")
    assert len(mine) > 0
    _assert_parity(mine, oracle, "Tx_Curr_CCA_LineList.sql")


def test_tpt_linelist_parity(spark, fixture_env, wide):
    from data_export_tool_spark.mamba.linelists import tx_curr_tpt_linelist
    from data_export_tool_spark.mamba.reports import QUERY_PATCHES

    frames, con, _ = fixture_env
    mine = tx_curr_tpt_linelist(frames, WINDOW_START, WINDOW_END, follow_up=wide).toPandas()
    sql = open(os.path.join(REFERENCE_SQL_DIR, "Tx_Curr_TPT_LineList.sql")).read()
    oracle = con.sql(
        shim_mysql_to_duckdb(sql, PARAMS, QUERY_PATCHES.get("Tx_Curr_TPT_LineList"))
    ).df()
    assert len(mine) > 20
    _assert_parity(mine, oracle, "Tx_Curr_TPT_LineList.sql")


def test_pmtct_maternal_linelist_parity(spark, fixture_env, wide):
    from data_export_tool_spark.mamba.linelists import pmtct_maternal_linelist
    from data_export_tool_spark.mamba.reports import QUERY_PATCHES
    from data_export_tool_spark.plans.dialect import shim_mysql_to_duckdb

    frames, con, _ = fixture_env
    mine = pmtct_maternal_linelist(frames, WINDOW_START, WINDOW_END, follow_up=wide).toPandas()
    sql = open(os.path.join(REFERENCE_SQL_DIR, "PMTCT_Maternal_LineList.sql")).read()
    oracle = con.sql(
        shim_mysql_to_duckdb(sql, PARAMS, QUERY_PATCHES.get("PMTCT_Maternal_LineList"))
    ).df()
    assert len(mine) > 50, "episode count unexpectedly small — fixture drift?"
    _assert_parity(mine, oracle, "PMTCT_Maternal_LineList.sql")


def test_pmtct_hei_linelist_parity(spark, fixture_env):
    from data_export_tool_spark.mamba.linelists import pmtct_hei_linelist

    frames, con, _ = fixture_env
    mine = pmtct_hei_linelist(frames, WINDOW_START, WINDOW_END).toPandas()
    oracle = _reference_on_duckdb(con, "PMTCT_HEI_LineList.sql")
    assert len(mine) > 10, "HEI cohort unexpectedly small — fixture drift?"
    _assert_parity(mine, oracle, "PMTCT_HEI_LineList.sql")


def test_tx_curr_hvl_linelist_parity(spark, fixture_env, wide):
    from data_export_tool_spark.mamba.linelists import tx_curr_hvl_linelist

    frames, con, _ = fixture_env
    mine = tx_curr_hvl_linelist(frames, WINDOW_START, WINDOW_END, follow_up=wide).toPandas()
    oracle = _reference_on_duckdb(con, "Tx_Curr_HVL_LineList.sql")
    assert len(mine) > 0, "HVL cohort empty — fixture drift?"
    _assert_parity(mine, oracle, "Tx_Curr_HVL_LineList.sql")


def test_tx_curr_ahd_linelist_parity(spark, fixture_env, wide):
    from data_export_tool_spark.mamba.linelists import tx_curr_ahd_linelist

    frames, con, _ = fixture_env
    mine = tx_curr_ahd_linelist(frames, WINDOW_START, WINDOW_END, follow_up=wide).toPandas()
    oracle = _reference_on_duckdb(con, "Tx_Curr_AHD_LineList.sql")
    assert len(mine) > 20, "AHD cohort unexpectedly small — fixture drift?"
    _assert_parity(mine, oracle, "Tx_Curr_AHD_LineList.sql")


def test_tx_curr_vl_eligible_linelist_parity(spark, fixture_env, wide):
    from data_export_tool_spark.mamba.linelists import tx_curr_vl_eligible_linelist
    from data_export_tool_spark.mamba.reports import QUERY_PATCHES
    from data_export_tool_spark.plans.dialect import shim_mysql_to_duckdb

    frames, con, _ = fixture_env
    mine = tx_curr_vl_eligible_linelist(frames, WINDOW_START, WINDOW_END, follow_up=wide).toPandas()
    sql = open(
        os.path.join(REFERENCE_SQL_DIR, "Tx_Curr_VLEligible_LineList.sql")
    ).read()
    oracle = con.sql(
        shim_mysql_to_duckdb(
            sql, PARAMS, QUERY_PATCHES.get("Tx_Curr_VLEligible_LineList")
        )
    ).df()
    assert len(mine) > 20, "VL-eligible cohort unexpectedly small — fixture drift?"
    _assert_parity(mine, oracle, "Tx_Curr_VLEligible_LineList.sql")


def test_tx_curr_vl_eligible_new_linelist_parity(spark, fixture_env, wide):
    from data_export_tool_spark.mamba.linelists import (
        tx_curr_vl_eligible_new_linelist,
    )

    frames, con, _ = fixture_env
    mine = tx_curr_vl_eligible_new_linelist(frames, WINDOW_START, WINDOW_END, follow_up=wide).toPandas()
    oracle = _reference_on_duckdb(con, "Tx_Curr_VLEligibleNew_LineList.sql")
    assert len(mine) > 0, "VL-eligible-new cohort empty — fixture drift?"
    _assert_parity(mine, oracle, "Tx_Curr_VLEligibleNew_LineList.sql")


def test_tx_curr_cca_new_linelist_parity(spark, fixture_env, wide):
    from data_export_tool_spark.mamba.linelists import tx_curr_cca_new_linelist

    frames, con, _ = fixture_env
    mine = tx_curr_cca_new_linelist(frames, WINDOW_START, WINDOW_END, follow_up=wide).toPandas()
    oracle = _reference_on_duckdb(con, "Tx_Curr_CCANew_LineList.sql")
    assert len(mine) > 0, "CCANew cohort empty — fixture drift?"
    _assert_parity(mine, oracle, "Tx_Curr_CCANew_LineList.sql")


# ---- transpile path: every reference report through spark.sql ------------


@pytest.mark.parametrize("name", list(LINELISTS))
def test_reference_report_transpile_parity(name, spark, fixture_env):
    """S2 (SURVEY.md §2a): the reference's own query text, shimmed and
    executed by Catalyst, must match the same text shimmed for DuckDB —
    full value-level comparison over the seeded fixtures."""
    from data_export_tool_spark.mamba.reports import (
        QUERY_PATCHES,
        load_reference_sql,
        run_reference_report,
    )
    from data_export_tool_spark.plans.dialect import shim_mysql_to_duckdb

    _, con, paths = fixture_env
    prior_ansi = spark.conf.get("spark.sql.ansi.enabled")
    mine = run_reference_report(spark, name, PARAMS, parquet_views=paths).toPandas()
    # MySQL-compat mode ran on an isolated sub-session; the shared
    # session's cast semantics are untouched
    assert spark.conf.get("spark.sql.ansi.enabled") == prior_ansi
    oracle = con.sql(
        shim_mysql_to_duckdb(load_reference_sql(name), PARAMS, QUERY_PATCHES.get(name))
    ).df()
    if name != "Tx_Curr_OutComeList":  # the counters query is 1-row by design
        assert len(mine) > 0, f"{name}: empty result — fixtures exercise nothing"
    _assert_parity(mine, oracle, name)
