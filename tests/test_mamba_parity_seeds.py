"""Multi-seed line-list parity fuzz (VERDICT r3 #6).

The main parity suite (test_mamba_parity.py) pins all 12 reports on
the seed-42 fixture corpus. This module re-runs the full 12-report
parity at ADDITIONAL seeds so the case-variant / sentinel-date /
tie-break edges (SURVEY.md §4 quirks 7–8) are exercised on different
draws: each seed shifts which patients carry lowercase status strings,
1900-01-01 sentinel dates, same-day duplicate visits, and Pagume-week
birthdays. Slow by design (marked ``slow``); still in the default
pytest run because it is reference-parity evidence, not a stress toy.
"""

from __future__ import annotations

import os

import duckdb
import pytest

from data_export_tool_spark.mamba.fixtures import (
    WINDOW_END,
    WINDOW_START,
    create_fixture_frames,
)
from data_export_tool_spark.mamba.follow_up import assemble_follow_up
from data_export_tool_spark.mamba.linelists import LINELISTS
from data_export_tool_spark.plans.dialect import (
    install_duckdb_macros,
    shim_mysql_to_duckdb,
)
from tests.test_mamba_parity import PARAMS, REFERENCE_SQL_DIR, _assert_parity

pytestmark = [
    pytest.mark.slow,
    pytest.mark.skipif(
        not os.path.isdir(REFERENCE_SQL_DIR), reason="reference tree not available"
    ),
]

#: extra seeds beyond the main suite's 42 — three corpora total ≥ the
#: verdict's bar, 36 report runs across this module + the main suite.
#: Override for deeper sweeps: SPARK_GRAFT_PARITY_SEEDS="3001,3002,..."
#: (round-4 sweeps ran seeds 2001-2005 and 3001-3010 clean — 180
#: report parity runs — after seed 2004 exposed and fixed the
#: tie-break-free PMTCT_HEI windows)
EXTRA_SEEDS = tuple(
    int(s)
    for s in os.environ.get("SPARK_GRAFT_PARITY_SEEDS", "7,1234").split(",")
    if s.strip()
)


@pytest.fixture(scope="module", params=EXTRA_SEEDS, ids=lambda s: f"seed{s}")
def seeded_env(request, spark, tmp_path_factory):
    seed = request.param
    out = str(tmp_path_factory.mktemp(f"mamba_seed{seed}"))
    frames = create_fixture_frames(spark, seed=seed)
    con = duckdb.connect()
    install_duckdb_macros(con)
    for name, df in frames.items():
        path = os.path.join(out, name)
        df.write.mode("overwrite").parquet(path)
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{path}/*.parquet'")
    wide = assemble_follow_up(frames).cache()
    yield seed, frames, con, wide
    wide.unpersist()


@pytest.mark.parametrize("query_file", list(LINELISTS))
def test_linelist_parity_across_seeds(query_file, spark, seeded_env):
    from data_export_tool_spark.mamba.reports import QUERY_PATCHES

    seed, frames, con, wide = seeded_env
    mine = LINELISTS[query_file](
        frames, WINDOW_START, WINDOW_END, follow_up=wide
    ).toPandas()
    sql = open(os.path.join(REFERENCE_SQL_DIR, f"{query_file}.sql")).read()
    oracle = con.sql(
        shim_mysql_to_duckdb(sql, PARAMS, QUERY_PATCHES.get(query_file))
    ).df()
    _assert_parity(mine, oracle, f"{query_file}@seed{seed}")


def test_seeded_corpora_are_nontrivial(spark, seeded_env):
    """The fuzz only means something if the alternative corpus still
    exercises the cohorts: total line-list rows must be substantial."""
    seed, frames, con, wide = seeded_env
    total = sum(
        builder(frames, WINDOW_START, WINDOW_END, follow_up=wide).count()
        for builder in LINELISTS.values()
    )
    assert total > 100, f"seed {seed} produced a near-empty corpus ({total} rows)"
