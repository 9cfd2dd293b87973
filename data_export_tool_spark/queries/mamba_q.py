"""Reference line-list reports as driver-gate catalog entries.

Each entry runs a DataFrame-NATIVE line-list (mamba.linelists) over the
seeded fixture warehouse (written once as parquet, Spark-free —
mamba.fixture_store) and is oracle-checked against the REFERENCE'S OWN
SQL, shimmed to DuckDB and pointed at the same parquet files. This
surfaces the reference-parity suite in the driver's CORRECTNESS gate,
not only in pytest.

Canonicalization for the driver's hash compare:

- every output column is cast to VARCHAR on both sides (the driver's
  value canonicalization renders DuckDB DATE as a midnight timestamp
  otherwise);
- Spark column names are renamed to DuckDB's post-``.df()`` names
  (probed once at import with a LIMIT 0 run): DuckDB suffixes duplicate
  output names ``_1`` and may re-case identifiers it resolved
  case-insensitively.

When ``/root/reference`` is absent the entries degrade to rows-only
checks (oracle None) — the engine itself never reads the reference.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_export_tool_spark.queries import QuerySpec

#: catalog name → report (its builder is ``mamba.linelists.LINELISTS``)
REPORTS = {
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


def _dedup_like_duckdb(columns: list[str]) -> list[str]:
    """DuckDB's pandas conversion suffixes duplicate column names with
    _1, _2, ... (first occurrence unsuffixed)."""
    seen: dict[str, int] = {}
    out = []
    for c in columns:
        key = c.lower()
        if key in seen:
            seen[key] += 1
            out.append(f"{c}_{seen[key]}")
        else:
            seen[key] = 0
            out.append(c)
    return out


def _report_specs() -> list[QuerySpec]:
    from data_export_tool_spark.mamba.fixture_store import (
        DEFAULT_N_PATIENTS,
        ensure_fixture_parquet,
    )
    from data_export_tool_spark.mamba.fixtures import WINDOW_END, WINDOW_START
    from data_export_tool_spark.mamba.linelists import LINELISTS
    from data_export_tool_spark.mamba.reports import REFERENCE_SQL_DIR

    try:
        paths = ensure_fixture_parquet()
    except Exception:
        return []

    oracles: dict[str, str | None] = {}
    duck_cols: dict[str, list[str] | None] = {}
    if os.path.isdir(REFERENCE_SQL_DIR):
        try:
            oracles, duck_cols = _build_oracles(paths)
        except Exception:
            oracles, duck_cols = {}, {}

    def make_builder(name, report):
        def build(spark: SparkSession, sf_dir: str) -> DataFrame:
            from data_export_tool_spark.queries.bench_mamba import fixture_warehouse

            frames, wide = fixture_warehouse(spark, DEFAULT_N_PATIENTS)
            df = LINELISTS[report](frames, WINDOW_START, WINDOW_END, follow_up=wide)
            cols = _dedup_like_duckdb(df.columns)
            df = df.toDF(*cols)
            target = duck_cols.get(name)
            if target:
                case_map = {c.lower(): c for c in target}
                cols = [case_map.get(c.lower(), c) for c in cols]
            return df.select(
                *[
                    F.regexp_replace(
                        F.col(f"`{c}`").cast("string"), " 00:00:00$", ""
                    ).alias(cols[i])
                    for i, c in enumerate(df.columns)
                ]
            )

        return build

    return [
        QuerySpec(
            name,
            make_builder(name, report),
            oracles.get(name),
            f"native line-list: {report}",
        )
        for name, report in REPORTS.items()
    ]


def _build_oracles(paths):
    """Shim each reference report to DuckDB, point it at the fixture
    parquet via name-shadowing CTEs, wrap in an all-VARCHAR outer
    select, and probe the resulting column names with a LIMIT 0 run."""
    import duckdb

    from data_export_tool_spark.mamba.reports import (
        QUERY_PATCHES,
        load_reference_sql,
    )
    from data_export_tool_spark.plans.dialect import (
        duckdb_macro_statements,
        install_duckdb_macros,
        shim_mysql_to_duckdb,
    )
    from data_export_tool_spark.mamba.fixtures import WINDOW_END, WINDOW_START

    params = {
        "REPORT_START_DATE": WINDOW_START.isoformat(),
        "REPORT_END_DATE": WINDOW_END.isoformat(),
    }
    prelude = ";\n".join(duckdb_macro_statements())
    tables_cte = ",\n".join(
        f"{t} AS (SELECT * FROM '{p}')" for t, p in paths.items()
    )

    con = duckdb.connect()
    install_duckdb_macros(con)

    oracles: dict[str, str | None] = {}
    duck_cols: dict[str, list[str] | None] = {}
    for name, report in REPORTS.items():
        sql = shim_mysql_to_duckdb(
            load_reference_sql(report), params, QUERY_PATCHES.get(report)
        ).strip().rstrip(";")
        body, n = re.subn(
            r"^\s*WITH\b", f"WITH {tables_cte},", sql, count=1, flags=re.IGNORECASE
        )
        if n == 0:
            body = f"WITH {tables_cte}\n{sql}"
        # all-VARCHAR outer select with midnight-timestamp suffixes
        # stripped (applied on the Spark side too): the driver's
        # canonicalization treats DATE and midnight TIMESTAMP
        # differently across engines
        body = (
            "SELECT regexp_replace(COLUMNS(*)::VARCHAR, ' 00:00:00$', '') "
            f"FROM (\n{body}\n) __q"
        )
        try:
            duck_cols[name] = list(con.sql(f"{body} LIMIT 0").df().columns)
        except Exception:
            oracles[name] = None
            duck_cols[name] = None
            continue
        # the macros aren't installed on the driver's connection —
        # prepend them (multi-statement; the result is the last SELECT)
        oracles[name] = f"{prelude};\n{body}"
    con.close()
    return oracles, duck_cols


QUERIES = _report_specs()
