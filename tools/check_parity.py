"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin
on DuckDB at a given sf dir, compares row count, column names, and an
order-insensitive value hash. Usage:

    python tools/check_parity.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def canonicalize(df_pandas):
    import pandas as pd

    df = df_pandas.copy()
    df = df[sorted(df.columns)]
    # normalize types: decimals → str, timestamps → isoformat, floats → repr
    def norm(v):
        if v is None or (isinstance(v, float) and v != v):
            return "<NULL>"
        if hasattr(v, "isoformat"):
            return v.isoformat()
        if isinstance(v, float):
            return repr(round(v, 9))
        if isinstance(v, (list, tuple)):
            return "[" + ",".join(norm(x) for x in v) + "]"
        return str(v)

    rows = sorted(
        tuple(norm(v) for v in row) for row in df.itertuples(index=False, name=None)
    )
    return rows


def main() -> int:
    import duckdb

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    # oracles that embed data-derived literals (the IVF centroids in
    # the merged ANN entry) must train from the SAME sf dir the queries
    # run at — set UNCONDITIONALLY before the queries module is
    # imported (it reads the env at import time); a setdefault here
    # once let a stale exported value silently override the CLI arg
    prev = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR")
    if prev is not None and prev != sf_dir:
        print(
            f"WARN  overriding SPARK_GRAFT_ORACLE_SF_DIR={prev!r} "
            f"with CLI sf_dir {sf_dir!r}"
        )
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = sf_dir

    from data_export_tool_spark.catalog import TESTDATA_TABLES
    from data_export_tool_spark.session import get_spark
    from data_export_tool_spark.queries import all_queries

    # no console progress bar: its \r fragments would prefix result lines
    spark = get_spark(
        "parity-check", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    failures = []
    for name, spec in sorted(all_queries().items()):
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = spec.builder(spark, sf_dir)
            spark_pd = sdf.toPandas()
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name:36s} spark error: {type(e).__name__}: {e}")
            continue
        if spec.oracle is None:
            print(
                f"ok?   {name:36s} rows={len(spark_pd):6d} (rows-only, no oracle)"
                f" {time.time()-t0:5.1f}s"
            )
            continue
        try:
            duck_pd = con.sql(spec.oracle).df()
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name:36s} duckdb error: {type(e).__name__}: {e}")
            continue
        s_cols, d_cols = sorted(spark_pd.columns), sorted(duck_pd.columns)
        if s_cols != d_cols:
            failures.append(name)
            print(f"FAIL  {name:36s} columns differ: spark={s_cols} duck={d_cols}")
            continue
        if len(spark_pd) != len(duck_pd):
            failures.append(name)
            print(
                f"FAIL  {name:36s} rowcount spark={len(spark_pd)} duck={len(duck_pd)}"
            )
            continue
        s_rows, d_rows = canonicalize(spark_pd), canonicalize(duck_pd)
        if s_rows != d_rows:
            failures.append(name)
            diff = [
                (a, b) for a, b in zip(s_rows, d_rows) if a != b
            ][:3]
            print(f"FAIL  {name:36s} values differ; first diffs: {diff}")
            continue
        print(
            f"OK    {name:36s} rows={len(spark_pd):6d} {time.time()-t0:5.1f}s"
        )

    print(
        f"\n{len(failures)} failures"
        + (f": {failures}" if failures else " — all queries match the oracle")
    )
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
