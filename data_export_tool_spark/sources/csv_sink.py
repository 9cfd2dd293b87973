"""CSV export sink with the reference's column/naming contract.

Reference behavior (/root/reference/export.py:281-311):

- one CSV per query, named ``{query}_{Facility}{HMIS}_{Month}_{Year}.csv``
  (export.py:298);
- header = query's own columns, then the four facility-identity
  columns appended AFTER them (export.py:304: header + extra_columns);
- every data row gets the same facility tuple appended (export.py:294-296);
- empty results are skipped — no file is written (export.py:307-308).

Spark-first translation: facility values become literal columns
(constant-folded by Catalyst, zero runtime cost), and the sink writes
a single CSV per query: a driver-side pandas write preserves exact
column order and produces one file (what the downstream zip step
needs).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: the reference's appended identity column order (export.py:304)
FACILITY_COLUMNS = ("Region", "Woreda", "Facility", "HMISCode")


def with_facility_columns(
    df: DataFrame, region: str, woreda: str, facility: str, hmis_code: str
) -> DataFrame:
    """S5: append the constant facility-identity columns after the
    query's own columns (export.py:294-296,304). APPEND, not
    ``withColumn``: the reference adds its tuple unconditionally, so a
    query that selects its own ``Region``/``Facility``/... column keeps
    BOTH (duplicate-named) columns in order — ``withColumn`` would
    silently overwrite the query's per-row data in place."""
    return df.select(
        "*",
        F.lit(region).alias("Region"),
        F.lit(woreda).alias("Woreda"),
        F.lit(facility).alias("Facility"),
        F.lit(hmis_code).alias("HMISCode"),
    )


def csv_name(query_name: str, facility: str, hmis_code: str, month: str, year) -> str:
    """Naming contract parity: export.py:298."""
    return f"{query_name}_{facility}{hmis_code}_{month}_{year}.csv"


def write_query_csv(
    df: DataFrame,
    out_dir: str,
    query_name: str,
    facility: str,
    hmis_code: str,
    month: str,
    year,
) -> str | None:
    """S6: write one CSV for a query result; returns the path, or None
    when the result is empty (the reference skips empty results,
    export.py:307-308). The query runs once: an error it raises
    reaches the caller."""
    os.makedirs(out_dir, exist_ok=True)
    name = csv_name(query_name, facility, hmis_code, month, year)
    path = os.path.join(out_dir, name)
    # Arrow conversion with NULLABLE integer dtypes: a plain
    # toPandas() under Arrow coerces an integer column containing any
    # NULL to float64, and to_csv then writes '123456.0' where the
    # reference's csv.writer writes '123456'. Int64/Int32 pandas
    # extension dtypes print integers and leave NULLs empty.
    import pandas as pd
    import pyarrow as pa

    _INT_DTYPES = {
        pa.int8(): pd.Int8Dtype(),
        pa.int16(): pd.Int16Dtype(),
        pa.int32(): pd.Int32Dtype(),
        pa.int64(): pd.Int64Dtype(),
    }
    pdf = df.toArrow().to_pandas(types_mapper=_INT_DTYPES.get)
    if len(pdf) == 0:
        return None
    pdf.to_csv(path, index=False)
    return path
