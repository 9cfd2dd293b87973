"""Generic reader / format-conversion tests."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from data_export_tool_spark.sources.readers import convert_dataset, read_dataset
from tests.conftest import record_opcheck


def test_roundtrip_parquet_csv_json(spark, sf_dir, tmp_path):
    src = read_dataset(spark, os.path.join(sf_dir, "nation.parquet"))
    for fmt in ("csv", "json", "orc"):
        out = str(tmp_path / fmt)
        convert_dataset(src, out, fmt=fmt, coalesce=1)
        back = read_dataset(
            spark, out, fmt=fmt, schema=src.schema if fmt != "csv" else None
        )
        assert back.count() == src.count()
        assert {r.n_name for r in back.collect()} == {
            r.n_name for r in src.collect()
        }


def test_partitioned_write_prunes(spark, sf_dir, tmp_path):
    orders = read_dataset(spark, os.path.join(sf_dir, "orders.parquet"))
    out = str(tmp_path / "orders_by_status")
    convert_dataset(orders, out, partition_by=["o_orderstatus"])
    # hive-style partition dirs exist
    assert any(d.startswith("o_orderstatus=") for d in os.listdir(out))
    back = read_dataset(spark, out)
    pruned = back.filter(F.col("o_orderstatus") == "F")
    assert pruned.count() == orders.filter(F.col("o_orderstatus") == "F").count()


def test_csv_permissive_corrupt_rows(spark, tmp_path):
    p = tmp_path / "rows.json"
    p.write_text('{"a": 1, "b": "x"}\n{"a": broken\n{"a": 3, "b": "z"}\n')
    df = read_dataset(
        spark,
        str(p),
        fmt="json",
        schema="a long, b string, _corrupt_record string",
    )
    rows = df.collect()
    assert len(rows) == 3
    assert sum(r._corrupt_record is not None for r in rows) == 1


def test_csv_sink_nullable_int_columns_stay_integral(spark, tmp_path):
    # Arrow toPandas coerces a LongType column with any NULL to
    # float64, and to_csv then writes '123.0' where the reference's
    # csv.writer writes '123' — the sink must keep integers integral
    from data_export_tool_spark.sources.csv_sink import write_query_csv

    df = spark.createDataFrame(
        [(1, 123456, "a"), (2, None, "b")], "id long, enc long, s string"
    )
    path = write_query_csv(df, str(tmp_path), "q", "Fac", "H1", "Meskerem", 2016)
    body = open(path).read()
    assert "123456" in body and "123456.0" not in body
    # the NULL cell is empty, like csv.writer(None)
    lines = body.strip().splitlines()
    assert lines[2].split(",")[1] == ""


def test_csv_sink_runs_a_failing_query_once(spark, tmp_path):
    # a query that raises at run time reaches the caller after one
    # job, not after a second run through another collect path
    import pytest

    from data_export_tool_spark.sources.csv_sink import write_query_csv

    df = spark.range(10).select(
        "id",
        F.when(F.col("id") > 5, F.raise_error(F.lit("sink boom")))
        .otherwise(F.col("id"))
        .alias("v"),
    )
    sc = spark.sparkContext
    group = "csv_sink_runs_a_failing_query_once"
    sc.setJobGroup(group, group)
    try:
        with pytest.raises(Exception, match="sink boom"):
            write_query_csv(df, str(tmp_path), "q", "Fac", "H1", "Meskerem", 2016)
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1


def test_facility_columns_append_not_replace(spark):
    # the reference APPENDS its identity tuple unconditionally
    # (export.py:294-304); a query selecting its own 'Region' column
    # must keep BOTH values, not have its data overwritten in place
    from data_export_tool_spark.sources.csv_sink import with_facility_columns

    df = spark.createDataFrame([("north", 1)], "Region string, v long")
    out = with_facility_columns(df, "Addis", "W", "F", "H")
    assert out.columns == ["Region", "v", "Region", "Woreda", "Facility", "HMISCode"]
    row = out.collect()[0]
    assert row[0] == "north" and row[2] == "Addis"


def test_convert_dataset_output_hygiene(spark, tmp_path):
    """max_records_per_file bounds every output file; sort_by tightens
    per-file parquet min/max stats without a global sort."""
    import glob

    import pyarrow.parquet as pq

    from data_export_tool_spark.sources.readers import convert_dataset

    df = spark.range(10_000, numPartitions=2).select(
        F.col("id"), (F.col("id") % 97).alias("v")
    )
    out = str(tmp_path / "hygiene")
    convert_dataset(
        df, out, sort_by=["id"], max_records_per_file=1500
    )
    files = glob.glob(f"{out}/*.parquet")
    assert len(files) >= 7  # 10k rows / 1500 cap needs >= 7 files
    total = 0
    for f in files:
        md = pq.ParquetFile(f).metadata
        assert md.num_rows <= 1500
        total += md.num_rows
        # sorted-within: each file's id range is contiguous-tight
        idx = md.schema.names.index("id")
        mn = min(md.row_group(g).column(idx).statistics.min for g in range(md.num_row_groups))
        mx = max(md.row_group(g).column(idx).statistics.max for g in range(md.num_row_groups))
        assert mx - mn + 1 <= 5001  # half a partition's span, not 10k
    assert total == 10_000
    got = spark.read.parquet(out).agg(F.count(F.lit(1)), F.sum("id")).first()
    assert tuple(got) == (10_000, sum(range(10_000)))


def test_convert_dataset_sort_with_coalesce(spark, tmp_path):
    """Review finding: sorting before coalesce concatenated sorted runs
    per merged file, spanning ~the full range. Coalesce-then-sort must
    keep each file's range a fraction of the whole."""
    import glob

    import pyarrow.parquet as pq

    from data_export_tool_spark.sources.readers import convert_dataset

    df = spark.range(8000, numPartitions=16).select(F.col("id"))
    out = str(tmp_path / "coalesced_sorted")
    convert_dataset(df, out, sort_by=["id"], coalesce=4)
    for f in glob.glob(f"{out}/*.parquet"):
        md = pq.ParquetFile(f).metadata
        idx = md.schema.names.index("id")
        mn = min(md.row_group(g).column(idx).statistics.min for g in range(md.num_row_groups))
        mx = max(md.row_group(g).column(idx).statistics.max for g in range(md.num_row_groups))
        # a sorted-run concatenation would span ~8000; a sorted merged
        # partition spans ~its share
        assert mx - mn < 4000, (mn, mx)


def test_union_evolve_widens_and_nullfills(spark):
    """Schema-evolution union vs a python replay: first-seen column
    order, NULL-fill, the widening lattice (int→long, float→double,
    long∨float→double, decimal mix→double, date∨timestamp→timestamp),
    and the loud-error contract on incompatible drift."""
    import datetime as dt
    import decimal

    import pytest

    from data_export_tool_spark.sources.readers import union_evolve

    d1 = spark.createDataFrame(
        [(1, 1.5, dt.date(2024, 1, 2))], "a int, b float, d date"
    )
    d2 = spark.createDataFrame(
        [(2**40, 2.5, dt.datetime(2024, 2, 3, 4, 5), "x")],
        "a long, b double, d timestamp, extra string",
    )
    d3 = spark.createDataFrame(
        [(decimal.Decimal("7.25"), 3)], "b decimal(10,2), a int"
    )
    out = union_evolve([d1, d2, d3])
    # first-seen order; widened types
    assert [f.name for f in out.schema.fields] == ["a", "b", "d", "extra"]
    types = {f.name: f.dataType.simpleString() for f in out.schema.fields}
    assert types == {
        "a": "bigint", "b": "double", "d": "timestamp", "extra": "string"
    }
    rows = sorted(out.collect(), key=lambda r: r["a"])
    want = [
        (1, 1.5, dt.datetime(2024, 1, 2, 0, 0), None),
        (3, 7.25, None, None),
        (2**40, 2.5, dt.datetime(2024, 2, 3, 4, 5), "x"),
    ]
    assert [tuple(r) for r in rows] == want
    record_opcheck("union_evolve", len(want), True, oracle="python-reference")

    # long ∨ float must pick double (exactness), not float
    f1 = spark.createDataFrame([(2**53 + 1,)], "x long")
    f2 = spark.createDataFrame([(0.5,)], "x float")
    assert dict(union_evolve([f1, f2]).dtypes)["x"] == "double"

    # incompatible drift names the column and both types
    s1 = spark.createDataFrame([("a",)], "x string")
    s2 = spark.createDataFrame([(1,)], "x int")
    with pytest.raises(ValueError, match="'x'.*string.*int|'x'.*int.*string"):
        union_evolve([s1, s2])
    with pytest.raises(ValueError):
        union_evolve([])
    # single frame: identity modulo nothing
    assert union_evolve([d1]).collect() == d1.collect()
