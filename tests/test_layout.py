"""Z-order layout (operators/layout.py): the written files must carry
tight parquet min/max ranges on EVERY interleaved dimension — measured
from the actual footers, not assumed."""

from __future__ import annotations

import glob

import pytest
from pyspark.sql import functions as F

from tests.conftest import record_opcheck

from data_export_tool_spark.operators.layout import write_zordered, zorder_key


def _file_ranges(path: str, col: str) -> list[tuple]:
    """(min, max) per parquet data file, from the footers."""
    import pyarrow.parquet as pq

    out = []
    for f in sorted(glob.glob(f"{path}/*.parquet")):
        md = pq.ParquetFile(f).metadata
        idx = md.schema.names.index(col)
        mn = min(md.row_group(g).column(idx).statistics.min for g in range(md.num_row_groups))
        mx = max(md.row_group(g).column(idx).statistics.max for g in range(md.num_row_groups))
        out.append((mn, mx))
    return out


def _avg_rel_width(ranges, lo, hi):
    return sum((b - a) / (hi - lo) for a, b in ranges) / len(ranges)


@pytest.fixture(scope="module")
def grid(spark):
    # a 200x200 grid in random row order: no pre-existing layout
    return (
        spark.range(40_000, numPartitions=8)
        .select(
            (F.col("id") % 200).alias("x"),
            (F.col("id") / 200).cast("long").alias("y"),
            F.abs(F.hash("id")).alias("noise"),
        )
        .orderBy(F.hash(F.col("id") + 7))
    )


def test_zorder_bounds_every_dimension(spark, grid, tmp_path):
    zpath = str(tmp_path / "zordered")
    spath = str(tmp_path / "xsorted")
    write_zordered(grid, zpath, ["x", "y"], num_files=16)
    # contrast layout: single-column range sort
    grid.repartitionByRange(16, "x").sortWithinPartitions("x").write.parquet(spath)

    zx, zy = _file_ranges(zpath, "x"), _file_ranges(zpath, "y")
    sx, sy = _file_ranges(spath, "x"), _file_ranges(spath, "y")

    # single-column sort: x tight, y useless (~full range per file)
    assert _avg_rel_width(sx, 0, 199) < 0.15
    assert _avg_rel_width(sy, 0, 199) > 0.8
    # z-order: BOTH dimensions bounded well below the full range
    assert _avg_rel_width(zx, 0, 199) < 0.45
    assert _avg_rel_width(zy, 0, 199) < 0.45

    # and the data survives the relayout intact
    a = spark.read.parquet(zpath).agg(
        F.count(F.lit(1)), F.sum("x"), F.sum("y"), F.sum("noise")
    ).first()
    b = grid.agg(
        F.count(F.lit(1)), F.sum("x"), F.sum("y"), F.sum("noise")
    ).first()
    bounded = (
        _avg_rel_width(zx, 0, 199) < 0.45 and _avg_rel_width(zy, 0, 199) < 0.45
    )
    record_opcheck(
        "zorder_layout", len(zx) + len(zy),
        bounded and tuple(a) == tuple(b),
        oracle="parquet-footer",
    )
    assert tuple(a) == tuple(b)


def test_zorder_key_properties(spark):
    df = spark.createDataFrame(
        [(0, 0), (0, 255), (255, 0), (255, 255), (None, 128)], "x int, y int"
    )
    vals = [
        r["z"]
        for r in df.select(zorder_key(df, ["x", "y"], bits=8).alias("z")).collect()
    ]
    # corners of the square map to the Morton corners
    assert vals[0] == 0
    assert vals[3] == (1 << 16) - 1  # all 16 interleaved bits set
    # x=255,y=0 -> even bit positions set (x occupies bits 0,2,4,..)
    assert vals[2] == sum(1 << (2 * b) for b in range(8))
    assert vals[1] == sum(1 << (2 * b + 1) for b in range(8))
    # NULL ranks lowest in its column, other column still contributes
    assert 0 < vals[4] < vals[3]


def test_zorder_key_validation(spark):
    df = spark.createDataFrame([(1, 2, 3, 4, 5)], "a int, b int, c int, d int, e int")
    with pytest.raises(ValueError, match=">= 2 columns"):
        zorder_key(df, ["a"])
    with pytest.raises(ValueError, match="64-bit"):
        zorder_key(df, ["a", "b", "c", "d", "e"], bits=16)
    # constant column contributes nothing but doesn't break the key
    dfc = spark.createDataFrame([(1, 7), (2, 7), (3, 7)], "a int, k int")
    zs = [r["z"] for r in dfc.select(zorder_key(dfc, ["a", "k"]).alias("z")).collect()]
    assert zs == sorted(zs) and zs[0] != zs[-1]


def test_zorder_single_range_exchange(spark, grid):
    from data_export_tool_spark.operators.layout import zorder_key

    z = grid.withColumn("__z", zorder_key(grid, ["x", "y"]))
    plan = (
        z.repartitionByRange(8, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # exactly one range exchange introduced by the relayout (the
    # fixture's own orderBy adds its own; count range partitionings)
    assert plan.count("rangepartitioning(__z") == 1


def test_write_sorted_disjoint_file_ranges(spark, grid, tmp_path):
    from data_export_tool_spark.operators.layout import write_sorted

    spath = str(tmp_path / "sorted")
    write_sorted(grid, spath, ["noise"], num_files=8)

    ranges = sorted(_file_ranges(spath, "noise"))
    assert len(ranges) >= 4
    # pairwise disjoint (range partitioner boundaries may touch but a
    # later file's min can never undercut an earlier file's max)
    ok = all(ranges[i + 1][0] >= ranges[i][1] for i in range(len(ranges) - 1))
    # data survives intact
    got = spark.read.parquet(spath)
    ok = ok and got.count() == 40_000
    ok = ok and got.agg(F.sum("noise")).first()[0] == (
        grid.agg(F.sum("noise")).first()[0]
    )
    record_opcheck(
        "write_sorted", len(ranges), ok, oracle="parquet-footer"
    )
    assert ok


def test_write_sorted_validation(spark, grid, tmp_path):
    from data_export_tool_spark.operators.layout import write_sorted

    with pytest.raises(ValueError):
        write_sorted(grid, str(tmp_path / "x"), [])


def test_scan_selectivity_measures_sorted_layout(spark, grid, tmp_path):
    from data_export_tool_spark.operators.layout import (
        scan_selectivity,
        write_sorted,
    )

    unsorted_path = str(tmp_path / "uns")
    sorted_path = str(tmp_path / "srt")
    grid.repartition(8).write.parquet(unsorted_path)
    write_sorted(grid, sorted_path, ["noise"], num_files=8)

    lo = 0
    hi = 1 << 28  # a narrow slice of the 0..2^31 noise range
    before = scan_selectivity(spark, unsorted_path, "noise", lo, hi)
    after = scan_selectivity(spark, sorted_path, "noise", lo, hi)
    # random layout: every file is a candidate; sorted: most skip
    assert before["n_files"] >= 4 and before["skip_ratio"] == 0.0
    assert after["skip_ratio"] >= 0.5, after
    # the measurement is conservative: candidates must cover all
    # actually-matching rows
    matching = grid.where(
        (F.col("noise") >= lo) & (F.col("noise") <= hi)
    ).count()
    assert after["rows_in_candidates"] >= matching
    assert before["rows_total"] == after["rows_total"] == 40_000
    ok = after["skip_ratio"] > before["skip_ratio"]
    # no value=: the slice is 1/8 of the noise range, and the range
    # partitioner's sampled boundaries decide whether one or two of the
    # 8 files overlap it, so the ratio moves between runs (0.75/0.875)
    record_opcheck(
        "scan_selectivity", after["n_files"] + before["n_files"], ok,
        oracle="parquet-footer",
    )
