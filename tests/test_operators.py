"""Operator tests: window dedup, as-of join, range join, conditional
pivot (SURVEY.md §2c/§2e)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from data_export_tool_spark.operators.asof import asof_join, range_join
from data_export_tool_spark.operators.pivot import conditional_agg
from data_export_tool_spark.operators.window_dedup import (
    earliest_per_key,
    latest_per_key,
    latest_value,
    ranked,
)


def _visits(spark):
    rows = [
        # client, encounter, date  (client 1 has a DATE TIE on encounters 12/13)
        (1, 10, dt.date(2023, 1, 1)),
        (1, 12, dt.date(2023, 3, 1)),
        (1, 13, dt.date(2023, 3, 1)),
        (2, 20, dt.date(2023, 2, 2)),
        (3, 30, None),  # NULL event date
        (3, 31, dt.date(2023, 1, 5)),
    ]
    return spark.createDataFrame(rows, "client_id long, encounter_id long, d date")


def test_latest_per_key_tiebreak(spark):
    out = {
        r.client_id: r.encounter_id
        for r in latest_per_key(
            _visits(spark), ["client_id"], ["d"], tiebreak="encounter_id"
        ).collect()
    }
    # ties broken by encounter_id DESC (the reference's pin); NULL dates
    # sort last under DESC (MySQL/Spark agree)
    assert out == {1: 13, 2: 20, 3: 31}


def test_earliest_per_key(spark):
    out = {
        r.client_id: r.encounter_id
        for r in earliest_per_key(
            _visits(spark), ["client_id"], ["d"], tiebreak="encounter_id"
        ).collect()
    }
    # ASC: NULLs first in Spark asc() — matches MySQL ASC null ordering
    assert out[1] == 10
    assert out[3] == 30


def test_ranked_multi_use(spark):
    r = ranked(_visits(spark), ["client_id"], ["d"], tiebreak="encounter_id")
    two = r.filter(F.col("row_num") == 2).count()
    assert two == 2  # clients 1 and 3 have ≥2 visits


def _lookups(spark):
    rows = [
        # client, encounter, date, value, where
        (1, 10, dt.date(2023, 1, 1), "a", True),
        (1, 12, dt.date(2023, 3, 1), "b", True),  # date tie with 13
        (1, 13, dt.date(2023, 3, 1), "c", True),
        (1, 14, dt.date(2023, 4, 1), "d", False),  # latest, but excluded
        (2, 20, None, "e", True),  # NULL order value
        (2, 21, dt.date(2023, 2, 2), None, True),  # NULL value on the latest row
        (2, 22, dt.date(2023, 1, 2), "f", True),
        (3, 30, None, "g", True),  # every order value NULL
        (3, 31, None, "h", True),
        (4, 40, dt.date(2023, 5, 5), "i", False),  # where excludes every row
        (4, 41, None, "j", False),
    ]
    return spark.createDataFrame(
        rows, "client_id long, encounter_id long, d date, v string, keep boolean"
    )


def _per_client(df, windowed, col):
    """``windowed``'s ``col`` left-joined back to every client of ``df``:
    the lookup a window dedup feeds."""
    return {
        r.client_id: r[col]
        for r in df.select("client_id")
        .distinct()
        .join(windowed.select("client_id", col), "client_id", "left")
        .collect()
    }


def _aggregated(df, agg):
    return {r.client_id: r.x for r in df.groupBy("client_id").agg(agg.alias("x")).collect()}


def test_latest_value_matches_latest_per_key(spark):
    """The aggregate lookup returns exactly what ``latest_per_key`` over
    the ``where``-filtered frame picks, left-joined back per client:
    NULL order values last, NULL values kept, date ties broken by
    encounter_id, an all-excluded client NULL."""
    df = _lookups(spark)
    windowed = latest_per_key(df.filter("keep"), ["client_id"], ["d"], tiebreak="encounter_id")
    got = _aggregated(df, latest_value("v", ["d"], where=F.col("keep"), tiebreak="encounter_id"))
    assert got == _per_client(df, windowed, "v")
    assert got == {1: "c", 2: None, 3: "h", 4: None}


@pytest.mark.parametrize("descending", [True, False])
def test_masked_extreme_matches_window_dedup(spark, descending):
    """A date looked up by itself is its masked max (latest) or min
    (earliest). ASC puts NULLs first while min skips them, so min is
    the same lookup only under a mask that excludes NULL order
    values."""
    df = _lookups(spark)
    pick = latest_per_key if descending else earliest_per_key
    mask = "keep" if descending else "keep AND d IS NOT NULL"
    windowed = pick(df.filter(mask), ["client_id"], ["d"], tiebreak="encounter_id")
    extreme = F.max if descending else F.min
    got = _aggregated(df, extreme(F.when(F.expr(mask), F.col("d"))))
    assert got == _per_client(df, windowed, "d")


def test_asof_join_backward(spark):
    left = spark.createDataFrame(
        [(1, dt.date(2023, 6, 1)), (2, dt.date(2023, 6, 1)), (3, dt.date(2023, 6, 1))],
        "k long, ref date",
    )
    right = spark.createDataFrame(
        [
            (1, dt.date(2023, 1, 1), "a"),
            (1, dt.date(2023, 5, 30), "b"),
            (1, dt.date(2023, 7, 1), "future"),
            (2, dt.date(2023, 8, 1), "only-future"),
        ],
        "k long, t date, v string",
    )
    out = {
        r.k: r.v
        for r in asof_join(
            left, right, on=["k"], left_time="ref", right_time="t"
        ).collect()
    }
    assert out[1] == "b"  # latest at-or-before ref
    assert out[2] is None  # candidate exists but only after ref → null
    assert out[3] is None  # no candidate at all → null (left join)


def test_asof_join_inner_and_forward(spark):
    left = spark.createDataFrame([(1, dt.date(2023, 6, 1))], "k long, ref date")
    right = spark.createDataFrame(
        [(1, dt.date(2023, 5, 1), "past"), (1, dt.date(2023, 7, 1), "next")],
        "k long, t date, v string",
    )
    fwd = asof_join(
        left, right, on=["k"], left_time="ref", right_time="t", direction="forward"
    ).first()
    assert fwd.v == "next"


def test_asof_join_null_right_time_never_matches(spark):
    # ADVICE parity: the reference's correlated `WHERE t <= ref LIMIT 1`
    # can never return a NULL-time row; neither may the rewrite
    left = spark.createDataFrame(
        [(1, dt.date(2023, 6, 1)), (2, dt.date(2023, 6, 1))], "k long, ref date"
    )
    right = spark.createDataFrame(
        [
            (1, None, "null-time"),
            (1, dt.date(2023, 5, 1), "real"),
            (2, None, "null-only"),
        ],
        "k long, t date, v string",
    )
    back = {
        r.k: r.v
        for r in asof_join(left, right, on=["k"], left_time="ref", right_time="t").collect()
    }
    assert back[1] == "real"
    assert back[2] is None  # NULL-time candidate must not be returned
    fwd = {
        r.k: r.v
        for r in asof_join(
            left, right, on=["k"], left_time="ref", right_time="t",
            direction="forward",
        ).collect()
    }
    assert fwd[1] is None  # only candidate is in the past
    assert fwd[2] is None  # NULL-time must not outrank absence


def test_asof_join_duplicate_left_rows_kept(spark):
    left = spark.createDataFrame(
        [(1, dt.date(2023, 6, 1), "x"), (1, dt.date(2023, 6, 1), "y")],
        "k long, ref date, tag string",
    )
    right = spark.createDataFrame(
        [(1, dt.date(2023, 5, 1), "m")], "k long, t date, v string"
    )
    rows = asof_join(
        left, right, on=["k"], left_time="ref", right_time="t"
    ).collect()
    assert sorted((r.tag, r.v) for r in rows) == [("x", "m"), ("y", "m")]


def test_asof_join_deterministic_across_partitionings(spark):
    # same data, adversarial partitioning → identical result (the
    # monotonically_increasing_id pitfall this operator must not have)
    import random

    rng = random.Random(7)
    left_rows = [(k, dt.date(2023, 6, 1 + (k % 20))) for k in range(200)]
    right_rows = [
        (k % 50, dt.date(2023, 3 + (i % 4), 1 + (i * 7) % 28), float(i))
        for i, k in enumerate(range(400))
    ]
    rng.shuffle(right_rows)
    left1 = spark.createDataFrame(left_rows, "k long, ref date")
    right1 = spark.createDataFrame(right_rows, "k long, t date, v double")
    out1 = sorted(
        map(tuple, asof_join(left1, right1, on=["k"], left_time="ref", right_time="t").collect())
    )
    left2 = left1.repartition(7)
    right2 = right1.repartition(13, "t")
    out2 = sorted(
        map(tuple, asof_join(left2, right2, on=["k"], left_time="ref", right_time="t").collect())
    )
    assert out1 == out2


def test_range_join(spark):
    points = spark.createDataFrame(
        [(1, dt.date(2023, 1, 5)), (1, dt.date(2023, 2, 20))], "k long, p date"
    )
    windows = spark.createDataFrame(
        [(1, dt.date(2023, 1, 1), dt.date(2023, 1, 31))],
        "k long, lo date, hi date",
    )
    out = range_join(points, windows, on=["k"], point="p", lower="lo", upper="hi")
    assert out.count() == 1


def test_conditional_agg_pivot(spark):
    df = spark.createDataFrame(
        [("TI", 5), ("TI", 3), ("NTI", 2)], "status string, total int"
    )
    row = conditional_agg(
        df,
        group_by=[],
        cases={
            "ti_total": (F.col("status") == "TI", F.col("total")),
            "nti_total": (F.col("status") == "NTI", F.col("total")),
        },
    ).first()
    assert row.ti_total == 8 and row.nti_total == 2


def test_salted_join_matches_unsalted(spark):
    from data_export_tool_spark.operators.skew import salted_join

    # one hot key (90% of rows) + a long tail
    left = spark.createDataFrame(
        [(1 if i < 900 else i, float(i)) for i in range(1000)], "k long, v double"
    )
    right = spark.createDataFrame(
        [(i, f"r{i}") for i in range(0, 200)], "k long, name string"
    )
    expected = sorted(map(tuple, left.join(right, "k").collect()))
    got = sorted(map(tuple, salted_join(left, right, on=["k"], salt=8).collect()))
    assert got == expected
    # left join keeps unmatched rows as nulls, same as unsalted
    exp_l = sorted(map(tuple, left.join(right, "k", "left").collect()))
    got_l = sorted(
        map(tuple, salted_join(left, right, on=["k"], salt=8, how="left").collect())
    )
    assert got_l == exp_l


def test_two_phase_agg_matches_direct(spark):
    from data_export_tool_spark.operators.skew import two_phase_agg

    df = spark.createDataFrame(
        [(1 if i % 10 else 2, i, float(i % 7)) for i in range(1000)],
        "k long, n long, x double",
    )
    got = {
        r.k: (r.count_n, r.min_n, r.max_x)
        for r in two_phase_agg(
            df, ["k"], {"n": "count"}, salt=4
        )
        .join(two_phase_agg(df, ["k"], {"n": "min"}, salt=4), "k")
        .join(two_phase_agg(df, ["k"], {"x": "max"}, salt=4), "k")
        .collect()
    }
    exp = {
        r.k: (r.c, r.mn, r.mx)
        for r in df.groupBy("k")
        .agg(
            F.count("n").alias("c"),
            F.min("n").alias("mn"),
            F.max("x").alias("mx"),
        )
        .collect()
    }
    assert got == exp
    import pytest as _pytest

    with _pytest.raises(ValueError, match="non-decomposable"):
        two_phase_agg(df, ["k"], {"x": "avg"})


def test_pin_above_exchange_value_identity_and_barrier(spark):
    from pyspark.sql import functions as F

    from data_export_tool_spark.parallelism import pin_above_exchange

    df = spark.createDataFrame(
        [(i, i % 3 == 0) for i in range(100)], "id long, flag boolean"
    ).withColumn("flag", F.when(F.col("id") % 7 == 0, None).otherwise(F.col("flag")))
    pinned = df.repartition(4).select(
        "id", pin_above_exchange(F.col("flag")).alias("p")
    )
    # value identity, nulls included
    got = {(r.id, r.p) for r in pinned.collect()}
    exp = {(r.id, r.flag) for r in df.collect()}
    assert got == exp
    # the barrier holds: a filter on the pinned alias must NOT be
    # substituted below the Project/Exchange (the optimizer strips
    # foldable wrappers like isnull(rand()) — shuffle(array(col)) must
    # survive), so the plan keeps a Filter ABOVE the Exchange
    plan = pinned.where("p")._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    tree = plan.split("\n\n")[0]
    assert tree.index("Filter") < tree.index("Exchange"), tree


def test_sort_after_stage_matches_plain_orderby(spark):
    from pyspark.sql import functions as F

    from data_export_tool_spark.parallelism import sort_after_stage

    df = spark.createDataFrame(
        [(i * 37 % 101, f"r{i}") for i in range(101)], "k long, s string"
    )
    plain = [tuple(r) for r in df.orderBy("k").collect()]
    staged = [tuple(r) for r in sort_after_stage(df, "k").collect()]
    assert staged == plain
    # and the stage is really there: a round-robin exchange below the sort
    plan = sort_after_stage(df, "k")._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "RoundRobinPartitioning" in plan, plan
    assert "rangepartitioning" in plan.lower(), plan


def test_asof_join_map_payload_and_string_on(spark):
    # map-typed payload columns cannot participate in struct ordering;
    # the rewrite must fall back to max_by on (time, tiebreaks). Also:
    # a bare-string `on` must mean one column, not its characters.
    from pyspark.sql import functions as F

    from data_export_tool_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, 20), (2, 20)], "k long, ref long")
    right = spark.createDataFrame(
        [(1, 5, "a"), (1, 15, "b"), (2, 25, "c")], "k long, t long, tag string"
    ).withColumn("attrs", F.create_map(F.lit("x"), F.col("tag")))
    out = asof_join(
        left, right, on="k", left_time="ref", right_time="t", tiebreak="t"
    ).orderBy("k").collect()
    assert [(r.k, r.t, r.tag) for r in out] == [(1, 15, "b"), (2, None, None)]
    assert out[0].attrs == {"x": "b"}


def test_latest_n_per_key_matches_duckdb(spark, sf_dir):
    """Two-phase salted top-N == DuckDB's ROW_NUMBER truth (with the
    deterministic tiebreak), exact at every n."""
    import duckdb

    from data_export_tool_spark.catalog import Catalog
    from data_export_tool_spark.operators.window_dedup import latest_n_per_key
    from tests.conftest import record_opcheck

    ev = Catalog(spark, sf_dir).load("events")
    got = {
        (r["user_id"], r["row_num"]): r["event_id"]
        for r in latest_n_per_key(
            ev, ["user_id"], ["ts"], n=3, tiebreak="event_id"
        ).collect()
    }
    con = duckdb.connect()
    want = {
        (u, rn): e
        for u, rn, e in con.sql(
            f"""
            SELECT user_id, rn, event_id FROM (
              SELECT user_id, event_id,
                     ROW_NUMBER() OVER (
                       PARTITION BY user_id
                       ORDER BY ts DESC, event_id DESC
                     ) AS rn
              FROM read_parquet('{sf_dir}/events.parquet')
            ) WHERE rn <= 3
            """
        ).fetchall()
    }
    record_opcheck("latest_n_per_key", len(want), got == want)
    assert got == want


def test_latest_n_per_key_hot_key_exact(spark):
    """A 10⁵-row hot key plus tiny keys: the salted two-phase form must
    return exactly the true latest-3 (closed form) and keep small keys
    intact (fewer rows than n -> all ranked)."""
    from data_export_tool_spark.operators.window_dedup import latest_n_per_key

    hot = spark.range(100_000).select(
        F.lit(1).alias("k"),
        F.col("id").alias("seq"),
    )
    small = spark.range(2).select(
        F.lit(2).alias("k"), (F.col("id") + 500_000).alias("seq")
    )
    out = latest_n_per_key(
        hot.unionByName(small), ["k"], ["seq"], n=3
    )
    got = {
        (r["k"], r["row_num"]): r["seq"] for r in out.collect()
    }
    assert got == {
        (1, 1): 99_999, (1, 2): 99_998, (1, 3): 99_997,
        (2, 1): 500_001, (2, 2): 500_000,
    }


def test_key_skew_report_matches_duckdb(spark, sf_dir):
    import duckdb

    from tests.conftest import record_opcheck
    from data_export_tool_spark.operators.skew import key_skew_report

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    got = {
        r["column"]: r
        for r in key_skew_report(
            ev, ["event_type", "user_id"], top_k=5
        ).collect()
    }
    ok = set(got) == {"event_type", "user_id"}
    for c in got:
        n = duckdb.sql(
            f"SELECT count(*) FROM read_parquet('{sf_dir}/events.parquet')"
        ).fetchone()[0]
        nn = duckdb.sql(
            f"SELECT count({c}) FROM read_parquet('{sf_dir}/events.parquet')"
        ).fetchone()[0]
        tops = duckdb.sql(
            f"""SELECT CAST({c} AS VARCHAR), count(*) FROM
                read_parquet('{sf_dir}/events.parquet')
                WHERE {c} IS NOT NULL GROUP BY 1
                ORDER BY count(*) DESC, 1 ASC LIMIT 5"""
        ).fetchall()
        r = got[c]
        ok = ok and r["n_rows"] == int(n) and r["n_null"] == int(n - nn)
        ok = ok and abs(r["top1_frac"] - tops[0][1] / nn) < 1e-9
        ok = ok and abs(r["topk_frac"] - sum(t[1] for t in tops) / nn) < 1e-9
        ok = ok and r["top_values"] == [t[0] for t in tops]
        # HLL estimate within documented error of exact
        exact_nd = duckdb.sql(
            f"SELECT count(DISTINCT {c}) FROM"
            f" read_parquet('{sf_dir}/events.parquet')"
        ).fetchone()[0]
        ok = ok and abs(r["n_distinct_est"] - exact_nd) <= max(
            3, 0.15 * exact_nd
        )
    record_opcheck("key_skew_report", len(got), ok)
    assert ok
