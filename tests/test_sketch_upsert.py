"""Accuracy/semantics pins for the sketch and CDC-upsert operators."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import record_opcheck

from data_export_tool_spark.operators.sketch import (
    approx_distinct,
    approx_quantiles,
    exact_quantiles,
)
from data_export_tool_spark.operators.upsert import merge_upsert


def test_approx_distinct_within_rsd(spark):
    df = spark.range(100_000).select(
        (F.col("id") % 20_000).alias("k"), (F.col("id") % 7).alias("g")
    )
    got = approx_distinct(df, "k", rsd=0.02).first()[0]
    assert abs(got - 20_000) / 20_000 < 0.06  # 3 sigma of rsd=0.02
    per_group = {
        r.g: r.approx_distinct_k
        for r in approx_distinct(df, "k", by=["g"], rsd=0.02).collect()
    }
    assert set(per_group) == set(range(7))
    for g, est in per_group.items():
        exact = df.filter(F.col("g") == g).select("k").distinct().count()
        assert abs(est - exact) / exact < 0.06


def test_approx_quantiles_rank_error(spark):
    n = 50_000
    df = spark.range(n).select(F.col("id").cast("double").alias("x"))
    probs = (0.25, 0.5, 0.9)
    got = approx_quantiles(df, "x", probs, relative_error=0.001).first()[0]
    for p, est in zip(probs, got):
        # GK guarantee: returned element's rank within eps*N of target
        assert abs(est - p * (n - 1)) <= 0.001 * n + 1


def test_exact_quantiles_interpolates(spark):
    df = spark.createDataFrame([(float(v),) for v in (1, 2, 3, 4)], "x double")
    q = df.agg(exact_quantiles("x", (0.5,))[0].alias("m")).first().m
    assert q == 2.5  # PERCENTILE_CONT linear interpolation, not nearest


def test_merge_upsert_semantics(spark):
    target = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "k long, s string, v long"
    )
    updates = spark.createDataFrame(
        [(2, "B", 21), (9, "z", 90)], "k long, s string, v long"
    )
    got = {r.k: (r.s, r.v) for r in merge_upsert(target, updates, ["k"]).collect()}
    assert got == {1: ("a", 10), 2: ("B", 21), 3: ("c", 30), 9: ("z", 90)}


def test_merge_upsert_order_by_picks_newest(spark):
    target = spark.createDataFrame([(1, 5, "old")], "k long, seq long, s string")
    updates = spark.createDataFrame(
        [(1, 3, "stale"), (1, 7, "new")], "k long, seq long, s string"
    )
    got = merge_upsert(target, updates, ["k"], order_by=["seq"]).collect()
    assert [(r.k, r.seq, r.s) for r in got] == [(1, 7, "new")]
    # a stale changeset must NOT beat a newer target row
    got2 = merge_upsert(
        spark.createDataFrame([(1, 9, "target-newest")], "k long, seq long, s string"),
        updates,
        ["k"],
        order_by=["seq"],
    ).collect()
    assert got2[0].s == "target-newest"


def test_merge_upsert_rejects_schema_drift(spark):
    target = spark.createDataFrame([(1, "a")], "k long, s string")
    updates = spark.createDataFrame([(1, "a", 2)], "k long, s string, extra long")
    with pytest.raises(ValueError, match="column mismatch"):
        merge_upsert(target, updates, ["k"])


# ---------------------------------------------------------------------------
# Heavy hitters (sketch.exact_topk / mg_candidates / topk_two_pass)
# ---------------------------------------------------------------------------


def _zipf_df(spark, n=20_000, n_items=500, seed=7):
    """Deterministic zipf-ish skew: item i drawn with weight ~ 1/(i+1).
    Built column-side (no python rng) so every run is identical."""
    return (
        spark.range(n, numPartitions=8)
        .withColumn("u", F.abs(F.hash(F.col("id") + F.lit(seed))) % 1000000 / 1000000.0)
        # inverse-CDF of a truncated zeta-ish distribution via pow
        .withColumn(
            "item",
            F.concat(
                F.lit("k"),
                F.floor(F.pow(F.lit(n_items + 1.0), F.col("u")) - 1).cast("long"),
            ),
        )
        .select("item")
    )


def test_exact_topk_matches_duckdb(spark, sf_dir):
    import duckdb

    from data_export_tool_spark.operators.sketch import exact_topk

    got = [
        (r["item"], r["cnt"])
        for r in exact_topk(
            spark.read.parquet(f"{sf_dir}/documents.parquet"), "lang", 3
        ).collect()
    ]
    want = duckdb.sql(
        f"SELECT lang AS item, count(*) AS cnt FROM '{sf_dir}/documents.parquet'"
        " WHERE lang IS NOT NULL GROUP BY 1 ORDER BY cnt DESC, item LIMIT 3"
    ).fetchall()
    record_opcheck("exact_topk", len(want), got == [(i, c) for i, c in want])
    assert got == [(i, c) for i, c in want]


def test_exact_topk_grouped(spark):
    from data_export_tool_spark.operators.sketch import exact_topk

    df = spark.createDataFrame(
        [("a", "x")] * 5 + [("a", "y")] * 3 + [("a", "z")] + [("b", "y")] * 2 + [("b", "x")],
        "g string, v string",
    )
    got = {
        (r["g"], r["item"]): r["cnt"]
        for r in exact_topk(df, "v", 2, by=["g"]).collect()
    }
    assert got == {("a", "x"): 5, ("a", "y"): 3, ("b", "y"): 2, ("b", "x"): 1}


def test_mg_guarantee_and_two_pass_exactness(spark):
    from data_export_tool_spark.operators.sketch import (
        exact_topk,
        mg_candidates,
        topk_two_pass,
    )

    df = _zipf_df(spark)
    exact = [(r["item"], r["cnt"]) for r in exact_topk(df, "item", 10).collect()]
    n = df.count()

    # MG guarantee: every item with count > N/(cap+1) is in the summary
    cap = 64
    cands = {r["item"] for r in mg_candidates(df, "item", cap).collect()}
    for item, cnt in exact:
        if cnt > n / (cap + 1):
            assert item in cands, (item, cnt, n)

    # two-pass returns the SAME items with EXACT counts as the
    # full-shuffle form, at a candidate-bounded exchange
    got = [(r["item"], r["cnt"]) for r in topk_two_pass(df, "item", 10).collect()]
    record_opcheck("topk_two_pass", len(exact), got == exact, oracle="exact-recount")
    assert got == exact


def test_two_pass_plan_broadcasts_candidates(spark):
    from data_export_tool_spark.operators.sketch import topk_two_pass

    df = _zipf_df(spark, n=2000)
    plan = topk_two_pass(df, "item", 5)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_exact_topk_plans_take_ordered(spark, sf_dir):
    from data_export_tool_spark.operators.sketch import exact_topk

    plan = (
        exact_topk(spark.read.parquet(f"{sf_dir}/documents.parquet"), "lang", 3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # LIMIT k over an aggregate must be TakeOrdered, not a global Sort
    assert "TakeOrderedAndProject" in plan
    assert "HashAggregate" in plan


# ---------------------------------------------------------------------------
# snapshot_diff / apply_diff
# ---------------------------------------------------------------------------


def test_snapshot_diff_classifies_changes(spark):
    from data_export_tool_spark.operators.upsert import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30), (4, None, 40)],
        "k long, s string, v long",
    )
    new = spark.createDataFrame(
        [(1, "a", 10), (2, "B", 20), (4, None, 40), (5, "e", 50)],
        "k long, s string, v long",
    )
    got = {
        r["k"]: (r["change_type"], r["s"], r["v"])
        for r in snapshot_diff(old, new, ["k"]).collect()
    }
    # k=1 unchanged -> absent; k=4 unchanged (NULL==NULL inside struct hash)
    assert got == {
        2: ("update", "B", 20),
        3: ("delete", "c", 30),
        5: ("insert", "e", 50),
    }


def test_snapshot_diff_compare_cols_subset(spark):
    from data_export_tool_spark.operators.upsert import snapshot_diff

    old = spark.createDataFrame([(1, "a", 10)], "k long, s string, v long")
    new = spark.createDataFrame([(1, "a", 99)], "k long, s string, v long")
    # v changed but only s is compared -> no change reported
    assert snapshot_diff(old, new, ["k"], compare_cols=["s"]).count() == 0
    assert (
        snapshot_diff(old, new, ["k"], compare_cols=["v"]).collect()[0][
            "change_type"
        ]
        == "update"
    )
    with pytest.raises(ValueError):
        snapshot_diff(old, new, ["k"], compare_cols=["nope"])


def test_snapshot_diff_matches_duckdb(spark, sf_dir):
    import duckdb

    from data_export_tool_spark.operators.upsert import snapshot_diff

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    # perturb: drop keys %97==0 (deletes), bump price %31==0 (updates),
    # append 5 fresh keys (inserts)
    new = (
        orders.where(F.col("o_orderkey") % 97 != 0)
        .withColumn(
            "o_totalprice",
            F.when(
                F.col("o_orderkey") % 31 == 0, F.col("o_totalprice") + 1
            ).otherwise(F.col("o_totalprice")),
        )
        .unionByName(
            orders.limit(5).withColumn(
                "o_orderkey", F.col("o_orderkey") + F.lit(90_000_000)
            )
        )
    )
    got = {
        r["o_orderkey"]: r["change_type"]
        for r in snapshot_diff(orders, new, ["o_orderkey"]).collect()
    }
    con = duckdb.connect()
    con.sql(f"CREATE VIEW o AS SELECT * FROM '{sf_dir}/orders.parquet'")
    dels = {
        r[0]
        for r in con.sql("SELECT o_orderkey FROM o WHERE o_orderkey % 97 = 0").fetchall()
    }
    upds = {
        r[0]
        for r in con.sql(
            "SELECT o_orderkey FROM o WHERE o_orderkey % 31 = 0 AND o_orderkey % 97 != 0"
        ).fetchall()
    }
    ins = {
        r[0] + 90_000_000
        for r in con.sql("SELECT o_orderkey FROM o LIMIT 5").fetchall()
    }
    con.close()
    want = (
        {k: "delete" for k in dels}
        | {k: "update" for k in upds}
        | {k: "insert" for k in ins}
    )
    record_opcheck("snapshot_diff", len(want), got == want)
    assert got == want


def test_apply_diff_roundtrip(spark, sf_dir):
    from data_export_tool_spark.operators.upsert import apply_diff, snapshot_diff

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    new = (
        orders.where(F.col("o_orderkey") % 53 != 0)
        .withColumn(
            "o_orderpriority",
            F.when(F.col("o_orderkey") % 7 == 0, F.lit("X-RECLASS")).otherwise(
                F.col("o_orderpriority")
            ),
        )
        .unionByName(
            orders.limit(3).withColumn(
                "o_orderkey", F.col("o_orderkey") + F.lit(80_000_000)
            )
        )
    )
    diff = snapshot_diff(orders, new, ["o_orderkey"])
    replayed = apply_diff(orders, diff, ["o_orderkey"])
    a = sorted(map(tuple, replayed.collect()))
    b = sorted(map(tuple, new.collect()))
    assert a == b


def test_apply_diff_null_key_rows_roundtrip(spark):
    """Review finding: NULL-key deletes never matched the keyed
    anti-join, and multiple NULL-key inserts collapsed through the
    merge window. Both round-trips must now hold exactly."""
    from data_export_tool_spark.operators.upsert import apply_diff, snapshot_diff

    def rt(old_rows, new_rows):
        old = spark.createDataFrame(old_rows, "k long, s string")
        new = spark.createDataFrame(new_rows, "k long, s string")
        diff = snapshot_diff(old, new, ["k"])
        got = sorted(
            map(tuple, apply_diff(old, diff, ["k"]).collect()),
            key=lambda t: (t[0] is None, t),
        )
        want = sorted(
            map(tuple, new.collect()), key=lambda t: (t[0] is None, t)
        )
        assert got == want, (got, want)

    # NULL-key delete actually removed
    rt([(None, "a"), (1, "x")], [(1, "x")])
    # multiple distinct NULL-key inserts all appended
    rt([(1, "x")], [(1, "x"), (None, "a"), (None, "b")])
    # duplicate NULL-key copies: two deleted, one reinserted
    rt([(None, "a"), (None, "a"), (1, "x")], [(None, "a"), (1, "x")])
    # mixed churn
    rt(
        [(None, "a"), (1, "x"), (2, "y")],
        [(None, "b"), (1, "x2"), (3, "z")],
    )


def test_exact_topk_salted_trim_output_invariant(spark):
    """The salted two-stage grouped trim must be output-identical for
    any salt count (including the degenerate n_salts=1 single-window
    form), and both windows must appear in the plan."""
    from data_export_tool_spark.operators.sketch import exact_topk

    df = _zipf_df(spark, n=5000).withColumn(
        "g", (F.crc32("item") % 3).cast("int")
    )
    base = sorted(
        map(tuple, exact_topk(df, "item", 5, by=["g"], n_salts=1).collect())
    )
    for n_salts in (4, 16, 64):
        got = sorted(
            map(tuple, exact_topk(df, "item", 5, by=["g"], n_salts=n_salts).collect())
        )
        assert got == base, n_salts
    plan = (
        exact_topk(df, "item", 5, by=["g"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # two window stages (each prints several times in the plan string);
    # the salted first stage is visible via its salt key
    assert "__salt" in plan
    assert plan.count("row_number()") >= 2


def test_grouped_topk_two_pass_matches_exact(spark):
    from data_export_tool_spark.operators.sketch import (
        exact_topk,
        grouped_topk_two_pass,
    )

    df = _zipf_df(spark, n=12_000).withColumn(
        "g", (F.crc32("item") % 3).cast("int")
    )
    want = sorted(
        (r["g"], r["item"], r["cnt"])
        for r in exact_topk(df, "item", 5, by=["g"]).collect()
    )
    got = sorted(
        (int(r["g"]), r["item"], r["cnt"])
        for r in grouped_topk_two_pass(df, "item", 5, by="g").collect()
    )
    record_opcheck(
        "grouped_topk_two_pass", len(want), got == want, oracle="exact-recount"
    )
    assert got == want
    # NULL group forms its own stratum and round-trips to NULL
    dfn = df.withColumn(
        "g", F.when(F.col("g") == 0, F.lit(None)).otherwise(F.col("g"))
    )
    got_n = {
        r["g"] for r in grouped_topk_two_pass(dfn, "item", 3, by="g").collect()
    }
    assert None in got_n


def test_grouped_topk_candidates_broadcast(spark):
    from data_export_tool_spark.operators.sketch import grouped_topk_two_pass

    df = _zipf_df(spark, n=2000).withColumn("g", F.lit("only"))
    plan = (
        grouped_topk_two_pass(df, "item", 4, by="g", n_groups_hint=1)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan


# ---------------------------------------------------------------------------
# stored sketches (HLL / Theta)
# ---------------------------------------------------------------------------


def test_stored_sketches_merge_across_partitions(spark, sf_dir, tmp_path):
    """THE stored-sketch law: sketch each day once, persist the binary
    column through parquet, merge the partials later — the estimate
    must match a direct whole-table sketch exactly (merging is
    lossless for these sketches) and sit within the documented error
    of the exact distinct count."""
    import duckdb

    from data_export_tool_spark.catalog import Catalog
    from data_export_tool_spark.operators.sketch import (
        distinct_sketch,
        merge_distinct_estimate,
    )

    ev = Catalog(spark, sf_dir).load("events")
    daily = distinct_sketch(
        ev.withColumn("day", F.to_date("ts")), "user_id", by=["day"]
    )
    store = str(tmp_path / "daily_sketches")
    daily.write.parquet(store)  # binary column round-trips

    est = merge_distinct_estimate(spark.read.parquet(store)).first()[
        "n_distinct_est"
    ]
    direct = merge_distinct_estimate(distinct_sketch(ev, "user_id")).first()[
        "n_distinct_est"
    ]
    exact = duckdb.sql(
        f"SELECT count(DISTINCT user_id) FROM read_parquet('{sf_dir}/events.parquet')"
    ).fetchone()[0]
    ok = est == direct and abs(est - exact) / exact < 0.05
    from tests.conftest import record_opcheck

    record_opcheck("stored_sketch_merge", 1, ok)
    assert ok, (est, direct, exact)


def test_stored_sketches_grouped_and_theta(spark, sf_dir):
    import duckdb

    from data_export_tool_spark.catalog import Catalog
    from data_export_tool_spark.operators.sketch import (
        distinct_sketch,
        merge_distinct_estimate,
        theta_overlap,
    )

    ev = Catalog(spark, sf_dir).load("events")
    got = {
        r["event_type"]: r["n_distinct_est"]
        for r in merge_distinct_estimate(
            distinct_sketch(ev, "user_id", by=["event_type"], kind="theta"),
            by=["event_type"],
            kind="theta",
        ).collect()
    }
    want = {
        t: int(n)
        for t, n in duckdb.sql(
            f"SELECT event_type, count(DISTINCT user_id)"
            f" FROM read_parquet('{sf_dir}/events.parquet') GROUP BY 1"
        ).fetchall()
    }
    assert set(got) == set(want)
    assert all(abs(got[t] - want[t]) / want[t] < 0.05 for t in want)

    ov = theta_overlap(ev, "user_id", "event_type", "view", "purchase").first()
    exact = duckdb.sql(
        f"""
    SELECT count(DISTINCT CASE WHEN event_type='view' THEN user_id END),
           count(DISTINCT CASE WHEN event_type='purchase' THEN user_id END),
           count(DISTINCT CASE WHEN event_type IN ('view','purchase') THEN user_id END)
    FROM read_parquet('{sf_dir}/events.parquet')
    """
    ).fetchone()
    assert abs(ov["n_a"] - exact[0]) / exact[0] < 0.05
    assert abs(ov["n_b"] - exact[1]) / exact[1] < 0.05
    assert abs(ov["n_union"] - exact[2]) / exact[2] < 0.05
    inter_exact = exact[0] + exact[1] - exact[2]
    assert abs(ov["n_intersection"] - inter_exact) <= max(0.1 * inter_exact, 5)
    # estimates from set ops on the same sketch pair are mutually
    # consistent in practice but not guaranteed additive — tolerance
    assert abs((ov["n_only_a"] + ov["n_intersection"]) - ov["n_a"]) <= max(
        0.05 * ov["n_a"], 2
    )


def test_distinct_sketch_validation(spark):
    from data_export_tool_spark.operators.sketch import (
        distinct_sketch,
        merge_distinct_estimate,
    )

    df = spark.createDataFrame([(1,)], "x long")
    import pytest as _pytest

    with _pytest.raises(ValueError):
        distinct_sketch(df, "x", kind="cpc")
    with _pytest.raises(ValueError):
        merge_distinct_estimate(df, kind="bloom")


def test_stored_topk_sketches_merge(spark, sf_dir, tmp_path):
    """Top-k sketch partials persisted per day combine into the same
    leaders an exact count yields on this comfortably-skewed column."""
    import duckdb

    from data_export_tool_spark.catalog import Catalog
    from data_export_tool_spark.operators.sketch import (
        merge_topk_estimate,
        topk_sketch,
    )

    ev = Catalog(spark, sf_dir).load("events")
    daily = topk_sketch(ev.withColumn("day", F.to_date("ts")), "event_type", by=["day"])
    store = str(tmp_path / "topk_sketches")
    daily.write.parquet(store)
    got = [
        (r["item"], r["est_count"])
        for r in merge_topk_estimate(
            spark.read.parquet(store).drop("day"), k=3
        ).collect()
    ]
    want = duckdb.sql(
        f"SELECT event_type, count(*) FROM read_parquet('{sf_dir}/events.parquet')"
        " GROUP BY 1 ORDER BY 2 DESC, 1 LIMIT 3"
    ).fetchall()
    # items must agree; estimated counts within 5% of exact
    ok = [i for i, _ in got] == [i for i, _ in want] and all(
        abs(gc - wc) / wc < 0.05 for (_, gc), (_, wc) in zip(got, want)
    )
    record_opcheck("stored_topk_sketch", len(want), ok)
    assert ok, (got, want)


def test_stored_quantile_sketches(spark, sf_dir, tmp_path):
    """KLL stored-quantile law: sketch per day, persist through
    parquet, merge later — every estimated quantile's TRUE rank (from
    the exact DuckDB CDF) must sit within the k=200 rank-error bound
    of its target, n must be exact, and the rank read must invert the
    quantile read within the same bound."""
    import duckdb

    from data_export_tool_spark.catalog import Catalog
    from data_export_tool_spark.operators.sketch import (
        merge_quantile_estimate,
        merge_rank_estimate,
        quantile_sketch,
    )

    ev = Catalog(spark, sf_dir).load("events").where(F.col("value").isNotNull())
    daily = quantile_sketch(
        ev.withColumn("day", F.to_date("ts")), "value", by=["day"]
    )
    store = str(tmp_path / "daily_kll")
    daily.write.parquet(store)  # binary column round-trips

    probs = [0.1, 0.5, 0.9, 0.99]
    row = merge_quantile_estimate(
        spark.read.parquet(store), probs
    ).first()
    n_exact, = duckdb.sql(
        f"SELECT count(value) FROM read_parquet('{sf_dir}/events.parquet')"
        " WHERE value IS NOT NULL"
    ).fetchone()
    ok = row["n"] == n_exact
    # exact rank of each estimate, from the data itself
    for p, q in zip(probs, row["quantiles"]):
        true_rank, = duckdb.sql(
            f"SELECT count(*) / {n_exact} FROM"
            f" read_parquet('{sf_dir}/events.parquet')"
            f" WHERE value IS NOT NULL AND value <= {q!r}"
        ).fetchone()
        ok = ok and abs(float(true_rank) - p) < 0.035  # 2x the 1.65% bound
    # rank read inverts the quantile read
    med = float(row["quantiles"][1])
    rk = merge_rank_estimate(spark.read.parquet(store), med).first()["rank_est"]
    ok = ok and abs(float(rk) - 0.5) < 0.035
    # no value=: the KLL rank estimate is randomized, so recording it
    # would rewrite the committed artifact on an unchanged result
    record_opcheck("stored_quantile_sketch", len(probs) + 2, ok, oracle="duckdb")
    assert ok, (row, rk)


def test_quantile_sketch_grouped_and_validation(spark, sf_dir):
    import duckdb
    import pytest as _pytest

    from data_export_tool_spark.catalog import Catalog
    from data_export_tool_spark.operators.sketch import (
        merge_quantile_estimate,
        quantile_sketch,
    )

    ev = Catalog(spark, sf_dir).load("events").where(F.col("value").isNotNull())
    got = {
        r["event_type"]: (r["n"], float(r["quantiles"][0]))
        for r in merge_quantile_estimate(
            quantile_sketch(ev, "value", by=["event_type"]),
            [0.5],
            by=["event_type"],
        ).collect()
    }
    want = {
        t: (int(n), float(md))
        for t, n, md in duckdb.sql(
            f"""SELECT event_type, count(value), median(value)
                FROM read_parquet('{sf_dir}/events.parquet')
                WHERE value IS NOT NULL GROUP BY event_type"""
        ).fetchall()
    }
    assert set(got) == set(want)
    for t in want:
        n_w, med_w = want[t]
        n_g, med_g = got[t]
        assert n_g == n_w
        # per-group medians: generous relative tolerance (small groups)
        assert abs(med_g - med_w) <= max(0.1 * abs(med_w), 1e-9), (t, got[t], want[t])
    with _pytest.raises(ValueError):
        quantile_sketch(ev, "value", dtype="decimal")
    with _pytest.raises(ValueError):
        merge_quantile_estimate(quantile_sketch(ev, "value"), [])


# ---------------------------------------------------------------------------
# Count-Min sketch
# ---------------------------------------------------------------------------


def test_cms_never_underestimates_and_merge_law(spark, sf_dir, tmp_path):
    """The two CMS guarantees, testable without replaying xxhash:
    (1) est(x) >= true(x) for EVERY item, with the measured max
    overestimate recorded; (2) sketch(full) == merge(sketch(parts))
    EXACTLY (cellwise) — the stored-partials contract; plus a parquet
    round-trip of the cell frame."""
    from data_export_tool_spark.operators.sketch import (
        cms_build,
        cms_estimate,
        cms_merge,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").where(
        F.col("user_id").isNotNull()
    )
    D, W = 4, 256
    sk = cms_build(ev, "user_id", depth=D, width=W)
    truth = {
        str(r["user_id"]): r["n"]
        for r in ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    items = spark.createDataFrame([(k,) for k in truth], "item string")
    est = {
        r["item"]: r["est"]
        for r in cms_estimate(sk, items, "item", depth=D, width=W).collect()
    }
    assert set(est) == set(truth)
    assert all(est[k] >= truth[k] for k in truth)
    max_over = max(est[k] - truth[k] for k in truth)
    n_total = sum(truth.values())
    record_opcheck(
        "cms_frequency_floor", len(truth), True,
        oracle="exact-recount", value=float(max_over) / n_total,
    )
    # merge law: split by event parity, cellwise-identical to the full
    parts = [
        cms_build(ev.where(F.col("event_id") % 2 == i), "user_id", depth=D, width=W)
        for i in (0, 1)
    ]
    merged = cms_merge(parts[0].unionByName(parts[1]))
    full_cells = {(r["row"], r["bucket"]): r["cnt"] for r in sk.collect()}
    merged_cells = {(r["row"], r["bucket"]): r["cnt"] for r in merged.collect()}
    assert full_cells == merged_cells
    record_opcheck("cms_merge_law", len(full_cells), True, oracle="exact-twin")
    # parquet round-trip
    p = str(tmp_path / "cms")
    sk.write.mode("overwrite").parquet(p)
    rt = {(r["row"], r["bucket"]): r["cnt"] for r in spark.read.parquet(p).collect()}
    assert rt == full_cells


def test_cms_grouped_and_contracts(spark):
    from data_export_tool_spark.operators.sketch import cms_build, cms_estimate

    df = spark.createDataFrame(
        [("g1", "a")] * 5 + [("g1", "b")] * 2 + [("g2", "a")] * 3 + [("g2", None)],
        "g string, item string",
    )
    sk = cms_build(df, "item", depth=3, width=64, by=["g"])
    items = spark.createDataFrame(
        [("g1", "a"), ("g1", "b"), ("g2", "a"), ("g2", "zz")],
        "g string, item string",
    )
    est = {
        (r["g"], r["item"]): r["est"]
        for r in cms_estimate(sk, items, "item", depth=3, width=64, by=["g"]).collect()
    }
    # width 64 >> 2 items: no collisions possible to FORCE, but the
    # floor law always holds; unseen item in g2 must floor at 0-or-
    # collision, and with 2 distinct g2 cells max est is 3
    assert est[("g1", "a")] >= 5 and est[("g1", "b")] >= 2
    assert est[("g2", "a")] >= 3
    assert est[("g2", "zz")] >= 0
    with pytest.raises(ValueError):
        cms_build(df, "item", depth=0)
    with pytest.raises(ValueError):
        cms_build(df, "item", width=1)
