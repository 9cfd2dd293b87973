"""Bradley–Terry preference-strength fitting (MM algorithm).

The pairwise-comparison aggregator behind RLHF reward baselines,
chatbot-arena leaderboards, and label-quality audits: given many
"A beat B" judgments, estimate a latent strength p_i per item such
that P(i beats j) = p_i / (p_i + p_j) (Bradley & Terry 1952), fit by
Hunter's (2004) MM iteration

    p_i ← W_i / Σ_{j≠i} n_ij / (p_i + p_j)

which monotonically increases the likelihood and needs no step size.

Scale shape
-----------
Comparisons collapse ONCE to unordered-pair grain ``(lo, hi, n,
w_lo)`` — one map-side-combinable groupBy, the only pass over raw
data. Each MM round is pair-grain column algebra: join the pair table
with the item-strength table on both endpoints (two equi-joins; the
strength side is item-grain), credit ``n/(p_lo+p_hi)`` to both
endpoints, and one item-grain groupBy rebuilds the strengths. Rounds
are bounded by ``iters`` with an early stop when the max |Δlog p|
aggregate drops below ``tol`` — the bounded-round contract of
``clustering.kmeans_fit`` / ``als.py``; strengths are
localCheckpoint-materialized per round (graph.py:24 iterative-operator
policy) and superseded checkpoint blocks are released.

Conventions the replay oracle pins
----------------------------------
* Items appearing only as losers (W_i = 0) are floored at
  ``strength = _EPS`` (the MM fixed point sends them to 0; the
  likelihood is maximized on the boundary and Hunter's connectivity
  condition fails — disclosed rather than erroring, since real
  preference dumps always contain a never-winner).
* Normalization: strengths are scaled so the GEOMETRIC MEAN is 1
  after every round (log-strengths sum to 0) — the standard
  identifiability fix, and what makes round-k outputs comparable
  between Spark and the replay.
* Ties/self-pairs: ``winner`` equal to neither side, NULL ids, and
  ``a == b`` rows are dropped (a tie carries no BT information; the
  tie-aware Rao–Kupper extension is out of scope).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_export_tool_spark.operators.checkpoint import CheckpointScope

__all__ = ["bradley_terry", "py_bradley_terry"]

_EPS = 1e-12


def py_bradley_terry(
    pair_counts: dict,
    wins: dict,
    iters: int = 100,
    tol: float = 1e-9,
) -> dict:
    """Reference MM on {(lo, hi): (n, w_lo)} pair counts and per-item
    win totals — the exact arithmetic ``bradley_terry`` distributes,
    exposed for oracle replay. Returns {item: strength}."""
    items = sorted(wins)
    p = {i: 1.0 for i in items}
    for _ in range(iters):
        denom = {i: 0.0 for i in items}
        for (lo, hi), (n, _w) in pair_counts.items():
            d = n / (p[lo] + p[hi])
            denom[lo] += d
            denom[hi] += d
        new_p = {}
        for i in items:
            if wins[i] <= 0 or denom[i] <= 0.0:
                new_p[i] = _EPS
            else:
                new_p[i] = wins[i] / denom[i]
        # geometric-mean normalization over items above the floor
        logs = [math.log(v) for v in new_p.values() if v > _EPS]
        scale = math.exp(sum(logs) / len(logs)) if logs else 1.0
        new_p = {
            i: (v / scale if v > _EPS else _EPS) for i, v in new_p.items()
        }
        delta = max(
            abs(math.log(new_p[i]) - math.log(p[i])) for i in items
        )
        p = new_p
        if delta < tol:
            break
    return p


def _np_mm(pairs_rows, iters: int, tol: float):
    """Vectorized driver-side MM over collected (lo, hi, n, w_lo)
    rows — numerically identical to ``py_bradley_terry`` (same update,
    same normalization, same stop rule), just numpy-batched. Returns
    ({item: strength}, {item: wins}, {item: comparisons})."""
    import numpy as np

    items = sorted(
        {r["lo"] for r in pairs_rows} | {r["hi"] for r in pairs_rows}
    )
    idx = {it: i for i, it in enumerate(items)}
    k = len(items)
    lo = np.array([idx[r["lo"]] for r in pairs_rows], dtype=np.int64)
    hi = np.array([idx[r["hi"]] for r in pairs_rows], dtype=np.int64)
    n = np.array([r["n"] for r in pairs_rows], dtype=np.float64)
    w_lo = np.array([r["w_lo"] for r in pairs_rows], dtype=np.float64)
    wins = np.zeros(k)
    np.add.at(wins, lo, w_lo)
    np.add.at(wins, hi, n - w_lo)
    cmps = np.zeros(k)
    np.add.at(cmps, lo, n)
    np.add.at(cmps, hi, n)
    p = np.ones(k)
    for _ in range(iters):
        d = n / (p[lo] + p[hi])
        denom = np.zeros(k)
        np.add.at(denom, lo, d)
        np.add.at(denom, hi, d)
        new_p = np.where(
            (wins > 0) & (denom > 0.0), wins / np.maximum(denom, _EPS), _EPS
        )
        above = new_p > _EPS
        if above.any():
            new_p = np.where(
                above, new_p / math.exp(np.log(new_p[above]).mean()), new_p
            )
        delta = float(np.max(np.abs(np.log(new_p) - np.log(p))))
        p = new_p
        if delta < tol:
            break
    return (
        {it: float(p[i]) for it, i in idx.items()},
        {it: int(wins[i]) for it, i in idx.items()},
        {it: int(cmps[i]) for it, i in idx.items()},
    )


def bradley_terry(
    df: DataFrame,
    item_a_col: str,
    item_b_col: str,
    winner_col: str,
    iters: int = 100,
    tol: float = 1e-9,
    max_driver_pairs: int = 5_000_000,
) -> DataFrame:
    """Fit Bradley–Terry strengths from row-per-comparison data.

    ``winner_col`` must equal ``item_a_col`` or ``item_b_col``'s value
    on each row; other rows (ties, NULLs, self-pairs) are dropped.
    Output, item-grain: ``(item, strength, log_strength, wins,
    comparisons)`` sorted by strength descending, geometric-mean-1
    normalized.

    Path split (the ``mann_kendall_trend`` bounded-driver discipline):
    after the one pair-grain aggregation, if the DISTINCT-PAIR count is
    ≤ ``max_driver_pairs`` (default 5M ≈ 200 MB of driver arrays) the
    MM loop runs vectorized on the driver with ZERO per-round cluster
    jobs; above it, the distributed per-round join/agg loop runs with
    localCheckpoint-per-round lineage control. Both paths execute the
    identical update/normalization/stop arithmetic.
    """
    a = F.col(item_a_col).cast("string")
    b = F.col(item_b_col).cast("string")
    w = F.col(winner_col).cast("string")
    base = df.where(
        a.isNotNull() & b.isNotNull() & (a != b) & ((w == a) | (w == b))
    ).select(
        F.least(a, b).alias("lo"),
        F.greatest(a, b).alias("hi"),
        (w == F.least(a, b)).cast("long").alias("lo_won"),
    )
    with CheckpointScope() as scope:
        pairs = scope.pin(
            base.groupBy("lo", "hi").agg(
                F.count(F.lit(1)).alias("n"), F.sum("lo_won").alias("w_lo")
            )
        )
        n_pairs = pairs.count()
        if n_pairs <= max_driver_pairs:
            rows = pairs.collect()
            scope.drop(pairs)
            if not rows:
                raise ValueError("no usable comparisons to fit on")
            p, wins, cmps = _np_mm(rows, iters, tol)
            out = [
                (it, p[it], math.log(p[it]), wins[it], cmps[it])
                for it in sorted(p, key=lambda x: (-p[x], x))
            ]
            return df.sparkSession.createDataFrame(
                out,
                "item string, strength double, log_strength double, "
                "wins long, comparisons long",
            )
        # item-grain totals: wins and comparison counts
        totals = scope.pin(
            pairs.select(
                F.col("lo").alias("item"),
                F.col("w_lo").alias("wins"),
                F.col("n").alias("cmp"),
            )
            .unionByName(
                pairs.select(
                    F.col("hi").alias("item"),
                    (F.col("n") - F.col("w_lo")).alias("wins"),
                    F.col("n").alias("cmp"),
                )
            )
            .groupBy("item")
            .agg(F.sum("wins").alias("wins"), F.sum("cmp").alias("comparisons"))
        )
        strengths = scope.pin(
            totals.select("item", F.lit(1.0).alias("p"))
        )
        for _ in range(iters):
            plo = strengths.select(
                F.col("item").alias("lo"), F.col("p").alias("p_lo")
            )
            phi = strengths.select(
                F.col("item").alias("hi"), F.col("p").alias("p_hi")
            )
            contrib = (
                pairs.join(plo, "lo")
                .join(phi, "hi")
                .select(
                    "lo",
                    "hi",
                    (F.col("n") / (F.col("p_lo") + F.col("p_hi"))).alias("d"),
                )
            )
            denom = (
                contrib.select(F.col("lo").alias("item"), "d")
                .unionByName(contrib.select(F.col("hi").alias("item"), "d"))
                .groupBy("item")
                .agg(F.sum("d").alias("denom"))
            )
            raw = totals.join(denom, "item", "left").select(
                "item",
                F.when(
                    (F.col("wins") > 0) & (F.col("denom") > 0.0),
                    F.col("wins") / F.col("denom"),
                )
                .otherwise(F.lit(_EPS))
                .alias("p_raw"),
            )
            # geometric-mean normalization over items above the floor
            gm = raw.agg(
                F.avg(
                    F.when(F.col("p_raw") > _EPS, F.log(F.col("p_raw")))
                ).alias("mlog")
            ).first()["mlog"]
            scale = math.exp(gm) if gm is not None else 1.0
            new_s = scope.pin(
                raw.select(
                    "item",
                    F.when(
                        F.col("p_raw") > _EPS, F.col("p_raw") / F.lit(scale)
                    )
                    .otherwise(F.lit(_EPS))
                    .alias("p"),
                )
            )
            delta = (
                new_s.join(strengths.withColumnRenamed("p", "p_old"), "item")
                .agg(F.max(F.abs(F.log("p") - F.log("p_old"))).alias("d"))
                .first()["d"]
            )
            scope.drop(strengths)
            strengths = new_s
            if delta is not None and delta < tol:
                break
        # totals and the final strengths back the returned plan and
        # stay checkpointed (the connected_components final-labels
        # policy); pairs are freed on exit
        return scope.keep(
            totals.join(strengths, "item")
            .select(
                "item",
                F.col("p").alias("strength"),
                F.log("p").alias("log_strength"),
                "wins",
                "comparisons",
            )
            .orderBy(F.col("strength").desc(), "item")
        )
