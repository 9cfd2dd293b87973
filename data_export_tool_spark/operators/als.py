"""Implicit-feedback ALS matrix factorization (Hu, Koren & Volinsky
2008, "Collaborative Filtering for Implicit Feedback Datasets").

The classic Spark-shaped recommender: factor the (user, item,
strength) interaction matrix into rank-k user/item factor tables, with
every unobserved cell treated as a weak zero (confidence
c = 1 + alpha·r on observed cells, 1 on the rest). The HKV trick makes
this tractable at 100 TB: the dense "all cells" term collapses into
ONE k×k Gram matrix YᵀY shared by every row solve, so each
alternating half-step touches only the OBSERVED interactions.

Scale shape per half-step (users, symmetric for items):

- YᵀY: one partial-aggregable k²-cell aggregate over the item-factor
  table (map-side combined; k ≤ ~64 by contract, so the driver sees
  k² floats — metadata-sized).
- join interactions ⋈ item factors on item (equi-join; skew on a hot
  item is AQE's standard case), then ONE ``applyInPandas`` grouped by
  user: each group solves the k×k system
  (YᵀY + Yᵤᵀ(Cᵤ−I)Yᵤ + λI)·xᵤ = YᵤᵀCᵤ·1 with numpy — per-group cost
  is O(nnz·k²) flops and k² SOLVE memory. The one skew bound: a
  single entity's OBSERVED interactions land in one group (a bot user
  following everything holds its nnz×k factor block in one task —
  64 MB at 10⁶ interactions × k=8; stress-pinned at 2M-row scale).
  Entities hotter than that want an interaction cap upstream
  (``deterministic_sample`` per user), which is a data-diet decision,
  not a solver one.
- factors are localCheckpoint-materialized per iteration (the
  iterative-operator policy: without it iteration L re-executes all
  prior joins; blocks of superseded iterations are released).

Determinism: init is pure md5 column arithmetic
(``functions.hashing.md5_long`` — uniform in [-0.5/k, 0.5/k),
replayable as ``int(md5_hex, 16)`` anywhere); each half-step is a sum
of per-interaction terms, so results are permutation-invariant up to
float addition order (the oracle replays with numpy and compares at
1e-6 — the documented tolerance of every fit in ``linear.py``).

``als_recommend`` scores a REQUEST-SIZED user batch (the ANN-tier
contract) against the item-factor table: broadcast of B user factors ×
item scan, per-user top-n rank window, observed items excluded by
default (an anti-join on the interaction table).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from data_export_tool_spark.operators.checkpoint import CheckpointScope

# make the module's helpers picklable by value when shipped into
# executors from a REPL-imported module (same policy as linear.py)
try:  # pragma: no cover - trivial registration
    import sys as _sys

    from pyspark import cloudpickle as _cloudpickle

    _cloudpickle.register_pickle_by_value(_sys.modules[__name__])
except Exception:
    pass

__all__ = ["als_implicit_fit", "als_recommend"]


def _init_factors(df: DataFrame, id_col: str, rank: int, tag: str) -> DataFrame:
    """(id, factors array<double>) with deterministic md5-uniform init
    in [-0.5/rank, 0.5/rank) — replayable (module docstring)."""
    from data_export_tool_spark.functions.hashing import md5_long

    cols = []
    for j in range(rank):
        key = F.concat_ws("#", F.lit(tag), F.col(id_col).cast("string"), F.lit(j))
        u = md5_long(key, 9, 8) / F.lit(float(1 << 32))  # [0, 1)
        cols.append((u - 0.5) / F.lit(float(rank)))
    return df.select(F.col(id_col), F.array(*cols).alias("factors"))


def _gram(factors: DataFrame, rank: int):
    """YᵀY as a (rank, rank) numpy array — one partial-aggregable
    k²-cell aggregate (driver sees k² floats)."""
    import numpy as np

    aggs = [
        F.sum(F.col("factors")[i] * F.col("factors")[j]).alias(f"g_{i}_{j}")
        for i in range(rank)
        for j in range(i, rank)
    ]
    row = factors.agg(*aggs).collect()[0]
    G = np.zeros((rank, rank))
    for i in range(rank):
        for j in range(i, rank):
            G[i, j] = G[j, i] = row[f"g_{i}_{j}"] or 0.0
    return G


def _solve_side(
    inter: DataFrame,
    other: DataFrame,
    solve_col: str,
    other_col: str,
    rating_col: str,
    G,
    rank: int,
    reg: float,
    alpha: float,
) -> DataFrame:
    """One half-step: new factors for every entity in ``solve_col``
    given the ``other`` side's factors and its Gram matrix."""
    import numpy as np
    import pandas as pd

    joined = inter.join(
        other.select(F.col(other_col), "factors"), other_col
    ).select(
        F.col(solve_col).alias("__e"),
        F.col(rating_col).cast("double").alias("__r"),
        "factors",
    )

    Gb = G  # closure-captured (k² floats)

    def _process(pdf):
        out_ids, out_fs = [], []
        for eid, grp in pdf.groupby("__e", sort=False):
            Y = np.stack(grp["factors"].to_numpy()).astype("float64")
            r = grp["__r"].to_numpy(dtype="float64")
            c = 1.0 + alpha * r
            A = Gb + (Y.T * (c - 1.0)) @ Y + reg * np.eye(rank)
            b = Y.T @ c
            out_ids.append(eid)
            out_fs.append(np.linalg.solve(A, b).tolist())
        return pd.DataFrame({"__e": out_ids, "factors": out_fs})

    # NOT groupBy().applyInPandas: that is one python call PER ENTITY
    # (measured ~50s of pure call overhead on a 10⁵-item side).
    # Instead hash-repartition + sort by entity and stream Arrow
    # batches through ONE generator per partition, carrying the
    # tail group across batch boundaries (a batch may split a group;
    # the partition never does).
    def solve_stream(batches):
        buf = None
        for pdf in batches:
            if buf is not None and len(buf):
                pdf = pd.concat([buf, pdf], ignore_index=True)
            if not len(pdf):
                continue
            last = pdf["__e"].iloc[-1]
            mask = pdf["__e"] == last
            buf = pdf[mask]
            done = pdf[~mask]
            if len(done):
                yield _process(done)
        if buf is not None and len(buf):
            yield _process(buf)

    schema_id = inter.schema[solve_col].dataType.simpleString()
    return (
        joined.repartition(F.col("__e"))
        .sortWithinPartitions("__e")
        .mapInPandas(solve_stream, schema=f"__e {schema_id}, factors array<double>")
        .select(F.col("__e").alias(solve_col), "factors")
    )


def als_implicit_fit(
    interactions: DataFrame,
    user_col: str = "user_id",
    item_col: str = "item_id",
    rating_col: str | None = None,
    rank: int = 8,
    reg: float = 0.1,
    alpha: float = 10.0,
    iters: int = 5,
) -> tuple[DataFrame, DataFrame]:
    """(user_factors, item_factors) — each ``(id, factors
    array<double>)``. ``rating_col=None`` treats every interaction as
    strength 1 (pure implicit). Duplicate (user, item) rows collapse
    by summed strength first (multiplicity IS signal here, unlike the
    walks contract). NULL keys dropped."""
    if not 1 <= rank <= 64:
        raise ValueError(f"rank must be in 1..64: {rank}")
    if iters < 1:
        raise ValueError(f"iters must be >= 1: {iters}")
    r = (
        F.col(rating_col).cast("double")
        if rating_col is not None
        else F.lit(1.0)
    )
    inter = (
        interactions.where(F.col(user_col).isNotNull() & F.col(item_col).isNotNull())
        .groupBy(user_col, item_col)
        .agg(F.sum(r).alias("__str"))
    )
    with CheckpointScope() as scope:
        inter = scope.pin(inter)
        items = inter.select(item_col).distinct()

        item_f = scope.pin(_init_factors(items, item_col, rank, "i"))
        user_f = None
        for _ in range(iters):
            G_i = _gram(item_f, rank)
            new_u = scope.pin(
                _solve_side(
                    inter, item_f, user_col, item_col, "__str", G_i, rank,
                    reg, alpha,
                )
            )
            if user_f is not None:
                scope.drop(user_f)
            user_f = new_u

            G_u = _gram(user_f, rank)
            new_i = scope.pin(
                _solve_side(
                    inter, user_f, item_col, user_col, "__str", G_u, rank,
                    reg, alpha,
                )
            )
            scope.drop(item_f)
            item_f = new_i
        return (
            scope.keep(user_f.select(F.col(user_col), "factors")),
            scope.keep(item_f.select(F.col(item_col), "factors")),
        )


def als_recommend(
    user_factors: DataFrame,
    item_factors: DataFrame,
    users: DataFrame,
    n: int = 10,
    user_col: str = "user_id",
    item_col: str = "item_id",
    interactions: DataFrame | None = None,
) -> DataFrame:
    """Top-``n`` items per requested user: ``(user, rank, item,
    score)``, score = xᵤ·yᵢ descending, ties to the lower item.

    ``users`` is a REQUEST-SIZED batch (the ANN-tier contract): its
    factor rows are broadcast against the full item-factor scan — one
    pass, no shuffle of the item table. Pass ``interactions`` to
    exclude already-seen (user, item) pairs (left-anti on the pair —
    the standard recommendation semantics)."""
    batch = F.broadcast(
        users.select(user_col).distinct().join(user_factors, user_col).select(
            F.col(user_col), F.col("factors").alias("__uf")
        )
    )
    scored = item_factors.crossJoin(batch).select(
        user_col,
        item_col,
        F.aggregate(
            F.zip_with("factors", "__uf", lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ).alias("score"),
    )
    if interactions is not None:
        seen = interactions.select(user_col, item_col).distinct()
        scored = scored.join(seen, [user_col, item_col], "left_anti")
    w = Window.partitionBy(user_col).orderBy(
        F.col("score").desc(), F.col(item_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= n)
        .select(user_col, "rank", item_col, F.round("score", 6).alias("score"))
    )
