"""Implicit ALS (operators/als.py): exact numpy replay of the
deterministic md5 init + HKV alternating solves, reconstruction-
quality law, recommend semantics, and the iterative checkpoint
release policy."""

from __future__ import annotations

import hashlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from tests.conftest import record_opcheck, stored_rdd_ids
from data_export_tool_spark.operators.als import als_implicit_fit, als_recommend

RANK, REG, ALPHA, ITERS = 4, 0.1, 10.0, 3


def _init_replay(ids, tag):
    out = {}
    for e in ids:
        f = []
        for j in range(RANK):
            hx = hashlib.md5(f"{tag}#{e}#{j}".encode()).hexdigest()
            u = int(hx[8:16], 16) / float(1 << 32)
            f.append((u - 0.5) / RANK)
        out[e] = np.array(f)
    return out


def _fit_replay(triples):
    """Exact python HKV replay: same init, same update order."""
    users = sorted({u for u, _, _ in triples})
    items = sorted({i for _, i, _ in triples})
    by_u: dict = {}
    by_i: dict = {}
    for u, i, r in triples:
        by_u.setdefault(u, []).append((i, r))
        by_i.setdefault(i, []).append((u, r))
    Y = _init_replay(items, "i")
    X = {}
    for _ in range(ITERS):
        G = sum(np.outer(Y[i], Y[i]) for i in items)
        for u in users:
            obs = by_u[u]
            Yu = np.stack([Y[i] for i, _ in obs])
            c = 1.0 + ALPHA * np.array([r for _, r in obs])
            A = G + (Yu.T * (c - 1.0)) @ Yu + REG * np.eye(RANK)
            X[u] = np.linalg.solve(A, Yu.T @ c)
        Gu = sum(np.outer(X[u], X[u]) for u in users)
        for i in items:
            obs = by_i[i]
            Xu = np.stack([X[u] for u, _ in obs])
            c = 1.0 + ALPHA * np.array([r for _, r in obs])
            A = Gu + (Xu.T * (c - 1.0)) @ Xu + REG * np.eye(RANK)
            Y[i] = np.linalg.solve(A, Xu.T @ c)
    return X, Y


@pytest.fixture(scope="module")
def small(spark):
    # two taste blocks + a bridge user; strengths include multiplicity
    triples = []
    for u in range(8):
        for i in range(10):
            if (u < 4) == (i < 5) or (u == 3 and i == 7):
                triples.append((u, i, 1.0 + (u + i) % 3))
    df = spark.createDataFrame(triples, "user_id long, item_id long, w double")
    return triples, df


def test_als_matches_numpy_replay(spark, small):
    triples, df = small
    uf, itf = als_implicit_fit(
        df, rating_col="w", rank=RANK, reg=REG, alpha=ALPHA, iters=ITERS
    )
    X, Y = _fit_replay(triples)
    got_u = {r["user_id"]: np.array(r["factors"]) for r in uf.collect()}
    got_i = {r["item_id"]: np.array(r["factors"]) for r in itf.collect()}
    assert set(got_u) == set(X) and set(got_i) == set(Y)
    ok = all(np.allclose(got_u[u], X[u], atol=1e-6) for u in X) and all(
        np.allclose(got_i[i], Y[i], atol=1e-6) for i in Y
    )
    record_opcheck(
        "als_implicit_factors",
        len(X) + len(Y),
        ok,
        oracle="numpy-replay",
    )
    assert ok


def test_als_reconstruction_separates_blocks(spark, small):
    """Quality law: after fitting, within-block user·item scores must
    exceed cross-block scores on average (the two taste blocks are
    disjoint by construction)."""
    triples, df = small
    uf, itf = als_implicit_fit(
        df, rating_col="w", rank=RANK, reg=REG, alpha=ALPHA, iters=ITERS
    )
    U = {r["user_id"]: np.array(r["factors"]) for r in uf.collect()}
    I = {r["item_id"]: np.array(r["factors"]) for r in itf.collect()}
    within, cross = [], []
    for u in U:
        for i in I:
            s = float(U[u] @ I[i])
            (within if (u < 4) == (i < 5) else cross).append(s)
    assert np.mean(within) > np.mean(cross) + 0.1


def test_als_recommend_contract(spark, small):
    triples, df = small
    uf, itf = als_implicit_fit(
        df, rating_col="w", rank=RANK, reg=REG, alpha=ALPHA, iters=ITERS
    )
    users = spark.createDataFrame([(0,), (5,)], "user_id long")
    rec = als_recommend(uf, itf, users, n=3, interactions=df).collect()
    by_u: dict = {}
    for r in rec:
        by_u.setdefault(r["user_id"], []).append(r)
    seen = {(u, i) for u, i, _ in triples}
    for u, rows in by_u.items():
        ranks = sorted(r["rank"] for r in rows)
        assert ranks == list(range(1, len(rows) + 1))
        scores = [r["score"] for r in sorted(rows, key=lambda r: r["rank"])]
        assert scores == sorted(scores, reverse=True)
        for r in rows:
            assert (u, r["item_id"]) not in seen  # exclusion law
    # without exclusion the top item is allowed to be a seen one
    rec_all = als_recommend(uf, itf, users, n=20).collect()
    assert len(rec_all) == 2 * 10  # every item scored for both users


def test_als_validation(spark, small):
    _, df = small
    with pytest.raises(ValueError):
        als_implicit_fit(df, rank=0)
    with pytest.raises(ValueError):
        als_implicit_fit(df, iters=0)
    # NULL keys dropped, duplicates collapse by summed strength
    dup = spark.createDataFrame(
        [(1, 1, 1.0), (1, 1, 2.0), (None, 2, 1.0), (2, None, 1.0), (2, 2, 1.0)],
        "user_id long, item_id long, w double",
    )
    uf, itf = als_implicit_fit(dup, rating_col="w", rank=2, iters=1)
    assert sorted(r["user_id"] for r in uf.collect()) == [1, 2]
    assert sorted(r["item_id"] for r in itf.collect()) == [1, 2]


def test_als_releases_iteration_checkpoints(spark, small):
    """The per-iteration factor checkpoints of superseded iterations
    must be released — only the final user/item factor tables (plus
    the step frames' blocks the caller still owns) survive."""
    _, df = small
    before = stored_rdd_ids(spark)
    uf, itf = als_implicit_fit(df, rating_col="w", rank=2, iters=3)
    uf.count(), itf.count()
    after = stored_rdd_ids(spark)
    # 3 iterations × 2 sides would leak 6+ checkpoints; exactly the 2
    # live factor tables (+ nothing from the released interactions)
    assert len(after - before) <= 2
