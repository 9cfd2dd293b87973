"""Topological link prediction: common-neighbors / Jaccard /
Adamic–Adar / resource-allocation scores for non-adjacent node pairs.

The "who should connect next" primitive (friend suggestion, co-purchase
candidates, entity-graph completion — Liben-Nowell & Kleinberg 2003):
score every non-edge (u, w) that shares ≥ ``min_common`` neighbors by

* ``cn``      — |Γ(u) ∩ Γ(w)|
* ``jaccard`` — cn / |Γ(u) ∪ Γ(w)|
* ``aa``      — Σ_z 1/ln(deg z)   (Adamic & Adar 2003)
* ``ra``      — Σ_z 1/deg z       (resource allocation, Zhou 2009)
* ``pa``      — deg u · deg w     (preferential attachment)

Scale shape
-----------
Candidates come from WEDGE enumeration, never a cross join: the
symmetrized edge table self-joins on the wedge CENTER z
(``(u,z) ⋈ (z,w)``, ``u < w``), each wedge carrying z's
degree-derived weights, then one (u, w)-grain groupBy folds the
scores and a LEFT-ANTI join against the edge set keeps only
non-adjacent pairs (prediction scores for existing edges are
meaningless). A center of degree d emits d(d−1)/2 wedges — the
triangle-counting hot-hub regime. ``max_center_degree`` caps it by
DROPPING hubs as wedge centers (documented approximation, standard in
LP practice: a hub's evidence is weakest by construction — AA weights
it 1/ln d, RA 1/d — so the dropped mass is the least informative;
``None`` = exact). Degrees are always computed on the FULL graph —
the cap only prunes which z may testify, not what deg() means.

``top_k`` keeps each node u's k best candidates by (aa desc, w asc) —
a per-u window over the candidate frame (partition bounded by u's
2-hop neighborhood).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from data_export_tool_spark.operators.checkpoint import CheckpointScope

__all__ = ["link_prediction", "py_link_scores"]


def py_link_scores(
    edges: list[tuple],
    min_common: int = 1,
    max_center_degree: int | None = None,
) -> dict:
    """Reference scorer over undirected edge tuples — the exact
    arithmetic ``link_prediction`` distributes. Returns
    ``{(u, w): (cn, jaccard, aa, ra, pa)}`` for non-adjacent u < w."""
    nbrs: dict = {}
    for a, b in edges:
        if a == b or a is None or b is None:
            continue
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    deg = {n: len(s) for n, s in nbrs.items()}
    out = {}
    centers = [
        z
        for z in nbrs
        if max_center_degree is None or deg[z] <= max_center_degree
    ]
    acc: dict = {}
    for z in centers:
        ns = sorted(nbrs[z])
        for i, u in enumerate(ns):
            for w in ns[i + 1 :]:
                if w in nbrs[u]:
                    continue  # existing edge
                key = (u, w)
                c = acc.setdefault(key, [0, 0.0, 0.0])
                c[0] += 1
                c[1] += 1.0 / math.log(deg[z]) if deg[z] > 1 else 0.0
                c[2] += 1.0 / deg[z]
    for (u, w), (cn, aa, ra) in acc.items():
        if cn < min_common:
            continue
        union = deg[u] + deg[w] - cn
        out[(u, w)] = (
            cn,
            cn / union if union > 0 else None,
            aa,
            ra,
            deg[u] * deg[w],
        )
    return out


def link_prediction(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    min_common: int = 1,
    max_center_degree: int | None = None,
    top_k: int | None = None,
) -> DataFrame:
    """Score non-adjacent pairs of the undirected graph. Output:
    ``(u, w, cn, jaccard, aa, ra, pa)`` with ``u < w``; ``top_k``
    additionally ranks per endpoint (see module docstring)."""
    if min_common < 1:
        raise ValueError(f"min_common must be >= 1: {min_common}")
    a, b = F.col(src), F.col(dst)
    base = edges.where(a.isNotNull() & b.isNotNull() & (a != b))
    # the edge pipeline is referenced by sym (twice), the anti-join and
    # the degree table — materialize the canonical edge set ONCE (the
    # connected_components policy) so an expensive
    # upstream (a co-occurrence groupBy, a similarity join) does not
    # re-execute per reference; the checkpoint backs the returned plan,
    # so it is kept
    with CheckpointScope() as scope:
        canon = scope.keep(
            scope.pin(
                base.select(
                    F.least(a, b).alias("u"), F.greatest(a, b).alias("w")
                ).distinct()
            )
        )
    sym = canon.select(
        F.col("u").alias("n"), F.col("w").alias("m")
    ).union(canon.select(F.col("w").alias("n"), F.col("u").alias("m")))
    deg = sym.groupBy("n").agg(F.count(F.lit(1)).alias("deg"))
    centers = sym.join(deg, "n")
    if max_center_degree is not None:
        centers = centers.where(F.col("deg") <= max_center_degree)
    # wedges through center z = centers.n: (m=u) x (m=w), u < w
    left = centers.select(
        F.col("n").alias("__z"),
        F.col("m").alias("u"),
        F.col("deg").alias("__zdeg"),
    )
    right = centers.select(F.col("n").alias("__z"), F.col("m").alias("w"))
    wedges = left.join(right, "__z").where(F.col("u") < F.col("w"))
    aa_w = F.when(
        F.col("__zdeg") > 1, 1.0 / F.log(F.col("__zdeg"))
    ).otherwise(F.lit(0.0))
    scored = wedges.groupBy("u", "w").agg(
        F.count(F.lit(1)).alias("cn"),
        F.sum(aa_w).alias("aa"),
        F.sum(1.0 / F.col("__zdeg")).alias("ra"),
    )
    if min_common > 1:
        scored = scored.where(F.col("cn") >= min_common)
    # drop existing edges: the canonical edge set, left-anti
    scored = scored.join(canon, ["u", "w"], "left_anti")
    du = deg.select(F.col("n").alias("u"), F.col("deg").alias("__du"))
    dw = deg.select(F.col("n").alias("w"), F.col("deg").alias("__dw"))
    out = (
        scored.join(du, "u")
        .join(dw, "w")
        .select(
            "u",
            "w",
            "cn",
            (
                F.col("cn")
                / (F.col("__du") + F.col("__dw") - F.col("cn"))
            ).alias("jaccard"),
            "aa",
            "ra",
            (F.col("__du") * F.col("__dw")).alias("pa"),
        )
    )
    if top_k is not None:
        if top_k < 1:
            raise ValueError(f"top_k must be >= 1: {top_k}")
        both = out.unionByName(
            out.select(
                F.col("w").alias("u"), F.col("u").alias("w"),
                "cn", "jaccard", "aa", "ra", "pa",
            )
        )
        rn = F.row_number().over(
            Window.partitionBy("u").orderBy(F.col("aa").desc(), F.col("w"))
        )
        return both.withColumn("rank", rn).where(F.col("rank") <= top_k)
    return out
