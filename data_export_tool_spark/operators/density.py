"""Grid-blocked exact DBSCAN (Ester et al., KDD 1996) in 2-D.

Density clustering for spatial/metric columns — store-location
grouping, GPS stop detection, dense-region discovery in a 2-D
projection — where k-means' spherical-k assumption fails. Semantics
are EXACT DBSCAN: a point is *core* iff its ε-ball holds ≥
``min_pts`` points (itself included); clusters are the connected
components of the core-core ε-graph; a non-core point within ε of a
core point is a *border* member of its minimum-labeled core
neighbor's cluster (the deterministic tie rule — sklearn's
first-found assignment is scan-order dependent, a min-fold is not);
everything else is noise.

Scale shape
-----------
The ε-neighbor join is GRID-BLOCKED: each point lands in its
(⌊x/ε⌋, ⌊y/ε⌋) cell, probes explode to the 3×3 neighbor cells, and
one equi-join on the cell key + an exact distance filter yields every
ε-pair — candidates are only same-or-adjacent-cell pairs, never a
cross join (the ``geo_radius_join`` blocking discipline). Core flags
are one count aggregate; clusters reuse
``graph.connected_components`` (pointer jumping, O(log n) rounds);
border assignment is one join + min-fold. A cell denser than
``max_cell_points`` makes the within-cell candidate count quadratic —
inherent to exact DBSCAN — so the operator RAISES past the guard
naming the cell count and the fix (smaller ε / coarser data) instead
of silently stalling an executor.

Oracle: exact python replay with the same min-label border rule
(tests/test_density.py → OPCHECK ``dbscan``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_export_tool_spark.operators.graph import connected_components

__all__ = ["dbscan", "py_dbscan"]


def py_dbscan(
    pts: list[tuple], eps: float, min_pts: int
) -> dict:
    """Reference DBSCAN: ``{id: (label, is_core)}``, label None for
    noise; cluster label = min point id among the cluster's cores;
    border points take the min label among their core neighbors."""
    ids = [p[0] for p in pts]
    xy = {p[0]: (float(p[1]), float(p[2])) for p in pts}
    e2 = eps * eps

    def near(a, b):
        dx = xy[a][0] - xy[b][0]
        dy = xy[a][1] - xy[b][1]
        return dx * dx + dy * dy <= e2

    nbrs = {i: [j for j in ids if j != i and near(i, j)] for i in ids}
    core = {i for i in ids if len(nbrs[i]) + 1 >= min_pts}
    # components over core-core edges (plus isolated cores)
    label = {i: i for i in core}

    def find(i):
        while label[i] != i:
            label[i] = label[label[i]]
            i = label[i]
        return i

    for i in core:
        for j in nbrs[i]:
            if j in core:
                a, b = find(i), find(j)
                if a != b:
                    if a < b:
                        label[b] = a
                    else:
                        label[a] = b
    comp = {i: find(i) for i in core}
    out = {}
    for i in ids:
        if i in core:
            out[i] = (comp[i], True)
        else:
            cands = [comp[j] for j in nbrs[i] if j in core]
            out[i] = (min(cands) if cands else None, False)
    return out


def dbscan(
    df: DataFrame,
    id_col: str,
    x_col: str,
    y_col: str,
    eps: float,
    min_pts: int,
    max_cell_points: int = 20_000,
) -> DataFrame:
    """Cluster 2-D points. Returns ``id_col, cluster_id, is_core``
    with ``cluster_id`` NULL for noise (label = min core point id in
    the cluster — deterministic)."""
    if eps <= 0:
        raise ValueError(f"eps must be positive, got {eps}")
    if min_pts < 1:
        raise ValueError(f"min_pts must be >= 1, got {min_pts}")
    pid, x, y = F.col(id_col), F.col(x_col), F.col(y_col)
    pts = df.where(
        pid.isNotNull() & x.isNotNull() & y.isNotNull()
    ).select(
        pid.alias("pid"),
        x.cast("double").alias("x"),
        y.cast("double").alias("y"),
        F.floor(x.cast("double") / eps).alias("cx"),
        F.floor(y.cast("double") / eps).alias("cy"),
    )
    dense = (
        pts.groupBy("cx", "cy")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") > max_cell_points)
        .limit(1)
        .collect()
    )
    if dense:
        r = dense[0]
        raise ValueError(
            f"dbscan cell ({r['cx']},{r['cy']}) holds {r['n']} points "
            f"(> max_cell_points={max_cell_points}); the within-cell "
            "pair count is quadratic — use a smaller eps, pre-aggregate "
            "coincident points, or raise max_cell_points"
        )
    # probes (r11, guide §3 join-volume halving): each point visits its
    # OWN cell plus the 4 FORWARD neighbor cells — (+1,−1), (+1,0),
    # (+1,+1), (0,+1) — instead of all 9. A same-cell probe already
    # yields both directions of every same-cell pair (pa ≠ pid keeps
    # (a,b) and (b,a)); a forward probe yields each CROSS-cell pair
    # exactly once (the 4 offsets and their negations partition the 8
    # neighbor directions), and the missing direction is emitted by
    # exploding the filtered candidate into (a,b)+(b,a) structs — one
    # pass, no second join, no dedup exchange. The join ships 5N probe
    # rows instead of 9N and the exact ε-filter runs once per
    # unordered cross-cell pair instead of once per direction; the
    # resulting pair MULTISET is identical to the 3×3 probe's.
    fwd = [(1, -1), (1, 0), (1, 1), (0, 1)]
    off = F.array(
        F.array(F.lit(0), F.lit(0)),
        *[F.array(F.lit(dx), F.lit(dy)) for dx, dy in fwd],
    )
    probes = pts.select(
        F.col("pid").alias("pa"),
        F.col("x").alias("xa"),
        F.col("y").alias("ya"),
        F.explode(off).alias("__o"),
        F.col("cx").alias("__cxa"),
        F.col("cy").alias("__cya"),
    ).select(
        "pa",
        "xa",
        "ya",
        (F.col("__cxa") + F.col("__o")[0]).alias("cx"),
        (F.col("__cya") + F.col("__o")[1]).alias("cy"),
        ((F.col("__o")[0] == 0) & (F.col("__o")[1] == 0)).alias("__same"),
    )
    cand = probes.join(pts, ["cx", "cy"]).where(
        F.col("pa") != F.col("pid")
    )
    hit = cand.where(
        (F.col("xa") - F.col("x")) * (F.col("xa") - F.col("x"))
        + (F.col("ya") - F.col("y")) * (F.col("ya") - F.col("y"))
        <= F.lit(float(eps * eps))
    )
    both_dirs = F.array(
        F.struct(F.col("pa").alias("pa"), F.col("pid").alias("pb")),
        F.struct(F.col("pid").alias("pa"), F.col("pa").alias("pb")),
    )
    one_dir = F.array(
        F.struct(F.col("pa").alias("pa"), F.col("pid").alias("pb"))
    )
    pairs = hit.select(
        F.explode(
            F.when(F.col("__same"), one_dir).otherwise(both_dirs)
        ).alias("__p")
    ).select(F.col("__p.pa").alias("pa"), F.col("__p.pb").alias("pb"))
    # ε-pairs feed three consumers (degree count, core-core edges,
    # border join) — materialize once, up front. (Eagerness used to be
    # required: connected_components found its own blocks by diffing
    # storage around each checkpoint and swept up a lazy checkpoint
    # that materialized inside that window. Its CheckpointScope now
    # frees only the RDDs it pinned.)
    pairs = pairs.localCheckpoint(eager=True)

    deg = pairs.groupBy("pa").agg(F.count(F.lit(1)).alias("n_nbr"))
    core = deg.where(F.col("n_nbr") >= min_pts - 1).select(
        F.col("pa").alias("pid")
    )
    if min_pts == 1:
        core = pts.select("pid")  # every point is core by definition
    cc_edges = (
        pairs.join(core.select(F.col("pid").alias("pa")), "pa")
        .join(core.select(F.col("pid").alias("pb")), "pb")
        .where(F.col("pa") < F.col("pb"))
        .select(F.col("pa").alias("id_a"), F.col("pb").alias("id_b"))
    )
    comp = connected_components(cc_edges).withColumnRenamed(
        "node", "pid"
    )
    # isolated cores (no core neighbor) form singleton clusters
    core_lab = core.join(comp, "pid", "left").select(
        "pid",
        F.coalesce(F.col("component_id"), F.col("pid")).alias("cluster_id"),
    )
    border = (
        pairs.join(core_lab.select(F.col("pid").alias("pb"),
                                   F.col("cluster_id")), "pb")
        .groupBy("pa")
        .agg(F.min("cluster_id").alias("cluster_id"))
        .join(core_lab.select(F.col("pid").alias("pa")), "pa", "left_anti")
        .select(F.col("pa").alias("pid"), "cluster_id")
    )
    labeled = core_lab.withColumn("is_core", F.lit(True)).unionByName(
        border.withColumn("is_core", F.lit(False))
    )
    return (
        pts.select("pid")
        .join(labeled, "pid", "left")
        .select(
            F.col("pid").alias(id_col),
            "cluster_id",
            F.coalesce(F.col("is_core"), F.lit(False)).alias("is_core"),
        )
    )
