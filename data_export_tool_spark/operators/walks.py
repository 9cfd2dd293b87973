"""Deterministic random-walk corpus generation (DeepWalk/node2vec prep).

Graph-embedding pipelines (Perozzi et al. 2014) train a skip-gram
model on random walks; at corpus scale the walk GENERATION is the
Spark-shaped step (the training is the ML framework's problem). This
is the graph sibling of `sampling.deterministic_sample` / the X98
negative sampler: every "random" choice is pure md5 arithmetic over
(walk_id, step), so the corpus is a replayable FUNCTION of
(graph, n_walks, walk_length, seed) — re-runs, resumed jobs, and an
external oracle all produce byte-identical walks.

Step rule: from node u on walk w at step s, the next node is the
``h % degree(u)``-th neighbor in ascending neighbor order, with
h = the 32-bit hex slice of md5(seed‖w‖u‖s). Ascending-order
indexing needs a per-source neighbor rank — computed ONCE on the
adjacency table via a TWO-PHASE RANGE RANK (see
:func:`_indexed_adjacency`: within-range ranks + prefix-summed range
offsets, so a mega-hub's neighbor list is ranked by ``num_ranges``
parallel tasks instead of one), materialized and reused for all
steps, not per step.

Scale shape per step: ONE equi-join of the O(active walks) frontier
against the indexed adjacency on (node, chosen_rank) — an exact
composite-key join, NOT a node-key join followed by a filter over all
neighbors, so a hub with 10⁶ neighbors costs one lookup per visiting
walk, not 10⁶ candidate rows. ``walk_length`` bounded iterations;
walks that reach a sink (no out-edges under undirected=False) simply
stop — their rows are shorter, the standard convention.

Output: one row per (walk_id, start node, step, node) — the long
format a skip-gram window generator consumes directly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_export_tool_spark.operators.checkpoint import CheckpointScope

__all__ = ["random_walks"]


def _h32(*cols) -> F.Column:
    """Deterministic 32-bit uint from md5 of the ‖-joined key — the
    sampling.py md5 convention, but the hex-to-int step is an explicit
    8-digit ascii fold in long arithmetic instead of ``conv``:
    observed on Spark 4.1 here (ansi on), ``conv`` inside this
    operator's projection intermittently returned the value of a
    DIFFERENT key than the one md5'd beside it (the NumberConverter
    shared-buffer corruption class), flipping walk steps. The fold
    uses only immutable primitives, stays in whole-stage codegen, and
    replays in any oracle as plain ``int(hex, 16)``. The fold itself
    now lives in ``functions.hashing`` (shared by every hash-selection
    primitive in the repo)."""
    from data_export_tool_spark.functions.hashing import md5_long

    key = F.concat_ws("", *[c.cast("string") for c in cols])
    return md5_long(key, 9, 8)


def _indexed_adjacency(e: DataFrame, num_ranges: int = 32):
    """(adj, deg) for the walk step join: ``adj`` is one row per edge
    with ``__rank`` = the 0-based position of v in u's ASCENDING
    neighbor order; ``deg`` is (u, __deg).

    Scale — TWO-PHASE RANGE RANK (VERDICT r6 #2; the
    ``pack_token_shards`` trick applied to per-source neighbor
    ranking): a plain ``Window.partitionBy(u).orderBy(v)`` serializes
    a hub's entire neighbor list onto ONE task (a 10⁸-degree web-graph
    hub is one straggler sort). Instead the v domain is pre-split into
    ``num_ranges`` contiguous ranges (cut points from a deterministic
    md5-ordered edge sample — boundaries only affect BALANCE, never
    output, because ranges partition the order domain contiguously):
    phase 1 ranks within (u, range) with hub×range parallelism;
    phase 2 prefix-sums the per-(u, range) counts over a window whose
    partitions hold ≤ num_ranges metadata rows per node, and a
    (u, range)-keyed join attaches the offsets — the hub's rows stay
    spread across ranges in every stage. Degrees come from the same
    bounded counts, so NO stage sorts or aggregates a single u key
    over raw edge rows.
    """
    # deterministic, type-agnostic sample for cut points: TakeOrdered
    # by md5 (uniform-ish over edges, so quantiles are in-degree
    # weighted — exactly the balance axis that matters for hubs)
    smp = [
        r["v"]
        for r in e.select("v")
        .orderBy(F.md5(F.col("v").cast("string")), "v")
        .limit(4096)
        .collect()
    ]
    vals = sorted(set(smp))
    bounds = []
    if num_ranges > 1 and len(vals) > 1:
        step = len(vals) / num_ranges
        bounds = sorted({vals[int(i * step)] for i in range(1, num_ranges)})
    if bounds:
        cuts = F.array(*[F.lit(b) for b in bounds])
        rng = F.size(F.filter(cuts, lambda b: F.col("v") > b))
    else:
        rng = F.lit(0)
    from pyspark.sql import Window

    within = e.withColumn("__rng", rng).withColumn(
        "__lr",
        F.row_number().over(Window.partitionBy("u", "__rng").orderBy("v")),
    )
    # counts from the RAW ranged edges, not `within`: a map-side-
    # combining partial aggregate (the window's exchange carries every
    # edge row un-combined), and the degree path stays window-free
    counts = (
        e.withColumn("__rng", rng)
        .groupBy("u", "__rng")
        .agg(F.count(F.lit(1)).alias("__cnt"))
    )
    offsets = counts.withColumn(
        "__off",
        F.coalesce(
            F.sum("__cnt").over(
                Window.partitionBy("u")
                .orderBy("__rng")
                .rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0).cast("long"),
        ),
    )
    adj = within.join(offsets.select("u", "__rng", "__off"), ["u", "__rng"]).select(
        "u", "v", (F.col("__off") + F.col("__lr") - 1).alias("__rank")
    )
    deg = counts.groupBy("u").agg(F.sum("__cnt").alias("__deg"))
    return adj, deg


def random_walks(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_walks: int = 2,
    walk_length: int = 5,
    seed: int = 42,
    undirected: bool = True,
    num_ranges: int = 32,
) -> DataFrame:
    """(walk_id, start, step, node) rows; step 0 is the start node.

    ``n_walks`` walks start from EVERY node with at least one
    out-edge. Self-loops dropped; duplicate edges collapse (they would
    bias the hash-indexed choice invisibly — multiplicity-weighted
    walks need an explicit weight column, out of scope by contract).
    """
    if n_walks < 1 or walk_length < 1:
        raise ValueError("n_walks and walk_length must be >= 1")
    e = edges.where(
        F.col(src).isNotNull() & F.col(dst).isNotNull() & (F.col(src) != F.col(dst))
    ).select(F.col(src).alias("u"), F.col(dst).alias("v"))
    if undirected:
        e = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    e = e.distinct()

    # neighbor rank within ascending order, + degree: computed ONCE via
    # the two-phase range rank (_indexed_adjacency — no single-key
    # sort survives a hub) and CHECKPOINT-MATERIALIZED — every step
    # joins this table, and without the checkpoint each step
    # re-executes the (possibly expensive) upstream edge pipeline,
    # turning L steps into L full rebuilds (measured 17.6s → ~3s on
    # the co-purchase bench).
    adj0, deg0 = _indexed_adjacency(e, num_ranges=num_ranges)
    # pre-attach the DESTINATION's degree to each adjacency row (one
    # v-keyed left join at build time): every step's result then
    # carries the next hop's modulus directly, eliminating the
    # per-step degree re-attach join — L−1 shuffle joins saved. Left
    # join: an edge into a sink keeps __vdeg NULL, the step still
    # EMITS the reached sink, and the NULL modulus kills continuation
    # in the next composite-key join (the sink convention).
    adj1 = adj0.join(
        deg0.select(F.col("u").alias("v"), F.col("__deg").alias("__vdeg")),
        "v",
        "left",
    ).select("u", "v", "__rank", "__vdeg")
    with CheckpointScope() as scope:
        adj = scope.pin(adj1)
        deg = scope.pin(deg0)

        starts = deg.select(F.col("u").alias("start"), "__deg")
        frontier = (
            starts.crossJoin(
                F.broadcast(
                    edges.sparkSession.range(n_walks).select(
                        F.col("id").alias("__w")
                    )
                )
            )
            .select(
                F.concat_ws("#", F.col("start").cast("string"), F.col("__w")).alias(
                    "walk_id"
                ),
                "start",
                F.col("start").alias("node"),
                "__deg",
            )
        )
        out = frontier.select(
            "walk_id", "start", F.lit(0).alias("step"), "node"
        )
        # each step's frontier is CHECKPOINT-MATERIALIZED (the pagerank
        # per-round pattern): without it, step s's plan re-executes
        # joins 1..s−1, so ANY action over the returned union costs
        # O(L²) joins — and every further action repeats all of it
        # (measured 4 assertion actions ≈ 68s at 2M; materialized steps
        # make them scans). Storage is the walk corpus itself — the
        # caller's output, not a working set. The returned union reads
        # deg (the step-0 rows) and every step checkpoint, so exactly
        # those are kept; every adj consumer is materialized by the
        # loop's eager checkpoints, so the adjacency blocks are freed
        # on exit instead of leaking for the session's lifetime.
        cur = frontier
        for s in range(1, walk_length):
            choice = cur.select(
                "walk_id",
                "start",
                F.col("node").alias("u"),
                (_h32(F.lit(seed), F.col("walk_id"), F.col("node"), F.lit(s)) % F.col("__deg")).alias(
                    "__rank"
                ),
            )
            nxt = scope.pin(
                choice.join(adj, ["u", "__rank"]).select(
                    "walk_id",
                    "start",
                    F.col("v").alias("node"),
                    F.col("__vdeg").alias("__deg"),
                )
            )
            # the reached node is emitted UNCONDITIONALLY; continuation
            # dies on a NULL __deg (sink) at the next composite-key join
            out = out.unionByName(
                nxt.select("walk_id", "start", F.lit(s).alias("step"), "node")
            )
            cur = nxt.where(F.col("__deg").isNotNull())
        return scope.keep(out)
