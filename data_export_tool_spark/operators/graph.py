"""Distributed connected components (duplicate-cluster resolution).

Near-dup detection (MinHash-LSH, SimHash, embedding-cosine — see
``operators/dedup.py`` / ``operators/similarity.py``) emits *pairs*;
a training-data pipeline then needs the transitive closure of those
pairs to pick one canonical document per duplicate *cluster*. That is
connected components over the pair graph.

Algorithm: iterative min-label propagation with pointer jumping
(Shiloach-Vishkin style, the standard dataflow formulation — see e.g.
Kiveris et al., "Connected Components in MapReduce and Beyond",
SoCC'14, whose alternating-star algorithm has the same O(log n) round
bound). Each round:

1. neighbor-min: ``c(u) ← min(c(u), min over neighbors v of c(v))``
   — one shuffle on the node id;
2. pointer jump:  ``c(u) ← c(c(u))`` — one self-join of the label
   table, halving chain lengths so convergence is O(log n) rounds even
   for path graphs (plain label propagation needs O(diameter)).

Scale notes (100 TB):
- State per round is one (node, label) table — O(V) rows, never the
  doc bodies. Labels are the numeric/string node ids themselves.
- ``localCheckpoint`` truncates lineage each round; without it the
  plan doubles per iteration and the job dies on plan-size long before
  data size matters. Every loop in this module pins its state through
  one ``CheckpointScope`` (``operators/checkpoint.py``): superseded
  tables are dropped as the loop advances, and leaving the operator,
  also by an exception, frees everything the returned frame does not
  read.
- The convergence check is an aggregate (count of changed labels), one
  tiny job per round on data already checkpointed.
- Deterministic under retries/partitioning: every operation is a
  commutative min — no ordering or partition-id dependence.
"""

from __future__ import annotations

import time

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F

from data_export_tool_spark.operators.checkpoint import CheckpointScope


def _observed(
    obs: Observation,
    df: DataFrame,
    key: str,
    fallback_agg: Column,
    timeout_sec: float = 60.0,
):
    """Bounded-wait read of a loop's observed convergence scalar.

    Every graph loop observes its per-round scalar during the eager
    ``localCheckpoint`` action — CollectMetrics firing on that action
    is an undocumented Spark internal (verified on 4.1, r10). Should a
    future Spark stop emitting metrics there, a bare ``Observation.get``
    would block forever and hang the loop; this polls the non-blocking
    JVM accessor and, past the deadline, falls back to ONE explicit
    aggregate over ``df`` (the already-checkpointed frame — the
    pre-r10 probe shape: one extra job per round, never a hang;
    ADVICE r10). Returns the raw metric value (None possible, e.g. a
    sum over zero rows — callers keep their ``or`` defaults).
    """
    deadline = time.monotonic() + timeout_sec
    while time.monotonic() < deadline:
        if obs._jo.getRowOrEmpty().isDefined():
            return obs.get[key]
        time.sleep(0.02)
    return df.agg(fallback_agg.alias(key)).first()[key]


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    out_node: str = "node",
    out_comp: str = "component_id",
    max_iter: int = 25,
    rounds_per_checkpoint: int = 1,
) -> DataFrame:
    """Connected components of the undirected graph given by pair rows.

    Returns one row per distinct node appearing in ``edges`` with its
    component representative (the minimum node id in the component).
    The result is deterministic and retry-safe (pure min-aggregation).

    ``max_iter`` bounds the pointer-jumping loop; with jumping the
    rounds needed are O(log n), so 25 covers any graph that fits in a
    cluster. Raises if the loop fails to converge within the bound
    (diagnosing a bug beats silently wrong clusters).

    ``rounds_per_checkpoint`` composes that many neighbor-min +
    pointer-jump rounds LAZILY before each checkpoint+probe action
    (r11, guide §1.2 fewer driver actions): labels are monotone
    non-increasing, so "no change across k fused rounds" is exactly
    the single-round fixed point. >1 doubles plan depth per action —
    right for SMALL graphs where per-job fixed cost dominates (the
    ``update_components`` delta subgraph), wrong for huge ones (the
    default stays 1: plan size and per-round shuffle dominate there,
    and a converged run wastes k−1 rounds of work on the last action).

    Each round's label table is pinned in one ``CheckpointScope`` and
    the round it supersedes is freed at once. Only the final labels
    outlive the call (the returned frame reads them); the pair and
    edge tables are freed on return or on the non-convergence error.
    """
    if rounds_per_checkpoint < 1:
        raise ValueError(
            f"rounds_per_checkpoint must be >= 1: {rounds_per_checkpoint}"
        )
    u, v = F.col(src), F.col(dst)
    with CheckpointScope() as scope:
        # materialize the (possibly expensive) pair pipeline ONCE before
        # the symmetric union references it twice
        pairs = scope.pin(edges.select(u.alias("u"), v.alias("v")))
        sym = scope.pin(
            pairs.select(F.col("u").alias("n"), F.col("v").alias("m"))
            .union(pairs.select(F.col("v").alias("n"), F.col("u").alias("m")))
        )
        # pairs fed sym's (materialized) checkpoint; free it immediately
        scope.drop(pairs)
        # labels start as each node's own id (self-edge min == identity)
        labels = scope.pin(
            sym.groupBy("n").agg(F.least(F.min("m"), F.col("n")).alias("c"))
        )

        def _round(lab: DataFrame) -> DataFrame:
            """One lazy neighbor-min + pointer-jump step over (n, c0, c):
            ``c`` advances, ``c0`` (the pre-composition label the change
            flag compares against) rides the pipeline untouched — the
            r10 no-separate-probe shape."""
            # 1) neighbor-min: pull each neighbor's current label
            nbr = (
                sym.join(lab.select(F.col("n").alias("m"), "c"), "m")
                .groupBy("n")
                .agg(F.min("c").alias("cn"))
            )
            stepped = (
                lab.withColumnRenamed("c", "cp")
                .join(nbr, "n", "left")
                .select(
                    "n", "c0", F.least(F.col("cp"), F.col("cn")).alias("c")
                )
            )
            # 2) pointer jump: c(u) <- c(c(u))
            jump = lab.select(F.col("n").alias("c"), F.col("c").alias("cc"))
            return stepped.join(jump, "c", "left").select(
                "n", "c0", F.least(F.col("c"), F.col("cc")).alias("c")
            )

        for _ in range(max_iter):
            # compose rounds_per_checkpoint lazy rounds, then ONE job:
            # the change flag vs the pre-composition label rides the
            # pipeline (left join instead of union+re-group) and the
            # changed-count is OBSERVED during the checkpoint action
            # itself (CollectMetrics fires on eager localCheckpoint —
            # verified on 4.1), so the whole composition is ONE job.
            cur = labels.select("n", F.col("c").alias("c0"), "c")
            for _k in range(rounds_per_checkpoint):
                cur = _round(cur)
            obs = Observation()
            new_full = scope.pin(
                cur.select(
                    "n", "c", (F.col("c") != F.col("c0")).alias("__chg")
                )
                .observe(obs, F.sum(F.col("__chg").cast("long")).alias("chg"))
            )
            converged = (
                _observed(
                    obs, new_full, "chg", F.sum(F.col("__chg").cast("long"))
                )
                or 0
            ) == 0
            # the superseded round's O(V) checkpoint blocks are dead the
            # moment the convergence probe finishes — free them NOW, or
            # up to max_iter label tables pile up in executor storage
            scope.drop(labels)
            labels = new_full.select("n", "c")
            if converged:
                break
        else:
            raise RuntimeError(
                f"connected_components did not converge in {max_iter} rounds"
            )
        return scope.keep(
            labels.select(F.col("n").alias(out_node), F.col("c").alias(out_comp))
        )


def duplicate_clusters(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    id_out: str = "doc_id",
) -> DataFrame:
    """Resolve near-dup pairs into clusters: one row per clustered doc
    with its cluster representative (min doc id — the canonical "keep"
    document) and the cluster size.

    Composition: ``connected_components`` + one count window on the
    component key. Docs not appearing in any pair are untouched (the
    usual pipeline keeps them unconditionally; joining this result back
    with ``how="left_anti"`` on ``doc_id != component_id`` drops
    non-canonical members).
    """
    comp = connected_components(pairs, src=src, dst=dst, out_node=id_out)
    w = F.count(F.lit(1)).over(Window.partitionBy("component_id"))
    return comp.select(id_out, "component_id", w.alias("cluster_size"))


def canonical_by_score(
    pairs: DataFrame,
    scores: DataFrame,
    id_col: str = "doc_id",
    score_col: str = "score",
) -> DataFrame:
    """Quality-aware canonical selection: resolve near-dup pairs into
    clusters and pick each cluster's HIGHEST-``score_col`` member as
    the keeper (ties by min id — deterministic), instead of
    ``duplicate_clusters``'s min-id convention. The real-world dedup
    policy: among five near-identical crawls of a page, keep the one
    the quality model likes best, not the one with the smallest id.

    ``scores`` must carry ``(id_col, score_col)`` for at least every
    clustered id; members with NULL/absent scores lose every
    comparison but remain listed. Output: one row per clustered doc —
    ``(id_col, component_id, canonical_id, canonical_score,
    cluster_size)``. Drop non-keepers by anti-joining
    ``canonical_id != id_col`` rows out of the corpus.

    Scale shape: CC on id scalars, then ONE partial-aggregable
    ``min_by`` groupBy per component — max-score-then-min-id encoded
    as ``min_by(id, struct(-score, id))``, so a mega-cluster is a
    map-side-combined aggregate, never a per-cluster window over the
    full membership.
    """
    comp = duplicate_clusters(pairs, id_out=id_col)
    joined = comp.join(
        scores.select(
            F.col(id_col), F.col(score_col).cast("double").alias("__s")
        ),
        on=id_col,
        how="left",
    )
    # NULL scores must lose: give them -inf in the comparator (struct
    # comparison treats NULL as largest in min — unacceptable here)
    s = F.coalesce(F.col("__s"), F.lit(float("-inf")))
    best = joined.groupBy("component_id").agg(
        F.min_by(
            F.col(id_col), F.struct((-s).alias("ns"), F.col(id_col))
        ).alias("canonical_id"),
        F.max(s).alias("canonical_score"),
    )
    return (
        joined.join(best, on="component_id")
        .select(
            id_col,
            "component_id",
            "canonical_id",
            F.when(
                F.col("canonical_score") != float("-inf"),
                F.col("canonical_score"),
            ).alias("canonical_score"),
            "cluster_size",
        )
    )


def dedup_keep_best(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    score_col: str = "score",
) -> DataFrame:
    """Drop every clustered row except its cluster's best-scoring
    member (``canonical_by_score`` policy). ``df`` must carry both
    ``id_col`` and ``score_col``. Rows in no pair survive untouched.
    One extra shuffle beyond the composition (the final anti-join)."""
    canon = canonical_by_score(
        pairs, df.select(id_col, score_col), id_col=id_col, score_col=score_col
    )
    drop = canon.where(F.col(id_col) != F.col("canonical_id")).select(id_col)
    return df.join(drop, on=id_col, how="left_anti")


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    max_iter: int = 20,
    tol: float = 1e-6,
    out_node: str = "node",
    out_rank: str = "rank",
) -> DataFrame:
    """PageRank over the directed edge list (Brin & Page 1998; the
    dataflow formulation every Pregel-style system uses). Returns one
    row per node with its stationary-distribution mass; ranks sum to 1.

    Semantics: uniform teleport ``(1-damping)/N``; a node's rank
    splits evenly over its out-edges (parallel edges count multiply —
    pre-``distinct`` the edge list for simple-graph semantics);
    DANGLING nodes (no out-edges) redistribute their mass uniformly,
    the standard stochastic-matrix completion, so total mass is
    conserved and the iteration converges for any graph.

    Scale shape, per iteration: ONE join of the (src, dst, 1/outdeg)
    edge table with the O(V) rank table + a partial-aggregable groupBy
    on dst — the edge table is checkpoint-materialized ONCE and its
    weights never recompute. The dangling mass needs no dangling-node
    join: out-edge weights sum to 1 per non-dangling node, so
    Σ contrib = non-dangling mass and ``dm = 1 − Σ contrib`` (total
    mass is exactly 1 by construction each round) — one scalar
    aggregate over the already-materialized contribution table. The
    L1-convergence probe runs only when ``tol > 0``.
    ``localCheckpoint`` truncates lineage per round. Every table is
    pinned in one ``CheckpointScope``: superseded rank tables are
    freed immediately, the edge and node tables on return (or on an
    error), and only the result's blocks outlive the call. Each round
    re-shuffles the O(E) edge table for its rank join; on a persisted
    graph, bucket the edge table by ``src`` to eliminate that exchange
    — the per-round shuffle is then just the O(V) rank table.

    Stops when the L1 delta ≤ ``tol`` (set ``tol=0`` to run exactly
    ``max_iter`` rounds — no probe jobs at all — e.g. to compare
    against an external replay).
    """
    if not (0.0 < damping < 1.0):
        raise ValueError(f"damping must be in (0, 1): {damping}")
    with CheckpointScope() as scope:
        e = scope.pin(
            edges.where(F.col(src).isNotNull() & F.col(dst).isNotNull()).select(
                F.col(src).alias("s"), F.col(dst).alias("d")
            )
        )
        outd = e.groupBy("s").agg(F.count(F.lit(1)).alias("__outd"))
        ew = scope.pin(
            e.join(outd, "s").select(
                "s", "d", (F.lit(1.0) / F.col("__outd")).alias("w")
            )
        )
        nodes = scope.pin(
            e.select(F.col("s").alias("n"))
            .union(e.select(F.col("d").alias("n")))
            .distinct()
        )
        n_nodes = nodes.count()
        if n_nodes == 0:
            return scope.keep(
                nodes.select(F.col("n").alias(out_node), F.lit(0.0).alias(out_rank))
            )
        # e fed ew and nodes — both checkpoint-materialized, so the raw
        # edge blocks are dead
        scope.drop(e)
        base = (1.0 - damping) / n_nodes
        ranks = scope.pin(nodes.select("n", F.lit(1.0 / n_nodes).alias("r")))
        return _power_iterate(
            scope,
            ew,
            nodes,
            ranks,
            lambda c, dm: F.lit(base)
            + F.lit(damping) * (c + F.lit(dm / n_nodes)),
            max_iter,
            tol,
            out_node,
            out_rank,
        )


def _power_iterate(
    scope: CheckpointScope,
    ew: DataFrame,
    nodes: DataFrame,
    ranks: DataFrame,
    new_rank,
    max_iter: int,
    tol: float,
    out_node: str,
    out_rank: str,
) -> DataFrame:
    """The rank loop :func:`pagerank` and :func:`personalized_pagerank`
    share. ``new_rank(c, dm)`` is a node's next rank from its incoming
    contribution ``c`` and the round's dangling mass ``dm``."""
    backing = ranks  # the pinned table the current ranks read
    for _ in range(max_iter):
        obs = Observation()
        contrib = scope.pin(
            ew.join(ranks.withColumnRenamed("n", "s"), "s")
            .groupBy("d")
            .agg(F.sum(F.col("r") * F.col("w")).alias("__c"))
            .withColumnRenamed("d", "n")
            .observe(obs, F.sum("__c").alias("s"))
        )
        # dangling mass without a dangling join: weights sum to 1 per
        # non-dangling node, so Σ contrib = non-dangling mass and the
        # total mass is exactly 1 each round by construction; the sum is
        # OBSERVED during the checkpoint action (no second job)
        dm = 1.0 - (_observed(obs, contrib, "s", F.sum("__c")) or 0.0)
        new_ranks = nodes.join(contrib, "n", "left").select(
            "n", new_rank(F.coalesce(F.col("__c"), F.lit(0.0)), dm).alias("r")
        )
        if tol > 0:
            # the delta probe reads new_ranks a second time, so it is
            # worth one materialization; the probe itself stays
            new_ranks = scope.pin(new_ranks)
            scope.drop(contrib)
            delta = (
                new_ranks.join(ranks.withColumnRenamed("r", "r0"), "n")
                .agg(F.sum(F.abs(F.col("r") - F.col("r0"))))
                .first()[0]
            )
            new_backing = new_ranks
        else:
            # probe-free path (tol=0): the rank table is consumed ONCE
            # per round (next round's edge join), and contrib is already
            # checkpointed — leave new_ranks as a lazy one-join
            # projection over the cached contrib blocks instead of
            # paying a second O(V) materialization per round. Lineage
            # stays depth-1 (nodes ⋈ contrib, both checkpointed).
            delta = None
            new_backing = contrib
        scope.drop(backing)
        ranks, backing = new_ranks, new_backing
        if delta is not None and delta <= tol:
            break

    out = ranks.select(F.col("n").alias(out_node), F.col("r").alias(out_rank))
    if backing is not ranks:
        # the lazy rank table still reads the nodes checkpoint — pin the
        # result so only its own blocks outlive the scope
        out = scope.pin(out)
    return scope.keep(out)


def update_components(
    components: DataFrame,
    new_edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    out_node: str = "node",
    out_comp: str = "component_id",
    max_iter: int = 25,
    broadcast_delta: bool = True,
    cc_rounds_per_checkpoint: int = 1,
) -> DataFrame:
    """Incrementally fold a batch of NEW edges into an existing
    ``connected_components`` mapping — the cluster-maintenance step an
    incremental dedup store needs next to ``near_dedup_against``: a
    nightly batch of fresh near-dup pairs must merge clusters without
    re-running CC over the whole corpus history.

    Exactness law (test-pinned): the result equals
    ``connected_components`` over (star edges of the old mapping) ∪
    (new edges) — same min-id representatives, including merges OF
    EXISTING CLUSTERS through a new bridge edge.

    Shape — recompute touches only the AFFECTED subgraph: the
    components incident to a new edge (two id-keyed joins to find
    them, one semi-join to pull their full membership), whose star
    edges (member, component) plus the new edges feed the standard
    pointer-jumping CC. Untouched components pass through by
    anti-join. The subgraph is sized by the new batch's cluster
    reach, not the store — a 10-edge delta against a 10¹⁰-row store
    recomputes ten clusters. New nodes never seen before appear only
    in ``new_edges`` and come out with their edge-reachable
    component.

    ``broadcast_delta`` (default True) pins the store-side no-shuffle
    property: the three store probes (touched lookup, affected-member
    semi-join, untouched anti-join) broadcast their DELTA-DERIVED side
    — without the hint the static planner sort-merge-joins and
    hash-exchanges the whole store three times, the exact cost this
    operator exists to avoid (plan contract in
    ``tests/test_plan_contracts.py``). Set False only when one delta
    batch plausibly reaches more cluster members than an executor
    holds — at which point a full CC rerun is the honest plan.

    ``cc_rounds_per_checkpoint`` (default 2) fuses that many label
    rounds per sub-CC action (r11, guide §1.2): the delta subgraph is
    sized by the batch's cluster reach, not the store, so per-job
    fixed cost dominates each round and plan depth is cheap — halving
    the driver actions is the win. Pass 1 to restore one-round-per-
    action when a delta plausibly reaches store-scale membership."""
    comp = components.select(
        F.col(out_node).alias("n"), F.col(out_comp).alias("c")
    )
    hint = F.broadcast if broadcast_delta else (lambda df: df)
    ne = new_edges.select(
        F.col(src).alias("u"), F.col(dst).alias("v")
    ).where(F.col("u").isNotNull() & F.col("v").isNotNull())
    touched = hint(
        ne.select(F.col("u").alias("n"))
        .union(ne.select(F.col("v").alias("n")))
        .distinct()
    )
    # components reached by the delta (new-only nodes have none)
    hit_comps = hint(
        comp.join(touched, "n").select("c").distinct()
    )
    affected = comp.join(
        hit_comps, "c", "left_semi"
    )  # full membership of every reached component
    star = affected.select(
        F.col("n").alias(src), F.col("c").alias(dst)
    )
    sub_cc = connected_components(
        star.unionByName(ne.select(F.col("u").alias(src), F.col("v").alias(dst))),
        src=src,
        dst=dst,
        out_node=out_node,
        out_comp=out_comp,
        max_iter=max_iter,
        rounds_per_checkpoint=cc_rounds_per_checkpoint,
    )
    # an old component id that is itself only a label (not a member
    # node) can surface from the star edges as a "node"; keep only
    # real members — nodes of the affected mapping or the new edges
    members = hint(
        affected.select("n").union(touched.select("n")).distinct()
    )
    sub_cc = sub_cc.join(
        members.withColumnRenamed("n", out_node), out_node, "left_semi"
    )
    untouched = comp.join(hit_comps, "c", "left_anti").select(
        F.col("n").alias(out_node), F.col("c").alias(out_comp)
    )
    return untouched.unionByName(sub_cc)


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 10,
) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan
    et al. 2007), made DETERMINISTIC: every node starts labeled with
    its own id; each round a node adopts the label that is most
    frequent among its neighbors, ties broken to the SMALLEST label
    (every node has ≥1 neighbor by construction — isolated nodes are
    not in the edge list and not in the output, the
    ``triangle_counts`` convention).
    Classic LPA breaks ties randomly; the fixed rule makes the output
    a pure function of (graph, max_iter), replayable by an external
    oracle — the same determinism-over-folklore trade the maximin
    k-means seeding makes.

    Undirected semantics: each input edge connects both endpoints
    (reversed/duplicate edges collapse; self-loops dropped).

    Scale shape, per round: ONE join of the O(E) symmetric edge table
    (checkpoint-materialized once) with the O(V) label table, a
    partial-aggregable (node, label) count, and an argmin-struct
    rollup per node — the exchanges carry label-grain rows, never
    adjacency lists; the edge table is re-shuffled by ``m`` for each
    round's join. ``localCheckpoint`` per round truncates lineage;
    one ``CheckpointScope`` frees superseded label tables immediately
    and the edge table on return (the CC/PageRank policy). Synchronous
    LPA can 2-cycle on bipartite structures —
    ``max_iter`` is a hard bound and rounds are NOT probed for
    convergence (tol-free by design: a probe job per round costs more
    than the bounded extra rounds at scale).

    Returns (node, community) — community ids are node ids (the
    min-id representative under the tie rule), stable for joining
    back to the corpus like ``duplicate_clusters`` output.
    """
    if max_iter < 1:
        raise ValueError(f"max_iter must be >= 1: {max_iter}")
    und = edges.where(
        F.col(src).isNotNull() & F.col(dst).isNotNull() & (F.col(src) != F.col(dst))
    ).select(F.least(src, dst).alias("a"), F.greatest(src, dst).alias("b")).distinct()
    with CheckpointScope() as scope:
        sym = scope.pin(
            und.select(F.col("a").alias("n"), F.col("b").alias("m")).union(
                und.select(F.col("b").alias("n"), F.col("a").alias("m"))
            )
        )
        labels = scope.pin(
            sym.select("n").distinct().select("n", F.col("n").alias("community"))
        )
        for _ in range(max_iter):
            nbr = (
                sym.join(
                    labels.select(F.col("n").alias("m"), "community"), "m"
                )
                .groupBy("n", "community")
                .agg(F.count(F.lit(1)).alias("__c"))
            )
            new_labels = scope.pin(
                nbr.groupBy("n")
                .agg(
                    F.min(
                        F.struct(
                            (-F.col("__c")).alias("negc"),
                            F.col("community").alias("community"),
                        )
                    ).alias("__w")
                )
                .select("n", F.col("__w.community").alias("community"))
            )
            scope.drop(labels)
            labels = new_labels
        return scope.keep(labels.select(F.col("n").alias("node"), "community"))


def k_core(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    k: int = 2,
    max_iter: int = 100,
) -> DataFrame:
    """The k-core: the maximal subgraph where every node has degree
    ≥ k (Seidman 1983) — the dense-nucleus extractor (link-farm
    cores, tightly-knit communities, collaboration backbones) that
    complements triangle cohesion and LPA membership.

    Iterative peeling: drop all nodes with current degree < k,
    re-derive degrees on the surviving subgraph, repeat to fixpoint.
    Converges in at most O(V) rounds but practically in a handful —
    each round removes EVERY currently-underweight node at once
    (synchronous peel), so rounds are bounded by the longest cascade
    chain, not node count. ``max_iter`` is the runaway bound; hitting
    it raises rather than returning a non-core silently.

    Per round: one partial-aggregable degree groupBy + two semi-joins
    of the edge table against the surviving-node set, checkpointed
    with the CC/PageRank release policy. The fixpoint probe is the
    per-round dropped-node count — one metadata aggregate. Undirected
    semantics with the standard edge hygiene (self-loops out,
    dup/reversed collapse).

    Returns (node, degree) for the surviving core — degree measured
    WITHIN the core, so every returned degree is ≥ k; empty when no
    k-core exists.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1: {k}")
    und = edges.where(
        F.col(src).isNotNull() & F.col(dst).isNotNull() & (F.col(src) != F.col(dst))
    ).select(F.least(src, dst).alias("a"), F.greatest(src, dst).alias("b")).distinct()
    with CheckpointScope() as scope:
        e = scope.pin(und)
        for _ in range(max_iter):
            deg = (
                e.select(F.col("a").alias("n"))
                .unionAll(e.select(F.col("b").alias("n")))
                .groupBy("n")
                .agg(F.count(F.lit(1)).alias("degree"))
            )
            survivors = deg.where(F.col("degree") >= k).select("n")
            n_dropped = deg.where(F.col("degree") < k).count()
            if n_dropped == 0:
                # materialize: the edge checkpoint deg reads is freed on
                # return
                return scope.keep(
                    scope.pin(deg.select(F.col("n").alias("node"), "degree"))
                )
            ne = scope.pin(
                e.join(survivors.withColumnRenamed("n", "a"), "a", "left_semi")
                .join(survivors.withColumnRenamed("n", "b"), "b", "left_semi")
                .select("a", "b")
            )
            scope.drop(e)
            e = ne
            # an emptied edge table converges naturally next round: deg
            # is empty, nothing drops, the empty core returns with the
            # right schema
    raise RuntimeError(f"k_core did not converge within max_iter={max_iter}")


def personalized_pagerank(
    edges: DataFrame,
    sources,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    max_iter: int = 20,
    tol: float = 1e-6,
    out_node: str = "node",
    out_rank: str = "rank",
) -> DataFrame:
    """Personalized PageRank (Page et al. 1999 §6; the random walk
    that TELEPORTS TO THE SEED SET instead of uniformly): the
    relevance-to-these-nodes ranking under every "people also bought" /
    related-entities / local-community feature — mass concentrates in
    the seeds' neighborhood instead of spreading to global hubs.

    ``sources`` is a REQUEST-SIZED python sequence of node ids (the
    ANN-batch convention — a personalization vector is a query, not a
    table; broadcast as literals). Teleport and DANGLING mass both
    redistribute uniformly over the seeds (the standard PPR
    stochastic completion), so total mass stays exactly 1 per round
    and seeds outside the graph still receive their teleport share.

    Same per-iteration shape, checkpoint scope and convergence probe
    as :func:`pagerank` (the shared ``_power_iterate`` loop: one
    weighted-edge join + one partial-aggregable dst groupBy per
    round); ``tol=0`` runs exactly ``max_iter`` rounds for external
    replay.
    """
    if not (0.0 < damping < 1.0):
        raise ValueError(f"damping must be in (0, 1): {damping}")
    srcs = list(dict.fromkeys(sources))
    if not srcs:
        raise ValueError("sources must name at least one node")
    with CheckpointScope() as scope:
        e = scope.pin(
            edges.where(F.col(src).isNotNull() & F.col(dst).isNotNull()).select(
                F.col(src).alias("s"), F.col(dst).alias("d")
            )
        )
        outd = e.groupBy("s").agg(F.count(F.lit(1)).alias("__outd"))
        ew = scope.pin(
            e.join(outd, "s").select(
                "s", "d", (F.lit(1.0) / F.col("__outd")).alias("w")
            )
        )
        # node set INCLUDES off-graph seeds: they hold teleport mass
        seed_df = edges.sparkSession.createDataFrame(
            [(s,) for s in srcs], f"n {e.schema['s'].dataType.simpleString()}"
        )
        nodes = scope.pin(
            e.select(F.col("s").alias("n"))
            .union(e.select(F.col("d").alias("n")))
            .union(seed_df.select("n"))
            .distinct()
        )
        scope.drop(e)
        share = 1.0 / len(srcs)
        is_src = F.col("n").isin(srcs)
        src_share = F.when(is_src, F.lit(share)).otherwise(F.lit(0.0))
        ranks = scope.pin(nodes.select("n", src_share.alias("r")))
        return _power_iterate(
            scope,
            ew,
            nodes,
            ranks,
            lambda c, dm: F.lit(1.0 - damping) * src_share
            + F.lit(damping) * (c + F.lit(dm) * src_share),
            max_iter,
            tol,
            out_node,
            out_rank,
        )


def bfs_distances(
    edges: DataFrame,
    sources,
    src: str = "id_a",
    dst: str = "id_b",
    max_hops: int = 10,
    directed: bool = False,
    out_node: str = "node",
    out_dist: str = "dist",
) -> DataFrame:
    """Multi-source BFS: minimum hop distance from ANY source node.

    The distance-to-nearest-anchor primitive — "how many link hops
    from a trusted seed page", "degrees of separation from any known
    spam account", "pipeline stage reachability" — computed level-
    synchronously: each round is ONE shuffle joining the current
    frontier against the adjacency table, an anti-join against the
    visited set (a node's FIRST discovery level is its minimum
    distance — the BFS invariant, so no min-fold is needed), and a
    distinct. Rounds are bounded by ``max_hops``; the loop also stops
    early the round the frontier empties (one metadata-sized isEmpty
    probe per round on an already-checkpointed frontier).

    ``sources`` is a python list of node ids (broadcast-small, the
    common case) or a single-column DataFrame. ``directed=False``
    symmetrizes the edge table once up front.

    Scale notes (100 TB): per-round state is (node, dist) — O(V) rows,
    never payloads; localCheckpoint truncates lineage each round
    (``connected_components`` discipline) and superseded checkpoint
    blocks are released eagerly. Hop-bounded BFS keeps the frontier
    join partitioned on the node id throughout — on a graph bucketed
    by node id the whole loop is map-side after the first exchange.
    Unreachable nodes are absent from the result (the caller's LEFT
    join distinguishes "unreached within max_hops" from dist values).

    Oracle: DuckDB depth-bounded recursive CTE + min-fold
    (tests/test_bfs.py → OPCHECK ``bfs_distances``).
    """
    if max_hops < 0:
        raise ValueError(f"max_hops must be >= 0, got {max_hops}")
    spark = edges.sparkSession
    u, v = F.col(src), F.col(dst)
    pairs = edges.where(u.isNotNull() & v.isNotNull() & (u != v)).select(
        u.alias("n"), v.alias("m")
    )
    if not directed:
        pairs = pairs.union(
            edges.where(u.isNotNull() & v.isNotNull() & (u != v)).select(
                v.alias("n"), u.alias("m")
            )
        )
    if isinstance(sources, DataFrame):
        seed = sources.select(F.col(sources.columns[0]).alias("n")).distinct()
    else:
        if not sources:
            raise ValueError("sources must name at least one node")
        seed = spark.createDataFrame(
            [(s,) for s in sources], schema=["n"]
        ).distinct()

    with CheckpointScope() as scope:
        adj = scope.pin(pairs.distinct())
        # NOTE (r10): a per-level variant (anti-join against a lazy
        # union of the cached level frames instead of the growing
        # visited checkpoint) was tried and MEASURED SLOWER (b127 2.7 →
        # 3.4 s): the union side loses the single-cached-relation stats
        # and the anti-join strategy degrades, and every hop re-reads
        # all previous levels — the single checkpointed visited table
        # stays.
        frontier = scope.pin(seed.select("n"))
        visited = scope.pin(frontier.select("n", F.lit(0).alias("d")))
        frontier_nonempty = not frontier.isEmpty()
        for hop in range(1, max_hops + 1):
            if not frontier_nonempty:
                break
            nxt = (
                frontier.join(adj, "n")
                .select(F.col("m").alias("n"))
                .distinct()
                .join(visited.select("n"), "n", "left_anti")
            )
            # the frontier's row count is observed during the checkpoint
            # action — no separate emptiness probe per hop
            obs = Observation()
            new_frontier = scope.pin(
                nxt.observe(obs, F.count(F.lit(1)).alias("n"))
            )
            scope.drop(frontier)
            frontier = new_frontier
            frontier_nonempty = (
                _observed(obs, new_frontier, "n", F.count(F.lit(1))) or 0
            ) > 0
            if not frontier_nonempty:
                break
            new_visited = scope.pin(
                visited.union(frontier.select("n", F.lit(hop).alias("d")))
            )
            scope.drop(visited)
            visited = new_visited
        return scope.keep(
            visited.select(F.col("n").alias(out_node), F.col("d").alias(out_dist))
        )


def sssp(
    edges: DataFrame,
    sources,
    weight_col: str,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 30,
    directed: bool = False,
    out_node: str = "node",
    out_dist: str = "dist",
) -> DataFrame:
    """Weighted multi-source shortest paths (non-negative weights):
    minimum path cost from ANY seed — travel-cost fields, weighted
    trust distance, cheapest-hop routing. The weighted sibling of
    :func:`bfs_distances`.

    Distributed Bellman-Ford with frontier pruning: each round joins
    only the nodes IMPROVED last round against the adjacency,
    min-folds candidate costs into the distance table, and counts
    improvements (one metadata aggregate — the ``connected_components``
    convergence probe). With weights ≥ 0 (validated up front by one
    aggregate) rounds are bounded by the hop-diameter of the shortest-
    path tree; hitting ``max_iter`` while still improving RAISES (the
    CC contract — diagnosing beats silently truncated distances).
    State per round is (node, dist) + the improved frontier, both
    localCheckpointed with superseded blocks released.

    Oracle: python Dijkstra replay (tests/test_sssp.py → OPCHECK
    ``sssp``).
    """
    spark = edges.sparkSession
    u, v, wc = F.col(src), F.col(dst), F.col(weight_col).cast("double")
    base = edges.where(
        u.isNotNull() & v.isNotNull() & wc.isNotNull() & (u != v)
    )
    neg = base.agg(F.min(wc).alias("m")).first()["m"]
    if neg is not None and neg < 0:
        raise ValueError(
            f"sssp requires non-negative weights; found {neg}"
        )
    pairs = base.select(u.alias("n"), v.alias("m"), wc.alias("w"))
    if not directed:
        pairs = pairs.union(
            base.select(v.alias("n"), u.alias("m"), wc.alias("w"))
        )
    if isinstance(sources, DataFrame):
        seed = sources.select(F.col(sources.columns[0]).alias("n")).distinct()
    else:
        if not sources:
            raise ValueError("sources must name at least one node")
        seed = spark.createDataFrame(
            [(s,) for s in sources], schema=["n"]
        ).distinct()

    with CheckpointScope() as scope:
        # parallel edges: keep the cheapest once, up front
        adj = scope.pin(pairs.groupBy("n", "m").agg(F.min("w").alias("w")))
        dist = scope.pin(seed.select("n", F.lit(0.0).alias("d")))
        frontier = dist  # shares dist's blocks at round 0
        improving = True
        rounds = 0
        while improving:
            if rounds >= max_iter:
                raise ValueError(
                    f"sssp did not converge within max_iter={max_iter} "
                    "rounds; the shortest-path tree is deeper than the "
                    "bound — raise max_iter"
                )
            rounds += 1
            cand = (
                frontier.join(adj, "n")
                .groupBy(F.col("m").alias("n"))
                .agg(F.min(F.col("d") + F.col("w")).alias("c"))
            )
            merged = (
                dist.join(cand, "n", "full_outer")
                .select(
                    "n",
                    F.least(F.col("d"), F.col("c")).alias("d"),
                    (
                        F.col("d").isNull()
                        | (F.col("c").isNotNull() & (F.col("c") < F.col("d")))
                    ).alias("__imp"),
                )
            )
            obs = Observation()
            new_dist = scope.pin(
                merged.observe(
                    obs, F.sum(F.col("__imp").cast("long")).alias("imp")
                )
            )
            improving = (
                _observed(
                    obs, new_dist, "imp", F.sum(F.col("__imp").cast("long"))
                )
                or 0
            ) > 0
            # the frontier is consumed exactly once (next round's
            # adjacency join) and is a filter-projection over the
            # new_dist blocks just checkpointed above — keep it lazy
            # instead of paying a second O(V) materialization per round
            frontier = new_dist.where(F.col("__imp")).select("n", "d")
            scope.drop(dist)
            dist = new_dist
        return scope.keep(
            dist.select(F.col("n").alias(out_node), F.col("d").alias(out_dist))
        )


def hits(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    n_iter: int = 20,
    out_node: str = "node",
) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999) on a DIRECTED graph:
    a good hub points at good authorities (``h = A·a``), a good
    authority is pointed at by good hubs (``a = Aᵀ·h``) — the
    citation/link-endorsement dual that PageRank's single score
    conflates. Power iteration with L1 normalization each half-step
    (driver-side scalar from one aggregate — the replay oracle uses
    the identical normalization, so scores match exactly, not just up
    to scale).

    Scale shape (r11, §1.2): rounds 1..n−1 are FUSED — the
    authority update is a lazy intermediate of the hub update's job,
    so each fused round is ONE action (join → groupBy → join → groupBy
    → checkpoint) instead of two. The fusion is exact up to float
    rounding: ``h_i = normalize(A·normalize(Aᵀh)) ≡
    (A·Aᵀh)/Σ(A·Aᵀh)`` — the per-element normalization scalar cancels,
    so the fused round normalizes ONCE by the raw hub sum observed
    during the checkpoint (differences are ~1 ulp/round, far inside
    the replay oracle's 1e-9 pin). The final round stays split so the
    output's authority table materializes. The distinct edge table is
    checkpointed ONCE and read by both half-steps; each round's two
    groupBy exchanges are partial-aggregated map-side. One
    ``CheckpointScope`` frees superseded hub tables per round and the
    edge, node and loop tables on return: only the padded result's
    blocks outlive the call.
    ``n_iter`` bounds rounds — HITS converges geometrically (principal
    eigenvector of AᵀA / AAᵀ), 20 rounds is the standard budget.
    Returns ``node, hub, authority`` (nodes with only in-links get
    hub 0, only out-links authority 0).

    Oracle: numpy power-iteration replay (tests/test_hits.py →
    OPCHECK ``hits``).
    """
    if n_iter < 1:
        raise ValueError(f"n_iter must be >= 1, got {n_iter}")
    u, v = F.col(src), F.col(dst)
    with CheckpointScope() as scope:
        ew = scope.pin(
            edges.where(u.isNotNull() & v.isNotNull())
            .select(u.alias("s"), v.alias("t"))
            .distinct()
        )
        nodes = scope.pin(
            ew.select(F.col("s").alias("n"))
            .union(ew.select(F.col("t").alias("n")))
            .distinct()
        )
        n_nodes = nodes.count()
        if n_nodes == 0:
            # empty-graph schema must track the actual node-id type
            # (string ids would otherwise conflict with a hardcoded long
            # on union)
            node_t = ew.schema["s"].dataType.simpleString()
            return edges.sparkSession.createDataFrame(
                [], f"{out_node} {node_t}, hub double, authority double"
            )
        # the loop state tables cover only each score's nonzero support
        # (after round 1 the hub table holds out-link nodes, the
        # authority table in-link nodes): zero-score nodes add nothing
        # to the edge join or the L1 norm, so the zero padding happens
        # once at the end. Round 1's uniform hub rides the already-
        # checkpointed nodes table — its in-link-only rows drop out at
        # the first join.
        hub = nodes.select("n", F.lit(1.0 / n_nodes).alias("h"))
        for i in range(n_iter - 1):
            # fused round: the intermediate authority stays RAW (its
            # norm cancels out of the normalized hub — see docstring),
            # so the whole round is one action checkpointing only the
            # raw hub sums
            auth_raw = (
                ew.join(hub.withColumnRenamed("n", "s"), "s")
                .groupBy(F.col("t").alias("n"))
                .agg(F.sum("h").alias("a"))
            )
            obs_h = Observation()
            new_hub = scope.pin(
                ew.join(auth_raw.withColumnRenamed("n", "t"), "t")
                .groupBy(F.col("s").alias("n"))
                .agg(F.sum("a").alias("h"))
                .observe(obs_h, F.sum("h").alias("s"))
            )
            norm_h = _observed(obs_h, new_hub, "s", F.sum("h")) or 1.0
            if i:  # round 1's hub is a view over nodes, which stays
                scope.drop(hub)
            hub = new_hub.select("n", (F.col("h") / norm_h).alias("h"))

        # final round stays split: the output needs the normalized
        # authority table materialized
        obs_a = Observation()
        auth = scope.pin(
            ew.join(hub.withColumnRenamed("n", "s"), "s")
            .groupBy(F.col("t").alias("n"))
            .agg(F.sum("h").alias("a"))
            .observe(obs_a, F.sum("a").alias("s"))
        )
        norm_a = _observed(obs_a, auth, "s", F.sum("a")) or 1.0
        last_auth = auth.select("n", (F.col("a") / norm_a).alias("a"))
        obs_h = Observation()
        new_hub = scope.pin(
            ew.join(last_auth.withColumnRenamed("n", "t"), "t")
            .groupBy(F.col("s").alias("n"))
            .agg(F.sum("a").alias("h"))
            .observe(obs_h, F.sum("h").alias("s"))
        )
        norm_h = _observed(obs_h, new_hub, "s", F.sum("h")) or 1.0
        hub = new_hub.select("n", (F.col("h") / norm_h).alias("h"))
        return scope.keep(
            scope.pin(
                nodes.join(hub, "n", "left")
                .join(last_auth.withColumnRenamed("a", "authority"), "n", "left")
                .select(
                    F.col("n").alias(out_node),
                    F.coalesce(F.col("h"), F.lit(0.0)).alias("hub"),
                    F.coalesce(F.col("authority"), F.lit(0.0)).alias("authority"),
                )
            )
        )


def py_brandes_sampled(edges, sources, directed=False):
    """Reference Brandes dependency accumulation (exact, per sampled
    source) — the arithmetic ``betweenness`` distributes. Returns
    ``{node: Σ_s δ_s(node)}`` over the given sources (no n/k scaling,
    no halving — the operator applies its documented estimator on
    top of this same sum)."""
    from collections import deque

    adj = {}
    for a, b in edges:
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        if not directed:
            adj.setdefault(b, set()).add(a)
    acc: dict = {}
    for s in sources:
        dist = {s: 0}
        sigma = {s: 1.0}
        order = []
        dq = deque([s])
        while dq:
            v = dq.popleft()
            order.append(v)
            for w in adj.get(v, ()):
                if w not in dist:
                    dist[w] = dist[v] + 1
                    dq.append(w)
                if dist[w] == dist[v] + 1:
                    sigma[w] = sigma.get(w, 0.0) + sigma[v]
        delta = {v: 0.0 for v in order}
        for w in reversed(order):
            for v in adj.get(w, ()):
                if dist.get(v) == dist[w] - 1:
                    delta[v] += sigma[v] / sigma[w] * (1.0 + delta[w])
            if w != s:
                acc[w] = acc.get(w, 0.0) + delta[w]
    return acc


def betweenness(
    edges: DataFrame,
    sources=None,
    k_sources: int = 16,
    src: str = "id_a",
    dst: str = "id_b",
    max_depth: int = 20,
    directed: bool = False,
    out_node: str = "node",
) -> DataFrame:
    """Sampled betweenness centrality — Brandes (2001) dependency
    accumulation from ``k_sources`` pivots (Brandes & Pich 2007's
    estimator): the bridge/broker score (which nodes sit on many
    shortest paths — network bottlenecks, influence brokers, critical
    routers) at a cost exact betweenness (all-sources, O(V·E)) cannot
    pay at scale.

    ALL pivots run SIMULTANEOUSLY, keyed by (source, node):

    * forward — level-synchronous BFS counting shortest paths:
      per level one frontier⋈adjacency join, an anti-join against the
      per-source visited set, and a (source, node) groupBy summing σ
      (path counts through distinct predecessors);
    * backward — dependency accumulation BY LEVEL from the deepest
      frontier up: δ(v) = Σ_{succ w} σ(v)/σ(w)·(1+δ(w)), one
      successor join + groupBy per level.

    Rounds = 2·(BFS depth), independent of k — the pivot dimension
    rides inside the shuffle key. State is (source, node, dist, σ)
    — O(k·V) — localCheckpointed per round, superseded blocks
    released. ``max_depth`` bounds both passes (deeper levels are
    truncated — documented estimator bias toward local structure,
    standard in sampled BC).

    ``sources``: explicit list/DataFrame, or None → the ``k_sources``
    nodes with the smallest ``xxhash64`` (deterministic sample).
    Returns ``node, betweenness`` where betweenness =
    (n_nodes / n_sources) · Σ_sampled δ — the unbiased estimator of
    the exact (unnormalized, no undirected halving) score; nodes on
    no sampled path are absent (score 0).

    Oracle: :func:`py_brandes_sampled` exact replay
    (tests/test_betweenness.py → OPCHECK ``betweenness``).
    """
    if k_sources < 1:
        raise ValueError(f"k_sources must be >= 1, got {k_sources}")
    if max_depth < 1:
        raise ValueError(f"max_depth must be >= 1, got {max_depth}")
    spark = edges.sparkSession
    u, v = F.col(src), F.col(dst)
    base = edges.where(u.isNotNull() & v.isNotNull() & (u != v))
    pairs = base.select(u.alias("n"), v.alias("m"))
    if not directed:
        pairs = pairs.union(base.select(v.alias("n"), u.alias("m")))
    with CheckpointScope() as scope:
        adj = scope.pin(pairs.distinct())
        nodes = adj.select("n").union(adj.select(F.col("m").alias("n"))).distinct()
        if sources is None:
            seed_df = (
                nodes.orderBy(F.xxhash64("n"), F.col("n")).limit(k_sources)
            )
        elif isinstance(sources, DataFrame):
            seed_df = sources.select(
                F.col(sources.columns[0]).alias("n")
            ).distinct()
        else:
            if not sources:
                raise ValueError("sources must name at least one node")
            seed_df = spark.createDataFrame(
                [(s,) for s in sources], schema=["n"]
            ).distinct()
        seed_df = seed_df.select(F.col("n").alias("s"))
        n_nodes = nodes.count()
        n_src = seed_df.count()
        if n_src == 0:
            # empty-result schema tracks the node-id type (string ids
            # would conflict with a hardcoded long on union/read)
            node_t = adj.schema["n"].dataType.simpleString()
            return spark.createDataFrame(
                [], f"{out_node} {node_t}, betweenness double"
            )

        # ---- forward: per-level frontiers with path counts ----
        # The anti-join keeps reading a single growing checkpointed
        # visited table (a lazy union over the cached level frames was
        # tried and measured slower — the union side loses single-
        # relation stats and the anti-join strategy degrades); the level
        # frames are RETAINED (not dropped when superseded) because the
        # backward pass reads exactly the per-depth (s, n, sigma) slices
        # — direct level reads instead of a full-visited filter scan
        # per backward level.
        frontier = scope.pin(
            seed_df.select("s", F.col("s").alias("n"),
                           F.lit(1.0).alias("sigma"))
        )
        levels = [frontier]  # levels[d] = frontier at depth d
        visited = scope.pin(frontier.select("s", "n"))
        depth = 0
        for hop in range(1, max_depth + 1):
            if hop > 1:
                # fold the previous round's frontier in at loop TOP so
                # the final round never pays a visited materialization
                # nothing will read
                new_visited = scope.pin(
                    visited.union(frontier.select("s", "n"))
                )
                scope.drop(visited)
                visited = new_visited
            nxt = (
                frontier.join(adj, "n")
                .select("s", F.col("m").alias("n"), "sigma")
                .join(visited, ["s", "n"], "left_anti")
                .groupBy("s", "n")
                .agg(F.sum("sigma").alias("sigma"))
            )
            obs = Observation()
            new_frontier = scope.pin(
                nxt.observe(obs, F.count(F.lit(1)).alias("n"))
            )
            if (_observed(obs, new_frontier, "n", F.count(F.lit(1))) or 0) == 0:
                scope.drop(new_frontier)
                break
            depth = hop
            frontier = new_frontier
            levels.append(new_frontier)
        scope.drop(visited)

        # ---- backward: dependency accumulation by level ----
        # adj reversed: successors w of v are v→w edges; for the
        # backward join we look up predecessors of w, i.e. join on the
        # w side. The deepest level starts at δ=0 — a lazy projection
        # over its cached level frame, no extra materialization.
        level_delta = levels[depth].select("s", "n", F.lit(0.0).alias("delta"))
        all_delta = level_delta
        for d in range(depth - 1, -1, -1):
            succ = (
                levels[d + 1]
                .join(level_delta, ["s", "n"], "left")
                .select(
                    "s",
                    F.col("n").alias("w"),
                    F.col("sigma").alias("sw"),
                    F.coalesce(F.col("delta"), F.lit(0.0)).alias("dw"),
                )
            )
            contrib = (
                succ.join(
                    adj.select(F.col("n").alias("v"), F.col("m").alias("w")),
                    "w",
                )
                .join(
                    levels[d].select(
                        "s", F.col("n").alias("v"),
                        F.col("sigma").alias("sv"),
                    ),
                    ["s", "v"],
                )
                .groupBy("s", F.col("v").alias("n"))
                .agg(
                    F.sum(
                        F.col("sv") / F.col("sw") * (F.lit(1.0) + F.col("dw"))
                    ).alias("delta")
                )
            )
            level_delta = scope.pin(contrib)
            all_delta = all_delta.union(level_delta)

        scale = float(n_nodes) / float(n_src)
        result = (
            # a pivot's own δ row never counts toward its score
            # (Brandes: the source is excluded from its accumulation)
            all_delta.where(F.col("n") != F.col("s"))
            .groupBy("n")
            .agg((F.sum("delta") * F.lit(scale)).alias("betweenness"))
            .where(F.col("betweenness") > 0.0)
            .select(F.col("n").alias(out_node), "betweenness")
        )
        return scope.keep(scope.pin(result))
