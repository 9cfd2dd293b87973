"""Connected components, deterministic sampling, and shard packing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import record_opcheck, rdd_lineage_ids, stored_rdd_ids


def _cc(spark, pairs, **kw):
    from data_export_tool_spark.operators.graph import connected_components

    df = spark.createDataFrame(pairs, ["id_a", "id_b"])
    out = connected_components(df, **kw)
    return {r["node"]: r["component_id"] for r in out.collect()}


def _brute_cc(pairs):
    """Union-find ground truth."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


@pytest.mark.parametrize(
    "pairs",
    [
        [(1, 2)],
        [(1, 2), (2, 3), (3, 4)],  # path graph: pointer jumping exercised
        [(1, 2), (3, 4), (5, 6), (2, 3)],  # merge of two chains + island
        [(10, 1), (9, 1), (8, 1), (2, 9)],  # star with off-center min
        [(i, i + 1) for i in range(1, 40)],  # long chain, log-round bound
        [(1, 1), (2, 3), (3, 2)],  # self-loop + cycle
    ],
)
def test_connected_components_matches_union_find(spark, pairs):
    assert _cc(spark, pairs) == _brute_cc(pairs)


def test_connected_components_string_ids(spark):
    got = _cc(spark, [("b", "c"), ("a", "b"), ("x", "y")])
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def test_duplicate_clusters_sizes(spark):
    from data_export_tool_spark.operators.graph import duplicate_clusters

    df = spark.createDataFrame([(1, 2), (2, 3), (7, 9)], ["id_a", "id_b"])
    rows = {
        r["doc_id"]: (r["component_id"], r["cluster_size"])
        for r in duplicate_clusters(df).collect()
    }
    assert rows == {1: (1, 3), 2: (1, 3), 3: (1, 3), 7: (7, 2), 9: (7, 2)}


def test_deterministic_sample_flat_rate_is_nested(spark):
    from data_export_tool_spark.operators.sampling import deterministic_sample

    df = spark.range(0, 2000).withColumnRenamed("id", "k")
    small = {r["k"] for r in deterministic_sample(df, "k", 0.1).collect()}
    big = {r["k"] for r in deterministic_sample(df, "k", 0.4).collect()}
    assert small <= big  # nested: lower rate is a subset of higher
    # rate is approximately honored (md5 buckets are uniform)
    assert 0.05 < len(small) / 2000 < 0.15
    assert 0.3 < len(big) / 2000 < 0.5
    # deterministic across invocations
    again = {r["k"] for r in deterministic_sample(df, "k", 0.1).collect()}
    assert small == again


def test_deterministic_sample_strata_rates(spark):
    from data_export_tool_spark.operators.sampling import deterministic_sample

    df = spark.range(0, 1000).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 2 == 0, "a").otherwise("b").alias("s"),
    )
    out = deterministic_sample(
        df, "k", strata_col="s", rates={"a": 1.0, "b": 0.0}
    )
    got = out.groupBy("s").count().collect()
    assert {r["s"]: r["count"] for r in got} == {"a": 500}


def test_deterministic_sample_arg_validation(spark):
    from data_export_tool_spark.operators.sampling import deterministic_sample

    df = spark.range(3)
    with pytest.raises(ValueError):
        deterministic_sample(df, "id")
    with pytest.raises(ValueError):
        deterministic_sample(df, "id", 0.5, rates={"a": 0.1})
    with pytest.raises(ValueError):
        deterministic_sample(df, "id", rates={"a": 0.1})  # no strata_col


def test_pack_token_shards_budget_and_order(spark):
    from data_export_tool_spark.operators.sampling import pack_token_shards

    rows = [(i, "x", 100) for i in range(10)]  # 10 docs x 100 tokens
    df = spark.createDataFrame(rows, ["doc_id", "lang", "n_tok"])
    out = pack_token_shards(
        df, "n_tok", budget=250, order_col="doc_id", strata_col="lang"
    ).collect()
    by_id = {r["doc_id"]: r for r in out}
    # start offsets 0,100,200,... // 250 -> shards 0,0,0,1,1,2,2,2,3,3
    assert [by_id[i]["shard_id"] for i in range(10)] == [
        0, 0, 0, 1, 1, 2, 2, 2, 3, 3,
    ]
    assert by_id[9]["cum_tokens"] == 1000
    # no shard exceeds budget by more than one document
    tot = {}
    for r in out:
        tot[r["shard_id"]] = tot.get(r["shard_id"], 0) + 100
    assert all(t <= 250 + 100 for t in tot.values())


def test_pack_token_shards_two_phase_matches_single_window(spark):
    """The two-phase prefix-sum form must be value-identical to the
    one-window form for ANY range split — with and without strata, and
    regardless of num_ranges (boundaries only affect balance)."""
    from data_export_tool_spark.operators.sampling import pack_token_shards

    rows = [
        (i, ["en", "de", "fr"][i % 3], (i * 37) % 90 + 10) for i in range(200)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "lang", "n_tok"])

    def snap(out):
        return {
            r["doc_id"]: (r["cum_tokens"], r["shard_id"]) for r in out.collect()
        }

    for strata in ("lang", None):
        base = snap(
            pack_token_shards(
                df, "n_tok", budget=500, order_col="doc_id",
                strata_col=strata, num_ranges=1,
            )
        )
        for nr in (4, 16, 64):
            got = snap(
                pack_token_shards(
                    df, "n_tok", budget=500, order_col="doc_id",
                    strata_col=strata, num_ranges=nr,
                )
            )
            assert got == base, (strata, nr)


def _path_edges(spark, n=64, cols=("id_a", "id_b")):
    # a path graph forces several pointer-jumping / peeling rounds
    return spark.createDataFrame(
        [(i, i + 1, 1.0) for i in range(n)], f"{cols[0]} long, {cols[1]} long, w double"
    )


def _scoped_cases():
    """Each scoped operator as (spark -> result frame, expected error):
    the result-returning runs and the raising / early-exit paths."""
    from data_export_tool_spark.operators import graph as G
    from data_export_tool_spark.operators.threads import resolve_threads
    from data_export_tool_spark.operators.walks import random_walks

    def sd(s):
        return _path_edges(s, 16, ("src", "dst"))

    return {
        "connected_components": (lambda s: G.connected_components(_path_edges(s)), None),
        "update_components": (
            lambda s: G.update_components(
                s.createDataFrame([(1, 1), (2, 1), (5, 5)], "node long, component_id long"),
                s.createDataFrame([(2, 5), (7, 8)], "id_a long, id_b long"),
            ),
            None,
        ),
        "pagerank": (lambda s: G.pagerank(sd(s), max_iter=4), None),
        "pagerank_tol0": (lambda s: G.pagerank(sd(s), max_iter=4, tol=0.0), None),
        "pagerank_empty": (
            lambda s: G.pagerank(s.createDataFrame([], "src long, dst long")), None
        ),
        "personalized_pagerank": (
            lambda s: G.personalized_pagerank(sd(s), [0, 3], max_iter=4), None
        ),
        "label_propagation": (lambda s: G.label_propagation(sd(s), max_iter=3), None),
        "k_core": (lambda s: G.k_core(sd(s), k=1), None),
        "bfs_distances": (lambda s: G.bfs_distances(_path_edges(s, 16), [0]), None),
        "sssp": (lambda s: G.sssp(_path_edges(s, 16), [0], "w"), None),
        "hits": (lambda s: G.hits(_path_edges(s, 16), n_iter=3), None),
        "betweenness": (lambda s: G.betweenness(_path_edges(s, 12), k_sources=3), None),
        "resolve_threads": (
            lambda s: resolve_threads(
                s.createDataFrame(
                    [(1, None)] + [(i, i - 1) for i in range(2, 20)],
                    "msg_id long, parent_id long",
                )
            ),
            None,
        ),
        "random_walks": (
            lambda s: random_walks(sd(s), n_walks=2, walk_length=4, num_ranges=2),
            None,
        ),
        "connected_components_no_convergence": (
            lambda s: G.connected_components(_path_edges(s), max_iter=1),
            RuntimeError,
        ),
        "k_core_no_convergence": (
            lambda s: G.k_core(sd(s), k=2, max_iter=1), RuntimeError
        ),
        "sssp_no_convergence": (
            lambda s: G.sssp(_path_edges(s, 16), [0], "w", max_iter=1), ValueError
        ),
    }


@pytest.mark.parametrize("case", sorted(_scoped_cases()))
def test_scoped_operators_free_their_checkpoints(spark, case):
    # every loop checkpoint is local: neither DataFrame.unpersist nor GC
    # frees its blocks, so an operator that returns (or raises) without
    # unpersisting leaves O(V)/O(E) tables in storage for the session.
    # Only the blocks the returned frame still reads may remain.
    run, error = _scoped_cases()[case]
    before = stored_rdd_ids(spark)
    if error is None:
        out = run(spark)
        out.collect()  # the kept blocks are the ones it reads
        kept = rdd_lineage_ids(out)
    else:
        with pytest.raises(error):
            run(spark)
        kept = set()
    leaked = stored_rdd_ids(spark) - before - kept
    assert not leaked, leaked


def test_connected_components_leaves_caller_storage_alone(spark):
    # the caller's own storage that first materializes during the
    # operator's checkpoints is not the operator's to free
    from data_export_tool_spark.operators.graph import connected_components

    cached = _path_edges(spark, 32).select("id_a", "id_b").cache()
    lazy = _path_edges(spark, 32).select("id_a", "id_b").localCheckpoint(eager=False)
    try:
        for edges in (cached, lazy):
            out = connected_components(edges)
            assert out.select("component_id").distinct().count() == 1
        cache_mgr = spark._jsparkSession.sharedState().cacheManager()
        entry = cache_mgr.lookupCachedData(cached._jdf).get()
        cache_rdd = entry.cachedRepresentation().cacheBuilder().cachedColumnBuffers()
        assert cache_rdd.id() in stored_rdd_ids(spark)
        assert lazy.count() == 32
    finally:
        cached.unpersist()


# ---------------------------------------------------------------------------
# stratified_sample_k
# ---------------------------------------------------------------------------


def test_stratified_sample_k_exact_counts_and_determinism(spark, sf_dir):
    from data_export_tool_spark.operators.sampling import stratified_sample_k

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    k = 7
    out = stratified_sample_k(docs, "doc_id", "lang", k)
    sizes = {r["lang"]: r["n"] for r in out.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    full = {r["lang"]: r["n"] for r in docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert sizes == {lang: min(k, n) for lang, n in full.items()}
    # deterministic: same ids on re-run
    ids1 = sorted(r["doc_id"] for r in out.collect())
    ids2 = sorted(r["doc_id"] for r in stratified_sample_k(docs, "doc_id", "lang", k).collect())
    assert ids1 == ids2
    # schema preserved
    assert out.columns == docs.columns


def test_stratified_sample_k_small_stratum_keeps_all(spark):
    from data_export_tool_spark.operators.sampling import stratified_sample_k

    df = spark.createDataFrame(
        [(i, "big") for i in range(500)] + [(1000 + i, "tiny") for i in range(3)],
        "id long, s string",
    )
    out = stratified_sample_k(df, "id", "s", 10)
    got = {r["s"]: r["n"] for r in out.groupBy("s").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert got == {"big": 10, "tiny": 3}


def test_stratified_sample_k_null_stratum(spark):
    from data_export_tool_spark.operators.sampling import stratified_sample_k

    df = spark.createDataFrame(
        [(i, None if i % 2 else "a") for i in range(200)], "id long, s string"
    )
    out = stratified_sample_k(df, "id", "s", 5)
    got = {r["s"]: r["n"] for r in out.groupBy("s").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert got == {"a": 5, None: 5}


def test_stratified_sample_k_selects_by_hash_order(spark):
    """The k selected rows per stratum are exactly the k smallest
    (sample_bucket, key) — pinned against an independent computation."""
    from data_export_tool_spark.operators.sampling import (
        sample_bucket,
        stratified_sample_k,
    )

    df = spark.createDataFrame([(i, "s") for i in range(300)], "id long, s string")
    k = 11
    got = sorted(r["id"] for r in stratified_sample_k(df, "id", "s", k).collect())
    ranked = (
        df.withColumn("b", sample_bucket(F.col("id")))
        .orderBy("b", "id")
        .limit(k)
        .collect()
    )
    record_opcheck(
        "stratified_sample_k", k,
        got == sorted(r["id"] for r in ranked),
        oracle="hash-order-replay",
    )
    assert got == sorted(r["id"] for r in ranked)


def test_stratified_sample_k_no_full_corpus_window(spark, sf_dir):
    """The trim window must consume the FILTERED survivor set, not the
    base scan: in the executed plan every Window sits above a Filter
    on __b (the oversample threshold) or above the (empty-in-practice)
    rescue branch's semi-join."""
    from data_export_tool_spark.operators.sampling import stratified_sample_k

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = (
        stratified_sample_k(docs, "doc_id", "lang", 5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # both windows are present (trim + rescue), and the oversample
    # threshold filter exists on the survivor path
    assert plan.count("Window") >= 2
    assert "__t" in plan and "__b" in plan


# ---------------------------------------------------------------------------
# weighted_sample_k
# ---------------------------------------------------------------------------


def test_weighted_sample_k_deterministic_and_sized(spark):
    from data_export_tool_spark.operators.sampling import weighted_sample_k

    df = spark.createDataFrame(
        [(i, float(1 + i % 7)) for i in range(2000)], "id long, w double"
    )
    a = sorted(r["id"] for r in weighted_sample_k(df, "id", "w", 50).collect())
    b = sorted(r["id"] for r in weighted_sample_k(df, "id", "w", 50).collect())
    record_opcheck(
        "weighted_sample_k", 50, a == b and len(a) == 50,
        oracle="determinism+size-law",
    )
    assert a == b and len(a) == 50
    # zero/negative/null weights never selected
    df2 = spark.createDataFrame(
        [(1, 0.0), (2, -3.0), (3, None), (4, 5.0)], "id long, w double"
    )
    assert [r["id"] for r in weighted_sample_k(df2, "id", "w", 10).collect()] == [4]


def test_weighted_sample_k_bias(spark):
    """Statistical sanity: rows with 10x the weight must be selected
    far more often. Deterministic (hash-driven), so exact assertion on
    the realized composition rather than a flaky statistical test."""
    from data_export_tool_spark.operators.sampling import weighted_sample_k

    # 1000 heavy rows (w=10) + 1000 light rows (w=1); expect the 200-
    # row sample dominated by heavy rows (E[heavy] ~ 182 under A-ES)
    df = spark.createDataFrame(
        [(i, 10.0 if i < 1000 else 1.0) for i in range(2000)],
        "id long, w double",
    )
    got = [r["id"] for r in weighted_sample_k(df, "id", "w", 200).collect()]
    n_heavy = sum(1 for i in got if i < 1000)
    assert n_heavy > 140, n_heavy  # >3x the uniform expectation of 100... (uniform would be 100)


def test_weighted_sample_k_plans_take_ordered(spark):
    from data_export_tool_spark.operators.sampling import weighted_sample_k

    df = spark.range(1000).select(
        F.col("id"), (F.col("id") % 5 + 1).cast("double").alias("w")
    )
    plan = (
        weighted_sample_k(df, "id", "w", 10)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan  # no global sort


def test_weighted_sample_k_top_bucket_not_privileged(spark):
    """Review finding: u == 1 gave es_key = 0 (the maximum) to rows on
    the top md5 bucket, selecting them regardless of weight. A
    negligible-weight row sitting on the top bucket must lose to
    heavy rows."""
    import hashlib

    from data_export_tool_spark.operators.sampling import (
        SAMPLE_MOD,
        weighted_sample_k,
    )

    def bucket(k):
        return int(hashlib.md5(str(k).encode()).hexdigest()[8:16], 16) % SAMPLE_MOD

    top = next(i for i in range(10_000_000) if bucket(i) == SAMPLE_MOD - 1)
    rows = [(top, 1e-9)] + [(10_000_000 + j, 1000.0) for j in range(50)]
    df = spark.createDataFrame(rows, "id long, w double")
    got = {r["id"] for r in weighted_sample_k(df, "id", "w", 10).collect()}
    assert top not in got


def test_canonical_by_score_keep_best(spark):
    """Quality-aware canonical selection vs a union-find + argmax
    replay: highest score wins, ties break to min id, NULL scores
    lose, and dedup_keep_best drops exactly the non-canonical rows."""
    from data_export_tool_spark.operators.graph import (
        canonical_by_score,
        dedup_keep_best,
    )

    pair_list = [(1, 2), (2, 3), (7, 9), (20, 21)]
    scores = {1: 0.2, 2: 0.9, 3: 0.9, 7: None, 9: None, 20: 0.5, 21: 0.5,
              50: 0.1}  # 50: unclustered
    pairs = spark.createDataFrame(pair_list, ["id_a", "id_b"])
    sdf = spark.createDataFrame(
        [(k, v) for k, v in scores.items()], "doc_id long, score double"
    )
    comp = _brute_cc(pair_list)
    want = {}
    for i, root in comp.items():
        members = [x for x in comp if comp[x] == root]
        scored = [
            (-(scores[m] if scores[m] is not None else float("-inf")), m)
            for m in members
        ]
        canon = min(scored)[1]
        cscore = scores[canon]
        want[i] = (root, canon, cscore, len(members))
    got = {
        r["doc_id"]: (
            r["component_id"], r["canonical_id"], r["canonical_score"],
            r["cluster_size"],
        )
        for r in canonical_by_score(pairs, sdf).collect()
    }
    record_opcheck(
        "canonical_by_score", len(want), got == want,
        oracle="union-find+argmax replay",
    )
    assert got == want
    # {2,3} tie at 0.9 -> min id 2; {7,9} all-NULL -> min id 7, NULL score
    assert got[3] == (1, 2, 0.9, 3)
    assert got[7] == (7, 7, None, 2)

    docs = sdf  # doc table carrying the score column
    kept = sorted(
        r["doc_id"] for r in dedup_keep_best(docs, pairs).collect()
    )
    assert kept == [2, 7, 20, 50]


def test_group_split_is_group_atomic_and_matches_duckdb(spark):
    """group_split: every member of a group gets the same split, the
    assignment matches a DuckDB replay of the same md5/threshold CASE,
    and fractions are approximately honored over many groups."""
    import duckdb

    from data_export_tool_spark.operators.sampling import group_split

    df = spark.range(5000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("domain-"), (F.col("id") % 500).cast("string")).alias(
            "grp"
        ),
    )
    out = group_split(
        df, "grp", {"train": 0.8, "valid": 0.1, "test": 0.1}
    )
    rows = [(r["doc_id"], r["grp"], r["split"]) for r in out.collect()]
    by_grp: dict = {}
    for _, g, s in rows:
        by_grp.setdefault(g, set()).add(s)
    assert all(len(v) == 1 for v in by_grp.values())  # group-atomic

    want = {
        (i, g): s
        for i, g, s in duckdb.sql(
            """
            WITH t AS (
              SELECT r AS doc_id, 'domain-' || (r % 500) AS grp
              FROM range(5000) AS _(r)
            )
            SELECT doc_id, grp, CASE
              WHEN ('0x' || substring(md5(grp), 9, 8))::UBIGINT % 1000000
                   < 100000 THEN 'test'
              WHEN ('0x' || substring(md5(grp), 9, 8))::UBIGINT % 1000000
                   < 900000 THEN 'train'
              ELSE 'valid' END AS split
            FROM t
            """
        ).fetchall()
    }
    got = {(i, g): s for i, g, s in rows}
    record_opcheck("group_split", len(want), got == want)
    assert got == want
    # rough proportions over 500 groups (binomial, generous bounds)
    n_train = sum(1 for v in by_grp.values() if v == {"train"})
    assert 330 <= n_train <= 470


def test_group_split_validation_and_remainder(spark):
    from data_export_tool_spark.operators.sampling import group_split

    df = spark.createDataFrame([(1, "a")], "id long, g string")
    with pytest.raises(ValueError, match="sum"):
        group_split(df, "g", {"a": 0.9, "b": 0.2})
    with pytest.raises(ValueError, match="empty"):
        group_split(df, "g", {})
    # single split absorbs everything
    assert group_split(df, "g", {"train": 0.5}).first()["split"] == "train"


# ---------------------------------------------------------------------------
# pagerank
# ---------------------------------------------------------------------------


def _py_pagerank(edges, damping, iters):
    """Independent numpy power-iteration replay (same dangling
    completion as the operator)."""
    import numpy as np

    nodes = sorted({s for s, _ in edges} | {t for _, t in edges})
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    outd = {}
    for s, _ in edges:
        outd[s] = outd.get(s, 0) + 1
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        dm = sum(r[idx[v]] for v in nodes if v not in outd)
        c = np.zeros(n)
        for s, t in edges:
            c[idx[t]] += r[idx[s]] / outd[s]
        r = (1.0 - damping) / n + damping * (c + dm / n)
    return {v: float(r[idx[v]]) for v in nodes}


def test_pagerank_matches_numpy_replay(spark):
    from data_export_tool_spark.operators.graph import pagerank

    n = 200
    edges = []
    for i in range(n):
        if i % 17 == 0:
            continue  # dangling nodes: no out-edges
        edges.append((i, (i * 7 + 3) % n))
        edges.append((i, (i * 13 + 5) % n))
        if i % 3 == 0:
            edges.append((i, (i * 7 + 3) % n))  # parallel edge weights
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["node"]: r["rank"]
        for r in pagerank(df, tol=0.0, max_iter=12).collect()
    }
    want = _py_pagerank(edges, 0.85, 12)
    ok = set(got) == set(want) and all(
        abs(got[v] - want[v]) < 1e-9 for v in want
    )
    ok = ok and abs(sum(got.values()) - 1.0) < 1e-9
    record_opcheck(
        "pagerank", len(want), ok, oracle="python-reference",
        value=round(max(got.values()), 8),
    )
    assert ok


def test_pagerank_cycle_uniform_and_validation(spark):
    import pytest as _pytest

    from data_export_tool_spark.operators.graph import pagerank

    cyc = spark.createDataFrame(
        [(i, (i + 1) % 10) for i in range(10)], "src long, dst long"
    )
    ranks = [r["rank"] for r in pagerank(cyc, tol=1e-12).collect()]
    assert all(abs(r - 0.1) < 1e-9 for r in ranks)
    with _pytest.raises(ValueError):
        pagerank(cyc, damping=1.5)


# ---------------------------------------------------------------------------
# negative_pairs
# ---------------------------------------------------------------------------


def test_negative_pairs_matches_md5_replay(spark):
    import hashlib

    from data_export_tool_spark.operators.sampling import negative_pairs

    n, k, bucket_size = 500, 4, 32
    df = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    dup = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 100, 2)], "id_a long, id_b long"
    )
    got = {
        (r["anchor_id"], r["negative_id"], r["slot"])
        for r in negative_pairs(
            df, k=k, bucket_size=bucket_size, dup_pairs=dup
        ).collect()
    }

    def h(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    n_buckets = n // bucket_size
    buckets = {}
    for i in range(n):
        buckets.setdefault(h(str(i)) % n_buckets, []).append(i)
    blocked = set()
    for a in range(0, 100, 2):
        blocked |= {(a, a + 1), (a + 1, a)}
    want = set()
    for a in range(n):
        seen = set()
        for j in range(k):
            b = h(f"{a}#{j}") % n_buckets
            cands = [m for m in buckets.get(b, []) if m != a]
            if not cands:
                continue
            m = min(cands, key=lambda x: (h(f"{a}|{x}"), x))
            if m in seen or (a, m) in blocked:
                continue
            seen.add(m)
            want.add((a, m, j))
    # the spark dropDuplicates keeps an arbitrary slot for a repeated
    # (anchor, negative) draw — compare the pair sets and per-pair
    # slot membership
    got_pairs = {(a, m) for a, m, _ in got}
    want_pairs = {(a, m) for a, m, _ in want}
    ok = got_pairs == want_pairs and len(got_pairs) > n  # plenty drawn
    # no self pairs, no blocked pairs
    ok = ok and all(a != m for a, m in got_pairs)
    ok = ok and not (got_pairs & blocked)
    record_opcheck(
        "negative_pairs", len(want_pairs), ok, oracle="python-reference"
    )
    assert ok


def test_negative_pairs_determinism_and_validation(spark):
    import pytest as _pytest

    from data_export_tool_spark.operators.sampling import negative_pairs

    df = spark.createDataFrame([(i,) for i in range(200)], "doc_id long")
    a = {
        (r["anchor_id"], r["negative_id"])
        for r in negative_pairs(df, k=2).collect()
    }
    b = {
        (r["anchor_id"], r["negative_id"])
        for r in negative_pairs(df.repartition(7), k=2).collect()
    }
    assert a == b  # partitioning-independent
    with _pytest.raises(ValueError):
        negative_pairs(df, k=0)
    with _pytest.raises(ValueError):
        negative_pairs(df, bucket_size=1)


def test_update_components_equals_full_recompute(spark):
    """Incremental CC law: folding a delta into an existing mapping
    must equal full CC over old ∪ new — bridges that merge existing
    clusters, intra-cluster edges, brand-new clusters, and new nodes
    attaching to old clusters all covered."""
    from data_export_tool_spark.operators.graph import (
        connected_components,
        update_components,
    )

    old_edges = [
        (1, 2), (2, 3),          # comp {1,2,3}
        (10, 11),                # comp {10,11}
        (20, 21), (21, 22),      # comp {20,21,22}
        (30, 31),                # comp {30,31}  (stays untouched)
    ]
    new_edges = [
        (3, 10),                 # bridge: merges {1,2,3} with {10,11}
        (20, 22),                # intra-cluster, changes nothing
        (40, 41), (41, 42),      # brand-new cluster
        (50, 21),                # new node attaches to {20,21,22}
    ]
    o = spark.createDataFrame(old_edges, "id_a long, id_b long")
    n = spark.createDataFrame(new_edges, "id_a long, id_b long")
    base = connected_components(o)
    got = {
        (r["node"], r["component_id"])
        for r in update_components(base, n).collect()
    }
    want = {
        (r["node"], r["component_id"])
        for r in connected_components(o.unionByName(n)).collect()
    }
    ok = got == want
    # spot checks: the bridge merged to min id 1; 50 joined comp 20;
    # 30/31 passed through untouched
    m = dict(got)
    ok = ok and m[10] == 1 and m[11] == 1 and m[3] == 1
    ok = ok and m[50] == 20 and m[40] == 40 and m[30] == 30
    record_opcheck(
        "update_components", len(want), ok, oracle="python-reference"
    )
    assert ok, (sorted(got - want), sorted(want - got))


def test_temperature_mixture_rates_and_sample(spark, sf_dir):
    """Rates replay the alpha-formula over DuckDB counts exactly;
    alpha=1 is the natural mixture (uniform cap), alpha=0 equalizes
    expected masses; the realized sample matches deterministic_sample
    under the same rates row-for-row (composition is exact, not
    statistical)."""
    import duckdb

    from tests.conftest import record_opcheck
    from data_export_tool_spark.operators.sampling import (
        deterministic_sample,
        temperature_mixture_rates,
        temperature_mixture_sample,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    alpha = 0.3
    got = temperature_mixture_rates(docs, "lang", alpha=alpha)
    counts = dict(
        duckdb.sql(
            f"SELECT lang, COUNT(*) FROM read_parquet('{sf_dir}/documents.parquet')"
            " WHERE lang IS NOT NULL GROUP BY 1"
        ).fetchall()
    )
    n_min = min(counts.values())
    want = {s: (n / n_min) ** (alpha - 1.0) for s, n in counts.items()}
    ok = set(got) == set(want) and all(
        abs(got[s] - want[s]) < 1e-12 for s in want
    )
    # rarest stratum keeps cap; larger strata keep strictly less
    rare = min(counts, key=counts.get)
    ok = ok and abs(got[rare] - 1.0) < 1e-12
    ok = ok and all(got[s] <= 1.0 + 1e-12 for s in got)
    record_opcheck(
        "temperature_mixture_rates", len(got), bool(ok), oracle="duckdb"
    )
    assert ok

    # alpha=1 → every rate == cap (natural mixture)
    nat = temperature_mixture_rates(docs, "lang", alpha=1.0, cap=0.5)
    assert all(abs(r - 0.5) < 1e-12 for r in nat.values())

    # composition: the convenience wrapper == explicit two-step
    a = temperature_mixture_sample(docs, "doc_id", "lang", alpha=alpha)
    b = deterministic_sample(
        docs, "doc_id", strata_col="lang",
        rates=temperature_mixture_rates(docs, "lang", alpha=alpha),
        default_rate=0.0,
    )
    ids_a = {r["doc_id"] for r in a.select("doc_id").collect()}
    ids_b = {r["doc_id"] for r in b.select("doc_id").collect()}
    assert ids_a == ids_b and len(ids_a) > 0

    # alpha=0 pushes kept masses toward equality: spread of kept
    # counts must shrink vs the natural corpus
    eq = temperature_mixture_sample(docs, "doc_id", "lang", alpha=0.0)
    kept = {
        r["lang"]: r["n"]
        for r in eq.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    nat_spread = max(counts.values()) / min(counts.values())
    eq_spread = max(kept.values()) / max(1, min(kept.values()))
    assert eq_spread < nat_spread

    import pytest as _pytest

    with _pytest.raises(ValueError):
        temperature_mixture_rates(docs, "lang", alpha=1.5)
    with _pytest.raises(ValueError):
        temperature_mixture_rates(docs, "lang", cap=0.0)


def _py_ppr(edges, sources, d, iters):
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges} | set(sources))
    outd = {}
    for u, _ in edges:
        outd[u] = outd.get(u, 0) + 1
    share = 1.0 / len(sources)
    src_share = {n: (share if n in set(sources) else 0.0) for n in nodes}
    r = dict(src_share)
    for _ in range(iters):
        contrib = {n: 0.0 for n in nodes}
        for u, v in edges:
            contrib[v] += r[u] / outd[u]
        dm = 1.0 - sum(contrib.values())
        r = {
            n: (1 - d) * src_share[n] + d * (contrib[n] + dm * src_share[n])
            for n in nodes
        }
    return r


def test_personalized_pagerank_matches_replay(spark):
    """Exact python power-iteration replay (tol=0 fixed rounds),
    mass conservation, seed-locality law (seeds + their neighborhood
    dominate), off-graph seed teleport share, and validation."""
    import pytest as _pytest

    from data_export_tool_spark.operators.graph import personalized_pagerank

    n = 120
    edges = []
    for i in range(n):
        if i % 11 == 0:
            continue  # dangling
        edges.append((i, (i * 5 + 1) % n))
        edges.append((i, (i + 1) % n))
    df = spark.createDataFrame(edges, "src long, dst long")
    seeds = [3, 4, 5]
    got = {
        r["node"]: r["rank"]
        for r in personalized_pagerank(
            df, seeds, tol=0.0, max_iter=12
        ).collect()
    }
    want = _py_ppr(edges, seeds, 0.85, 12)
    ok = set(got) == set(want) and all(
        abs(got[v] - want[v]) < 1e-9 for v in want
    )
    assert ok
    assert abs(sum(got.values()) - 1.0) < 1e-9
    # locality: the seed set itself outranks the global mean by far
    mean = 1.0 / len(got)
    assert all(got[s] > 4 * mean for s in seeds)
    # off-graph seed still holds its teleport share
    got2 = {
        r["node"]: r["rank"]
        for r in personalized_pagerank(
            df, [99999], tol=0.0, max_iter=5
        ).collect()
    }
    assert got2[99999] > 0.14  # ~(1-d) + dangling returns, off-graph
    record_opcheck(
        "personalized_pagerank", len(want), ok, oracle="python-reference"
    )
    with _pytest.raises(ValueError):
        personalized_pagerank(df, [])
    with _pytest.raises(ValueError):
        personalized_pagerank(df, [1], damping=1.0)
