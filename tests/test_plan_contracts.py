"""Physical-plan contracts (SURVEY.md §4 / the 100 TB design point).

Correctness tests prove the numbers; these prove the PLANS — the
properties that decide whether a query survives a 1000-executor,
100 TB run: filters reach the parquet scan, projections prune the read
schema, small dimensions broadcast, candidate generation never goes
cartesian, and the as-of join carries no retry-unsafe row ids.
Planning only — nothing executes.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from data_export_tool_spark.queries import all_queries
from data_export_tool_spark.queries.mamba_q import REPORTS as MAMBA_REPORTS

SPECS = all_queries()


def plan_of(spark, sf_dir, name: str) -> str:
    df = SPECS[name].builder(spark, sf_dir)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def executed_plan_of(spark, sf_dir, name: str) -> str:
    """Final ADAPTIVE plan: AQE decides exchange/stage reuse at runtime,
    so contracts about reuse must read the plan after an action (cheap
    at the tests' sf0.001)."""
    df = SPECS[name].builder(spark, sf_dir)
    df.collect()
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def op_counts(plan: str) -> dict[str, int]:
    """Unique physical operators by id (the formatted mode prints each
    operator twice: once in the tree, once in the detail section)."""
    ops: dict[int, str] = {}
    for m in re.finditer(r"^\((\d+)\) (\S+)", plan, re.MULTILINE):
        ops[int(m.group(1))] = m.group(2)
    out: dict[str, int] = {}
    for op in ops.values():
        out[op] = out.get(op, 0) + 1
    return out


#: entries where a BroadcastNestedLoopJoin is the DESIGNED plan — a
#: deliberately tiny side cross-joined against the other (J8's 1-row
#: aggregate combine in q07; the ~5-row query batch versus the corpus
#: in the brute-force search tiers). Everything else must plan pure
#: equi-joins; m02's counters are one aggregate, not cross-joined
#: pivots.
_BNLJ_BY_DESIGN = {
    "q07_cohort_counters",
    "v01_embedding_exact_tiers",
    "v03_embedding_ann_topk",
}


def test_whole_catalog_never_goes_cartesian(spark, sf_dir):
    """Global guard over ALL 50 catalog entries: no CartesianProduct
    anywhere, and BroadcastNestedLoopJoin only in the whitelisted
    tiny-side-by-design plans. A regression that degrades any join to
    an all-pairs product fails here before it reaches the driver."""
    simple = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "simple"
    )
    offenders = {}
    for name, spec in SPECS.items():
        plan = (
            spec.builder(spark, sf_dir)
            ._jdf.queryExecution()
            .explainString(simple)
        )
        if "CartesianProduct" in plan:
            offenders[name] = "CartesianProduct"
        elif "BroadcastNestedLoopJoin" in plan and name not in _BNLJ_BY_DESIGN:
            offenders[name] = "BroadcastNestedLoopJoin"
    assert not offenders, offenders


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    # q09's ship-window predicate must land in PushedFilters, not a
    # post-scan Filter only
    plan = plan_of(spark, sf_dir, "q09_shipments_in_window")
    assert "PushedFilters: [" in plan
    pushed = [
        l for l in plan.splitlines() if "PushedFilters" in l and "[]" not in l
    ]
    assert pushed, "no non-empty PushedFilters in q09's scan"


def test_column_pruning_in_read_schema(spark, sf_dir):
    # q01 touches 7 of lineitem's 16 columns; the scan must not read
    # the full row
    plan = plan_of(spark, sf_dir, "q01_pricing_summary")
    read = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read
    assert "l_comment" not in read[0], "scan reads unprojected columns"


def test_dimension_joins_broadcast(spark, sf_dir):
    # q16 joins region/nation dims: tiny sides must broadcast, never
    # shuffle the fact on a dim join
    plan = plan_of(spark, sf_dir, "q16_regional_sales")
    assert "BroadcastHashJoin" in plan


def test_minhash_lsh_no_cartesian(spark, sf_dir):
    # merged d03 entry: LSH candidate generation + Jaccard verify —
    # nothing in either stage may go cartesian
    plan = plan_of(spark, sf_dir, "d03_doc_near_dup_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the candidate join is an equi-join on the band key
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


def test_near_dup_default_no_collect_no_cartesian(spark, sf_dir):
    # v02's default path: banded self-equi-join; the corpus is never
    # broadcast wholesale and no all-pairs product appears
    plan = plan_of(spark, sf_dir, "v02_embedding_near_dups")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_brute_force_broadcasts_queries_not_corpus(spark, sf_dir):
    # merged v01 entry = exact tier UNION int8-dequantized tier; PER
    # TIER the tiny query batch broadcasts and the corpus is scanned
    # once — so exactly 2 broadcasts and 4 scans, and never a cartesian
    plan = plan_of(spark, sf_dir, "v01_embedding_exact_tiers")
    counts = op_counts(plan)
    assert counts.get("BroadcastExchange", 0) == 2, counts  # one per tier
    assert counts.get("Scan", 0) == 4, counts  # (queries + corpus) × 2
    assert "CartesianProduct" not in plan


def test_pii_redaction_is_scanside_projection(spark, sf_dir):
    # d14: chained regexp_replace/regexp_count is a pure per-row
    # projection — no joins, one scan, the only exchanges are fan_out
    # and the presentational sort
    plan = plan_of(spark, sf_dir, "d14_doc_pii_redaction")
    counts = op_counts(plan)
    joins = [k for k in counts if k.endswith("Join")]
    assert not joins, counts
    assert counts.get("Scan", 0) == 1, counts
    assert counts.get("Exchange", 0) <= 2, counts


def test_cohorts_entry_plans_real_anti_and_semi_joins(spark, sf_dir):
    # the merged q05 entry must still exercise the ACTUAL anti-join
    # (J6) and semi-join (J7) operators — not degrade to outer joins
    # with flags
    plan = plan_of(spark, sf_dir, "q05_customer_cohorts")
    assert "LeftAnti" in plan, "anti-join missing from cohorts plan"
    assert "LeftSemi" in plan, "semi-join missing from cohorts plan"


#: the catalog's line-list entries that read the cached wide view (the
#: HEI list assembles its own shard tables)
_WIDE_VIEW_ENTRIES = [
    name for name, report in MAMBA_REPORTS.items() if report != "PMTCT_HEI_LineList"
]

_ENCOUNTER_ID_EQ = re.compile(r"encounter_id#\d+L? = \w*encounter_id#\d+L?")

#: a FollowUp shard table, read only inside the cached wide view
_FOLLOW_UP_SHARD = re.compile(r"/mamba_flat_encounter_follow_up(_\d+)?\.parquet$")

#: Window nodes in each wide-view entry's optimized plan body: where a
#: report's window picks a row it carries on. Lookups that only lend a
#: value to that row are one aggregate per FollowUp frame instead, and
#: a counters report (m02) is one client-grain aggregate.
_WINDOW_CEILINGS = {
    "m01_tx_curr_linelist": 2,
    "m02_tx_curr_outcome": 0,
    "m03_vl_received_linelist": 2,
    "m04_cca_linelist": 2,
    "m05_tpt_linelist": 1,
    "m06_pmtct_maternal": 11,
    "m08_tx_curr_hvl": 9,
    "m09_tx_curr_ahd": 3,
    "m10_vl_eligible": 2,
    "m11_vl_eligible_new": 2,
    "m12_cca_new": 3,
}

#: Join nodes in the same plan bodies: the aggregates above are joined
#: once each, and m02 joins only mamba_dim_client.
_JOIN_CEILINGS = {
    "m01_tx_curr_linelist": 2,
    "m02_tx_curr_outcome": 1,
    "m03_vl_received_linelist": 2,
    "m04_cca_linelist": 2,
    "m05_tpt_linelist": 2,
    "m06_pmtct_maternal": 11,
    "m08_tx_curr_hvl": 14,
    "m09_tx_curr_ahd": 5,
    "m10_vl_eligible": 4,
    "m11_vl_eligible_new": 4,
    "m12_cca_new": 3,
}


def plan_nodes(plan):
    """Every node of a JVM plan tree, walked through ``children`` only.
    A cached relation is a leaf there (``InMemoryRelation`` in a
    logical plan, ``InMemoryTableScan`` in a physical one): its stored
    plan is not a child, so the walk covers the plan body alone."""
    stack = [plan]
    while stack:
        node = stack.pop()
        yield node
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))


def optimized_nodes(df):
    return plan_nodes(df._jdf.queryExecution().optimizedPlan())


def physical_nodes(df):
    """The physical plan body before execution: for an adaptive plan,
    its current (initial) physical plan."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    return plan_nodes(plan)


def inner_encounter_id_joins(df) -> list[str]:
    """Conditions of the inner equi-joins on ``encounter_id`` in the
    body of ``df``'s optimized plan."""
    return [
        node.condition().toString()
        for node in optimized_nodes(df)
        if node.nodeName() == "Join"
        and node.joinType().toString() == "Inner"
        and _ENCOUNTER_ID_EQ.search(node.condition().toString())
    ]


def follow_up_shard_reads(df) -> list[str]:
    """Paths of the FollowUp shard files the body of ``df``'s optimized
    plan scans."""
    return [
        path
        for node in optimized_nodes(df)
        if node.nodeName() == "LogicalRelation"
        and node.relation().getClass().getSimpleName() == "HadoopFsRelation"
        for path in node.relation().location().rootPaths().mkString("\n").split("\n")
        if _FOLLOW_UP_SHARD.search(path)
    ]


@pytest.mark.parametrize("name", _WIDE_VIEW_ENTRIES)
def test_linelists_read_wide_view_from_cache(spark, sf_dir, name):
    """J10 (CTE reuse) as a hard plan pin: the reference re-states its
    11-way FollowUp CTE in every report (HVL references it 12 times);
    the engine assembles the wide view once and caches it, so every
    branch of a line-list plan must read InMemoryTableScan, never
    re-join the 11 shards. Nor may a branch join the view back to
    itself on its key, ``encounter_id``: a window already carries the
    whole row it picks, so a re-join only fetches that row again. And
    a lookup that only lends a value to a client's row is an aggregate,
    not a window: ``_WINDOW_CEILINGS`` and ``_JOIN_CEILINGS`` cap each
    plan's windows and joins."""
    df = SPECS[name].builder(spark, sf_dir)
    assert any(n.nodeName() == "InMemoryTableScan" for n in physical_nodes(df))
    shards = follow_up_shard_reads(df)
    assert shards == [], f"wide view re-assembled in plan body: {shards}"
    joins = inner_encounter_id_joins(df)
    assert joins == [], f"{len(joins)} encounter_id re-joins in the plan body"
    nodes = [node.nodeName() for node in optimized_nodes(df)]
    windows, all_joins = nodes.count("Window"), nodes.count("Join")
    assert windows <= _WINDOW_CEILINGS[name], f"{windows} windows in the plan body"
    assert all_joins <= _JOIN_CEILINGS[name], f"{all_joins} joins in the plan body"


def test_linelist_dim_joins_broadcast_at_fixture_scale(spark, sf_dir):
    """The line-list dim joins carry no hint; Catalyst picks their
    strategy from its own size estimate and the session's 64 MB
    ``autoBroadcastJoinThreshold``. At fixture scale every dim side is
    under it, so the initial (pre-AQE) plan keeps its
    BroadcastHashJoins."""
    df = SPECS["m01_tx_curr_linelist"].builder(spark, sf_dir)
    # the walk stops at the cached wide view's scan: its stored plan
    # (planned when it was first cached) must not satisfy — or fail —
    # this contract
    joins = [n.nodeName() for n in physical_nodes(df) if n.nodeName().endswith("Join")]
    assert joins and set(joins) == {"BroadcastHashJoin"}, joins


def test_linelist_broadcasts_not_forced_over_threshold(spark, sf_dir):
    """The other half of Catalyst's threshold decision: when no dim
    side is under the threshold (simulated by dropping it to 1 byte —
    the 10M-patient shape of mamba_dim_client), nothing may force a
    broadcast. The initial plan falls back to shuffle joins; AQE can
    still promote small sides at runtime."""
    prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1")
    try:
        df = SPECS["m01_tx_curr_linelist"].builder(spark, sf_dir)
        # the cached wide view's stored plan (built under the default
        # threshold) legitimately contains BHJs; the walk stops at its
        # scan
        joins = [n.nodeName() for n in physical_nodes(df) if n.nodeName().endswith("Join")]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
    assert joins, "m01 plans no join"
    assert "BroadcastHashJoin" not in joins, (
        f"dim-join broadcast is forced past the session threshold: {joins}"
    )


def test_minhash_signatures_bucketed_input_no_exchange(spark, sf_dir):
    """The 100 TB dedup layout claim: a documents table bucketed by
    doc_id serves MinHash signature generation with ZERO exchanges —
    the shingle explode preserves the bucket partitioning, so the
    16-aggregate groupBy(doc_id) consumes it directly (fan_out no-ops
    at adequate partition counts and keeps the layout)."""
    from data_export_tool_spark.catalog import write_bucketed
    from data_export_tool_spark.operators.dedup import minhash_signatures

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    write_bucketed(docs, "t_docs_bkt_plan", "doc_id", num_buckets=8)
    try:
        sigs = minhash_signatures(spark.table("t_docs_bkt_plan"))
        plan = sigs._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        counts = op_counts(plan)
        assert counts.get("Exchange", 0) == 0, counts
        assert counts.get("BroadcastExchange", 0) == 0, counts
    finally:
        spark.sql("DROP TABLE IF EXISTS t_docs_bkt_plan")


def test_asof_join_bucketed_inputs_no_exchange(spark, tmp_path):
    """asof.py's scale claim: with both sides pre-bucketed on the join
    key, the whole rewrite (probe distinct → equi-join → MAX-struct agg
    → winners join-back) runs WITHOUT a single Exchange — bucket
    metadata satisfies every distribution requirement (grouping and
    join keys are supersets of the bucket key). Broadcast is disabled
    so the test can't pass by broadcasting the small test tables."""
    from data_export_tool_spark.catalog import write_bucketed
    from data_export_tool_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(k, d) for k in range(50) for d in (10, 20)], "k long, ref long"
    )
    right = spark.createDataFrame(
        [(k, t, f"p{k}-{t}") for k in range(50) for t in (5, 15, 25)],
        "k long, t long, payload string",
    )
    write_bucketed(left, "t_asof_left_bkt", "k", num_buckets=4, sort_col="k")
    write_bucketed(right, "t_asof_right_bkt", "k", num_buckets=4, sort_col="k")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = asof_join(
            spark.table("t_asof_left_bkt"),
            spark.table("t_asof_right_bkt"),
            on=["k"],
            left_time="ref",
            right_time="t",
        )
        plan = joined._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        counts = op_counts(plan)
        assert counts.get("Exchange", 0) == 0, counts
        assert counts.get("BroadcastExchange", 0) == 0, counts
        # and the answer is still right
        got = {(r.k, r.ref): r.t for r in joined.collect()}
        assert got[(7, 10)] == 5 and got[(7, 20)] == 15
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS t_asof_left_bkt")
        spark.sql("DROP TABLE IF EXISTS t_asof_right_bkt")


def test_incremental_dedup_bucketed_store_no_store_exchange(spark, sf_dir):
    """Incremental-ingest layout claim: with the fingerprint store
    persisted bucketed (and sorted) by ``fingerprint``, the daily
    ``dedup_against`` anti-join re-shuffles ONLY the new snapshot —
    the store's distinct and its side of the sort-merge anti-join are
    served by bucket metadata with zero Exchange. Broadcast is
    disabled so the test can't pass by broadcasting the small store."""
    from data_export_tool_spark.catalog import write_bucketed
    from data_export_tool_spark.operators.dedup import (
        dedup_against,
        fingerprint_store,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    store = fingerprint_store(docs.filter("doc_id % 2 = 0"))
    write_bucketed(
        store,
        "t_fp_store_bkt",
        "fingerprint",
        num_buckets=8,
        sort_col="fingerprint",
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        kept = dedup_against(docs, spark.table("t_fp_store_bkt"))
        plan = kept._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        counts = op_counts(plan)
        assert "Bucketed: true" in plan, "store scan ignored bucket layout"
        # exactly ONE exchange: the new snapshot hashing onto the
        # store's fingerprint partitioning; none on the store branch
        assert counts.get("Exchange", 0) == 1, counts
        assert counts.get("BroadcastExchange", 0) == 0, counts
        # and the anti-join semantics hold: every kept row is odd-id
        assert kept.filter("doc_id % 2 = 0").count() == 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS t_fp_store_bkt")


def test_asof_join_plan_is_retry_safe(spark, sf_dir):
    # the as-of rewrite must not rely on monotonically_increasing_id
    # (recomputed on task retry) nor a global row_number window
    plan = plan_of(spark, sf_dir, "q08_asof_last_shipment")
    assert "monotonically_increasing_id" not in plan
    assert "CartesianProduct" not in plan


def test_ivf_probe_join_broadcasts(spark, sf_dir):
    # merged v03 entry, IVF half: probes (queries x n_probe cells)
    # broadcast to the assigned corpus — the corpus itself never
    # shuffles for the probe join
    plan = plan_of(spark, sf_dir, "v03_embedding_ann_topk")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_simhash_single_aggregate_shuffle(spark, sf_dir):
    # d07: per self-join side, the signature is explode + ONE
    # map-side-combining groupBy — bounded exchange count: 2 fan_out
    # repartitions + 2 signature aggregates + band join + final distinct
    plan = plan_of(spark, sf_dir, "d07_doc_simhash_pairs")
    counts = op_counts(plan)
    n_exchanges = counts.get("Exchange", 0) + counts.get("BroadcastExchange", 0)
    assert n_exchanges <= 7, counts
    assert "CartesianProduct" not in plan


def test_running_window_single_exchange(spark, sf_dir):
    # merged q12 battery: cumulative sum + lag + row_number share ONE
    # partitioning and ordering — a single Exchange on o_custkey, a
    # single Sort feeding the Window operators (plus the
    # presentational global sort); the date/Ethiopian columns are
    # per-row projections that add no exchange
    plan = plan_of(spark, sf_dir, "q12_date_window_battery")
    counts = op_counts(plan)
    assert counts.get("Window", 0) <= 2, counts  # frame + frameless group
    # one shuffle for the window, one range-exchange for the output sort
    assert counts.get("Exchange", 0) <= 2, counts


def test_rollup_is_expand_plus_one_aggregate_pass(spark, sf_dir):
    # q18: ROLLUP plans as Expand -> hash aggregate; all grouping levels
    # in one pass over the fact, dims broadcast
    plan = plan_of(spark, sf_dir, "q18_rollup_sales")
    counts = op_counts(plan)
    assert counts.get("Expand", 0) == 1, counts
    assert "BroadcastHashJoin" in plan
    assert counts.get("Exchange", 0) <= 2, counts  # agg shuffle + sort


def test_pinned_pivot_runs_no_distinct_job(spark, sf_dir):
    # q22 pins pivot values: ONE scan of orders and no distinct-values
    # discovery pass (an unpinned pivot runs a separate collect job
    # first — invisible in this plan but it would show as work before
    # planning; the pinned plan is (status,priority) count -> pivotfirst)
    plan = plan_of(spark, sf_dir, "q22_priority_pivot")
    counts = op_counts(plan)
    assert counts.get("Scan", 0) == 1, counts
    assert counts.get("Exchange", 0) <= 3, counts
    assert "pivotfirst" in plan


def test_upsert_single_shuffle_on_merge_key(spark, sf_dir):
    # c01: union + window dedup — the merge costs ONE exchange on the
    # merge key (plus the presentational sort); no join appears at all
    plan = plan_of(spark, sf_dir, "c01_orders_upsert")
    counts = op_counts(plan)
    joins = [k for k in counts if "Join" in k]
    assert not joins, counts
    assert counts.get("Exchange", 0) <= 2, counts


def test_mixture_sample_is_scanside_filter(spark, sf_dir):
    # d09: the sampling predicate is a per-row filter directly over the
    # scan — no shuffle, no join, no window; the one Exchange allowed is
    # the presentational output sort
    plan = plan_of(spark, sf_dir, "d09_doc_mixture_sample")
    counts = op_counts(plan)
    assert counts.get("Filter", 0) >= 1, counts
    joins = [k for k in counts if "Join" in k]
    assert not joins, counts
    assert counts.get("Exchange", 0) <= 2, counts  # fan_out + output sort


def test_decontamination_broadcasts_eval_ngrams(spark, sf_dir):
    # d11: the eval-side n-gram set broadcasts (benchmarks are tiny
    # next to a 100 TB corpus); the match is a broadcast hash join —
    # never a shuffle of the exploded training n-grams against eval,
    # and never a cartesian pairing
    plan = plan_of(spark, sf_dir, "d11_doc_decontamination")
    counts = op_counts(plan)
    assert counts.get("BroadcastExchange", 0) >= 1, counts
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_doc_profile_dedup_stats_two_phase_no_window(spark, sf_dir, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_FORCE_TWO_PHASE", "1")
    # merged d01 profile: every stat (fingerprint, token/char/punct,
    # repetition folds) is a per-row projection; dup_count/keep_id come
    # from a TWO-PHASE aggregate + join-back, NEVER a
    # Window.partitionBy(fingerprint) — a window shuffle cannot
    # partial-aggregate, so a real corpus's mega-duplicate cluster
    # (boilerplate duplicated 10⁷×) would serialize onto one task; the
    # groupBy's map-side combine absorbs the hot key and the join-back
    # is AQE-skew-splittable. Column pruning keeps the stats branch to
    # (doc_id, fingerprint) — the heavy folds run once.
    plan = plan_of(spark, sf_dir, "d01_doc_profile")
    counts = op_counts(plan)
    assert counts.get("Window", 0) == 0, counts
    # the decision aggregate map-side-combines (partial_min/partial_count)
    assert "partial_min" in plan and "partial_count" in plan, counts
    joins = [k for k in counts if k.endswith("Join")]
    assert joins and all(
        j in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")
        for j in joins
    ), counts
    assert counts.get("Scan", 0) == 2, counts  # payload + pruned stats branch
    assert "CartesianProduct" not in plan


def test_quant_error_is_shuffle_free(spark, sf_dir):
    # v05: quantization error is a pure per-row projection — the only
    # exchange permitted is the presentational output sort
    plan = plan_of(spark, sf_dir, "v05_embedding_quant_error")
    counts = op_counts(plan)
    joins = [k for k in counts if "Join" in k]
    assert not joins, counts
    assert counts.get("Exchange", 0) <= 1, counts  # output sort only


# (the v06 quantized-top-k contract is folded into
# test_brute_force_broadcasts_queries_not_corpus — the merged v01
# entry pins both tiers' plans at once)


def test_curation_pipeline_two_scans_linear(spark, sf_dir, monkeypatch):
    # pin the SCALE shape: packing degrades to one window on tiny local
    # input (output-identical), but the contract is about 100 TB plans
    monkeypatch.setenv("SPARK_GRAFT_FORCE_TWO_PHASE", "1")
    # d13 composes five curation stages into one plan: the corpus is
    # scanned ONCE for the payload path (plus the pruned keepers
    # branch and the holdout slice), the eval n-grams broadcast, and
    # the data shuffles are fan_out, the contamination count, the eval
    # distinct, the (stratum,range) shard window, the metadata-sized
    # offsets window, and the output sort. The dedup decision is the
    # two-phase keepers aggregate (map-side partial_min — NO
    # fingerprint window: windows can't partial-aggregate, so a hot
    # duplicate cluster would serialize onto one task) joined back by
    # broadcast — joins are broadcast-only, no cartesian, no
    # single-partition data shuffle
    plan = plan_of(spark, sf_dir, "d13_curation_pipeline")
    counts = op_counts(plan)
    # the repetition verdict must be evaluated in the (parallel,
    # post-exchange) Project, never substituted into a Filter
    # condition — if the pin_above_exchange barrier is ever optimized
    # away again, the fold reappears in a scan-side "Condition :" and
    # runs serially on the single-file scan (the 12s d13 regression)
    for line in plan.splitlines():
        if line.startswith("Condition"):
            assert "array_sort(transform(sequence" not in line, line[:200]
    # within-range shard window prints on two branches of the static
    # tree (shared exchange, deduped at runtime — reuse assert below)
    # + the offsets window; the dedup window is GONE
    assert counts.get("Window", 0) == 3, counts
    assert "partial_min" in plan, "keepers aggregate lost its map-side combine"
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SinglePartition" not in plan
    joins = sorted(set(k for k in counts if k.endswith("Join")))
    assert joins == ["BroadcastHashJoin"], counts
    # the static plan duplicates the shared shard-window exchange (and
    # with it the corpus scan) on the join/totals branches; the
    # executed ADAPTIVE plan reuses the shuffle, so the corpus is read
    # once for the pipeline + once for the holdout slice
    final = executed_plan_of(spark, sf_dir, "d13_curation_pipeline")
    assert "ReusedExchange" in final or "ReusedQueryStage" in final or (
        "StageReuse" in final
    ), final[:2000]


def test_token_shards_two_phase_no_single_partition(spark, sf_dir, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_FORCE_TWO_PHASE", "1")
    # d10: two-phase prefix-sum packing (r2 scale fix). Contracts:
    # (1) NO single-partition Exchange or global Sort anywhere — the
    #     old form serialized each stratum (or everything) onto one
    #     task; the data shuffle is keyed on (stratum, range), and
    #     even the metadata-sized offsets window partitions by stratum;
    # (2) the per-range totals reuse phase 1's shuffle (ReusedExchange)
    #     instead of recomputing the packing input;
    # (3) offsets come back via broadcast join — the corpus-side rows
    #     never shuffle again.
    plan = plan_of(spark, sf_dir, "d10_doc_token_shards")
    counts = op_counts(plan)
    assert "SinglePartition" not in plan, "single-partition exchange in packed plan"
    joins = [k for k in counts if k.endswith("Join")]
    assert joins == ["BroadcastHashJoin"], counts
    # within-range window (printed on both the join and totals branches
    # — the exchange beneath it is shared, see the reuse assert below)
    # + the metadata-sized offsets window
    assert counts.get("Window", 0) == 3, counts
    # static plan duplicates the shared (stratum,range) exchange on the
    # join and totals branches; the executed ADAPTIVE plan must reuse it
    final = executed_plan_of(spark, sf_dir, "d10_doc_token_shards")
    assert "ReusedExchange" in final or "ReusedQueryStage" in final or (
        "StageReuse" in final
    ), final[:2000]


def test_snapshot_diff_bucketed_snapshots_no_exchange(spark):
    """snapshot_diff's scale claim: on snapshots both bucketed by the
    diff keys, the full-outer join plans with ZERO Exchange — bucket
    metadata satisfies the join's distribution requirement on both
    sides. Broadcast disabled so small test tables can't cheat."""
    from data_export_tool_spark.catalog import write_bucketed
    from data_export_tool_spark.operators.upsert import snapshot_diff

    old = spark.createDataFrame(
        [(k, f"v{k}") for k in range(100)], "k long, v string"
    )
    new = spark.createDataFrame(
        [(k, f"v{k + (k % 13 == 0)}") for k in range(2, 102)], "k long, v string"
    )
    write_bucketed(old, "t_snap_old_bkt", "k", num_buckets=4, sort_col="k")
    write_bucketed(new, "t_snap_new_bkt", "k", num_buckets=4, sort_col="k")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        diff = snapshot_diff(
            spark.table("t_snap_old_bkt"), spark.table("t_snap_new_bkt"), ["k"]
        )
        plan = diff._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        counts = op_counts(plan)
        assert counts.get("Exchange", 0) == 0, counts
        assert counts.get("BroadcastExchange", 0) == 0, counts
        got = {r["k"]: r["change_type"] for r in diff.collect()}
        assert got[0] == "delete" and got[101] == "insert" and got[13] == "update"
        assert 3 not in got  # unchanged
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS t_snap_old_bkt")
        spark.sql("DROP TABLE IF EXISTS t_snap_new_bkt")


def test_near_dup_edges_plan_no_cartesian_broadcast_stats(spark, sf_dir):
    """The star-edge spanning stage: candidate generation stays an
    equi-join (no cartesian / nested-loop anywhere), the bucket stats
    and hub-vector sides broadcast (zero extra vector-side shuffle for
    the routing), and the hub-verify join is a plain hash join on the
    id scalar."""
    from data_export_tool_spark.catalog import Catalog
    from data_export_tool_spark.operators.similarity import (
        embedding_near_dup_edges,
    )

    emb = Catalog(spark, sf_dir).load("embeddings")
    df = embedding_near_dup_edges(emb, threshold=0.9, dim=64)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert "BroadcastExchange" in plan  # stats + hub vectors


def test_group_split_is_scan_level(spark, sf_dir):
    """Split assignment must be a pure scan-side projection: no
    Exchange, no aggregate, no count job — md5 + CASE per row."""
    from data_export_tool_spark.catalog import Catalog
    from data_export_tool_spark.operators.sampling import group_split

    docs = Catalog(spark, sf_dir).load("documents")
    out = group_split(
        docs, "source", {"train": 0.9, "valid": 0.05, "test": 0.05}
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Aggregate" not in plan


def test_canonical_by_score_aggregates_not_windows(spark):
    """Keep-best selection must be the partial-aggregable min_by form:
    no per-component row_number window over the full membership (the
    mega-cluster killer); the only windows allowed are the CC
    composition's own cluster-size count."""
    from data_export_tool_spark.operators.graph import canonical_by_score

    pairs = spark.createDataFrame([(1, 2), (2, 3)], ["id_a", "id_b"])
    scores = spark.createDataFrame(
        [(1, 0.5), (2, 0.7), (3, 0.2)], "doc_id long, score double"
    )
    plan = (
        canonical_by_score(pairs, scores)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "min_by" in plan or "minBy" in plan.lower()
    assert "row_number" not in plan


def test_near_dedup_against_no_cartesian_no_text_join(spark, sf_dir):
    """The incremental near-dup tier must candidate-join on band keys
    (never a cartesian) and never put document TEXT through a join —
    only band keys, 64-bit shingle hashes, and ids shuffle."""
    from data_export_tool_spark.catalog import Catalog
    from data_export_tool_spark.operators.dedup import (
        near_dedup_against,
        near_dup_store,
    )

    docs = Catalog(spark, sf_dir).load("documents")
    bands_t, sh_t = near_dup_store(docs.where(F.col("doc_id") % 3 == 0))
    plan = (
        near_dedup_against(docs, bands_t, sh_t)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    # no join keyed on the text column: every join key is band_key /
    # sh64 / id
    import re as _re

    for m in _re.finditer(r"(?:SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)\s*\[([^\]]*)\]", plan):
        assert "text" not in m.group(1), m.group(0)[:120]


def test_drift_histogram_single_scan_no_window(spark, sf_dir):
    """The drift monitor's histogram pass must be ONE scan folding to
    a single-row aggregate — no window, no join, no second read."""
    from data_export_tool_spark.operators.drift import _bucket_exprs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    aggs, _ = _bucket_exprs(
        {"n_chars": [100.0, 1000.0, 5000.0]}, {"lang": ["en", "es"]}
    )
    plan = docs.agg(*aggs)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1, plan
    assert "Window" not in plan and "Join" not in plan, plan
    assert "HashAggregate" in plan, plan


def test_negative_pairs_no_cartesian(spark, sf_dir):
    from data_export_tool_spark.operators.sampling import negative_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = (
        negative_pairs(docs, k=4)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_unigram_scores_two_scans_one_score_join(spark, sf_dir):
    """Vocab fit + scoring join: exactly the two raw-text scans the
    design promises (one for the vocab, one for the words), and the
    score side joins the Heaps-bounded vocab — never a window."""
    from data_export_tool_spark.operators.quality import (
        unigram_logprob_scores,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = (
        unigram_logprob_scores(docs)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Scan parquet") <= 3, plan  # vocab + words + id spine
    assert "Window" not in plan, plan


def test_update_components_store_never_shuffled_for_delta(spark):
    """Incremental-CC maintenance claim (VERDICT r7 #8): folding a
    tiny edge delta into a LARGE persisted component mapping must
    never hash-exchange the store for the delta joins — the touched /
    semi / anti probes broadcast the delta-derived side and STREAM the
    store in place, so the only shuffles operate on the affected
    subgraph (delta-sized star edges inside the pointer-jumping CC).
    The store is sized ABOVE the broadcast threshold so the contract
    cannot pass by broadcasting the store itself; the final adaptive
    plan is read after the action (AQE decides broadcast at runtime)."""
    from data_export_tool_spark.operators.graph import update_components

    store = spark.range(2_000_000).select(
        F.col("id").alias("node"),
        (F.col("id") - F.col("id") % 4).alias("component_id"),
    )
    delta = spark.createDataFrame(
        [(0, 5), (8, 9), (3_000_001, 3_000_002)], "id_a long, id_b long"
    )
    out = update_components(store, delta)
    assert out.count() == 2_000_000 + 2
    plan = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    counts = op_counts(plan)
    # the store's joins broadcast the delta side: a SortMergeJoin or
    # ShuffledHashJoin anywhere means a store-sized exchange happened
    assert counts.get("SortMergeJoin", 0) == 0, counts
    assert counts.get("ShuffledHashJoin", 0) == 0, counts
    assert counts.get("CartesianProduct", 0) == 0, counts
    assert counts.get("BroadcastHashJoin", 0) >= 3, counts


def test_interpolate_linear_no_unbounded_following_frame(spark):
    """b142 hot-path pin (VERDICT r8 #8): the "next observed" lookup
    must be a running frame over the REVERSED ordering, never a
    (0, unboundedFollowing) frame — Spark's
    UnboundedFollowingWindowFunctionFrame re-evaluates the aggregate
    from scratch per row, O(rows²) per key (measured 310s → 19s at
    sf0.1 when the frame was reversed)."""
    from data_export_tool_spark.operators.timeseries import (
        interpolate_linear,
    )

    df = spark.createDataFrame(
        [(1, 0, 10.0), (1, 1, None), (1, 2, 20.0)],
        "k int, t int, v double",
    )
    out = interpolate_linear(df, ["v"], keys=["k"], order_col="t")
    plan = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "unboundedfollowing" not in plan.lower(), plan


def test_quantile_normalize_no_builtin_percentile_lattice(spark):
    """b111 hot-path pin (VERDICT r8 #8): the exact pooled reference
    lattice must be built relationally (two-phase value-grain rank +
    interpolation algebra), never via the builtin multi-probability
    ``percentile(col, array(...))`` aggregate — that aggregate walks
    its value buffer once PER probability, O(distinct·grid)
    (measured 71s → 8s at sf0.1 when replaced)."""
    from data_export_tool_spark.operators.features import (
        quantile_normalize,
    )

    df = spark.createDataFrame(
        [(g, float(v)) for g in (1, 2) for v in range(50)],
        "g int, x double",
    )
    out = quantile_normalize(df, "x", "g", grid=100)
    plan = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "percentile(" not in plan.lower(), plan


def test_global_weighted_quantiles_no_keyless_window(spark):
    """ADVICE r8 pin: weighted_quantiles(by=()) must range-split the
    value domain (per-range running sums + a <=num_ranges metadata
    window) — a keyless Window.partitionBy() would funnel the whole
    value-grain frame through ONE partition. The contract: every
    windowspecdefinition in the plan carries partition columns."""
    import re as _re

    from data_export_tool_spark.operators.sketch import weighted_quantiles

    df = spark.createDataFrame(
        [(float(v % 97), 1.0 + v % 3) for v in range(500)],
        "v double, w double",
    )
    out = weighted_quantiles(df, "v", "w", [0.5, 0.9])
    plan = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    # In 'formatted' mode each window spec prints in the detail section
    # as windowspecdefinition(<partition cols,> <order col ASC|DESC>,
    # specifiedwindowframe...). A keyless spec starts directly with the
    # ordered column, a partitioned one lists partition columns (no
    # ASC/DESC) first. The contract: every window over the VALUE grain
    # (orders __v) must carry a partition column; the <=num_ranges
    # metadata window (orders __rng itself) may stay keyless.
    assert "__rng" in plan, plan
    value_specs = [
        m.group(1)
        for m in _re.finditer(
            r"windowspecdefinition\((.*?)specifiedwindowframe", plan
        )
        if "__v#" in m.group(1)
    ]
    assert value_specs, plan
    for spec in value_specs:
        assert not _re.match(r"\s*\S+ (ASC|DESC)", spec), (
            f"value-grain window is keyless: {spec}"
        )
