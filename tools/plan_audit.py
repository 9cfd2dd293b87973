"""Plan audit: machine-check every catalog + bench entry's physical
plan for scale anti-patterns, and record the result as an artifact.

The repo's 100 TB claims live in plan SHAPES (pushed-down scans,
bounded joins, no row-grain global sorts). Individual plan contracts
pin the critical operators in pytest; this tool sweeps EVERY entry the
bench runs and writes ``PLANAUDIT.json`` so "the plans are the
plans we want" is an auditable statement, not prose:

- ``cartesian``: CartesianProduct nodes (a bounded/broadcast cross is
  BroadcastNestedLoopJoin; a sort-merge cartesian is always a bug).
- ``bnlj``: BroadcastNestedLoopJoin nodes — legitimate ONLY for
  request-sized broadcast sides (the ANN/top-k contract); counted so
  a new unbounded one shows up as a diff against the committed
  artifact.
- ``global_window``: row-grain windows with an EMPTY partition spec
  over a non-metadata input (the single-task sort smell). Detected
  conservatively: windowspecdefinition with no partition columns.
- ``exchanges``: exchange operators (shuffle and broadcast) in the
  physical tree, subqueries included. A cached relation's stored plan
  is not a child of its scan, so it is not counted again under every
  InMemoryTableScan.

Usage: python tools/plan_audit.py [out.json] [sf_dir]
"""

from __future__ import annotations

import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def exchange_count(plan) -> int:
    """Exchange operators in a physical plan (a JVM ``SparkPlan``),
    counted once each by walking children and subqueries; an adaptive
    plan is read through its current physical plan."""
    n, stack = 0, [plan]
    while stack:
        node = stack.pop()
        if node.nodeName() == "AdaptiveSparkPlan":
            node = node.executedPlan()
        if node.nodeName() in ("Exchange", "BroadcastExchange"):
            n += 1
        for seq in (node.children(), node.subqueries()):
            stack.extend(seq.apply(i) for i in range(seq.size()))
    return n


def audit_plan(plan: str) -> dict:
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    global_windows = 0
    for spec in specs:
        head = spec.split("specifiedwindowframe")[0]
        # partition columns precede the ORDER BY entries; a spec whose
        # FIRST entry already carries ASC/DESC has no partition keys
        first = head.split(",")[0]
        if " ASC" in first or " DESC" in first:
            global_windows += 1
    return {
        "cartesian": plan.count("CartesianProduct"),
        "bnlj": plan.count("BroadcastNestedLoopJoin"),
        "global_window": global_windows,
    }


#: empty-partition windows that are BOUNDED BY CONSTRUCTION — each
#: entry names its bound so the allowlist is auditable; a NEW global
#: window in any other entry still flags.
BOUNDED_GLOBAL_WINDOWS = {
    "b01_funnel_conversion": "cumulative over the step-grain frame (≤ n_steps rows)",
    "b41_hybrid_search": "rank over the k-bounded fused result set (request-sized)",
    "b86_ab_fdr_readout": "BH running-min over the metric-grain frame (≤ n_metrics rows)",
    "b95_rank_normalize": "offset prefix-sum over the ≤num_ranges range-counts frame",
    "b147_global_weighted_quantiles": (
        "offset prefix-sum + total over the ≤num_ranges(=64) range-totals"
        " frame (sketch.weighted_quantiles global path; the value-grain"
        " window is partitioned by __rng — plan-contract-pinned in"
        " tests/test_plan_contracts.py)"
    ),
}


def main() -> int:
    out_path = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        REPO, "PLANAUDIT.json"
    )
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001"
    )
    from data_export_tool_spark.session import get_spark
    from data_export_tool_spark.queries import all_queries
    from data_export_tool_spark.queries import bench_extra, bench_mamba

    spark = get_spark("plan_audit", master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    specs = dict(all_queries())
    for spec in list(bench_extra.QUERIES) + list(bench_mamba.QUERIES):
        specs.setdefault(spec.name, spec)

    entries: dict[str, dict] = {}
    errors: dict[str, str] = {}
    for name, spec in sorted(specs.items()):
        try:
            df = spec.builder(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan()
            entries[name] = audit_plan(plan.toString())
            entries[name]["exchanges"] = exchange_count(plan)
        except Exception as e:  # record, don't abort the sweep
            errors[name] = f"{type(e).__name__}: {e}"[:300]
    flagged = {
        n: v for n, v in entries.items()
        if v["cartesian"] > 0
        or (v["global_window"] > 0 and n not in BOUNDED_GLOBAL_WINDOWS)
    }
    doc = {
        "sf_dir": sf_dir,
        "n_entries": len(entries),
        "n_errors": len(errors),
        "flagged": flagged,
        "bounded_global_windows": {
            n: why
            for n, why in sorted(BOUNDED_GLOBAL_WINDOWS.items())
            if n in entries and entries[n]["global_window"] > 0
        },
        "bnlj_entries": sorted(
            n for n, v in entries.items() if v["bnlj"] > 0
        ),
        "entries": entries,
        "errors": errors,
    }
    with open(out_path, "w") as fh:
        json.dump(doc, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(
        f"{out_path}: {len(entries)} plans audited, "
        f"{len(flagged)} flagged (cartesian/global-window), "
        f"{len(doc['bnlj_entries'])} with BNLJ, {len(errors)} errors"
    )
    for n, v in flagged.items():
        print(f"  FLAG {n}: {v}")
    return 0 if not errors else 1


if __name__ == "__main__":
    raise SystemExit(main())
