"""Capture one bench/catalog entry's ``explain("formatted")`` plan to a
file — before/after plan-diff evidence for an optimization.

Usage: python tools/capture_plan.py <entry_name> <out.txt> [sf_dir]

Iterative/eager operators (graph loops, checkpoint-backed shapes) only
show their checkpoint-tail plan here; for those the round doc records
driver action counts instead (the r10 convention).
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    name, out_path = sys.argv[1], sys.argv[2]
    sf_dir = sys.argv[3] if len(sys.argv) > 3 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    from data_export_tool_spark.queries import all_queries, bench_extra, bench_mamba
    from data_export_tool_spark.session import get_spark

    specs = dict(all_queries())
    for spec in list(bench_extra.QUERIES) + list(bench_mamba.QUERIES):
        specs[spec.name] = spec
    spark = get_spark("capture_plan")
    spark.sparkContext.setLogLevel("ERROR")
    df = specs[name].builder(spark, sf_dir)
    text = spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    with open(out_path, "w") as fh:
        fh.write(text)
    print(f"{name}: {len(text)} chars -> {out_path}")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
