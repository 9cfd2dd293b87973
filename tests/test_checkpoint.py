"""The loop checkpoint scope shared by the iterative operators."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_export_tool_spark.operators.checkpoint import CheckpointScope
from tests.conftest import rdd_lineage_ids, stored_rdd_ids


def test_pin_resets_compounded_size_estimate_and_still_frees(spark):
    # a self-join of the previous checkpoint doubles the estimate's bit
    # length per round; past 2^256 bytes pin rebuilds the frame with
    # unknown size, and drop / keep must still find the rebuilt
    # frame's blocks
    before = stored_rdd_ids(spark)
    with CheckpointScope() as scope:
        x = scope.pin(spark.range(3).select(F.col("id").alias("k")))
        for _ in range(10):
            nxt = scope.pin(x.join(x, "k"))
            scope.drop(x)
            x = nxt
            size = x._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
            assert int(size).bit_length() <= 256
        assert len(stored_rdd_ids(spark) - before) == 1
        out = scope.keep(x.select("k"))
    left = stored_rdd_ids(spark) - before
    assert len(left) == 1 and left <= rdd_lineage_ids(out)
    assert sorted(r.k for r in out.collect()) == [0, 1, 2]
