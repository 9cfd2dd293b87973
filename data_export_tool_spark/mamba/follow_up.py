"""Follow-up wide-view assembly.

One *logical* follow-up encounter is physically sharded across 11
tables; every reference query opens by reassembling them with an
11-way LEFT JOIN on ``encounter_id``
(/root/reference/sql_queries/Tx_Curr_LineList.sql:29-47 — the
identical CTE appears in all 9 Tx_Curr/Maternal queries).

Engine design (SURVEY.md §4): assemble the wide view ONCE per session
and cache it — the reference re-states the CTE per query and MySQL may
re-materialize it up to 12× within one query (HVL references FollowUp
12 times). Caching turns every downstream reference into a memory
scan.

Scale notes: the shard join is 11 sort-merge joins on the same key —
at 100 TB the shards would be written bucketed by ``encounter_id``
(catalog.write_bucketed) making the assembly shuffle-free; better
still, materialize the wide table once at ingest (it's what MambaETL
should have produced) and all 68 windows re-shuffle only on
``client_id``.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import DataFrame

from data_export_tool_spark.mamba.schemas import NUM_SHARDS


def assemble_follow_up(tables: Mapping[str, DataFrame]) -> DataFrame:
    """11-way LEFT JOIN of the follow-up shards into the wide logical
    encounter table. ``tables`` maps mamba table names to DataFrames.
    Returns the uncached plan; a caller that reuses it caches it."""
    wide = tables["mamba_flat_encounter_follow_up"]
    for i in range(1, NUM_SHARDS):
        shard = tables[f"mamba_flat_encounter_follow_up_{i}"]
        wide = wide.join(shard, on="encounter_id", how="left")
    return wide
