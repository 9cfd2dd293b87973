"""Run the reference's 12 report queries through Spark SQL.

This is the transpile path (SURVEY.md §2a S2): load the user's query
file → dialect shim → ``spark.sql`` over the registered ``mamba_*``
views. Catalyst is the optimizer/executor; the shim is text-level
only. Per-query structural patches collect every rewrite a query
needs beyond the generic dialect shim — each is semantics-preserving
and documented against the reference lines it touches.

The reference SQL itself is not stored in this repo; the engine runs
whatever query files the user's ``export_config.json`` names
(plans.registry). ``REFERENCE_SQL_DIR`` defaults to the read-only
reference checkout for parity testing.
"""

from __future__ import annotations

import os
import re

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession

from data_export_tool_spark.plans.dialect import shim_mysql_to_spark

REFERENCE_SQL_DIR = os.environ.get(
    "SPARK_GRAFT_REFERENCE_SQL_DIR", "/root/reference/sql_queries"
)

#: temp-view name the cached 11-way FollowUp wide view registers under
FOLLOW_UP_WIDE_VIEW = "__followup_wide"

#: the canonical shard-assembly block every report's FollowUp CTE
#: opens with (Tx_Curr_HVL_LineList.sql:41-63 and siblings): the base
#: follow_up table LEFT-JOINed to its column shards on encounter_id.
#: Shard count varies per report (9-10 of the 10 shards).
_ASSEMBLY_RE = re.compile(
    r"FROM\s+mamba_flat_encounter_follow_up\s+(?:AS\s+)?follow_up\b"
    r"(?:\s+LEFT\s+JOIN\s+mamba_flat_encounter_follow_up_\d+\s+"
    r"(?:AS\s+)?follow_up_\d+\s+"
    r"ON\s+[A-Za-z_0-9]+\.encounter_id\s*=\s*[A-Za-z_0-9]+\.encounter_id)+",
    re.IGNORECASE,
)


def rewrite_follow_up_assembly(
    sql: str, view: str = FOLLOW_UP_WIDE_VIEW
) -> str:
    """Point a report's FollowUp-CTE shard assembly at the cached wide
    view (J10 for the TRANSPILE path — the native path already
    assembles once, mamba/follow_up.py).

    Why it matters at scale: HVL references its FollowUp CTE 12 times
    and Catalyst inlines each reference, so one report plan carries up
    to 12 × 10 shard joins; at a 100k-patient warehouse every 5-8 MB
    shard cleared the broadcast threshold and the plan held ~130
    build-side hash maps at once — the single-JVM e2e run needed a 24g
    heap (VERDICT r9 weak-#1 evidence). Scanning the one cached wide
    relation instead makes every CTE reference an InMemoryTableScan.

    Semantics-preserving: the shards are 1:1 on ``encounter_id``
    (their primary key) and share no other column name, so the wide
    view's column space resolves exactly like the original join's.
    Remaining ``follow_up_<n>.`` qualifiers (Tx_Curr_LineList.sql
    qualifies regimen/weight/pregnancy_status) are re-pointed at the
    wide alias. No-op when the SQL has no assembly block.
    """
    from data_export_tool_spark.mamba.schemas import NUM_SHARDS

    # refuse the whole rewrite if ANY assembly block joins a shard the
    # wide view doesn't carry (a warehouse with extra shards): the
    # follow_up_<n>. qualifier re-pointing below is global, so a
    # partial rewrite would corrupt the surviving join's conditions
    for m in _ASSEMBLY_RE.finditer(sql):
        shard_ids = re.findall(
            r"mamba_flat_encounter_follow_up_(\d+)", m.group(0)
        )
        if any(int(i) >= NUM_SHARDS for i in shard_ids):
            return sql

    out, n = _ASSEMBLY_RE.subn(f"FROM {view} follow_up", sql)
    if n:
        out = re.sub(r"\bfollow_up_\d+\s*\.", "follow_up.", out)
    return out


def ensure_follow_up_wide(session: SparkSession) -> DataFrame | None:
    """Assemble, cache, and register the FollowUp wide view on
    ``session`` from its registered shard views. Returns the cached
    DataFrame or None when the session doesn't expose the full shard
    set, or a shard view lacks the ``encounter_id`` join key — the
    caller then leaves report SQL unrewritten.

    Sub-sessions of one SparkContext share the cache manager, so
    repeated calls (one per parity sub-session) re-use a single
    InMemoryRelation as long as the underlying views read the same
    source. A plan already cached by someone else is read from that
    cache and not cached again: the returned frame's ``is_cached`` is
    then False, and only a frame with ``is_cached`` set is the
    caller's to ``unpersist()``.
    """
    from data_export_tool_spark.mamba.follow_up import assemble_follow_up
    from data_export_tool_spark.mamba.schemas import NUM_SHARDS

    names = ["mamba_flat_encounter_follow_up"] + [
        f"mamba_flat_encounter_follow_up_{i}" for i in range(1, NUM_SHARDS)
    ]
    if not all(session.catalog.tableExists(n) for n in names):
        return None
    shards = {n: session.table(n) for n in names}
    if not all("encounter_id" in df.columns for df in shards.values()):
        return None
    wide = assemble_follow_up(shards)
    wide.createOrReplaceTempView(FOLLOW_UP_WIDE_VIEW)
    return wide.cache() if wide.storageLevel == StorageLevel.NONE else wide


def locate_ti_flag_table(session: SparkSession) -> str | None:
    """Find which follow-up shard table on ``session`` carries the
    transferred-in flag. Tables the session does not have are skipped;
    any other failure to read one raises, since a shard that cannot be
    read may be the one carrying the flag. Returns None when no
    registered shard has it — the caller then falls back to the
    fixture layout's assignment."""
    candidates = ["mamba_flat_encounter_follow_up"] + [
        f"mamba_flat_encounter_follow_up_{i}" for i in range(1, 13)
    ]
    for t in candidates:
        if session.catalog.tableExists(t) and (
            "transferred_in_check_this_for_all_t" in session.table(t).columns
        ):
            return t
    return None


def _ti_status_patches(flag_table: str | None = None) -> list[tuple[str, str]]:
    """U2 reconstruction (SURVEY.md §2i): ``fn_get_ti_status(client,
    start, end)`` is a MambaETL stored function whose body isn't in the
    reference repo. Reconstructed from its call contract and the
    transferred-in flag the warehouse carries
    (``transferred_in_check_this_for_all_t``): a client is 'TI' when
    any follow-up in the report window carries the flag = 'Yes', else
    'NTI'. Pinned by fixture tests; applied identically to Spark and
    the DuckDB oracle so parity checks stay meaningful.

    Implemented by patching a ``ti_clients`` CTE + LEFT JOIN into the
    query (a per-row correlated stored-function call would be the slow
    path on both engines anyway — SURVEY.md J9/U2 prescribe
    de-correlation).
    """
    if flag_table is None:
        # default: the SYNTHETIC fixture layout's shard assignment.
        # Real MambaETL warehouses place columns differently —
        # sql_report probes the live catalog via
        # locate_ti_flag_table and passes the actual table in.
        from data_export_tool_spark.mamba.schemas import (
            follow_up_shard_assignment,
        )

        shard = follow_up_shard_assignment()[
            "transferred_in_check_this_for_all_t"
        ]
        flag_table = "mamba_flat_encounter_follow_up" + (
            "" if shard == 0 else f"_{shard}"
        )
    ti_cte = (
        "ti_clients AS (SELECT DISTINCT f0.client_id "
        f"FROM mamba_flat_encounter_follow_up f0 JOIN {flag_table} fk "
        "ON f0.encounter_id = fk.encounter_id "
        "WHERE fk.transferred_in_check_this_for_all_t = 'Yes' "
        "AND f0.follow_up_date_followup_ BETWEEN "
        "DATE_ADD(REPORT_START_DATE, INTERVAL -1 DAY) AND REPORT_END_DATE), "
    )
    return [
        # inject the CTE ahead of temp_latest
        (r"\btemp_latest\s+AS\s+\(", ti_cte + "temp_latest AS ("),
        # replace both correlated calls with the join-backed flag (the
        # call's args contain a nested date_add(...) — allow one level
        # of paren nesting)
        (
            r"fn_get_ti_status\s*\((?:[^()]|\([^()]*\))*\)",
            "(CASE WHEN ti_clients.client_id IS NOT NULL THEN 'TI' ELSE 'NTI' END)",
        ),
        # attach the join everywhere the call sites' FROM clauses live
        # (site 1 uses `AS previous` on one line, site 2 bare alias
        # across a line break — Tx_Curr_OutComeList.sql:140,183-184)
        (
            r"(LEFT\s+JOIN\s+previous_follow_up\s+(?:AS\s+)?previous\s+ON\s+"
            r"latest\.client_id\s*=\s*previous\.client_id)",
            r"\1 LEFT JOIN ti_clients ON ti_clients.client_id = latest.client_id",
        ),
    ]


#: per-query structural patches (regex, replacement), applied to BOTH
#: the Spark and the DuckDB-oracle targets. Each entry documents the
#: reference site and why the rewrite preserves semantics.
QUERY_PATCHES: dict[str, list[tuple[str, str]]] = {
    # A5 (SURVEY.md §2d): loose `GROUP BY client_id, encounter_id` under
    # a SELECT with non-grouped columns — valid only with MySQL's
    # ONLY_FULL_GROUP_BY off, and a no-op because (client_id,
    # encounter_id) is already the relation's grain. Spark and DuckDB
    # both reject it; dropping it is semantics-preserving.
    "Tx_Curr_VLTestReceived_LineList": [
        (r"GROUP\s+BY\s+client_id\s*,\s*encounter_id", ""),
    ],
    # Mixed INT/VARCHAR CASE branches (Tx_Curr_TPT_LineList.sql:141-148):
    # MySQL coerces the result to VARCHAR ('0','1','2'); quoting the
    # integer branches states that type explicitly for engines that
    # refuse the implicit mix.
    "Tx_Curr_TPT_LineList": [
        (r"(TptType\s*=\s*'6H'\s*THEN\s*)0", r"\1'0'"),
        (r"(TptType\s*=\s*'3HP'\s*THEN\s*)2", r"\1'2'"),
        (r"(TptType\s*=\s*'Continuous'\s*THEN\s*)1", r"\1'1'"),
        (r"(TptTypeAlt\s*=\s*'3HP'\s*THEN\s*)0", r"\1'0'"),
        (r"(TptTypeAlt\s*=\s*'3HR'\s*THEN\s*)1", r"\1'1'"),
    ],
    "Tx_Curr_OutComeList": _ti_status_patches(),
    # Nondeterministic windows (SURVEY.md §4.8): rn_latest_vl_sent /
    # rn_latest_vl_res order only by a NULL-heavy CASE key
    # (PMTCT_Maternal_LineList.sql:113-127) — every out-of-episode row
    # ties, and MySQL returns an arbitrary one. The engine pins the
    # reference's own tie-break convention (encounter_id DESC, used by
    # its sibling windows) on both execution targets.
    "PMTCT_Maternal_LineList": [
        (
            r"(ELSE\s+NULL\s+END\s+DESC\s*)\)( as rn_latest_vl_sent)",
            r"\1, f.encounter_id DESC)\2",
        ),
        (
            r"(ELSE\s+NULL\s+END\s+DESC\s*)\)( as rn_latest_vl_res)",
            r"\1, f.encounter_id DESC)\2",
        ),
    ],
    # Tie-break-free windows (SURVEY.md §4.8, caught by the multi-seed
    # parity fuzz at seed 2004): CPT_Start orders by followup date ASC
    # and FinalOutcome by outcome date DESC with NO encounter
    # tie-break, so same-day rows pick arbitrarily in MySQL. Pinned to
    # the sibling windows' encounter_id convention on both targets
    # (the engine's DataFrame builder pins the same).
    "PMTCT_HEI_LineList": [
        (
            r"(ORDER\s+BY\s+f\.followup_date_followup\s+ASC)(\s*\)\s*as\s+rn\b)",
            r"\1, f.encounter_id ASC\2",
        ),
        (
            r"(ORDER\s+BY\s+date_when_final_outcome_was_known\s+DESC)(\s*\)\s*as\s+row_num\b)",
            r"\1, encounter_id DESC\2",
        ),
    ],
    # Sentinel '' as a date-typed CASE result (SURVEY.md §4.5,
    # Tx_Curr_VLEligible_LineList.sql:234): MySQL's loose typing lets a
    # date column carry ''; the engine's documented policy maps the
    # sentinel to NULL (the column is output-only in this query).
    "Tx_Curr_VLEligible_LineList": [
        (r"Else\s+''\s+End(\s+AS\s+eligiblityDate)", r"Else NULL End\1"),
    ],
}


def load_reference_sql(name: str, sql_dir: str | None = None) -> str:
    path = os.path.join(sql_dir or REFERENCE_SQL_DIR, f"{name}.sql")
    with open(path) as f:
        return f.read()


def mysql_compat_session(
    spark: SparkSession, parquet_views: dict[str, str]
) -> SparkSession:
    """A dedicated sub-session running in MySQL-compat mode (ANSI off:
    lenient casts — malformed numerics → NULL, not error) so compat
    semantics can't leak into other queries sharing the parent session.

    Temp views are session-scoped, so the warehouse tables are
    registered on the sub-session: ``parquet_views`` maps view name
    → parquet path (what ``write_fixture_parquet`` returns). Sub-
    sessions share the SparkContext and cached data — creating one is
    cheap.
    """
    s = spark.newSession()
    s.conf.set("spark.sql.ansi.enabled", "false")
    for name, path in parquet_views.items():
        s.read.parquet(path).createOrReplaceTempView(name)
    return s


def run_reference_report(
    spark: SparkSession,
    name: str,
    params: dict[str, str],
    parquet_views: dict[str, str],
    sql_dir: str | None = None,
) -> DataFrame:
    """Shim + execute one reference report over the warehouse tables
    ``parquet_views`` (view name → parquet path). The report runs on
    an isolated ``mysql_compat_session``; the caller's session conf is
    untouched.
    """
    session = mysql_compat_session(spark, parquet_views)
    wide = ensure_follow_up_wide(session) is not None
    return sql_report(session, name, load_reference_sql(name, sql_dir), params, wide)


def sql_report(
    session: SparkSession, name: str, sql: str, params: dict[str, str], wide: bool
) -> DataFrame:
    """One report's MySQL text through the full shim on ``session``.

    With ``wide`` its FollowUp shard assembly reads the cached wide
    view (J10, see ``rewrite_follow_up_assembly``). The report's
    ``QUERY_PATCHES`` apply, except that Tx_Curr_OutComeList's TI
    patches join the shard that carries the transferred-in flag on
    ``session``: the flag's shard placement varies per warehouse, so
    the fixture layout's shard is used only when no registered shard
    has the column.
    """
    if wide:
        sql = rewrite_follow_up_assembly(sql)
    patches = QUERY_PATCHES.get(name)
    if name == "Tx_Curr_OutComeList":
        located = locate_ti_flag_table(session)
        if located is not None:
            patches = _ti_status_patches(flag_table=located)
    return session.sql(shim_mysql_to_spark(sql, params, patches))
