"""Parameterized report registry + export runner.

Mirrors the reference's lifecycle (SURVEY.md §3): resolve the report
window from an Ethiopian month/year, run each registered query, append
the facility-identity columns, write one CSV per query, package with a
checksum. The config shape is compatible with the reference's
``export_config.json`` (``queries_path`` name → SQL file; the engine
additionally accepts registered DataFrame builders).

Execution is Catalyst end-to-end: SQL text goes through the dialect
shim into ``spark.sql``; DataFrame-built queries skip the shim. The
reports of one export run concurrently on the caller's session (one
driver thread each, up to the context's default parallelism); their
results come back, and are zipped, in insertion order.
"""

from __future__ import annotations

import functools
import json
import logging
import os
from collections.abc import Callable, Sequence
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.util import inheritable_thread_target

from data_export_tool_spark.plans.report_window import ReportWindow, resolve_report_window
from data_export_tool_spark.sources.csv_sink import with_facility_columns, write_query_csv
from data_export_tool_spark.sources.packaging import zip_files_with_checksum


@dataclass
class FacilityIdentity:
    """S4: the four constants appended to every row
    (/root/reference/export.py:123-141,294-296)."""

    region: str
    woreda: str
    facility: str
    hmis_code: str

    @property
    def facility_sanitized(self) -> str:
        """Filename form: spaces/underscores stripped (export.py:269;
        the appended COLUMN keeps the raw name, export.py:294-296)."""
        return self.facility.replace(" ", "").replace("_", "")

    @property
    def hmis_sanitized(self) -> str:
        """The reference sanitizes the HMIS code once (export.py:279)
        and uses the sanitized value BOTH in filenames (:298) and the
        appended column (:295-296) — unlike the facility name, whose
        raw form goes into the column. Sanitizing here keeps caller-
        constructed identities on the same contract as looked-up ones."""
        return self.hmis_code.replace(" ", "").replace("_", "")


QueryBuilder = Callable[[SparkSession, ReportWindow], DataFrame]


@dataclass
class ReportRegistry:
    """name → SQL text or DataFrame builder. ``run_export`` runs them
    concurrently and returns them in insertion order (the reference
    runs queries one by one in dict order of ``queries_path``,
    export.py:96,281)."""

    sql_queries: dict[str, str] = field(default_factory=dict)
    df_queries: dict[str, QueryBuilder] = field(default_factory=dict)
    #: the config's ``db_properties`` block (DB_HOST/DB_USER/DB_PASS/
    #: DB_NAME, export.py:89-93); consumed by ``connect_warehouse``
    db_properties: dict[str, str] = field(default_factory=dict)

    @classmethod
    def from_config(cls, config_path: str) -> "ReportRegistry":
        """Load an ``export_config.json``-shaped file: ``queries_path``
        maps names to SQL files relative to the config;
        ``db_properties`` carries the warehouse connection."""
        with open(config_path) as f:
            config = json.load(f)
        base = os.path.dirname(os.path.abspath(config_path))
        reg = cls(db_properties=dict(config.get("db_properties", {})))
        for name, rel in config.get("queries_path", {}).items():
            with open(os.path.join(base, rel)) as qf:
                reg.sql_queries[name] = qf.read()
        return reg

    def register_sql(self, name: str, sql: str) -> None:
        self.sql_queries[name] = sql

    def register_builder(self, name: str, builder: QueryBuilder) -> None:
        self.df_queries[name] = builder

    def names(self) -> list[str]:
        return list(self.sql_queries) + list(self.df_queries)

    def connect_warehouse(
        self,
        spark: SparkSession,
        tables: "Sequence[str] | None" = None,
        partition_columns: dict[str, str] | None = None,
        reader=None,
    ):
        """Register the warehouse tables this registry's reports read
        as temp views over JDBC, using the config's ``db_properties``
        (the reference connects the same block to mysql.connector,
        export.py:232-238). Defaults to every ``mamba_*`` table in the
        reference schema; big fact shards get parallel bounded reads on
        ``client_id``."""
        from data_export_tool_spark.catalog import register_jdbc_views
        from data_export_tool_spark.mamba.schemas import all_table_schemas

        if tables is None:
            tables = sorted(all_table_schemas())
        if partition_columns is None:
            partition_columns = {
                t: "client_id"
                for t in tables
                if t.startswith("mamba_flat_encounter_follow_up")
            }
        return register_jdbc_views(
            spark, self.db_properties, tables, partition_columns, reader
        )


def run_export(
    spark: SparkSession,
    registry: ReportRegistry,
    facility: FacilityIdentity | None = None,
    eth_month: int | str = 1,
    eth_year: int = 2016,
    out_dir: str = "exported_data",
    zip_name: str | None = None,
    month_label: str | None = None,
    cleanup_csvs: bool = True,
) -> dict[str, str | None]:
    """Run every registered report for the Ethiopian month/year window.

    Two phases on the caller's session, both through one thread pool
    of ``min(reports, defaultParallelism)`` workers:

    1. When ``facility`` is None it is looked up from the warehouse's
       location tables (export.py:257-279; S4's two lookup joins via
       ``mamba.facility.lookup_facility_identity``) in the pool, while
       this thread builds and materializes the cached FollowUp wide
       view. The view is unpersisted on exit unless the caller had
       already cached it.
    2. Every report runs as one pool task: build it, then write its
       CSV. The reference runs its queries one after another
       (export.py:281-311); here they are independent Spark jobs on one
       SparkContext, so they run at the same time. Each task's jobs
       carry the report name as their job group.

    SQL-text reports go through the FULL MySQL→Spark shim
    (``mamba.reports.sql_report``: Ethiopian calendar inlining,
    truthiness CASE rewrites, per-report structural patches, the TI
    flag probe) — the same path the parity suite value-checks — with
    ANSI mode off on the caller's session for MySQL's lenient casts. A
    builder registered under a SQL report's name replaces it. The prior
    ANSI setting is restored on exit; that's safe here because every
    result is fully materialized to CSV inside this function.

    Returns name → written CSV path in registry order (None where the
    result was empty — skipped, matching export.py:307-308 — or the
    report raised: it is logged and the others still export, like
    export.py:287-293). When ``zip_name`` is given the CSVs are
    packaged into ``{zip_name}_packaged18.zip`` and, per the
    reference's post-zip cleanup (export.py:317-326), the source CSVs
    are deleted unless ``cleanup_csvs=False``. No pool thread outlives
    the call.
    """
    from data_export_tool_spark.mamba.reports import ensure_follow_up_wide, sql_report

    window = resolve_report_window(eth_month, eth_year)
    label = month_label or str(eth_month)
    # more threads than cores only adds driver contention: 12 threads
    # on 4 cores exported slower than 4
    workers = min(len(set(registry.names())), spark.sparkContext.defaultParallelism)
    pool = ThreadPoolExecutor(max(workers, 1), thread_name_prefix="run_export")

    def submit(fn, *args):
        # each task starts from its own copy of the caller's local
        # properties: tasks sharing one copy would share a job group
        return pool.submit(inheritable_thread_target(spark)(fn), *args)

    prior_ansi = spark.conf.get("spark.sql.ansi.enabled", None)
    spark.conf.set("spark.sql.ansi.enabled", "false")
    wide = None
    try:
        if facility is None:
            from data_export_tool_spark.mamba.facility import lookup_facility_identity

            looked_up = submit(lookup_facility_identity, spark)
        # one cached FollowUp wide view serves every report's CTE
        # references (J10 — the shard assembly runs once per export, not
        # per CTE alias per report; the 100k-patient e2e run's heap is
        # bounded by ONE InMemoryRelation instead of ~130 broadcast maps).
        # Built here, before any report reads it, so concurrent reports
        # scan the one cache instead of racing to fill it.
        wide = ensure_follow_up_wide(spark)
        if wide is not None:
            wide.count()
        if facility is None:
            facility = looked_up.result()

        builders: dict[str, Callable[[], DataFrame]] = {
            name: functools.partial(
                sql_report, spark, name, sql, window.as_params(), wide is not None
            )
            for name, sql in registry.sql_queries.items()
        }
        builders.update(
            (name, functools.partial(builder, spark, window))
            for name, builder in registry.df_queries.items()
        )
        futures = {
            name: submit(
                _export_report, spark, name, build, out_dir, facility, label, eth_year
            )
            for name, build in builders.items()
        }
        written = {name: f.result() for name, f in futures.items()}
    finally:
        pool.shutdown(cancel_futures=True)
        if wide is not None and wide.is_cached:
            wide.unpersist()
        if prior_ansi is not None:
            spark.conf.set("spark.sql.ansi.enabled", prior_ansi)
        else:
            spark.conf.unset("spark.sql.ansi.enabled")

    if zip_name:
        zip_files_with_checksum(out_dir, zip_name, cleanup_csvs=cleanup_csvs)
    return written


def _export_report(
    spark: SparkSession,
    name: str,
    build: Callable[[], DataFrame],
    out_dir: str,
    facility: FacilityIdentity,
    month_label: str,
    year: int,
) -> str | None:
    """One pool task: build the report and write its CSV under the
    job group ``name``. Per-query isolation like the reference
    (export.py:287-293): a broken report logs and maps to None."""
    sc = spark.sparkContext
    sc.setJobGroup(name, f"export report {name}")
    try:
        return _sink(build(), out_dir, name, facility, month_label, year)
    except Exception:
        logging.exception("Error executing query %r — skipping", name)
        return None
    finally:
        # pool threads are reused by later reports
        sc._jsc.clearJobGroup()


def _sink(
    df: DataFrame,
    out_dir: str,
    name: str,
    facility: FacilityIdentity,
    month_label: str,
    year: int,
) -> str | None:
    full = with_facility_columns(
        df,
        facility.region,
        facility.woreda,
        facility.facility,
        facility.hmis_sanitized,
    )
    # filename uses the sanitized facility name (export.py:298); the
    # appended column above keeps the raw one (export.py:294-296) —
    # except the HMIS code, which the reference sanitizes everywhere
    return write_query_csv(
        full,
        out_dir,
        name,
        facility.facility_sanitized,
        facility.hmis_sanitized,
        month_label,
        year,
    )
