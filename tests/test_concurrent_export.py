"""run_export's concurrent runner: per-report isolation, registry
order, job groups, no leaked threads, cache or conf, and CSVs equal to
each native builder's output written alone."""

from __future__ import annotations

import hashlib
import logging
import os
import sys
import threading
import zipfile

import pytest
from conftest import stored_rdd_ids

from data_export_tool_spark.mamba.linelists import LINELISTS
from data_export_tool_spark.mamba.reports import FOLLOW_UP_WIDE_VIEW
from data_export_tool_spark.mamba.schemas import NUM_SHARDS, all_table_schemas
from data_export_tool_spark.plans.registry import (
    FacilityIdentity,
    ReportRegistry,
    run_export,
)
from data_export_tool_spark.plans.report_window import resolve_report_window
from data_export_tool_spark.sources.csv_sink import (
    with_facility_columns,
    write_query_csv,
)

FACILITY = FacilityIdentity("Oromia", "Adama", "AdamaGen", "H1")

#: order-free ``_csv_digest`` of each line-list's CSV from the
#: ``native_export`` fixture (seed 7, 60 patients, Nehassie 2015)
GOLDEN_DIGESTS = {
    "Tx_Curr_LineList": "53d3c33ef46bfe153ff23a302282e59c94c352520916327c4648f498a81e7ee3",
    "Tx_Curr_VLTestReceived_LineList": "226a496ffb528840d962d5d267137effaa2900f62e64fa01a72308228710a97f",
    "Tx_Curr_AHD_LineList": "ac81dd6877c3bb761fb214fa7f9e8711863e9e56f3137f65c1ea4ac64831dc73",
    "Tx_Curr_HVL_LineList": "5bf2d052ce863691ff28a2bdafa73ba6d3c4c9783af3472042c3122b917013b6",
    "Tx_Curr_VLEligibleNew_LineList": "796050db07186a3f337a548c7f8051e4f70f0bc57e1d700655e807c21ab61e51",
    "Tx_Curr_TPT_LineList": "7122a492c5fee594a8c9708d1ea5c2a51def6f89363d96c767a3192ec8fd9931",
    "Tx_Curr_OutComeList": "e2340f15165a6c4ea8d1507fa0b7a3ff48e4ae64aa14ee5a4b2b286ecc00a174",
    "Tx_Curr_CCANew_LineList": "5692b1db61e553b037eded1bdac62e47242a4b785e4cf3e66dbc6dc53f39825f",
    "Tx_Curr_CCA_LineList": "8e32117c01ed2f31fe86b9abb9a328f379ff125ec28abb27e8402237b172de2d",
    "Tx_Curr_VLEligible_LineList": "1ec8af8c9aab3fbab3cc04f48ec94cea5fcdcc461f814ed35e0fb81ef4d1850d",
    "PMTCT_Maternal_LineList": "dd05f6123808178817488e3514b93f1d8ffff91aefe64f9c8f8144e93d1db726",
    "PMTCT_HEI_LineList": "c8473f998873133bc2254420904524f96491b393768b6fb79ea8b9caa30971d8",
}


def cached_plan_count(spark) -> int:
    return spark._jsparkSession.sharedState().cacheManager().numCachedEntries()


def cached_partitions(spark, rdd_ids: set[int]) -> int:
    """Cached partitions of the RDDs ``rdd_ids`` in the block store."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.numCachedPartitions() for i in infos if i.id() in rdd_ids)


def _with_fake_shards(session):
    """Register one-row follow-up shard views that share only
    ``encounter_id``, so ``run_export`` builds and caches a wide view."""
    session.range(1).selectExpr(
        "id AS encounter_id", "id AS client_id"
    ).createOrReplaceTempView("mamba_flat_encounter_follow_up")
    for i in range(1, NUM_SHARDS):
        session.range(1).selectExpr(
            "id AS encounter_id", f"id AS c{i}"
        ).createOrReplaceTempView(f"mamba_flat_encounter_follow_up_{i}")


def test_failing_reports_are_isolated_and_leave_nothing_behind(spark, tmp_path, caplog):
    session = spark.newSession()
    _with_fake_shards(session)
    session.conf.set("spark.sql.ansi.enabled", "true")
    session.createDataFrame(
        [(1, "a"), (2, "b")], "id long, v string"
    ).createOrReplaceTempView("src")

    def boom(s, window):
        raise RuntimeError("builder failed")

    reg = ReportRegistry()
    reg.register_sql("GoodSql", "SELECT id, v FROM src")
    reg.register_sql("BadSql", "SELECT id FROM no_such_table")
    reg.register_sql("EmptySql", "SELECT id FROM src WHERE id > 99")
    reg.register_builder("GoodBuilder", lambda s, window: s.table("src").select("v"))
    reg.register_builder("BadBuilder", boom)
    threads = set(threading.enumerate())
    cached = cached_plan_count(spark)

    with caplog.at_level(logging.ERROR):
        written = run_export(
            session, reg, FACILITY, "Sene", 2015, str(tmp_path),
            zip_name="exp", month_label="Sene", cleanup_csvs=False,
        )

    assert list(written) == reg.names()
    assert written["BadSql"] is None and written["BadBuilder"] is None
    assert written["EmptySql"] is None
    assert os.path.exists(written["GoodSql"]) and os.path.exists(written["GoodBuilder"])
    failed = {
        r.args[0] for r in caplog.records
        if r.msg.startswith("Error executing query")
    }
    assert failed == {"BadSql", "BadBuilder"}
    with zipfile.ZipFile(tmp_path / "exp_packaged18.zip") as outer:
        with zipfile.ZipFile(outer.open("exp.zip")) as inner:
            assert inner.namelist() == sorted(
                os.path.basename(written[n]) for n in ("GoodSql", "GoodBuilder")
            )
    assert set(threading.enumerate()) - threads == set()
    assert not session.catalog.isCached(FOLLOW_UP_WIDE_VIEW)
    assert cached_plan_count(spark) == cached
    assert session.conf.get("spark.sql.ansi.enabled") == "true"


def test_aborted_export_leaves_no_thread_behind(spark, tmp_path):
    # no location views: the pooled facility lookup raises, and the
    # pending exception keeps run_export's frame (and pool) alive
    from pyspark.errors import AnalysisException

    session = spark.newSession()
    reg = ReportRegistry()
    reg.register_sql("R", "SELECT 1 AS x")
    threads = set(threading.enumerate())
    ansi = session.conf.get("spark.sql.ansi.enabled")
    with pytest.raises(AnalysisException):
        run_export(session, reg, None, "Sene", 2015, str(tmp_path))
    assert set(threading.enumerate()) - threads == set()
    assert session.conf.get("spark.sql.ansi.enabled") == ansi


def test_export_keeps_a_wide_view_the_caller_cached(spark, tmp_path):
    """The export reads a wide view the caller already cached and
    leaves it cached: it unpersists only what it cached."""
    from data_export_tool_spark.mamba.follow_up import assemble_follow_up

    session = spark.newSession()
    _with_fake_shards(session)
    names = ["mamba_flat_encounter_follow_up"] + [
        f"mamba_flat_encounter_follow_up_{i}" for i in range(1, NUM_SHARDS)
    ]
    ids = stored_rdd_ids(spark)
    held = assemble_follow_up({n: session.table(n) for n in names}).cache()
    try:
        held.count()
        held_ids = stored_rdd_ids(spark) - ids
        cached = cached_plan_count(spark), cached_partitions(spark, held_ids)
        reg = ReportRegistry()
        reg.register_sql("Wide", f"SELECT encounter_id FROM {FOLLOW_UP_WIDE_VIEW}")
        written = run_export(
            session, reg, FACILITY, "Sene", 2015, str(tmp_path), month_label="Sene"
        )
        assert written["Wide"] is not None
        assert held.storageLevel.useMemory
        assert (cached_plan_count(spark), cached_partitions(spark, held_ids)) == cached
    finally:
        held.unpersist()


def test_each_report_runs_under_its_own_job_group(spark, tmp_path):
    """More reports than pool threads, with frequent thread switches:
    every report's jobs carry its own group, even on a reused thread."""
    session = spark.newSession()
    session.range(64).createOrReplaceTempView("nums")
    reg = ReportRegistry()
    for k in range(8):
        reg.register_sql(f"JobGroup{k}", f"SELECT id FROM nums WHERE id % 8 = {k}")
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        written = run_export(
            session, reg, FACILITY, "Sene", 2015, str(tmp_path),
            month_label="Sene", cleanup_csvs=False,
        )
    finally:
        sys.setswitchinterval(interval)

    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = spark.sparkContext.statusTracker()
    groups = [set(tracker.getJobIdsForGroup(name)) for name in reg.names()]
    assert all(groups)
    assert sum(map(len, groups)) == len(set().union(*groups))
    for k, name in enumerate(reg.names()):
        with open(written[name]) as f:
            ids = [int(line.split(",")[0]) for line in f.read().splitlines()[1:]]
        assert sorted(ids) == list(range(k, 64, 8)), name
    # the caller's thread keeps no report's group
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None


def _native_adapter(builder, tables):
    def build(spark, window):
        frames = {t: spark.table(t) for t in tables}
        wide = spark.table(FOLLOW_UP_WIDE_VIEW)
        return builder(frames, window.start, window.end, follow_up=wide)

    return build


def _csv_digest(path: str | None) -> str | None:
    if path is None:
        return None
    with open(path) as f:
        header, *rows = f.read().splitlines()
    return hashlib.sha256("\n".join([header, *sorted(rows)]).encode()).hexdigest()


@pytest.fixture(scope="module")
def native_export(spark, tmp_path_factory):
    """One run_export of the 12 native line-lists over a seeded fixture
    warehouse on its own session, with the storage it found and left."""
    from data_export_tool_spark.mamba.fixture_store import ensure_fixture_parquet

    paths = ensure_fixture_parquet(seed=7, n_patients=60)
    session = spark.newSession()
    schemas = all_table_schemas()
    for name, path in paths.items():
        session.read.schema(schemas[name]).parquet(path).createOrReplaceTempView(name)
    reg = ReportRegistry()
    for name, builder in LINELISTS.items():
        reg.register_builder(name, _native_adapter(builder, list(paths)))
    ids = stored_rdd_ids(spark)
    held = session.table("mamba_dim_client").cache()
    held.count()
    held_ids = stored_rdd_ids(spark) - ids

    def storage():
        return (
            stored_rdd_ids(spark), cached_plan_count(spark),
            cached_partitions(spark, held_ids),
        )

    before = storage()
    out = tmp_path_factory.mktemp("native_export")
    try:
        written = run_export(
            session, reg, FACILITY, "Nehassie", 2015, str(out), month_label="Nehassie"
        )
        after = storage()
    finally:
        held.unpersist()
    return session, paths, written, before, after


def test_native_export_leaves_storage_as_found(native_export):
    """The export persists nothing it leaves behind and frees nothing
    it did not persist. The context lists persisted RDDs weakly: one
    that earlier code persisted and no longer references drops out at
    the next JVM garbage collection, and the ContextCleaner frees its
    blocks, so the stored ids may shrink while the export runs; none
    may be new."""
    _, _, _, (ids, entries, held), (ids_after, entries_after, held_after) = native_export
    assert ids_after <= ids
    assert entries_after == entries
    assert held_after == held > 0


def test_native_export_matches_each_builder_written_alone(native_export, tmp_path):
    from data_export_tool_spark.mamba.follow_up import assemble_follow_up

    session, paths, written, _, _ = native_export
    frames = {t: session.table(t) for t in paths}
    window = resolve_report_window("Nehassie", 2015)
    assert list(written) == list(LINELISTS)
    assert all(written.values()), "every line-list should have rows at this fixture"
    assert {name: _csv_digest(path) for name, path in written.items()} == GOLDEN_DIGESTS
    wide = assemble_follow_up(frames).cache()
    try:
        for name, builder in LINELISTS.items():
            df = with_facility_columns(
                builder(frames, window.start, window.end, follow_up=wide),
                FACILITY.region, FACILITY.woreda, FACILITY.facility,
                FACILITY.hmis_sanitized,
            )
            alone = write_query_csv(
                df, str(tmp_path), name, FACILITY.facility_sanitized,
                FACILITY.hmis_sanitized, "Nehassie", 2015,
            )
            assert _csv_digest(written[name]) == _csv_digest(alone), name
    finally:
        wide.unpersist()
