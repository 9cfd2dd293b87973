"""The benchmark's workloads, their inputs and their output checks.

``export`` drives the library's export entry point,
``plans.registry.run_export``, with a ``ReportRegistry`` of thin
adapters over the 12 ``mamba.linelists`` builders. ``graph_loops``
runs two iterative ``queries.bench_extra`` entries over seeded
lineitem/orders/events tables shaped after TPC-H. See README.md for
why each exists.

Every output is checked against ``goldens.json``. ``--seed`` picks one
of ``INPUT_SEEDS``, the input sets that have goldens, so every run is
checked; a missing golden is a mismatch.
"""

from __future__ import annotations

import csv
import hashlib
import inspect
import io
import logging
import os
import shutil
import time
import zipfile
from dataclasses import dataclass, field

#: report name (export order) -> builder in ``mamba.linelists``
REPORTS = {
    "Tx_Curr_LineList": "tx_curr_linelist",
    "Tx_Curr_VLTestReceived_LineList": "tx_curr_vl_received_linelist",
    "Tx_Curr_AHD_LineList": "tx_curr_ahd_linelist",
    "Tx_Curr_HVL_LineList": "tx_curr_hvl_linelist",
    "Tx_Curr_VLEligibleNew_LineList": "tx_curr_vl_eligible_new_linelist",
    "Tx_Curr_TPT_LineList": "tx_curr_tpt_linelist",
    "Tx_Curr_OutComeList": "tx_curr_outcome",
    "Tx_Curr_CCANew_LineList": "tx_curr_cca_new_linelist",
    "Tx_Curr_CCA_LineList": "tx_curr_cca_linelist",
    "Tx_Curr_VLEligible_LineList": "tx_curr_vl_eligible_linelist",
    "PMTCT_Maternal_LineList": "pmtct_maternal_linelist",
    "PMTCT_HEI_LineList": "pmtct_hei_linelist",
}

#: graph.py's checkpointed fixed-round loop and threads.py's path
#: doubling; both run the same number of rounds for every seed (README),
#: which keeps a pass's cost independent of the seed
GRAPH_ENTRIES = ("b33_pagerank", "b107_resolve_threads")

FACILITY_COLUMNS = ["Region", "Woreda", "Facility", "HMISCode"]

#: the exported month (Ethiopian calendar)
MONTH, YEAR = "Nehassie", 2015

#: the input sets with committed goldens
INPUT_SEEDS = range(1, 11)


def input_seed(seed: int) -> int:
    """The input set ``--seed`` selects: 1..10 map to themselves."""
    return INPUT_SEEDS[(seed - 1) % len(INPUT_SEEDS)]


@dataclass
class Config:
    """Input sizes. The defaults are the benchmark; tests shrink them."""

    n_patients: int = 500
    entries: tuple[str, ...] = GRAPH_ENTRIES
    #: TPC-H scale factor of the graph tables: 0.1 is the scale of the
    #: repository's own bench data (TESTDATA.md)
    sf: float = 0.1


@dataclass
class Outcome:
    setup_s: float = 0.0
    op_s: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    #: output mismatches; any entry makes the run incorrect
    problems: list[str] = field(default_factory=list)
    #: check key -> report/entry -> digest (empty report: None)
    digests: dict[str, dict] = field(default_factory=dict)
    #: report -> its own CSV columns, as written
    headers: dict[str, list[str]] = field(default_factory=dict)


class FailedReports(logging.Handler):
    """Collects the per-report exceptions ``run_export`` logs and
    swallows, so a failed report is never counted as an empty one."""

    def __init__(self):
        super().__init__(logging.ERROR)
        self.names: list[str] = []

    def emit(self, record: logging.LogRecord) -> None:
        if record.exc_info and str(record.msg).startswith("Error executing query"):
            self.names.append(record.args[0])


def _linelist_adapter(builder_name: str, tables: list[str]):
    """A registry builder reading the session's warehouse views and the
    wide view ``run_export`` caches. The builder is looked up per call,
    so a traced run's wrapper is the one called."""
    from data_export_tool_spark.mamba import linelists as LL
    from data_export_tool_spark.mamba.reports import FOLLOW_UP_WIDE_VIEW

    takes_wide = "follow_up" in inspect.signature(getattr(LL, builder_name)).parameters

    def build(spark, window):
        frames = {t: spark.table(t) for t in tables}
        extra = {"follow_up": spark.table(FOLLOW_UP_WIDE_VIEW)} if takes_wide else {}
        return getattr(LL, builder_name)(frames, window.start, window.end, **extra)

    return build


def order_free_digest(header: list[str], rows: list[list[str]]) -> str:
    h = hashlib.sha256("\x1f".join(header).encode())
    for row in sorted("\x1f".join(r) for r in rows):
        h.update(b"\n" + row.encode())
    return h.hexdigest()


def check_export_zip(
    zip_path: str, zip_name: str, written: dict, headers: dict, out: Outcome
) -> dict:
    """Open the packaged export, verify the inner archive against its
    SHA-256 file and each CSV's header against ``headers``; return
    report -> digest (None for a report with no CSV)."""
    problems = out.problems
    with zipfile.ZipFile(zip_path) as outer:
        inner_bytes = outer.read(f"{zip_name}.zip")
        checksum = outer.read(f"{zip_name}_checksum.txt").decode().strip()
    if hashlib.sha256(inner_bytes).hexdigest() != checksum:
        problems.append(f"{zip_name}: inner archive does not match its SHA-256")
    digests = {}
    with zipfile.ZipFile(io.BytesIO(inner_bytes)) as inner:
        present = set(inner.namelist())
        for name, path in written.items():
            if path is None:
                digests[name] = None
                continue
            arcname = os.path.basename(path)
            if arcname not in present:
                problems.append(f"{name}: {arcname} missing from the zip")
                continue
            header, *rows = csv.reader(io.StringIO(inner.read(arcname).decode()))
            own = header[: -len(FACILITY_COLUMNS)]
            if header != headers.get(name, own) + FACILITY_COLUMNS:
                problems.append(f"{name}: unexpected CSV header {header}")
            out.headers[name] = own
            digests[name] = order_free_digest(header, rows)
    return digests


def compare_digests(
    key: str, digests: dict, goldens: dict | None, failed: list[str], out: Outcome
) -> None:
    """Against the committed golden of ``key``; ``goldens`` is None
    while goldens are being recorded. A missing result whose golden is
    non-empty is a silent failure."""
    out.digests.setdefault(key, digests)
    if goldens is None:
        return
    golden = goldens.get(key)
    if golden is None:
        out.problems.append(f"{key}: no golden; record one with --record-goldens")
        return
    for name, digest in digests.items():
        if name in failed:
            continue
        if name not in golden:
            out.problems.append(f"{key} {name}: no golden")
        elif digest is None and golden[name] is not None:
            out.failed += 1
        elif digest != golden[name]:
            out.problems.append(f"{key} {name}: digest differs from the golden")


def run_export_workload(spark_factory, work, seed, seconds, cfg, goldens, tracer, t0):
    """One process, one session: exports of ``MONTH``, closed loop,
    until ``seconds`` of export time have been measured."""
    from data_export_tool_spark.mamba.fixture_store import ensure_fixture_parquet
    from data_export_tool_spark.mamba.schemas import all_table_schemas
    from data_export_tool_spark.plans.registry import ReportRegistry, run_export

    out = Outcome()
    g0 = time.perf_counter()
    paths = ensure_fixture_parquet(input_seed(seed), cfg.n_patients)
    gen_s = time.perf_counter() - g0

    spark = spark_factory()
    schemas = all_table_schemas()
    for name, path in paths.items():
        spark.read.schema(schemas[name]).parquet(path).createOrReplaceTempView(name)
    registry = ReportRegistry()
    for report, builder in REPORTS.items():
        registry.register_builder(report, _linelist_adapter(builder, list(paths)))
    failures = FailedReports()
    logging.getLogger().addHandler(failures)
    out.setup_s = time.perf_counter() - t0 - gen_s

    key = f"seed{input_seed(seed)}_n{cfg.n_patients}_{MONTH}{YEAR}"
    out_dir = os.path.join(work, "export")
    zip_name = f"export_{MONTH}"
    try:
        while not out.op_s or sum(out.op_s) < seconds:
            shutil.rmtree(out_dir, ignore_errors=True)
            del failures.names[:]
            tracer.op = f"export{len(out.op_s)}"
            with tracer.span("registry.run_export"):
                s = time.perf_counter()
                written = run_export(
                    spark, registry, None, MONTH, YEAR, out_dir,
                    zip_name=zip_name, month_label=MONTH,
                )
                out.op_s.append(time.perf_counter() - s)
            tracer.op = None
            out.attempted += len(written)
            out.failed += len(failures.names)
            digests = check_export_zip(
                os.path.join(out_dir, f"{zip_name}_packaged18.zip"),
                zip_name, written, (goldens or {}).get("headers", {}), out,
            )
            compare_digests(key, digests, goldens, failures.names, out)
    finally:
        logging.getLogger().removeHandler(failures)
    return spark, out


def make_graph_tables(out_dir: str, seed: int, sf: float) -> str:
    """Seeded orders/lineitem/events parquet at TPC-H scale ``sf``, in
    the catalog's layout, holding the columns the graph entries read.

    Orders, customers, suppliers and lines per order follow the TPC-H
    specification (v3.0.1, clause 4.2): 1 500 000 x sf orders, each
    with 1 to 7 lines; 150 000 x sf customers, of which those whose key
    is a multiple of 3 place no orders; 10 000 x sf suppliers, drawn
    uniformly per line. Events follow the repository's test data
    (TESTDATA.md): 1 000 000 x sf events of 15 000 x sf users over 30
    days."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    marker = os.path.join(out_dir, "_DONE")
    if os.path.exists(marker):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = round(1_500_000 * sf)
    customers = np.arange(1, round(150_000 * sf) + 1, dtype=np.int64)
    pq.write_table(pa.table({
        "o_orderkey": np.arange(1, n + 1, dtype=np.int64),
        "o_custkey": rng.choice(customers[customers % 3 != 0], n),
    }), os.path.join(out_dir, "orders.parquet"))
    lines = rng.integers(1, 8, n)
    pq.write_table(pa.table({
        "l_orderkey": np.repeat(np.arange(1, n + 1, dtype=np.int64), lines),
        "l_suppkey": rng.integers(
            1, round(10_000 * sf) + 1, lines.sum(), dtype=np.int64
        ),
    }), os.path.join(out_dir, "lineitem.parquet"))
    m = round(1_000_000 * sf)
    pq.write_table(pa.table({
        "event_id": np.arange(1, m + 1, dtype=np.int64),
        "ts": pa.array(
            1_704_067_200_000_000 + rng.integers(0, 30 * 86_400_000_000, m),
            pa.timestamp("us"),
        ),
        "user_id": rng.integers(1, round(15_000 * sf) + 1, m, dtype=np.int64),
    }), os.path.join(out_dir, "events.parquet"))
    with open(marker, "w") as f:
        f.write("ok")
    return out_dir


def _rounded_digest(rows) -> str:
    def cell(v):
        return f"{v:.6g}" if isinstance(v, float) else str(v)

    return order_free_digest([], [[cell(v) for v in r] for r in rows])


def run_graph_workload(spark_factory, work, seed, seconds, cfg, goldens, tracer, t0):
    """One session; passes over ``cfg.entries``, the first one cold,
    until ``seconds`` of pass time have been measured. Every pass
    collects each entry's result; the digests are checked outside the
    timed region."""
    from data_export_tool_spark.queries import bench_extra as BE

    out = Outcome()
    g0 = time.perf_counter()
    key = f"graph_seed{input_seed(seed)}_sf{cfg.sf}"
    sf_dir = make_graph_tables(os.path.join(work, key), input_seed(seed), cfg.sf)
    gen_s = time.perf_counter() - g0

    spark = spark_factory()
    out.setup_s = time.perf_counter() - t0 - gen_s

    while not out.op_s or sum(out.op_s) < seconds:
        tracer.op = f"pass{len(out.op_s)}"
        results = {}
        with tracer.span("pass"):
            s = time.perf_counter()
            for entry in cfg.entries:
                results[entry] = _run_entry(BE, entry, spark, sf_dir, tracer)
            out.op_s.append(time.perf_counter() - s)
        tracer.op = None
        out.attempted += len(results)
        out.failed += sum(rows is None for rows in results.values())
        digests = {
            e: f"{len(rows)}:{_rounded_digest(rows)}"
            for e, rows in results.items() if rows is not None
        }
        compare_digests(key, digests, goldens, [], out)
    return spark, out


def _run_entry(BE, entry, spark, sf_dir, tracer):
    """An entry's collected rows, or None when it raised."""
    try:
        with tracer.span(f"graph.{entry}"):
            with tracer.span(f"graph.{entry}.build"):
                df = getattr(BE, entry)(spark, sf_dir)
            with tracer.span(f"graph.{entry}.collect"):
                return df.collect()
    except Exception:  # one entry's failure must not end the pass
        logging.exception("graph entry %s failed", entry)
        return None


WORKLOADS = {
    "export": run_export_workload,
    "graph_loops": run_graph_workload,
}
