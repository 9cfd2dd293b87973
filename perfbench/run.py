"""The repository benchmark: one command per workload run.

    python3 perfbench/run.py --workload export --seed 1 --seconds 5 --trace 0

Run from the repository root. It builds its inputs from ``--seed``
under ``.perfbench/``, runs the workload in a closed loop for
``--seconds`` of measured operations, checks every output, prints one
``name value unit`` line per metric, and ends with one JSON line:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` gives
the end-to-end metrics; ``--trace 1`` is a separate, traced run that
gives the per-layer metrics. It exits 1 when an output is wrong or an
operation failed, and 2 when the library cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time
from collections import defaultdict

T0 = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
GOLDENS = os.path.join(HERE, "goldens.json")

from tracing import NullTracer, SparkProbe, Tracer  # noqa: E402
from workloads import GRAPH_ENTRIES, REPORTS, WORKLOADS, Config  # noqa: E402

END_TO_END = {"setup_s": "s", "op_s": "s"}

PER_LAYER = {
    "session.start_s": "s",
    # peak RSS swings by more than a tenth between runs of graph_loops
    # (GC timing), too much for an end-to-end bound
    "session.jvm_peak_rss_mb": "MB",
    "session.jvm_gc_s": "s",
    "facility.lookup_s": "s",
    "follow_up.wide_build_s": "s",
    "follow_up.wide_cached_mb": "MB",
    "linelists.build_s": "s",
    **{f"linelists.{r}.build_s": "s" for r in REPORTS},
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.sql_executions": "count",
    "spark.driver_gap_s": "s",
    "spark.task_busy_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "csv_sink.to_arrow_s": "s",
    "csv_sink.to_csv_s": "s",
    "csv_sink.self_s": "s",
    "csv_sink.rows": "count",
    "csv_sink.mb": "MB",
    **{f"csv_sink.{r}.s": "s" for r in REPORTS},
    "packaging.zip_s": "s",
    "packaging.zip_ratio": "ratio",
    "registry.self_s": "s",
    **{f"graph.{e}.s": "s" for e in GRAPH_ENTRIES},
    "graph.build_s": "s",
    "graph.collect_s": "s",
    "trace.op_s": "s",
}


def configure_environment() -> int:
    """Pin Spark to this host's cores and keep every file the run
    writes (inputs, Spark scratch, JVM temp files) under ``WORK``.
    Must run before the library is imported: ``session`` reads
    ``SPARK_GRAFT_CPUS`` at import time."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_FIXTURE_DIR=os.path.join(WORK, "fixtures"),
        SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"),
        TMPDIR=tmp,
        SPARK_SUBMIT_OPTS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
    )
    # 2g holds every workload here; the library's 8g default would let
    # the heap of an idle-looking JVM grow on a shared host
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.chdir(WORK)  # Spark's warehouse and metastore dirs are cwd-relative
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return cpus


def install_spans(tracer: Tracer) -> None:
    """Wrap the public function at each layer boundary in a span."""
    import pandas as pd
    from pyspark.sql.classic.dataframe import DataFrame

    from data_export_tool_spark import session
    from data_export_tool_spark.mamba import facility, reports
    from data_export_tool_spark.mamba import linelists as LL
    from data_export_tool_spark.plans import registry
    from data_export_tool_spark.sources import csv_sink

    def start_probe(rec, spark):
        tracer.probe = SparkProbe(spark)

    def materialize(rec, wide):
        # the view is built inside its own span, not in the first report
        if wide is not None:
            wide.count()
            rec["cached_mb"] = tracer.probe.cached_mb()

    def csv_bytes(folder, *args, **kwargs):
        return {"csv_bytes": sum(
            os.path.getsize(os.path.join(folder, f))
            for f in os.listdir(folder) if f.endswith(".csv")
        )}

    tracer.patch(session, "get_spark", "session.get_spark", after=start_probe)
    tracer.patch(facility, "lookup_facility_identity", "facility.lookup")
    tracer.patch(reports, "ensure_follow_up_wide", "follow_up.wide", after=materialize)
    for report, builder in REPORTS.items():
        tracer.patch(LL, builder, f"linelists.{report}")
    for module in (csv_sink, registry):  # registry imported it by name
        tracer.patch(
            module, "write_query_csv", "csv_sink.write",
            label=lambda df, out_dir, name, *a, **k: {"report": name},
            after=lambda rec, path: rec.update(
                bytes=os.path.getsize(path) if path else 0
            ),
        )
    tracer.patch(
        DataFrame, "toArrow", "csv_sink.to_arrow",
        after=lambda rec, table: rec.update(rows=table.num_rows),
    )
    tracer.patch(pd.DataFrame, "to_csv", "csv_sink.to_csv")
    tracer.patch(
        registry, "zip_files_with_checksum", "packaging.zip", label=csv_bytes,
        after=lambda rec, path: rec.update(zip_bytes=os.path.getsize(path)),
    )


def layer_metrics(tracer: Tracer) -> dict[str, float]:
    """Per-layer numbers of each timed operation; the median over
    operations is reported."""
    per_op: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    start_s = 0.0
    for s in tracer.spans:
        name, dur = s["name"], s["end"] - s["start"]
        if name == "session.get_spark":
            start_s = dur
        if s["op"] is None:
            continue
        m = per_op[s["op"]]
        layer = name.split(".")[0]
        if s["parent"] is None:  # the operation itself
            for k, v in tracer.probe.counters(s).items():
                m["session.jvm_gc_s" if k == "jvm_gc_s" else f"spark.{k}"] = v
            m["trace.op_s"] = dur
        if name == "registry.run_export":
            m["registry.self_s"] += tracer.self_time(s)
        elif name == "facility.lookup":
            m["facility.lookup_s"] += dur
        elif name == "follow_up.wide":
            m["follow_up.wide_build_s"] += dur
            m["follow_up.wide_cached_mb"] += s.get("cached_mb", 0.0)
        elif layer == "linelists":
            m["linelists.build_s"] += dur
            m[f"{name}.build_s"] += dur
        elif name == "csv_sink.write":
            m[f"csv_sink.{s['report']}.s"] += dur
            m["csv_sink.self_s"] += tracer.self_time(s)
            m["csv_sink.mb"] += s.get("bytes", 0) / 2**20
        elif name == "csv_sink.to_arrow":
            m["csv_sink.to_arrow_s"] += dur
            m["csv_sink.rows"] += s.get("rows", 0)
        elif name == "csv_sink.to_csv":
            m["csv_sink.to_csv_s"] += dur
        elif name == "packaging.zip":
            m["packaging.zip_s"] += dur
            if s.get("csv_bytes"):
                m["packaging.zip_ratio"] = s["zip_bytes"] / s["csv_bytes"]
        elif layer == "graph":
            kind = name.rsplit(".", 1)[1]
            key = f"graph.{kind}_s" if kind in ("build", "collect") else f"{name}.s"
            m[key] += dur
    out = {k: statistics.median(m.get(k, 0.0) for m in per_op.values())
           for k in PER_LAYER} if per_op else dict.fromkeys(PER_LAYER, 0.0)
    out["session.start_s"] = start_s
    return out


def jvm_peak_rss_mb() -> float:
    from pyspark import SparkContext

    pid = SparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for JVM pid {pid}")


def stop_spark(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def host_state(spark, cpus: int) -> dict:
    import pyspark

    jvm = spark.sparkContext._jvm
    return {
        "nproc": cpus,
        "spark_graft_cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
        "spark": pyspark.__version__,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "driver_memory": spark.conf.get("spark.driver.memory"),
    }


def load_goldens() -> dict:
    if os.path.exists(GOLDENS):
        with open(GOLDENS) as f:
            return json.load(f)
    return {}


def record_goldens(outcome) -> None:
    goldens = load_goldens()
    goldens.setdefault("headers", {}).update(outcome.headers)
    goldens.update(outcome.digests)
    with open(GOLDENS, "w") as f:
        json.dump(goldens, f, indent=1, sort_keys=True)
        f.write("\n")


def run(workload: str, seed: int, seconds: float, trace: bool,
        cfg: Config | None = None, t0: float = T0, record: bool = False) -> dict:
    """Run one workload; return the result record (see ``main``). With
    ``record`` the outputs are collected but checked against no golden."""
    cpus = configure_environment()
    from data_export_tool_spark import session

    tracer = Tracer() if trace else NullTracer()
    if trace:
        install_spans(tracer)
    load_before = os.getloadavg()
    spark = None
    try:
        spark, out = WORKLOADS[workload](
            lambda: session.get_spark(), WORK, seed, seconds, cfg or Config(),
            None if record else load_goldens(), tracer, t0,
        )
        host = host_state(spark, cpus)
        peak = jvm_peak_rss_mb()
    finally:
        if trace:
            tracer.unpatch()
        if spark is not None:
            stop_spark(spark)
    host["loadavg_before"], host["loadavg_after"] = load_before, os.getloadavg()
    if trace:
        metrics = layer_metrics(tracer)
        metrics["session.jvm_peak_rss_mb"] = peak
    else:
        metrics = {"setup_s": out.setup_s, "op_s": statistics.median(out.op_s)}
    units = PER_LAYER if trace else END_TO_END
    result = {
        "workload": workload, "seed": seed, "trace": int(trace),
        "host": host, "op_samples": out.op_s, "problems": out.problems,
        "jvm_peak_rss_mb": peak,
        "outcome": out,
        "summary": {
            # a failed report or entry is a wrong output too
            "correct": not out.problems and not out.failed,
            "attempted": out.attempted,
            "failed": out.failed,
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
        },
    }
    if trace:
        os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
        tracer.dump(os.path.join(WORK, "results", f"{workload}_seed{seed}_spans.jsonl"))
    return result


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=5)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--record-goldens", action="store_true",
                   help="store this run's output digests as the goldens")
    args = p.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "data_export_tool_spark")):
        print(f"perfbench: no data_export_tool_spark package in {ROOT}",
              file=sys.stderr)
        return 2
    result = run(args.workload, args.seed, args.seconds, bool(args.trace),
                 record=args.record_goldens)
    summary = result["summary"]
    if args.record_goldens and summary["correct"]:
        record_goldens(result["outcome"])

    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    stem = os.path.join(WORK, "results", f"{args.workload}_seed{args.seed}")
    del result["outcome"]
    with open(f"{stem}_trace{args.trace}.json", "w") as f:
        json.dump(result, f, indent=1, default=str)

    print("host", json.dumps(result["host"]))
    for problem in result["problems"]:
        print("MISMATCH", problem)
    failed_share = summary["failed"] / max(summary["attempted"], 1)
    print(f"failed_share {failed_share:.4f} ratio "
          f"({summary['failed']}/{summary['attempted']})")
    for name, m in summary["metrics"].items():
        print(f"{name} {m['value']:.6g} {m['unit']}")
    op_name = "export_s" if args.workload.startswith("export") else "pass_s"
    samples = result["op_samples"]
    print(f"{op_name} {statistics.median(samples):.6g} s (n={len(samples)})")
    print(f"jvm_peak_rss_mb {result['jvm_peak_rss_mb']:.6g} MB")
    if args.trace and os.path.exists(f"{stem}_trace0.json"):
        with open(f"{stem}_trace0.json") as f:
            untraced = json.load(f)["summary"]["metrics"]["op_s"]["value"]
        traced = summary["metrics"]["trace.op_s"]["value"]
        print(f"trace_overhead_s {traced - untraced:.6g} s")
    print(json.dumps(summary))
    return 0 if summary["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
