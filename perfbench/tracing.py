"""Spans and Spark counters for the benchmark's traced run.

Spans are recorded from outside the program: ``Tracer.patch`` replaces
a public function of a layer module with a wrapper that opens a span
around the original call. Spans are kept in memory and written out
once, when the run ends.

Spark counters come from Spark's own status stores, read at span
boundaries. Everything runs on one driver thread, so the jobs whose ids
fall between a span's start and end marks, and the SQL executions
counted between them, are exactly the ones the span caused.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time

MB = 1024 * 1024


class SparkProbe:
    """Reads job, stage, SQL and GC counters from the driver JVM."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._dag = self._jsc.dagScheduler()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._seq = sc._jvm.scala.jdk.javaapi.CollectionConverters
        self._gc_beans = list(
            sc._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        )
        #: job id -> (submitted, completed, completed tasks, stage ids);
        #: times are epoch seconds
        self.jobs: dict[int, tuple[float, float, int, list[int]]] = {}
        #: stage id -> (ran, executor run s, shuffle write bytes, spill bytes)
        self.stages: dict[int, tuple[bool, float, int, int]] = {}

    def mark(self) -> dict:
        # status-store records are written by a listener on an
        # asynchronous bus; drain it so the mark sees every finished job
        self._jsc.listenerBus().waitUntilEmpty()
        return {
            "job": self._dag.numTotalJobs() - 1,
            # a count, not an id: exact while the store holds fewer than
            # spark.sql.ui.retainedExecutions (1000) executions
            "sql": self._sql.executionsCount(),
            "gc_ms": sum(b.getCollectionTime() for b in self._gc_beans),
        }

    def harvest(self, after_job: int, last_job: int) -> None:
        """Copy jobs ``after_job + 1 .. last_job`` and their stages out
        of the status store before its retention limit can drop them."""
        from py4j.protocol import Py4JJavaError

        for jid in range(after_job + 1, last_job + 1):
            try:
                j = self._store.job(jid)
            except Py4JJavaError:  # already dropped by the status store
                continue
            stage_ids = list(self._seq.asJava(j.stageIds()))
            submitted = j.submissionTime().get().getTime() / 1000.0
            done = j.completionTime()
            self.jobs[jid] = (
                submitted,
                done.get().getTime() / 1000.0 if done.isDefined() else submitted,
                j.numCompletedTasks(),
                stage_ids,
            )
            for sid in stage_ids:
                if sid not in self.stages:
                    s = self._store.lastStageAttempt(sid)
                    self.stages[sid] = (
                        s.status().toString() != "SKIPPED",
                        s.executorRunTime() / 1000.0,
                        s.shuffleWriteBytes(),
                        s.diskBytesSpilled(),
                    )

    def cached_mb(self) -> float:
        return sum(
            r.memSize() + r.diskSize() for r in self._jsc.getRDDStorageInfo()
        ) / MB

    def counters(self, span: dict) -> dict:
        """Spark work done between a span's start and end marks."""
        a, b = span["mark0"], span["mark1"]
        job_ids = [j for j in range(a["job"] + 1, b["job"] + 1) if j in self.jobs]
        stage_ids = {s for j in job_ids for s in self.jobs[j][3]}
        ran = [self.stages[s] for s in stage_ids if self.stages[s][0]]
        busy = _union(
            [self.jobs[j][:2] for j in job_ids], span["wall0"], span["wall1"]
        )
        return {
            "jobs": b["job"] - a["job"],
            "stages": len(ran),
            "tasks": sum(self.jobs[j][2] for j in job_ids),
            "sql_executions": b["sql"] - a["sql"],
            "task_busy_s": sum(s[1] for s in ran),
            "shuffle_write_mb": sum(s[2] for s in ran) / MB,
            "spill_mb": sum(s[3] for s in ran) / MB,
            "jvm_gc_s": (b["gc_ms"] - a["gc_ms"]) / 1000.0,
            "driver_gap_s": span["wall1"] - span["wall0"] - busy,
        }


def _union(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for s, e in sorted(intervals):
        s, e = max(s, end), min(e, hi)
        if e > s:
            total += e - s
            end = e
    return total


class NullTracer:
    """The untraced run's stand-in: records nothing."""

    op: str | None = None

    def span(self, name: str, **attrs):
        return contextlib.nullcontext({})


class Tracer:
    """In-memory spans; ``probe`` (a SparkProbe) adds Spark counters."""

    def __init__(self):
        self.spans: list[dict] = []
        self.probe: SparkProbe | None = None
        self.op: str | None = None
        self._stack: list[dict] = []
        self._patches: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "op": self.op,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        if self.probe:
            rec["mark0"] = self.probe.mark()
        rec["wall0"], rec["start"] = time.time(), time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"], rec["wall1"] = time.perf_counter(), time.time()
            if self.probe:
                rec["mark1"] = self.probe.mark()
            self._stack.pop()
            if self.probe and "mark0" in rec and not self._stack:
                # after the span has ended, so its time leaves this out;
                # one operation stays far below the store's 1000 jobs
                self.probe.harvest(rec["mark0"]["job"], rec["mark1"]["job"])

    def patch(self, owner, attr: str, name: str, label=None, after=None) -> None:
        """Wrap ``owner.attr`` in a span named ``name``. ``label`` maps
        the call's arguments to span attributes; ``after(rec, result)``
        runs inside the span once the original returns."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            attrs = label(*args, **kwargs) if label else {}
            with self.span(name, **attrs) as rec:
                result = original(*args, **kwargs)
                if after:
                    after(rec, result)
                return result

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, original))

    def unpatch(self) -> None:
        while self._patches:
            owner, attr, original = self._patches.pop()
            setattr(owner, attr, original)

    def self_time(self, rec: dict) -> float:
        kids = [
            (s["start"], s["end"]) for s in self.spans if s["parent"] == rec["id"]
        ]
        return rec["end"] - rec["start"] - _union(kids, rec["start"], rec["end"])

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in self.spans:
                out = {k: v for k, v in rec.items() if not k.startswith("mark")}
                if self.probe and "mark0" in rec:
                    out["spark"] = self.probe.counters(rec)
                f.write(json.dumps(out, default=str) + "\n")
