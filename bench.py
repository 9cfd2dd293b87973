"""Benchmark harness: runs the engine's query catalog end-to-end.

Prints ONE COMPACT JSON line (the driver captures only the final ~2000
characters of stdout, so the line carries just the headline fields):
    {"metric":"catalog_total_wall","value":<total_sec>,"unit":"sec",
     "queries":{"q01_...":sec,...},"sf":0.1,"loadavg_1m":...,
     "global_shift":...,"regressions":[...],...}
Everything bulky (per-query spreads, prev-round deltas, protocol
notes) goes to BENCH_DETAIL.json in the repo root instead.

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default 32),
     SPARK_GRAFT_BENCH_RUNS (timed runs per query, default 3),
     SPARK_GRAFT_MAX_LOAD (idle gate: wait until 1-min loadavg drops
     under this before timing, default 1.5),
     SPARK_GRAFT_IDLE_WAIT (max seconds to wait for quiet, default 600;
     after that the run proceeds with a stderr warning and a
     self-labeling loadavg_pre field),
     SPARK_GRAFT_BENCH_CHUNKS (fresh-JVM chunks, default 5; see below).

Protocol (BASELINE.md "Measurement protocol"): warm the JVM, then per
query discard the first run and report the MEDIAN of the next
SPARK_GRAFT_BENCH_RUNS runs — single-run numbers at this scale carry
±40% JVM/page-cache noise (one early run: 52.55s vs a 38.3s clean run
of the same commit). Execution is measured with a `noop` sink (full
pipeline runs, nothing is collected to the driver) — the number is the
engine, not pandas conversion.

Fresh-JVM chunking (round-9 protocol fix): a single 55-minute
190-entry session AGES — accumulated shuffle files, broadcast blocks,
codegen caches and Python workers inflated the alphabetically-LAST
~25 entries by ×1.9 in the r9 diagnosis run while the first 165
matched round-8 within noise, and the same entries measured 2-3×
faster in a fresh session. The catalog is therefore run in
``SPARK_GRAFT_BENCH_CHUNKS`` consecutive subprocesses, each with its
own JVM, bounding aging to one chunk (~10 min). ``chunk_slice``
assigns the mb_* entries to ONE chunk as a block (ceil slicing alone
could straddle them across a boundary and re-pay the session-cached
scaled-warehouse build), and COLD_COSTS merging keeps the FIRST-seen
value so a later chunk's re-pay never overwrites the true cold cost.

Isolation pass (round-10 protocol fix): entries whose spread stays
above max(50% of median, 1 s) even after the adaptive re-runs
(iterative/fuzzy shapes like b23/b134 — GC context in an aged chunk)
are re-measured once more in a FRESH single-entry JVM; the isolated
number replaces the chunk number and the entry is listed in the
detail file's ``isolated`` field.

Run set = the 50-entry driver catalog minus the m* reference-report
replicas (fixed-seed fixtures that don't scale with sf) plus the
bench-only b* specs (queries/bench_extra.py) guarding operators that
landed after the catalog freeze plus the mb_* scaled reference-report
replicas (queries/bench_mamba.py).
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)


def loadavg() -> float | None:
    try:
        with open("/proc/loadavg") as fh:
            return float(fh.read().split()[0])
    except (OSError, ValueError):
        return None


def catalog_names() -> list[str]:
    """The sorted run set — deterministic, so parent and chunk
    subprocesses agree on slicing without passing name lists."""
    from data_export_tool_spark.queries import all_queries, bench_extra, bench_mamba

    specs = all_queries()
    # the m* entries are reference-report replicas over FIXED seeded
    # fixtures — they don't scale with sf, so they'd distort the
    # catalog-vs-sf metric; their correctness runs in the driver gate
    # and their runtime in the pytest parity suite. The b* bench-only
    # specs join the run set so post-freeze operators stay guarded;
    # the mb_* specs run the same line-list builders at sf-scaled
    # patient counts.
    names = {n for n in specs if not n.startswith("m")}
    for spec in bench_extra.QUERIES:
        if spec.name in names:
            raise ValueError(f"bench-extra name collides: {spec.name}")
        names.add(spec.name)
    for spec in bench_mamba.QUERIES:
        if spec.name in names:
            raise ValueError(f"bench-mamba name collides: {spec.name}")
        names.add(spec.name)
    return sorted(names)


def chunk_slice(names: list[str], i: int, k: int) -> list[str]:
    """Deterministic chunk assignment (parent and chunk subprocesses
    compute this independently): contiguous ceil slices of the sorted
    list, EXCEPT that the mb_* entries always travel as one block in
    the slice where the first of them lands — they share a
    session-cached scaled warehouse whose build cost must be paid (and
    recorded in COLD_COSTS) exactly once."""
    per = -(-len(names) // k)  # ceil division
    slices = [names[j * per : (j + 1) * per] for j in range(k)]
    mb = [n for n in names if n.startswith("mb_")]
    if mb:
        home = next(j for j, s in enumerate(slices) if mb[0] in s)
        slices = [[n for n in s if not n.startswith("mb_")] for s in slices]
        slices[home].extend(mb)
    return slices[i]


def run_chunk(names: list[str], sf_dir: str, n_runs: int) -> dict:
    """Execute the given entries in THIS process (one Spark session)
    and return {name: {median, spread, load}} + cold costs."""
    from data_export_tool_spark.session import get_spark
    from data_export_tool_spark.queries import all_queries, bench_extra, bench_mamba

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    specs = dict(all_queries())
    for spec in list(bench_extra.QUERIES) + list(bench_mamba.QUERIES):
        specs[spec.name] = spec

    def run_once(spec) -> float:
        t0 = time.perf_counter()
        spec.builder(spark, sf_dir).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    def gc_barrier() -> None:
        # A long catalog session accumulates shuffle/broadcast garbage,
        # and a collection landing INSIDE a timed run shows up as a
        # sporadic multi-second spike on an unchanged plan (observed:
        # v02 1.6→4.2 s run-to-run; stable 2.0-2.3 s with this
        # barrier). Collecting BETWEEN runs moves the pause out of the
        # measurement — standard JVM bench hygiene.
        spark.sparkContext._jvm.System.gc()

    # chunk-level JVM warm-up: discarded runs of the first THREE
    # entries (JIT + codegen + parquet footer caches). One entry was
    # not enough: the r9 diagnosis showed entries at positions 3-7 of
    # a fresh chunk (driver-iterative shapes — IRLS fits, power
    # iterations) inflated 30-50% vs a warmed JVM, with TIGHT spreads
    # (the whole 3-run series ran before the JIT caught up).
    for warm_name in names[:3]:
        run_once(specs[warm_name])

    out: dict[str, dict] = {}
    for name in names:
        spec = specs[name]
        run_once(spec)  # per-query warm run, discarded
        runs = sorted(
            (gc_barrier() or run_once(spec)) for _ in range(n_runs)
        )
        # adaptive re-run: a spread > max(50% of median, 1 s) means
        # something transient (JIT tier-up, a GC landing mid-run, a
        # load spike) contaminated the series — two more timed runs
        # let the median shed the outlier instead of publishing a
        # 19 s spread as if it were the operator (r9: b135_hits
        # median 32 s/spread 19 s from exactly this).
        med = statistics.median(runs)
        if runs[-1] - runs[0] > max(0.5 * med, 1.0):
            runs = sorted(
                runs + [
                    (gc_barrier() or run_once(spec)) for _ in range(2)
                ]
            )
        out[name] = {
            # max-min of the timed runs: how much same-commit
            # same-process noise this query carries, so a cross-round
            # delta smaller than the spread reads as noise
            "median": round(statistics.median(runs), 3),
            "spread": round(runs[-1] - runs[0], 3),
            # per-ENTRY load marker (VERDICT r8 #1): a whole-run
            # loadavg can't say WHICH entries a noisy patch touched
            "load": loadavg(),
        }
    result = {
        "entries": out,
        "cold_costs": dict(bench_extra.COLD_COSTS),
    }
    spark.stop()
    return result


def baseline_timings(prev_detail: dict, sf: float, cpus: int) -> dict[str, float]:
    """The regression guard's baseline: the committed detail file's
    ``queries_full``, only when that run had the same scale and core
    count. A file without ``cpus`` is no baseline, since timings taken
    at 32 cores say nothing about a 4-core run."""
    if prev_detail.get("sf") == sf and prev_detail.get("cpus") == cpus:
        return prev_detail.get("queries_full", {})
    return {}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)
    n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    n_chunks = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_CHUNKS", "5")))
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    # ---- chunk-child mode: run a slice, print it as JSON, exit ----
    if len(sys.argv) >= 3 and sys.argv[1] == "--chunk":
        i, k = (int(x) for x in sys.argv[2].split("/"))
        mine = chunk_slice(catalog_names(), i, k)
        result = run_chunk(mine, sf_dir, n_runs) if mine else {"entries": {}, "cold_costs": {}}
        # stdout carries ONLY the JSON (parent parses it); Spark logs
        # go to stderr already
        print(json.dumps(result, separators=(",", ":")))
        return

    # ---- entry-child mode: isolation re-measure of ONE entry ----
    if len(sys.argv) >= 3 and sys.argv[1] == "--entry":
        result = run_chunk([sys.argv[2]], sf_dir, n_runs)
        print(json.dumps(result, separators=(",", ":")))
        return

    # ---- parent: idle gate, fan chunks out, merge, report ----
    # quiet-machine gate (VERDICT r8 #1): a round-8 bench ran at loadavg
    # 5.61 and its numbers were uninterpretable (spreads to 14.7 s, 11
    # phantom regressions). Before timing anything, WAIT for the 1-min
    # load to drop under the threshold — warn-and-proceed after the
    # budget rather than refuse, because a refusal would leave the
    # round with no bench artifact at all. Both the pre-run load and
    # the wait spent are recorded so a contaminated run is self-labeled.
    max_load = float(os.environ.get("SPARK_GRAFT_MAX_LOAD", "1.5"))
    idle_budget = float(os.environ.get("SPARK_GRAFT_IDLE_WAIT", "600"))
    load_pre = loadavg()
    idle_wait = 0.0
    while (
        load_pre is not None
        and load_pre > max_load
        and idle_wait < idle_budget
    ):
        time.sleep(15.0)
        idle_wait += 15.0
        load_pre = loadavg()
    if load_pre is not None and load_pre > max_load:
        print(
            f"WARNING: starting contaminated — loadavg {load_pre} > "
            f"{max_load} after waiting {idle_wait:.0f}s",
            file=sys.stderr,
        )

    timings: dict[str, float] = {}
    spreads: dict[str, float] = {}
    load_per_query: dict[str, float | None] = {}
    cold_costs: dict[str, float] = {}
    n_names = len(catalog_names())
    for i in range(n_chunks):
        if n_chunks == 1:
            result = run_chunk(catalog_names(), sf_dir, n_runs)
        else:
            proc = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--chunk", f"{i}/{n_chunks}"],
                capture_output=True,
                text=True,
                cwd=HERE,
                env=os.environ,
            )
            if proc.returncode != 0:
                print(
                    f"chunk {i}/{n_chunks} failed rc={proc.returncode}:\n"
                    + proc.stderr[-2000:],
                    file=sys.stderr,
                )
                continue
            result = json.loads(proc.stdout.strip().splitlines()[-1])
        for name, r in result["entries"].items():
            timings[name] = r["median"]
            spreads[name] = r["spread"]
            load_per_query[name] = r["load"]
        # first-seen: the chunk that actually paid a cold cost first
        # recorded the true number; a later chunk's re-pay (e.g. a
        # memoized builder shared across chunks) must not overwrite it
        for key, val in result["cold_costs"].items():
            cold_costs.setdefault(key, val)
        print(
            f"chunk {i + 1}/{n_chunks} done: {len(timings)}/{n_names} entries",
            file=sys.stderr,
        )

    # ---- isolation pass: entries the adaptive re-runs never settled
    # (spread > max(50% of median, 1 s) — the b23/b134 class: heavy
    # iterative/fuzzy shapes whose chunk-context GC noise exceeds their
    # median) get ONE more measurement in a fresh single-entry JVM.
    # Heavy entries only (median > 2 s): a sub-second entry's median
    # already sheds a single outlier run, and a singleton JVM measures
    # those SLOWER than a warmed chunk (first r10 run: q05 published
    # 0.95 s isolated over a fine 0.52 s chunk median).
    isolated: list[str] = []
    unsettled = sorted(
        n for n, s in spreads.items()
        if timings[n] > 2.0 and s > max(0.5 * timings[n], 1.0)
    )
    for name in unsettled[:8]:  # bound the extra wall-clock
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--entry", name],
            capture_output=True,
            text=True,
            cwd=HERE,
            env=os.environ,
        )
        if proc.returncode != 0:
            print(
                f"isolation re-run of {name} failed rc={proc.returncode}",
                file=sys.stderr,
            )
            continue
        r = json.loads(proc.stdout.strip().splitlines()[-1])["entries"][name]
        print(
            f"isolated {name}: {timings[name]}s/{spreads[name]} spread -> "
            f"{r['median']}s/{r['spread']}",
            file=sys.stderr,
        )
        timings[name] = r["median"]
        spreads[name] = r["spread"]
        load_per_query[name] = r["load"]
        isolated.append(name)

    total = round(sum(timings.values()), 3)

    # capture-window budget: the driver parses the LAST ~2000 stdout
    # chars, and the b-set grows every round — per-b-entry numbers ride
    # in BENCH_DETAIL.json ("queries_full", committed, diffable round
    # over round) while the compact line carries the stable driver
    # catalog plus the b-set aggregate
    b_names = sorted(n for n in timings if n.startswith("b"))
    mb_names = sorted(n for n in timings if n.startswith("mb_"))
    out = {
        "metric": "catalog_total_wall",
        "value": total,
        "unit": "sec",
        "queries": {
            n: t
            for n, t in timings.items()
            if n not in b_names
            # the 7 round-9 mb_* additions ride in mb_total + detail
            # (capture-window budget); the original 6 stay inline for
            # round-over-round driver-line comparability
            and (n in _MB_INLINE or not n.startswith("mb_"))
        },
        "b_total": round(sum(timings[n] for n in b_names), 3),
        "n_b": len(b_names),
        "mb_total": round(sum(timings[n] for n in mb_names), 3),
        "n_mb": len(mb_names),
        "sf": sf,
        # host contention marker: this VM shares hardware, and a noisy
        # neighbor inflates EVERY query uniformly (observed 41.6s vs
        # 64.0s for the identical commit an hour apart at 1-min load
        # 4 vs 12) — read cross-round deltas against this figure
        "loadavg_1m": loadavg(),
        "loadavg_pre": load_pre,
        "idle_wait_sec": idle_wait,
        "chunks": n_chunks,
    }
    detail = {
        "protocol": (
            f"median_of_{n_runs}_after_warmup,"
            f" {n_chunks}_fresh_jvm_chunks"
        ),
        "sf": sf,
        "cpus": cpus,
        "n_queries": len(timings),
        "queries_full": timings,
        # one-time costs memoizing builders paid outside the timed
        # runs (model fits, graph projections, scaled fixture
        # generation) — makes the memoized entries' medians auditable
        "cold_costs": cold_costs,
    }
    # per-query regression guard vs the committed BENCH_DETAIL.json: flag a
    # slip when, after normalizing out the whole-run shift, the delta
    # exceeds ALL of (a) 35% of the prior time, (b) this run's own
    # observed noise spread, and (c) a 0.35 s absolute floor.
    # Deltas are NORMALIZED by the global shift first: this VM's
    # contention inflates every query uniformly (observed whole-run
    # swings of ±15% with loadavg 1.4→12), and an un-normalized guard
    # flags a different set of innocent small queries each run. A real
    # regression is a query that got slower RELATIVE to the rest of
    # the catalog.
    # calibration: two same-code runs an hour apart showed sub-second
    # queries drifting +0.15..0.40 s with loadavg 1.4→12 and the
    # flagged set DIFFERENT each run — so the guard needs (a) the
    # median per-query ratio as the global-shift estimate (robust to a
    # few genuinely-optimized big movers) and (b) the 0.35 s absolute
    # floor under which this host simply cannot testify. A real
    # regression (r3's d13 +2.06 s / +54%) clears all three
    # comfortably.
    try:
        with open(os.path.join(HERE, "BENCH_DETAIL.json")) as fh:
            prev_detail = json.load(fh)
    except (OSError, ValueError):
        prev_detail = {}
    baseline = baseline_timings(prev_detail, sf, cpus)
    shared = [q for q in timings if q in baseline]
    if shared:  # median() raises on empty (disjoint query sets)
        shift = statistics.median(
            timings[q] / max(baseline[q], 1e-9) for q in shared
        )
        out["global_shift"] = round(shift, 3)
        detail["prev_deltas"] = {
            q: round(timings[q] - baseline[q], 3) for q in sorted(shared)
        }
        out["regressions"] = sorted(
            q
            for q in shared
            if timings[q] / shift - baseline[q]
            > max(0.35 * baseline[q], spreads[q], 0.35)
        )
        # second tier (VERDICT r9 #5): tight-spread creep — deltas too
        # small for the hard criterion but too consistent to ignore
        # (r9's b44 +33%/0.225 s spread slipped through). Detail-only:
        # the compact line's capture budget stays intact.
        detail["watch_deltas"] = {
            q: round(timings[q] / shift - baseline[q], 3)
            for q in sorted(shared)
            if q not in set(out["regressions"])
            and timings[q] / shift - baseline[q]
            > max(0.2 * baseline[q], 1.5 * spreads[q], 0.1)
        }
    # isolated entries' numbers come from a different protocol (fresh
    # single-entry JVM replacing an unsettled chunk measure) — mark
    # them IN the compact line so cross-round per-query comparisons can
    # discount them without digging into the detail file (VERDICT r10
    # #3); the list is bounded at 8 entries so the capture window holds
    out["isolated"] = isolated
    detail["spreads"] = spreads
    detail["loadavg_1m"] = out["loadavg_1m"]
    detail["loadavg_pre"] = load_pre
    detail["idle_wait_sec"] = idle_wait
    detail["loadavg_per_query"] = load_per_query
    detail["chunks"] = n_chunks
    detail["isolated"] = isolated
    # carry the one-shot sf1 scale section (tools/bench_sf1.py), the
    # e2e export entry (tools/bench_e2e_sf1.py), and EVERY adjudication
    # notes block (notes_r9, notes_r10, ...) across sf0.1 refreshes —
    # they are written out-of-band and must be ADDITIVE, never
    # clobbered (VERDICT r9 #3: the r9 final run dropped notes_r9).
    carries = ["sf1", "e2e_export_sf1"] + [
        k for k in (prev_detail or {}) if k.startswith("notes")
    ]
    for carry in carries:
        if isinstance(prev_detail, dict) and carry in prev_detail:
            detail.setdefault(carry, prev_detail[carry])
    # commit-or-restore discipline (VERDICT r10 #5): BENCH_DETAIL.json
    # is the committed cross-round evidence file FOR THE CANONICAL
    # SCALE — a smoke run at another sf must not clobber it (an sf0.001
    # run once overwrote the shipped sf0.1 numbers in the working
    # tree); off-scale runs write a suffixed file instead
    detail_name = (
        "BENCH_DETAIL.json" if sf == 0.1 else f"BENCH_DETAIL_sf{sf}.json"
    )
    try:
        with open(os.path.join(HERE, detail_name), "w") as fh:
            json.dump(detail, fh, indent=1, sort_keys=True)
    except OSError:
        pass  # detail is best-effort; the stdout line is the contract
    # compact separators: the driver parses the LAST ~2000 stdout
    # chars, so the line must stay short — r4's padded line overflowed
    # that window and the round's perf number went unrecorded
    print(json.dumps(out, separators=(",", ":")))


#: the 6 mb entries that predate round 9 stay in the compact line's
#: "queries" dict (driver-line continuity); the 7 new ones ride in
#: mb_total + BENCH_DETAIL only.
_MB_INLINE = {
    "mb_wide_view",
    "mb_ahd_linelist",
    "mb_hvl_linelist",
    "mb_vl_eligible_new",
    "mb_outcome",
    "mb_pmtct_hei",
}


if __name__ == "__main__":
    main()
