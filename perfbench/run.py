"""Repository benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload {olap_mix,event_stream,dedup_ingest}
        --seed N --seconds S --trace {0,1} [--smoke]

Run from the root of a checkout. The run is private and cold: the
layout cache, Spark local dirs, staging temp dirs, the warehouse and
Derby all live under ``.perfbench_tmp/<workload>-<pid>/`` (the working
directory of the run), which is removed at exit. Spark gets
``min(4, nproc)`` task slots and a driver heap that fits a small box.

The seeded inputs are generated first, untimed. Set-up (timed as
``setup_s``): session start, then the workload's library input and
layout builds ``setup_reps`` times, each into fresh directories (the
median counts), then the warm-up over the measured paths. The timed window runs for
``--seconds``; the outputs are checked afterwards, untimed.

A window during which the generator ran late, the paced backlog grew,
other processes and the hypervisor took more than ``MAX_CONTENDED_CORES``
or the calibration spin slowed did not measure the program alone. A
window that is not valid is run again once if the run has time left
for it (``RETRY_BY_S``); the run reports the valid or, failing that,
the less contended window and names what made it not valid.
Contention is not a failure of the program: ``failed`` counts only
operations that raised or whose outputs did not match, so two runs of
the same code on the same seed fail the same operations. ``correct``
says whether the outputs matched.

End-to-end metrics (``--trace 0``), one meaning per workload:

=================  ====================  ======================  ======================
metric             olap_mix              event_stream            dedup_ingest
=================  ====================  ======================  ======================
throughput_per_s   queries completed/s   events/s of a           documents absorbed/s,
                                         micro-batch draining    compactions included
                                         the backlog
latency_p50_s      mean query latency    file freshness: publish epoch latency: delivery
                   of a round of the     schedule → batch commit → end of foreachBatch
                   mix
setup_s            set-up time (above)
=================  ====================  ======================  ======================

Every latency is the median of its samples over the window. For
olap_mix a sample is a whole round of the mix (every key once), so the
median weighs every key and does not jump between the keys whose
latencies sit nearest the middle; the per-query median is
``olap.query_p50_s``. event_stream's throughput is likewise the median
over the micro-batches of the drain (``stream.drain_eps``); the drain's
wall-clock rate is ``stream.drain_wall_eps``.

The workload-specific names (``olap.query_p80_s``, ``stream.drain_eps``,
``dedup.epoch_p50_s`` ...), ``failed_frac`` and ``mem_peak_mb`` (peak
RSS of the process tree up to the end of the window) are printed on
the lines before the result; a tail percentile only where ten samples
lie beyond it. Peak RSS follows the JVM's heap growth and spreads too
widely across runs to carry a bound, so it is a per-layer metric
(``proc.rss_peak_mb``).

``--trace 1`` runs one untraced window, then a traced one (repeated
like an untraced one), and reports per-layer metrics of the traced
window; ``trace.overhead_*`` is the
traced minus the untraced end-to-end value. Per-layer values are per
operation of the workload (a query, a micro-batch, an epoch) unless
the name says otherwise; a layer the workload does not load reads 0.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

MAX_SLOTS = 4
DRIVER_MEM = "3g"

END_TO_END = ("throughput_per_s", "latency_p50_s", "setup_s")

# (module, function) → span name, for the traced window
SPAN_TARGETS = {
    ("last_minute_legends_spark.sources.tables", "load_table"): "tables.load",
    ("last_minute_legends_spark.streaming.pipeline", "stream_absorb_epoch"):
        "pipeline.absorb_epoch",
    ("last_minute_legends_spark.operators.dedup_delta", "absorb_delta"):
        "dedup_delta.absorb",
    ("last_minute_legends_spark.operators.dedup_delta", "band_index_health"):
        "dedup_delta.health",
    ("last_minute_legends_spark.operators.dedup_delta", "compact_band_index"):
        "dedup_delta.compact",
    ("last_minute_legends_spark.operators.labels_store", "merge_labels_store"):
        "labels_store.merge",
}
SETUP_SPAN_TARGETS = {
    ("last_minute_legends_spark.sources.layout_cache", "build_once"):
        "layout_cache.build",
}
PLAN_FAMILIES = ("olap", "events_analytics", "stream_q")

PER_LAYER = {
    "engine.jobs": "count", "engine.stages": "count", "engine.tasks": "count",
    "engine.task_s": "s", "engine.busy_frac": "frac",
    "engine.first_job_s": "s", "engine.shuffle_read_mb": "MB",
    "engine.shuffle_write_mb": "MB", "engine.input_mb": "MB",
    "engine.gc_s": "s", "engine.failed_tasks": "count",
    **{f"plans.{f}.build_s": "s" for f in PLAN_FAMILIES},
    "tables.load_calls": "count", "tables.load_s": "s",
    "layout_cache.builds": "count", "layout_cache.hits": "count",
    "layout_cache.build_s": "s",
    "dedup_delta.absorb_s": "s", "dedup_delta.new_pairs": "count",
    "dedup_delta.health_s": "s", "dedup_delta.compact_s": "s",
    "dedup_delta.compactions": "count", "dedup_delta.band_files": "count",
    "labels_store.merge_s": "s", "labels_store.critical_s": "s",
    "labels_store.buckets_rewritten": "count",
    "pipeline.absorb_epoch_s": "s", "pipeline.land_s": "s",
    "trigger.execution_ms": "ms", "trigger.add_batch_ms": "ms",
    "trigger.query_planning_ms": "ms", "trigger.wal_commit_ms": "ms",
    "trigger.latest_offset_ms": "ms", "trigger.commit_offsets_ms": "ms",
    "trigger.input_rows": "count",
    "state.rows_total": "count", "state.memory_mb": "MB",
    "state.commit_ms": "ms", "state.rows_dropped_late": "count",
    "landing.sink_s": "s", "landing.files_written": "count",
    "gen.lag_s": "s", "gen.backlog_files": "count",
    "proc.self_cores": "cores", "proc.other_cores": "cores",
    "proc.steal_cores": "cores",
    "proc.rss_peak_mb": "MB", "proc.calib_s": "s", "proc.calib_drift": "frac",
    "trace.overhead_latency_s": "s", "trace.overhead_throughput_per_s": "1/s",
}


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("olap_mix", "event_stream", "dedup_ingest"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true",
                   help="tiny inputs, for the benchmark's self-check")
    return p.parse_args(argv)


def _hygiene(root: str) -> None:
    """Point every place the library or Spark writes at the private
    root; must run before pyspark starts its JVM. The warehouse and
    Derby default to the JVM's working directory, which ``main`` sets
    to the root."""
    slots = min(MAX_SLOTS, os.cpu_count() or 1)
    for sub in ("layouts", "spark-local", "tmp"):
        os.makedirs(os.path.join(root, sub), exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(slots),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_LAYOUT_CACHE": os.path.join(root, "layouts"),
        "SPARK_LOCAL_DIRS": os.path.join(root, "spark-local"),
        "TMPDIR": os.path.join(root, "tmp"),
    })


def _calibration(spark, slots: int, reps: int) -> float:
    """A fixed pure-JVM spin (bench.py's calibration cell, sized for a
    few slots), the fastest of ``reps`` (the first ones compile); drift
    between the start and the end of a run means the box changed speed
    under it."""
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        (spark.range(0, 25_000_000 * slots, 1, slots)
         .selectExpr("bit_xor(xxhash64(id)) as s").collect())
        times.append(time.perf_counter() - t0)
    return min(times)


def _engine_layers(jobs, ex0, ex1, w, slots) -> dict:
    n = max(len(w.ops), 1)
    d = {k: ex1[k] - ex0[k] for k in ex0}
    wall = w.t1 - w.t0
    firsts = []
    submits = sorted(j["submit"] for j in jobs if j["submit"] is not None)
    for start, end in w.ops:
        nxt = next((s for s in submits if s >= start - 0.001), None)
        if nxt is not None and nxt <= end:
            firsts.append(nxt - start)
    return {
        "engine.jobs": (len(jobs) / n, "count"),
        "engine.stages": (sum(j["stages"] for j in jobs) / n, "count"),
        "engine.tasks": (d["totalTasks"] / n, "count"),
        "engine.task_s": (d["totalDuration"] / 1000 / n, "s"),
        "engine.busy_frac": (d["totalDuration"] / 1000 / (wall * slots), "frac"),
        "engine.first_job_s": (statistics.median(firsts) if firsts else 0.0, "s"),
        "engine.shuffle_read_mb": (d["totalShuffleRead"] / 2**20 / n, "MB"),
        "engine.shuffle_write_mb": (d["totalShuffleWrite"] / 2**20 / n, "MB"),
        "engine.input_mb": (d["totalInputBytes"] / 2**20 / n, "MB"),
        "engine.gc_s": (d["totalGCTime"] / 1000 / n, "s"),
        "engine.failed_tasks": (d["failedTasks"], "count"),
    }


def _span_layers(store, jobs, w) -> dict:
    import tracing

    n = max(len(w.ops), 1)
    s = store.summary()

    def self_s(name):
        return s.get(name, {}).get("self_s", 0.0)

    def calls(name):
        return s.get(name, {}).get("calls", 0)

    out = {f"plans.{f}.build_s": (self_s(f"plans.{f}") / max(calls(f"plans.{f}"), 1), "s")
           for f in PLAN_FAMILIES}
    # the fold's critical part: its time not overlapped by the band append
    appends = [(j["submit"], j["end"]) for j in jobs
               if j["desc"].startswith("absorb: band rows append")
               and j["submit"] and j["end"]]
    folds = [(x["start"], x["end"]) for x in store.spans
             if x["name"] == "labels_store.merge"]
    critical = sum((b - a) - tracing.interval_overlap((a, b), appends)
                   for a, b in folds)
    lands = [j["end"] - j["submit"] for j in jobs
             if j["desc"].endswith(": land epoch") and j["submit"] and j["end"]]
    out.update({
        "tables.load_calls": (calls("tables.load") / n, "count"),
        "tables.load_s": (self_s("tables.load") / n, "s"),
        "dedup_delta.absorb_s": (self_s("dedup_delta.absorb") / n, "s"),
        "dedup_delta.health_s": (self_s("dedup_delta.health") / n, "s"),
        "dedup_delta.compact_s": (self_s("dedup_delta.compact") / n, "s"),
        "dedup_delta.compactions": (calls("dedup_delta.compact"), "count"),
        "labels_store.merge_s": (self_s("labels_store.merge") / n, "s"),
        "labels_store.critical_s": (critical / n, "s"),
        "pipeline.absorb_epoch_s": (self_s("pipeline.absorb_epoch") / n, "s"),
        "pipeline.land_s": (sum(lands) / n, "s"),
        "landing.sink_s": (self_s("landing.sink") / n, "s"),
    })
    return out


# Limits past which a window did not measure the program alone.
MAX_LAG_S = 0.25
# files in flight swing by about one trigger's worth between two looks
MAX_BACKLOG_GROWTH = 20
# cores taken from the run by other processes and by the hypervisor
# (steal); on a 4-vCPU VM, 0.25-0.3 cores of steal slowed olap_mix and
# event_stream's drain by a quarter
MAX_CONTENDED_CORES = 0.2
MAX_CALIB_DRIFT = 0.2
# A window that is not valid is run again once, and the run reports the
# valid or, failing that, the less contended one.
MAX_WINDOWS = 2
# ... but only when the repeat is due to end this many seconds into the
# run, so that a run stays under about a minute and 22 seeds of every
# workload take under an hour on a contended host. A dedup_ingest
# window mostly ends too late to be repeated.
RETRY_BY_S = 55.0
RUN_START = time.perf_counter()


def _taken(m: dict) -> float:
    return m["cpu"]["other_cores"] + m["cpu"]["steal_cores"]


def _invalid(m: dict) -> list[str]:
    w, out = m["w"], []
    if w.lag_s > MAX_LAG_S:
        out.append(f"the generator ran {w.lag_s:.3f} s late")
    if w.backlog_growth > MAX_BACKLOG_GROWTH:
        out.append(f"the paced backlog grew by {w.backlog_growth} files")
    if _taken(m) > MAX_CONTENDED_CORES:
        out.append(f"other processes and the hypervisor took {_taken(m):.2f} cores")
    # a faster end spin is the JIT finishing; a slower one is the box
    if m["calib_drift"] > MAX_CALIB_DRIFT:
        out.append(f"the calibration spin slowed {m['calib_drift']:+.0%}")
    return out


def _cache_counts() -> dict:
    from last_minute_legends_spark.sources import layout_cache

    return {k: sum(s[k] for s in layout_cache.STATS.values())
            for k in ("builds", "hits")}


def _timed_window(spark, wl, mon, store, calib0: float, slots: int) -> dict:
    """One measured window with the counters around it."""
    import tracing

    m = {"store": store, "cache0": _cache_counts(),
         "job0": tracing.last_job_id(spark),
         "ex0": tracing.executor_totals(spark), "cpu": {}}
    with mon.cpu_window(m["cpu"]), (tracing.instrument(store, SPAN_TARGETS)
                                    if store is not None
                                    else contextlib.nullcontext()):
        m["w"] = wl.window(store)
    m["ex1"] = tracing.executor_totals(spark)
    m["cache1"] = _cache_counts()
    m["mem_peak_mb"] = mon.peak_bytes / 2**20
    m["calib_drift"] = (_calibration(spark, slots, 3) - calib0) / calib0
    m["jobs"] = tracing.job_records(spark, m["job0"]) if store is not None else []
    return m


def measure(args, root: str) -> tuple[dict, list[str]]:
    """Set up, run the window(s) and check; returns the result object
    and the human-readable report lines."""
    import tracing
    from workloads import WORKLOADS

    slots = int(os.environ["SPARK_GRAFT_CPUS"])
    mon = tracing.ProcMonitor().start()
    wl = None
    lines = []
    try:
        t = time.perf_counter()
        from last_minute_legends_spark.session import get_spark

        spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t
        wl = WORKLOADS[args.workload](
            spark, root, args.seed, args.seconds, args.smoke,
            (2 if args.trace else 1) + MAX_WINDOWS - 1)
        wl.generate()
        builds = []
        setup_store = tracing.SpanStore() if args.trace else None
        for rep in range(wl.setup_reps):
            t = time.perf_counter()
            with (tracing.instrument(setup_store, SETUP_SPAN_TARGETS)
                  if setup_store is not None else contextlib.nullcontext()):
                wl.setup(rep)
            builds.append(time.perf_counter() - t)
        t = time.perf_counter()
        wl.warm()
        warm_s = time.perf_counter() - t
        setup_s = session_s + statistics.median(builds) + warm_s
        calib0 = _calibration(spark, slots, 3)

        base = wl.window() if args.trace else None
        tried = []
        while len(tried) < MAX_WINDOWS:
            m = _timed_window(spark, wl, mon,
                              tracing.SpanStore() if args.trace else None,
                              calib0, slots)
            m["invalid"] = _invalid(m)
            tried.append(m)
            if not m["invalid"]:
                break
            lines.append(f"  window {len(tried)}: " + "; ".join(m["invalid"]))
            now = time.perf_counter()
            if now - RUN_START + (m["w"].t1 - m["w"].t0) > RETRY_BY_S:
                lines.append("  no time left in the run to repeat it")
                break
        m = min(tried, key=lambda m: (bool(m["invalid"]), _taken(m)))
        invalid = m["invalid"]
        if len(tried) > 1:
            lines.append(f"  reported window {tried.index(m) + 1} of {len(tried)}")
        check_failed, notes = wl.check()
    finally:
        mon.stop()
        if wl is not None:
            wl.close()

    w = m["w"]
    window_builds = sum(t["cache1"]["builds"] - t["cache0"]["builds"]
                        for t in tried)
    if window_builds:
        notes.append(f"protocol error: {window_builds} layout builds in the "
                     "timed window")
    if invalid:
        notes.append("reported window not valid: " + "; ".join(invalid))
    failed = check_failed + window_builds
    attempted = max(wl.attempted, 1)
    e2e = {
        "throughput_per_s": (w.throughput, "1/s"),
        # with no completed operation, every one missed the window
        "latency_p50_s": (statistics.median(w.latencies) if w.latencies else
                          float(args.seconds), "s"),
        "setup_s": (setup_s, "s"),
    }
    report = {**e2e, "mem_peak_mb": (m["mem_peak_mb"], "MB"), **w.report,
              "failed_frac": (failed / attempted, "frac"),
              "setup.session_s": (session_s, "s"),
              "setup.build_s": (statistics.median(builds), "s"),
              "setup.warm_s": (warm_s, "s"),
              "proc.self_cores": (m["cpu"]["self_cores"], "cores"),
              "proc.other_cores": (m["cpu"]["other_cores"], "cores"),
              "proc.steal_cores": (m["cpu"]["steal_cores"], "cores"),
              "proc.calib_s": (calib0, "s"),
              "proc.calib_drift": (m["calib_drift"], "frac"),
              "gen.lag_s": (w.lag_s, "s"),
              "gen.backlog_files": (w.backlog_files, "count")}
    if args.trace:
        store, jobs = m["store"], m["jobs"]
        metrics = {k: (0.0, u) for k, u in PER_LAYER.items()}
        metrics.update(_engine_layers(jobs, m["ex0"], m["ex1"], w, slots))
        metrics.update(_span_layers(store, jobs, w))
        metrics.update(w.layers)
        metrics.update({k: report[k] for k in (
            "proc.self_cores", "proc.other_cores", "proc.steal_cores", "proc.calib_s",
            "proc.calib_drift", "gen.lag_s", "gen.backlog_files")})
        metrics["proc.rss_peak_mb"] = (m["mem_peak_mb"], "MB")
        metrics["layout_cache.build_s"] = (
            setup_store.summary().get("layout_cache.build", {}).get("total_s", 0.0)
            / wl.setup_reps, "s")
        metrics["layout_cache.builds"] = (window_builds, "count")
        metrics["layout_cache.hits"] = (m["cache1"]["hits"] - m["cache0"]["hits"],
                                        "count")
        base_p50 = statistics.median(base.latencies) if base.latencies else 0.0
        metrics["trace.overhead_latency_s"] = (e2e["latency_p50_s"][0] - base_p50, "s")
        metrics["trace.overhead_throughput_per_s"] = (
            w.throughput - base.throughput, "1/s")
        if set(metrics) != set(PER_LAYER):
            raise RuntimeError(f"per-layer keys drifted: "
                               f"{set(metrics) ^ set(PER_LAYER)}")
    else:
        metrics = e2e
    lines.insert(0, f"{args.workload} seed={args.seed}: ops={len(w.ops)} "
                    f"attempted={attempted} failed={failed}")
    lines += [f"  {k} = {v:.6g} {u}" if v is not None
              else f"  {k} = n/a (fewer than ten samples beyond it)"
              for k, (v, u) in report.items()]
    lines += [f"  check: {n}" for n in notes]
    result = {
        # the outputs matched; failed operations are counted apart
        "correct": check_failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": u}
                    for k, (v, u) in metrics.items()},
    }
    return result, lines


def _stop_jvm() -> None:
    """Stop the session and wait for the gateway JVM (and with it the
    Python workers it forked) to exit; kill it if stopping fails."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        s = SparkSession.getActiveSession()
        if s is not None:
            s.stop()
        if gw is not None:
            gw.shutdown()
    finally:
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def main(argv=None) -> int:
    args = _args(argv)
    checkout = os.getcwd()
    if not os.path.isdir(os.path.join(checkout, "last_minute_legends_spark")):
        print("perfbench: run from the root of a checkout of the library "
              "(no last_minute_legends_spark/ here)", file=sys.stderr)
        return 2
    root = os.path.join(checkout, ".perfbench_tmp",
                        f"{args.workload}-{os.getpid()}")
    # a terminated run still stops its JVM and removes its root
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    _hygiene(root)
    sys.path.insert(1, checkout)   # after perfbench/, so its modules win
    os.chdir(root)
    try:
        result, lines = measure(args, root)
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_IGN)   # finish cleaning up
        try:
            if "pyspark" in sys.modules:
                _stop_jvm()
        finally:
            os.chdir(checkout)
            shutil.rmtree(root, ignore_errors=True)
            with contextlib.suppress(OSError):
                os.rmdir(os.path.dirname(root))
    print("\n".join(lines))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
