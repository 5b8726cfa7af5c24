"""The three benchmark workloads.

Each workload makes its inputs from the seed (``generate``, untimed:
it runs the benchmark's generator, not the program), builds what the
program needs before it can serve them (``setup``: library input and
layout builds, repeated and timed by ``run.py``), warms the JVM on the
paths it measures (``warm``), runs timed windows (``window``) and then
checks the program's outputs without timing the check (``check``). A
window returns its end-to-end samples; with a ``SpanStore`` it also
returns the per-layer numbers of that window.

- ``olap_mix``: closed loop, one client, over a seeded order of a fixed
  multiset of registry queries, each run to a noop sink. Loads
  ``session``, ``plans`` and ``sources.tables``; bypasses the layout
  cache, the dedup operators and streaming, so it is the control for
  changes there.
- ``event_stream``: open loop. Topic files are published on a fixed
  schedule into a running ``file_json_stream`` → ``parse_event_json`` →
  watermarked ``dropDuplicatesWithinWatermark(event_id)`` →
  ``foreachBatch(day_partition_epoch_sink)`` query; then a fixed
  backlog is published at once and drained. Loads the trigger loop,
  the RocksDB state store and the partitioned landing; reads no
  parquet table.
- ``dedup_ingest``: closed loop over epochs of the near-duplicate
  corpus absorbed by ``streaming.pipeline.stream_absorb_epoch`` with
  maintained cluster labels. Loads ``operators.dedup_delta`` and
  ``operators.labels_store``; its base band index, seed labels and
  staged epochs are built in set-up through ``sources.layout_cache``.
"""

from __future__ import annotations

import glob
import json
import os
import random
import shutil
import statistics
import time
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.dataset as pads
import pyarrow.parquet as pq

import gen
import tracing

# A fixed multiset: every key once per round, in a seeded order. Few,
# cheap keys from each family, so a window runs whole rounds of the
# same mix many times (about 35 queries in 10 s on 4 slots); an odd
# count, so the median latency sits on one key's samples.
OLAP_KEYS = (
    "q3_shipping_priority",             # plans.olap: three-way join, top-n
    "q6_forecast_revenue",              # plans.olap: filtered scan + sum
    "funnel",                           # plans.events_analytics
    "sessionization",                   # plans.events_analytics: windows
    "price_extraction",                 # the reference's catalog ETL
)
# Warm-up rounds before the window: this mix's round time stops falling
# after about five (8.7 s cold, 1.4 s warm on a 4-vCPU VM); with fewer
# the JIT is still compiling through the window, at a pace set by
# whatever else the box runs.
OLAP_WARM_ROUNDS = 5
OLAP_TABLES = ("customer", "orders", "lineitem", "events", "part")   # read by the mix

# event_stream sizing. The paced rate is about two-thirds of the drain
# rate measured at the commit that introduced the benchmark (4 task
# slots), so the paced phase must not build a backlog.
EVENTS_PER_FILE = 100
PACED_FILES_PER_S = 20.0
PACED_SHARE = 0.6            # of --seconds; the rest drains the backlog
BACKLOG_FILES = 150
MAX_FILES_PER_TRIGGER = 20
REDELIVER_SHARE = 0.05
EVENT_STEP_US = 5_000_000    # event-time spacing of the simulator

# dedup_ingest sizing.
# whole blocks of the corpus (gen.py), so every epoch absorbs the same
# number of planted pairs
DEDUP_BASE_DOCS = 400
DEDUP_EPOCH_DOCS = 40
DEDUP_THRESHOLD = 0.8
# one cold build (about 20 s on 4 slots) is a third of a run; a run
# affords one
DEDUP_SETUP_REPS = 1
DEDUP_WARM_EPOCHS = 1


def _pct(values, q: float):
    """The q-quantile (0 < q < 1) by the inclusive method, or None when
    fewer than ten samples lie beyond it."""
    if len(values) * (1 - q) < 10:
        return None
    return float(np.quantile(np.asarray(values, dtype=float), q))


def _median(values):
    return statistics.median(values) if values else None


class Window:
    """What one timed window measured."""

    def __init__(self):
        self.t0 = self.t1 = 0.0
        self.attempted = 0         # operations started in the window
        self.ops: list[tuple[float, float]] = []   # per-op wall intervals
        self.latencies: list[float] = []
        self.throughput = 0.0
        self.lag_s = 0.0
        self.backlog_files = 0     # published, not yet landed
        self.backlog_growth = 0    # over the second half of a paced phase
        self.report: dict[str, tuple[float, str]] = {}
        self.layers: dict[str, tuple[float, str]] = {}


class Workload:
    name = ""
    setup_reps = 3   # set-ups per run; setup_s takes their median

    def __init__(self, spark, root: str, seed: int, seconds: float,
                 smoke: bool, windows: int):
        self.spark, self.root, self.seed = spark, root, seed
        self.seconds, self.smoke, self.windows = seconds, smoke, windows
        self.attempted = 0     # all operations, warm-up included
        self.query = None

    def close(self) -> None:
        if self.query is not None and self.query.isActive:
            self.query.stop()

    def _dir(self, rep: int) -> str:
        d = os.path.join(self.root, f"setup{rep}")
        os.makedirs(d, exist_ok=True)
        return d


# --- olap_mix -----------------------------------------------------------

class OlapMix(Workload):
    name = "olap_mix"

    def generate(self) -> None:
        self.sf_dir = os.path.join(self.root, "sf")
        gen.write_tables(self.sf_dir, self.seed, 0.001 if self.smoke else 0.01)

    def setup(self, rep: int) -> None:
        """Library input: the mix's tables through ``sources.tables``."""
        from last_minute_legends_spark.sources.tables import load_table

        for name in OLAP_TABLES:
            load_table(self.spark, self.sf_dir, name).count()

    def _run(self, fn) -> None:
        fn(self.spark, self.sf_dir).write.mode("overwrite").format("noop").save()

    def warm(self) -> None:
        from last_minute_legends_spark.plans.queries import QUERIES

        self.ran: list[str] = []
        self.raised = 0
        for _ in range(OLAP_WARM_ROUNDS):
            for key in OLAP_KEYS:
                self._run(QUERIES[key])
        self.attempted += OLAP_WARM_ROUNDS * len(OLAP_KEYS)

    def window(self, store=None) -> Window:
        from last_minute_legends_spark.plans.queries import QUERIES

        fns = {k: QUERIES[k] for k in OLAP_KEYS}
        if store is not None:
            fns = {k: tracing.wrap(store, "plans." + f.__module__.rsplit(".", 1)[1], f)
                   for k, f in fns.items()}
        rng = random.Random(self.seed)
        order: list[str] = []
        per_query: list[float] = []
        round_s: list[float] = []   # query latencies of the current round
        w = Window()
        w.t0 = prev = time.time()
        # whole rounds only, so every window runs the same query mix
        while order or time.time() - w.t0 < self.seconds:
            if not order:
                order = list(OLAP_KEYS)
                rng.shuffle(order)
                round_s = []
            key = order.pop()
            start = time.time()
            w.lag_s = max(w.lag_s, start - prev)
            w.attempted += 1
            try:
                self._run(fns[key])
            except Exception as exc:  # one failed query, not the run
                print(f"olap_mix: {key} failed: {exc!r}"[:500], flush=True)
                self.raised += 1
            else:
                w.ops.append((start, time.time()))
                per_query.append(w.ops[-1][1] - start)
                round_s.append(per_query[-1])
                self.ran.append(key)
            prev = time.time()
            if not order and len(round_s) == len(OLAP_KEYS):
                w.latencies.append(sum(round_s) / len(round_s))
        w.t1 = time.time()
        self.attempted += w.attempted
        w.throughput = len(per_query) / (w.t1 - w.t0)
        w.report = {
            "olap.queries_per_s": (w.throughput, "1/s"),
            "olap.query_p50_s": (_median(per_query), "s"),
            "olap.query_p80_s": (_pct(per_query, 0.8), "s"),
            "olap.rounds": (len(w.latencies), "count"),
        }
        return w

    def check(self) -> tuple[int, list[str]]:
        """Each key's result against its DuckDB SQL, normalized and
        row-sorted the way the repo's oracle tests do; a mismatching key
        fails every window run of it. A float may differ from the oracle
        by one unit in the last decimal the oracle printed (at most a
        cent): both engines round a double sum, and summing in another
        order can put the two sums on either side of a half-cent."""
        from tests.oracle import _norm_frame, run_oracle
        from last_minute_legends_spark.plans import queries

        sql = {**queries.ORACLE_SQL, **queries.LOCAL_ORACLE_SQL}
        failed, notes = self.raised, []
        if self.raised:
            notes.append(f"{self.raised} window queries raised")
        for key in OLAP_KEYS:
            try:
                got = _norm_frame(queries.QUERIES[key](self.spark,
                                                       self.sf_dir).toPandas())
                want = _norm_frame(run_oracle(sql[key], self.sf_dir))
                issue = _frame_mismatch(got, want)
            except Exception as exc:
                issue = repr(exc)[:300]
            if issue:
                failed += max(self.ran.count(key), 1)
                notes.append(f"{key}: {issue}")
        return failed, notes


def _frame_mismatch(got, want) -> str | None:
    (gcols, grows), (wcols, wrows) = got, want
    if gcols != wcols:
        return f"columns {gcols} != {wcols}"
    if len(grows) != len(wrows):
        return f"{len(grows)} rows != {len(wrows)}"
    for g, w in zip(grows, wrows):
        for a, b in zip(g, w):
            if a != b and not (isinstance(a, float) and isinstance(b, float)
                               and abs(a - b) <= _last_unit(b) + 1e-9 * abs(b)):
                return f"row {g} != oracle {w}"
    return None


def _last_unit(x: float) -> float:
    """One unit in the last decimal of ``repr(x)``, at most a cent
    (0.01 for 526381.06 and for 526381.0, 0.0001 for 0.1235)."""
    digits = repr(x).partition(".")[2]
    return 10.0 ** -max(len(digits), 2) if digits.isdigit() else 0.0


# --- event_stream -------------------------------------------------------

class EventStream(Workload):
    name = "event_stream"
    warm_files = 30

    def _files_needed(self) -> int:
        per = int(self.seconds * PACED_SHARE * PACED_FILES_PER_S) + BACKLOG_FILES
        return self.warm_files + self.windows * per

    def generate(self) -> None:
        from last_minute_legends_spark.sources.simulator import (
            simulate_user_activity,
        )

        n_files = self._files_needed()
        sim = (simulate_user_activity(self.spark, n_files * EVENTS_PER_FILE,
                                      step_us=EVENT_STEP_US, seed=self.seed)
               .select("timestamp", "event_name", "user_id").toPandas())
        rows = [(i, int(ts), ev, int(uid)) for i, (ts, ev, uid)
                in enumerate(sim.itertuples(index=False))]
        self.topic = gen.topic_files(rows, self.seed, n_files, REDELIVER_SHARE)

    def _publish(self, i: int) -> None:
        tmp = os.path.join(self.in_dir, f".f{i:06d}.tmp")
        with open(tmp, "w") as fh:
            fh.write(self.topic[i])
        os.rename(tmp, os.path.join(self.in_dir, f"f{i:06d}.json"))

    def _batches(self) -> dict[int, tuple[float, list[int]]]:
        """Committed micro-batches: query batch id → (commit time, file
        indices). The file source logs files under its own batch ids,
        which advance only when files arrive; the query's offset log
        maps each query batch to the source log id it read up to."""
        files: dict[int, list[int]] = {}
        for path in glob.glob(os.path.join(self.ckpt, "sources", "0", "*")):
            with open(path) as fh:
                for line in fh.read().splitlines()[1:]:
                    e = json.loads(line)
                    name = os.path.basename(e["path"])
                    files.setdefault(e["batchId"], []).append(int(name[1:7]))
        out, seen = {}, -1
        offsets = glob.glob(os.path.join(self.ckpt, "offsets", "[0-9]*"))
        for q in sorted(int(os.path.basename(p)) for p in offsets):
            with open(os.path.join(self.ckpt, "offsets", str(q))) as fh:
                upto = json.loads(fh.read().splitlines()[2])["logOffset"]
            commit = os.path.join(self.ckpt, "commits", str(q))
            if upto > seen and os.path.exists(commit):
                idx = [i for b in range(seen + 1, upto + 1)
                       for i in files.get(b, ())]
                out[q] = (os.path.getmtime(commit), idx)
                seen = upto
        return out

    def setup(self, rep: int) -> None:
        """Start the query on a fresh checkpoint and land the warm-up
        files; every set-up but the last stops its query again."""
        from last_minute_legends_spark.sources.partitioned_events import (
            day_partition_epoch_sink,
        )
        from last_minute_legends_spark.sources.streams import (
            file_json_stream, parse_event_json,
        )
        from last_minute_legends_spark.streaming.pipeline import (
            scaled_state_partitions,
        )

        if self.query is not None:
            self.query.stop()
        d = self._dir(rep)
        self.in_dir = os.path.join(d, "in")
        self.ckpt = os.path.join(d, "ckpt")
        self.landed = os.path.join(d, "landed")
        os.makedirs(self.in_dir)
        land = day_partition_epoch_sink(self.landed)
        self.store = None
        self.sink_errors = 0

        def sink(batch_df, epoch_id):
            try:
                if self.store is None:
                    land(batch_df, epoch_id)
                else:
                    with self.store.span("landing.sink"):
                        land(batch_df, epoch_id)
            except Exception as exc:  # fails this batch's files
                print(f"event_stream: batch {epoch_id} failed: {exc!r}"[:500],
                      flush=True)
                self.sink_errors += 1

        stream = parse_event_json(file_json_stream(
            self.spark, self.in_dir, max_files_per_trigger=MAX_FILES_PER_TRIGGER))
        deduped = (stream.withWatermark("ts", "1 hour")
                   .dropDuplicatesWithinWatermark(["event_id"]))
        for i in range(self.warm_files):
            self._publish(i)
        with scaled_state_partitions(self.spark, self.in_dir):
            self.query = (deduped.writeStream.foreachBatch(sink)
                          .option("checkpointLocation", self.ckpt).start())
        self.query.processAllAvailable()
        self.attempted += self.warm_files
        if rep < self.setup_reps - 1:
            self.query.stop()
        self.next_file = self.warm_files

    def warm(self) -> None:
        """The set-ups ran the whole path; only the count is left."""
        self.landed_files = _count_files(self.landed)

    def window(self, store=None) -> Window:
        w = Window()
        self.store = store
        n_paced = int(self.seconds * PACED_SHARE * PACED_FILES_PER_S)
        first = self.next_file
        due: dict[int, float] = {}
        # the window's triggers, by batch id: a trigger's progress can be
        # posted after processAllAvailable has returned
        first_batch = 1 + max((int(n) for n in os.listdir(
            os.path.join(self.ckpt, "commits")) if n.isdigit()), default=-1)
        def unlanded() -> int:
            landed = {i for _, idx in self._batches().values() for i in idx}
            return sum(1 for i in due if i not in landed)

        w.t0 = time.time()
        for k in range(n_paced):
            d = w.t0 + k / PACED_FILES_PER_S
            while (now := time.time()) < d:
                time.sleep(min(d - now, 0.005))
            self._publish(first + k)
            due[first + k] = d
            w.lag_s = max(w.lag_s, time.time() - d)
            if k == n_paced // 2:
                mid_backlog = unlanded()
        w.backlog_files = unlanded()
        w.backlog_growth = w.backlog_files - mid_backlog
        tb = time.time()
        back = range(first + n_paced, first + n_paced + BACKLOG_FILES)
        for i in back:
            self._publish(i)
            due[i] = tb
        w.lag_s = max(w.lag_s, time.time() - tb)
        self.query.processAllAvailable()
        w.t1 = time.time()
        self.next_file = back.stop
        w.attempted = len(due)
        self.attempted += w.attempted
        commit_of = {i: c for c, idx in self._batches().values() for i in idx}
        w.latencies = [commit_of[i] - due[i]
                       for i in range(first, first + n_paced) if i in commit_of]
        drain_end = max(commit_of.get(i, w.t1) for i in back)
        drained = sum(self.topic[i].count("\n") for i in back)
        progress = [p for p in self.query.recentProgress
                    if p.batchId >= first_batch]
        batches = [_progress(p) for p in progress]
        w.ops = [(p["timestamp_s"], p["end_s"]) for p in batches]
        # While the backlog lasts the triggers run back to back; the
        # median of their rates is not moved by one slow trigger or by
        # how full the last one is, as the drain's wall time is.
        rates = [p["numInputRows"] / (p["end_s"] - p["timestamp_s"])
                 for p in batches if p["timestamp_s"] >= tb
                 and p["numInputRows"] > 0 and p["end_s"] > p["timestamp_s"]]
        w.throughput = _median(rates) or 0.0
        w.report = {
            "stream.freshness_p50_s": (_median(w.latencies), "s"),
            "stream.freshness_p90_s": (_pct(w.latencies, 0.9), "s"),
            "stream.drain_eps": (w.throughput, "1/s"),
            "stream.drain_batches": (len(rates), "count"),
            "stream.drain_wall_eps": (drained / (drain_end - tb), "1/s"),
        }
        if store is not None:
            w.layers.update(_trigger_layers(progress))
            w.layers.update(_state_layers(progress))
        n_files = _count_files(self.landed)
        w.layers["landing.files_written"] = (n_files - self.landed_files, "count")
        self.landed_files = n_files
        self.store = None
        return w

    def check(self) -> tuple[int, list[str]]:
        """The landed rows must equal the distinct published events; a
        file fails when any of its original events is missing, wrong
        or landed twice."""
        self.query.stop()
        expected: dict[int, tuple] = {}
        home: dict[int, int] = {}
        for i in range(self.next_file):
            for line in self.topic[i].splitlines():
                e = json.loads(line)
                key = (e["ts_us"], e["user_id"], e["event_type"], e["value"],
                       e["props"])
                home.setdefault(e["event_id"], i)
                expected.setdefault(e["event_id"], key)
        tbl = pads.dataset(self.landed, format="parquet",
                           partitioning="hive").to_table(
            columns=["event_id", "ts", "user_id", "event_type", "value", "props"])
        cols = tbl.to_pydict()
        # Spark lands INT96 timestamps, which arrow reads as nanoseconds
        ts = tbl.column("ts")
        ts_us = ts.cast(pa.timestamp("us", tz=ts.type.tz)).cast("int64").to_pylist()
        seen: dict[int, int] = {}
        bad_files: set[int] = set()
        notes = []
        for eid, ts, uid, ev, val, props in zip(
                cols["event_id"], ts_us, cols["user_id"], cols["event_type"],
                cols["value"], cols["props"]):
            seen[eid] = seen.get(eid, 0) + 1
            if expected.get(eid) != (ts, uid, ev, val, props) or seen[eid] > 1:
                bad_files.add(home.get(eid, -1))
        for eid, i in home.items():
            if eid not in seen:
                bad_files.add(i)
        if bad_files:
            notes.append(f"{len(bad_files)} files with missing/wrong/duplicate "
                         f"events ({len(seen)} landed, {len(expected)} expected)")
        if self.sink_errors:
            notes.append(f"{self.sink_errors} failed sink batches")
        return len(bad_files), notes


def _progress(p) -> dict:
    """A StreamingQueryProgress as a dict, with its trigger start and
    end as epoch seconds."""
    d = json.loads(p.json)
    start = datetime.fromisoformat(d["timestamp"].replace("Z", "+00:00")).timestamp()
    d["timestamp_s"] = start
    d["end_s"] = start + d["durationMs"].get("triggerExecution", 0) / 1000
    return d


def _trigger_layers(progress) -> dict:
    ps = [_progress(p) for p in progress]
    data = [p for p in ps if p.get("numInputRows", 0) > 0] or ps

    def mean_ms(key):
        vals = [p["durationMs"].get(key, 0) for p in data]
        return (sum(vals) / len(vals) if vals else 0.0, "ms")

    return {
        "trigger.execution_ms": mean_ms("triggerExecution"),
        "trigger.add_batch_ms": mean_ms("addBatch"),
        "trigger.query_planning_ms": mean_ms("queryPlanning"),
        "trigger.wal_commit_ms": mean_ms("walCommit"),
        "trigger.latest_offset_ms": mean_ms("latestOffset"),
        "trigger.commit_offsets_ms": mean_ms("commitOffsets"),
        "trigger.input_rows": (sum(p.get("numInputRows", 0) for p in ps), "count"),
    }


def _state_layers(progress) -> dict:
    ops = [s for p in map(_progress, progress) for s in p.get("stateOperators", [])]
    last = ops[-1] if ops else {}
    return {
        "state.rows_total": (max(last.get("numRowsTotal", 0), 0), "count"),
        "state.memory_mb": (last.get("memoryUsedBytes", 0) / 2**20, "MB"),
        "state.commit_ms": (sum(s.get("commitTimeMs", 0) for s in ops)
                            / max(len(ops), 1), "ms"),
        "state.rows_dropped_late": (sum(s.get("numRowsDroppedByWatermark", 0)
                                        for s in ops), "count"),
    }


# --- dedup_ingest -------------------------------------------------------

class DedupIngest(Workload):
    name = "dedup_ingest"
    setup_reps = DEDUP_SETUP_REPS

    def _n_epochs(self) -> int:
        # enough staged epochs for warm-up plus every window at a fast
        # one epoch per second
        return DEDUP_WARM_EPOCHS + self.windows * (int(self.seconds) + 4)

    def generate(self) -> None:
        self.sf_dir = os.path.join(self.root, "sf")
        os.makedirs(self.sf_dir)
        self.corpus = os.path.join(self.sf_dir, "documents.parquet")
        gen.write_corpus(self.corpus, self.seed,
                         DEDUP_BASE_DOCS + self._n_epochs() * DEDUP_EPOCH_DOCS)
        rows = pq.read_table(self.corpus).to_pylist()
        self.topic = os.path.join(self.root, "topic")
        os.makedirs(self.topic)
        for e in range(self._n_epochs()):
            lo = DEDUP_BASE_DOCS + e * DEDUP_EPOCH_DOCS
            with open(os.path.join(self.topic, f"e{e:05d}.json"), "w") as fh:
                fh.writelines(json.dumps(r) + "\n" for r in
                              rows[lo:lo + DEDUP_EPOCH_DOCS])

    def setup(self, rep: int) -> None:
        """The base band index, base corpus and seed labels store,
        built through ``sources.layout_cache`` in a cache root of this
        set-up's own, so every build is cold."""
        from pyspark.sql import functions as F

        from last_minute_legends_spark.operators.dedup import (
            connected_components,
        )
        from last_minute_legends_spark.operators.dedup_delta import (
            stored_pairs, write_band_index,
        )
        from last_minute_legends_spark.operators.labels_store import (
            write_labels_store,
        )
        from last_minute_legends_spark.sources import layout_cache
        from last_minute_legends_spark.sources.tables import load_table

        d = self._dir(rep)
        os.environ["SPARK_GRAFT_LAYOUT_CACHE"] = os.path.join(d, "layouts")
        docs = load_table(self.spark, self.sf_dir, "documents").select(
            "doc_id", "text")

        def build(tmp: str) -> None:
            base = docs.filter(F.col("doc_id") < DEDUP_BASE_DOCS)
            write_band_index(base, os.path.join(tmp, "idx"), DEDUP_THRESHOLD)
            base.write.parquet(os.path.join(tmp, "corpus"))
            write_labels_store(
                connected_components(stored_pairs(self.spark,
                                                  os.path.join(tmp, "idx"))),
                os.path.join(tmp, "labels"))

        built = layout_cache.build_once(layout_cache.layout_dir(
            "perfbench_dedup_base", self.corpus, "v1"), build)
        self.work = os.path.join(d, "work")
        # a private hardlinked copy: the stream appends to it
        shutil.copytree(built, self.work, copy_function=os.link)
        self.next_epoch = 0

    def _start(self) -> None:
        from pyspark.sql import functions as F

        from last_minute_legends_spark.streaming import pipeline

        self.in_dir = os.path.join(self.work, "in")
        os.makedirs(self.in_dir)
        self.done: dict[int, float] = {}
        self.errors: set[int] = set()

        def absorb(batch_df, epoch_id):
            try:
                pipeline.stream_absorb_epoch(
                    self.spark, batch_df, epoch_id,
                    os.path.join(self.work, "idx"),
                    os.path.join(self.work, "corpus"), DEDUP_THRESHOLD,
                    labels_dir=os.path.join(self.work, "labels"))
            except Exception as exc:  # fails this epoch only
                print(f"dedup_ingest: epoch {epoch_id} failed: {exc!r}"[:500],
                      flush=True)
                self.errors.add(int(epoch_id))
            self.done[int(epoch_id)] = time.time()

        parsed = (self.spark.readStream.format("text")
                  .option("maxFilesPerTrigger", 1).load(self.in_dir)
                  .select(F.from_json("value", "doc_id long, text string")
                          .alias("d")).select("d.*"))
        self.query = (parsed.writeStream.foreachBatch(absorb)
                      .option("checkpointLocation",
                              os.path.join(self.work, "ckpt")).start())

    def _deliver(self) -> float:
        e = self.next_epoch
        os.rename(os.path.join(self.topic, f"e{e:05d}.json"),
                  os.path.join(self.in_dir, f"e{e:05d}.json"))
        self.next_epoch += 1
        self.attempted += 1
        return time.time()

    def warm(self) -> None:
        self._start()
        for _ in range(DEDUP_WARM_EPOCHS):
            self._deliver()
            self.query.processAllAvailable()

    def window(self, store=None) -> Window:
        w = Window()
        labels = os.path.join(self.work, "labels")
        pairs0 = _parquet_rows(os.path.join(self.work, "idx", "pairs"))
        first_batch = len(self.done)
        rewritten = 0
        w.t0 = prev = time.time()
        while (time.time() - w.t0 < self.seconds
               and os.path.exists(os.path.join(
                   self.topic, f"e{self.next_epoch:05d}.json"))):
            before = _bucket_files(labels) if store is not None else None
            batch = len(self.done)
            start = self._deliver()
            w.attempted += 1
            w.lag_s = max(w.lag_s, start - prev)
            self.query.processAllAvailable()
            prev = time.time()
            end = self.done.get(batch, prev)
            if batch not in self.errors:   # check() counts the failures
                w.ops.append((start, end))
                w.latencies.append(end - start)
            if before is not None:
                after = _bucket_files(labels)
                rewritten += sum(1 for k in set(before) | set(after)
                                 if before.get(k) != after.get(k))
        w.t1 = time.time()
        docs = len(w.latencies) * DEDUP_EPOCH_DOCS
        w.throughput = docs / (w.t1 - w.t0)
        w.report = {
            "dedup.docs_per_s": (w.throughput, "1/s"),
            "dedup.epoch_p50_s": (_median(w.latencies), "s"),
        }
        if store is not None:
            n = max(len(w.ops), 1)
            new_pairs = _parquet_rows(os.path.join(self.work, "idx", "pairs")) - pairs0
            w.layers["dedup_delta.new_pairs"] = (new_pairs / n, "count")
            w.layers["dedup_delta.band_files"] = (
                _count_files(os.path.join(self.work, "idx", "bands")), "count")
            w.layers["labels_store.buckets_rewritten"] = (rewritten / n, "count")
            w.layers.update(_trigger_layers(
                [p for p in self.query.recentProgress
                 if p.batchId >= first_batch]))
        return w

    def check(self) -> tuple[int, list[str]]:
        """The maintained labels must equal single-shot connected
        components over the MinHash-LSH pairs of every delivered
        document; a mismatch fails every delivered epoch."""
        from pyspark.sql import functions as F

        from last_minute_legends_spark.operators.dedup import (
            connected_components, minhash_lsh_pairs,
        )
        from last_minute_legends_spark.operators.labels_store import (
            read_labels_store,
        )

        self.query.stop()
        n_docs = DEDUP_BASE_DOCS + self.next_epoch * DEDUP_EPOCH_DOCS
        docs = (self.spark.read.parquet(
            os.path.join(self.sf_dir, "documents.parquet"))
            .filter(F.col("doc_id") < n_docs))
        want = connected_components(minhash_lsh_pairs(docs, DEDUP_THRESHOLD))
        got = read_labels_store(self.spark, os.path.join(self.work, "labels"))
        want_rows = sorted(map(tuple, want.select("id", "cluster_id").collect()))
        got_rows = sorted(map(tuple, got.select("id", "cluster_id").collect()))
        notes = []
        failed = len(self.errors)
        if want_rows != got_rows:
            failed = self.next_epoch
            notes.append(f"labels differ: {len(got_rows)} maintained vs "
                         f"{len(want_rows)} single-shot")
        if self.errors:
            notes.append(f"{len(self.errors)} epochs raised")
        return failed, notes


def _count_files(path: str) -> int:
    return len(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))


def _parquet_rows(path: str) -> int:
    return sum(pq.read_metadata(f).num_rows for f in
               glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))


def _bucket_files(labels_dir: str) -> dict[str, tuple]:
    """Bucket directory → its file names (a rewrite changes them)."""
    out = {}
    for d in glob.glob(os.path.join(labels_dir, "labels", "lbk=*")):
        out[os.path.basename(d)] = tuple(sorted(os.listdir(d)))
    return out


WORKLOADS = {w.name: w for w in (OlapMix, EventStream, DedupIngest)}
