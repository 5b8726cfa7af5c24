"""Write-time IVF partitioning: partition-pruned ANN probes.

This makes SURVEY §6's claim executable: "at 100 TB the bucket
assignment is a write-time partitioning, so a probe reads only
n_probe/n_centroids of the data". The trained assignment is
materialized ONCE as ``partitionBy("bucket")`` parquet (the centroid
model rides along as a k-row side table), and every probe then reads
ONLY its n_probe bucket directories — a *static* planning-time
partition filter (``PartitionFilters: bucket IN (...)`` on the scan,
asserted in tests/test_plans.py::test_ivf_probe_prunes_partitions),
not a runtime filter over a full scan. With the centroid count scaled
to hold bucket size constant (k ≈ n/TARGET_BUCKET_ROWS, see
plans/ann_q.py), probe cost is independent of corpus size — the
measured flat ladder in scale_local.json (``ann_ivf_probe_indexed``).

Economics mirror sources/bucketed.py: the expensive pass (argmax
assignment over the full corpus — narrow, no shuffle; the writer's
partitionBy is the only exchange) is paid once at write time and
amortized over every probe.

Reference parity: the reference has no ANN surface at all
(SURVEY §2.4 extends it); this is the scale path for the operator
family introduced there.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from last_minute_legends_spark.functions.vectors import cosine
from last_minute_legends_spark.operators.similarity import assign_buckets
from last_minute_legends_spark.sources import swap

_DATA = "data"
_CENTROIDS = "centroids"
_META = "meta"

# index_health trigger thresholds, calibrated on the clustered-regime
# drift experiment (BASELINE_LOCAL r14): retrain when more than half
# the index is post-train mass (even distribution-stationary appends
# then double every probed bucket's read cost), or when the
# most-grown bucket outgrows what uniform append explains by >25% —
# the disproportion statistic separates stationary (≈1.0 at every
# appended fraction) from drifted ingest (1.15 at 10% drifted
# appends, 1.9 at 100%) long before recall visibly degrades.
APPEND_RETRAIN_FRAC = 0.5
SKEW_RETRAIN_RATIO = 1.25


def write_ivf_index(candidates: DataFrame, centroids: DataFrame,
                    path: str) -> None:
    """Materialize (id, v, nrm) candidates as an IVF index at
    ``path``: parquet partitioned by the argmax-cosine bucket, plus
    the k-row centroid model the probe side needs. Assignment is a
    narrow map (broadcast centroid model, operators/similarity.py);
    the write's partitionBy is the single exchange — the one shuffle
    this index ever costs.

    Also writes a ``meta`` manifest of per-bucket TRAINED row counts
    (k rows, computed from parquet footer counts of the just-written
    layout — no data read), the baseline ``index_health`` compares
    appended growth against."""
    assigned = assign_buckets(candidates, centroids)
    (assigned.write.partitionBy("bucket").mode("overwrite")
     .parquet(os.path.join(path, _DATA)))
    (centroids.write.mode("overwrite")
     .parquet(os.path.join(path, _CENTROIDS)))
    spark = candidates.sparkSession
    (spark.read.parquet(os.path.join(path, _DATA))
     .groupBy("bucket").agg(F.count(F.lit(1)).alias("n_trained"))
     .coalesce(1)
     .write.mode("overwrite").parquet(os.path.join(path, _META)))


def append_ivf_index(spark: SparkSession, new_vectors: DataFrame,
                     path: str) -> None:
    """Absorb new vectors into a WRITTEN index without retraining:
    assignment against the frozen centroid model (the same narrow
    broadcast-literal map as the initial write) and a
    ``mode("append")`` partitioned write — only the buckets the new
    vectors land in gain files; existing files are never rewritten or
    even listed. This is the index's ingest path at 100 TB: per-batch
    cost ∝ batch size, and probes see the new vectors immediately
    (probe_topk reads bucket directories, which now include the
    appended files — parity with a fresh same-centroid build over
    base ∪ delta is locked by tests/test_ivf_append.py).

    Recall caveat, stated plainly: frozen centroids drift from the
    true cluster structure as the appended fraction grows — the
    assignment stays CORRECT (argmax over the same model the probe
    uses, so probe semantics are exact within probed buckets), but
    bucket sizes skew and the n_probe recall slowly degrades. Like
    compact_small_files for streamed landings, a scheduled retrain
    (write_ivf_index with fresh train_centroids) is the maintenance
    pass; the append keeps ingest off the retrain's critical path."""
    cent = spark.read.parquet(os.path.join(path, _CENTROIDS))
    assigned = assign_buckets(new_vectors, cent)
    (assigned.write.partitionBy("bucket").mode("append")
     .parquet(os.path.join(path, _DATA)))


def index_health(spark: SparkSession, path: str) -> dict:
    """Cheap retrain trigger for an appended index — parquet footer
    counts only, no vector reads, no recall measurement:

    - ``appended_frac``: post-train mass relative to the trained
      manifest. Past APPEND_RETRAIN_FRAC even distribution-stationary
      appends have inflated every probed bucket's read cost enough
      that a retrain (which also re-levels bucket sizes) pays for
      itself.
    - ``disproportion``: max over buckets of current/trained growth,
      normalized by (1 + appended_frac) — what uniform append would
      explain. Stationary ingest holds ≈1.0 at ANY appended fraction;
      drifted ingest (new regions crowding into their nearest frozen
      buckets) reads 1.15 at 10% drifted appends and climbs
      (measured, BASELINE_LOCAL r14), so SKEW_RETRAIN_RATIO = 1.25
      fires on sustained drift before recall visibly degrades.

    ``retrain_recommended`` is the OR of the two. Raises
    FileNotFoundError for a pre-manifest index (rewrite with
    write_ivf_index to enable health tracking)."""
    meta_path = os.path.join(path, _META)
    if not os.path.isdir(meta_path):
        raise FileNotFoundError(
            f"no train manifest at {meta_path} — index predates health "
            "tracking; rewrite with write_ivf_index to enable it")
    trained = {int(r.bucket): int(r.n_trained)
               for r in spark.read.parquet(meta_path).collect()}
    current = {int(r.bucket): int(r.n)
               for r in spark.read.parquet(os.path.join(path, _DATA))
               .groupBy("bucket").agg(F.count(F.lit(1)).alias("n"))
               .collect()}
    n_trained = sum(trained.values())
    n_current = sum(current.values())
    appended_frac = (n_current - n_trained) / n_trained
    # A bucket can legitimately be EMPTY at train time (Lloyd on
    # small/clustered data) yet receive appends later; iterating only
    # trained buckets would make that crowding invisible. Growth for
    # such a bucket is computed against a 1-row floor, so any append
    # into a train-empty bucket registers as n-fold growth and trips
    # the disproportion trigger instead of hiding (ADVICE r14).
    max_growth = max(
        current.get(b, 0) / max(trained.get(b, 0), 1)
        for b in set(trained) | set(current))
    disproportion = max_growth / (1.0 + appended_frac)
    return {
        "n_trained": n_trained,
        "n_current": n_current,
        "appended_frac": round(appended_frac, 4),
        "max_bucket_growth": round(max_growth, 4),
        "disproportion": round(disproportion, 4),
        "retrain_recommended": (appended_frac > APPEND_RETRAIN_FRAC
                                or disproportion > SKEW_RETRAIN_RATIO),
    }


def rebuild_ivf_index(spark: SparkSession, path: str,
                      k: int | None = None, iters: int = 3) -> None:
    """The maintenance pass ``index_health`` recommends: read every
    vector out of the index (base + all appended files), train FRESH
    centroids over the full current population, write the re-leveled
    index to a staging directory, then swap its data, centroids and
    meta in as one group (sources/swap.py) — the old layout serves
    probes until the swap. The whole pass holds the index's writer
    lock, so two rebuilds cannot interleave; a crash anywhere leaves
    the old or the new index, settled by the next rebuild or probe
    (``probe_topk`` calls ``swap.recover``).

    ``k`` defaults to the existing model's centroid count; pass the
    adaptive k ≈ n/TARGET_BUCKET_ROWS when the index has grown enough
    that bucket sizes — not just centroid placement — need
    re-leveling. Closes the drift loop measured in BASELINE_LOCAL
    r14: drifted appends skew bucket growth and dent recall; after a
    rebuild the health stats return to baseline and recall to the
    fresh-index level (tested)."""
    from last_minute_legends_spark.operators.similarity import (
        train_centroids,
    )

    with swap.owner(path):
        data = spark.read.parquet(os.path.join(path, _DATA)).select(
            "id", "v", "nrm")
        if k is None:
            k = spark.read.parquet(os.path.join(path, _CENTROIDS)).count()
        centroids = train_centroids(data, k=k, iters=iters)
        staging = swap.staging_path(path)
        write_ivf_index(data, centroids, staging)
        swap.swap(path, {d: os.path.join(staging, d)
                         for d in (_DATA, _CENTROIDS, _META)})


# Above this many queries the probe falls back to the distributed
# bucket-join: the static IN-literal needs a driver collect that
# scales with query count, and at batch-ANN query volumes (e.g.
# corpus-vs-corpus joins) nearly every bucket is probed anyway, so
# planning-time pruning buys nothing — the fallback keeps everything
# executor-side (the r10 adaptive-branch pattern; parity locked by
# tests/test_operators.py::test_ivf_probe_static_distributed_parity).
PROBE_STATIC_MAX = 8_192


def probe_topk(spark: SparkSession, path: str, queries: DataFrame,
               k: int = 10, n_probe: int = 2,
               static_max: int = PROBE_STATIC_MAX) -> DataFrame:
    """Exact top-k within each query's ``n_probe`` nearest buckets of
    a written index — (q_id, rn, c_id, cosine), identical semantics
    (and tiebreaks) to operators.similarity.ivf_topk over the same
    model.

    SEARCH path (≤ ``static_max`` queries): the probe-bucket set is
    resolved on the driver so the data filter is a planning-time
    literal ``bucket IN (...)`` — that is what turns it into a scan
    PartitionFilter that never lists, opens, or reads the other
    k - n_probe bucket directories (a join-driven filter would at
    best prune at runtime via DPP, at worst scan everything). Only
    ``(q_id, bucket)`` int pairs are collected — n_queries × n_probe
    ints, model-parameter-sized; the query VECTORS never leave the
    executors (they re-attach via a broadcast join on q_id).

    BATCH path (> ``static_max`` queries): nothing is collected — the
    probe assignment joins the full index on ``bucket`` as an
    ordinary distributed join. At that query volume most buckets are
    probed anyway, so the lost pruning is worth ~nothing and the
    driver stays out of the data path entirely."""
    swap.recover(path)
    cent = spark.read.parquet(os.path.join(path, _CENTROIDS)).select(
        F.col("id").alias("cent_id"), F.col("v").alias("cv"),
        F.col("nrm").alias("cn"))
    q = queries.select(
        F.col("id").alias("q_id"), F.col("v").alias("qv"),
        F.col("nrm").alias("qn"))
    wq = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("cent_id"))
    assigned = (
        q.join(F.broadcast(cent))
        .withColumn("cos", cosine(F.col("qv"), F.col("qn"),
                                  F.col("cv"), F.col("cn")))
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= n_probe)
        .select("q_id", "qv", "qn", F.col("cent_id").alias("bucket"))
    )
    # bounded membership probe: one cheap job that stops at the
    # threshold instead of a full count over the query side
    small = q.limit(static_max + 1).count() <= static_max
    if small:
        pair_plan = assigned.select("q_id", "bucket")
        pairs = pair_plan.collect()          # ints only — never vectors
        pairs_df = spark.createDataFrame(pairs, pair_plan.schema)
        probes = q.join(F.broadcast(pairs_df), "q_id").select(
            "q_id", "qv", "qn", "bucket")
        buckets = sorted({int(r.bucket) for r in pairs})
        data = (spark.read.parquet(os.path.join(path, _DATA))
                .filter(F.col("bucket").isin(buckets)))
        scored = F.broadcast(probes).join(data, "bucket")
    else:
        data = spark.read.parquet(os.path.join(path, _DATA))
        scored = assigned.join(data, "bucket")
    scored = scored.withColumn(
        "cos", cosine(F.col("qv"), F.col("qn"), F.col("v"), F.col("nrm")))
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("id"))
    return (scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= k)
            .select("q_id", "rn", F.col("id").alias("c_id"),
                    F.round("cos", 4).alias("cosine")))
