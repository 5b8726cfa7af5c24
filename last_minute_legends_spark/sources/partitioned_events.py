"""Write-time DATE partitioning for the events fact table.

The third write-time layout next to ``bucketed.py`` (co-located joins)
and ``ivf_index.py`` (ANN probes): at 100 TB an event stream lands
partitioned by day — ``partitionBy(event_day_us)`` parquet — so every
time-ranged query prunes to its days at PLANNING time (a static
``event_day_us >= lo`` PartitionFilter on the scan; the other N-2 day
directories are never listed, opened, or read — asserted in
tests/test_plans.py::test_events_partition_pruned_scan). The day
boundary rides as epoch micros of ``date_trunc('day', ts)`` — a plain
long, immune to partition-value string/timezone round-trips, and the
exact expression the rollup oracles already prove both engines agree
on (plans/events_analytics.py rollup_timeseries).

Range resolution reads the partition LISTING (the metastore analogue),
not the data: ``list_days`` is a driver-side directory scan of
bounded size (one entry per day — at 100 TB, thousands, not billions).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from last_minute_legends_spark.sources import swap

DAY_US = 86_400_000_000
_PART = "event_day_us"


def write_day_partitioned(events: DataFrame, path: str) -> None:
    """Persist events partitioned by the UTC day of ``ts`` (epoch
    micros of the day boundary). One exchange — the write-time
    repartition by day — paid once per corpus."""
    (events.withColumn(_PART, F.unix_micros(F.date_trunc("day", F.col("ts"))))
     .write.partitionBy(_PART).mode("overwrite").parquet(path))


def list_days(path: str) -> list[int]:
    """The day partitions present, from the directory listing (what a
    metastore partition listing returns on a cluster). Rows with a
    NULL ts land in Hive's default partition
    (``event_day_us=__HIVE_DEFAULT_PARTITION__``) — they have no day,
    so they are not a day partition and are skipped here (a day-range
    read never selects them; the oracle's ``day_us >= lo`` comparison
    excludes NULL days the same way)."""
    swap.recover(path)
    days = []
    for d in os.listdir(path):
        if not d.startswith(f"{_PART}="):
            continue
        val = d.split("=", 1)[1]
        if val == "__HIVE_DEFAULT_PARTITION__":
            continue
        days.append(int(val))
    return sorted(days)


def read_day_range(spark: SparkSession, path: str, lo_us: int,
                   hi_us: int | None = None) -> DataFrame:
    """Events with day partition in [lo_us, hi_us] — literal bounds,
    so the filter is a planning-time PartitionFilter, never a scan."""
    swap.recover(path)
    df = spark.read.parquet(path).filter(F.col(_PART) >= F.lit(lo_us))
    if hi_us is not None:
        df = df.filter(F.col(_PART) <= F.lit(hi_us))
    return df


def day_partition_epoch_sink(path: str):
    """``foreachBatch`` sink landing micro-batches into the
    day-partitioned layout with per-epoch idempotence — the scale-safe
    warehouse landing (the JDBC/Derby epoch sink demonstrates the
    same semantics against a database; THIS is what survives 100 TB).

    Each batch writes ``partitionBy(event_day_us, epoch)`` with
    DYNAMIC partition overwrite: a redelivered epoch (sink failure →
    Structured Streaming re-runs the batch with the SAME epoch_id)
    replaces exactly its own (day, epoch) partitions — REPLACE, never
    duplicate — while other epochs' partitions under the same day are
    untouched. Dynamic overwrite alone only replaces partitions
    PRESENT in the redelivered batch, so the sink first drops every
    existing ``epoch=N`` directory (a bounded metadata listing — one
    entry per day; the FileSystem-API analogue on a cluster), giving
    the same strict REPLACE the JDBC epoch sink's DELETE WHERE
    epoch=N provides. Idempotence is locked by
    tests/test_streaming.py::test_day_partition_sink_idempotent."""
    import shutil

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        if os.path.isdir(path):
            for d in os.listdir(path):
                if d.startswith(f"{_PART}="):
                    shutil.rmtree(
                        os.path.join(path, d, f"epoch={int(epoch_id)}"),
                        ignore_errors=True)
        (batch_df
         .withColumn(_PART,
                     F.unix_micros(F.date_trunc("day", F.col("ts"))))
         .withColumn("epoch", F.lit(int(epoch_id)))
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy(_PART, "epoch")
         .parquet(path))

    return sink


def merge_day_partitioned(spark: SparkSession, path: str,
                          changes: DataFrame, key: str = "event_id") -> list[int]:
    """MERGE (upsert) a change-set into a day-partitioned layout:
    rows in ``changes`` replace base rows with the same ``key`` and
    new keys insert — rewriting ONLY the touched day partitions,
    never the table. Returns the touched day list.

    The CDC compaction pattern at 100 TB: the change-set names its
    days (bounded driver collect — days, not rows), the base side is
    read with a planning-time ``event_day_us IN (...)`` partition
    filter (the untouched 99.x% of the table is never listed, opened,
    or read), the merged partitions are written to a staging
    directory, and the touched day directories are swapped in as one
    group of metadata moves (sources/swap.py, under the table's
    writer lock): a crash anywhere leaves every touched day old or
    every one new, settled by the next read. Untouched partition
    files keep their identity — asserted byte-for-byte in tests (only
    touched partitions rewrite). ``changes`` must carry
    ``event_day_us``."""
    days = sorted(r[0] for r in
                  changes.select(_PART).distinct().collect()
                  if r[0] is not None)
    if not days:
        return []
    with swap.owner(path):
        base = spark.read.parquet(path).filter(F.col(_PART).isin(days))
        merged = (base.join(changes.select(key).distinct(), key,
                            "left_anti")
                  .unionByName(changes.select(*base.columns)))
        staged = swap.staging_path(path)
        merged.write.mode("overwrite").partitionBy(_PART).parquet(staged)
        entries = {}
        for d in days:
            src = os.path.join(staged, f"{_PART}={d}")
            entries[f"{_PART}={d}"] = src if os.path.exists(src) else None
        swap.swap(path, entries)
    return days


def compact_day_partitions(spark: SparkSession, path: str, out_path: str,
                           target_bytes: int = 128 << 20) -> None:
    """Small-file compaction for a day-partitioned layout — the
    maintenance pass every streamed-in table needs at 100 TB (a
    landing writes files per (epoch × task); a day ends up as
    hundreds of small files, and small files are the classic scan
    killer: per-file open/footer cost dominates and row-group
    pruning degrades).

    Single distributed pass, no per-day driver loop: per-day byte
    sizes come from the LISTING (bounded metadata — one entry per
    day), each day gets a file quota ceil(bytes/target), and rows
    are salted ``pmod(hash(id), quota)`` so ONE shuffle
    ``repartition(day, salt)`` bin-packs every day into at most its
    quota of output files (hash collisions can only merge salts —
    fewer, larger files, never more). Content is preserved exactly
    (epoch or other sub-partition columns fold back into data
    columns); the rewritten layout keeps planning-time day pruning.
    """
    import math

    swap.recover(path)
    quotas = []
    for d in os.listdir(path):
        if not d.startswith(f"{_PART}="):
            continue
        val = d.split("=", 1)[1]
        if val == "__HIVE_DEFAULT_PARTITION__":
            continue
        root = os.path.join(path, d)
        size = sum(os.path.getsize(os.path.join(dp, f))
                   for dp, _, fs in os.walk(root) for f in fs
                   if not f.startswith(("_", ".")))
        quotas.append((int(val), max(1, math.ceil(size / target_bytes))))
    if not quotas:
        raise ValueError(f"no day partitions under {path}")
    qdf = spark.createDataFrame(quotas, f"{_PART} long, n_files int")
    df = spark.read.parquet(path)
    # EXPLICIT partition count (total quota): an unnumbered
    # repartition participates in AQE partition coalescing, which
    # merges the (day, salt) groups back into few tasks and collapses
    # the per-day file counts the quota exists to control
    n_total = sum(n for _, n in quotas)
    salted = (
        df.join(F.broadcast(qdf), _PART)
        .withColumn("salt", F.pmod(F.xxhash64("event_id"),
                                   F.col("n_files")))
        .repartition(n_total, F.col(_PART), F.col("salt"))
        .drop("n_files", "salt")
    )
    salted.write.partitionBy(_PART).mode("overwrite").parquet(out_path)
