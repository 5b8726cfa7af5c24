"""Bucket-partitioned cluster-labels store (operators/labels_store.py
— VERDICT r16 #1: make label maintenance epoch-sized END-TO-END):

- value contract: folding an epoch's edges must equal single-shot
  connected_components over the whole accumulated pair graph (the
  merge_cluster_labels contract the registry oracle re-checks
  cross-engine with a recursive CTE);
- I/O contract: the fold rewrites ONLY bucket directories holding a
  merge-map key — every file in an untouched bucket survives
  byte-for-byte, and a no-op epoch (already-connected edges,
  already-known nodes) touches ZERO buckets;
- crash/redelivery: a fold crashed anywhere in its swap settles to
  all-pre-fold or all-post-fold on the next read, and re-folding the
  same epoch converges (confluent merges).

The value-contract and crash tests run both fold paths: the local
union-find and _merge_distributed (LOCAL_EDGES_MAX patched to 0).
"""

from __future__ import annotations

import hashlib
import os

import pytest
from pyspark.sql import functions as F

from last_minute_legends_spark.operators import dedup
from last_minute_legends_spark.operators.dedup import (
    connected_components,
    minhash_lsh_pairs,
)
from last_minute_legends_spark.operators.labels_store import (
    merge_labels_store,
    read_labels_store,
    write_labels_store,
)
from last_minute_legends_spark.sources import swap
from last_minute_legends_spark.sources.tables import Catalog
from tests.swap_faults import (
    Crash, committing, crash_at, moving_in, moving_out,
)

THRESHOLD = 0.8

# LOCAL_EDGES_MAX caps the driver-side fold; the store reads it at call
# time, so 0 sends every non-empty epoch down _merge_distributed and
# the default keeps epoch-sized folds local
MERGE_PATHS = (0, dedup.LOCAL_EDGES_MAX)


def _merge_paths(monkeypatch):
    for cap in MERGE_PATHS:
        monkeypatch.setattr(dedup, "LOCAL_EDGES_MAX", cap)
        yield cap


def _labels(df) -> set:
    return {(r.id, r.cluster_id) for r in df.collect()}


def _file_hashes(root: str) -> dict[str, str]:
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if f.startswith(("_", ".")):
                continue
            p = os.path.join(dirpath, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.md5(
                    fh.read()).hexdigest()
    return out


def _edges(spark, rows):
    return spark.createDataFrame(rows, "doc_a long, doc_b long")


def test_merge_semantics_synthetic(spark, tmp_path, monkeypatch):
    """Cluster merge, new-node insertion, singleton passthrough, and
    min-id keeper election — against a hand-checkable graph."""
    for cap in _merge_paths(monkeypatch):
        path = str(tmp_path / f"store{cap}")
        # clusters {1,2} and {5,6}; singleton 9
        base = spark.createDataFrame(
            [(1, 1), (2, 1), (5, 5), (6, 5), (9, 9)],
            "id long, cluster_id long")
        write_labels_store(base, path)

        # edge bridging the two clusters + a brand-new node 42 joining 9
        out = merge_labels_store(spark, path,
                                 _edges(spark, [(2, 6), (9, 42)]))
        assert _labels(out) == {(1, 1), (2, 1), (5, 1), (6, 1),
                                (9, 9), (42, 9)}
        # persisted state agrees with the returned frame
        assert _labels(read_labels_store(spark, path)) == _labels(out)


def test_merge_equals_full_cc_and_prunes_io(spark, sf_dir, tmp_path,
                                            monkeypatch):
    """End-to-end on the real corpus: base labels from the base pair
    graph, fold the delta epoch's new edges, compare against
    single-shot CC over ALL pairs. Then the I/O contract: at least
    one bucket dir is untouched and every untouched file is
    byte-identical."""
    docs = Catalog(spark, sf_dir).documents.select("doc_id", "text")
    base_docs = docs.filter(F.col("doc_id") % 5 != 0)
    base_pairs = minhash_lsh_pairs(base_docs, THRESHOLD).persist()
    all_pairs = minhash_lsh_pairs(docs, THRESHOLD).persist()
    new_edges = all_pairs.join(base_pairs.select("doc_a", "doc_b"),
                               ["doc_a", "doc_b"], "left_anti").persist()
    assert new_edges.count() > 0, "vacuous: the epoch must add edges"

    base_labels = connected_components(base_pairs).localCheckpoint()
    expect = _labels(connected_components(all_pairs))
    for cap in _merge_paths(monkeypatch):
        path = str(tmp_path / f"store{cap}")
        write_labels_store(base_labels, path)
        h0 = _file_hashes(path)

        # read-only form first: must equal the full recompute
        ro = merge_labels_store(spark, path, new_edges, write=False)
        assert _labels(ro) == expect
        assert _file_hashes(path) == h0, "write=False must not mutate"

        # write form: same value, epoch-sized rewrite
        out = merge_labels_store(spark, path, new_edges, write=True)
        assert _labels(out) == expect
        h1 = _file_hashes(path)
        untouched = [f for f in h0 if f in h1 and h1[f] == h0[f]]
        assert untouched, "every bucket rewritten — pruning is broken"
        # byte identity is per-directory: a dir either survived whole
        # or was swapped whole
        changed_dirs = {os.path.dirname(f) for f in set(h0) ^ set(h1)} | {
            os.path.dirname(f) for f in h0 if f in h1 and h0[f] != h1[f]}
        for f in h0:
            if os.path.dirname(f) not in changed_dirs:
                assert h1.get(f) == h0[f]

        # redelivery: folding the SAME epoch again is a no-op — zero
        # bucket dirs change (confluence makes the retry safe without
        # epoch-versioned state)
        again = merge_labels_store(spark, path, new_edges, write=True)
        assert _labels(again) == expect
        assert _file_hashes(path) == h1
    for fr in (base_pairs, all_pairs, new_edges):
        fr.unpersist()


def test_empty_store_roundtrip_and_merge(spark, tmp_path, monkeypatch):
    """A seed corpus with NO duplicate pairs yet yields an EMPTY
    store — zero partition dirs. The recorded schema must make reads
    work (UNABLE_TO_INFER_SCHEMA otherwise — hit at sf0.01 where the
    stream seed quarter has no intra-quarter pairs), and the first
    real epoch must fold into it."""
    for cap in _merge_paths(monkeypatch):
        path = str(tmp_path / f"store{cap}")
        write_labels_store(
            spark.createDataFrame([], "id long, cluster_id long"), path)
        assert read_labels_store(spark, path).count() == 0
        out = merge_labels_store(spark, path, _edges(spark, [(2, 7)]))
        assert _labels(out) == {(2, 2), (7, 2)}
        assert _labels(read_labels_store(spark, path)) == {(2, 2), (7, 2)}


def test_noop_epoch_touches_zero_buckets(spark, tmp_path, monkeypatch):
    for cap in _merge_paths(monkeypatch):
        path = str(tmp_path / f"store{cap}")
        write_labels_store(spark.createDataFrame(
            [(1, 1), (2, 1)], "id long, cluster_id long"), path)
        h0 = _file_hashes(path)
        out = merge_labels_store(spark, path, _edges(spark, [(1, 2)]))
        assert _labels(out) == {(1, 1), (2, 1)}
        assert _file_hashes(path) == h0


def test_stream_epoch_label_redelivery_converges(spark, sf_dir,
                                                 tmp_path):
    """The streaming sink's label fold under foreachBatch's
    at-least-once contract: delivering the SAME epoch twice must
    leave the store exactly at the single-fold state (second fold =
    all-no-op by confluence), and the final labels must equal
    single-shot connected_components over the full pair graph."""
    from last_minute_legends_spark.operators.dedup_delta import (
        stored_pairs, write_band_index,
    )
    from last_minute_legends_spark.streaming.pipeline import (
        stream_absorb_epoch,
    )

    docs = Catalog(spark, sf_dir).documents.select("doc_id", "text")
    base = docs.filter(F.col("doc_id") % 3 == 0)
    e1 = docs.filter(F.col("doc_id") % 3 == 1)
    e2 = docs.filter(F.col("doc_id") % 3 == 2)
    idx = str(tmp_path / "idx")
    corpus = str(tmp_path / "corpus")
    labels = str(tmp_path / "labels")
    write_band_index(base, idx, THRESHOLD)
    base.write.mode("overwrite").parquet(corpus)
    write_labels_store(connected_components(stored_pairs(spark, idx)),
                       labels)

    stream_absorb_epoch(spark, e1, 1, idx, corpus, THRESHOLD,
                        labels_dir=labels)
    after_once = _labels(read_labels_store(spark, labels))
    h1 = _file_hashes(labels)
    # redelivery of the SAME epoch: a pure no-op on the store
    stream_absorb_epoch(spark, e1, 1, idx, corpus, THRESHOLD,
                        labels_dir=labels)
    assert _labels(read_labels_store(spark, labels)) == after_once
    assert _file_hashes(labels) == h1

    stream_absorb_epoch(spark, e2, 2, idx, corpus, THRESHOLD,
                        labels_dir=labels)
    expect = _labels(connected_components(
        minhash_lsh_pairs(docs, THRESHOLD)))
    assert _labels(read_labels_store(spark, labels)) == expect


def test_merge_lock_serializes_and_recovery_skips_live(spark, tmp_path):
    """Concurrency discipline (the band-index lessons, pre-empted):
    a write-fold against a store whose writer lock names a LIVE
    foreign owner refuses (interleaved bucket swaps would corrupt the
    labeling); probe-side recovery skips the apparent mid-swap state
    of a live fold; a DEAD owner's lock is stolen, its stale staging
    dir swept, and the fold proceeds."""
    import subprocess

    path = str(tmp_path / "store")
    write_labels_store(spark.createDataFrame(
        [(1, 1), (2, 1)], "id long, cluster_id long"), path)
    root = os.path.join(path, "labels")
    lock = swap.lock_path(root)
    work = f"{root}__swap"

    # a fold that crashed with its buckets moved out, before its commit
    with crash_at(committing), pytest.raises(Crash):
        merge_labels_store(spark, path, _edges(spark, [(1, 5)]))
    stale = [os.path.join(work, d) for d in os.listdir(work)
             if d.startswith("staged_")]
    assert stale and os.listdir(os.path.join(work, "saved"))

    proc = subprocess.Popen(["sleep", "60"])
    try:
        with open(lock, "w") as fh:
            fh.write(str(proc.pid))
        with pytest.raises(RuntimeError, match="in flight"):
            merge_labels_store(spark, path, _edges(spark, [(1, 5)]))
        assert swap.recover(root) is False  # live fold: skip
        assert os.listdir(os.path.join(work, "saved"))
    finally:
        proc.kill()
        proc.wait()

    # dead owner: lock stolen, stale staging swept, fold proceeds
    with open(lock, "w") as fh:
        fh.write(str(proc.pid))
    out = merge_labels_store(spark, path, _edges(spark, [(1, 5)]))
    assert _labels(out) == {(1, 1), (2, 1), (5, 1)}
    assert not any(os.path.exists(d) for d in stale)
    assert not os.path.exists(lock)


def test_recover_stranded_bucket_dir(spark, tmp_path):
    """A crash between the rename-out and rename-in of a fold's bucket
    swap (before its commit) leaves the live bucket dirs missing — the
    next read restores them."""
    path = str(tmp_path / "store")
    write_labels_store(spark.createDataFrame(
        [(1, 1), (2, 1), (5, 5)], "id long, cluster_id long"), path)
    before = _labels(read_labels_store(spark, path))
    root = os.path.join(path, "labels")
    with crash_at(committing), pytest.raises(Crash):
        merge_labels_store(spark, path, _edges(spark, [(2, 5)]))
    assert swap.recover(root) is True
    assert _labels(read_labels_store(spark, path)) == before


@pytest.mark.parametrize("cap", MERGE_PATHS, ids=["distributed", "local"])
def test_fold_crash_loses_no_rows(spark, tmp_path, monkeypatch, cap):
    """A fold that merges cluster 7 (rows 7, 1007, 2007) into cluster
    1 rewrites two buckets: 7's bucket loses those rows and 1's bucket
    gains them. Replaced one bucket at a time, a crash between the two
    dropped the rows for good — 7's bucket already rewritten, 1's not
    — and re-folding the edge could only restore the endpoint 7.
    Crashed before or after its commit, the fold must now settle to
    the whole old or the whole new labeling, lose no id, and a
    re-fold must equal connected_components over all edges."""
    monkeypatch.setattr(dedup, "LOCAL_EDGES_MAX", cap)
    old = {(1, 1), (7, 7), (1007, 7), (2007, 7)}
    new = {(i, 1) for i, _ in old}
    expect = _labels(connected_components(
        _edges(spark, [(7, 1007), (7, 2007), (1, 7)])))
    assert expect == new
    for name, at in (("before commit", "out"), ("after commit", "in")):
        path = str(tmp_path / f"store_{at}")
        write_labels_store(spark.createDataFrame(
            sorted(old), "id long, cluster_id long"), path, n_buckets=16)
        root = os.path.join(path, "labels")
        bucket = {r.cluster_id: r.lbk for r in spark.read.parquet(root)
                  .select("cluster_id", "lbk").distinct().collect()}
        assert bucket[1] != bucket[7], "vacuous: one bucket"
        # the destination bucket is the last one the old swap reached
        dest = os.path.join(root, f"lbk={bucket[1]}")
        point = moving_out(dest) if at == "out" else moving_in(dest)
        with crash_at(point), pytest.raises(Crash):
            merge_labels_store(spark, path, _edges(spark, [(1, 7)]))
        got = _labels(read_labels_store(spark, path))
        assert got == (old if at == "out" else new), name
        refold = merge_labels_store(spark, path, _edges(spark, [(1, 7)]))
        assert _labels(refold) == expect, name
