"""Incremental (delta) MinHash-LSH dedup (operators/dedup_delta.py):

- lossless decomposition: absorb(base-index, delta) must equal the
  single-shot minhash_lsh_pairs over base ∪ delta with the PRODUCTION
  xxhash64 hashes (the registry entry's md5 form gets the same check
  cross-engine via the DuckDB oracle in tests/test_oracle.py);
- epoch chaining: absorbing delta₁ then delta₂ with ``append=True``
  must equal the single-shot run over all three parts, and every file
  that existed before an append must survive it byte-for-byte (the
  add-only layout claim);
- probe economics: the delta→index candidate step must reach the
  bands scan as planning-time partition filters (band/bvb) plus a
  pushed bv filter — never a full-layout read joined at runtime.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import functions as F

from last_minute_legends_spark.operators.dedup import minhash_lsh_pairs
from last_minute_legends_spark.operators.dedup_delta import (
    absorb_delta,
    write_band_index,
)
from last_minute_legends_spark.sources import swap
from last_minute_legends_spark.sources.tables import Catalog
from tests.swap_faults import Crash, crash_at, moving_in, moving_out

THRESHOLD = 0.8


def _docs(spark, sf_dir):
    return Catalog(spark, sf_dir).documents.select("doc_id", "text")


def _pairs(df) -> set:
    return {(r.doc_a, r.doc_b, r.jaccard) for r in df.collect()}


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


def test_absorb_equals_single_shot_production_hash(spark, sf_dir,
                                                   tmp_path):
    """Production-hash parity: the incremental result must be
    value-identical to the single-shot run over the union — the same
    property the registry entry proves cross-engine with md5, here
    with the xxhash64 hot path the md5 twin stands in for."""
    docs = _docs(spark, sf_dir)
    base = docs.filter(F.col("doc_id") % 5 != 0)
    delta = docs.filter(F.col("doc_id") % 5 == 0)
    single = _pairs(minhash_lsh_pairs(docs, THRESHOLD))
    assert single, "vacuous: corpus must contain near-dup pairs"

    idx = str(tmp_path / "idx")
    write_band_index(base, idx, THRESHOLD)
    inc = _pairs(absorb_delta(spark, base, delta, idx, THRESHOLD,
                              append=False))
    assert inc == single
    # the delta must contribute pairs of BOTH kinds or the test is
    # weaker than it claims: cross (delta×base) and intra-base stored
    base_only = _pairs(minhash_lsh_pairs(base, THRESHOLD))
    assert base_only < single, "delta-involving pairs must exist"


def test_append_chaining_and_byte_identity(spark, sf_dir, tmp_path):
    """Two epochs absorbed with append=True: each absorb must return
    the single-shot result over everything indexed so far, the second
    epoch must chain against base ∪ delta₁ without any rebuild, and
    no pre-existing layout file may change byte-for-byte."""
    docs = _docs(spark, sf_dir)
    base = docs.filter(F.col("doc_id") % 3 == 0)
    d1 = docs.filter(F.col("doc_id") % 3 == 1)
    d2 = docs.filter(F.col("doc_id") % 3 == 2)

    idx = str(tmp_path / "idx")
    write_band_index(base, idx, THRESHOLD)
    h0 = _file_hashes(idx)

    out1 = _pairs(absorb_delta(spark, base, d1, idx, THRESHOLD))
    assert out1 == _pairs(minhash_lsh_pairs(
        base.unionByName(d1), THRESHOLD))
    h1 = _file_hashes(idx)
    assert all(h1[f] == h for f, h in h0.items() if f in h1)
    # append is add-only: nothing that existed disappeared
    assert set(h0) <= set(h1)

    out2 = _pairs(absorb_delta(
        spark, base.unionByName(d1), d2, idx, THRESHOLD))
    assert out2 == _pairs(minhash_lsh_pairs(docs, THRESHOLD))
    h2 = _file_hashes(idx)
    assert all(h2[f] == h for f, h in h1.items() if f in h2)
    assert set(h1) <= set(h2)


def test_probe_prunes_band_partitions(spark, sf_dir, tmp_path):
    """The small-delta path must turn the delta's band keys into
    planning-time scan filters on the persisted layout: partition
    pruning on band/bvb and a pushed bv predicate — the property that
    keeps absorb cost delta-shaped instead of corpus-shaped."""
    docs = _docs(spark, sf_dir)
    base = docs.filter(F.col("doc_id") % 5 != 0)
    delta = docs.filter(F.col("doc_id") % 5 == 0)
    idx = str(tmp_path / "idx")
    write_band_index(base, idx, THRESHOLD)
    plan = absorb_delta(spark, base, delta, idx, THRESHOLD,
                        append=False)._jdf.queryExecution().executedPlan(
        ).toString()
    # the bands scan must carry non-empty partition filters on the
    # layout's partition columns
    scan_lines = [ln for ln in plan.splitlines()
                  if "PartitionFilters" in ln]
    assert any("band" in ln and "bvb" in ln and "PartitionFilters: []"
               not in ln for ln in scan_lines), plan[:4000]
    # and the bv membership predicate must be pushed into the scan
    assert "PushedFilters: [" in plan and "In(bv" in plan, plan[:4000]


def test_big_delta_falls_back_to_distributed_join(spark, sf_dir,
                                                  tmp_path):
    """Above static_max distinct band keys nothing is collected to
    the driver — the probe becomes an ordinary distributed equi-join
    and the RESULT is unchanged (the ivf PROBE_STATIC_MAX adaptive
    pattern)."""
    docs = _docs(spark, sf_dir)
    base = docs.filter(F.col("doc_id") % 5 != 0)
    delta = docs.filter(F.col("doc_id") % 5 == 0)
    idx = str(tmp_path / "idx")
    write_band_index(base, idx, THRESHOLD)
    small = _pairs(absorb_delta(spark, base, delta, idx, THRESHOLD,
                                append=False))
    big = _pairs(absorb_delta(spark, base, delta, idx, THRESHOLD,
                              append=False, static_max=1))
    assert small == big == _pairs(minhash_lsh_pairs(docs, THRESHOLD))


def test_incompatible_index_params_raise(spark, sf_dir, tmp_path):
    """An index written under different layout params must be
    refused, not silently mis-probed."""
    import json

    import pytest

    docs = _docs(spark, sf_dir)
    idx = str(tmp_path / "idx")
    write_band_index(docs.limit(20), idx, THRESHOLD)
    with open(os.path.join(idx, "_delta_index_params.json")) as fh:
        params = json.load(fh)
    params["bv_buckets"] = 999
    with open(os.path.join(idx, "_delta_index_params.json"), "w") as fh:
        json.dump(params, fh)
    with pytest.raises(ValueError, match="incompatible"):
        absorb_delta(spark, docs, docs.limit(5), idx, THRESHOLD,
                     append=False)


def test_stream_dedup_delta_matches_single_shot(spark, sf_dir):
    """The streaming-ingest form (foreachBatch absorbing one epoch
    per micro-batch against the persisted band index) must converge
    on exactly the single-shot pair set over the full corpus, with
    the PRODUCTION xxhash64 hashes — the md5 registry twin gets the
    same check cross-engine from the DuckDB oracle."""
    from last_minute_legends_spark.streaming.pipeline import (
        run_stream_dedup_delta,
    )

    docs = _docs(spark, sf_dir)
    single = _pairs(minhash_lsh_pairs(docs, THRESHOLD))
    assert single, "vacuous: corpus must contain near-dup pairs"
    streamed = _pairs(run_stream_dedup_delta(spark, sf_dir,
                                             n_epochs=4,
                                             threshold=THRESHOLD))
    assert streamed == single


def test_band_index_compaction_lifecycle(spark, sf_dir, tmp_path):
    """The maintenance pass for an appended band index: after several
    epochs the per-partition file count grows with EPOCHS (health
    fires on mean files/dir), compaction rewrites to one bv-sorted
    file per (band, bvb) partition with content IDENTICAL (band rows
    and stored pairs value-equal), and a subsequent absorb against
    the compacted index is still exactly right. Crash mid-swap
    recovers via swap.recover."""
    import os as _os

    import pytest

    from last_minute_legends_spark.operators.dedup_delta import (
        band_index_health,
        compact_band_index,
        stored_pairs,
    )

    docs = _docs(spark, sf_dir)
    parts = [docs.filter(F.col("doc_id") % 12 == i) for i in range(12)]
    idx = str(tmp_path / "idx")
    write_band_index(parts[0], idx, THRESHOLD)
    acc = parts[0]
    for p in parts[1:11]:
        absorb_delta(spark, acc, p, idx, THRESHOLD)
        acc = acc.unionByName(p)

    h = band_index_health(spark, idx)
    assert h["compact_recommended"], h

    bands_before = {tuple(r) for r in spark.read.parquet(
        _os.path.join(idx, "bands")).collect()}
    pairs_before = _pairs(stored_pairs(spark, idx))
    compact_band_index(spark, idx)
    assert {tuple(r) for r in spark.read.parquet(
        _os.path.join(idx, "bands")).collect()} == bands_before
    assert _pairs(stored_pairs(spark, idx)) == pairs_before
    h2 = band_index_health(spark, idx)
    assert not h2["compact_recommended"], h2
    assert h2["max_files_per_dir"] <= 1, h2

    # absorb AFTER compaction: still equals the single-shot run
    out = _pairs(absorb_delta(spark, acc, parts[11], idx, THRESHOLD))
    assert out == _pairs(minhash_lsh_pairs(docs, THRESHOLD))

    # crash window: bands dir renamed away, pairs still live — a
    # compaction that crashed as it moved the pairs dir out
    with crash_at(moving_out(_os.path.join(idx, "pairs"))), \
            pytest.raises(Crash):
        compact_band_index(spark, idx)
    assert not _os.path.exists(_os.path.join(idx, "bands"))
    assert swap.recover(idx) is True
    assert {tuple(r) for r in spark.read.parquet(
        _os.path.join(idx, "bands")).collect()} >= bands_before


def test_hamming_delta_equals_single_shot_and_chains(spark, sf_dir,
                                                     tmp_path):
    """The hamming-family delta (perceptual-hash tier): absorbing an
    epoch of signatures against the persisted band layout must equal
    the single-shot hamming_band_pairs over the union — with NO
    corpus access during absorb (signature words ride the band rows
    of both sides) — and chaining a second epoch with append=True
    must keep pre-existing files byte-identical and stay exact."""
    from last_minute_legends_spark.operators.dedup import (
        hamming_band_pairs,
    )
    from last_minute_legends_spark.operators.dedup_delta import (
        absorb_hamming_delta,
        write_hamming_index,
    )
    from last_minute_legends_spark.operators.multimodal import phash_images
    from last_minute_legends_spark.plans.multimodal_q import (
        PHASH_MAX_HAMMING, _phash_payloads,
    )

    sig = phash_images(_phash_payloads(spark, sf_dir)).persist()
    single = {(r.doc_a, r.doc_b, r.hamming) for r in hamming_band_pairs(
        sig, ["ph0", "ph1"], [32, 32], 16, PHASH_MAX_HAMMING).collect()}
    assert single, "vacuous: planted companions must produce pairs"

    base = sig.filter(F.col("doc_id") % 3 != 2).persist()
    d1 = sig.filter((F.col("doc_id") % 3 == 2)
                    & (F.col("doc_id") % 2 == 0))
    d2 = sig.filter((F.col("doc_id") % 3 == 2)
                    & (F.col("doc_id") % 2 == 1))
    idx = str(tmp_path / "hidx")
    write_hamming_index(base, idx, ["ph0", "ph1"], [32, 32],
                        band_width=16, max_hamming=PHASH_MAX_HAMMING)
    h0 = _file_hashes(idx)

    out1 = {(r.doc_a, r.doc_b, r.hamming)
            for r in absorb_hamming_delta(spark, d1, idx).collect()}
    want1 = {(r.doc_a, r.doc_b, r.hamming) for r in hamming_band_pairs(
        base.unionByName(d1).persist(), ["ph0", "ph1"], [32, 32], 16,
        PHASH_MAX_HAMMING).collect()}
    assert out1 == want1
    h1 = _file_hashes(idx)
    assert all(h1[f] == h for f, h in h0.items() if f in h1)
    assert set(h0) <= set(h1)

    out2 = {(r.doc_a, r.doc_b, r.hamming)
            for r in absorb_hamming_delta(spark, d2, idx).collect()}
    assert out2 == single


def test_stream_epoch_redelivery_idempotent(spark, sf_dir, tmp_path):
    """foreachBatch's at-least-once contract made wrong-row-safe
    (ADVICE r15): delivering the SAME epoch twice through the
    streaming absorb sink must (a) fabricate no doc_a==doc_b
    self-pairs (the retry probes a layout already holding its own
    band rows — the ``doc_id !=`` guard), (b) land exactly ONE copy
    of the epoch in the corpus (per-epoch overwritten subdir, so
    later epochs' shingle-intersection verify never sees doubled
    counts), and (c) leave the final stored pair set — after the
    pipeline's ``distinct()`` — exactly the single-shot result."""
    from last_minute_legends_spark.operators.dedup_delta import (
        stored_pairs,
    )
    from last_minute_legends_spark.streaming.pipeline import (
        stream_absorb_epoch,
    )

    docs = _docs(spark, sf_dir)
    base = docs.filter(F.col("doc_id") % 4 == 3)
    e1 = docs.filter(F.col("doc_id") % 4 == 0).persist()
    e2 = docs.filter(F.col("doc_id") % 4 == 1)
    e3 = docs.filter(F.col("doc_id") % 4 == 2)
    idx = str(tmp_path / "idx")
    corpus = str(tmp_path / "corpus")
    write_band_index(base, idx, THRESHOLD)
    base.write.mode("overwrite").parquet(corpus)

    # first delivery, then a redelivery of the SAME epoch id
    stream_absorb_epoch(spark, e1, 0, idx, corpus, THRESHOLD)
    stream_absorb_epoch(spark, e1, 0, idx, corpus, THRESHOLD)

    landed = (spark.read.option("recursiveFileLookup", "true")
              .parquet(corpus))
    assert landed.count() == base.count() + e1.count()  # one copy

    got = stored_pairs(spark, idx).distinct()
    assert got.filter(F.col("doc_a") == F.col("doc_b")).count() == 0
    assert _pairs(got) == _pairs(
        minhash_lsh_pairs(base.unionByName(e1), THRESHOLD))

    # later epochs absorbed after the redelivery must still verify
    # against single-copy shingle counts (the jaccard-inflation bug:
    # a double-landed epoch doubles intersection counts downstream)
    stream_absorb_epoch(spark, e2, 1, idx, corpus, THRESHOLD)
    stream_absorb_epoch(spark, e3, 2, idx, corpus, THRESHOLD)
    assert _pairs(stored_pairs(spark, idx).distinct()) == _pairs(
        minhash_lsh_pairs(docs, THRESHOLD))


def test_redelivery_fallback_branch_no_shingle_doubling(spark, sf_dir,
                                                        tmp_path):
    """ADVICE r16: the verify FALLBACK branch (candidate ids >
    static_max → shuffle semi-join instead of literals) must exclude
    the delta's own ids like the static branch does. Scenario: a
    foreachBatch retry after a crash in the post-land health step —
    the epoch's band rows are already appended AND the epoch's docs
    are already in the indexed corpus. Without the left_anti, sh_all
    carries each delta doc's shingles twice, doubling intersection
    counts and inflating jaccard (pairs appear that the single-shot
    run rejects). static_max=0 forces the fallback on both the probe
    and the verify id fetch."""
    docs = _docs(spark, sf_dir)
    base = docs.filter(F.col("doc_id") % 4 != 0)
    e1 = docs.filter(F.col("doc_id") % 4 == 0)
    idx = str(tmp_path / "idx")
    write_band_index(base, idx, THRESHOLD)

    # first delivery: appends e1's band rows into the layout
    absorb_delta(spark, base, e1, idx, THRESHOLD, append=True)
    # retry AFTER the corpus landed: indexed side now CONTAINS e1
    redelivered = _pairs(absorb_delta(
        spark, base.unionByName(e1), e1, idx, THRESHOLD,
        append=False, static_max=0).distinct())
    single = _pairs(minhash_lsh_pairs(docs, THRESHOLD))
    assert redelivered == single
    assert not any(a == b for a, b, _ in redelivered)


def test_compaction_lock_serializes_and_steals_stale(spark, sf_dir,
                                                     tmp_path):
    """Two concurrent compactions must not interleave the four-rename
    swap: with a LIVE owner holding the lock, compact_band_index
    raises instead of proceeding; a lock left by a DEAD process is
    stolen and compaction proceeds."""
    import pytest

    from last_minute_legends_spark.operators.dedup_delta import (
        compact_band_index,
        stored_pairs,
    )

    docs = _docs(spark, sf_dir)
    idx = str(tmp_path / "idx")
    write_band_index(docs, idx, THRESHOLD)
    before = _pairs(stored_pairs(spark, idx))

    with swap.owner(idx):  # a live concurrent compaction
        with pytest.raises(RuntimeError, match="in flight"):
            compact_band_index(spark, idx)

    # stale lock: owner pid that cannot exist
    with open(swap.lock_path(idx), "w") as fh:
        fh.write("999999999")
    compact_band_index(spark, idx)  # steals and proceeds
    assert _pairs(stored_pairs(spark, idx)) == before
    assert not os.path.exists(swap.lock_path(idx))


def test_probe_recovery_skips_live_compaction(tmp_path):
    """ADVICE r16: probe-side recovery must not yank ``__old`` back
    out from under a LIVE compaction mid-swap — it skips when the
    lock file names a live foreign owner, and proceeds once the owner
    is dead (crashed compaction)."""
    import subprocess

    import pytest

    path = str(tmp_path / "idx")
    for d in ("bands", "pairs"):
        os.makedirs(os.path.join(path, d))
    # compact_band_index's swap, crashed right after moving bands out
    with crash_at(moving_out(os.path.join(path, "pairs"))), \
            pytest.raises(Crash):
        with swap.owner(path):
            staging = swap.staging_path(path)
            for d in ("bands", "pairs"):
                os.makedirs(os.path.join(staging, d))
            swap.swap(path, {d: os.path.join(staging, d)
                             for d in ("bands", "pairs")})
    saved = os.path.join(f"{path}__swap", "saved", "bands")

    proc = subprocess.Popen(["sleep", "60"])
    try:
        with open(swap.lock_path(path), "w") as fh:
            fh.write(str(proc.pid))
        # live owner: apparent mid-swap state is an in-flight swap
        assert swap.recover(path) is False
        assert os.path.isdir(saved)
    finally:
        proc.kill()
        proc.wait()
    # same lock file, owner now dead: recovery restores the layout
    assert swap.recover(path) is True
    assert os.path.isdir(os.path.join(path, "bands"))


def test_absorb_joins_post_pairs_when_band_append_fails(spark, tmp_path,
                                                       monkeypatch):
    """absorb_delta runs ``post_pairs`` on a worker thread beside the
    band-rows append; when the append raises, the absorb must still
    join the worker before the exception leaves it — a caller that
    sees the error must never have a fold running behind its back."""
    import time

    import pytest

    from last_minute_legends_spark.operators import dedup_delta as dd

    docs = spark.createDataFrame(
        [(i, f"the quick brown fox {i % 3} jumps over the lazy dog")
         for i in range(8)], "doc_id long, text string")
    base = docs.filter(F.col("doc_id") < 4)
    idx = str(tmp_path / "idx")
    write_band_index(base, idx, THRESHOLD)

    def failing_append(df):
        raise RuntimeError("band append failed")

    monkeypatch.setattr(dd, "_fanout_parts", failing_append)
    returned = []

    def slow_fold(new_pairs):
        time.sleep(1.0)
        returned.append(True)

    with pytest.raises(RuntimeError, match="band append failed"):
        absorb_delta(spark, base, docs.filter(F.col("doc_id") >= 4), idx,
                     THRESHOLD, post_pairs=slow_fold)
    assert returned == [True]


def test_return_new_requires_append(spark, tmp_path):
    """Only an appending absorb persists the epoch's new pairs, so
    ``return_new=True`` with ``append=False`` is refused, not
    ignored."""
    import pytest

    with pytest.raises(ValueError, match="return_new"):
        absorb_delta(spark, None, None, str(tmp_path / "idx"),
                     append=False, return_new=True)


def test_embedding_params_travel_with_bands_dir(spark, sf_dir, tmp_path):
    """ADVICE r16: the embedding tier's geometry params must be
    installed atomically WITH the band rows they describe — they live
    inside the bands dir (one os.rename swaps both), and compaction's
    Spark rewrite of the bands dir must carry them across so a
    compacted index still absorbs."""
    from last_minute_legends_spark.operators import dedup_delta as dd
    from last_minute_legends_spark.operators.similarity import (
        with_unit_vectors,
    )
    from last_minute_legends_spark.plans.dedup_q import (
        COSINE_THRESHOLD, _embedding_corpus,
    )

    emb = with_unit_vectors(_embedding_corpus(spark, sf_dir)).persist()
    base = emb.filter(F.col("id") % 2 == 0).persist()
    idx = str(tmp_path / "eidx")
    dd.write_embedding_index(base, idx, COSINE_THRESHOLD)
    assert os.path.exists(dd._eparams_path(idx))
    assert not os.path.exists(os.path.join(idx, dd._EPARAMS))

    before = {(r.vec_a, r.vec_b) for r in
              dd.stored_pairs(spark, idx).collect()}
    dd.compact_band_index(spark, idx)
    assert os.path.exists(dd._eparams_path(idx)), \
        "compaction must carry the in-bands params file"
    # the compacted index still reads its params and absorbs
    delta = emb.filter(F.col("id") % 2 == 1)
    out = dd.absorb_embedding_delta(spark, base, delta, idx,
                                    append=False)
    got = {(r.vec_a, r.vec_b) for r in out.collect()}
    assert before <= got


def test_stream_absorb_health_trigger_compacts(spark, sf_dir, tmp_path,
                                               monkeypatch):
    """VERDICT r15 #7: the streaming sink itself must run the
    band-index maintenance loop — with the health threshold forced
    to always-fire, an absorb on a health_every boundary compacts
    the appended layout (files/dir back to 1) without changing the
    stored pair values."""
    import glob as _glob

    from last_minute_legends_spark.operators import dedup_delta as dd
    from last_minute_legends_spark.streaming.pipeline import (
        stream_absorb_epoch,
    )

    docs = _docs(spark, sf_dir)
    base = docs.filter(F.col("doc_id") % 3 == 0)
    e1 = docs.filter(F.col("doc_id") % 3 == 1)
    e2 = docs.filter(F.col("doc_id") % 3 == 2)
    idx = str(tmp_path / "idx")
    corpus = str(tmp_path / "corpus")
    write_band_index(base, idx, THRESHOLD)
    base.write.mode("overwrite").parquet(corpus)

    monkeypatch.setattr(dd, "COMPACT_FILES_PER_DIR", -1)
    stream_absorb_epoch(spark, e1, 1, idx, corpus, THRESHOLD,
                        health_every=2)
    # epoch 1: no health check (1 % 2 != 0) — appended files remain
    frag = max(len(_glob.glob(os.path.join(d, "*.parquet")))
               for d in _glob.glob(os.path.join(idx, "bands",
                                                "band=*", "bvb=*")))
    assert frag >= 2, "append should have fragmented at least one dir"
    stream_absorb_epoch(spark, e2, 2, idx, corpus, THRESHOLD,
                        health_every=2)
    # epoch 2 hits the boundary: forced-on health → compaction ran
    frag2 = max(len(_glob.glob(os.path.join(d, "*.parquet")))
                for d in _glob.glob(os.path.join(idx, "bands",
                                                 "band=*", "bvb=*")))
    assert frag2 <= 1, frag2
    assert _pairs(dd.stored_pairs(spark, idx).distinct()) == _pairs(
        minhash_lsh_pairs(docs, THRESHOLD))


def test_stream_phash_delta_matches_single_shot(spark, sf_dir):
    """The streaming image-dedup lifecycle (r17, VERDICT r16 #2): a
    quarter of the phash corpus seeds the hamming index, the rest
    streams in base64-framed one epoch per micro-batch — the final
    stored pair set must equal single-shot hamming_band_pairs over
    the full corpus (the oracle the registry entry carries)."""
    from last_minute_legends_spark.operators.dedup import (
        hamming_band_pairs,
    )
    from last_minute_legends_spark.operators.multimodal import (
        phash_images,
    )
    from last_minute_legends_spark.plans.multimodal_q import (
        PHASH_MAX_HAMMING, _phash_payloads,
    )
    from last_minute_legends_spark.streaming.pipeline import (
        run_stream_phash_delta,
    )

    got = {(r.doc_a, r.doc_b, r.hamming) for r in
           run_stream_phash_delta(spark, sf_dir, n_epochs=4).collect()}
    sig = phash_images(_phash_payloads(spark, sf_dir)).persist()
    want = {(r.doc_a, r.doc_b, r.hamming) for r in hamming_band_pairs(
        sig, ["ph0", "ph1"], [32, 32], band_width=16,
        max_hamming=PHASH_MAX_HAMMING).collect()}
    sig.unpersist()
    assert want, "vacuous: planted companions must pair"
    assert got == want


def test_stream_phash_epoch_redelivery_idempotent(spark, sf_dir,
                                                  tmp_path):
    """Delivering the SAME image epoch twice through the streaming
    sink must fabricate no self-pairs and leave the final stored pair
    set (after distinct) exactly the single-shot result."""
    from last_minute_legends_spark.operators.dedup import (
        hamming_band_pairs,
    )
    from last_minute_legends_spark.operators.dedup_delta import (
        stored_pairs, write_hamming_index,
    )
    from last_minute_legends_spark.operators.multimodal import (
        phash_images,
    )
    from last_minute_legends_spark.plans.multimodal_q import (
        PHASH_MAX_HAMMING, _phash_payloads,
    )
    from last_minute_legends_spark.streaming.pipeline import (
        stream_phash_absorb_epoch,
    )

    payloads = _phash_payloads(spark, sf_dir)
    base = payloads.filter(F.col("doc_id") % 2 == 0)
    e1 = payloads.filter(F.col("doc_id") % 2 == 1)
    idx = str(tmp_path / "idx")
    sig_b = phash_images(base).persist()
    write_hamming_index(sig_b, idx, ["ph0", "ph1"], [32, 32],
                        band_width=16, max_hamming=PHASH_MAX_HAMMING)
    sig_b.unpersist()

    wire = e1.select("doc_id",
                     F.base64(F.col("payload")).alias("payload_b64"))
    stream_phash_absorb_epoch(spark, wire, 1, idx)
    stream_phash_absorb_epoch(spark, wire, 1, idx)  # redelivery

    got = stored_pairs(spark, idx).distinct()
    assert got.filter(F.col("doc_a") == F.col("doc_b")).count() == 0
    sig_all = phash_images(payloads).persist()
    want = {(r.doc_a, r.doc_b, r.hamming) for r in hamming_band_pairs(
        sig_all, ["ph0", "ph1"], [32, 32], band_width=16,
        max_hamming=PHASH_MAX_HAMMING).collect()}
    sig_all.unpersist()
    assert {(r.doc_a, r.doc_b, r.hamming)
            for r in got.collect()} == want


def test_stream_embedding_delta_matches_single_shot(spark, sf_dir,
                                                    tmp_path):
    """The streaming embedding-dedup lifecycle (r17): a quarter of
    the planted vector corpus seeds the frozen-geometry index, the
    rest streams in as JSON double arrays — the final stored pair set
    must equal single-shot embedding_lsh_pairs over the full corpus
    AT THE SEED GEOMETRY (the frozen-plane chained decomposition),
    which on this corpus equals the exact all-pairs oracle the
    registry entry carries."""
    from last_minute_legends_spark.operators.dedup import (
        embedding_lsh_pairs,
    )
    from last_minute_legends_spark.operators.dedup_delta import (
        _frozen_planes, _read_eparams, write_embedding_index,
    )
    from last_minute_legends_spark.operators.similarity import (
        with_unit_vectors,
    )
    from last_minute_legends_spark.plans.dedup_q import (
        COSINE_THRESHOLD, _embedding_corpus,
    )
    from last_minute_legends_spark.streaming.pipeline import (
        run_stream_embedding_delta,
    )

    got = {(r.vec_a, r.vec_b, r.cosine) for r in
           run_stream_embedding_delta(spark, sf_dir,
                                      n_epochs=4).collect()}
    # single-shot at the SAME seed geometry: re-derive the quarter's
    # frozen params the stream trained with
    emb = with_unit_vectors(_embedding_corpus(spark, sf_dir)).persist()
    cut = emb.agg(F.expr("percentile(id, array(0.25))")
                  .alias("c")).collect()[0].c[0]
    seed_idx = str(tmp_path / "seed_idx")
    write_embedding_index(emb.filter(F.col("id") <= float(cut)),
                          seed_idx, COSINE_THRESHOLD)
    p = _read_eparams(seed_idx)
    planes = _frozen_planes(spark, p)
    want = {(r.vec_a, r.vec_b, r.cosine) for r in embedding_lsh_pairs(
        emb, planes=planes, threshold=COSINE_THRESHOLD,
        n_bands=p["n_bands"]).collect()}
    emb.unpersist()
    assert want, "vacuous: planted near-dups must pair"
    assert got == want


def test_stream_embedding_epoch_redelivery_idempotent(spark, sf_dir,
                                                      tmp_path):
    """Delivering the SAME vector epoch twice — including the
    retry-after-corpus-landed shape, where the verify's indexed side
    already contains the epoch — must fabricate no self-pairs and
    leave the final pair set exactly the chained result."""
    from last_minute_legends_spark.operators.dedup import (
        embedding_lsh_pairs,
    )
    from last_minute_legends_spark.operators.dedup_delta import (
        _frozen_planes, _read_eparams, stored_pairs,
        write_embedding_index,
    )
    from last_minute_legends_spark.operators.similarity import (
        with_unit_vectors,
    )
    from last_minute_legends_spark.plans.dedup_q import (
        COSINE_THRESHOLD, _embedding_corpus,
    )
    from last_minute_legends_spark.streaming.pipeline import (
        stream_embedding_absorb_epoch,
    )

    emb = with_unit_vectors(_embedding_corpus(spark, sf_dir)).persist()
    base = emb.filter(F.col("id") % 2 == 0).persist()
    e1 = emb.filter(F.col("id") % 2 == 1)
    idx = str(tmp_path / "idx")
    corpus = str(tmp_path / "corpus")
    write_embedding_index(base, idx, COSINE_THRESHOLD)
    base.select("id", "v", "nrm").write.mode("overwrite").parquet(corpus)

    wire = e1.select("id", "v")
    stream_embedding_absorb_epoch(spark, wire, 1, idx, corpus)
    stream_embedding_absorb_epoch(spark, wire, 1, idx, corpus)

    landed = (spark.read.option("recursiveFileLookup", "true")
              .parquet(corpus))
    assert landed.count() == emb.count()  # one copy of the epoch

    got = stored_pairs(spark, idx).distinct()
    assert got.filter(F.col("vec_a") == F.col("vec_b")).count() == 0
    p = _read_eparams(idx)
    planes = _frozen_planes(spark, p)
    want = {(r.vec_a, r.vec_b, r.cosine) for r in embedding_lsh_pairs(
        emb, planes=planes, threshold=COSINE_THRESHOLD,
        n_bands=p["n_bands"]).collect()}
    assert {(r.vec_a, r.vec_b, r.cosine)
            for r in got.collect()} == want
    base.unpersist()
    emb.unpersist()


def test_embedding_delta_equals_single_shot_and_chains(spark, sf_dir,
                                                       tmp_path):
    """The embedding-family delta (sign-LSH tier, VERDICT r15 #1):
    absorbing an epoch of vectors against the persisted frozen-plane
    band layout must equal the single-shot embedding_lsh_pairs over
    the union AT THE SAME frozen geometry (per-vector banding
    decomposes exactly; the exact-cosine verify is per-pair), and
    chaining a second epoch with append=True must keep pre-existing
    files byte-identical and stay exact."""
    import json as _json

    from last_minute_legends_spark.operators.dedup import (
        embedding_lsh_pairs,
    )
    from last_minute_legends_spark.operators.dedup_delta import (
        _frozen_planes,
        absorb_embedding_delta,
        write_embedding_index,
    )
    from last_minute_legends_spark.operators.similarity import (
        with_unit_vectors,
    )
    from last_minute_legends_spark.plans.dedup_q import (
        COSINE_THRESHOLD, _embedding_corpus,
    )

    emb = with_unit_vectors(_embedding_corpus(spark, sf_dir)).persist()
    base = emb.filter(F.col("id") % 3 == 0).persist()
    d1 = emb.filter(F.col("id") % 3 == 1).persist()
    d2 = emb.filter(F.col("id") % 3 == 2).persist()

    idx = str(tmp_path / "eidx")
    write_embedding_index(base, idx, COSINE_THRESHOLD)
    from last_minute_legends_spark.operators.dedup_delta import (
        _read_eparams,
    )
    p = _read_eparams(idx)
    planes = _frozen_planes(spark, p)

    def single(frame):
        return {(r.vec_a, r.vec_b, r.cosine) for r in embedding_lsh_pairs(
            frame.persist(), planes=planes, threshold=COSINE_THRESHOLD,
            n_bands=p["n_bands"]).collect()}

    h0 = _file_hashes(idx)
    out1 = {(r.vec_a, r.vec_b, r.cosine) for r in absorb_embedding_delta(
        spark, base, d1, idx).collect()}
    assert out1 == single(base.unionByName(d1))
    assert out1, "vacuous: planted near-dups must straddle the split"
    h1 = _file_hashes(idx)
    assert all(h1[f] == h for f, h in h0.items() if f in h1)
    assert set(h0) <= set(h1)

    out2 = {(r.vec_a, r.vec_b, r.cosine) for r in absorb_embedding_delta(
        spark, base.unionByName(d1), d2, idx).collect()}
    assert out2 == single(emb)


def test_embedding_index_health_and_reband(spark, sf_dir, tmp_path):
    """The adaptive-geometry wrinkle unique to the embedding tier:
    lsh_params widens bands with n, so embedding_index_health must
    flag a corpus that has outgrown its written band width
    (reband_recommended), and reband_embedding_index must rebuild at
    the current size's geometry via the staged atomic swap — after
    which absorbs continue exactly."""
    import json as _json

    from last_minute_legends_spark.operators.dedup import lsh_params
    from last_minute_legends_spark.operators.dedup_delta import (
        _read_eparams,
        absorb_embedding_delta,
        embedding_index_health,
        reband_embedding_index,
        stored_pairs,
        write_embedding_index,
    )
    from last_minute_legends_spark.operators.similarity import (
        with_unit_vectors,
    )
    from last_minute_legends_spark.plans.dedup_q import (
        COSINE_THRESHOLD, _embedding_corpus,
    )

    emb = with_unit_vectors(_embedding_corpus(spark, sf_dir)).persist()
    base = emb.filter(F.col("id") % 3 == 0).persist()
    n_base = base.count()

    idx = str(tmp_path / "eidx")
    write_embedding_index(base, idx, COSINE_THRESHOLD, n_vectors=n_base)

    h = embedding_index_health(spark, idx, n_total=n_base)
    assert not h["reband_recommended"], h
    # a corpus grown 10^5x: the adaptive width departs by >2 bits
    grown = n_base * 100_000
    want_bits, _ = lsh_params(grown, COSINE_THRESHOLD)
    h2 = embedding_index_health(spark, idx, n_total=grown)
    assert h2["adaptive_bits_per_band"] == want_bits
    assert h2["reband_recommended"], h2

    # re-band on the FULL corpus (geometry recomputed at its size),
    # then a subsequent absorb against the re-banded layout is exact
    d1 = emb.filter(F.col("id") % 3 == 1).persist()
    d2 = emb.filter(F.col("id") % 3 == 2).persist()
    base_d1 = base.unionByName(d1).persist()
    reband_embedding_index(spark, base_d1, idx)
    p = _read_eparams(idx)
    assert p["n_indexed"] == base_d1.count()

    from last_minute_legends_spark.operators.dedup import (
        embedding_lsh_pairs,
    )
    from last_minute_legends_spark.operators.dedup_delta import (
        _frozen_planes,
    )

    planes = _frozen_planes(spark, p)
    assert {tuple(r) for r in stored_pairs(spark, idx).collect()} == {
        tuple(r) for r in embedding_lsh_pairs(
            base_d1, planes=planes, threshold=COSINE_THRESHOLD,
            n_bands=p["n_bands"]).collect()}
    out = {tuple(r) for r in absorb_embedding_delta(
        spark, base_d1, d2, idx).collect()}
    assert out == {tuple(r) for r in embedding_lsh_pairs(
        emb, planes=planes, threshold=COSINE_THRESHOLD,
        n_bands=p["n_bands"]).collect()}


def test_merge_cluster_labels_semantics(spark):
    """Planted-graph semantics of the epoch-sized cluster fold: a new
    edge bridging two existing clusters merges them to the global min
    id; a new node attaching to a cluster inherits its label; a pair
    of brand-new nodes forms its own component; untouched clusters
    pass through byte-identical."""
    from last_minute_legends_spark.operators.dedup_delta import (
        merge_cluster_labels,
    )

    labels = spark.createDataFrame(
        [(1, 1), (5, 1), (10, 10), (20, 10), (30, 30), (99, 99)],
        "id long, cluster_id long")
    edges = spark.createDataFrame(
        [(5, 20),    # bridges cluster 1 and cluster 10 -> min id 1
         (30, 40),   # new node 40 joins cluster 30
         (50, 60)],  # brand-new component -> min id 50
        "doc_a long, doc_b long")
    got = {(r.id, r.cluster_id)
           for r in merge_cluster_labels(labels, edges).collect()}
    assert got == {(1, 1), (5, 1), (10, 1), (20, 1),
                   (30, 30), (40, 30), (50, 50), (60, 50),
                   (99, 99)}


def test_merge_cluster_labels_equals_single_shot(spark, sf_dir,
                                                 tmp_path):
    """Chained epochs: labels maintained by merge_cluster_labels over
    successive absorbs must equal single-shot connected_components
    over the full accumulated pair graph — the incremental-oracle
    property the registry entry (dedup_clusters_delta) proves
    cross-engine with the md5 replay closure."""
    from last_minute_legends_spark.operators.dedup import (
        connected_components,
    )
    from last_minute_legends_spark.operators.dedup_delta import (
        merge_cluster_labels, stored_pairs,
    )

    docs = _docs(spark, sf_dir)
    base = docs.filter(F.col("doc_id") % 3 == 0)
    d1 = docs.filter(F.col("doc_id") % 3 == 1)
    d2 = docs.filter(F.col("doc_id") % 3 == 2)
    idx = str(tmp_path / "idx")
    write_band_index(base, idx, THRESHOLD)

    # localCheckpoint, not persist: the appends below write into the
    # same pairs dir, and Spark's refreshByPath INVALIDATES cached
    # plans over a written path (a persisted frame silently re-reads
    # the post-append listing — measured: prev.count() 5 → 10); a
    # checkpointed LogicalRDD has no file source to refresh
    prev = stored_pairs(spark, idx).localCheckpoint(eager=True)
    labels = connected_components(prev)
    acc = base
    for d in (d1, d2):
        full = absorb_delta(spark, acc, d, idx,
                            THRESHOLD).localCheckpoint(eager=True)
        new_edges = full.join(prev.select("doc_a", "doc_b"),
                              ["doc_a", "doc_b"], "left_anti")
        labels = merge_cluster_labels(labels, new_edges).persist()
        want = {(r.id, r.cluster_id)
                for r in connected_components(full).collect()}
        assert {(r.id, r.cluster_id) for r in labels.collect()} == want
        prev = full
        acc = acc.unionByName(d)
    assert want, "vacuous: corpus must produce clusters"


def test_stream_clusters_delta_matches_single_shot(spark, sf_dir):
    """Maintained keeper labels on the streaming path
    (maintain_labels=True): the final label state after all absorbed
    micro-batches must equal single-shot connected_components over
    the full corpus' pair graph with the PRODUCTION xxhash64 hashes —
    the md5 registry twin (stream_clusters_delta) gets the same check
    cross-engine from the recursive-closure DuckDB oracle."""
    from last_minute_legends_spark.operators.dedup import (
        connected_components,
    )
    from last_minute_legends_spark.streaming.pipeline import (
        run_stream_dedup_delta,
    )

    docs = _docs(spark, sf_dir)
    got = {(r.id, r.cluster_id) for r in run_stream_dedup_delta(
        spark, sf_dir, n_epochs=4, threshold=THRESHOLD,
        maintain_labels=True).collect()}
    want = {(r.id, r.cluster_id) for r in connected_components(
        minhash_lsh_pairs(docs, THRESHOLD)).collect()}
    assert want, "vacuous: corpus must produce clusters"
    assert got == want


def test_semantic_delta_chains_and_redelivery(spark, sf_dir, tmp_path):
    """The semantic tier's delta lifecycle: absorbing two id-ordered
    epochs with ``append=True`` converges on the single-shot
    frozen-geometry verdict frame (semantic_keep over the full corpus
    with the base-trained centroids), a REDELIVERY of the last epoch
    leaves the store bit-identical (per-epoch overwritten subdirs),
    and base verdicts never change across absorbs (the monotonicity
    that makes the store append-only)."""
    from last_minute_legends_spark.functions.portable_hash import md5_id_hash
    from last_minute_legends_spark.operators.dedup_delta import (
        absorb_semantic_delta, release_absorb_persists,
        write_semantic_index,
    )
    from last_minute_legends_spark.operators.similarity import (
        semantic_keep, train_centroids, with_unit_vectors,
    )

    import hashlib as _h

    def detvec(tag, dim=16):
        return [
            (int.from_bytes(_h.sha256(f"{tag}:{d}".encode()).digest()[:8],
                            "big") / 2.0**64) * 2 - 1
            for d in range(dim)
        ]

    rows = [(i, detvec(f"s{i}")) for i in range(60)]
    # dups across the epoch boundaries: 3->70 (base->ep1), 25->85
    # (base->ep2), 72->88 (ep1->ep2), 81/86 intra-ep2 of base 40
    for src, dup_id in ((3, 70), (25, 85), (40, 81), (40, 86)):
        v = list(rows[src][1]); v[0] += 0.01
        rows.append((dup_id, v))
    v72 = list(rows[50][1]); v72[0] += 0.01
    rows.append((72, v72))
    v88 = list(v72); v88[1] += 0.005
    rows.append((88, v88))
    emb = with_unit_vectors(
        spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    ).persist()
    tau = 0.7
    base = emb.filter(F.col("id") < 60)
    ep1 = emb.filter((F.col("id") >= 60) & (F.col("id") < 80))
    ep2 = emb.filter(F.col("id") >= 80)
    idx = str(tmp_path / "sem_idx")
    write_semantic_index(base, idx, tau, k=4, iters=2,
                         id_hash=md5_id_hash)

    def verdicts(df):
        return {(r.id, r.bucket, r.keep, r.dup_of, r.dup_cos)
                for r in df.collect()}

    base_v = verdicts(spark.read.parquet(os.path.join(idx, "verdicts"))
                      .select("id", "bucket", "keep", "dup_of", "dup_cos"))
    absorb_semantic_delta(spark, emb, ep1, idx, append=True)
    out2 = absorb_semantic_delta(spark, emb, ep2, idx, append=True)
    cent = train_centroids(base, k=4, iters=2, id_hash=md5_id_hash)
    expect = verdicts(semantic_keep(emb, cent, tau))
    assert verdicts(out2) == expect
    # dup routing: cross pairs found via the stored probe, intra via
    # the epoch self-compare
    got = {r.id: r.dup_of for r in out2.collect() if r.keep == 0}
    # every planted dup is dropped; its keeper is its source UNLESS a
    # smaller-id chance >=tau cluster-mate exists (min-id election —
    # the == expect assert above already proves exact agreement)
    assert {70, 72, 85, 88, 81, 86} <= set(got)
    assert got[70] == 3 and got[72] == 50
    # 88 is planted off 72, but min-id election collapses the chain
    # onto the ORIGINAL base keeper 50 — the transitive-keeper shape
    assert got[88] == 50
    assert got[81] == 40 and got[86] == 40
    assert got[85] <= 25
    # base verdicts unchanged by two absorbs
    final_base = {t for t in verdicts(out2) if t[0] < 60}
    assert final_base == base_v

    def tree_digest(root, skip_epoch):
        # untouched epochs must survive a redelivery byte-for-byte;
        # the redelivered epoch is OVERWRITTEN (fresh part-file
        # uuids), so its guarantee is content equality, not bytes
        h = _h.sha256()
        for dirpath, _, files in sorted(os.walk(root)):
            if f"epoch={skip_epoch}" in dirpath:
                continue
            for f in sorted(files):
                if f.startswith(("_", ".")):
                    continue
                p = os.path.join(dirpath, f)
                h.update(os.path.relpath(p, root).encode())
                h.update(open(p, "rb").read())
        return h.hexdigest()

    ep2_min = 81
    before = tree_digest(idx, ep2_min)
    assign_before = {(r.id, r.bucket) for r in spark.read.parquet(
        os.path.join(idx, "assign")).select("id", "bucket").collect()}
    out_re = absorb_semantic_delta(spark, emb, ep2, idx, append=True)
    assert verdicts(out_re) == expect
    assert tree_digest(idx, ep2_min) == before, \
        "redelivery touched other epochs' files"
    assign_after = {(r.id, r.bucket) for r in spark.read.parquet(
        os.path.join(idx, "assign")).select("id", "bucket").collect()}
    assert assign_after == assign_before, "redelivery duplicated rows"
    emb.unpersist()
    release_absorb_persists()


def _sem_tags(idx: str) -> tuple[str, str]:
    """The build tags of a semantic index's assign params and verdicts
    dir — equal iff both dirs come from one build."""
    import json as _json

    with open(os.path.join(idx, "assign",
                           "_semantic_index_params.json")) as fh:
        tag = _json.load(fh)["tag"]
    with open(os.path.join(idx, "verdicts", "_SEM_TAG")) as fh:
        return tag, fh.read().strip()


def test_semantic_index_health_retrain_and_recovery(spark, tmp_path):
    """The semantic tier's maintenance loop: a store built small stays
    healthy until absorbs grow the population ~4x past its geometry,
    retrain_semantic_index rebuilds at the adaptive k under the lock
    (verdicts == the scaled single-shot over the current population),
    and a crash mid-swap (old dirs moved out, new verdicts not yet in)
    is healed by swap.recover on the next read, leaving assign and
    verdicts with one build tag."""
    import pytest

    from last_minute_legends_spark.operators.dedup_delta import (
        _SEM_ASSIGN, _SEM_VERDICTS, absorb_semantic_delta,
        release_absorb_persists, retrain_semantic_index,
        semantic_index_health, write_semantic_index,
    )
    from last_minute_legends_spark.operators.similarity import (
        semantic_keep, semantic_scaled_params, train_centroids,
        with_unit_vectors,
    )

    import hashlib as _h

    def detvec(tag, dim=8):
        return [
            (int.from_bytes(_h.sha256(f"{tag}:{d}".encode()).digest()[:8],
                            "big") / 2.0**64) * 2 - 1
            for d in range(dim)
        ]

    rows = [(i, detvec(f"g{i}")) for i in range(4200)]
    emb = with_unit_vectors(
        spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    ).persist()
    base = emb.filter(F.col("id") < 1000)
    idx = str(tmp_path / "sem_g")
    write_semantic_index(base, idx, 0.7, k=8, iters=1)
    h0 = semantic_index_health(spark, idx)
    assert not h0["retrain_recommended"] and h0["written_k"] == 8
    # absorb growth: 1000 -> 4200 rows; adaptive k = 4200//256 = 16 —
    # only 2x, still healthy; force the 4x regime by absorbing into a
    # geometry sized for 256 rows
    delta = emb.filter(F.col("id") >= 1000)
    absorb_semantic_delta(spark, emb, delta, idx, append=True)
    h1 = semantic_index_health(spark, idx)
    assert h1["n_indexed"] == 4200 and h1["adaptive_k"] == 16
    assert not h1["retrain_recommended"]
    # shrink written_k in params to simulate a build from the 256-row
    # era (4200/256 -> k=16 >= 4*4): health must fire
    import json as _json
    pp = os.path.join(idx, _SEM_ASSIGN,
                      "_semantic_index_params.json")
    p = _json.load(open(pp))
    p["k"] = 4
    _json.dump(p, open(pp, "w"))
    assert semantic_index_health(spark, idx)["retrain_recommended"]
    # crash mid-swap: old dirs moved out, the new assign moved in, the
    # new verdicts not yet in
    with crash_at(moving_in(os.path.join(idx, _SEM_VERDICTS))), \
            pytest.raises(Crash):
        retrain_semantic_index(spark, emb, idx)
    assert not os.path.isdir(os.path.join(idx, _SEM_VERDICTS))
    assert swap.recover(idx), "recovery did not restore"
    assert _sem_tags(idx)[0] == _sem_tags(idx)[1]
    h2 = semantic_index_health(spark, idx)
    assert not h2["retrain_recommended"] and h2["written_k"] == 16
    k, mod = semantic_scaled_params(4200)
    cent = train_centroids(emb, k=k, iters=1, sample_mod=mod)
    expect = {(r.id, r.keep) for r in semantic_keep(emb, cent, 0.7)
              .select("id", "keep").collect()}
    got_df = (spark.read.parquet(os.path.join(idx, _SEM_VERDICTS))
              .select("id", "keep"))
    assert {(r.id, r.keep) for r in got_df.collect()} == expect
    assert semantic_index_health(spark, idx)["written_k"] == 16
    assert not os.path.isdir(f"{idx}__swap")
    emb.unpersist()
    release_absorb_persists()


def test_stream_semantic_delta_matches_single_shot(spark, sf_dir):
    """The streaming SemDeDup form (foreachBatch absorbing id-ordered
    epochs against the frozen k-means index) must converge on exactly
    the single-shot frozen-geometry verdict frame over the full
    corpus — the same value the batch dedup_semantic_delta entry's
    oracle replays."""
    from last_minute_legends_spark.functions.portable_hash import md5_id_hash
    from last_minute_legends_spark.operators.similarity import (
        semantic_keep, train_centroids, with_unit_vectors,
    )
    from last_minute_legends_spark.plans.dedup_q import (
        SEM_ITERS, SEM_K, SEM_TAU, _embedding_corpus,
    )
    from last_minute_legends_spark.sources.tables import Catalog
    from last_minute_legends_spark.streaming.pipeline import (
        run_stream_semantic_delta,
    )

    got = {(r.id, r.bucket, r.keep, r.dup_of, r.dup_cos)
           for r in run_stream_semantic_delta(spark, sf_dir,
                                              n_epochs=4).collect()}
    emb = with_unit_vectors(_embedding_corpus(spark, sf_dir)).persist()
    mx = int(Catalog(spark, sf_dir).embeddings
             .agg(F.max("vec_id")).first()[0])
    base = emb.filter(F.col("id") < int(mx * 0.8))
    cent = train_centroids(base, k=SEM_K, iters=SEM_ITERS,
                           id_hash=md5_id_hash)
    want = {(r.id, r.bucket, r.keep, r.dup_of, r.dup_cos)
            for r in semantic_keep(emb, cent, SEM_TAU).collect()}
    assert got == want
    assert any(k == 0 for _, _, k, _, _ in got), "vacuous: no drops"
    emb.unpersist()


def test_stream_semantic_epoch_redelivery_idempotent(spark, sf_dir,
                                                     tmp_path):
    """Delivering the SAME vector epoch twice — including the
    retry-after-landed shape where the membership store already
    contains the epoch's rows (the probe then sees the epoch's own
    docs as stored candidates) — must leave verdicts exactly the
    chained result: no self-drops, no duplicated verdict rows, one
    landed copy of the epoch."""
    from last_minute_legends_spark.functions.portable_hash import md5_id_hash
    from last_minute_legends_spark.operators.dedup_delta import (
        _SEM_VERDICTS, write_semantic_index,
    )
    from last_minute_legends_spark.operators.similarity import (
        semantic_keep, train_centroids, with_unit_vectors,
    )
    from last_minute_legends_spark.plans.dedup_q import (
        SEM_ITERS, SEM_K, SEM_TAU, _embedding_corpus,
    )
    from last_minute_legends_spark.sources.tables import Catalog
    from last_minute_legends_spark.streaming.pipeline import (
        stream_semantic_absorb_epoch,
    )

    emb = with_unit_vectors(_embedding_corpus(spark, sf_dir)).persist()
    mx = int(Catalog(spark, sf_dir).embeddings
             .agg(F.max("vec_id")).first()[0])
    split = int(mx * 0.8)
    base = emb.filter(F.col("id") < split).persist()
    e1 = emb.filter(F.col("id") >= split)
    idx = str(tmp_path / "idx")
    corpus = str(tmp_path / "corpus")
    write_semantic_index(base, idx, SEM_TAU, k=SEM_K, iters=SEM_ITERS,
                         id_hash=md5_id_hash)
    base.select("id", "v", "nrm").write.mode("overwrite").parquet(corpus)

    wire = e1.select("id", "v")
    stream_semantic_absorb_epoch(spark, wire, 1, idx, corpus)
    stream_semantic_absorb_epoch(spark, wire, 1, idx, corpus)

    landed = (spark.read.option("recursiveFileLookup", "true")
              .parquet(corpus))
    assert landed.count() == emb.count()
    verd = (spark.read.parquet(os.path.join(idx, _SEM_VERDICTS))
            .select("id", "bucket", "keep", "dup_of", "dup_cos"))
    rows = verd.collect()
    assert len(rows) == emb.count(), "duplicated verdict rows"
    assert all(r.dup_of != r.id for r in rows if r.keep == 0)
    cent = train_centroids(base, k=SEM_K, iters=SEM_ITERS,
                           id_hash=md5_id_hash)
    want = {(r.id, r.bucket, r.keep, r.dup_of, r.dup_cos)
            for r in semantic_keep(emb, cent, SEM_TAU).collect()}
    assert {(r.id, r.bucket, r.keep, r.dup_of, r.dup_cos)
            for r in rows} == want
    base.unpersist()
    emb.unpersist()
