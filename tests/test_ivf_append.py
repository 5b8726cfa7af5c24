"""Frozen-centroid index ingest (append_ivf_index): parity with a
fresh same-centroid build, byte-level non-destructiveness of the
append, and visibility of appended vectors in probe results. The
registry entry's extended unrolled-Lloyd oracle runs via
tests/test_oracle.py and the driver gate."""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import functions as F

from last_minute_legends_spark.operators.similarity import (
    ivf_topk,
    train_centroids,
)
from last_minute_legends_spark.plans.ann_q import (
    IVF_ITERS,
    IVF_N_PROBE,
    N_CENTROIDS,
    N_QUERIES,
    TOP_K,
    _append_delta,
    _vectors,
    ann_ivf_append_probe,
)
from last_minute_legends_spark.sources.ivf_index import (
    append_ivf_index,
    probe_topk,
    write_ivf_index,
)


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


def test_append_probe_parity(spark, sf_dir, tmp_path):
    """probe_topk over write-then-append must equal the in-memory
    ivf_topk over base ∪ delta with the SAME frozen centroids — the
    append path changes storage, never semantics."""
    from last_minute_legends_spark.functions.portable_hash import md5_id_hash

    vecs = _vectors(spark, sf_dir)
    base = vecs.filter(F.col("id") >= N_QUERIES)
    queries = vecs.filter(F.col("id") < N_QUERIES)
    delta = _append_delta(spark, sf_dir)
    centroids = train_centroids(base, k=N_CENTROIDS, iters=IVF_ITERS,
                                id_hash=md5_id_hash)

    idx = str(tmp_path / "idx")
    write_ivf_index(base, centroids, idx)
    append_ivf_index(spark, delta, idx)
    from_index = [tuple(r) for r in probe_topk(
        spark, idx, queries, k=TOP_K, n_probe=IVF_N_PROBE)
        .orderBy("q_id", "rn").collect()]
    in_memory = [tuple(r) for r in ivf_topk(
        queries, base.unionByName(delta), centroids,
        k=TOP_K, n_probe=IVF_N_PROBE).orderBy("q_id", "rn").collect()]
    assert from_index == in_memory


def test_append_never_rewrites(spark, sf_dir, tmp_path):
    """The ingest batch only ADDS files: every pre-append data file
    survives byte-identical (no rewrite, no compaction, no delete) —
    the property that keeps append cost ∝ batch size at 100 TB."""
    from last_minute_legends_spark.functions.portable_hash import md5_id_hash

    vecs = _vectors(spark, sf_dir)
    base = vecs.filter(F.col("id") >= N_QUERIES)
    centroids = train_centroids(base, k=N_CENTROIDS, iters=IVF_ITERS,
                                id_hash=md5_id_hash)
    idx = str(tmp_path / "idx")
    write_ivf_index(base, centroids, idx)
    before = _file_hashes(os.path.join(idx, "data"))
    append_ivf_index(spark, _append_delta(spark, sf_dir), idx)
    after = _file_hashes(os.path.join(idx, "data"))
    assert set(before) <= set(after)
    assert all(after[p] == h for p, h in before.items())
    assert len(after) > len(before)


def test_appended_vectors_probed(spark, sf_dir):
    """Appended near-dup twins of the query vectors must actually
    displace top-k results — a probe that silently missed the
    appended files would return only base ids."""
    from last_minute_legends_spark.sources.tables import Catalog

    max_base = Catalog(spark, sf_dir).embeddings.agg(
        F.max("vec_id")).collect()[0][0]
    got = ann_ivf_append_probe(spark, sf_dir).collect()
    assert any(r["c_id"] > max_base for r in got)


def _clustered(spark, tag_prefix, groups, per, dim=32, jitter=0.15,
               id_base=0):
    """Deterministic clustered vectors: `groups` cluster tags, `per`
    points each, sha256-derived — the regime IVF exists for."""
    import hashlib as _h

    def detvec(tag, scale):
        return [((int.from_bytes(
            _h.sha256(f"{tag}:{d}".encode()).digest()[:8], "big")
            / 2.0**64) * 2 - 1) * scale for d in range(dim)]

    rows = []
    for gi, g in enumerate(groups):
        c = detvec(f"cent{g}", 1.0)
        for i in range(per):
            jit = detvec(f"{tag_prefix}:{g}:{i}", jitter)
            rows.append((id_base + gi * per + i,
                         [c[d] + jit[d] for d in range(dim)]))
    from last_minute_legends_spark.operators.similarity import (
        with_unit_vectors,
    )
    return with_unit_vectors(spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"))


def test_index_health_retrain_trigger(spark, tmp_path):
    """The retrain trigger must separate the two append regimes the
    drift experiment measured (BASELINE_LOCAL r14):

    - stationary appends (same clusters, new points) keep recall at
      1.0 at ANY fraction — health must stay quiet at 30% appended
      (disproportion ≈ 1.0) and fire only past APPEND_RETRAIN_FRAC
      on sheer appended mass;
    - drifted appends (clusters the frozen model never saw) crowd
      into their nearest old buckets — the disproportion statistic
      must fire at 30% drifted appends even though appended_frac is
      nowhere near the mass threshold."""
    from last_minute_legends_spark.operators.similarity import (
        train_centroids,
    )
    from last_minute_legends_spark.sources.ivf_index import (
        append_ivf_index, index_health, write_ivf_index,
    )

    base = _clustered(spark, "b", groups=list(range(8)), per=100)
    cent = train_centroids(base, k=8, iters=5)

    # fresh index: healthy
    root = str(tmp_path / "ivf_stationary")
    write_ivf_index(base, cent, root)
    h0 = index_health(spark, root)
    assert h0["appended_frac"] == 0.0
    assert not h0["retrain_recommended"], h0

    # 30% stationary append: growth is uniform, stays quiet
    append_ivf_index(spark, _clustered(
        spark, "s", groups=list(range(8)), per=30, id_base=100_000), root)
    hs = index_health(spark, root)
    assert 0.25 < hs["appended_frac"] < 0.35
    assert not hs["retrain_recommended"], hs

    # pile on past the mass threshold: fires on appended_frac alone
    append_ivf_index(spark, _clustered(
        spark, "s2", groups=list(range(8)), per=40, id_base=200_000), root)
    hm = index_health(spark, root)
    assert hm["appended_frac"] > 0.5 and hm["retrain_recommended"], hm

    # 30% DRIFTED append (4 unseen clusters): fires on disproportion
    root2 = str(tmp_path / "ivf_drifted")
    write_ivf_index(base, cent, root2)
    append_ivf_index(spark, _clustered(
        spark, "d", groups=[100, 101, 102, 103], per=60,
        id_base=300_000), root2)
    hd = index_health(spark, root2)
    assert hd["appended_frac"] < 0.5, hd
    assert hd["disproportion"] > 1.25 and hd["retrain_recommended"], hd


def test_index_health_requires_manifest(spark, tmp_path):
    """A pre-manifest layout gets a clear error, not a silent guess."""
    import pytest as _pytest

    from last_minute_legends_spark.sources.ivf_index import index_health

    with _pytest.raises(FileNotFoundError, match="train manifest"):
        index_health(spark, str(tmp_path / "nonexistent_ivf"))


def test_rebuild_recovers_drifted_index(spark, tmp_path):
    """The full drift loop: a 30% drifted append fires
    index_health's disproportion trigger AND dents probed recall vs
    brute force; rebuild_ivf_index (read → fresh Lloyd over the
    current population → staged write → atomic swap) must return
    health to quiet and recall to the fresh-index level. k is bumped
    to cover the 4 new clusters — the adaptive-k path a real
    maintenance job takes as the population grows."""
    from last_minute_legends_spark.operators.similarity import (
        brute_topk, train_centroids,
    )
    from last_minute_legends_spark.sources.ivf_index import (
        append_ivf_index, index_health, probe_topk, rebuild_ivf_index,
        write_ivf_index,
    )

    base = _clustered(spark, "b", groups=list(range(8)), per=100)
    cent = train_centroids(base, k=8, iters=5)
    root = str(tmp_path / "ivf")
    write_ivf_index(base, cent, root)
    delta = _clustered(spark, "d", groups=[100, 101, 102, 103], per=60,
                       id_base=300_000)
    append_ivf_index(spark, delta, root)
    assert index_health(spark, root)["retrain_recommended"]

    # queries from the DRIFTED clusters — the regime the frozen model
    # serves worst
    queries = _clustered(spark, "q", groups=[100, 101, 102, 103], per=6,
                         id_base=500_000)
    allv = base.unionByName(delta)
    truth = {(r.q_id, r.c_id)
             for r in brute_topk(queries, allv, k=10).collect()}

    def recall(df):
        got = {(r.q_id, r.c_id) for r in df.collect()}
        return len(got & truth) / len(truth)

    r_before = recall(probe_topk(spark, root, queries, k=10, n_probe=2))

    rebuild_ivf_index(spark, root, k=12, iters=5)
    h = index_health(spark, root)
    assert h["appended_frac"] == 0.0 and not h["retrain_recommended"], h
    r_after = recall(probe_topk(spark, root, queries, k=10, n_probe=2))
    assert r_after >= r_before
    assert r_after >= 0.95, (r_before, r_after)


def test_index_health_sees_train_empty_bucket_crowding(spark, tmp_path):
    """A bucket EMPTY at train time (possible with Lloyd on
    small/clustered data: a centroid that attracts no candidates
    writes no files, so it never appears in the meta manifest) must
    not be a blind spot: appends crowding into it have to register in
    max_bucket_growth and fire the disproportion trigger (ADVICE
    r14 — the old statistic iterated only trained buckets)."""
    from last_minute_legends_spark.operators.similarity import (
        with_unit_vectors,
    )
    from last_minute_legends_spark.sources.ivf_index import index_health

    base = _clustered(spark, "b", groups=list(range(8)), per=100)
    cent = train_centroids(base, k=8, iters=5)
    # graft a far-away centroid the base population never reaches:
    # bucket exists in the MODEL but is empty in the written layout
    far = with_unit_vectors(spark.createDataFrame(
        [(99, [1000.0] + [0.0] * 7)],
        "vec_id long, embedding array<double>"))
    cent = cent.select("id", "v", "nrm").unionByName(
        far.select(F.lit(999).alias("id"), "v", "nrm"))

    root = str(tmp_path / "ivf_empty_bucket")
    write_ivf_index(base, cent, root)
    meta = spark.read.parquet(os.path.join(root, "meta"))
    assert meta.filter(F.col("bucket") == 999).count() == 0, \
        "precondition: bucket 999 must be train-empty"

    h0 = index_health(spark, root)
    assert not h0["retrain_recommended"], h0

    # 40 appends land squarely in the train-empty bucket: invisible
    # to the trained-buckets-only statistic, 40x growth to the fixed
    # one — must recommend a retrain on disproportion alone
    drift = with_unit_vectors(spark.createDataFrame(
        [(10_000 + i, [1000.0 + i * 0.001] + [0.0] * 7)
         for i in range(40)],
        "vec_id long, embedding array<double>"))
    append_ivf_index(spark, drift, root)
    h1 = index_health(spark, root)
    assert h1["max_bucket_growth"] >= 40.0, h1
    assert h1["retrain_recommended"], h1
    assert h1["appended_frac"] < 0.5, h1  # fired on skew, not mass


def test_rebuild_crash_window_recovery(spark, tmp_path):
    """rebuild_ivf_index's swap has an unavoidable window where
    nothing serves at ``path/data`` (os.rename pairs cannot swap
    directories atomically); a crash there strands the intact index
    in the swap's saved copies. swap.recover must restore it — and
    must NOT clobber a live index with a stale saved copy left behind
    by a swap that completed."""
    import pytest

    from last_minute_legends_spark.sources import swap
    from last_minute_legends_spark.sources.ivf_index import (
        rebuild_ivf_index,
    )
    from tests.swap_faults import Crash, crash_at, moving_out

    base = _clustered(spark, "b", groups=list(range(4)), per=50)
    cent = train_centroids(base, k=4, iters=3)
    root = str(tmp_path / "ivf_crash")
    write_ivf_index(base, cent, root)
    before = _file_hashes(root)

    def crashed_rebuild(at):
        with crash_at(at), pytest.raises(Crash):
            rebuild_ivf_index(spark, root, iters=1)

    # simulate the crash window: first rename done, second never ran
    crashed_rebuild(moving_out(os.path.join(root, "centroids")))
    assert not os.path.exists(os.path.join(root, "data"))
    assert swap.recover(root) is True
    assert _file_hashes(root) == before  # intact and serving again
    assert not os.path.exists(f"{root}__swap")
    # probes self-heal through the same hook
    crashed_rebuild(moving_out(os.path.join(root, "centroids")))
    q = _clustered(spark, "b", groups=[0], per=1)
    assert probe_topk(spark, root, q, k=3, n_probe=2).count() == 3

    # completed swap + leftover saved copies (a crash in the final
    # cleanup): recovery must be a no-op
    crashed_rebuild(lambda op, args: op == "rmtree")
    assert os.path.isdir(os.path.join(f"{root}__swap", "saved"))
    before = _file_hashes(root)
    assert swap.recover(root) is False
    assert _file_hashes(root) == before


def test_ivfpq_decode_rejects_corrupt_code_ids(spark, tmp_path):
    """Index reads validate what they decode: a stored code id that is
    not in its subspace's codebook is index corruption and must fail
    the decode, never read as the neighbouring codeword."""
    import json

    import pytest

    from last_minute_legends_spark.sources.ivfpq_index import _decode_codes

    path = str(tmp_path / "pq")
    spark.createDataFrame(
        [(sub, cid, [float(cid), float(sub)], 1.0)
         for sub in range(2) for cid in (0, 1, 2)],
        "sub int, id int, v array<double>, nrm double",
    ).write.parquet(os.path.join(path, "codebooks"))
    with open(os.path.join(path, "_ivfpq_meta.json"), "w") as fh:
        json.dump({"d_sub": 2, "m": 2}, fh)
    schema = "id long, codes array<int>, bucket int"

    good = spark.createDataFrame([(1, [0, 2], 0), (2, [1, 1], 0)], schema)
    rv = {r.id: list(r.rv) for r in _decode_codes(spark, path, good)
          .collect()}
    assert rv == {1: [0.0, 0.0, 2.0, 1.0], 2: [1.0, 0.0, 1.0, 1.0]}
    for code in (7, -1):  # past the end and before the start
        bad = spark.createDataFrame([(3, [1, code], 0)], schema)
        with pytest.raises(Exception, match="IVF-PQ index corruption"):
            _decode_codes(spark, path, bad).collect()


def test_ivfpq_append_byte_identity_and_probe(spark, sf_dir, tmp_path):
    """The composed index's ingest discipline: append_ivfpq_index adds
    (id, codes) files ONLY to the delta's touched bucket dirs —
    pre-append files byte-identical, no vector column anywhere in the
    layout — and a probe over the appended layout equals the
    in-memory frozen-model composition over base ∪ delta."""
    import hashlib
    import os

    from pyspark.sql import functions as F

    from last_minute_legends_spark.functions.portable_hash import md5_id_hash
    from last_minute_legends_spark.operators.similarity import (
        PQ_RERANK, ivfpq_topk, pq_codebooks, train_centroids,
        with_unit_vectors,
    )
    from last_minute_legends_spark.plans.ann_q import (
        IVF_ITERS, IVF_N_PROBE, N_CENTROIDS, N_QUERIES, TOP_K,
        _append_delta, _vectors,
    )
    from last_minute_legends_spark.sources.ivfpq_index import (
        append_ivfpq_index, ivfpq_probe_topk, write_ivfpq_index,
    )

    vecs = _vectors(spark, sf_dir)
    queries = vecs.filter(F.col("id") < N_QUERIES)
    base = vecs.filter(F.col("id") >= N_QUERIES).persist()
    cent = train_centroids(base, k=N_CENTROIDS, iters=IVF_ITERS,
                           id_hash=md5_id_hash)
    cbs, d_sub = pq_codebooks(base, id_hash=md5_id_hash)
    idx = str(tmp_path / "ivfpq")
    write_ivfpq_index(base, cent, cbs, d_sub, idx)

    def file_hashes(root):
        out = {}
        for dirpath, _, files in os.walk(root):
            for f in files:
                if f.startswith(("_", ".")):
                    continue
                p = os.path.join(dirpath, f)
                out[os.path.relpath(p, root)] = hashlib.md5(
                    open(p, "rb").read()).hexdigest()
        return out

    h0 = file_hashes(idx)
    delta = _append_delta(spark, sf_dir)
    append_ivfpq_index(spark, delta, idx)
    h1 = file_hashes(idx)
    assert set(h0) <= set(h1), "append removed files"
    assert all(h1[f] == h for f, h in h0.items()), \
        "append rewrote a pre-existing file"
    # codes layout never stores vectors
    codes_schema = spark.read.parquet(
        os.path.join(idx, "codes")).schema.fieldNames()
    assert "v" not in codes_schema and "codes" in codes_schema
    corpus = base.unionByName(delta)
    got = {(r.q_id, r.rn, r.c_id, r.cosine)
           for r in ivfpq_probe_topk(spark, idx, queries, corpus,
                                     k=TOP_K, n_probe=IVF_N_PROBE,
                                     rerank=PQ_RERANK).collect()}
    want = {(r.q_id, r.rn, r.c_id, r.cosine)
            for r in ivfpq_topk(queries, corpus, cent, cbs, d_sub,
                                k=TOP_K, n_probe=IVF_N_PROBE,
                                rerank=PQ_RERANK).collect()}
    assert got == want
    # the ingest is non-vacuous: appended ids displace top-k rows
    mx = int(vecs.agg(F.max("id")).first()[0])
    assert any(c > mx - len(delta.collect()) for _, _, c, _ in got) or \
        any(c_id >= 500 for _, _, c_id, _ in got)
    base.unpersist()
