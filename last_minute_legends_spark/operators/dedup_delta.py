"""Incremental (delta) MinHash-LSH dedup: dedup the INGEST, not the
corpus.

Every whole-corpus dedup tier (operators/dedup.py) re-hashes all of
history to absorb one new epoch — the exact pattern the maintained
aggregate trio (operators/incremental.py) already solved for
sums/distincts/quantiles. This module gives the MinHash-LSH tier the
same lifecycle, the reference's own core loop being incremental
new-record detection (spark_batch_processor.py:83-86 anti-joins
already-published ids before publishing):

- ``write_band_index`` materializes the corpus' LSH band-bucket table
  ONCE as a write-once layout (the sources/ivf_index.py economics):
  parquet partitioned by ``(band, bvb)`` — band × a hash-bucket of
  the band value — with rows sorted by ``bv`` inside each file so
  parquet row-group min/max stats can skip non-matching stripes. The
  already-emitted pair set is stored beside it.
- ``absorb_delta`` dedups a new epoch against it: the delta's
  signatures (delta-sized work — the base corpus is never re-hashed,
  never re-shingled, never scanned for the candidate step) equi-join
  the persisted buckets and each other, candidates verify with the
  exact shingle Jaccard, and the updated full pair set comes back.
  With ``append=True`` the delta's band rows and the new pairs are
  appended to the layout — ``mode("append")`` under ``partitionBy``
  only ADDS files, so every pre-existing bucket file is preserved
  byte-for-byte (locked by tests/test_dedup_delta.py) and the next
  epoch absorbs against base ∪ delta with no rebuild.

Why the decomposition is LOSSLESS (oracle = the single-shot run):
banding is per-document — doc X's band values do not depend on any
other document — so the single-shot candidate set over base ∪ delta
splits exactly into base×base (already in the stored pair set),
delta×base (the index probe), and delta×delta (the delta self-join);
the PPJoin length filter and the exact-Jaccard verify are per-pair.
The registry entry's DuckDB oracle is therefore the UNCHANGED
single-shot replay SQL over the full corpus
(plans/dedup_q.py::DEDUP_MINHASH_REPLAY_SQL) — any leak in the
decomposition (a missed cross pair, a double-counted self pair, a
drifted length filter) breaks the value hash.

Scale shape at 100 TB:

- index probe: the delta's distinct ``(band, bvb, bv)`` keys are
  collected when few (size-gated, ``static_max`` — the
  sources/ivf_index.py PROBE_STATIC_MAX pattern) and pushed as
  planning-time literals: ``band``/``bvb`` prune partition
  DIRECTORIES off the listing, ``bv IN (...)`` skips row groups via
  the in-file sort. A big delta falls back to an ordinary
  distributed equi-join with the delta side broadcast — never a
  driver OOM, never an all-pairs anything.
- verify: candidate base documents are re-shingled from the corpus
  table on demand — candidates are near-dup-rate-sized, and the ids
  are pushed into the documents scan the same size-gated way.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from last_minute_legends_spark.operators.dedup import (
    _shingle_sets,
    _signature_bands,
    _xx_perm_hash,
    minhash_lsh_pairs,
)
from last_minute_legends_spark.sources import swap

_BANDS = "bands"
_PAIRS = "pairs"
_PARAMS = "_delta_index_params.json"

# bv hash-buckets per band in the written layout: the second
# partition column that keeps directory pruning meaningful (band
# alone has only N_BANDS=8 values and every delta doc carries all 8).
# Layout-internal only — bvb never enters the dedup semantics, so the
# portable-hash replay path doesn't need DuckDB to reproduce it.
BV_BUCKETS = 16

# Above this many distinct delta band keys the probe falls back to
# the distributed equi-join (the ivf_index.PROBE_STATIC_MAX
# rationale: a driver collect must stay model-parameter-sized, and at
# that key volume most buckets are touched anyway so planning-time
# pruning buys ~nothing). MEASURED crossover (r15 ladder, x1 vs x3
# proportional-delta cells): 1,600 literal keys beat the distributed
# join handily (the flat fixed-delta cell), but 8,000 keys ran the
# static path at 7.4 s where the distributed fallback ran 3.8 s on a
# 3x BIGGER corpus — giant In-literals cost more in planning +
# predicate evaluation than the join they avoid. 2,048 keeps the
# literal path for the genuinely-small epochs it exists for.
DELTA_STATIC_MAX = 2_048


def _bvb(bv):
    """Partition bucket of a band value. xxhash64 regardless of the
    injected semantic hashes — purely a layout routing function."""
    return F.pmod(F.xxhash64(bv), F.lit(BV_BUCKETS))


# Frames persisted by a read-only (append=False) absorb: they back
# the LAZY returned pair frame, so the absorb itself cannot unpersist
# them — registry callables eagerly materialize their output
# (localCheckpoint) and then call release_absorb_persists(), so the
# driver's 116-entry sweep through one session does not accumulate
# executor storage (VERDICT r16 #6). append=True absorbs unpersist
# inline: after the two writes nothing references the frames.
_ABSORB_PERSISTS: list = []


def release_absorb_persists() -> None:
    while _ABSORB_PERSISTS:
        try:
            _ABSORB_PERSISTS.pop().unpersist()
        except Exception:
            pass


def _fanout_parts(df: DataFrame) -> int:
    """Explicit partition count for a dynamic-partition (band, bvb)
    write: defaultParallelism, USER-SPECIFIED so AQE cannot coalesce
    it away. The size-based coalescing (session default) folds a
    KB-sized epoch's exchange to ONE task, which then creates every
    touched partition dir's file SEQUENTIALLY — measured 1.6-1.9 s of
    single-task executor time per epoch append at 128 (band, bvb)
    dirs on this native-lib-less sandbox, where each local-FS
    create/commit forks a shell chmod. The commit cost is per FILE
    (CPU/fork), not per byte, so CPU spread is the right rule — the
    _spread rationale applied to the write side. Each key still
    hashes to exactly ONE task, so the one-file-per-dir append
    discipline is unchanged; empty partitions write nothing."""
    return df.sparkSession.sparkContext.defaultParallelism


def band_rows(docs: DataFrame, id_col: str = "doc_id",
              text_col: str = "text", n: int = 3,
              perm_hash=None, band_hash=None) -> DataFrame:
    """(doc_id, n_sh, band, bv) LSH band rows for a corpus — the
    exact rows minhash_lsh_pairs self-joins, exposed so the index
    write and the delta probe share one definition."""
    sh = _shingle_sets(docs, id_col, text_col, n)
    return _signature_bands(sh, perm_hash or _xx_perm_hash,
                            band_hash or F.xxhash64)


def write_band_index(docs: DataFrame, path: str, threshold: float = 0.8,
                     id_col: str = "doc_id", text_col: str = "text",
                     n: int = 3, perm_hash=None, band_hash=None) -> None:
    """One-time base build: band rows partitioned by (band, bvb) and
    sorted by bv inside each file, plus the corpus' single-shot pair
    set (so absorb_delta can return the FULL updated output without
    re-deriving history). Cost = one single-shot dedup run — paid
    once per corpus, amortized over every subsequent epoch."""
    rows = band_rows(docs, id_col, text_col, n, perm_hash, band_hash)
    (rows.withColumn("bvb", _bvb(F.col("bv")))
     .repartition(F.col("band"), F.col("bvb"))
     .sortWithinPartitions("bv")
     .write.partitionBy("band", "bvb").mode("overwrite")
     .parquet(os.path.join(path, _BANDS)))
    pairs = minhash_lsh_pairs(docs, threshold, id_col, text_col, n,
                              perm_hash, band_hash)
    # size-adaptive pair files (guide #6): AQE rebalance targets the
    # advisory partition size, so the store lands as few right-sized
    # files at any corpus scale instead of one sliver per shuffle
    # task (measured 32 files / 272 KB at sf0.1 — every downstream
    # stored-pairs scan paid 32 tasks for KBs of data)
    (pairs.hint("rebalance").write.mode("overwrite")
     .parquet(os.path.join(path, _PAIRS)))
    with open(os.path.join(path, _PARAMS), "w") as fh:
        json.dump({"threshold": threshold, "n": n,
                   "bv_buckets": BV_BUCKETS}, fh)


def stored_pairs(spark: SparkSession, path: str) -> DataFrame:
    # probe-side self-heal: a maintenance pass that crashed mid-swap
    # is settled on the next read (sources/swap.py)
    swap.recover(path)
    return spark.read.parquet(os.path.join(path, _PAIRS))


def absorb_delta(spark: SparkSession, indexed_docs: DataFrame,
                 delta_docs: DataFrame, path: str,
                 threshold: float = 0.8, id_col: str = "doc_id",
                 text_col: str = "text", n: int = 3,
                 perm_hash=None, band_hash=None, append: bool = True,
                 static_max: int = DELTA_STATIC_MAX,
                 return_new: bool = False, post_pairs=None
                 ) -> DataFrame | tuple[DataFrame, DataFrame]:
    """Absorb one epoch: returns the FULL updated pair set
    (stored pairs ∪ all pairs involving a delta doc), value-identical
    to a single-shot ``minhash_lsh_pairs`` over indexed ∪ delta
    (same hashes, same banding — the lossless decomposition argued in
    the module docstring and locked by the registry oracle +
    tests/test_dedup_delta.py).

    ``indexed_docs`` is the corpus currently IN the index — read only
    to re-shingle verify-side candidates (id-pushed, candidate-sized
    work), never for signatures. ``append=True`` also lands the
    delta's band rows and the new pairs into the layout (add-only
    partitioned append; pre-existing files stay byte-identical), so
    a following epoch chains against indexed ∪ delta. Callers probing
    a SHARED cached index pass ``append=False`` (read-only absorb).

    Caller trap (measured): a frame read from the layout BEFORE an
    append — even ``.persist()``'d and counted — silently re-reads
    the post-append listing, because the append's ``refreshByPath``
    invalidates cached plans over the written path. Pin a pre-append
    snapshot with ``localCheckpoint(eager=True)`` (a LogicalRDD has
    no file source to refresh) — tests/test_dedup_delta.py's chained
    cluster test does exactly this."""
    if return_new and not append:
        raise ValueError("return_new=True needs append=True: only an "
                         "appending absorb persists the epoch's new pairs")
    swap.recover(path)
    with open(os.path.join(path, _PARAMS)) as fh:
        params = json.load(fh)
    if params["bv_buckets"] != BV_BUCKETS or params["n"] != n:
        raise ValueError(
            f"index at {path} was written with {params}, incompatible "
            f"with bv_buckets={BV_BUCKETS}, n={n}")

    sh_d = _shingle_sets(delta_docs, id_col, text_col, n).persist()
    bands_d = _signature_bands(
        sh_d, perm_hash or _xx_perm_hash, band_hash or F.xxhash64).persist()

    # ---- delta × indexed candidates off the persisted layout ----
    sc = spark.sparkContext
    base_bands = spark.read.parquet(os.path.join(path, _BANDS))
    sc.setJobDescription("absorb: delta signatures + key gate")
    # cheap pre-gate (r18): the band-row COUNT bounds the distinct key
    # count from above, so a delta whose rows exceed 2x the gate skips
    # the distinct + 2k-row collect it could never need — plan choice
    # only (both probe forms are value-identical); a dup-heavy epoch
    # between 1x and 2x still gets the exact distinct check
    keys = None
    if bands_d.count() <= static_max * 2:
        keys = (bands_d.select("band", F.col("bv"),
                               _bvb(F.col("bv")).alias("bvb"))
                .distinct().limit(static_max + 1).collect())
    if keys is not None and len(keys) <= static_max:
        # planning-time literals: band/bvb prune partition dirs, the
        # pushed bv IN-literal skips row groups via the in-file sort;
        # the equi-join below re-checks exactly, so the conjunctive
        # superset (bands × bvbs × bvs) costs only reads, never
        # correctness
        base_bands = base_bands.filter(
            F.col("band").isin(sorted({k.band for k in keys}))
            & F.col("bvb").isin(sorted({int(k.bvb) for k in keys}))
            & F.col("bv").isin(sorted({k.bv for k in keys}))
        )
    d = bands_d.alias("d")
    b = base_bands.alias("b")
    nd, nb = F.col("d.n_sh"), F.col("b.n_sh")
    length_ok = (F.least(nd, nb)
                 >= F.lit(threshold) * F.greatest(nd, nb) - F.lit(1e-9))
    cross = (
        b.join(F.broadcast(d), (F.col("d.band") == F.col("b.band"))
               & (F.col("d.bv") == F.col("b.bv"))
               # ids are disjoint across the sides in normal operation,
               # but an at-least-once REDELIVERY (foreachBatch retry
               # after a crash that already appended this epoch's band
               # rows) probes a layout containing the delta itself —
               # without this guard the retry fabricates doc_a==doc_b
               # self-pairs that verify at jaccard 1.0 (ADVICE r15)
               & (F.col("d.doc_id") != F.col("b.doc_id")) & length_ok)
        .select(
            F.least(F.col("d.doc_id"), F.col("b.doc_id")).alias("doc_a"),
            F.greatest(F.col("d.doc_id"), F.col("b.doc_id")).alias("doc_b"),
            # ids are distinct (guard above), so strict < decides
            # which side contributed doc_a
            (F.col("d.doc_id") < F.col("b.doc_id")).alias("_a_is_delta"),
            nd.alias("n_delta"), nb.alias("n_base"),
        )
        .select(
            "doc_a", "doc_b",
            F.when(F.col("_a_is_delta"), F.col("n_delta"))
            .otherwise(F.col("n_base")).alias("na"),
            F.when(F.col("_a_is_delta"), F.col("n_base"))
            .otherwise(F.col("n_delta")).alias("nb"),
        )
        # no .distinct() here: ``cand`` below distincts the union, so a
        # per-side distinct only added one full exchange per probe (one
        # sequential AQE stage-job per epoch) for the same final set
    )

    # ---- delta × delta candidates (the single-shot self-join shape,
    # over the delta only) ----
    a2, b2 = bands_d.alias("a"), bands_d.alias("b")
    na2, nb2 = F.col("a.n_sh"), F.col("b.n_sh")
    length_ok2 = (F.least(na2, nb2)
                  >= F.lit(threshold) * F.greatest(na2, nb2) - F.lit(1e-9))
    selfc = (
        a2.join(b2, (F.col("a.band") == F.col("b.band"))
                & (F.col("a.bv") == F.col("b.bv"))
                & (F.col("a.doc_id") < F.col("b.doc_id")) & length_ok2)
        .select(F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
                na2.alias("na"), nb2.alias("nb"))
        # distinct deferred to ``cand`` (see cross)
    )
    cand = cross.unionByName(selfc).distinct().persist()

    # ---- exact-Jaccard verify: delta shingles from the persisted
    # frame, indexed-side shingles re-derived for CANDIDATE docs only
    # (size-gated id pushdown into the corpus scan) ----
    sc.setJobDescription("absorb: candidate probe")
    cand_base_ids = [
        r.doc_id for r in
        cand.select(F.explode(F.array("doc_a", "doc_b")).alias("doc_id"))
        .distinct()
        .join(bands_d.select("doc_id").distinct(), "doc_id", "left_anti")
        .limit(static_max + 1).collect()
    ]
    if len(cand_base_ids) <= static_max:
        base_cand_docs = indexed_docs.filter(
            F.col(id_col).isin(cand_base_ids) if cand_base_ids
            else F.lit(False))
    else:  # huge candidate set: shuffle semi-join instead of literals
        # anti-join the delta's own ids out, mirroring the static
        # branch's left_anti: on a redelivery-after-corpus-landed
        # retry ``indexed_docs`` contains the epoch's docs, and
        # without the exclusion sh_all would carry each delta doc's
        # shingles twice, doubling intersection counts and inflating
        # jaccard (ADVICE r16)
        ids = (cand.select(F.col("doc_a").alias(id_col))
               .unionByName(cand.select(F.col("doc_b").alias(id_col)))
               .distinct()
               .join(bands_d.select(F.col("doc_id").alias(id_col))
                     .distinct(), id_col, "left_anti"))
        base_cand_docs = indexed_docs.join(ids, id_col, "left_semi")
    sh_all = sh_d.unionByName(
        _shingle_sets(base_cand_docs, id_col, text_col, n))
    sha = sh_all.select(F.col("doc_id").alias("doc_a"),
                        F.col("s").alias("sa"))
    shb = sh_all.select(F.col("doc_id").alias("doc_b"),
                        F.col("s").alias("sb"))
    inter = (
        cand.join(sha, "doc_a").join(shb, "doc_b")
        .filter(F.col("sa") == F.col("sb"))
        .groupBy("doc_a", "doc_b", "na", "nb")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    jac = F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))
    new_pairs = (
        inter.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", F.round("jaccard", 4).alias("jaccard"))
    )

    if append:
        # ``return_new=True`` (r18): also hand the caller THIS epoch's
        # freshly-derived pair set, persisted and materialized by the
        # pairs write below — the streaming label fold consumes it as
        # its edge set instead of re-scanning the whole stored pair
        # set per epoch (an epoch's ids are new, so the stored pairs
        # touching them are exactly these pairs). Caller unpersists.
        if return_new:
            new_pairs = new_pairs.persist()
        sc.setJobDescription("absorb: verify + pairs append")
        # ORDER MATTERS: the new-pairs write is the action that
        # evaluates the cross probe, which reads the bands layout off
        # disk — it must run BEFORE the delta's band rows land there,
        # or the probe sees the delta on both sides and fabricates
        # self-pairs. (The two appends are not atomic together; a
        # crash between them leaves an epoch half-absorbed — rerun
        # the absorb after restoring the layout from the previous
        # epoch's files, which both appends preserve byte-for-byte.)
        (new_pairs.hint("rebalance").write.mode("append")
         .parquet(os.path.join(path, _PAIRS)))
        # ``post_pairs`` (r18, guide #2.6 "overlap independent jobs"):
        # work that needs the pairs write done but is INDEPENDENT of
        # the band-rows append (the streaming sink's label fold and
        # epoch landing — they touch the labels store / corpus dir,
        # never the bands dir) runs on one worker thread while the
        # append executes; joined before return, so the absorb's
        # layout contract (fully appended on return) is unchanged and
        # an exception on either side still propagates.
        fut = pool = None
        if post_pairs is not None:
            from concurrent.futures import ThreadPoolExecutor

            pool = ThreadPoolExecutor(max_workers=1)
            fut = pool.submit(post_pairs, new_pairs)
        # repartition to the layout's partition grain + bv-sort before
        # the append (the write_band_index discipline): without it the
        # dynamic-partition write fans every input split across every
        # touched (band, bvb) dir — measured 8.7 s and ~32 files/dir
        # per epoch at sf0.1 vs ~1 s and 1 file/dir repartitioned
        # (VERDICT r15 #4) — and appended files kept no in-file bv
        # sort for the probe's row-group skipping to use
        sc.setJobDescription("absorb: band rows append")
        # explicit (band, bvb, bv) sort: prefix-satisfies the
        # dynamic-partition writer's required ordering, so no
        # implicit partition-column sort is inserted above ours
        # and the in-file bv order is guaranteed by construction.
        # The worker is joined even when the append raises, so a
        # failed absorb never leaves a fold running behind it.
        try:
            (bands_d.withColumn("bvb", _bvb(F.col("bv")))
             .repartition(_fanout_parts(bands_d), F.col("band"),
                          F.col("bvb"))
             .sortWithinPartitions("band", "bvb", "bv")
             .write.partitionBy("band", "bvb").mode("append")
             .parquet(os.path.join(path, _BANDS)))
        finally:
            if pool is not None:
                pool.shutdown(wait=True)
        if fut is not None:
            fut.result()
        sc.setJobDescription(None)
        for f in (sh_d, bands_d, cand):
            f.unpersist()
        full = stored_pairs(spark, path)
        return (full, new_pairs) if return_new else full
    _ABSORB_PERSISTS.extend([sh_d, bands_d, cand])
    return stored_pairs(spark, path).unionByName(new_pairs)


# Compaction trigger thresholds for an appended band index: every
# epoch's partitioned append adds ~1 file per touched (band, bvb)
# directory, so file count grows with EPOCHS while bytes grow with
# DOCS — classic small-file drift. Past ~8 files per partition dir
# the probe's scan-open overhead dominates tiny reads (the
# compact_small_files economics on this layout), and the in-file bv
# sort that row-group skipping relies on only holds WITHIN each file,
# so fragmentation also dilutes stats tightness.
COMPACT_FILES_PER_DIR = 8


def band_index_health(spark: SparkSession, path: str) -> dict:
    """Cheap maintenance trigger for an appended band index — file
    LISTING only, no data reads (the ivf_index.index_health pattern):
    per-(band, bvb) partition file counts. ``compact_recommended``
    fires when the mean files per partition dir passes
    COMPACT_FILES_PER_DIR."""
    import glob as _glob

    dirs = _glob.glob(os.path.join(path, _BANDS, "band=*", "bvb=*"))
    counts = [len(_glob.glob(os.path.join(d, "*.parquet"))) for d in dirs]
    n_dirs = max(len(counts), 1)
    mean_files = sum(counts) / n_dirs
    return {
        "n_partition_dirs": len(counts),
        "n_files": sum(counts),
        "mean_files_per_dir": round(mean_files, 2),
        "max_files_per_dir": max(counts, default=0),
        "compact_recommended": mean_files > COMPACT_FILES_PER_DIR,
    }


def compact_band_index(spark: SparkSession, path: str) -> None:
    """The maintenance pass ``band_index_health`` recommends: rewrite
    the accumulated per-epoch band files into one bv-sorted file per
    (band, bvb) partition — restoring the single-file in-file sort
    that makes the probe's pushed ``bv IN (...)`` row-group skipping
    tight — and fold the pairs dir the same way. Content-identical by
    construction (a pure re-layout: same rows, re-sorted), staged and
    swapped in as one group by sources/swap.py under the index's
    writer lock: a crash anywhere leaves the old or the new layout,
    settled by the next read (``absorb_delta``/``absorb_hamming_delta``/
    ``stored_pairs`` call ``swap.recover``). Value-preservation,
    file-count reduction, and absorb-after-compaction correctness are
    locked by tests/test_dedup_delta.py."""
    import shutil

    with swap.owner(path):
        bands_dir = os.path.join(path, _BANDS)
        staging = swap.staging_path(path)
        bands_all = spark.read.parquet(bands_dir)
        (bands_all
         .repartition(_fanout_parts(bands_all),
                      F.col("band"), F.col("bvb"))
         .sortWithinPartitions("band", "bvb", "bv")
         .write.partitionBy("band", "bvb").mode("overwrite")
         .parquet(os.path.join(staging, _BANDS)))
        (spark.read.parquet(os.path.join(path, _PAIRS)).coalesce(1)
         .write.mode("overwrite").parquet(os.path.join(staging, _PAIRS)))
        # carry in-dir metadata (the embedding tier's geometry
        # params live inside the bands dir — see _eparams_path)
        # across the rewrite: Spark's overwrite only writes data
        # files, and losing the params would strand the index
        for fname in os.listdir(bands_dir):
            if fname.startswith("_") and fname.endswith(".json"):
                shutil.copy2(os.path.join(bands_dir, fname),
                             os.path.join(staging, _BANDS, fname))
        swap.swap(path, {d: os.path.join(staging, d)
                         for d in (_BANDS, _PAIRS)})


# ---------------------------------------------------------------------------
# The same incremental lifecycle for the HAMMING family (perceptual
# hash / simhash signatures): even lighter than the MinHash form —
# the exact verify is popcount arithmetic over the signature words
# CARRIED ON the band rows, so absorbing an epoch never re-reads the
# indexed corpus at all (no verify-side re-shingling analogue).

_HPARAMS = "_hamming_index_params.json"


def hamming_band_rows(sig: DataFrame, sig_words: list[str],
                      word_bits: list[int],
                      band_width: int) -> DataFrame:
    """(doc_id, <sig_words...>, band, bv) band rows from a signature
    frame — the rows hamming_band_pairs self-joins, exposed so the
    index write and the delta probe share one definition."""
    from pyspark.sql import functions as _F

    mask = (1 << band_width) - 1
    structs, bidx = [], 0
    for col, bits in zip(sig_words, word_bits):
        for k in range(bits // band_width):
            structs.append(_F.struct(
                _F.lit(bidx).alias("band"),
                (_F.shiftright(_F.col(col), band_width * k)
                 .bitwiseAND(_F.lit(mask))).alias("bv"),
            ))
            bidx += 1
    return sig.select(
        "doc_id", *sig_words, _F.explode(_F.array(*structs)).alias("bs")
    ).select("doc_id", *sig_words,
             _F.col("bs.band").alias("band"), _F.col("bs.bv").alias("bv"))


def write_hamming_index(sig: DataFrame, path: str,
                        sig_words: list[str], word_bits: list[int],
                        band_width: int, max_hamming: int) -> None:
    """Base build for the hamming tier: band rows partitioned by
    (band, bvb), bv-sorted files, plus the corpus' single-shot pair
    set (operators/dedup.py::hamming_band_pairs — ``sig`` should be
    persisted by the caller, both passes read it)."""
    from last_minute_legends_spark.operators.dedup import (
        hamming_band_pairs,
    )

    rows = hamming_band_rows(sig, sig_words, word_bits, band_width)
    (rows.withColumn("bvb", _bvb(F.col("bv")))
     .repartition(F.col("band"), F.col("bvb"))
     .sortWithinPartitions("bv")
     .write.partitionBy("band", "bvb").mode("overwrite")
     .parquet(os.path.join(path, _BANDS)))
    pairs = hamming_band_pairs(sig, sig_words, word_bits, band_width,
                               max_hamming)
    # size-adaptive pair files via AQE rebalance (see write_band_index)
    (pairs.hint("rebalance").write.mode("overwrite")
     .parquet(os.path.join(path, _PAIRS)))
    with open(os.path.join(path, _HPARAMS), "w") as fh:
        json.dump({"sig_words": sig_words, "word_bits": word_bits,
                   "band_width": band_width, "max_hamming": max_hamming,
                   "bv_buckets": BV_BUCKETS}, fh)


def absorb_hamming_delta(spark: SparkSession, delta_sig: DataFrame,
                         path: str, append: bool = True,
                         static_max: int = DELTA_STATIC_MAX) -> DataFrame:
    """Absorb one epoch of signatures: returns the FULL updated pair
    set (stored ∪ delta-involving), value-identical to the single-shot
    hamming_band_pairs over indexed ∪ delta — per-document banding
    decomposes exactly as in the MinHash form, and the popcount verify
    is per-pair. No corpus access anywhere: signature words ride the
    band rows on BOTH sides. Same size-gated planning-literal probe /
    distributed-join fallback, same add-only appends."""
    swap.recover(path)
    with open(os.path.join(path, _HPARAMS)) as fh:
        p = json.load(fh)
    if p["bv_buckets"] != BV_BUCKETS:
        raise ValueError(f"index at {path} written with {p}, "
                         f"incompatible with bv_buckets={BV_BUCKETS}")
    sig_words, max_hamming = p["sig_words"], p["max_hamming"]

    from last_minute_legends_spark.operators.dedup import (
        hamming_band_pairs,
    )

    delta_sig = delta_sig.persist()
    bands_d = hamming_band_rows(delta_sig, sig_words, p["word_bits"],
                                p["band_width"]).persist()
    base_bands = spark.read.parquet(os.path.join(path, _BANDS))
    # row-count pre-gate — see absorb_delta
    keys = None
    if bands_d.count() <= static_max * 2:
        keys = (bands_d.select("band", F.col("bv"),
                               _bvb(F.col("bv")).alias("bvb"))
                .distinct().limit(static_max + 1).collect())
    if keys is not None and len(keys) <= static_max:
        base_bands = base_bands.filter(
            F.col("band").isin(sorted({k.band for k in keys}))
            & F.col("bvb").isin(sorted({int(k.bvb) for k in keys}))
            & F.col("bv").isin(sorted({k.bv for k in keys}))
        )
    d = bands_d.alias("d")
    b = base_bands.alias("b")
    hamming = F.bit_count(
        F.col(f"d.{sig_words[0]}").bitwiseXOR(F.col(f"b.{sig_words[0]}")))
    for w in sig_words[1:]:
        hamming = hamming + F.bit_count(
            F.col(f"d.{w}").bitwiseXOR(F.col(f"b.{w}")))
    cross = (
        b.join(F.broadcast(d), (F.col("d.band") == F.col("b.band"))
               & (F.col("d.bv") == F.col("b.bv"))
               # redelivery-safety: see the absorb_delta cross probe —
               # a retried epoch probing its own already-appended band
               # rows must not emit doc_a==doc_b self-pairs
               & (F.col("d.doc_id") != F.col("b.doc_id")))
        .select(
            F.least(F.col("d.doc_id"), F.col("b.doc_id")).alias("doc_a"),
            F.greatest(F.col("d.doc_id"), F.col("b.doc_id")).alias("doc_b"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        # distinct deferred to ``new_pairs`` below (hamming is a pure
        # function of the pair, so the deferred distinct yields the
        # same set with one exchange instead of two)
    )
    selfp = hamming_band_pairs(delta_sig, sig_words, p["word_bits"],
                               p["band_width"], max_hamming)
    new_pairs = cross.unionByName(selfp).distinct()

    if append:
        # pairs first: the write evaluates the cross probe against the
        # PRE-append layout (the absorb_delta ordering invariant)
        (new_pairs.hint("rebalance").write.mode("append")
         .parquet(os.path.join(path, _PAIRS)))
        # repartition to the layout's partition grain + bv-sort before
        # the append (the write_band_index discipline): without it the
        # dynamic-partition write fans every input split across every
        # touched (band, bvb) dir — measured 8.7 s and ~32 files/dir
        # per epoch at sf0.1 vs ~1 s and 1 file/dir repartitioned
        # (VERDICT r15 #4) — and appended files kept no in-file bv
        # sort for the probe's row-group skipping to use
        (bands_d.withColumn("bvb", _bvb(F.col("bv")))
         .repartition(_fanout_parts(bands_d), F.col("band"), F.col("bvb"))
         .sortWithinPartitions("band", "bvb", "bv")
         .write.partitionBy("band", "bvb").mode("append")
         .parquet(os.path.join(path, _BANDS)))
        for f in (delta_sig, bands_d):
            f.unpersist()
        return stored_pairs(spark, path)
    _ABSORB_PERSISTS.extend([delta_sig, bands_d])
    return stored_pairs(spark, path).unionByName(new_pairs)


# ---------------------------------------------------------------------------
# The same incremental lifecycle for the EMBEDDING tier (sign-LSH
# over cosine similarity — the LAION/semantic-dedup case): the last
# near-dup family still re-hashing all of history per epoch after
# r15 covered MinHash and hamming (VERDICT r15 #1). Two wrinkles the
# other tiers don't have:
#
# - the hyperplanes must be FROZEN with the index (the
#   sources/ivf_index.py frozen-centroid append pattern): they are
#   already deterministic in (seed, plane, dim)
#   (operators/dedup.py::random_hyperplanes), so the params file
#   stores only the geometry and every absorb re-derives the exact
#   planes — nothing model-sized is persisted or shipped;
# - the band geometry ADAPTS to corpus size (operators/dedup.py::
#   lsh_params widens bands ~log2(n) to keep random collisions
#   linear), so a grown corpus eventually needs a RE-BAND — that is
#   wired into the health/maintenance loop below
#   (embedding_index_health flags geometry drift the way the IVF
#   footer-count trigger flags bucket drift; reband_embedding_index
#   is the staged atomic-swap retrain).

_EPARAMS = "_embedding_index_params.json"


def _eparams_path(path: str) -> str:
    """The embedding tier's geometry params live INSIDE the bands
    directory (Spark's parquet listing ignores ``_``-prefixed files),
    so the one rename that installs a rebanded bands dir installs
    its params in the same atomic step — bands and params
    can never be observed mismatched, no matter where a re-band
    crashes (ADVICE r16: the old root-level params file was replaced
    AFTER the dir swap, so a crash in the window left new-geometry
    band rows paired with old-geometry params and later absorbs
    silently re-derived the wrong frozen planes)."""
    return os.path.join(path, _BANDS, _EPARAMS)


def _read_eparams(path: str) -> dict:
    p = _eparams_path(path)
    if not os.path.exists(p):  # pre-r17 layout: params at the root
        p = os.path.join(path, _EPARAMS)
    with open(p) as fh:
        return json.load(fh)

# Geometry-drift trigger: re-band when the adaptive band width for
# the CURRENT corpus differs from the written one by more than this
# many bits. Exactly at-width the candidate economics still hold
# (each extra bit doubles random-collision suppression, so one bit of
# drift costs/saves ~2x candidates — tolerable; two bits is 4x and
# the n²/2^b quadratic tier starts showing through).
REBAND_BITS_DRIFT = 2


def write_embedding_index(emb: DataFrame, path: str,
                          threshold: float = 0.95, seed: int = 1,
                          n_vectors: int | None = None) -> None:
    """Base build for the embedding tier. ``emb`` is
    (id, v: array<double>, nrm) as produced by
    operators/similarity.with_unit_vectors (persisted by the caller —
    the band pass and the pair build both read it). Band geometry is
    the adaptive fixpoint for THIS corpus size
    (operators/dedup.py::lsh_params); the single-shot pair set is
    stored beside the (band, bvb)-partitioned, bv-sorted band rows,
    and the params file freezes (bits_per_band, n_bands, dim, seed,
    n_indexed) so every later absorb re-derives identical planes."""
    from last_minute_legends_spark.operators.dedup import (
        embedding_band_values, embedding_lsh_pairs, lsh_params,
        random_hyperplanes,
    )

    n = n_vectors if n_vectors is not None else emb.count()
    bits_per_band, n_bands = lsh_params(n, threshold)
    dim = emb.select(F.size(F.col("v")).alias("d")).first()["d"]
    planes = random_hyperplanes(emb.sparkSession,
                                n_planes=bits_per_band * n_bands,
                                dim=dim, seed=seed)
    rows = embedding_band_values(emb, planes, bits_per_band)
    (rows.withColumnRenamed("id", "doc_id")
     .withColumn("bvb", _bvb(F.col("bv")))
     .repartition(F.col("band"), F.col("bvb"))
     .sortWithinPartitions("bv")
     .write.partitionBy("band", "bvb").mode("overwrite")
     .parquet(os.path.join(path, _BANDS)))
    pairs = embedding_lsh_pairs(emb, planes=planes, threshold=threshold,
                                n_bands=n_bands)
    # size-adaptive pair files via AQE rebalance (see write_band_index)
    (pairs.hint("rebalance").write.mode("overwrite")
     .parquet(os.path.join(path, _PAIRS)))
    # params INSIDE the bands dir + written via temp-name replace:
    # atomic with the dir that needs them (see _eparams_path)
    tmp = _eparams_path(path) + ".tmp"
    with open(tmp, "w") as fh:
        json.dump({"threshold": threshold, "bits_per_band": bits_per_band,
                   "n_bands": n_bands, "dim": dim, "seed": seed,
                   "n_indexed": n, "bv_buckets": BV_BUCKETS}, fh)
    os.replace(tmp, _eparams_path(path))


def _frozen_planes(spark: SparkSession, p: dict) -> DataFrame:
    from last_minute_legends_spark.operators.dedup import (
        random_hyperplanes,
    )

    return random_hyperplanes(
        spark, n_planes=p["bits_per_band"] * p["n_bands"],
        dim=p["dim"], seed=p["seed"])


def absorb_embedding_delta(spark: SparkSession, indexed_emb: DataFrame,
                           delta_emb: DataFrame, path: str,
                           append: bool = True,
                           static_max: int = DELTA_STATIC_MAX) -> DataFrame:
    """Absorb one epoch of embeddings: returns the FULL updated pair
    set (stored ∪ delta-involving), value-identical to the
    single-shot ``embedding_lsh_pairs`` over indexed ∪ delta with the
    index's frozen geometry — per-vector banding decomposes exactly
    as in the MinHash form, and the exact-cosine verify is per-pair
    (so a band-recall miss is the ONLY possible divergence from the
    all-pairs oracle, identical to the single-shot entry's own recall
    story). ``indexed_emb``/``delta_emb`` as produced by
    with_unit_vectors: (id, v, nrm) — the indexed side is read ONLY
    to fetch candidate vectors for the verify (id-pushed,
    candidate-sized), never for signatures. Same size-gated
    planning-literal probe / distributed-join fallback, same add-only
    appends, same ``id !=`` redelivery guard as the other tiers."""
    swap.recover(path)
    p = _read_eparams(path)
    if p["bv_buckets"] != BV_BUCKETS:
        raise ValueError(f"index at {path} written with {p}, "
                         f"incompatible with bv_buckets={BV_BUCKETS}")
    threshold = p["threshold"]
    from last_minute_legends_spark.functions.vectors import cosine
    from last_minute_legends_spark.operators.dedup import (
        embedding_band_values,
    )

    delta_emb = delta_emb.persist()
    planes = _frozen_planes(spark, p)
    bands_d = (embedding_band_values(delta_emb, planes, p["bits_per_band"])
               .withColumnRenamed("id", "doc_id").persist())

    base_bands = spark.read.parquet(os.path.join(path, _BANDS))
    # row-count pre-gate — see absorb_delta
    keys = None
    if bands_d.count() <= static_max * 2:
        keys = (bands_d.select("band", F.col("bv"),
                               _bvb(F.col("bv")).alias("bvb"))
                .distinct().limit(static_max + 1).collect())
    if keys is not None and len(keys) <= static_max:
        base_bands = base_bands.filter(
            F.col("band").isin(sorted({k.band for k in keys}))
            & F.col("bvb").isin(sorted({int(k.bvb) for k in keys}))
            & F.col("bv").isin(sorted({k.bv for k in keys}))
        )
    d = bands_d.alias("d")
    b = base_bands.alias("b")
    cross = (
        b.join(F.broadcast(d), (F.col("d.band") == F.col("b.band"))
               & (F.col("d.bv") == F.col("b.bv"))
               # redelivery-safety: see the absorb_delta cross probe
               & (F.col("d.doc_id") != F.col("b.doc_id")))
        .select(
            F.least(F.col("d.doc_id"), F.col("b.doc_id")).alias("vec_a"),
            F.greatest(F.col("d.doc_id"), F.col("b.doc_id")).alias("vec_b"),
        )
        # distinct deferred to ``cand`` (one exchange instead of three
        # across the probe union — same final set)
    )
    a2, b2 = bands_d.alias("a"), bands_d.alias("b")
    selfc = (
        a2.join(b2, (F.col("a.band") == F.col("b.band"))
                & (F.col("a.bv") == F.col("b.bv"))
                & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("vec_a"),
                F.col("b.doc_id").alias("vec_b"))
        # distinct deferred to ``cand`` (see cross)
    )
    cand = cross.unionByName(selfc).distinct().persist()

    # exact-cosine verify: delta vectors from the persisted frame,
    # indexed-side vectors fetched for CANDIDATE ids only (size-gated
    # id pushdown into the embeddings scan — the MinHash verify's
    # candidate-only re-shingling, one join instead of a re-hash)
    delta_ids = bands_d.select("doc_id").distinct()
    cand_base_ids = [
        r.doc_id for r in
        cand.select(F.explode(F.array("vec_a", "vec_b")).alias("doc_id"))
        .distinct()
        .join(delta_ids, "doc_id", "left_anti")
        .limit(static_max + 1).collect()
    ]
    if len(cand_base_ids) <= static_max:
        base_cand = indexed_emb.filter(
            F.col("id").isin(cand_base_ids) if cand_base_ids
            else F.lit(False))
    else:
        # exclude the delta's own ids (the static branch's left_anti):
        # a redelivery retry passing an indexed side that already
        # contains the epoch would otherwise duplicate those vectors
        # in vec_all and emit duplicate pair rows (ADVICE r16 pattern)
        ids = (cand.select(F.col("vec_a").alias("id"))
               .unionByName(cand.select(F.col("vec_b").alias("id")))
               .distinct()
               .join(delta_ids.withColumnRenamed("doc_id", "id"),
                     "id", "left_anti"))
        base_cand = indexed_emb.join(ids, "id", "left_semi")
    vec_all = delta_emb.select("id", "v", "nrm").unionByName(
        base_cand.select("id", "v", "nrm"))
    va = vec_all.select(F.col("id").alias("vec_a"), F.col("v").alias("va"),
                        F.col("nrm").alias("na"))
    vb = vec_all.select(F.col("id").alias("vec_b"), F.col("v").alias("vb"),
                        F.col("nrm").alias("nb"))
    new_pairs = (
        cand.join(va, "vec_a").join(vb, "vec_b")
        .withColumn("cos", cosine(F.col("va"), F.col("na"),
                                  F.col("vb"), F.col("nb")))
        .filter(F.col("cos") >= threshold)
        .select("vec_a", "vec_b", F.round("cos", 4).alias("cosine"))
    )

    if append:
        # pairs first: the write evaluates the cross probe against the
        # PRE-append layout (the absorb_delta ordering invariant)
        (new_pairs.hint("rebalance").write.mode("append")
         .parquet(os.path.join(path, _PAIRS)))
        # repartition to the layout's partition grain + bv-sort before
        # the append (the write_band_index discipline): without it the
        # dynamic-partition write fans every input split across every
        # touched (band, bvb) dir — measured 8.7 s and ~32 files/dir
        # per epoch at sf0.1 vs ~1 s and 1 file/dir repartitioned
        # (VERDICT r15 #4) — and appended files kept no in-file bv
        # sort for the probe's row-group skipping to use
        (bands_d.withColumn("bvb", _bvb(F.col("bv")))
         .repartition(_fanout_parts(bands_d), F.col("band"), F.col("bvb"))
         .sortWithinPartitions("band", "bvb", "bv")
         .write.partitionBy("band", "bvb").mode("append")
         .parquet(os.path.join(path, _BANDS)))
        for f in (delta_emb, bands_d, cand):
            f.unpersist()
        return stored_pairs(spark, path)
    _ABSORB_PERSISTS.extend([delta_emb, bands_d, cand])
    return stored_pairs(spark, path).unionByName(new_pairs)


def embedding_index_health(spark: SparkSession, path: str,
                           n_total: int) -> dict:
    """Maintenance trigger for an appended embedding band index: the
    file-count metrics of ``band_index_health`` PLUS the
    geometry-drift check unique to this tier — ``lsh_params`` widens
    bands with n, so once the corpus has grown enough that the
    adaptive band width departs from the written one by more than
    REBAND_BITS_DRIFT bits, ``reband_recommended`` fires (candidate
    volume is drifting onto the n²/2^b quadratic tier) and
    ``reband_embedding_index`` is the pass that clears it. File
    listing + one params read — no data scan."""
    from last_minute_legends_spark.operators.dedup import lsh_params

    h = band_index_health(spark, path)
    p = _read_eparams(path)
    want_bits, want_bands = lsh_params(max(n_total, 2), p["threshold"])
    h.update({
        "written_bits_per_band": p["bits_per_band"],
        "adaptive_bits_per_band": want_bits,
        "n_indexed_at_build": p["n_indexed"],
        "n_total": n_total,
        "reband_recommended":
            abs(want_bits - p["bits_per_band"]) > REBAND_BITS_DRIFT,
    })
    return h


def reband_embedding_index(spark: SparkSession, emb: DataFrame,
                           path: str) -> None:
    """The re-band pass ``embedding_index_health`` recommends: a full
    rebuild at the CURRENT corpus size's adaptive geometry (fresh
    band width + band count, fresh single-shot pair set), staged and
    swapped in as one group by sources/swap.py under the index's
    writer lock — a crash anywhere leaves the old or the new index,
    settled by the next read. The new params ride INSIDE the staged
    bands dir (_eparams_path), so geometry and band rows install
    together; the swap also drops a stale pre-r17 root-level params
    file, so the legacy fallback in _read_eparams can never shadow
    the in-bands copy. This is the IVF staged retrain applied to the
    band-geometry axis; cost = one single-shot run, paid only when
    the corpus has outgrown its geometry (~each time n grows
    ~2^REBAND_BITS_DRIFT×)."""
    with swap.owner(path):
        p = _read_eparams(path)
        staging = swap.staging_path(path)
        write_embedding_index(emb, staging, p["threshold"],
                              seed=p["seed"])
        swap.swap(path, {_BANDS: os.path.join(staging, _BANDS),
                         _PAIRS: os.path.join(staging, _PAIRS),
                         _EPARAMS: None})


# ---------------------------------------------------------------------------
# Incremental CLUSTER maintenance: the delta lifecycle above ends in
# updated PAIR sets; a real dedup pipeline then needs the cluster
# labels (keeper election = min doc id per component) maintained too
# — and re-running label propagation over the whole accumulated pair
# graph per epoch is exactly the re-hash-all-of-history pattern this
# module exists to kill.


def merge_cluster_labels(labels: DataFrame,
                         new_edges: DataFrame) -> DataFrame:
    """Fold one epoch's new duplicate pairs into maintained cluster
    labels: returns (id, cluster_id) over labels ∪ the new edges'
    nodes, value-identical to ``connected_components`` over the whole
    accumulated pair graph (test-locked, and the registry entry's
    oracle recomputes the full transitive closure from scratch).

    The trick that makes the fold EPOCH-SIZED: each existing cluster
    is already contracted to one representative (``cluster_id`` = the
    min member id — connected_components' invariant), so connectivity
    changes from the new edges are fully captured by the CONTRACTED
    graph whose nodes are the touched labels and whose edges are the
    new pairs mapped through the current labeling. That graph has at
    most 2·|epoch pairs| nodes however big history is; the iterative
    CC runs on it alone, and min-label over a merged component of
    min-ids is the global min id. History is touched exactly twice,
    both as single narrow passes: the label lookup for the new
    edges' endpoints (an equi-join on id) and the final relabel (a
    BROADCAST join against the epoch-sized merge map — labels not in
    the map pass through untouched). At 100 TB: per-epoch cost ∝
    epoch pairs + affected clusters; the labels table itself is the
    only corpus-sized frame and it is never iterated, only mapped."""
    lab = labels.select("id", "cluster_id")
    nodes_new = (new_edges.select(F.col("doc_a").alias("id"))
                 .unionByName(new_edges.select(F.col("doc_b").alias("id")))
                 .distinct())
    # nodes first seen this epoch enter as their own singletons
    lab_all = (
        nodes_new.join(lab, "id", "left")
        .select("id", F.coalesce("cluster_id", F.col("id"))
                .alias("cluster_id"))
        .unionByName(lab.join(nodes_new, "id", "left_anti"))
    )
    la = lab_all.select(F.col("id").alias("doc_a"),
                        F.col("cluster_id").alias("la"))
    lb = lab_all.select(F.col("id").alias("doc_b"),
                        F.col("cluster_id").alias("lb"))
    contracted = (
        new_edges.join(la, "doc_a").join(lb, "doc_b")
        .filter(F.col("la") != F.col("lb"))
        .select(F.least("la", "lb").alias("doc_a"),
                F.greatest("la", "lb").alias("doc_b"))
        .distinct()
    )
    from last_minute_legends_spark.operators.dedup import (
        connected_components,
    )

    merges = connected_components(contracted)
    # merges: (id = old label, cluster_id = merged label); epoch-sized
    remap = merges.select(F.col("id").alias("cluster_id"),
                          F.col("cluster_id").alias("_new"))
    return (
        lab_all.join(F.broadcast(remap), "cluster_id", "left")
        .select("id", F.coalesce("_new", "cluster_id").alias("cluster_id"))
    )


# ---------------------------------------------------------------------------
# Incremental SEMANTIC dedup (the SemDeDup tier's delta lifecycle):
# the k-means geometry is the frozen model — analogous to the
# embedding tier's frozen hyperplanes and the IVF index's frozen
# centroids — so newly ingested documents assign to the EXISTING
# clusters with one narrow literal fold and compare only against the
# stored members of the clusters they land in. Ingestion order is id
# order (new docs carry higher ids), which is what makes min-id
# keeper verdicts MONOTONE: a stored document's verdict can never be
# changed by a later arrival, so the verdict store is append-only and
# an epoch's absorb is epoch x bounded-cluster-size work, never a
# corpus rescan.

_SEM_ASSIGN = "assign"
_SEM_VERDICTS = "verdicts"
_SEM_PARAMS = "_semantic_index_params.json"


def write_semantic_index(emb: DataFrame, path: str, threshold: float,
                         k: int, iters: int, id_hash=None,
                         sample_mod: int | None = None,
                         use_np: bool = False) -> None:
    """Build the semantic index over the base corpus: train the
    frozen centroid model (train_centroids — deterministic, bounded
    sample at scale), persist it as model-sized JSON, write the
    (bucket, id) membership table partitioned by bucket (so an
    absorb's probe is a planning-time-pruned read of only the
    clusters its epoch touches), and compute + persist the base
    verdicts once (semantic_keep — they are final under id-ordered
    ingestion)."""
    import json as _json

    from last_minute_legends_spark.operators.similarity import (
        semantic_keep, semantic_keep_np, train_centroids,
    )

    import uuid as _uuid

    cent = train_centroids(emb, k=k, iters=iters, id_hash=id_hash,
                           sample_mod=sample_mod)
    rows = sorted((int(r.id), [float(x) for x in r.v], float(r.nrm))
                  for r in cent.collect())
    os.makedirs(path, exist_ok=True)
    from last_minute_legends_spark.operators.similarity import with_bucket
    assigned = with_bucket(emb.select("id", "v", "nrm"), rows)
    # epoch=0 is the base build; every absorbed epoch lands in its own
    # epoch=<min id> subdir, OVERWRITTEN whole — a foreachBatch
    # redelivery of the same epoch replaces its own rows and nothing
    # else (the per-epoch-subdir redelivery discipline the MinHash /
    # hamming / embedding tiers use for their corpus landings)
    (assigned.select("id", "bucket")
     .repartition(F.col("bucket")).sortWithinPartitions("bucket", "id")
     .write.mode("overwrite").partitionBy("bucket")
     .parquet(os.path.join(path, _SEM_ASSIGN, "epoch=0")))
    spark = emb.sparkSession
    cent_df = spark.createDataFrame(rows, "id int, v array<double>, nrm double")
    # use_np selects the BLAS verify kernel for production-scaled
    # geometry builds (the SQL kernel is the oracle-parity default —
    # the sf0.01 gate entries replay its exact sequential arithmetic)
    keep_fn = semantic_keep_np if use_np else semantic_keep
    (keep_fn(emb, cent_df, threshold)
     .write.mode("overwrite")
     .parquet(os.path.join(path, _SEM_VERDICTS, "epoch=0")))
    # params ride INSIDE the assign dir and a matching build tag
    # INSIDE the verdicts dir: geometry and membership travel with the
    # dirs a retrain swaps, and the tag lets a reader check that
    # assign and verdicts come from one build (the tests check it
    # after every injected retrain crash)
    tag = _uuid.uuid4().hex
    tmp = os.path.join(path, _SEM_ASSIGN, f".params.tmp{os.getpid()}")
    with open(tmp, "w") as fh:
        _json.dump({"threshold": threshold, "k": k, "iters": iters,
                    "sample_mod": sample_mod,
                    "id_hash": "md5" if id_hash is not None else "xx",
                    "use_np": bool(use_np),
                    "n_indexed_at_build": emb.count(), "tag": tag,
                    "centroids": rows}, fh)
    os.replace(tmp, os.path.join(path, _SEM_ASSIGN, _SEM_PARAMS))
    ttmp = os.path.join(path, _SEM_VERDICTS, f".tag.tmp{os.getpid()}")
    with open(ttmp, "w") as fh:
        fh.write(tag)
    os.replace(ttmp, os.path.join(path, _SEM_VERDICTS, "_SEM_TAG"))


def absorb_semantic_delta(spark: SparkSession, corpus: DataFrame,
                          delta: DataFrame, path: str,
                          append: bool = False) -> DataFrame:
    """Fold one epoch of new (higher-id) vectors into the semantic
    index and return the FULL maintained verdict frame (stored ∪
    epoch): the epoch assigns against the frozen centroids (narrow),
    reads ONLY its touched clusters' membership (bucket-partitioned
    pruned scan), fetches stored members' vectors candidate-only from
    the corpus (the absorb-verify economics — the index never stores
    vectors), and verdicts each epoch doc against stored-smaller-id ∪
    epoch-smaller-id same-cluster neighbors. ``append=True`` lands
    the epoch's membership rows and verdicts into the store
    (idempotent per epoch: per-bucket overwrite of the epoch's own
    subdir would be the streaming form's redelivery discipline)."""
    import json as _json

    from last_minute_legends_spark.functions.vectors import cosine
    from last_minute_legends_spark.operators.similarity import with_bucket

    swap.recover(path)
    with open(os.path.join(path, _SEM_ASSIGN, _SEM_PARAMS)) as fh:
        p = _json.load(fh)
    rows = [(int(i), [float(x) for x in v], float(n))
            for i, v, n in p["centroids"]]
    tau = float(p["threshold"])
    d = with_bucket(delta.select("id", "v", "nrm"), rows).persist()
    _ABSORB_PERSISTS.append(d)
    bks = sorted(int(r.bucket) for r in d.select("bucket").distinct().collect())
    stored = (spark.read.parquet(os.path.join(path, _SEM_ASSIGN))
              .filter(F.col("bucket").isin(bks))
              .select("id", "bucket"))
    # candidate-only vector fetch for the touched clusters' members
    cand = corpus.select("id", "v", "nrm").join(stored, "id")
    da = cand.select("bucket", F.col("id").alias("id_a"),
                     F.col("v").alias("va"), F.col("nrm").alias("na"))
    ia = d.select("bucket", F.col("id").alias("id_a"),
                  F.col("v").alias("va"), F.col("nrm").alias("na"))
    db = d.select("bucket", F.col("id").alias("id_b"),
                  F.col("v").alias("vb"), F.col("nrm").alias("nb"))
    pairs = (da.unionByName(ia).join(db, "bucket")
             .filter(F.col("id_a") < F.col("id_b"))
             .withColumn("cos", cosine(F.col("va"), F.col("na"),
                                       F.col("vb"), F.col("nb")))
             .filter(F.col("cos") >= tau))
    dom = (pairs.groupBy("id_b")
           .agg(F.min("id_a").alias("dup_of"),
                F.min_by("cos", "id_a").alias("dup_cos"))
           .withColumnRenamed("id_b", "id"))
    epoch_verdicts = (
        d.select("id", "bucket")
        .join(dom, "id", "left")
        .select("id", "bucket",
                F.col("dup_of").isNull().cast("int").alias("keep"),
                "dup_of", F.round("dup_cos", 4).alias("dup_cos")))
    if append:
        # redelivery-safe landing: the epoch's rows live in their own
        # epoch=<min id> subdirs and are OVERWRITTEN whole on retry
        ep = int(d.agg(F.min("id")).first()[0])
        epoch_verdicts.write.mode("overwrite").parquet(
            os.path.join(path, _SEM_VERDICTS, f"epoch={ep}"))
        (d.select("id", "bucket")
         .repartition(F.col("bucket")).sortWithinPartitions("bucket", "id")
         .write.mode("overwrite").partitionBy("bucket")
         .parquet(os.path.join(path, _SEM_ASSIGN, f"epoch={ep}")))
        return (spark.read.parquet(os.path.join(path, _SEM_VERDICTS))
                .select("id", "bucket", "keep", "dup_of", "dup_cos"))
    stored_verdicts = (spark.read
                       .parquet(os.path.join(path, _SEM_VERDICTS))
                       .select("id", "bucket", "keep", "dup_of", "dup_cos"))
    return stored_verdicts.unionByName(epoch_verdicts)


def _sem_read_params(path: str) -> dict:
    import json as _json
    with open(os.path.join(path, _SEM_ASSIGN, _SEM_PARAMS)) as fh:
        return _json.load(fh)


def semantic_index_health(spark: SparkSession, path: str) -> dict:
    """Geometry-drift trigger for the semantic index: the frozen
    k-means model was sized for the corpus at build time
    (k ≈ n / SEM_TARGET_CLUSTER_ROWS); as absorbs grow the membership
    store, mean cluster size — and therefore within-cluster pair cost
    per epoch — drifts up. Fires ``retrain_recommended`` when the
    adaptive k for the CURRENT population departs from the written k
    by 4x either way (2 bits — the embedding tier's
    REBAND_BITS_DRIFT economics on the cluster axis). Cost: one
    params read + one footer-count scan (row-count-only parquet read,
    no data pages)."""
    from last_minute_legends_spark.operators.similarity import (
        semantic_scaled_params,
    )

    p = _sem_read_params(path)
    n = spark.read.parquet(os.path.join(path, _SEM_ASSIGN)).count()
    rec_k, _ = semantic_scaled_params(int(n))
    k = int(p["k"])
    return {
        "n_indexed": int(n),
        "n_indexed_at_build": int(p.get("n_indexed_at_build", 0)),
        "written_k": k,
        "adaptive_k": rec_k,
        "retrain_recommended": rec_k >= 4 * k or k >= 4 * rec_k,
    }


def retrain_semantic_index(spark: SparkSession, emb: DataFrame,
                           path: str) -> None:
    """The retrain pass ``semantic_index_health`` recommends: a full
    rebuild at the CURRENT population's adaptive geometry (fresh k,
    bounded training sample, fresh membership + verdicts), staged and
    swapped in as one group by sources/swap.py under the index's
    writer lock — a crash anywhere leaves the consistent old store or
    the consistent new one (same build tag in assign and verdicts),
    settled by the next read. The IVF staged retrain applied to the
    dedup axis; paid only when the corpus has outgrown its clusters
    ~4x."""
    from last_minute_legends_spark.functions.portable_hash import md5_id_hash
    from last_minute_legends_spark.operators.similarity import (
        semantic_scaled_params,
    )

    with swap.owner(path):
        p = _sem_read_params(path)
        staging = swap.staging_path(path)
        n = emb.count()
        k, mod = semantic_scaled_params(int(n))
        write_semantic_index(
            emb, staging, float(p["threshold"]), k=k,
            iters=int(p["iters"]),
            id_hash=md5_id_hash if p.get("id_hash") == "md5" else None,
            sample_mod=mod, use_np=bool(p.get("use_np")))
        swap.swap(path, {d: os.path.join(staging, d)
                         for d in (_SEM_ASSIGN, _SEM_VERDICTS)})
