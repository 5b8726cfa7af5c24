"""Write-time IVF-PQ index: partition-pruned probes over CODES-ONLY
resident state.

The composed tier's 100 TB shape, making both claims executable at
once: the IVF side's "a probe reads only n_probe/k of the data"
(``partitionBy("bucket")`` parquet → static planning-time
``PartitionFilters: bucket IN (...)``, the sources/ivf_index.py
discipline) and the PQ side's "the index stores m small ints per
vector" — the ``codes/`` layout carries ``(id, codes)`` and NOTHING
else (no float vectors: 64 resident bits per 64-dim vector at the
shipped 16x4x16 geometry; plan-asserted via the scan's ReadSchema in
tests/test_plans.py). ADC reconstruction happens at probe time from
the k·m·d_sub-cell codeword literal (model-parameter-sized, inlined
into codegen), and the exact re-rank fetches TRUE vectors
candidate-only from the base table — shortlist-sized, the absorb
verify economics.

Economics: the expensive passes (coarse assignment + 16 subspace
encodings over the full corpus — all narrow literal folds, the
writer's partitionBy the only exchange) are paid once at write time;
every probe then reads n_probe bucket dirs of int-array rows.

Reference parity: the reference has no ANN surface (SURVEY §2.4
extends it); this is the storage path for the composed tier
introduced in plans/ann_q.py::ann_ivfpq_topk.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from last_minute_legends_spark.functions.vectors import cosine, norm
from last_minute_legends_spark.operators.similarity import (
    _codebook_rows,
    assign_buckets,
    pq_reconstruct,
)
from last_minute_legends_spark.sources.ivf_index import PROBE_STATIC_MAX

_CODES = "codes"
_CENTROIDS = "centroids"
_CODEBOOKS = "codebooks"
_META = "_ivfpq_meta.json"


def write_ivfpq_index(candidates: DataFrame, centroids: DataFrame,
                      codebooks: list, d_sub: int, path: str) -> None:
    """Materialize the composed index: coarse-bucketed, PQ-encoded
    ``(id, codes)`` rows partitioned by bucket (id-sorted files for
    row-group skipping), plus the two model side tables (k-row coarse
    centroids, m stacked codebooks) and a meta json."""
    bucketed = assign_buckets(candidates, centroids)
    coded = pq_reconstruct(bucketed, codebooks, d_sub, keep=("bucket",))
    # column-keyed repartition (the band-write grain): each bucket's
    # rows land in ONE partition — one id-sorted file per bucket dir,
    # writers parallel across buckets (repartition(1, ...) would
    # serialize the whole corpus through a single writer task)
    (coded.select("id", "codes", "bucket")
     .repartition(F.col("bucket")).sortWithinPartitions("bucket", "id")
     .write.mode("overwrite").partitionBy("bucket")
     .parquet(os.path.join(path, _CODES)))
    (centroids.coalesce(1).write.mode("overwrite")
     .parquet(os.path.join(path, _CENTROIDS)))
    # codebooks arrive as per-subspace DataFrames OR pre-collected
    # row lists (the plans/ann_q.py cache loader hands lists); a
    # single createDataFrame of the flattened model replaces the
    # former m-way unionByName plan (m frames -> one m·k-row local
    # relation, exact doubles either way)
    flat = [(i, cid, cv, cn)
            for i, rows in enumerate(_codebook_rows(codebooks))
            for cid, cv, cn in rows]
    stacked = candidates.sparkSession.createDataFrame(
        flat, "sub int, id int, v array<double>, nrm double")
    (stacked.coalesce(1).write.mode("overwrite")
     .parquet(os.path.join(path, _CODEBOOKS)))
    tmp = os.path.join(path, f"{_META}.tmp{os.getpid()}")
    with open(tmp, "w") as fh:
        json.dump({"d_sub": d_sub, "m": len(codebooks)}, fh)
    os.replace(tmp, os.path.join(path, _META))


def _decode_codes(spark: SparkSession, path: str,
                  codes_df: DataFrame) -> DataFrame:
    """(id, bucket, rv, rn_) — ADC reconstruction of a ``(id, codes,
    bucket)`` frame in ONE Arrow pass with the m codeword tables in
    the task closure (r18, VERDICT r17 #3: the former per-subspace
    ``map(...)`` literal expressions put m·k·d_sub doubles of parsed
    SQL text into every probe plan — ~18 KB at the shipped geometry,
    re-analyzed per fresh plan instance). Decoding is pure table
    lookup + concatenation (no arithmetic), and ``rn_`` accumulates
    one dimension at a time left-to-right — functions/vectors.py's
    ``norm`` fold order, bit-identical (the probe previously computed
    the same norm per (probe, row) join OUTPUT row; computing it once
    per code row before the join is both exact and cheaper)."""
    import numpy as np
    import pandas as pd

    with open(os.path.join(path, _META)) as fh:
        meta = json.load(fh)
    m = int(meta["m"])
    rows = spark.read.parquet(os.path.join(path, _CODEBOOKS)).collect()
    by_sub: dict[int, list] = {}
    for r in rows:
        by_sub.setdefault(int(r.sub), []).append(
            (int(r.id), [float(x) for x in r.v]))
    cb_np = []
    for i in range(m):
        srows = sorted(by_sub[i])
        cb_np.append((np.array([c for c, _ in srows], dtype=np.int32),
                      np.array([v for _, v in srows], dtype=np.float64)))
    d_sub = cb_np[0][1].shape[1]
    dim = m * d_sub

    df = codes_df.select("id", "codes", "bucket")
    ftypes = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    out_schema = (f"id {ftypes['id']}, bucket {ftypes['bucket']}, "
                  "rv array<double>, rn_ double")

    def decode(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            codes = np.vstack(pdf["codes"].to_numpy()).astype(np.int64)
            nrows = len(pdf)
            R = np.empty((nrows, dim), dtype=np.float64)
            for i, (cids, C) in enumerate(cb_np):
                # searchsorted returns an insertion point, not a match:
                # a code id missing from the codebook would silently
                # decode as its neighbouring codeword
                idx = np.minimum(np.searchsorted(cids, codes[:, i]),
                                 len(cids) - 1)
                bad = cids[idx] != codes[:, i]
                if bad.any():
                    raise ValueError(
                        f"IVF-PQ index corruption at {path}: code id "
                        f"{int(codes[bad, i][0])} of subspace {i} is not "
                        "in its codebook")
                R[:, i * d_sub:(i + 1) * d_sub] = C[idx]
            acc = np.zeros(nrows)
            for j in range(dim):
                acc = acc + R[:, j] * R[:, j]
            yield pd.DataFrame({"id": pdf["id"], "bucket": pdf["bucket"],
                                "rv": list(R), "rn_": np.sqrt(acc)})

    return df.mapInPandas(decode, out_schema)


def ivfpq_probe_topk(spark: SparkSession, path: str, queries: DataFrame,
                     corpus: DataFrame, k: int = 10, n_probe: int = 2,
                     rerank: int = 100,
                     static_max: int = PROBE_STATIC_MAX) -> DataFrame:
    """Probe the written composed index: planning-literal
    ``bucket IN (...)`` over the codes layout (the probe_topk static
    path — only (q_id, bucket) int pairs ever reach the driver), ADC
    against the codeword reconstruction, exact re-rank fetching the
    shortlist's true vectors from ``corpus``. Value-identical to
    operators.similarity.ivfpq_topk over the same models (same
    tiebreaks everywhere), so the registry entry shares the composed
    replay oracle."""
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
    small = q.limit(static_max + 1).count() <= static_max
    if small:
        pair_plan = assigned.select("q_id", "bucket")
        pairs = pair_plan.collect()          # ints only — never vectors
        pairs_df = spark.createDataFrame(pairs, pair_plan.schema)
        probes = q.join(F.broadcast(pairs_df), "q_id").select(
            "q_id", "qv", "qn", "bucket")
        buckets = sorted({int(r.bucket) for r in pairs})
        codes = (spark.read.parquet(os.path.join(path, _CODES))
                 .filter(F.col("bucket").isin(buckets)))
        adc = F.broadcast(probes).join(_decode_codes(spark, path, codes),
                                       "bucket")
    else:
        codes = spark.read.parquet(os.path.join(path, _CODES))
        adc = assigned.join(_decode_codes(spark, path, codes), "bucket")
    adc = adc.withColumn(
        "cos", cosine(F.col("qv"), F.col("qn"), F.col("rv"), F.col("rn_")))
    ws = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("id"))
    short = (adc.withColumn("srn", F.row_number().over(ws))
             .filter(F.col("srn") <= rerank)
             .select("q_id", F.col("id").alias("c_id")))
    pairs2 = short.join(F.broadcast(q), "q_id")
    scored = (corpus
              .select(F.col("id").alias("c_id"), F.col("v").alias("cv"),
                      F.col("nrm").alias("cn"))
              .join(F.broadcast(pairs2), "c_id")
              .withColumn("cos", cosine(F.col("qv"), F.col("qn"),
                                        F.col("cv"), F.col("cn"))))
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("c_id"))
    return (scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= k)
            .select("q_id", "rn", "c_id",
                    F.round("cos", 4).alias("cosine")))


def _read_codebooks(spark: SparkSession, path: str) -> tuple[list, int]:
    """(list of m per-subspace pre-collected codebook row lists,
    d_sub) read back from the layout in ONE collect — the frozen
    model an append encodes against (model-parameter-sized)."""
    with open(os.path.join(path, _META)) as fh:
        meta = json.load(fh)
    by_sub: dict[int, list] = {}
    for r in spark.read.parquet(os.path.join(path, _CODEBOOKS)).collect():
        by_sub.setdefault(int(r.sub), []).append(
            (int(r.id), [float(x) for x in r.v], float(r.nrm)))
    cbs = [sorted(by_sub[i]) for i in range(int(meta["m"]))]
    return cbs, int(meta["d_sub"])


def append_ivfpq_index(spark: SparkSession, new_vectors: DataFrame,
                       path: str) -> None:
    """Frozen-MODEL ingest into the written composed index: the new
    vectors assign against the stored coarse centroids and encode
    against the stored codebooks (both narrow literal folds — neither
    model retrains), and ``mode("append")`` under ``partitionBy``
    adds files ONLY to the touched bucket directories (pre-append
    files byte-identical — the append_ivf_index discipline; the index
    gains (id, codes) rows, never vectors). Probes see the ingested
    vectors immediately via the same partition-pruned scan."""
    cent = spark.read.parquet(os.path.join(path, _CENTROIDS))
    cbs, d_sub = _read_codebooks(spark, path)
    bucketed = assign_buckets(new_vectors, cent)
    coded = pq_reconstruct(bucketed, cbs, d_sub, keep=("bucket",))
    (coded.select("id", "codes", "bucket")
     .repartition(F.col("bucket")).sortWithinPartitions("bucket", "id")
     .write.mode("append").partitionBy("bucket")
     .parquet(os.path.join(path, _CODES)))
