"""Seeded input generation for the benchmark.

Everything the library sees is produced here from ``--seed``: the
star-schema parquet tables (the layout and value domains of the sf
test data, TESTDATA.md), the document corpus the dedup workload
ingests, and the user-activity topic files of the event stream. The
same seed gives byte-identical files; a different seed gives different
ones (``selfcheck.py`` checks both).
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_ADJ = ("blue", "hot", "small", "old", "red", "new", "cold", "large")
_NOUN = ("bolt", "gear", "anvil", "widget", "rod", "ring", "plate", "gizmo")
_PTYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_LANGS = ("en", "de", "es", "fr", "zh")
# The document regime of tools/scale_bench.py (BASELINE_LOCAL.md r9):
# 30-70 words from a 20k-token vocabulary plus a 20% mix of 40
# stopwords, and one document in 20 a one-word mutation of another
# (3-gram Jaccard 0.8-0.9, above the 0.8 threshold): a fixed 5% near-dup
# density whose true pairs are the planted ones, not the quadratic
# random pairs of a small vocabulary.
_VOCAB_SIZE = 20_000
_STOPWORDS = ("the of and to in is was for on with as by at from it that this "
              "be are were has had not but or an if then else when where who "
              "what which how all any each").split()
_DUP_EVERY = 20

_US_PER_DAY = 86_400_000_000
_DAY_1995 = 9131          # 1995-01-01 in days since the epoch
_EVENTS_T0_US = 1_704_067_200_000_000   # 2024-01-01T00:00:00Z


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int):
    return np.round(rng.uniform(lo, hi, n), 2)


def _fresh_words(rng: np.random.Generator) -> list[str]:
    n = int(rng.integers(30, 71))
    return [_STOPWORDS[int(rng.integers(0, len(_STOPWORDS)))]
            if stop else f"tok{int(rng.integers(0, _VOCAB_SIZE))}"
            for stop in rng.random(n) < 0.2]


def _doc_texts(rng: np.random.Generator, n_docs: int) -> list[str]:
    """Texts of ``n_docs`` documents in blocks of 20: 19 fresh ones and,
    at a seeded place in the block, a copy of a seeded fresh document
    of the previous block (of its own, in the first block) with one
    interior word (position 5-24) replaced. Every whole block holds one
    planted pair, so every epoch of whole blocks absorbs the same
    number of pairs, one of them against documents already indexed."""
    docs: list[list[str]] = []
    prev: list[list[str]] = []
    for b0 in range(0, n_docs, _DUP_EVERY):
        n = min(_DUP_EVERY, n_docs - b0)
        fresh = [_fresh_words(rng) for _ in range(n - 1)]
        src = prev or fresh or [_fresh_words(rng)]
        copy = list(src[int(rng.integers(0, len(src)))])
        copy[int(rng.integers(5, 25))] = f"mut{b0}"
        block = list(fresh)
        block.insert(int(rng.integers(0, n)), copy)
        docs += block
        prev = fresh
    return [" ".join(w) for w in docs]


def write_tables(out_dir: str, seed: int, sf: float) -> None:
    """The ten star-schema tables at scale factor ``sf``, with the
    schema, key ranges and value domains of the sf test data."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_users = int(1_000_000 * sf), max(int(15_000 * sf), 10)
    n_docs, n_emb = int(50_000 * sf), int(50_000 * sf)
    i32 = pa.int32()

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), i32), "r_name": list(_REGIONS)})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": _names("Customer", n_cust),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust)})
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": _names("Supplier", n_supp),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part, dtype="int64")
    _write(out_dir, "part", {
        "p_partkey": pk,
        "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_PTYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2)})
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(("F", "O", "P"), n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts((_DAY_1995 + rng.integers(0, 2404, n_ord))
                           * _US_PER_DAY),
        "o_orderpriority": rng.choice(_PRIORITIES, n_ord)})
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(("A", "N", "R"), n_line),
        "l_linestatus": rng.choice(("F", "O"), n_line),
        "l_shipdate": _ts((_DAY_1995 + 1 + rng.integers(0, 2498, n_line))
                          * _US_PER_DAY)})
    step = 30 * _US_PER_DAY // max(n_ev, 1)
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": _ts(_EVENTS_T0_US + np.arange(n_ev) * step
                  + rng.integers(0, step, n_ev)),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": rng.choice(_EVENT_TYPES, n_ev),
        "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = _doc_texts(rng, n_docs)
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_docs, dtype="int64"), "text": texts,
        "lang": rng.choice(_LANGS, n_docs, p=(0.44, 0.14, 0.14, 0.14, 0.14)),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64")})
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = (centers[labels] + rng.normal(0.0, 0.3, (n_emb, 64))).astype("float32")
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_emb, dtype="int64"),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels, i32)})


def write_corpus(path: str, seed: int, n_docs: int) -> None:
    """The dedup workload's documents table (``doc_id``, ``text``); the
    seed decides the texts, where each planted copy sits in its block
    and which document it copies, so the documents of an ingest epoch
    (a doc-id range) change with the seed."""
    rng = np.random.default_rng([seed, 2])
    pq.write_table(pa.table({"doc_id": np.arange(n_docs, dtype="int64"),
                             "text": _doc_texts(rng, n_docs)}), path)


def topic_files(sim_rows: list[tuple], seed: int, n_files: int,
                redeliver_share: float) -> list[str]:
    """Render simulated events as ``n_files`` JSON-lines topic files.

    ``sim_rows`` are ``(id, timestamp_us, event_name, user_id)``
    tuples in id order. File ``i`` carries the ``i``-th id range;
    a seeded ``redeliver_share`` of each file's events is delivered
    again one to three files later (at-least-once delivery), so the
    stream must drop them."""
    rng = np.random.default_rng([seed, 3])
    values = np.round(rng.exponential(50.0, len(sim_rows)), 2) + 0.01
    lines = [json.dumps({"event_id": int(i), "ts_us": int(ts),
                         "user_id": int(uid), "event_type": ev,
                         "value": float(v), "props": f'{{"k": {int(i) % 100}}}'},
                        separators=(",", ":"))
             for (i, ts, ev, uid), v in zip(sim_rows, values)]
    per = -(-len(lines) // n_files)
    files = [lines[k * per:(k + 1) * per] for k in range(n_files)]
    extra: list[list[str]] = [[] for _ in range(n_files)]
    for k, chunk in enumerate(files):
        for j in np.flatnonzero(rng.random(len(chunk)) < redeliver_share):
            dst = k + int(rng.integers(1, 4))
            if dst < n_files:
                extra[dst].append(chunk[j])
    return ["\n".join(chunk + more) + "\n" for chunk, more in zip(files, extra)]
