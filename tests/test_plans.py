"""Physical-plan assertions (SURVEY §5c): the scale properties the
docstrings claim must be visible in the plans Catalyst actually
produces — broadcasts where promised, pushdown reaching the scan,
pruned reads, and NEVER a shuffle cartesian or a row-at-a-time
Python UDF anywhere in the registry.
"""

import pytest


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# streaming entries execute eagerly (real stream runs) and
# dedup_clusters materializes its fixpoint at construction time; their
# plan strings are just result scans, so they're skipped here (covered
# by tests/test_streaming.py and the CC unit test).
_SKIP = {"stream_pipeline", "stream_sessionize", "stream_enrich",
         "stream_dedup", "dedup_clusters"}


def _batch_keys():
    from last_minute_legends_spark.plans.queries import QUERIES

    return sorted(k for k in QUERIES if k not in _SKIP)


# The only registry entries allowed to engage the pure-Python Avro
# codec when the JVM spark-avro jar is absent: they EXIST to exercise
# the Confluent wire format end-to-end. Any other entry adopting the
# codec is a new hot path on the ~per-record slow lane (VERDICT r12
# #7; the measured cost is the 6 s events_avro_evolution bench cell).
_AVRO_OK = {"events_avro_roundtrip", "events_avro_evolution"}


@pytest.mark.parametrize("name", _batch_keys())
def test_no_shuffle_cartesian_or_row_udf(spark, sf_dir, name):
    """CartesianProduct = all-pairs shuffle join (the 100 TB killer);
    BatchEvalPython = row-at-a-time Python UDF (the 10-100x slow path).
    Neither may appear in any registered batch plan. (Broadcast
    nested-loop joins against bounded broadcast sides — query vectors,
    hyperplanes, 1-row corpus stats — are intentional and allowed.)
    Also asserts the pure-Python Avro codec stays confined to the
    wire-parity entries (_AVRO_OK)."""
    from last_minute_legends_spark.plans.queries import QUERIES
    from last_minute_legends_spark.sources import avro_io

    avro_io.PY_CODEC_USES.clear()
    plan = _plan(QUERIES[name](spark, sf_dir))
    assert "CartesianProduct" not in plan, f"{name}: shuffle cartesian in plan"
    assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python UDF"
    if avro_io.PY_CODEC_USES and name not in _AVRO_OK:
        raise AssertionError(
            f"{name}: engages the pure-Python Avro codec "
            f"({avro_io.PY_CODEC_USES}) — the per-record slow lane is "
            f"confined to {sorted(_AVRO_OK)}")


def test_q5_broadcasts_dimensions(spark, sf_dir):
    from last_minute_legends_spark.plans.queries import QUERIES

    plan = _plan(QUERIES["q5_local_supplier_volume"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan, "dimension joins should broadcast"


def test_q6_filters_pushed_to_scan(spark, sf_dir):
    from last_minute_legends_spark.plans.queries import QUERIES

    plan = _plan(QUERIES["q6_forecast_revenue"](spark, sf_dir))
    assert "PushedFilters: [" in plan
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "GreaterThan" in pushed or "IsNotNull" in pushed, (
        f"no filters reached the parquet scan: [{pushed}]"
    )


def test_q1_prunes_unused_columns(spark, sf_dir):
    """ReadSchema must not include lineitem columns q1 never touches."""
    from last_minute_legends_spark.plans.queries import QUERIES

    plan = _plan(QUERIES["q1_pricing_summary"](spark, sf_dir))
    assert "l_comment" not in plan, "unpruned scan: l_comment is read"
    assert "l_partkey" not in plan, "unpruned scan: l_partkey is read"


def test_vocab_topk_no_global_window(spark, sf_dir):
    """The corpus top-100 must compile to TakeOrderedAndProject
    (per-partition heaps merged at the driver), never a global
    row_number window — that would sort billions of terms on one
    executor at a 100 TB corpus."""
    from last_minute_legends_spark.plans.queries import QUERIES

    plan = _plan(QUERIES["text_vocab_topk"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, "top-100 should be TakeOrdered"
    assert "Window" not in plan, "global window in vocab plan"
    assert "SinglePartition" not in plan, "single-partition exchange in vocab plan"


def test_oracle_entries_fit_driver_window():
    """Every oracle-backed entry must sit inside the driver's
    correctness window (the gate records only the first
    ORACLE_WINDOW registry entries — observed r3). Ordering is
    enforced in plans/queries.py; this test fails the build if the
    oracle set outgrows the window."""
    from last_minute_legends_spark.plans.queries import (
        ORACLE_SQL,
        ORACLE_WINDOW,
        QUERIES,
    )

    from last_minute_legends_spark.plans.queries import WINDOW_ROTATE

    # rotation keys must exist at all before window placement is
    # meaningful — a soft-import failure dropping a plan family would
    # otherwise surface as a misleading "missed the window" error
    unregistered = set(WINDOW_ROTATE) - set(QUERIES)
    assert not unregistered, (
        f"WINDOW_ROTATE keys not in the registry at all: {unregistered} — "
        "check for a plans-module import failure (stderr WARNING)"
    )
    # the window budget is shared by oracle-backed AND rotated entries
    need = len(ORACLE_SQL) + len(WINDOW_ROTATE)
    assert need <= ORACLE_WINDOW, (
        f"{len(ORACLE_SQL)} oracle-backed + {len(WINDOW_ROTATE)} rotated "
        f"rows-only queries = {need} > {ORACLE_WINDOW}-entry driver window "
        "— demote an oracle entry to LOCAL_SQL or drop a rotation key"
    )
    head = list(QUERIES)[:ORACLE_WINDOW]
    missing = set(ORACLE_SQL) - set(head)
    assert not missing, f"oracle-backed entries outside the window: {missing}"
    rotated_out = set(WINDOW_ROTATE) - set(head)
    assert not rotated_out, f"rotated entries missed the window: {rotated_out}"
    # and every oracle key must actually be a registered query
    dangling = set(ORACLE_SQL) - set(QUERIES)
    assert not dangling, f"oracle SQL without a query: {dangling}"


def test_every_query_has_a_bench_cell():
    """bench.py's HEADLINE/STREAMING lists are manual; this locks the
    'every queries() key has a bench cell' property they claim — the
    r13 sketch entries shipped and were silently absent from the
    bench until this drift check existed."""
    import bench

    from last_minute_legends_spark.plans.queries import QUERIES

    covered = set(bench.HEADLINE) | set(bench.STREAMING)
    missing = set(QUERIES) - covered
    assert not missing, f"registry entries with no bench cell: {missing}"
    dangling = covered - set(QUERIES)
    assert not dangling, f"bench cells without a registry entry: {dangling}"


def _oracle_keys():
    from last_minute_legends_spark.plans.queries import ORACLE_SQL

    return sorted(ORACLE_SQL)


@pytest.mark.parametrize("name", _oracle_keys())
def test_oracle_entries_gate_hashable_schema(spark, sf_dir, name):
    """Every driver-exported oracle entry must return only SCALAR
    top-level columns. The driver gate canonicalizes results with
    pandas sort_values + factorize, and list/dict-valued cells are
    unhashable there (`TypeError: unhashable type: 'list'` — the r10
    `bpe_tokenize` red row, CORRECTNESS_r10). Serialize arrays with
    concat_ws/to_json before exporting an entry through
    oracle_sql()."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    from last_minute_legends_spark.plans.queries import QUERIES

    schema = QUERIES[name](spark, sf_dir).schema
    complex_cols = [
        f.name for f in schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]
    assert not complex_cols, (
        f"{name}: gate-unhashable top-level columns {complex_cols} — "
        "the driver's pandas canonicalizer cannot sort/hash these; "
        "render them as strings (concat_ws / to_json) in both the "
        "Spark plan and its oracle SQL"
    )


def test_typed_parse_single_scan(spark, sf_dir):
    """events_typed_parse must scan each source table exactly ONCE
    (events + the part-rendered catalog topic = 2 scans total): the
    union-schema from_json parse is a single pass. The r4 plan unioned
    one filter+from_json branch per event type — k full scans of the
    fact table, a scale killer at 100 TB."""
    from last_minute_legends_spark.plans.queries import QUERIES

    plan = _plan(QUERIES["events_typed_parse"](spark, sf_dir))
    n_scans = plan.count("Scan parquet")
    assert n_scans == 2, (
        f"{n_scans} parquet scans — each of the 2 source tables must be "
        "scanned exactly once (single-pass union-schema parse)"
    )


def test_asof_join_single_user_shuffle(spark, sf_dir):
    """The union-sort as-of join must not contain a join operator at
    all — it is windows over one user partitioning."""
    from last_minute_legends_spark.plans.queries import QUERIES

    plan = _plan(QUERIES["asof_join"](spark, sf_dir))
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan, (
        "as-of should be union+window, not a join"
    )


def _assert_no_keyed_exchange(plan: str, label: str) -> None:
    """No hash/range-keyed shuffle. The CPU-spread scan
    (sources/tables.py spread_cpu_scan) injects one ROUND-ROBIN
    exchange on small under-split inputs — deliberate, key-free, and
    structurally absent at scale — so only keyed repartitionings
    count as a formulation bug here."""
    for kind in ("hashpartitioning", "rangepartitioning"):
        assert f"Exchange {kind}" not in plan, (
            f"{label}: keyed shuffle ({kind}) in plan"
        )


def test_repetition_signals_no_exchange(spark, sf_dir):
    """The Gopher repetition pass is pure per-row array math — a
    keyed shuffle anywhere in it would be a formulation bug (the
    100 TB claim is 'linear, no keyed exchange')."""
    from last_minute_legends_spark.operators.curation import repetition_signals
    from last_minute_legends_spark.sources.tables import Catalog

    # the registry entry adds an orderBy for oracle determinism, so
    # assert on the operator itself
    plan = _plan(repetition_signals(Catalog(spark, sf_dir).documents))
    _assert_no_keyed_exchange(plan, "repetition signals")


def test_pii_redact_no_exchange(spark, sf_dir):
    from last_minute_legends_spark.operators.curation import pii_redact
    from last_minute_legends_spark.sources.tables import Catalog

    plan = _plan(pii_redact(Catalog(spark, sf_dir).documents))
    _assert_no_keyed_exchange(plan, "pii redaction")


def test_decontaminate_broadcasts_eval_side(spark, sf_dir):
    """The contamination check must be a broadcast join (eval sets
    are bounded); a sort-merge join here would shuffle the full
    train-corpus shingle stream at 100 TB."""
    import pyspark.sql.functions as F

    from last_minute_legends_spark.operators.curation import decontaminate
    from last_minute_legends_spark.sources.tables import Catalog

    docs = Catalog(spark, sf_dir).documents
    df = decontaminate(docs.filter(F.col("doc_id") % 7 != 0),
                       docs.filter(F.col("doc_id") % 7 == 0), n=8)
    plan = _plan(df)
    assert "BroadcastHashJoin [s#" in plan, "eval shingles must broadcast"
    # the doc_id-keyed left join re-attaching flags to the corpus is
    # an acceptable equi-shuffle; a sort-merge join on the SHINGLE
    # key would mean the train shingle stream shuffled
    assert "SortMergeJoin [s#" not in plan, (
        "train shingles shuffled into the contamination join"
    )


def test_decontaminate_fuzzy_broadcasts_eval_side(spark, sf_dir):
    """The asymmetric LSH must broadcast BOTH eval-side frames — band
    rows into the candidate join and eval shingles into the verify
    join. A sort-merge join on the band or shingle keys would mean
    the train corpus' band/shingle stream shuffled, the exact cost
    minhash_lsh_cross exists to avoid."""
    from last_minute_legends_spark.plans.curation_q import decontaminate_fuzzy

    plan = _plan(decontaminate_fuzzy(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 3, (
        "eval band rows, eval shingles AND the bounded candidate set "
        "must all broadcast"
    )
    # no join in this pipeline may sort-merge: band/bv would shuffle
    # the corpus band stream, doc_id would shuffle the corpus SHINGLE
    # stream (the text) into the verify join
    assert "SortMergeJoin" not in plan, (
        "a corpus-side frame shuffled into a join"
    )


def test_ivf_assignment_is_narrow(spark, sf_dir):
    """Bucket assignment against a trained centroid model must be a
    narrow map over the candidate scan — no join, no aggregation
    (the property that lets assignment ride along any existing pass
    at 100 TB)."""
    from last_minute_legends_spark.operators.similarity import (
        assign_buckets, train_centroids, with_unit_vectors,
    )
    from last_minute_legends_spark.sources.tables import Catalog

    vecs = with_unit_vectors(Catalog(spark, sf_dir).embeddings)
    cents = train_centroids(vecs, k=4, iters=1)
    plan = _plan(assign_buckets(vecs, cents))
    _assert_no_keyed_exchange(plan, "IVF assignment")
    assert "Join" not in plan, "assignment must not join"


def test_shingle_spread_stage_stays_clean(spark, sf_dir):
    """The shingle explode must tokenize AFTER the spread exchange.

    Catalyst's InferFiltersFromGenerate + predicate pushdown can drag
    an inferred ``size(shingles) > 0`` — with the whole tokenization
    expression substituted in — below the Repartition onto the raw
    scan, re-running the regexp pipeline serially on the unspread
    split (measured 10× at sf0.1; see _shingle_sets for the
    explode_outer formulation that prevents it). Lock the fixed plan:
    below the spread Exchange there must be nothing but the scan."""
    from last_minute_legends_spark.operators.dedup import _shingle_sets
    from last_minute_legends_spark.sources.tables import Catalog

    # earlier tests (test_oracle runs first alphabetically) leave the
    # jaccard pipeline's persisted shingle frame in the cache, and the
    # matching subtree here would print as an InMemoryRelation — this
    # test locks the FRESH plan shape, so drop caches first
    spark.catalog.clearCache()
    plan = _plan(_shingle_sets(
        Catalog(spark, sf_dir).documents, "doc_id", "text"))
    assert "Exchange" in plan, "spread exchange missing from shingle plan"
    below = plan.split("Exchange", 1)[1]
    assert "regexp_replace" not in below, (
        "tokenization sank below the spread exchange — the explode "
        "stage will serialize on the scan's splits"
    )
    # and n_sh must not re-trigger the array-copy trap: no shingle
    # array column may survive past the Generate (match the exact
    # `_sh#NN` attribute — `n_sh#NN` is the legitimate size column)
    import re

    gen = plan.split("Generate", 1)[0]
    assert not re.search(r"(?<![A-Za-z0-9_])_sh#", gen), (
        "shingle array column escapes the Generate — every exploded "
        "row is carrying the whole array"
    )


@pytest.mark.parametrize(
    "name", ["multimodal_features", "multimodal_framesample",
             "multimodal_resize", "dedup_phash"])
def test_multimodal_blobs_never_shuffled(spark, sf_dir, name):
    """The multimodal module contract: the binary payload column never
    passes through an Exchange before the Arrow pass (extract first,
    shuffle the small typed rows, not the blobs). The operators'
    spread default is False; this locks the plan side of that — below
    the MapInPandas there must be scan+project only."""
    from last_minute_legends_spark.plans.queries import QUERIES

    if name == "dedup_phash":
        # the public entry eagerly checkpoints (persist hygiene,
        # r17), collapsing its plan to a LogicalRDD — assert on the
        # pre-materialization frame instead
        from last_minute_legends_spark.plans.multimodal_q import (
            _dedup_phash_plan,
        )

        sig, lazy = _dedup_phash_plan(spark, sf_dir)
        plan = _plan(lazy)
        sig.unpersist()
    else:
        plan = _plan(QUERIES[name](spark, sf_dir))
    assert "MapInPandas" in plan, f"{name}: expected an Arrow pass"
    below = plan.split("MapInPandas", 1)[1]
    # shuffle exchanges are the forbidden shape; dedup_phash's planted
    # companion legitimately carries a 1-row BroadcastExchange (the
    # _plant_offset cross) under its Arrow pass — a broadcast of a
    # scalar aggregate moves no payload bytes
    assert "Exchange hashpartitioning" not in below, (
        f"{name}: payload shuffle below the Arrow pass\n{below[:500]}")
    assert "Exchange rangepartitioning" not in below, (
        f"{name}: payload shuffle below the Arrow pass\n{below[:500]}")


def test_ivf_probe_prunes_partitions(spark, sf_dir):
    """VERDICT r11 #3: a probe against the written IVF index must
    prune at PLANNING time — the index FileScan carries a
    PartitionFilters bucket IN (...) clause and no data-side bucket
    filter, i.e. the k - n_probe other bucket directories are never
    listed, opened, or read (the write-time-partitioning claim of
    SURVEY §6 made executable)."""
    from last_minute_legends_spark.plans.ann_q import ann_ivf_probe_indexed

    plan = _plan(ann_ivf_probe_indexed(spark, sf_dir))
    scans = [ln for ln in plan.splitlines()
             if "FileScan" in ln and "llm_spark_ivf_index" in ln]
    assert scans, "no index scan in the probe plan:\n" + plan
    for ln in scans:
        part = ln.split("PartitionFilters: ", 1)
        assert len(part) == 2 and part[1].lstrip().startswith("[bucket#"), (
            "index scan without a planning-time bucket partition "
            "filter:\n" + ln)
        assert " IN (" in part[1].split("]", 1)[0], (
            "partition filter is not the static bucket IN (...) "
            "prune:\n" + ln)
        assert "DataFilters: []" in ln, (
            "bucket pruning leaked into a data-side filter (full scan "
            "+ post-filter instead of partition prune):\n" + ln)


def test_events_partition_pruned_scan(spark, sf_dir):
    """The day-partitioned recency query must prune at planning time:
    its index scan carries the static event_day_us >= lo
    PartitionFilter (resolved from the partition listing, not the
    data) and no data-side day filter."""
    from last_minute_legends_spark.plans.events_analytics import (
        events_partition_pruned,
    )

    plan = _plan(events_partition_pruned(spark, sf_dir))
    scans = [ln for ln in plan.splitlines()
             if "FileScan" in ln and "llm_spark_events_by_day" in ln]
    assert scans, "no partitioned-layout scan in the plan:\n" + plan
    for ln in scans:
        part = ln.split("PartitionFilters: ", 1)
        assert len(part) == 2 and "event_day_us#" in part[1].split("]", 1)[0], (
            "scan without a day PartitionFilter:\n" + ln)
        assert ">=" in part[1].split("]", 1)[0], (
            "day range is not a static >= prune:\n" + ln)
        assert "DataFilters: []" in ln, (
            "day pruning leaked into a data-side filter:\n" + ln)


def test_bloom_semi_join_plan_and_conf_hygiene(spark, sf_dir):
    """The bloom_semi_join entry must carry the runtime Bloom filter
    in its PHYSICAL plan — bloom_filter_agg over the filtered dim's
    keys AND a might_contain predicate on the fact side (the
    semi-join reduction that keeps non-matching fact rows out of the
    shuffle) — and must restore every session conf it scoped for
    planning (the shared session must not inherit the disabled
    broadcast threshold)."""
    from last_minute_legends_spark.operators.runtime_filter import (
        _PLANNING_CONFS,
    )
    from last_minute_legends_spark.plans.events_analytics import (
        bloom_semi_join,
    )

    before = {}
    for k in _PLANNING_CONFS:
        try:
            before[k] = spark.conf.get(k)
        except Exception:
            before[k] = None

    plan = _plan(bloom_semi_join(spark, sf_dir))
    assert "bloom_filter_agg" in plan, plan
    assert "might_contain" in plan, plan

    for k, v in before.items():
        try:
            after = spark.conf.get(k)
        except Exception:
            after = None
        assert after == v, f"conf {k} leaked: {v!r} -> {after!r}"


def test_aqe_skew_join_fires_on_zipf_keys(spark):
    """The repo's skew story has two layers: explicit salting
    (operators/skew.py, value-oracled via the skew_join entry) and
    AQE's runtime skew-join split. This pins the SECOND layer on data
    shaped like the Zipf ladder corpora (rank = ⌊N^u⌋, user 0 owning
    ~ln2/lnN of all rows): after execution, the adaptive plan must
    show SortMergeJoin(skew=true) with an AQEShuffleRead that
    coalesced AND split skewed partitions — and the skew-split result
    must equal the broadcast-join truth row-for-row (splitting a hot
    partition duplicates the build side per split; a wrong merge
    would duplicate output rows). Thresholds are lowered (and
    restored) because the defaults are sized for real executors, not
    a 200k-row fixture.

    The test also fixes its own shuffle width and input partitions,
    because both otherwise follow the host's core count
    (SPARK_GRAFT_CPUS sets local[N] and the session's
    spark.sql.shuffle.partitions). With P reduce partitions, the
    partition holding user 0 (share p0 = ln2/ln2000 ~ 0.091 of the
    rows) is about 1 + p0*P/(1 - p0) times the median: 1.40 at P=4,
    1.80 at P=8. A split needs that ratio above skewedPartitionFactor
    (1.5), i.e. P > 0.5*(1 - p0)/p0 ~ 5, so P is set to 8, the suite's
    default width. Re-check this bound when the factor or the key
    ladder changes. And spark.range(n) splits into defaultParallelism
    partitions: at local[1] both join inputs have one partition, which
    already satisfies the join's distribution, so no Exchange is
    planned and no skew split can happen. Both ranges therefore get 8
    partitions explicitly (same rows, only their partitioning
    changes)."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.shuffle.partitions": "8",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.5",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
    }
    saved = {}
    for k, v in confs.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    try:
        n_ev, n_u = 400_000, 2_000
        u = (F.pmod(F.xxhash64("id", F.lit(9), F.lit(2)),
                    F.lit(1 << 20)) + F.lit(0.5)) / F.lit(1 << 20)
        ev = spark.range(0, n_ev, 1, 8).select(
            F.col("id").alias("event_id"),
            (F.floor(F.pow(F.lit(float(n_u)), u)) - 1)
            .cast("long").alias("user_id"))
        dim = spark.range(0, n_u, 1, 8).select(
            F.col("id").alias("user_id"), (F.col("id") % 25).alias("nk"))

        j = ev.join(dim, "user_id").groupBy("nk").agg(
            F.count(F.lit(1)).alias("n"))
        got = {(r.nk, r.n) for r in j.collect()}
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan
        assert "AQEShuffleRead coalesced and skewed" in plan, plan

        truth = {(r.nk, r.n) for r in
                 ev.join(F.broadcast(dim), "user_id").groupBy("nk")
                 .agg(F.count(F.lit(1)).alias("n")).collect()}
        assert got == truth
    finally:
        for k, old in saved.items():
            if old is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, old)


def test_ivfpq_probe_prunes_and_stores_codes_only(spark, sf_dir):
    """The written IVF-PQ layout (r17b): a probe's codes scan must
    (a) prune at PLANNING time — static bucket IN (...)
    PartitionFilters, empty DataFilters (the k - n_probe other bucket
    dirs never listed/opened) — and (b) read ONLY (id, codes): no
    float vector column in the index ReadSchema, which is the m-small-
    ints-per-vector resident-state claim made executable. The true
    vectors appear only in the shortlist-sized re-rank fetch against
    the base table."""
    from pyspark.sql import functions as F

    from last_minute_legends_spark.functions.portable_hash import md5_id_hash
    from last_minute_legends_spark.operators.similarity import (
        PQ_RERANK, train_centroids,
    )
    from last_minute_legends_spark.plans.ann_q import (
        IVF_ITERS, IVF_N_PROBE, N_CENTROIDS, N_QUERIES, TOP_K,
        _ensure_pq_codebooks, _vectors,
    )
    from last_minute_legends_spark.sources import layout_cache
    from last_minute_legends_spark.sources.ivfpq_index import (
        ivfpq_probe_topk, write_ivfpq_index,
    )

    import os

    vecs = _vectors(spark, sf_dir)
    queries = vecs.filter(F.col("id") < N_QUERIES)
    candidates = vecs.filter(F.col("id") >= N_QUERIES).persist()
    idx = layout_cache.layout_dir(
        "llm_spark_ivfpq_index",
        os.path.join(sf_dir, "embeddings.parquet"),
        f"v1-md5-k{N_CENTROIDS}")

    def _build(tmp):
        cent = train_centroids(candidates, k=N_CENTROIDS,
                               iters=IVF_ITERS, id_hash=md5_id_hash)
        cbs, d_sub = _ensure_pq_codebooks(spark, sf_dir, candidates)
        write_ivfpq_index(candidates, cent, cbs, d_sub, tmp)

    layout_cache.build_once(idx, _build)
    plan = _plan(ivfpq_probe_topk(spark, idx, queries, candidates,
                                  k=TOP_K, n_probe=IVF_N_PROBE,
                                  rerank=PQ_RERANK))
    # the Location path is truncated in plan lines — identify the
    # codes scan by its ReadSchema instead
    scans = [ln for ln in plan.splitlines()
             if "FileScan" in ln and "llm_spark_ivfpq_index" in ln
             and "codes:array<int>" in ln]
    assert scans, "no codes scan in the probe plan:\n" + plan
    for ln in scans:
        part = ln.split("PartitionFilters: ", 1)
        assert len(part) == 2 and part[1].lstrip().startswith("[bucket#"), (
            "codes scan without a planning-time bucket partition "
            "filter:\n" + ln)
        assert " IN (" in part[1].split("]", 1)[0], ln
        assert "DataFilters: []" in ln, ln
        rs = ln.split("ReadSchema: ", 1)
        assert len(rs) == 2 and "codes:array<int>" in rs[1] \
            and "v:array<double>" not in rs[1], (
            "index scan reads more than (id, codes):\n" + ln)
    candidates.unpersist()
