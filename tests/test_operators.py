"""Operator-family unit tests on planted data — proves semantics the
sparse synthetic tables can't (gap edges, dup detection, ordered
funnels, as-of tie handling, ANN recall)."""

import datetime as dt

from pyspark.sql import functions as F


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_planted(spark):
    from last_minute_legends_spark.operators.dedup import exact_duplicates

    docs = _docs(spark, [
        (1, "the quick brown fox"),
        (2, "The  quick   brown fox  "),   # normalizes to the same
        (3, "a different document"),
    ])
    out = exact_duplicates(docs).collect()
    assert len(out) == 1
    assert out[0].n_docs == 2 and out[0].keeper_doc_id == 1


def test_jaccard_and_minhash_find_near_dup(spark):
    from last_minute_legends_spark.operators.dedup import (
        jaccard_pairs, minhash_lsh_pairs,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    near = base.replace("delta", "delta2", 1)
    docs = _docs(spark, [(1, base), (2, near), (3, "zz yy xx ww vv uu tt ss")])
    jp = {(r.doc_a, r.doc_b) for r in jaccard_pairs(docs, threshold=0.5).collect()}
    mp = {(r.doc_a, r.doc_b) for r in minhash_lsh_pairs(docs, threshold=0.5).collect()}
    assert (1, 2) in jp
    assert (1, 2) in mp
    assert all(p == (1, 2) for p in jp)


def test_prefix_filter_excludes_hot_shingle(spark):
    """A shingle shared by EVERY doc must not generate candidates on
    its own (it sorts last in the rare-first prefix order), while a
    real near-dup pair is still found — the skew-bomb guard."""
    from last_minute_legends_spark.operators.dedup import (
        doc_shingle_profiles, jaccard_pairs,
    )

    hot = "common shared phrase"   # one 3-gram present in every doc
    rows = [(i, f"{hot} unique{i}a unique{i}b unique{i}c unique{i}d")
            for i in range(1, 21)]
    base = f"{hot} alpha beta gamma delta epsilon zeta"
    rows += [(100, base), (101, base + " extraword")]
    docs = _docs(spark, rows)

    prof = doc_shingle_profiles(docs, 0.5)
    hot_in_prefix = prof.filter(F.col("s") == hot).count()
    assert hot_in_prefix == 0, "hot shingle leaked into the prefix index"

    pairs = {(r.doc_a, r.doc_b) for r in jaccard_pairs(docs, threshold=0.5).collect()}
    assert (100, 101) in pairs
    assert all(p == (100, 101) for p in pairs)


def test_jaccard_long_doc_bounded_rows(spark):
    """A book-length outlier must neither break the prefix index nor
    bloat executor rows: the index and the verify are exploded rows
    (no per-doc arrays), so a 20k-word doc is just more rows. The
    planted near-dup of the long doc must still be found exactly."""
    from last_minute_legends_spark.operators.dedup import jaccard_pairs

    import hashlib

    def word(tag):
        return "w" + hashlib.sha256(tag.encode()).hexdigest()[:8]

    long_doc = " ".join(word(f"L:{i}") for i in range(20_000))
    # near-dup: same text with one word changed mid-document
    words_ = long_doc.split()
    words_[10_000] = "CHANGED"
    near = " ".join(words_)
    docs = _docs(spark, [
        (1, long_doc), (2, near),
        (3, "short unrelated document about nothing shared"),
    ])
    out = {(r.doc_a, r.doc_b): r.jaccard
           for r in jaccard_pairs(docs, threshold=0.8).collect()}
    assert set(out) == {(1, 2)}

    def shingles(t):
        w = t.split()
        return {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}

    sa, sb = shingles(long_doc), shingles(near)
    assert out[(1, 2)] == round(len(sa & sb) / len(sa | sb), 4)


def test_embedding_lsh_finds_planted_dups(spark):
    """Planted near-identical vectors are recovered by sign-LSH and
    match the exact brute-force pair set at the same threshold."""
    from last_minute_legends_spark.operators.dedup import (
        embedding_lsh_pairs, random_hyperplanes,
    )
    from last_minute_legends_spark.operators.similarity import with_unit_vectors

    import hashlib

    def detvec(tag, dim=64):
        # deterministic pseudo-random vector from sha256 — no RNG state
        return [
            (int.from_bytes(hashlib.sha256(f"{tag}:{d}".encode()).digest()[:8],
                            "big") / 2.0**64) * 2 - 1
            for d in range(dim)
        ]

    rows = [(i, detvec(f"base{i}")) for i in range(40)]
    # three planted near-dups: clone + tiny perturbation (cos > 0.99)
    for src, dup_id in ((0, 100), (7, 107), (21, 121)):
        v = list(rows[src][1])
        v[0] += 0.01
        rows.append((dup_id, v))
    emb = with_unit_vectors(
        spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    )
    planes = random_hyperplanes(spark)
    got = {(r.vec_a, r.vec_b)
           for r in embedding_lsh_pairs(emb, planes, threshold=0.95).collect()}
    assert {(0, 100), (7, 107), (21, 121)} <= got
    # verify step is exact cosine, so nothing below threshold leaks in
    from last_minute_legends_spark.functions.vectors import cosine
    a = emb.select(F.col("id").alias("vec_a"), F.col("v").alias("va"),
                   F.col("nrm").alias("na"))
    b = emb.select(F.col("id").alias("vec_b"), F.col("v").alias("vb"),
                   F.col("nrm").alias("nb"))
    exact = a.join(b, F.col("vec_a") < F.col("vec_b")).withColumn(
        "cos", cosine(F.col("va"), F.col("na"), F.col("vb"), F.col("nb"))
    ).filter(F.col("cos") >= 0.95)
    expect = {(r.vec_a, r.vec_b) for r in exact.collect()}
    assert got == expect
    # the ADAPTIVE path (planes sized by lsh_params from the corpus
    # count) must recover the same exact pair set at this scale
    got_adaptive = {(r.vec_a, r.vec_b)
                    for r in embedding_lsh_pairs(emb, threshold=0.95).collect()}
    assert got_adaptive == expect


def test_lsh_params_scaling():
    """Band geometry math: degenerates to the legacy 8x8 at small n;
    band width grows ~log2(n) at scale so expected random candidates
    per vector stay bounded; recall at the threshold holds >=0.98."""
    import math as _m

    from last_minute_legends_spark.operators.dedup import lsh_params

    assert lsh_params(200) == (8, 8)   # sf0.001 regime == legacy shape
    p = 1 - _m.acos(0.95) / _m.pi
    for n in (2_000, 61_200, 600_000, 10_000_000):
        bits, m = lsh_params(n)
        # expected random-pair collisions per vector: m * n / 2^bits
        assert m * n / 2 ** bits <= 64, (n, bits, m)
        recall = 1 - (1 - p ** bits) ** m
        assert recall >= 0.98, (n, bits, m, recall)
    # monotone: a 100x corpus never gets narrower bands
    assert lsh_params(10_000_000)[0] >= lsh_params(100_000)[0]


def test_embedding_band_value_paths_agree(spark, sf_dir):
    """The BLAS band-value path (used when the adaptive geometry
    exceeds 64 planes) must match the JVM HOF path bit-for-bit —
    same (id, band, bv) triples on real vectors at a >64-plane
    geometry."""
    from last_minute_legends_spark.operators.dedup import (
        embedding_band_values, embedding_band_values_np, random_hyperplanes,
    )
    from last_minute_legends_spark.operators.similarity import with_unit_vectors
    from last_minute_legends_spark.sources.tables import Catalog

    emb = with_unit_vectors(Catalog(spark, sf_dir).embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")))
    planes = random_hyperplanes(spark, n_planes=110, dim=64)
    hof = {(r.id, r.band): r.bv
           for r in embedding_band_values(emb, planes, 11).collect()}
    blas = {(r.id, r.band): r.bv
            for r in embedding_band_values_np(emb, planes, 11).collect()}
    assert hof == blas


def test_embedding_signature_paths_agree(spark, sf_dir):
    """The numpy batch-matmul signature pass and the pure-SQL
    higher-order-function sibling must produce bit-for-bit identical
    64-bit signatures (same planes, same vectors)."""
    from last_minute_legends_spark.operators.dedup import (
        embedding_signatures, embedding_signatures_np, random_hyperplanes,
    )
    from last_minute_legends_spark.operators.similarity import with_unit_vectors
    from last_minute_legends_spark.sources.tables import load_table

    emb = with_unit_vectors(load_table(spark, sf_dir, "embeddings"))
    planes = random_hyperplanes(spark)
    np_sigs = {r.id: r.sig
               for r in embedding_signatures_np(emb, planes).collect()}
    hof_sigs = {r.id: r.sig for r in embedding_signatures(emb, planes).collect()}
    assert np_sigs == hof_sigs
    assert len(np_sigs) == emb.count()


def test_jaccard_prefix_filter_matches_bruteforce(spark):
    """The prefix-filtered jaccard_pairs must equal an independent
    pure-Python all-pairs computation on generated corpora — the
    lossless-candidate-generation guarantee, checked end to end at
    several thresholds on docs engineered to share shingles."""
    import hashlib

    def pick(tag, options):
        h = int.from_bytes(hashlib.sha256(tag.encode()).digest()[:8], "big")
        return options[h % len(options)]

    vocab = [f"w{i}" for i in range(12)]   # tiny vocab → heavy sharing
    for corpus_seed in ("c1", "c2"):
        texts = {}
        for d in range(30):
            n_words = 6 + (d % 7)
            texts[d] = " ".join(
                pick(f"{corpus_seed}:{d}:{j}", vocab) for j in range(n_words)
            )
        # pathological shapes the random corpus never produces:
        # byte-identical pair (jaccard exactly 1.0), an empty doc and
        # a doc shorter than the shingle width (both shingle-less —
        # must appear in NO pair, not crash), a doc that is a strict
        # superset of another
        texts[100] = texts[0]
        texts[101] = ""
        texts[102] = "w0 w1"
        texts[103] = texts[1] + " w11 w10"
        # python reference: distinct 3-gram shingle sets, exact jaccard
        def shingles(t):
            w = t.split()
            return {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}

        sets = {d: shingles(t) for d, t in texts.items() if len(t.split()) >= 3}
        # 1.0 exercises the one-shingle-prefix edge (p = n − ⌈t·n⌉ + 1
        # = 1): only the single globally-rarest shingle is indexed and
        # exact duplicates must STILL collide on it
        for threshold in (0.2, 0.3, 0.5, 0.8, 1.0):
            expect = set()
            for a in sets:
                for b in sets:
                    if a < b and sets[a] and sets[b]:
                        j = len(sets[a] & sets[b]) / len(sets[a] | sets[b])
                        if j >= threshold:
                            expect.add((a, b, round(j, 4)))
            docs = _docs(spark, sorted(texts.items()))
            from last_minute_legends_spark.operators.dedup import jaccard_pairs
            got = {(r.doc_a, r.doc_b, r.jaccard)
                   for r in jaccard_pairs(docs, threshold=threshold).collect()}
            assert got == expect, (
                f"seed={corpus_seed} t={threshold}: "
                f"missing={expect - got} extra={got - expect}"
            )


def test_connected_components_chain_and_islands(spark):
    """A transitive chain A-B-C plus a separate pair and a long path
    must resolve to min-id cluster labels (propagation crosses hops)."""
    from last_minute_legends_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3),            # chain → cluster 1
         (10, 11),                  # island pair → cluster 10
         (23, 22), (21, 22), (20, 21), (24, 23)],  # path 20..24 → cluster 20
        "doc_a long, doc_b long",
    )
    got = {r.id: r.cluster_id for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10,
                   20: 20, 21: 20, 22: 20, 23: 20, 24: 20}


def test_connected_components_random_graphs_match_union_find(spark):
    """Property check: on hypothesis-generated edge lists the Spark
    min-label propagation must produce EXACTLY the components a
    pure-Python union-find computes (same min-member labels). Random
    graphs reach shapes the planted fixtures don't — self-loops,
    parallel/reversed edges, several components of mixed diameter."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from last_minute_legends_spark.operators.dedup import connected_components

    @settings(max_examples=8, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    @given(st.lists(
        st.tuples(st.integers(0, 20), st.integers(0, 20)),
        min_size=1, max_size=30,
    ))
    def check(edges):
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        expect = {x: find(x) for x in parent}

        pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
        # both adaptive branches: the driver-side union-find (default
        # for small edge lists) and the distributed min-label rounds
        local_df = connected_components(pairs)
        dist_df = connected_components(pairs, local_edges_max=0)
        # strict consumers must see ONE schema regardless of which
        # side of LOCAL_EDGES_MAX the edge list lands on — names,
        # types, AND nullability
        assert local_df.schema == dist_df.schema, (
            local_df.schema, dist_df.schema)
        got = {r.id: r.cluster_id for r in local_df.collect()}
        dist = {r.id: r.cluster_id for r in dist_df.collect()}
        assert got == expect, f"edges={edges}"
        assert dist == expect, f"edges={edges}"

    check()


def test_simhash_identical_zero_hamming(spark):
    from last_minute_legends_spark.operators.dedup import simhash_pairs

    docs = _docs(spark, [
        (1, "one two three four five six"),
        (2, "one two three four five six"),
        (3, "totally different words here entirely"),
    ])
    out = {(r.doc_a, r.doc_b): r.hamming for r in simhash_pairs(docs).collect()}
    assert out.get((1, 2)) == 0
    assert (1, 3) not in out


def test_simhash_wide_64_matches_legacy(spark, sf_dir):
    """The generalized wide formulation at n_bits=64 must be
    bit-for-bit the legacy 64-bit signature on the real documents
    table — word 0 uses the same token hash and the same
    packed-counter majority arithmetic, so widening the signature is
    provably an extension, not a reimplementation."""
    from last_minute_legends_spark.operators.dedup import (
        simhash_signatures, simhash_signatures_wide,
    )
    from last_minute_legends_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    legacy = {r.doc_id: r.simhash for r in simhash_signatures(docs).collect()}
    wide = {r.doc_id: r.sh0
            for r in simhash_signatures_wide(docs, n_bits=64).collect()}
    assert legacy == wide


def test_simhash_128_planted_and_switch(spark):
    """128-bit path: identical docs collide at hamming 0, unrelated
    docs stay apart, both signature words carry information (the
    second word is an independent hash, not a copy), and the size
    switch picks 64 below the threshold."""
    from last_minute_legends_spark.operators.dedup import (
        SIMHASH_WIDE_MIN_DOCS, simhash_bits, simhash_pairs,
        simhash_signatures_wide,
    )

    assert simhash_bits(SIMHASH_WIDE_MIN_DOCS - 1) == 64
    assert simhash_bits(SIMHASH_WIDE_MIN_DOCS) == 128

    docs = _docs(spark, [
        (1, "one two three four five six"),
        (2, "one two three four five six"),
        (3, "totally different words here entirely"),
    ])
    out = {(r.doc_a, r.doc_b): r.hamming
           for r in simhash_pairs(docs, n_bits=128).collect()}
    assert out.get((1, 2)) == 0
    assert (1, 3) not in out

    sigs = {r.doc_id: (r.sh0, r.sh1)
            for r in simhash_signatures_wide(docs).collect()}
    assert sigs[1] == sigs[2]
    assert sigs[1][0] != sigs[3][0] and sigs[1][1] != sigs[3][1]
    # independent words: sh1 is not a function rename of sh0
    assert sigs[1][0] != sigs[1][1]


def test_duplicated_spans_planted(spark):
    """Hand-computed Lee-et-al substring dedup at k=4: a shared
    8-word prefix across two docs merges its 5 overlapping duplicated
    shingles into ONE [1,8] island in each; within-doc repetition
    marks the whole doc; a unique doc is absent from the output."""
    from last_minute_legends_spark.operators.dedup import duplicated_spans

    docs = _docs(spark, [
        (1, "a b c d e f g h i j"),
        (2, "a b c d e f g h x y"),
        (3, "entirely different words with no overlap at all"),
        (4, "p q r s p q r s p q r s"),
    ])
    out = {r.doc_id: (r.n_spans, r.dup_tokens, r.total_tokens, r.dup_ratio)
           for r in duplicated_spans(docs, k=4).collect()}
    # docs 1+2 share shingles at positions 1..5 -> island [1, 8]
    assert out[1] == (1, 8, 10, 0.8)
    assert out[2] == (1, 8, 10, 0.8)
    # doc 4: every 4-shingle repeats within the doc -> island [1, 12]
    assert out[4] == (1, 12, 12, 1.0)
    assert 3 not in out


def test_remove_duplicated_spans_keep_first(spark):
    """Repair semantics: the FIRST occurrence (lowest doc_id,
    position) keeps its text; later copies are cut and the text
    rebuilt. Hand-computed at k=4: doc1 is canonical for the shared
    prefix (untouched), doc2 loses words 1-8, the self-repeating doc4
    keeps exactly one 'p q r s' (later repeats' positions 5..9 merge
    to one [5,12] island), and the unique doc3 is untouched."""
    from last_minute_legends_spark.operators.dedup import (
        remove_duplicated_spans,
    )

    docs = _docs(spark, [
        (1, "a b c d e f g h i j"),
        (2, "a b c d e f g h x y"),
        (3, "entirely different words with no overlap at all"),
        (4, "p q r s p q r s p q r s"),
    ])
    out = {r.doc_id: (r.clean_text, r.removed_tokens, r.total_tokens)
           for r in remove_duplicated_spans(docs, k=4).collect()}
    assert out[1] == ("a b c d e f g h i j", 0, 10)
    assert out[2] == ("x y", 8, 10)
    assert out[3] == ("entirely different words with no overlap at all", 0, 8)
    assert out[4] == ("p q r s", 8, 12)


def test_remove_duplicated_spans_strategies_agree(spark, sf_dir):
    """The r12 doc-level array repair (span arrays joined back per
    document, covered words dropped via a positional higher-order
    filter) must produce the exact frame of the r11 token-level
    join-and-rebuild plan on the real corpus — including clean_text
    strings and the self-overlap edge cases."""
    from last_minute_legends_spark.operators.dedup import (
        remove_duplicated_spans,
    )
    from last_minute_legends_spark.sources.tables import Catalog

    docs = Catalog(spark, sf_dir).documents.select("doc_id", "text")
    crafted = _docs(spark, [
        (9_000_001, "a b c d e f g h i j"),
        (9_000_002, "a b c d e f g h x y"),
        (9_000_003, "z z z z z z z z z z"),   # self-overlapping run
    ])
    both = docs.unionByName(crafted)
    a = remove_duplicated_spans(both, k=8, strategy="array").collect()
    j = remove_duplicated_spans(both, k=8, strategy="join").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, j))


def test_sessionize_gap_edges(spark):
    from last_minute_legends_spark.operators.sessions import sessionize

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (1, 100, t0),
        (2, 100, t0 + dt.timedelta(minutes=10)),
        (3, 100, t0 + dt.timedelta(minutes=40)),          # exactly 30min gap → same
        (4, 100, t0 + dt.timedelta(minutes=40, seconds=1) + dt.timedelta(minutes=30)),
        (5, 200, t0),
    ]
    ev = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp")
    out = {r.event_id: r.session_id for r in sessionize(ev, 30).collect()}
    assert out[1] == out[2] == out[3] == 1   # 30-min gap is NOT > threshold
    assert out[4] == 2                        # 30min+1s gap starts a new session
    assert out[5] == 1


def test_funnel_ordering(spark):
    from last_minute_legends_spark.operators.funnel import funnel_counts

    t0 = dt.datetime(2024, 1, 1)

    def e(i, u, typ, mins):
        return (i, u, typ, t0 + dt.timedelta(minutes=mins))

    rows = [
        e(1, 1, "view", 0), e(2, 1, "click", 5), e(3, 1, "purchase", 9),
        e(4, 2, "click", 0), e(5, 2, "view", 5),      # click BEFORE view
        e(6, 3, "view", 0),
    ]
    ev = spark.createDataFrame(rows, "event_id long, user_id long, event_type string, ts timestamp")
    out = funnel_counts(ev, ["view", "click", "purchase"]).collect()[0]
    assert out.n_view == 3
    assert out.n_click == 1      # only user 1 converted in order
    assert out.n_purchase == 1


def test_asof_same_ts_matches(spark):
    from last_minute_legends_spark.operators.asof import asof_join

    t0 = dt.datetime(2024, 1, 1)
    left = spark.createDataFrame(
        [(1, 10, t0)], "event_id long, user_id long, ts timestamp"
    )
    right = spark.createDataFrame(
        [(10, t0, t0)], "user_id long, ts timestamp, view_ts timestamp"
    )
    out = asof_join(left, right, on="user_id", left_ts="ts", right_ts="ts",
                    value_cols=["view_ts"]).collect()
    assert out[0].view_ts_asof == t0   # equal-ts right row IS eligible (<=)


def test_asof_is_left_outer(spark):
    """Unmatched anchors SURVIVE with a null value — the union-sort
    as-of is structurally left-outer: an anchor with no prior right
    row (later right rows only, a key absent from the right side
    entirely) carries null, it is never filtered. Real funnel
    analyses need the misses."""
    from last_minute_legends_spark.operators.asof import asof_join

    t0 = dt.datetime(2024, 1, 1)
    hour = dt.timedelta(hours=1)
    left = spark.createDataFrame(
        [(1, 10, t0),            # right row exists but only LATER
         (2, 11, t0),            # key has no right rows at all
         (3, 12, t0 + 2 * hour)  # a real match
         ], "event_id long, user_id long, ts timestamp")
    right = spark.createDataFrame(
        [(10, t0 + hour, t0 + hour), (12, t0 + hour, t0 + hour)],
        "user_id long, ts timestamp, view_ts timestamp")
    out = {r.event_id: r.view_ts_asof
           for r in asof_join(left, right, on="user_id", left_ts="ts",
                              right_ts="ts", value_cols=["view_ts"]).collect()}
    assert out == {1: None, 2: None, 3: t0 + hour}


def test_ann_ivf_recall_clustered(spark):
    """IVF with Lloyd-trained centroids must reach recall@10 >= 0.9 on
    clustered data (the regime IVF exists for). The synthetic sf tables
    are uniform-random vectors — the worst case for ANY partition-based
    ANN (neighbor buckets are barely correlated), covered by the sanity
    bound in test_ann_ivf_recall_uniform."""
    import hashlib

    from last_minute_legends_spark.operators.similarity import (
        brute_topk, ivf_topk, train_centroids, with_unit_vectors,
    )

    def detvec(tag, dim=64, scale=1.0):
        return [
            ((int.from_bytes(hashlib.sha256(f"{tag}:{d}".encode()).digest()[:8],
                             "big") / 2.0**64) * 2 - 1) * scale
            for d in range(dim)
        ]

    centers = [detvec(f"center{c}") for c in range(8)]
    rows, vid = [], 0
    for c, center in enumerate(centers):
        for m in range(60):
            noise = detvec(f"pt{c}:{m}", scale=0.15)
            rows.append((vid, [a + b for a, b in zip(center, noise)]))
            vid += 1
    vecs = with_unit_vectors(
        spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    )
    queries = vecs.filter(F.col("id") % 97 == 0)      # 5 spread queries
    candidates = vecs.filter(F.col("id") % 97 != 0)
    cents = train_centroids(candidates, k=8, iters=3)
    bf = {(r.q_id, r.c_id) for r in brute_topk(queries, candidates, k=10).collect()}
    ivf = {(r.q_id, r.c_id)
           for r in ivf_topk(queries, candidates, cents, k=10, n_probe=2).collect()}
    recall = len(bf & ivf) / len(bf)
    assert recall >= 0.9, f"IVF recall@10 too low on clustered data: {recall}"


def test_ann_pq_recall_and_code_shape(spark, sf_dir):
    """The PQ tier's done-criteria (r17, VERDICT r16 #4): recall@10
    >= 0.9 vs brute force on the sf vectors — uniform-random, PQ's
    WORST case — under BOTH the production xxhash64 seed striping and
    the md5 replay hash (parity of mechanism, not just the twin), and
    the encoded form is genuinely m small codes per vector (the
    memory claim)."""
    from last_minute_legends_spark.functions.portable_hash import (
        md5_id_hash,
    )
    from last_minute_legends_spark.operators.similarity import (
        PQ_K, PQ_M, brute_topk, pq_codebooks, pq_reconstruct, pq_topk,
        with_unit_vectors,
    )
    from last_minute_legends_spark.sources.tables import Catalog

    vecs = with_unit_vectors(Catalog(spark, sf_dir).embeddings).persist()
    queries = vecs.filter(F.col("id") < 5)
    candidates = vecs.filter(F.col("id") >= 5).persist()
    bf = {(r.q_id, r.c_id)
          for r in brute_topk(queries, candidates, k=10).collect()}
    for tag, h in (("md5", md5_id_hash), ("xxhash64", None)):
        cbs, d_sub = pq_codebooks(candidates, id_hash=h)
        pq = {(r.q_id, r.c_id)
              for r in pq_topk(queries, candidates, cbs, d_sub,
                               k=10).collect()}
        recall = len(bf & pq) / len(bf)
        assert recall >= 0.9, f"PQ recall@10 too low ({tag}): {recall}"
    # the resident form: PQ_M codes in [0, PQ_K) per vector
    codes = pq_reconstruct(candidates, cbs, d_sub).select("codes")
    bad = codes.filter(
        (F.size("codes") != PQ_M)
        | F.exists("codes", lambda c: (c < 0) | (c >= PQ_K))).count()
    assert bad == 0
    candidates.unpersist()
    vecs.unpersist()


def test_ann_ivf_recall_uniform(spark, sf_dir):
    """Sanity bound on the uniform-random sf vectors: better than the
    n_probe/k=0.25 blind-scan floor."""
    from last_minute_legends_spark.plans.ann_q import (
        ann_bruteforce_topk, ann_ivf_topk,
    )

    bf = {(r.q_id, r.c_id) for r in ann_bruteforce_topk(spark, sf_dir).collect()}
    ivf = {(r.q_id, r.c_id) for r in ann_ivf_topk(spark, sf_dir).collect()}
    recall = len(bf & ivf) / len(bf)
    assert recall >= 0.3, f"IVF recall@10 below blind-scan floor: {recall}"


def test_sketches_error_bounds(spark, sf_dir):
    """HLL distinct users within 5% of exact; approx p95 between the
    exact p90 and p99 (positional-quantile guarantee is rank-based)."""
    from last_minute_legends_spark.plans.events_analytics import (
        events_sketches,
    )
    from last_minute_legends_spark.sources.tables import load_table

    sk = {r.event_type: r for r in events_sketches(spark, sf_dir).collect()}
    ev = load_table(spark, sf_dir, "events")
    exact = {
        r.event_type: r
        for r in ev.groupBy("event_type")
        .agg(
            F.count_distinct("user_id").alias("users"),
            F.expr("percentile(value, 0.90)").alias("p90"),
            F.expr("percentile(value, 0.99)").alias("p99"),
        )
        .collect()
    }
    for et, e in exact.items():
        rel = abs(sk[et].approx_users - e.users) / e.users
        assert rel <= 0.05, f"{et}: HLL error {rel:.3f} > 5%"
        assert e.p90 <= sk[et].approx_p95 <= e.p99, (
            f"{et}: approx p95 {sk[et].approx_p95} outside [p90, p99]"
        )


def test_time_partitioned_sink_prunes(spark, sf_dir):
    """The time-partitioned sink must produce a layout where a date
    predicate reaches the scan as a PartitionFilter (pruned at
    planning time), and the read-back is row-identical."""
    import shutil
    import tempfile

    from last_minute_legends_spark.sources.sinks import (
        read_time_partitioned, write_time_partitioned,
    )
    from last_minute_legends_spark.sources.tables import load_table

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    path = tempfile.mkdtemp(prefix="llm_spark_tpart_")
    try:
        names = write_time_partitioned(events, path, granularity="day")
        assert names == ["event_date"]
        back = read_time_partitioned(spark, path)
        assert back.count() == events.count()

        a_date = events.select(
            F.date_format("ts", "yyyy-MM-dd").alias("d")
        ).first().d
        sel = back.filter(F.col("event_date") == a_date)
        plan = sel._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters: [" in plan
        pruned = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
        assert "event_date" in pruned, f"no pruning filter: [{pruned}]"
        want = events.filter(
            F.date_format("ts", "yyyy-MM-dd") == a_date
        ).count()
        assert sel.count() == want
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_frame_sampling_and_resize(spark):
    """sample_frames: correct fan-out (every stride-th fixed-size
    chunk, short tail preserved, exact checksums); resize_images:
    deterministic stub dims with the decode stub exercised."""
    from last_minute_legends_spark.operators.multimodal import (
        resize_images, sample_frames,
    )

    payloads = [(1, bytes(range(256)) * 2), (2, b"abc"), (3, b"")]
    df = spark.createDataFrame(payloads, "doc_id long, payload binary")
    frames = {(r.doc_id, r.frame_idx): r
              for r in sample_frames(df, frame_size=100, stride=2).collect()}
    # doc 1: 512 bytes → frames 0..5, sampled {0,2,4}; tail frame 5 unsampled
    assert {(1, 0), (1, 2), (1, 4), (2, 0)} == set(frames)
    assert frames[(1, 0)].frame_bytes == 100
    assert frames[(1, 4)].frame_bytes == 100
    assert frames[(2, 0)].frame_bytes == 3
    payload1 = bytes(range(256)) * 2
    assert frames[(1, 0)].frame_checksum == sum(payload1[:100]) % (1 << 31)
    assert frames[(1, 2)].frame_checksum == sum(payload1[200:300]) % (1 << 31)
    rs = {r.doc_id: r for r in resize_images(df, 32, 16).collect()}
    assert rs[1].src_bytes == 512 and rs[1].out_bytes == 32 * 16 * 3
    assert rs[3].src_bytes == 0


def test_salted_join_equivalence(spark):
    """Salted join must be row-identical to the plain join on skewed
    data (one key holds 90% of rows), for inner and left joins."""
    from last_minute_legends_spark.operators.skew import salted_join

    left = spark.createDataFrame(
        [(i, 1 if i < 900 else i, f"v{i}") for i in range(1000)],
        "row_id long, k long, payload string",
    )
    right = spark.createDataFrame(
        [(1, "hot"), (950, "cold"), (2, "unmatched-right")],
        "k long, label string",
    )
    for how in ("inner", "left"):
        plain = left.join(right, "k", how).select("row_id", "k", "payload", "label")
        salted = salted_join(left, right, key="k", discriminator="row_id",
                             salt_n=8, how=how).select("row_id", "k", "payload", "label")
        assert plain.exceptAll(salted).count() == 0
        assert salted.exceptAll(plain).count() == 0


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    """Two tables bucketed on the join key must sort-merge-join with
    no Exchange on either side, and match the plain-join result."""
    from last_minute_legends_spark.sources.bucketed import (
        read_bucketed, write_bucketed,
    )

    a = spark.range(0, 1000).selectExpr("id AS k", "id * 2 AS va")
    b = spark.range(0, 1000, 3).selectExpr("id AS k", "id * 7 AS vb")
    try:
        write_bucketed(a, "bk_a", "k", 4, str(tmp_path / "bk_a"))
        write_bucketed(b, "bk_b", "k", 4, str(tmp_path / "bk_b"))
        # hint forces SMJ: these test tables are small enough that the
        # planner would otherwise (correctly) broadcast instead
        joined = (
            read_bucketed(spark, "bk_a").hint("merge")
            .join(read_bucketed(spark, "bk_b"), "k")
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, "bucketed join still shuffles:\n" + plan
        expect = a.join(b, "k")
        assert joined.exceptAll(expect).count() == 0
        assert expect.exceptAll(joined).count() == 0
    finally:
        spark.sql("DROP TABLE IF EXISTS bk_a")
        spark.sql("DROP TABLE IF EXISTS bk_b")


def test_incremental_null_policy(spark):
    from last_minute_legends_spark.operators.incremental import new_records

    cand = spark.createDataFrame([(1, 100), (2, None), (3, 300)], "id long, k long")
    pub = spark.createDataFrame([(100,)], "k long")
    out = {r.id for r in new_records(cand, pub, key="k").collect()}
    # NULL keys count as new (documented policy; reference's isin drops them)
    assert out == {2, 3}


# --- curation operators (operators/curation.py) -------------------


def test_pii_redact_planted(spark):
    """Real PII shapes — the synthetic corpus is clean, so the
    registry entry only proves plumbing; semantics live here."""
    from last_minute_legends_spark.operators.curation import pii_redact

    docs = _docs(spark, [
        (1, "contact bob.smith+x@example.co.uk or 555-123-4567 now"),
        (2, "ssn 123-45-6789 from host 10.0.255.1 stay wary"),
        (3, "nothing sensitive here at all"),
    ])
    out = {r.doc_id: r for r in pii_redact(docs).collect()}
    assert out[1].n_emails == 1 and out[1].n_phones == 1
    assert "<EMAIL>" in out[1].redacted and "<PHONE>" in out[1].redacted
    assert "example" not in out[1].redacted
    # SSN must win over the looser phone pattern (redaction order)
    assert out[2].n_ssns == 1 and out[2].n_ips == 1
    assert "<SSN>" in out[2].redacted and "<IP>" in out[2].redacted
    assert "<PHONE>" not in out[2].redacted
    assert out[3].pii_free and not out[1].pii_free
    assert out[3].redacted == "nothing sensitive here at all"


def test_repetition_signals_planted(spark):
    from last_minute_legends_spark.operators.curation import repetition_signals

    docs = _docs(spark, [
        (1, "spam spam spam spam spam spam spam spam"),       # all one word
        (2, "one two three four five six seven eight"),       # no repetition
        (3, "ab cd ab cd ab cd ab cd"),                       # dup bigrams
    ])
    out = {r.doc_id: r for r in repetition_signals(docs).collect()}
    assert out[1].top_word_frac == 1.0 and out[1].repetitive
    assert out[1].dup_2gram_frac == round(6 / 7, 4)
    assert out[2].top_word_frac == 0.125 and not out[2].repetitive
    assert out[2].dup_2gram_frac == 0.0
    # "ab cd"x4 + "cd ab"x3 -> 7 bigrams, 2 distinct
    assert out[3].dup_2gram_frac == round(5 / 7, 4) and out[3].repetitive


def test_paragraph_dedup_planted(spark):
    from last_minute_legends_spark.operators.curation import paragraph_dedup

    boiler = "all rights reserved"
    docs = _docs(spark, [
        (1, f"first unique para\n\n{boiler}"),
        (2, f"{boiler}\n\nsecond unique para"),    # boilerplate removed
        (3, f"{boiler.upper()} "),                 # normalizes equal -> empty
    ])
    out = {r.doc_id: r for r in paragraph_dedup(docs).collect()}
    assert out[1].n_removed == 0
    assert out[1].text_deduped == f"first unique para\n\n{boiler}"
    assert out[2].n_paragraphs == 2 and out[2].n_removed == 1
    assert out[2].text_deduped == "second unique para"
    assert out[3].n_removed == 1 and out[3].text_deduped == ""


def test_decontaminate_planted(spark):
    from last_minute_legends_spark.operators.curation import decontaminate

    leak = "q r s t u v w x"                       # one shared 8-gram
    train = _docs(spark, [
        (1, f"prefix words here then {leak} and a tail"),
        (2, "totally clean training document with no overlap at all"),
    ])
    eval_set = _docs(spark, [(100, f"{leak} padded out to be long enough")])
    out = {r.doc_id: r for r in decontaminate(train, eval_set, n=8).collect()}
    assert out[1].contaminated and out[1].n_shared_ngrams == 1
    assert out[1].n_eval_docs == 1
    assert not out[2].contaminated and out[2].n_shared_ngrams == 0


def test_quantize_int8_roundtrip_and_recall(spark, sf_dir):
    """int8 quantization: values stay in [-127,127], dequantized
    error per component <= scale/2, and quantized brute-force top-10
    overlaps the float baseline >= 0.9 (the 4x-bandwidth claim can't
    cost real recall)."""
    import pyspark.sql.functions as F

    from last_minute_legends_spark.operators.similarity import (
        brute_topk, dequantize, quantize_int8, with_unit_vectors,
    )
    from last_minute_legends_spark.sources.tables import Catalog

    vecs = with_unit_vectors(Catalog(spark, sf_dir).embeddings)
    q = quantize_int8(vecs)
    bounds = q.select(
        F.max(F.array_max("q")).alias("hi"), F.min(F.array_min("q")).alias("lo")
    ).first()
    assert bounds.hi <= 127 and bounds.lo >= -127

    joined = vecs.join(q, "id").select(
        F.array_max(
            F.zip_with("v", "q", lambda x, qq: F.abs(x - qq * F.col("scale")))
        ).alias("err"),
        "scale",
    )
    bad = joined.filter(F.col("err") > F.col("scale") * 0.5 + 1e-12).count()
    assert bad == 0, "dequantization error exceeded half a quantization step"

    queries = vecs.filter(F.col("id") < 5)
    cands = vecs.filter(F.col("id") >= 5)
    exact = {(r.q_id, r.c_id) for r in brute_topk(queries, cands, k=10).collect()}
    quant = {(r.q_id, r.c_id)
             for r in brute_topk(queries, dequantize(quantize_int8(cands)), k=10).collect()}
    recall = len(exact & quant) / len(exact)
    assert recall >= 0.9, f"quantized recall {recall}"


def test_pack_shards_planted(spark):
    from last_minute_legends_spark.operators.curation import pack_shards

    rows = [
        # source a: 3 docs of 4 tokens each, budget 6 -> concat
        # positions 0,4,8 -> shards 0,0,1
        (1, "w w w w", "a"),
        (2, "w w w w", "a"),
        (3, "w w w w", "a"),
        # source b packs independently from position 0
        (10, "w w", "b"),
        (11, "w w w w w w w", "b"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r.doc_id: r for r in pack_shards(docs, budget_tokens=6).collect()}
    assert [out[i].start_pos for i in (1, 2, 3)] == [0, 4, 8]
    assert [out[i].shard for i in (1, 2, 3)] == [0, 0, 1]
    assert out[10].start_pos == 0 and out[10].shard == 0
    assert out[11].start_pos == 2 and out[11].shard == 0
    assert out[11].n_tokens == 7


def test_mixture_sample_weighted(spark):
    from last_minute_legends_spark.operators.sampling import mixture_sample

    # 300 docs in a, 300 in b, 50 in c
    docs = spark.createDataFrame(
        [(i, "a" if i < 300 else ("b" if i < 600 else "c")) for i in range(650)],
        "doc_id long, source string",
    )
    out = mixture_sample(docs, weights={"a": 2.0, "b": 1.0, "c": 0.0})
    kept = out.groupBy("source").count().collect()
    by_src = {r.source: r["count"] for r in kept}
    # c has weight 0 -> dropped entirely
    assert "c" not in by_src
    # t = min(300/2, 300/1) = 150: a (the scarcest weighted source)
    # keeps all 300 at rate 1.0; b downsamples to ~150 at rate 0.5
    rates = {r.source: r.rate for r in out.select("source", "rate").distinct().collect()}
    assert rates["a"] == 1.0 and by_src["a"] == 300
    assert rates["b"] == 0.5
    assert abs(by_src["b"] - 150) <= 25, f"b kept {by_src['b']}, want ~150"

    out2 = mixture_sample(docs, weights={"a": 1.0, "b": 4.0})
    # t = min(300/1, 300/4) = 75 -> a keeps ~75 (rate .25), b all 300
    by2 = {r.source: r["count"] for r in out2.groupBy("source").count().collect()}
    assert by2["b"] == 300
    assert abs(by2["a"] - 75) <= 20, f"a kept {by2['a']}, want ~75"

    # determinism across partitionings
    a = sorted(r.doc_id for r in out2.collect())
    b = sorted(r.doc_id for r in
               mixture_sample(docs.repartition(13),
                              weights={"a": 1.0, "b": 4.0}).collect())
    assert a == b


def test_bpe_train_planted(spark):
    """Hand-computed BPE on a planted corpus: merge order, counts,
    greedy left-to-right apply, min-count stop."""
    from last_minute_legends_spark.operators.bpe import train_bpe

    docs = spark.createDataFrame(
        [(1, "aaa aaa bb"), (2, "aaa")], "doc_id long, text string")
    # words: aaa x3, bb x1
    # round 1: (a,a) appears 2x per 'aaa' -> cnt 6 -> merge 'aa'
    # round 2: 'aaa' folds greedily to [aa, a] -> (aa, a) cnt 3 -> 'aaa'
    # round 3: only (b,b) cnt 1 < min_count -> stop
    merges = train_bpe(docs, n_merges=10, min_count=2)
    got = [(m["left"], m["right"], m["count"]) for m in merges]
    assert got == [("a", "a", 6), ("aa", "a", 3)], got


def test_bpe_encode_planted(spark):
    """Encoding applies the learned merges per distinct word and
    reassembles token streams in document order."""
    from last_minute_legends_spark.operators.bpe import bpe_encode, train_bpe

    docs = spark.createDataFrame(
        [(1, "aaa aaa bb"), (2, "aaa")], "doc_id long, text string")
    merges = train_bpe(docs, n_merges=10, min_count=2)
    out = {r.doc_id: r for r in bpe_encode(docs, merges).collect()}
    assert list(out[1].tokens) == ["aaa", "aaa", "b", "b"]
    assert out[1].n_tokens == 4
    assert list(out[2].tokens) == ["aaa"] and out[2].n_tokens == 1


def test_bpe_ties_deterministic(spark):
    """Equal-count pairs break lexicographically, so training is
    reproducible run to run."""
    from last_minute_legends_spark.operators.bpe import train_bpe

    docs = spark.createDataFrame([(1, "xy xy zw zw")], "doc_id long, text string")
    merges = train_bpe(docs, n_merges=2, min_count=2)
    got = [(m["left"], m["right"]) for m in merges]
    assert got == [("x", "y"), ("z", "w")], got


def test_bpe_merge_udf_matches_hof(spark):
    """The Arrow-batched merge replay (_apply_merges_udf) must be
    bit-identical to the per-merge HOF fold (_merge_pair) it replaced
    for plan-construction cost — _merge_pair stays as the executable
    spec of one greedy left-to-right pass."""
    from pyspark.sql import functions as F

    from last_minute_legends_spark.operators.bpe import (
        _apply_merges_udf, _merge_pair,
    )

    merges = [
        {"rank": 0, "left": "a", "right": "a", "merged": "aa"},
        {"rank": 1, "left": "aa", "right": "b", "merged": "aab"},
        {"rank": 2, "left": "b", "right": "c", "merged": "bc"},
    ]
    words_ = ["aaab", "aaaab", "abc", "bcbc", "a", "", "cab", "aabaab"]
    df = spark.createDataFrame(
        [(w, list(w)) for w in words_], "word string, syms array<string>")
    hof = F.col("syms")
    for m in merges:
        hof = _merge_pair(hof, m["left"], m["right"])
    # the HOF chain must live in its own projection: a Python UDF
    # cannot appear inside a lambda, and vice-versa keeps plans legal
    both = (
        df.select("word", hof.alias("expected"))
        .join(df.select(
            "word", _apply_merges_udf(merges)(F.col("syms")).alias("got")),
            "word")
    )
    for r in both.collect():
        assert list(r.got) == list(r.expected), (r.word, r.got, r.expected)


def test_multimodal_spread_opt_in(spark, sf_dir):
    """The spread=True regime (CPU-bound real decoder on a low-split
    source) must produce the id-partitioned Exchange below the Arrow
    pass — and identical rows to the default no-shuffle path."""
    from pyspark.sql import functions as F

    from last_minute_legends_spark.operators.multimodal import extract_features
    from last_minute_legends_spark.sources.tables import Catalog

    payloads = Catalog(spark, sf_dir).documents.select(
        "doc_id", F.col("text").cast("binary").alias("payload"))
    spread = extract_features(payloads, spread=True)
    plan = spread._jdf.queryExecution().executedPlan().toString()
    below = plan.split("MapInPandas", 1)[1]
    assert "Exchange" in below, "spread=True must repartition the payloads"
    default = extract_features(payloads)
    assert sorted(map(tuple, spread.collect())) == \
        sorted(map(tuple, default.collect()))


def test_bpe_local_matches_distributed(spark, sf_dir):
    """The small-vocab driver-side merge loop must produce the exact
    merge table the distributed per-round jobs produce — same pair
    counts, same (count desc, pair asc) tie-break, same greedy apply,
    same min-count stop — on both a tie-heavy planted corpus and the
    real documents table."""
    from last_minute_legends_spark.operators.bpe import train_bpe
    from last_minute_legends_spark.sources.tables import load_table

    planted = spark.createDataFrame(
        [(1, "xy xy zw zw aaa aaa bb"), (2, "aaa cab cab")],
        "doc_id long, text string")
    docs = load_table(spark, sf_dir, "documents")
    for df, n in ((planted, 10), (docs, 12)):
        local = train_bpe(df, n_merges=n, min_count=2)
        dist = train_bpe(df, n_merges=n, min_count=2, local_vocab_max=0)
        assert local == dist, (local, dist)


def test_ivf_local_matches_distributed(spark, sf_dir):
    """The driver-side Lloyd fast path must produce the exact
    centroid set the distributed per-iteration jobs produce — same
    JVM-hashed seed striping, argmax tie-break, 8-dp means and
    re-formed norms — on the real embeddings table."""
    from last_minute_legends_spark.operators.similarity import (
        train_centroids, with_unit_vectors,
    )
    from last_minute_legends_spark.sources.tables import load_table

    vecs = with_unit_vectors(load_table(spark, sf_dir, "embeddings"))
    local = train_centroids(vecs, k=8, iters=3).collect()
    dist = train_centroids(vecs, k=8, iters=3, local_train_max=0).collect()
    la = {r.id: (list(r.v), r.nrm) for r in local}
    da = {r.id: (list(r.v), r.nrm) for r in dist}
    assert la == da


def test_bpe_local_distributed_property(spark):
    """Property lock for the adaptive branches: on hypothesis-random
    corpora (repeated words, ties, single-char docs, empty strings)
    the driver-side merge loop and the distributed rounds must
    produce identical merge tables.

    The alphabet deliberately mixes byte widths (1-byte 'a'/'b',
    2-byte 'é', 3-byte '中', 4-byte astral '𐍈'): the local/distributed
    tie-break parity rests on Python code-point order equaling Spark's
    UTF8_BINARY byte order, which holds because UTF-8 is
    order-preserving — this exercises that claim instead of arguing
    it from ASCII-only inputs."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from last_minute_legends_spark.operators.bpe import train_bpe

    word = st.text(alphabet="abé中𐍈", min_size=0, max_size=4)
    doc = st.lists(word, min_size=0, max_size=8).map(" ".join)

    @settings(max_examples=5, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    @given(st.lists(doc, min_size=1, max_size=6))
    def check(texts):
        docs = spark.createDataFrame(
            list(enumerate(texts)), "doc_id long, text string")
        local = train_bpe(docs, n_merges=4, min_count=2)
        dist = train_bpe(docs, n_merges=4, min_count=2, local_vocab_max=0)
        assert local == dist, (texts, local, dist)

    check()


# --- Per-topic Avro registry contracts -----------------------------------
#
# The reference ships one .avsc per topic (/root/reference/schemas/);
# the repo mirrors all 7 as fixtures under last_minute_legends_spark/
# schemas/. Each must (a) agree field-for-field with the declared
# StructType the streaming parsers use, (b) round-trip typed values
# through the pure-Python binary codec, and (c) resolve against the
# union user_activity reader the way a schema-registry consumer would.

_TOPIC_EVENT = {
    "added_to_cart": "added_to_cart",
    "checkout": "checkout_to_cart",   # event_name per UserEvents.py:150
    "consumer_registration": "consumer_registration",
    "item_view": "item_view",
    "sign_in": "sign_in",
    "sign_out": "sign_out",
}

import pytest  # noqa: E402


@pytest.mark.parametrize("topic,event_name", sorted(_TOPIC_EVENT.items()))
def test_per_topic_avsc_roundtrip(spark, topic, event_name):
    from last_minute_legends_spark.sources.avro_codec import (
        decode_record, decode_record_resolved, encode_record,
        parse_fields, resolve_schemas,
    )
    from last_minute_legends_spark.sources.avro_io import load_schema
    from last_minute_legends_spark.sources.simulator import simulate_user_activity
    from last_minute_legends_spark.sources.streams import USER_EVENT_SCHEMAS

    schema = load_schema(topic)
    fields = parse_fields(schema)
    # (a) contract parity: the .avsc field list IS the StructType the
    # typed parsers declare, name for name in order
    declared = USER_EVENT_SCHEMAS[event_name]
    assert [n for n, _, _ in fields] == [f.name for f in declared.fields]

    rows = (
        simulate_user_activity(spark, n_events=4000)
        .filter(F.col("event_name") == event_name)
        .select(*[n for n, _, _ in fields])
        .limit(5)
        .collect()
    )
    assert rows, f"simulator produced no {event_name} events"

    union_reader = load_schema("user_activity")
    wf, actions = resolve_schemas(schema, union_reader)
    union_names = [n for n, _, _ in parse_fields(union_reader)]
    own = {n for n, _, _ in fields}
    for r in rows:
        vals = tuple(r)
        buf = encode_record(vals, fields)
        # (b) writer-schema round trip is exact
        assert decode_record(buf, fields) == vals
        # (c) registry-consumer path: same bytes decoded through the
        # union reader — own fields survive, union-only fields take
        # their null defaults
        byname = dict(zip(union_names, decode_record_resolved(buf, wf, actions)))
        for (n, _, _), v in zip(fields, vals):
            assert byname[n] == v
        assert all(byname[n] is None for n in set(union_names) - own)


def test_catalog_avsc_roundtrip():
    from last_minute_legends_spark.sources.avro_codec import (
        decode_record, encode_record, parse_fields, resolve_schemas,
    )
    from last_minute_legends_spark.sources.avro_io import load_schema
    from last_minute_legends_spark.sources.streams import (
        CATALOG_EVENT_NAME, MOVIE_CATALOG_SCHEMA,
    )

    schema = load_schema("movies_catalog_enriched")
    fields = parse_fields(schema)
    assert [n for n, _, _ in fields] == [f.name for f in MOVIE_CATALOG_SCHEMA.fields]

    recs = [
        ("2026-01-01T00:00:00", CATALOG_EVENT_NAME, "m1", "First Title", "drama", 9.5),
        ("2026-01-01T00:00:01", CATALOG_EVENT_NAME, "m2", "Second", "comedy", 12.25),
    ]
    for vals in recs:  # list_price values chosen exactly float32-representable
        buf = encode_record(vals, fields)
        assert decode_record(buf, fields) == vals

    # The catalog record is NOT a member of the user-activity union:
    # the union reader requires user_id, which the catalog writer
    # lacks and the reader declares without a default — per the Avro
    # spec's resolution rules that is an error, and the codec says so.
    with pytest.raises(ValueError, match="user_id"):
        resolve_schemas(schema, load_schema("user_activity"))


def test_confluent_frame_golden_bytes(spark):
    """The column-level framing must produce EXACTLY the Confluent
    wire layout the reference's AvroSerializer emits: magic 0x00, the
    schema id as 4 big-endian bytes, then the untouched body — locked
    against hand-packed golden bytes, not a round-trip of itself."""
    import struct

    from last_minute_legends_spark.sources.registry import (
        confluent_body, confluent_schema_id, frame_value,
    )

    body = b"\x06foo"  # avro string "foo" per the spec's worked example
    df = spark.createDataFrame([(body,)], "value binary")
    for sid in (1, 7, 1000, 2**31 - 1):
        framed = df.select(frame_value(F.col("value"), sid).alias("v"))
        got = framed.collect()[0].v
        assert bytes(got) == b"\x00" + struct.pack(">I", sid) + body
        back = framed.select(
            confluent_schema_id(F.col("v")).alias("sid"),
            confluent_body(F.col("v")).alias("body"),
        ).collect()[0]
        assert back.sid == sid and bytes(back.body) == body


def test_confluent_frame_rejects_out_of_range_ids(spark):
    """hex()+lpad(8) would silently truncate an id > 0x7FFFFFFF (or a
    negative id, which hexes to 16 F-digits) into wrong frame bytes —
    the framing must fail loudly instead, at plan-build time for
    literal ids and at row level for column ids."""
    import pytest as _pytest

    from last_minute_legends_spark.sources.registry import frame_value

    df = spark.createDataFrame([(b"\x06foo",)], "value binary")
    for bad in (-1, 2**31, 2**32 + 7):
        with _pytest.raises(ValueError, match="Confluent int32"):
            frame_value(F.col("value"), bad)
    from pyspark.errors import SparkRuntimeException

    with _pytest.raises(SparkRuntimeException):
        df.select(
            frame_value(F.col("value"), F.lit(2**32 + 7)).alias("v")
        ).collect()
    # in-range column ids still frame correctly through the guard
    ok = df.select(frame_value(F.col("value"), F.lit(7)).alias("v")).collect()
    assert bytes(ok[0].v)[:5] == b"\x00\x00\x00\x00\x07"


def test_confluent_registry_mixed_topic_decode(spark):
    """Producer → consumer over the registry contracts: per-topic
    typed rows encode with their OWN subject schema, frame with their
    OWN registry id, union into one mixed stream of frames (what a
    multi-topic consumer group sees), and decode_confluent dispatches
    each frame on its schema id back to typed rows in the
    user_activity reader layout — own fields exact, union-only fields
    null, subject column naming every row's writer."""
    from last_minute_legends_spark.sources.avro_codec import parse_fields
    from last_minute_legends_spark.sources.avro_io import load_schema
    from last_minute_legends_spark.sources.registry import (
        LocalSchemaRegistry, decode_confluent, encode_confluent,
    )
    from last_minute_legends_spark.sources.simulator import (
        simulate_user_activity,
    )

    reg = LocalSchemaRegistry()
    events = simulate_user_activity(spark, n_events=3000)
    topics = {"item_view": "item_view", "added_to_cart": "added_to_cart",
              "sign_in": "sign_in"}
    frames, expected = [], {}
    for topic, ev in topics.items():
        cols = [n for n, _, _ in parse_fields(load_schema(topic))]
        rows = (events.filter(F.col("event_name") == ev)
                .select(*cols).limit(4))
        got = rows.collect()
        assert got, f"no {ev} events simulated"
        expected[f"{topic}-value"] = {tuple(r) for r in got}
        frames.append(encode_confluent(rows, cols, topic, reg))
    mixed = frames[0].union(frames[1]).union(frames[2])

    out = decode_confluent(mixed, reg, load_schema("user_activity"))
    reader_cols = [n for n, _, _ in
                   parse_fields(load_schema("user_activity"))]
    assert out.columns == reader_cols + ["subject", "schema_id"]
    for subject, exp in expected.items():
        topic = subject.removesuffix("-value")
        own = [n for n, _, _ in parse_fields(load_schema(topic))]
        sub = out.filter(F.col("subject") == subject)
        assert {tuple(r) for r in sub.select(*own).collect()} == exp
        for extra in set(reader_cols) - set(own):
            assert sub.filter(F.col(extra).isNotNull()).count() == 0

    # unknown writer id → loud KeyError, not a misdecode
    half = LocalSchemaRegistry({"item_view-value": load_schema("item_view")})
    with pytest.raises(KeyError, match="not in the registry"):
        decode_confluent(mixed, half, load_schema("user_activity"))


def test_registry_ids_stable_when_versions_added():
    """Version-major id allocation: adding a LATER version to one
    subject must not renumber any other subject's existing ids —
    frames persisted under the old registry still resolve the same
    writer schema. (Adding a new SUBJECT still shifts ids; that is
    documented as out of contract.)"""
    from last_minute_legends_spark.sources.registry import (
        LocalSchemaRegistry,
    )

    a1, a2, b1, c1 = ('{"type":"record","name":"%s","fields":[]}' % n
                      for n in ("A1", "A2", "B1", "C1"))
    before = LocalSchemaRegistry({"a-value": a1, "b-value": b1,
                                  "c-value": c1})
    after = LocalSchemaRegistry({"a-value": [a1, a2], "b-value": b1,
                                 "c-value": c1})
    for subj in ("a-value", "b-value", "c-value"):
        old_id, old_schema = before.version(subj, 1)
        new_id, new_schema = after.version(subj, 1)
        assert (old_id, old_schema) == (new_id, new_schema), subj
    # the new version appends past every v1 id
    v2_id, v2_schema = after.version("a-value", 2)
    assert v2_schema == a2
    assert v2_id > max(before.version(s, 1)[0]
                       for s in ("a-value", "b-value", "c-value"))
    assert after.latest("a-value") == (v2_id, a2)


def test_confluent_magic_check(spark):
    """A non-Confluent value (first byte != 0x00) must fail the job
    loudly instead of misdecoding from a shifted offset."""
    from pyspark.errors import SparkRuntimeException

    from last_minute_legends_spark.sources.registry import confluent_body

    bad = spark.createDataFrame([(b"\x01\x00\x00\x00\x01\x06foo",)],
                                "value binary")
    with pytest.raises(SparkRuntimeException, match="magic byte"):
        bad.select(confluent_body(F.col("value")).alias("b")).collect()
    # and check_magic=False is the documented escape hatch
    got = bad.select(
        confluent_body(F.col("value"), check_magic=False).alias("b")
    ).collect()[0].b
    assert bytes(got) == b"\x06foo"


def test_round_half_up_matches_jvm(spark):
    """Fuzz lock for the local-Lloyd rounding contract
    (operators/similarity.py _round_half_up): the driver-side branch
    reproduces F.round(x, 8) through repr(float) + decimal HALF_UP,
    which assumes the session JVM's Double.toString emits the
    shortest round-trip decimal (guaranteed JDK >= 19, empirical
    before). Feed values engineered near 8-dp midpoints — exact
    dyadic midpoints (the 0.001953125 = 2^-9 class), k/1e8 +- 5e-9
    neighborhoods on both sides, and uniform doubles — through both
    paths on the LIVE JVM and require bit-equality."""
    import random

    from last_minute_legends_spark.operators.similarity import _round_half_up

    rng = random.Random(20260814)
    vals = [0.001953125, 2.0 ** -9, 3 * 2.0 ** -10, 0.5e-8, 1.5e-8, 2.5e-8]
    for _ in range(400):
        k = rng.randrange(10 ** 7)
        vals.append(k / 1e8 + 5e-9)            # decimal midpoint (inexact)
        vals.append(k / 1e8 - 5e-9)
        vals.append(rng.randrange(1, 2 ** 20) * 2.0 ** -rng.randrange(10, 40))
        vals.append(rng.random())
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    got = [r.r for r in df.select(F.round("x", 8).alias("r")).collect()]
    exp = [_round_half_up(v) for v in vals]
    bad = [(v, g, e) for v, g, e in zip(vals, got, exp) if g != e]
    assert not bad, f"{len(bad)} divergences, first: {bad[:3]}"


def test_with_bucket_strategies_agree(spark):
    """The literal-expression and broadcast-row centroid strategies
    must assign identical buckets (with_bucket switches on model size
    — CENTROID_LITERAL_MAX_CELLS — so both paths are production)."""
    from last_minute_legends_spark.operators.similarity import (
        with_bucket, with_unit_vectors,
    )

    vecs = with_unit_vectors(
        spark.range(200).selectExpr(
            "id AS vec_id",
            "array(cast(id % 7 AS float), cast(id % 11 AS float), "
            "cast(1 + id % 3 AS float)) AS embedding"))
    cents = [(0, [1.0, 0.0, 0.0], 1.0), (1, [0.0, 1.0, 0.0], 1.0),
             (2, [0.0, 0.0, 1.0], 1.0), (3, [0.6, 0.8, 0.0], 1.0)]
    lit = sorted(map(tuple, with_bucket(
        vecs, cents, literal_max=10**9).select("id", "bucket").collect()))
    bc = sorted(map(tuple, with_bucket(
        vecs, cents, literal_max=0).select("id", "bucket").collect()))
    assert lit == bc and len(lit) == 200


def test_ivf_probe_indexed_matches_replay(spark, sf_dir):
    """The written-index probe path (train → partitionBy(bucket)
    write → pruned probe, plans/ann_q.py) returns EXACTLY the values
    of the in-memory replay derivation it shares its oracle with —
    locking the parquet roundtrip + partition pruning + probe join as
    value-preserving."""
    from last_minute_legends_spark.plans.ann_q import (
        ann_ivf_probe_indexed, ann_ivf_topk_replay,
    )

    idx = [tuple(r) for r in ann_ivf_probe_indexed(spark, sf_dir).collect()]
    rep = [tuple(r) for r in ann_ivf_topk_replay(spark, sf_dir).collect()]
    assert idx == rep and len(idx) > 0


def test_ivf_probe_oracle_regime_guard(spark, sf_dir, tmp_path,
                                       monkeypatch):
    """An index built OUTSIDE the shared replay oracle's regime
    (sampled training / scaled k) must fail the oracle-registered
    entry loudly — 'oracle not applicable at this scale' — instead of
    silently diverging into a false driver red; the documented env
    opt-out re-enables scale runs."""
    from last_minute_legends_spark.plans import ann_q

    monkeypatch.setenv("SPARK_GRAFT_LAYOUT_CACHE", str(tmp_path))
    monkeypatch.delenv("SPARK_GRAFT_IVF_SCALE_OK", raising=False)
    # force the sampled-training branch at the gate corpus size
    monkeypatch.setattr(ann_q, "TRAIN_SAMPLE_MAX", 10)
    with pytest.raises(RuntimeError, match="oracle not applicable"):
        ann_q.ann_ivf_probe_indexed(spark, sf_dir)
    monkeypatch.setenv("SPARK_GRAFT_IVF_SCALE_OK", "1")
    assert ann_q.ann_ivf_probe_indexed(spark, sf_dir).count() > 0


def test_ivf_probe_static_distributed_parity(spark, sf_dir):
    """The batch-ANN fallback (query count > static_max → distributed
    bucket-join, no driver collect at all) must return EXACTLY the
    static pruned path's rows — same top-k, same tiebreaks. Forced
    with static_max=0 on the same written index."""
    from last_minute_legends_spark.plans.ann_q import (
        N_QUERIES, ensure_ivf_index, _vectors,
    )
    from last_minute_legends_spark.sources.ivf_index import probe_topk

    idx = ensure_ivf_index(spark, sf_dir)
    queries = _vectors(spark, sf_dir).filter(F.col("id") < N_QUERIES)
    static = [tuple(r) for r in probe_topk(spark, idx, queries, k=10,
                                           n_probe=2)
              .orderBy("q_id", "rn").collect()]
    dist = [tuple(r) for r in probe_topk(spark, idx, queries, k=10,
                                         n_probe=2, static_max=0)
            .orderBy("q_id", "rn").collect()]
    assert static == dist and len(static) > 0


def _make_png(pixels, filters):
    """Encode an (h, w, ch) uint8 array as a real PNG (8-bit,
    non-interlaced), applying ``filters[y % len(filters)]`` to each
    scanline — exercises every unfilter branch of decode_media."""
    import struct
    import zlib

    import numpy as np

    h, w, ch = pixels.shape
    raw = bytearray()
    prev = np.zeros(w * ch, np.int64)
    for y in range(h):
        line = pixels[y].reshape(-1).astype(np.int64)
        f = filters[y % len(filters)]
        left = np.concatenate([np.zeros(ch, np.int64), line[:-ch]])
        if f == 0:
            enc = line
        elif f == 1:
            enc = (line - left) & 0xFF
        elif f == 2:
            enc = (line - prev) & 0xFF
        elif f == 3:
            enc = (line - (left + prev) // 2) & 0xFF
        else:  # Paeth
            enc = np.empty(w * ch, np.int64)
            for i in range(w * ch):
                a = int(line[i - ch]) if i >= ch else 0
                b = int(prev[i])
                c = int(prev[i - ch]) if i >= ch else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                enc[i] = (line[i] - pred) & 0xFF
        raw.append(f)
        raw.extend(enc.astype(np.uint8).tobytes())
        prev = line

    def chunk(t, d):
        return (struct.pack(">I", len(d)) + t + d
                + struct.pack(">I", zlib.crc32(t + d)))

    color = {1: 0, 2: 4, 3: 2, 4: 6}[ch]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(raw)))
            + chunk(b"IEND", b""))


def test_decode_media_png_roundtrip():
    """decode_media must reproduce the exact pixel array for real
    PNGs across every filter type (0-4) and channel layout."""
    import numpy as np

    from last_minute_legends_spark.operators.multimodal import decode_media

    rng = np.random.RandomState(7)
    for ch in (1, 2, 3, 4):
        for filters in ([0], [1], [2], [3], [4], [0, 1, 2, 3, 4]):
            px = rng.randint(0, 256, size=(9, 13, ch)).astype(np.uint8)
            img = decode_media(_make_png(px, filters))
            assert (img["width"], img["height"], img["channels"]) == (13, 9, ch), (
                ch, filters)
            assert np.array_equal(img["pixels"], px), (ch, filters)
    # the fallback seam stays: non-PNG bytes still raise
    import pytest as _pytest
    with _pytest.raises(NotImplementedError):
        decode_media(b"plain text payload")


def test_multimodal_real_decode_through_spark(spark):
    """A planted real PNG rides the SAME Arrow pass as undecodable
    payloads: its row reports the true decoded geometry (and a real
    nearest-neighbor resize byte count) while text rows keep the
    deterministic fallback — and the byte-level identity columns stay
    byte-level for both."""
    import numpy as np

    from last_minute_legends_spark.operators.multimodal import (
        extract_features, resize_images,
    )

    rng = np.random.RandomState(11)
    px = rng.randint(0, 256, size=(24, 40, 3)).astype(np.uint8)
    png = _make_png(px, [0, 1, 2, 3, 4])
    text = b"not an image at all"
    df = spark.createDataFrame([(1, bytearray(png)), (2, bytearray(text))],
                               "doc_id long, payload binary")
    feats = {r.doc_id: r for r in extract_features(df).collect()}
    assert (feats[1].width, feats[1].height) == (40, 24)
    assert feats[1].n_bytes == len(png)
    assert feats[1].checksum == sum(png) % (1 << 31)
    fallback_cs = sum(text) % (1 << 31)
    assert feats[2].width == 64 + fallback_cs % 193
    assert feats[2].height == 64 + (fallback_cs // 193) % 129
    rs = {r.doc_id: r for r in resize_images(df, 16, 8).collect()}
    assert rs[1].out_bytes == 16 * 8 * 3      # real resample buffer
    assert rs[2].out_bytes == 16 * 8 * 3      # stand-in formula
    # a non-3-channel PNG proves out_bytes tracks the DECODED channel
    # count, not the stand-in constant
    px1 = rng.randint(0, 256, size=(10, 10, 1)).astype(np.uint8)
    df1 = spark.createDataFrame([(3, bytearray(_make_png(px1, [4])))],
                                "doc_id long, payload binary")
    (r3,) = resize_images(df1, 16, 8).collect()
    assert r3.out_bytes == 16 * 8 * 1


def test_multimodal_corrupt_png_falls_back(spark):
    """A CORRUPT payload with a valid PNG signature (truncated IDAT →
    zlib.error, not NotImplementedError) must fall back to byte-level
    features instead of failing the whole job — one bad blob in a
    100 TB corpus cannot kill the extract/resize pass."""
    import numpy as np

    from last_minute_legends_spark.operators.multimodal import (
        _decoded_rows, extract_features, resize_images,
    )

    rng = np.random.RandomState(23)
    px = rng.randint(0, 256, size=(12, 12, 3)).astype(np.uint8)
    good = _make_png(px, [0, 1, 2])
    # keep the signature + IHDR intact but slice into the IDAT body:
    # zlib.decompress raises zlib.error on the truncated stream
    corrupt = good[: len(good) - 40]
    import zlib as _zlib
    with pytest.raises(_zlib.error):
        from last_minute_legends_spark.operators.multimodal import decode_media
        decode_media(corrupt)
    assert _decoded_rows([good, corrupt]) .keys() == {0}

    df = spark.createDataFrame(
        [(1, bytearray(good)), (2, bytearray(corrupt))],
        "doc_id long, payload binary")
    feats = {r.doc_id: r for r in extract_features(df).collect()}
    assert (feats[1].width, feats[1].height) == (12, 12)   # decoded
    cs = sum(corrupt) % (1 << 31)
    assert feats[2].width == 64 + cs % 193                 # fallback
    rs = {r.doc_id: r for r in resize_images(df, 8, 8).collect()}
    assert rs[1].out_bytes == 8 * 8 * 3 and rs[2].out_bytes == 8 * 8 * 3


def test_layout_cache_invalidates_on_source_change(tmp_path):
    """A derived layout must be keyed to its source bytes: changing
    the source parquet (size or mtime) must move the cache directory,
    and the built marker must round-trip."""
    import os

    from last_minute_legends_spark.sources import layout_cache

    src = tmp_path / "t.parquet"
    src.write_bytes(b"abc")
    d1 = layout_cache.layout_dir("llm_spark_test_layout", str(src), "v1")
    os.makedirs(d1, exist_ok=True)
    assert not layout_cache.is_built(d1)
    layout_cache.mark_built(d1)
    assert layout_cache.is_built(d1)
    src.write_bytes(b"abcd")  # size + mtime change
    d2 = layout_cache.layout_dir("llm_spark_test_layout", str(src), "v1")
    assert d2 != d1 and not layout_cache.is_built(d2)
    # layout-version bump also invalidates
    d3 = layout_cache.layout_dir("llm_spark_test_layout", str(src), "v2")
    assert d3 != d2


def test_layout_cache_root_scoped_and_fingerprint_recursive(tmp_path,
                                                            monkeypatch):
    """The cache root is per-user (0700, env-overridable) and the
    fingerprint walks NESTED source layouts — rewriting a leaf file of
    a partitioned table in place must move the cache directory."""
    import os
    import stat

    from last_minute_legends_spark.sources import layout_cache

    # env override wins and gets created 0700
    override = tmp_path / "cache_root"
    monkeypatch.setenv("SPARK_GRAFT_LAYOUT_CACHE", str(override))
    root = layout_cache.cache_root()
    assert root == str(override)
    assert stat.S_IMODE(os.stat(root).st_mode) == 0o700

    # default root is uid-scoped
    monkeypatch.delenv("SPARK_GRAFT_LAYOUT_CACHE")
    assert f"uid{os.getuid()}" in layout_cache.cache_root()

    # recursive fingerprint: nested leaf rewrite invalidates
    monkeypatch.setenv("SPARK_GRAFT_LAYOUT_CACHE", str(override))
    src = tmp_path / "part_table"
    leaf = src / "day=2024-01-01"
    leaf.mkdir(parents=True)
    (leaf / "part-0.parquet").write_bytes(b"v1")
    d1 = layout_cache.layout_dir("llm_spark_test_layout", str(src), "v1")
    (leaf / "part-0.parquet").write_bytes(b"v2+")
    d2 = layout_cache.layout_dir("llm_spark_test_layout", str(src), "v1")
    assert d2 != d1


def test_simhash_auto_width_accepts_known_corpus_size(spark):
    """The opt-in size switch (n_bits=None) must produce identical
    pairs whether it counts the corpus itself or the caller supplies
    n_docs (the r11-ADVICE surface for skipping the extra eager count
    when the size is already known) — including when the supplied
    size crosses the 128-bit threshold."""
    from last_minute_legends_spark.operators.dedup import (
        SIMHASH_WIDE_MIN_DOCS, simhash_pairs,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),
         (2, "alpha beta gamma delta epsilon zeta"),
         (3, "totally different words here entirely now")],
        "doc_id long, text string")
    auto = sorted((r.doc_a, r.doc_b)
                  for r in simhash_pairs(docs, n_bits=None).collect())
    hinted = sorted((r.doc_a, r.doc_b)
                    for r in simhash_pairs(docs, n_bits=None,
                                           n_docs=3).collect())
    assert auto == hinted == [(1, 2)]
    # a size hint past the threshold must select the wide signature,
    # same as an actual corpus that size would
    wide = sorted(
        (r.doc_a, r.doc_b)
        for r in simhash_pairs(docs, n_bits=None,
                               n_docs=SIMHASH_WIDE_MIN_DOCS).collect())
    wide_explicit = sorted(
        (r.doc_a, r.doc_b)
        for r in simhash_pairs(docs, n_bits=128).collect())
    assert wide == wide_explicit


def _day_rows(spark):
    return spark.createDataFrame(
        [(i, dt.datetime(2024, 1, 1 + i % 4, 8), 100 + i, "view",
          float(i), "{}") for i in range(40)],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string")


def test_merge_rewrites_only_touched_days(spark, tmp_path):
    """merge_day_partitioned must (a) apply upserts exactly — changed
    keys replaced, new keys inserted, everything else untouched — and
    (b) leave UNTOUCHED day partitions' files byte-identical (same
    paths, sizes, mtimes): the 100 TB compaction contract is that a
    change-set rewrites only the partitions it names."""
    import os

    from pyspark.sql import functions as F

    from last_minute_legends_spark.sources.partitioned_events import (
        merge_day_partitioned, write_day_partitioned,
    )

    path = str(tmp_path / "t")
    write_day_partitioned(_day_rows(spark), path)

    def snapshot(day_dir):
        root = os.path.join(path, day_dir)
        return {f: (os.path.getsize(os.path.join(root, f)),
                    os.path.getmtime(os.path.join(root, f)))
                for f in sorted(os.listdir(root))}

    days = sorted(d for d in os.listdir(path) if d.startswith("event_day_us="))
    assert len(days) == 4
    untouched_before = {d: snapshot(d) for d in days}

    # change-set touches ONLY day 2024-01-02: one update + one insert
    target_day = int(days[1].split("=")[1])
    changes = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 2, 8), 101, "view", 999.0, "{}",
          target_day),
         (1000, dt.datetime(2024, 1, 2, 9), 200, "purchase", 5.0, "{}",
          target_day)],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string, event_day_us long")
    touched = merge_day_partitioned(spark, path, changes)
    assert touched == [target_day]

    merged = spark.read.parquet(path)
    assert merged.count() == 41
    assert merged.filter("event_id = 1").collect()[0].value == 999.0
    assert merged.filter("event_id = 1000").count() == 1
    for d in days:
        if d != days[1]:
            assert snapshot(d) == untouched_before[d], f"{d} was rewritten"

    # idempotence: re-applying the same change-set is a no-op
    before = {tuple(r) for r in merged.collect()}
    merge_day_partitioned(spark, path, changes)
    after = {tuple(r) for r in spark.read.parquet(path).collect()}
    assert after == before


def test_merge_day_partitioned_crash_is_all_or_nothing(spark, tmp_path):
    """A merge that touches two days and crashes between them — the
    first day's directory already moved, the second not — must leave
    the table all-old (crash before the swap's commit) or all-new
    (after it) on the next read; never one day merged and the other
    not, and never a day missing (the staged copy used to sit where
    no read path restored it)."""
    import os

    from last_minute_legends_spark.sources.partitioned_events import (
        list_days, merge_day_partitioned, read_day_range,
        write_day_partitioned,
    )
    from tests.swap_faults import Crash, crash_at, moving_in, moving_out

    base = _day_rows(spark)
    old = {tuple(r) for r in base.collect()}
    for at in (moving_out, moving_in):
        path = str(tmp_path / f"t_{at.__name__}")
        write_day_partitioned(base, path)
        days = list_days(path)[1:3]  # 2024-01-02 and 2024-01-03
        changes = spark.createDataFrame(
            [(1, dt.datetime(2024, 1, 2, 8), 101, "view", 999.0, "{}",
              days[0]),
             (2, dt.datetime(2024, 1, 3, 8), 102, "view", 998.0, "{}",
              days[1])],
            "event_id long, ts timestamp, user_id long, "
            "event_type string, value double, props string, "
            "event_day_us long")
        new = {r for r in old if r[0] not in (1, 2)} | {
            tuple(r)[:6] for r in changes.collect()}
        second = os.path.join(path, f"event_day_us={days[1]}")
        with crash_at(at(second)), pytest.raises(Crash):
            merge_day_partitioned(spark, path, changes)
        got = {tuple(r) for r in read_day_range(spark, path, 0)
               .select(*base.columns).collect()}
        assert got == (old if at is moving_out else new), at.__name__
        assert not os.path.exists(f"{path}__swap")


def test_compact_day_partitions(spark, tmp_path):
    """Compaction must bin-pack each day into its byte quota of files
    (huge target → exactly 1 file/day), preserve content exactly, and
    keep the layout's planning-time day pruning."""
    import os

    from pyspark.sql import functions as F

    from last_minute_legends_spark.sources.partitioned_events import (
        compact_day_partitions, list_days, read_day_range,
    )

    frag = str(tmp_path / "frag")
    (_day_rows(spark).repartition(6)
     .withColumn("event_day_us",
                 F.unix_micros(F.date_trunc("day", F.col("ts"))))
     .write.partitionBy("event_day_us").mode("overwrite").parquet(frag))

    def files_per_day(path):
        return {d: len([f for f in os.listdir(os.path.join(path, d))
                        if f.startswith("part-")])
                for d in os.listdir(path) if d.startswith("event_day_us=")}

    assert all(n > 1 for n in files_per_day(frag).values())

    out = str(tmp_path / "compact")
    compact_day_partitions(spark, frag, out, target_bytes=1 << 30)
    per_day = files_per_day(out)
    assert len(per_day) == 4 and all(n == 1 for n in per_day.values()), per_day

    before = {tuple(r) for r in spark.read.parquet(frag).collect()}
    after = {tuple(r) for r in spark.read.parquet(out).collect()}
    assert after == before and len(after) == 40

    # pruning retained on the compacted layout
    days = list_days(out)
    plan = (read_day_range(spark, out, days[-1])
            ._jdf.queryExecution().executedPlan().toString())
    scans = [ln for ln in plan.splitlines() if "FileScan" in ln]
    assert scans and all("PartitionFilters: [" in ln for ln in scans), plan

    # a small target yields MORE than one file for a day big enough
    tiny = str(tmp_path / "tiny")
    compact_day_partitions(spark, frag, tiny, target_bytes=1024)
    assert any(n > 1 for n in files_per_day(tiny).values())


def test_zvalue_morton_interleave(spark):
    """Hand-computed Morton values: zvalue must interleave a on even
    bits, b on odd bits."""
    from last_minute_legends_spark.sources.zorder import zvalue

    df = spark.createDataFrame(
        [(1, 0), (0, 1), (3, 3), (2, 1), (65535, 0)], "a long, b long")
    got = [r.z for r in df.select(
        zvalue(F.col("a"), F.col("b")).alias("z")).collect()]
    #   a=1,b=0 -> 0b01 = 1;  a=0,b=1 -> 0b10 = 2;  a=3,b=3 -> 0b1111
    #   a=2,b=1 -> a bits on even (bit2), b bit0 on odd (bit1) -> 0b110
    #   a=65535 (16 ones) on even positions -> 0x55555555
    assert got == [1, 2, 15, 6, 0x55555555]


def test_zorder_skipping(spark, tmp_path):
    """The z-ordered layout must (a) preserve content exactly and
    (b) make per-FILE parquet min/max stats tight on BOTH columns:
    for a narrow user band, most files' [min,max] user ranges must
    not overlap it at all (stats-skippable), while the unclustered
    write leaves every file overlapping. Asserted from the actual
    parquet footers via pyarrow — engine-independent evidence any
    stats-aware reader skips."""
    import glob

    import pyarrow.parquet as pq

    from last_minute_legends_spark.sources.zorder import write_zordered

    n = 40_000
    df = spark.range(n).select(
        F.col("id").alias("event_id"),
        F.pmod(F.xxhash64("id"), F.lit(1000)).alias("user_id"),
        F.pmod(F.xxhash64("id", F.lit(1)), F.lit(365)).alias("day"))
    plain = str(tmp_path / "plain")
    df.repartition(16).write.parquet(plain)
    zpath = str(tmp_path / "z")
    write_zordered(df, zpath, "user_id", "day", n_files=64)

    def overlap_fraction(path, lo, hi):
        files = glob.glob(f"{path}/part-*.parquet")
        assert files
        hit = 0
        for f in files:
            md = pq.ParquetFile(f).metadata
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                col = next(md.row_group(rg).column(i)
                           for i in range(md.num_columns)
                           if md.row_group(rg).column(i).path_in_schema
                           == "user_id")
                mins.append(col.statistics.min)
                maxs.append(col.statistics.max)
            if min(mins) <= hi and max(maxs) >= lo:
                hit += 1
        return hit / len(files)

    # content preserved exactly
    assert ({tuple(r) for r in spark.read.parquet(zpath).collect()}
            == {tuple(r) for r in df.collect()})
    # a 5%-wide user band: unclustered files ALL overlap; z-ordered
    # files mostly don't (64 files ~ an 8x8 z-grid: the band covers
    # 1-2 of 8 user columns -> ~a quarter of files, boundary files
    # included)
    assert overlap_fraction(plain, 475, 525) == 1.0
    zfrac = overlap_fraction(zpath, 475, 525)
    assert zfrac <= 0.45, f"z-ordered overlap fraction {zfrac}"


def test_incremental_rollup_epoch_pruning(spark, tmp_path):
    """A maintenance pass must read ONLY its epoch's partitions: the
    epoch = N filter on the (day, epoch)-partitioned landing is a
    planning-time PartitionFilter with no data-side residue, and
    fold_rollup composes (count, sum) deltas exactly."""
    from pyspark.sql import functions as F

    from last_minute_legends_spark.operators.incremental import fold_rollup
    from last_minute_legends_spark.sources.partitioned_events import (
        day_partition_epoch_sink,
    )

    path = str(tmp_path / "landed")
    sink = day_partition_epoch_sink(path)
    rows = _day_rows(spark)
    sink(rows.filter("event_id % 2 = 0"), 0)
    sink(rows.filter("event_id % 2 = 1"), 1)

    landed = spark.read.parquet(path)
    delta = (landed.filter(F.col("epoch") == 1)
             .groupBy("event_day_us")
             .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s")))
    plan = delta._jdf.queryExecution().executedPlan().toString()
    scans = [ln for ln in plan.splitlines() if "FileScan" in ln]
    assert scans, plan
    for ln in scans:
        pf = ln.split("PartitionFilters: ", 1)
        assert len(pf) == 2 and "epoch#" in pf[1].split("]", 1)[0], ln
        assert "DataFilters: []" in ln, ln

    # sum-mergeable fold equals the single-shot aggregate
    full = {(r.event_day_us, r.n, r.s) for r in
            landed.groupBy("event_day_us")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
            .collect()}
    r0 = (landed.filter(F.col("epoch") == 0).groupBy("event_day_us")
          .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s")))
    folded = fold_rollup(r0, delta, keys=["event_day_us"], sums=["n", "s"])
    assert {(r.event_day_us, r.n, r.s) for r in folded.collect()} == full


def test_asof_property_matches_naive(spark):
    """Property lock on hypothesis-random event sets: the union-sort
    as-of must equal the naive per-anchor rule — the value of the
    LATEST right row with right_ts <= anchor_ts and the same key,
    null when none exists (left-outer). Randomizes key collisions,
    equal timestamps (right-at-equal-ts IS eligible), and keys
    missing from either side — the regimes a window/union formulation
    could silently get wrong."""
    import datetime as _dt

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from last_minute_legends_spark.operators.asof import asof_join

    t0 = _dt.datetime(2024, 1, 1)
    # small key/time domains force collisions and equal-ts cases
    key = st.integers(min_value=0, max_value=4)
    sec = st.integers(min_value=0, max_value=30)
    lefts = st.lists(st.tuples(key, sec), min_size=1, max_size=25)
    rights = st.lists(st.tuples(key, sec), min_size=0, max_size=25)

    @settings(max_examples=8, deadline=None,
              suppress_health_check=list(HealthCheck))
    @given(ls=lefts, rs=rights)
    def check(ls, rs):
        left = spark.createDataFrame(
            [(i, k, t0 + _dt.timedelta(seconds=s))
             for i, (k, s) in enumerate(ls)],
            "event_id long, user_id long, ts timestamp")
        # one right row per (key, ts): the operator's documented
        # determinism precondition (ties on (key, ts) are tie-broken
        # only up to the union sort)
        rs = sorted({(k, s) for (k, s) in rs})
        right = spark.createDataFrame(
            [(k, t0 + _dt.timedelta(seconds=s),
              t0 + _dt.timedelta(seconds=s)) for (k, s) in rs]
            or [(99, t0, t0)],  # createDataFrame needs >= 1 row
            "user_id long, ts timestamp, view_ts timestamp")
        got = {r.event_id: r.view_ts_asof
               for r in asof_join(left, right, on="user_id",
                                  left_ts="ts", right_ts="ts",
                                  value_cols=["view_ts"]).collect()}
        for i, (k, s) in enumerate(ls):
            eligible = [rv for (rk, rv) in rs if rk == k and rv <= s]
            want = (t0 + _dt.timedelta(seconds=max(eligible))
                    if eligible else None)
            if not rs:
                want = None
            assert got[i] == want, (i, k, s, got[i], want)
        assert len(got) == len(ls)  # every anchor survives (left-outer)

    check()


def test_layout_cache_build_once_atomic_and_race_safe(tmp_path,
                                                      monkeypatch):
    """build_once must (a) build exactly once — a second call with a
    poisoned builder returns the cached layout untouched; (b) never
    expose a partially-built directory — the path only comes into
    existence complete (rename-into-place); (c) lose a concurrent
    race gracefully — when another builder renames its complete copy
    in first, the loser discards its own staging copy and serves the
    winner's (the pytest-vs-bench staged-topic race, ADVICE r14)."""
    import os

    from last_minute_legends_spark.sources import layout_cache

    monkeypatch.setenv("SPARK_GRAFT_LAYOUT_CACHE", str(tmp_path / "root"))
    path = os.path.join(layout_cache.cache_root(), "ns", "fp1")

    calls = []

    def build(tmp):
        # the final path must not exist while building (atomicity)
        assert not os.path.exists(path)
        calls.append(tmp)
        with open(os.path.join(tmp, "data.txt"), "w") as fh:
            fh.write("v1")

    assert layout_cache.build_once(path, build) == path
    assert layout_cache.is_built(path)
    assert open(os.path.join(path, "data.txt")).read() == "v1"
    assert len(calls) == 1 and not os.path.exists(calls[0])

    def poisoned(tmp):
        raise AssertionError("must not rebuild a built layout")

    assert layout_cache.build_once(path, poisoned) == path

    # simulated race: while the outer builder stages its copy, a
    # second process completes the SAME fingerprint first (the inner
    # build_once below). The outer rename then fails (path exists) —
    # it must detect the winner's complete layout, discard its own
    # staging dir, and return without error.
    path2 = os.path.join(layout_cache.cache_root(), "ns", "fp2")

    def racing(tmp):
        with open(os.path.join(tmp, "data.txt"), "w") as fh:
            fh.write("loser")
        layout_cache.build_once(path2, lambda t: open(
            os.path.join(t, "data.txt"), "w").write("winner"))

    assert layout_cache.build_once(path2, racing) == path2
    assert open(os.path.join(path2, "data.txt")).read() == "winner"
    # no staging litter left behind
    assert sorted(os.listdir(os.path.dirname(path2))) == ["fp1", "fp2"]

    # a builder that fails must leave nothing behind (no half-built
    # path, no staging dir) and propagate the error
    path3 = os.path.join(layout_cache.cache_root(), "ns", "fp3")
    import pytest as _pytest
    with _pytest.raises(RuntimeError, match="boom"):
        layout_cache.build_once(
            path3, lambda t: (_ for _ in ()).throw(RuntimeError("boom")))
    assert not os.path.exists(path3)
    assert sorted(os.listdir(os.path.dirname(path3))) == ["fp1", "fp2"]


def test_phash_png_near_dup_detection(spark):
    """The pixel branch of the perceptual hash must behave like image
    dedup: a RESIZED twin (2x nearest-neighbor upscale — different
    bytes, different dimensions, same content) and a RE-ENCODED twin
    (different PNG filter types — different compressed bytes, same
    pixels) hash within the hamming-3 threshold of the original and
    come back as pairs through the band machinery; a distinct image
    does not. The byte-fallback branch and the full banding replay
    are covered cross-engine by the dedup_phash DuckDB oracle."""
    import numpy as np

    from last_minute_legends_spark.operators.dedup import (
        hamming_band_pairs,
    )
    from last_minute_legends_spark.operators.multimodal import (
        _gray_ahash64, phash_images,
    )

    def detimg(tag, h, w):
        import hashlib as _h
        vals = np.frombuffer(
            b"".join(_h.sha256(f"{tag}:{i}".encode()).digest()
                     for i in range((h * w * 3) // 32 + 1)),
            np.uint8)[: h * w * 3]
        # smooth along rows so block means carry structure (pure
        # noise has near-tie block means that flip under resampling)
        a = vals.reshape(h, w, 3).astype(np.int64)
        return ((np.cumsum(a, axis=1) // np.arange(1, w + 1)[None, :, None])
                .astype(np.uint8))

    base = detimg("img-a", 64, 48)
    resized = np.repeat(np.repeat(base, 2, axis=0), 2, axis=1)  # 2x upscale
    other = detimg("img-b", 64, 48)

    # hash-level sanity before the distributed path
    hb, hr = _gray_ahash64(base), _gray_ahash64(resized)
    ho = _gray_ahash64(other)
    ham = lambda a, b: (bin(a[0] ^ b[0]).count("1")
                        + bin(a[1] ^ b[1]).count("1"))
    assert ham(hb, hr) <= 3, ham(hb, hr)
    assert ham(hb, ho) > 10, ham(hb, ho)

    rows = [
        (1, bytearray(_make_png(base, [0]))),
        (2, bytearray(_make_png(resized, [0]))),
        (3, bytearray(_make_png(base, [1, 2, 3, 4]))),  # re-encode
        (4, bytearray(_make_png(other, [0]))),
        (5, bytearray(b"not a png at all, takes the byte fallback")),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    sig = phash_images(df).persist()
    got = {(r.doc_a, r.doc_b): r.hamming
           for r in hamming_band_pairs(
               sig, ["ph0", "ph1"], [32, 32], 16, 3).collect()}
    assert (1, 2) in got and (1, 3) in got and (2, 3) in got, got
    assert got[(1, 3)] == 0  # re-encode: identical pixels, hamming 0
    assert not any(4 in p or 5 in p for p in got), got
    # words stay BIGINT-safe 32-bit (the DuckDB replay contract)
    for r in sig.collect():
        assert 0 <= r.ph0 < 2 ** 32 and 0 <= r.ph1 < 2 ** 32
    sig.unpersist()


def test_logistic_fit_matches_local_numpy(spark):
    """The distributed GD fit (map-side-combined gradient aggregates,
    driver sees only coefficients) must equal a from-scratch local
    numpy replication step for step — the Lloyd-parity pattern. Also
    locks the determinism contract: 6dp-rounded iterates, zero init,
    fixed lr — rerunning the fit gives bit-identical coefficients."""
    import math

    import numpy as np

    from last_minute_legends_spark.operators.curation import logistic_fit

    rows = []
    for i in range(200):
        # deterministic pseudo-features, linearly-ish separable label
        x1 = (i * 37 % 101) / 100.0
        x2 = (i * 53 % 97) / 96.0
        x3 = (i * 71 % 89) / 88.0
        y = 1.0 if (x1 - 0.7 * x2 + 0.4 * x3) > 0.35 else 0.0
        rows.append((i, x1, x2, x3, y))
    df = spark.createDataFrame(
        rows, "doc_id long, x1 double, x2 double, x3 double, y double")
    got = logistic_fit(df, ["x1", "x2", "x3"], "y", iters=8, lr=4.0)
    assert got == logistic_fit(df, ["x1", "x2", "x3"], "y",
                               iters=8, lr=4.0)  # bit-reproducible

    X = np.array([[1.0, r[1], r[2], r[3]] for r in rows])
    yv = np.array([r[4] for r in rows])
    w = np.zeros(4)
    for _ in range(8):
        pz = 1.0 / (1.0 + np.exp(-(X @ w)))
        g = (pz - yv) @ X / len(rows)
        w = np.round(w - 4.0 * g, 6)
    # identical up to the 6dp rounding both sides apply each step
    assert got == list(w), (got, list(w))
    # and the fit actually learned: training accuracy well above base
    z = X @ np.array(got)
    acc = float(((1 / (1 + np.exp(-z)) > 0.5) == (yv > 0.5)).mean())
    assert acc >= 0.8, acc


def test_zorder_documents_skipping(spark, tmp_path):
    """The documents z-order layout (zorder_documents' own builder)
    must make the 2-D scoped read — a source band AND a length band,
    the shape source-scoped dedup / length-banded curation runs —
    stats-skippable: most files' (src_num, n_chars) footer ranges
    must not overlap the band at all, while an unclustered write of
    the same rows leaves every file overlapping. Measured at sf0.01:
    8/32 z-ordered files overlap vs 32/32 plain. Engine-independent
    evidence (pyarrow footers), the zorder_events test's twin on the
    corpus axis the dedup family reads."""
    import glob

    import pyarrow.parquet as pq

    from last_minute_legends_spark.plans.dedup_q import (
        ZDOC_LEN_HI, ZDOC_LEN_LO, ZDOC_SRC_HI, ZDOC_SRC_LO, _zdoc_layout,
    )
    from last_minute_legends_spark.sources.tables import Catalog

    # resolve sf0.01 as a sibling of the conftest-resolved corpus
    # root (ADVICE r15: a hardcoded absolute path errored on any
    # checkout without it) — 500 docs: enough rows per file
    import os

    from tests.conftest import SF_DIR

    sf01 = os.path.join(os.path.dirname(SF_DIR.rstrip("/")), "sf0.01")
    if not os.path.isdir(sf01):
        pytest.skip(f"sf0.01 corpus not present at {sf01}")
    zpath = str(tmp_path / "z")
    _zdoc_layout(spark, sf01, zpath)

    def overlap_fraction(path):
        files = glob.glob(f"{path}/part-*.parquet")
        assert files
        hit = 0
        for f in files:
            md = pq.ParquetFile(f).metadata
            stats = {}
            for rg in range(md.num_row_groups):
                for i in range(md.num_columns):
                    c = md.row_group(rg).column(i)
                    if c.path_in_schema in ("src_num", "n_chars"):
                        lo, hi = stats.get(c.path_in_schema,
                                           (10 ** 9, -10 ** 9))
                        stats[c.path_in_schema] = (
                            min(lo, c.statistics.min),
                            max(hi, c.statistics.max))
            s, n = stats["src_num"], stats["n_chars"]
            if (s[0] <= ZDOC_SRC_HI and s[1] >= ZDOC_SRC_LO
                    and n[0] <= ZDOC_LEN_HI and n[1] >= ZDOC_LEN_LO):
                hit += 1
        return hit / len(files)

    assert overlap_fraction(zpath) <= 0.5, "z-order stats not tight"

    plain = str(tmp_path / "plain")
    docs = Catalog(spark, sf01).documents.withColumn(
        "src_num", F.substring("source", 4, 10).cast("long"))
    docs.repartition(32).write.parquet(plain)
    assert overlap_fraction(plain) == 1.0, (
        "plain layout unexpectedly skippable — the comparison is "
        "meaningless if the generator clusters sources")


def test_semantic_keep_planted_sound_complete(spark):
    """SemDeDup verdict semantics on a deterministic planted corpus,
    under BOTH the md5 replay hash and the production xxhash64
    striping: (1) every planted near-dup is dropped onto its source
    (min-id keeper, exact cosine); (2) soundness — every drop's
    (dup_of, id) pair really reads >= tau by exact cosine; (3)
    completeness — no kept doc has a same-cluster smaller-id
    neighbor >= tau; (4) the plan is equi-join shaped (no
    CartesianProduct: the cluster bound is what makes SemDeDup
    linear)."""
    import hashlib

    from last_minute_legends_spark.functions.portable_hash import md5_id_hash
    from last_minute_legends_spark.functions.vectors import cosine
    from last_minute_legends_spark.operators.similarity import (
        assign_buckets, semantic_keep, train_centroids, with_unit_vectors,
    )

    def detvec(tag, dim=16):
        return [
            (int.from_bytes(hashlib.sha256(f"{tag}:{d}".encode()).digest()[:8],
                            "big") / 2.0**64) * 2 - 1
            for d in range(dim)
        ]

    rows = [(i, detvec(f"s{i}")) for i in range(60)]
    planted = ((0, 100), (7, 107), (21, 121))
    for src, dup_id in planted:
        v = list(rows[src][1])
        v[0] += 0.01
        rows.append((dup_id, v))
    emb = with_unit_vectors(
        spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    ).persist()
    tau = 0.7
    a = emb.select(F.col("id").alias("id_a"), F.col("v").alias("va"),
                   F.col("nrm").alias("na"))
    b = emb.select(F.col("id").alias("id_b"), F.col("v").alias("vb"),
                   F.col("nrm").alias("nb"))
    exact = {(r.id_a, r.id_b): r.cos for r in
             a.join(b, F.col("id_a") < F.col("id_b"))
             .withColumn("cos", cosine(F.col("va"), F.col("na"),
                                       F.col("vb"), F.col("nb")))
             .filter(F.col("cos") >= tau).collect()}
    for tag, h in (("md5", md5_id_hash), ("xxhash64", None)):
        cent = train_centroids(emb, k=4, iters=2, id_hash=h)
        out = semantic_keep(emb, cent, tau)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, f"{tag}: all-pairs plan"
        verdict = {r.id: r for r in out.collect()}
        for src, dup_id in planted:
            v = verdict[dup_id]
            assert v.keep == 0 and v.dup_of == src, f"{tag}: missed {dup_id}"
        bucket_of = {r.id: r.bucket
                     for r in assign_buckets(emb, cent).collect()}
        for vid, v in verdict.items():
            if v.keep == 0:
                assert (v.dup_of, vid) in exact, f"{tag}: unsound drop {vid}"
                assert bucket_of[v.dup_of] == bucket_of[vid]
            else:
                cluster_nbrs = [(a_id, b_id) for (a_id, b_id) in exact
                                if b_id == vid
                                and bucket_of[a_id] == bucket_of[vid]]
                assert not cluster_nbrs, f"{tag}: incomplete keep {vid}"
    emb.unpersist()


def test_ann_ivfpq_recall_vs_ivf(spark, sf_dir):
    """IVF-PQ isolates its PQ loss from its probe loss: with the same
    n_probe coarse probes, the ADC-shortlist + exact-re-rank result
    must recover >= 0.9 of the EXACT in-bucket search (ann_ivf
    derivation). Probe loss is ann_ivf's own measured property."""
    from last_minute_legends_spark.plans.ann_q import (
        IVF_ITERS, IVF_N_PROBE, N_CENTROIDS, N_QUERIES, TOP_K, _vectors,
    )
    from last_minute_legends_spark.functions.portable_hash import md5_id_hash
    from last_minute_legends_spark.operators.similarity import (
        ivf_topk, ivfpq_topk, pq_codebooks, train_centroids,
    )

    vecs = _vectors(spark, sf_dir).persist()
    queries = vecs.filter(F.col("id") < N_QUERIES)
    candidates = vecs.filter(F.col("id") >= N_QUERIES).persist()
    cent = train_centroids(candidates, k=N_CENTROIDS, iters=IVF_ITERS,
                           id_hash=md5_id_hash)
    cbs, d_sub = pq_codebooks(candidates, id_hash=md5_id_hash)
    ivf = {(r.q_id, r.c_id)
           for r in ivf_topk(queries, candidates, cent, k=TOP_K,
                             n_probe=IVF_N_PROBE).collect()}
    pq = {(r.q_id, r.c_id)
          for r in ivfpq_topk(queries, candidates, cent, cbs, d_sub,
                              k=TOP_K, n_probe=IVF_N_PROBE).collect()}
    recall = len(ivf & pq) / len(ivf)
    assert recall >= 0.9, f"IVF-PQ recall vs exact-IVF too low: {recall}"
    candidates.unpersist()
    vecs.unpersist()


def test_global_shuffle_reproducible_balanced(spark, sf_dir):
    """Epoch-shuffle contract: same seed == identical permutation,
    different seed == a genuinely different order; positions are a
    1..shard_size dense rank per shard; hash sharding balances; and
    the plan's only wide node is the shard exchange (the
    repartition+sortWithinPartitions write shape — no global sort)."""
    from last_minute_legends_spark.operators.sampling import global_shuffle
    from last_minute_legends_spark.sources.tables import Catalog

    docs = Catalog(spark, sf_dir).documents
    a = global_shuffle(docs, seed="e1", n_shards=4)
    b = global_shuffle(docs, seed="e1", n_shards=4)
    c = global_shuffle(docs, seed="e2", n_shards=4)
    ra = sorted((r.doc_id, r.shard, r.pos) for r in a.collect())
    rb = sorted((r.doc_id, r.shard, r.pos) for r in b.collect())
    rc = sorted((r.doc_id, r.shard, r.pos) for r in c.collect())
    assert ra == rb
    assert ra != rc
    by_shard = {}
    for _, s, p in ra:
        by_shard.setdefault(s, []).append(p)
    n = len(ra)
    for s, ps in by_shard.items():
        assert sorted(ps) == list(range(1, len(ps) + 1)), f"shard {s} gap"
        assert len(ps) > n / 4 * 0.5, f"shard {s} unbalanced"
    plan = a._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") <= 2  # shard window (+AQE read)
    assert "rangepartitioning" not in plan.lower(), "global sort leaked in"


def test_semantic_np_kernel_matches_sql(spark, sf_dir):
    """The numpy Gram-matrix kernel (production-scaled path) must
    agree with the exact-sequential SQL form on verdicts: identical
    (id, bucket, keep, dup_of) and dup_cos within final-ulp rounding
    — on both the planted registry corpus and a denser synthetic one
    where chance >= tau neighbors exercise the tiebreaks."""
    import hashlib as _h

    from last_minute_legends_spark.functions.portable_hash import md5_id_hash
    from last_minute_legends_spark.operators.similarity import (
        semantic_keep, semantic_keep_np, train_centroids,
        with_unit_vectors,
    )
    from last_minute_legends_spark.plans.dedup_q import _embedding_corpus

    def detvec(tag, dim=8):
        return [
            (int.from_bytes(_h.sha256(f"{tag}:{d}".encode()).digest()[:8],
                            "big") / 2.0**64) * 2 - 1
            for d in range(dim)
        ]

    rows = [(i, detvec(f"p{i}")) for i in range(500)]
    for src_id, dup in ((4, 600), (77, 640), (320, 700)):
        v = list(rows[src_id][1]); v[0] += 0.01
        rows.append((dup, v))
    dense = with_unit_vectors(
        spark.createDataFrame(rows, "vec_id long, embedding array<double>"))
    corpora = [
        with_unit_vectors(_embedding_corpus(spark, sf_dir)),
        dense,
    ]
    for emb in corpora:
        emb = emb.persist()
        cent = train_centroids(emb, k=6, iters=2, id_hash=md5_id_hash)
        sql_v = {r.id: (r.bucket, r.keep, r.dup_of, r.dup_cos)
                 for r in semantic_keep(emb, cent, 0.7).collect()}
        np_v = {r.id: (r.bucket, r.keep, r.dup_of, r.dup_cos)
                for r in semantic_keep_np(emb, cent, 0.7).collect()}
        assert set(sql_v) == set(np_v)
        for vid, (b, k, d, c) in sql_v.items():
            nb, nk, nd, nc = np_v[vid]
            assert (b, k, d) == (nb, nk, nd), f"{vid}: {sql_v[vid]} vs {np_v[vid]}"
            if c is None:
                assert nc is None
            else:
                assert abs(c - nc) <= 1e-4, f"{vid}: cos {c} vs {nc}"
        emb.unpersist()


def test_global_shuffle_properties_hypothesis(spark):
    """Property lock on hypothesis-random id sets: the shuffle is a
    PERMUTATION (every doc exactly once), positions are a dense
    1..size rank per shard, shard is a pure function of (seed, id)
    (the same id in a different corpus keeps its shard — what makes
    incremental re-shuffles stable), and changing the seed actually
    permutes (for non-trivial sets)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from last_minute_legends_spark.operators.sampling import global_shuffle

    ids = st.lists(st.integers(min_value=0, max_value=10**9),
                   min_size=1, max_size=80, unique=True)

    @settings(max_examples=5, deadline=None,
              suppress_health_check=list(HealthCheck))
    @given(a=ids)
    def check(a):
        docs = spark.createDataFrame([(i,) for i in a], "doc_id long")
        out = global_shuffle(docs, seed="h1", n_shards=4).collect()
        assert sorted(r.doc_id for r in out) == sorted(a)
        by_shard = {}
        for r in out:
            by_shard.setdefault(r.shard, []).append(r.pos)
        for ps in by_shard.values():
            assert sorted(ps) == list(range(1, len(ps) + 1))
        # shard is a pure (seed, id) function: recompute on a subset
        sub = a[: max(1, len(a) // 2)]
        sub_docs = spark.createDataFrame([(i,) for i in sub],
                                         "doc_id long")
        sub_shard = {r.doc_id: r.shard
                     for r in global_shuffle(sub_docs, seed="h1",
                                             n_shards=4).collect()}
        full_shard = {r.doc_id: r.shard for r in out}
        assert all(full_shard[i] == s for i, s in sub_shard.items())

    check()


def test_ann_ivfpq_residual_recall(spark, sf_dir):
    """Residual IVFADC >= 0.9 recall vs the same-probe EXACT IVF
    search (isolating residual-PQ loss from probe loss), under both
    hash stripings — parity of mechanism, not just the md5 twin."""
    from last_minute_legends_spark.functions.portable_hash import md5_id_hash
    from last_minute_legends_spark.operators.similarity import (
        ivf_topk, ivfpq_residual_topk, pq_codebooks, residual_frame,
        train_centroids,
    )
    from last_minute_legends_spark.plans.ann_q import (
        IVF_ITERS, IVF_N_PROBE, N_CENTROIDS, N_QUERIES, TOP_K, _vectors,
    )

    vecs = _vectors(spark, sf_dir).persist()
    queries = vecs.filter(F.col("id") < N_QUERIES)
    candidates = vecs.filter(F.col("id") >= N_QUERIES).persist()
    for tag, h in (("md5", md5_id_hash), ("xxhash64", None)):
        cent = train_centroids(candidates, k=N_CENTROIDS,
                               iters=IVF_ITERS, id_hash=h)
        resid = residual_frame(candidates, cent)
        cbs, d_sub = pq_codebooks(resid.select("id", "v", "nrm"),
                                  id_hash=h)
        ivf = {(r.q_id, r.c_id)
               for r in ivf_topk(queries, candidates, cent, k=TOP_K,
                                 n_probe=IVF_N_PROBE).collect()}
        res = {(r.q_id, r.c_id)
               for r in ivfpq_residual_topk(queries, candidates, cent,
                                            cbs, d_sub, k=TOP_K,
                                            n_probe=IVF_N_PROBE).collect()}
        recall = len(ivf & res) / len(ivf)
        assert recall >= 0.9, f"residual IVFADC recall ({tag}): {recall}"
    candidates.unpersist()
    vecs.unpersist()
