"""Unit tests for composed operators: as-of join, range join, sessionize,
dedup family, similarity — tiny in-memory DFs with hand-checked expected
output (SURVEY.md §5 strategy item 1)."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from dataingestionplayground_spark.operators import (
    asof_join,
    exact_dedup,
    knn_brute_force,
    lsh_bucket_ann,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    range_join,
    sessionize,
    simhash,
)
from dataingestionplayground_spark.operators.dedup import (
    banded_pairs,
    minhash_bands,
    minhash_lsh_pairs_between,
    minhash_signatures,
)


def ts(s):
    return datetime.fromisoformat(s)


def test_asof_backward(spark):
    left = spark.createDataFrame(
        [(1, ts("2024-01-01T10:00:00"), "a"), (1, ts("2024-01-01T12:00:00"), "b"),
         (2, ts("2024-01-01T10:00:00"), "c")],
        "k long, t timestamp, tag string",
    )
    right = spark.createDataFrame(
        [(1, ts("2024-01-01T09:00:00"), 100), (1, ts("2024-01-01T11:00:00"), 200),
         (3, ts("2024-01-01T09:00:00"), 999)],
        "k long, rt timestamp, v long",
    )
    out = asof_join(left, right, on=["k"], left_ts="t", right_ts="rt", value_cols=["v"], tie_col="v")
    got = {(r.k, r.tag): r.v for r in out.collect()}
    assert got == {(1, "a"): 100, (1, "b"): 200, (2, "c"): None}


def test_asof_inclusive_and_ties(spark):
    left = spark.createDataFrame([(1, ts("2024-01-01T10:00:00"), "x")], "k long, t timestamp, tag string")
    right = spark.createDataFrame(
        [(1, ts("2024-01-01T10:00:00"), 5), (1, ts("2024-01-01T10:00:00"), 9)],
        "k long, rt timestamp, v long",
    )
    out = asof_join(left, right, on=["k"], left_ts="t", right_ts="rt", value_cols=["v"], tie_col="v")
    # equal timestamps match (<=) and max tie wins deterministically
    assert out.collect()[0].v == 9


def test_asof_forward(spark):
    left = spark.createDataFrame([(1, ts("2024-01-01T10:00:00"), "x")], "k long, t timestamp, tag string")
    right = spark.createDataFrame(
        [(1, ts("2024-01-01T09:59:00"), 1), (1, ts("2024-01-01T10:30:00"), 2),
         (1, ts("2024-01-01T11:00:00"), 3)],
        "k long, rt timestamp, v long",
    )
    out = asof_join(left, right, on=["k"], left_ts="t", right_ts="rt",
                    value_cols=["v"], direction="forward", tie_col="v")
    assert out.collect()[0].v == 2  # earliest at-or-after


def test_range_join_bucketized_matches_naive(spark):
    points = spark.createDataFrame([(float(x),) for x in range(0, 100, 7)], "p double")
    bands = spark.createDataFrame(
        [(i, float(i * 10), float(i * 10 + 15)) for i in range(9)], "band long, lo double, hi double"
    )
    fast = range_join(points, bands, "p", "lo", "hi", bucket_width=10.0)
    naive = points.crossJoin(bands).filter((F.col("p") >= F.col("lo")) & (F.col("p") < F.col("hi")))
    assert sorted((r.p, r.band) for r in fast.collect()) == sorted(
        (r.p, r.band) for r in naive.collect()
    )


def test_sessionize_gap(spark):
    df = spark.createDataFrame(
        [(1, ts("2024-01-01T10:00:00")), (1, ts("2024-01-01T10:10:00")),
         (1, ts("2024-01-01T11:30:00")), (2, ts("2024-01-01T09:00:00"))],
        "user_id long, ts timestamp",
    )
    out = sessionize(df, "user_id", "ts", gap_seconds=1800)
    got = {(r.user_id, r.ts.isoformat()): r.session_id for r in out.collect()}
    assert got[(1, "2024-01-01T10:00:00")] == 1
    assert got[(1, "2024-01-01T10:10:00")] == 1
    assert got[(1, "2024-01-01T11:30:00")] == 2  # 80-min gap -> new session
    assert got[(2, "2024-01-01T09:00:00")] == 1


def test_exact_dedup_keeps_min_id(spark):
    df = spark.createDataFrame(
        [(1, "Same  Text"), (2, "same text"), (3, "other")], "id long, txt string"
    )
    out = {r.keep_id: r.n_dups for r in exact_dedup(df, "id", "txt").collect()}
    # normalization: lowercase + whitespace collapse -> 1 and 2 merge
    assert out == {1: 2, 3: 1}


def test_minhash_finds_near_dups(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tomorrow")
    far = "completely different words in this unrelated document about spark"
    df = spark.createDataFrame([(1, base), (2, near), (3, far)], "id long, txt string")
    pairs = {(r.id_a, r.id_b) for r in minhash_lsh_pairs(df, "id", "txt").collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def _pair_oracle(left, right=None):
    """Brute-force banded pairs over (id, k_0, ..., k_{n-1}) tuples: every
    pair sharing a non-null key in the same band, each exactly once;
    id_a < id_b when ``right`` is None (self form)."""
    self_form = right is None
    right = left if self_form else right
    return sorted(
        (a[0], b[0])
        for a in left
        for b in right
        if (not self_form or a[0] < b[0])
        and any(x is not None and x == y for x, y in zip(a[1:], b[1:]))
    )


def _id_pairs(df):
    # a sorted list, not a set: a pair emitted twice must show
    return sorted((r.id_a, r.id_b) for r in df.collect())


_BAND_DDL = "id long, k0 string, k1 string, k2 string, v long"


def test_banded_pairs_first_band_with_null_keys(spark):
    rows = [
        (1, "a", "p", "x", 100),
        (2, "a", "q", "x", 200),  # with 1 in bands 0 and 2
        (3, "b", "p", None, 300),  # with 1 in band 1
        (4, None, "p", "x", 400),  # with 1 and 3 in band 1 (k0 null), 2 in band 2
        (5, None, None, None, 500),  # null keys never collide
        (6, "c", "r", "y", 600),
    ]
    out = banded_pairs(spark.createDataFrame(rows, _BAND_DDL), "id", ["k0", "k1", "k2"])
    assert out.columns == [
        "id_a", "id_b", "k0_a", "k0_b", "k1_a", "k1_b", "k2_a", "k2_b", "v_a", "v_b"
    ]
    got = out.collect()
    assert sorted((r.id_a, r.id_b) for r in got) == _pair_oracle(
        [r[:4] for r in rows]
    )
    assert all(r.v_a == 100 * r.id_a and r.v_b == 100 * r.id_b for r in got)


def test_banded_pairs_empty_frame(spark):
    empty = spark.createDataFrame([], _BAND_DDL)
    assert _id_pairs(banded_pairs(empty, "id", ["k0", "k1", "k2"])) == []
    assert _id_pairs(banded_pairs(empty, "id", ["k0", "k1", "k2"], empty)) == []


def test_banded_pairs_hot_key_emits_each_pair_once(spark):
    # every row collides with every other in every band
    rows = [(i, "h", "h", "h", i) for i in range(12)]
    got = _id_pairs(banded_pairs(spark.createDataFrame(rows, _BAND_DDL), "id", ["k0", "k1", "k2"]))
    assert got == _pair_oracle([r[:4] for r in rows])
    assert len(got) == 12 * 11 // 2


def test_banded_pairs_asymmetric_matches_bruteforce(spark):
    left = [(1, "a", "p", "x", 1), (7, "b", "q", "y", 7), (8, "h", "h", "h", 8)]
    # id 1 on both sides with the same keys; 2 < 7 must still pair (no id filter)
    right = [(1, "a", "p", "x", 1), (2, "z", "q", "y", 2), (9, "h", "h", "h", 9)]
    got = _id_pairs(
        banded_pairs(
            spark.createDataFrame(left, _BAND_DDL),
            "id",
            ["k0", "k1", "k2"],
            spark.createDataFrame(right, _BAND_DDL),
        )
    )
    assert got == _pair_oracle([r[:4] for r in left], [r[:4] for r in right])
    assert got == [(1, 1), (7, 2), (8, 9)]


def test_banded_pairs_random_keys_match_bruteforce(spark):
    import random

    rng = random.Random(7)
    key = lambda: rng.choice(["a", "b", "c", "d", None])
    rows = [(i, key(), key(), key(), i) for i in range(40)]
    left, right = rows[:15], rows[10:]
    df = lambda rs: spark.createDataFrame(rs, _BAND_DDL)
    keys = ["k0", "k1", "k2"]
    assert _id_pairs(banded_pairs(df(rows), "id", keys)) == _pair_oracle(
        [r[:4] for r in rows]
    )
    assert _id_pairs(banded_pairs(df(left), "id", keys, df(right))) == _pair_oracle(
        [r[:4] for r in left], [r[:4] for r in right]
    )


def test_minhash_lsh_pairs_match_signature_band_oracle(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    docs = [
        (1, base),
        (2, base),  # identical: collides in every band
        (3, base),
        (4, base.replace("today", "tomorrow")),
        (5, None),  # no shingles, no signature, no pair
        (6, "completely different words in this unrelated document about spark"),
        (7, "completely different words in this unrelated document about flink"),
    ]
    df = spark.createDataFrame(docs, "id long, txt string")
    sig = {}
    for r in minhash_signatures(df, "id", "txt").collect():
        sig.setdefault(r.id, [None] * 8)[r.h] = r.minhash
    bands = [
        (i, *(f"{mh[2 * b]}|{mh[2 * b + 1]}" for b in range(4)))
        for i, mh in sorted(sig.items())
    ]
    assert 5 not in sig
    want = _pair_oracle(bands)
    assert {(1, 2), (1, 3), (2, 3)} <= set(want)
    assert _id_pairs(minhash_lsh_pairs(df, "id", "txt")) == want

    new = df.filter("id IN (1, 4, 5, 6)")
    old = df.filter("id IN (1, 2, 5, 7)")  # id 1 on both sides
    got = sorted(
        (r.new_id, r.old_id)
        for r in minhash_lsh_pairs_between(new, old, "id", "txt").collect()
    )
    by_id = {b[0]: b for b in bands}
    assert got == _pair_oracle(
        [by_id[i] for i in (1, 4, 6)], [by_id[i] for i in (1, 2, 7)]
    )
    assert (1, 1) in got


def test_minhash_rejects_more_than_eight_hashes(spark):
    df = spark.createDataFrame([(1, "a b c d")], "id long, txt string")
    for fn in (minhash_lsh_pairs, minhash_signatures, minhash_bands):
        with pytest.raises(ValueError):
            fn(df, "id", "txt", num_hashes=9)
    with pytest.raises(ValueError):
        minhash_lsh_pairs_between(df, df, "id", "txt", num_hashes=9)


def test_simhash_hamming_close_for_near_dups(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    df = spark.createDataFrame(
        [(1, base), (2, base + " extra"), (3, "xx yy zz ww vv uu tt ss rr qq")],
        "id long, txt string",
    )
    h = {r.id: r.simhash for r in simhash(df, "id", "txt").collect()}
    ham = lambda a, b: bin(a ^ b).count("1")
    assert ham(h[1], h[2]) < ham(h[1], h[3])
    assert all(v >= 0 for v in h.values())  # 63-bit -> stays positive


def test_jaccard_exact_values(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d f"), (3, "x y z w v")], "id long, txt string"
    )
    out = {(r.id_a, r.id_b): r.jaccard for r in
           ngram_jaccard_pairs(df, "id", "txt", shingle_n=3, threshold=0.0).collect()}
    # shingles(1): {abc,bcd,cde}; shingles(2): {abc,bcd,cdf}; inter=2, union=4
    assert abs(out[(1, 2)] - 0.5) < 1e-12
    assert (1, 3) not in out


def test_jaccard_df_cap_drops_hot_shingle(spark):
    # every doc shares the stopword-ish prefix "of the and" — without a df
    # cap that one shingle joins all docs pairwise (quadratic); with the
    # cap it is dropped and only genuinely similar pairs survive.
    n = 30
    rows = [(i, f"of the and w{i} x{i} y{i} z{i}") for i in range(n)]
    rows.append((n, "of the and w0 x0 y0 z0"))  # true near-dup of doc 0
    df = spark.createDataFrame(rows, "id long, txt string")
    capped = ngram_jaccard_pairs(
        df, "id", "txt", shingle_n=3, threshold=0.5, max_shingle_df=5
    ).collect()
    assert {(r.id_a, r.id_b) for r in capped} == {(0, n)}
    # doc0/docN share all retained shingles -> jaccard 1.0 on the capped set
    assert abs(capped[0].jaccard - 1.0) < 1e-12
    # uncapped at threshold 0: the hot shingle creates every pair
    uncapped = ngram_jaccard_pairs(df, "id", "txt", shingle_n=3, threshold=0.0)
    assert uncapped.count() == (n + 1) * n // 2


def test_knn_and_lsh_agree_on_exact_match(spark):
    corpus = spark.createDataFrame(
        [(i, [float(i == j) for j in range(8)]) for i in range(8)],
        "vec_id long, embedding array<float>",
    )
    queries = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0])], "query_id long, query_vec array<float>"
    )
    exact = knn_brute_force(corpus, queries, k=1).collect()
    assert exact[0].vec_id == 0 and abs(exact[0].score - 1.0) < 1e-9
    approx = lsh_bucket_ann(corpus, queries, k=1, num_planes=2).collect()
    assert approx and approx[0].vec_id == 0


def test_ivf_ann_finds_exact_match(spark):
    from dataingestionplayground_spark.operators.similarity import ivf_ann

    corpus = spark.createDataFrame(
        [(i, [float(i == j) + 0.001 * (j + 1) for j in range(40)]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    queries = corpus.filter("vec_id = 25").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = sorted(ivf_ann(corpus, queries, k=3, n_centroids=8, n_probe=8).collect(),
                 key=lambda r: r.rank)
    # probing all cells == exhaustive: the vector itself must rank first
    assert out[0].vec_id == 25 and abs(out[0].score - 1.0) < 1e-9
    # recall dial: with fewer probes result stays a valid subset ranking
    narrow = sorted(ivf_ann(corpus, queries, k=3, n_centroids=8, n_probe=1).collect(),
                    key=lambda r: r.rank)
    assert len(narrow) >= 1
    assert [r.rank for r in narrow] == list(range(1, len(narrow) + 1))


def test_connected_components_and_cluster_dedup(spark):
    from dataingestionplayground_spark.operators.graph import connected_components, dedup_clusters

    # two chains + a singleton: {1-2-3-4}, {10-11}, {99}
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long"
    )
    comp = {r.id: r.component for r in connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}

    df = spark.createDataFrame([(i,) for i in [1, 2, 3, 4, 10, 11, 99]], "doc_id long")
    out = {r.doc_id: (r.cluster_id, r.is_kept) for r in dedup_clusters(df, pairs, "doc_id").collect()}
    assert out[99] == (99, True)  # singleton keeps itself
    assert out[1] == (1, True) and out[4] == (1, False)
    assert sum(1 for c, kept in out.values() if kept) == 3  # one rep per cluster


def test_connected_components_long_chain_pointer_jumping(spark):
    from dataingestionplayground_spark.operators.graph import connected_components

    # a 60-hop chain: one-hop propagation needs 60 iterations; pointer
    # jumping must finish well inside max_iter=10 (O(log diameter)).
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(60)], "id_a long, id_b long"
    )
    comp = {r.id: r.component for r in connected_components(pairs, max_iter=10).collect()}
    assert set(comp.values()) == {0} and len(comp) == 61


def test_connected_components_round_counts(spark):
    """A per-round cost cut must not come at the price of MORE rounds.
    The min-neighbor init + path-halving + hop structure resolves a
    16-hop chain in <=5 rounds (one-hop propagation alone would need 16),
    and an LSH-style clique union in at most 2."""
    from dataingestionplayground_spark.operators.graph import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(16)], "id_a long, id_b long"
    )
    st = {}
    comp = {r.id: r.component for r in connected_components(chain, stats=st).collect()}
    assert set(comp.values()) == {0} and st["rounds"] <= 5

    # two overlapping band-bucket cliques (the shape LSH pairs produce):
    # the bridge node 3 leaves clique {3..6} at label 3 after init; the
    # first round's jump resolves it through label(3) = 0, and the hop
    # after it confirms
    cliques = [(a, b) for grp in ([0, 1, 2, 3], [3, 4, 5, 6]) for a in grp for b in grp if a < b]
    pairs = spark.createDataFrame(cliques, "id_a long, id_b long")
    st = {}
    comp = {r.id: r.component for r in connected_components(pairs, stats=st).collect()}
    assert set(comp.values()) == {0} and st["rounds"] <= 2

    # a SINGLE clique converges at the init hop itself (everyone's
    # neighborhood contains the min), and the first round's hop changes
    # nothing, so the loop detects this in ONE round
    one = [(a, b) for a in range(4) for b in range(4) if a < b]
    st = {}
    comp = {
        r.id: r.component
        for r in connected_components(
            spark.createDataFrame(one, "id_a long, id_b long"), stats=st
        ).collect()
    }
    assert set(comp.values()) == {0} and st["rounds"] == 1


def test_connected_components_fractional_ids_use_exact_path(spark):
    """Float ids converge exactly: the convergence check compares each
    node's hopped label with its own jumped label, so it sees sub-unit
    label decreases that any rounded aggregate of the labels would
    miss."""
    from dataingestionplayground_spark.operators.graph import connected_components

    # sub-unit-spaced ids: every label decrease is fractional, so a
    # rounded sum would be blind to progress
    pairs = spark.createDataFrame(
        [(0.1, 0.2), (0.2, 0.3), (0.3, 0.4), (7.5, 7.6)],
        "id_a double, id_b double",
    )
    comp = {r.id: r.component for r in connected_components(pairs).collect()}
    assert comp == {0.1: 0.1, 0.2: 0.1, 0.3: 0.1, 0.4: 0.1, 7.5: 7.5, 7.6: 7.5}


def _components_oracle(edges):
    """Union-find reference: node -> least node id of its component."""
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


def test_connected_components_string_ids(spark):
    """String ids (the curate workload's doc-id type) converge by the same
    rule as numeric ids: labels are the lexicographic minimum and the
    round bounds of the long-id cases hold."""
    from dataingestionplayground_spark.operators.graph import connected_components

    # a 16-hop chain over unpadded numerals, whose lexicographic order
    # differs from the numeric one along the chain ("10" < "2")
    chain = [(str(i), str(i + 1)) for i in range(16)]
    st = {}
    pairs = spark.createDataFrame(chain, "id_a string, id_b string")
    comp = {r.id: r.component for r in connected_components(pairs, stats=st).collect()}
    assert comp == _components_oracle(chain) and set(comp.values()) == {"0"}
    assert st["rounds"] <= 5

    # two overlapping cliques bridged at "h", plus a disjoint one
    groups = (["d", "f", "h", "k"], ["h", "m", "a9", "z"], ["q", "r", "s"])
    cliques = [(a, b) for g in groups for a in g for b in g if a < b]
    st = {}
    pairs = spark.createDataFrame(cliques, "id_a string, id_b string")
    comp = {r.id: r.component for r in connected_components(pairs, stats=st).collect()}
    assert comp == _components_oracle(cliques)
    assert set(comp.values()) == {"a9", "q"} and st["rounds"] <= 2


def test_connected_components_empty_pairs(spark):
    from dataingestionplayground_spark.operators.graph import connected_components

    st = {}
    pairs = spark.createDataFrame([], "id_a string, id_b string")
    assert connected_components(pairs, stats=st).collect() == []
    assert st["rounds"] == 1


# Spark jobs one connected_components call on the 16-hop string-id chain
# starts, collect included, counted with getJobIdsForGroup in this test's
# session (local[8], AQE on): 26 or 27 over its 4 rounds with one eager
# materialization per round that also reports convergence; 48 or 49 when
# each round checkpointed the hop and the jump separately and ran a
# join-based changed-count action on top.
CC_JOB_BOUND = 27


def test_connected_components_job_budget(spark):
    from dataingestionplayground_spark.operators.graph import connected_components

    chain = [(f"d{i:02d}", f"d{i + 1:02d}") for i in range(16)]
    pairs = spark.createDataFrame(chain, "id_a string, id_b string").cache()
    pairs.count()
    sc = spark.sparkContext
    group = "test-cc-jobs"
    st = {}
    sc.setJobGroup(group, group)
    try:
        rows = connected_components(pairs, stats=st).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        pairs.unpersist()
    assert {r.id: r.component for r in rows} == _components_oracle(chain)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert 0 < n_jobs <= CC_JOB_BOUND, (st["rounds"], n_jobs)


def test_connected_components_raises_when_budget_exhausted(spark):
    import pytest

    from dataingestionplayground_spark.operators.graph import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, max_iter=2)


def test_asof_null_timestamps(spark):
    # right rows with NULL rt must never match (they'd otherwise sort
    # first under asc NULLS FIRST and become everyone's fallback);
    # left rows with NULL t get NULL values in both directions.
    left = spark.createDataFrame(
        [(1, ts("2024-01-01T10:00:00"), "x"), (1, None, "nul")],
        "k long, t timestamp, tag string",
    )
    right = spark.createDataFrame(
        [(1, None, 999), (1, ts("2024-01-01T09:00:00"), 7)],
        "k long, rt timestamp, v long",
    )
    back = {r.tag: r.v for r in asof_join(
        left, right, on=["k"], left_ts="t", right_ts="rt", value_cols=["v"], tie_col="v"
    ).collect()}
    assert back == {"x": 7, "nul": None}
    fwd = {r.tag: r.v for r in asof_join(
        left, right, on=["k"], left_ts="t", right_ts="rt", value_cols=["v"],
        direction="forward", tie_col="v"
    ).collect()}
    assert fwd == {"x": None, "nul": None}  # no right row at-or-after 10:00


def test_asof_strict_excludes_exact(spark):
    left = spark.createDataFrame([(1, ts("2024-01-01T10:00:00"), "x")], "k long, t timestamp, tag string")
    right = spark.createDataFrame(
        [(1, ts("2024-01-01T10:00:00"), 5), (1, ts("2024-01-01T09:00:00"), 3)],
        "k long, rt timestamp, v long",
    )
    inclusive = asof_join(left, right, on=["k"], left_ts="t", right_ts="rt",
                          value_cols=["v"], tie_col="v")
    strict = asof_join(left, right, on=["k"], left_ts="t", right_ts="rt",
                       value_cols=["v"], tie_col="v", allow_exact_matches=False)
    assert inclusive.collect()[0].v == 5  # equal ts matches
    assert strict.collect()[0].v == 3     # equal ts excluded -> earlier row


def test_range_join_inverted_interval_matches_nothing(spark):
    points = spark.createDataFrame([(5.0,)], "p double")
    bands = spark.createDataFrame(
        [(1, 0.0, 10.0), (2, 10.0, 0.0)], "band long, lo double, hi double"
    )
    out = range_join(points, bands, "p", "lo", "hi", bucket_width=5.0).collect()
    assert [r.band for r in out] == [1]  # inverted band 2 dropped, no crash


def test_asof_matches_pandas_merge_asof(spark):
    """Randomized (seeded) cross-check against pandas merge_asof — an
    independent reference implementation of as-of semantics."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(7)
    left_pd = pd.DataFrame({
        "k": rng.integers(0, 5, 300),
        "t": pd.to_datetime(rng.integers(0, 100_000, 300), unit="s"),
    }).sort_values("t").reset_index(drop=True)
    left_pd["row_id"] = range(len(left_pd))
    right_pd = pd.DataFrame({
        "k": rng.integers(0, 6, 200),
        "rt": pd.to_datetime(rng.integers(0, 100_000, 200), unit="s"),
        "val": rng.integers(0, 10_000, 200),
    }).sort_values("rt").reset_index(drop=True)
    # make (k, rt) unique so both implementations tie-break identically
    right_pd = right_pd.drop_duplicates(subset=["k", "rt"]).reset_index(drop=True)

    expected = pd.merge_asof(left_pd, right_pd, left_on="t", right_on="rt", by="k")

    out = asof_join(
        spark.createDataFrame(left_pd[["k", "t", "row_id"]]),
        spark.createDataFrame(right_pd),
        on=["k"], left_ts="t", right_ts="rt", value_cols=["val"], tie_col="val",
    ).collect()
    got = {r.row_id: r.val for r in out}
    exp = {
        int(r.row_id): (None if pd.isna(r.val) else int(r.val))
        for r in expected.itertuples()
    }
    assert got == exp


def test_ivf_kmeans_centroids_deterministic_and_exact(spark):
    from dataingestionplayground_spark.operators.similarity import ivf_ann, kmeans_centroids

    # three well-separated clusters in 4-d
    rows = []
    for c, base in enumerate([(10.0, 0, 0, 0), (0, 10.0, 0, 0), (0, 0, 10.0, 0)]):
        for i in range(5):
            rows.append((c * 5 + i, [b + (0.1 * i if b else 0.0) for b in base]))
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = spark.createDataFrame(
        [(0, [9.0, 0.0, 0.0, 0.0])], "query_id long, query_vec array<float>"
    )
    out = ivf_ann(corpus, queries, k=3, n_centroids=3, n_probe=1,
                  centroid_mode="kmeans").collect()
    assert [r.vec_id for r in out] == [0, 1, 2]  # the x-axis cluster

    # determinism: two runs give identical centroids
    c1 = sorted(map(tuple, (r.cent_vec for r in kmeans_centroids(corpus, 3).collect())))
    c2 = sorted(map(tuple, (r.cent_vec for r in kmeans_centroids(corpus, 3).collect())))
    assert c1 == c2

    with __import__("pytest").raises(ValueError, match="centroid_mode"):
        ivf_ann(corpus, queries, centroid_mode="bogus")


def test_line_dedup_drops_boilerplate(spark):
    from dataingestionplayground_spark.operators.dedup import line_dedup

    docs = spark.createDataFrame(
        [
            (1, "unique alpha\nSubscribe to our newsletter\nmore alpha text"),
            (2, "totally different beta\nSubscribe to our newsletter\n"),
            (3, "gamma only\n\n  \ngamma again"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in line_dedup(docs, min_df=2).collect()}
    # the shared line vanishes from BOTH docs; order of survivors kept
    assert out[1].clean_text == "unique alpha\nmore alpha text"
    assert out[1].n_lines_total == 3 and out[1].n_lines_kept == 2
    assert out[2].clean_text == "totally different beta"
    # blank/whitespace-only lines don't count at all
    assert out[3].n_lines_total == 2 and out[3].n_lines_kept == 2
    assert out[3].clean_text == "gamma only\ngamma again"


def test_line_dedup_all_boilerplate_doc(spark):
    from dataingestionplayground_spark.operators.dedup import line_dedup

    docs = spark.createDataFrame(
        [(1, "same line"), (2, "same line"), (3, "same line\nextra")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in line_dedup(docs, min_df=2).collect()}
    assert out[1].n_lines_kept == 0 and out[1].clean_text == ""
    assert out[3].clean_text == "extra"


def test_interval_overlap_join_emits_each_pair_once(spark):
    from dataingestionplayground_spark.operators.asof import interval_overlap_join

    # overlap [10, 95) spans many width-10 buckets -> must still be ONE row
    a = spark.createDataFrame([(1, 0, 95), (2, 200, 210)], "id_a long, a_lo long, a_hi long")
    b = spark.createDataFrame(
        [(10, 10, 120), (20, 90, 100), (30, 300, 310)],
        "id_b long, b_lo long, b_hi long",
    )
    rows = interval_overlap_join(
        a, b, "a_lo", "a_hi", "b_lo", "b_hi", bucket_width=10.0
    ).collect()
    pairs = sorted((r.id_a, r.id_b) for r in rows)
    # (1,10): [0,95) x [10,120) overlap; (1,20): [0,95) x [90,100) overlap
    assert pairs == [(1, 10), (1, 20)]
    assert len(pairs) == len(set(pairs))  # exactly-once, no per-bucket dupes


def test_interval_overlap_join_half_open_touching_excluded(spark):
    from dataingestionplayground_spark.operators.asof import interval_overlap_join

    a = spark.createDataFrame([(1, 0, 10)], "id_a long, a_lo long, a_hi long")
    b = spark.createDataFrame([(2, 10, 20)], "id_b long, b_lo long, b_hi long")
    assert (
        interval_overlap_join(
            a, b, "a_lo", "a_hi", "b_lo", "b_hi", bucket_width=10.0
        ).count()
        == 0
    )  # [0,10) and [10,20) touch but do not overlap


def test_interval_overlap_join_randomized_vs_bruteforce(spark):
    """50 seeded random interval worlds in ONE Spark job (worlds keyed by
    extra_on) — bucketized result must equal the quadratic ground truth,
    including intervals spanning many buckets and zero-length ones."""
    import random

    from dataingestionplayground_spark.operators.asof import interval_overlap_join

    rng = random.Random(7)
    a_rows, b_rows = [], []
    for world in range(50):
        for i in range(rng.randint(0, 8)):
            lo = rng.randint(-50, 200)
            a_rows.append((world, i, lo, lo + rng.randint(0, 120)))
        for j in range(rng.randint(0, 8)):
            lo = rng.randint(-50, 200)
            b_rows.append((world, j, lo, lo + rng.randint(0, 120)))
    a = spark.createDataFrame(a_rows, "w long, id_a long, a_lo long, a_hi long")
    b = spark.createDataFrame(b_rows, "w long, id_b long, b_lo long, b_hi long")
    got = {
        (r.w, r.id_a, r.id_b)
        for r in interval_overlap_join(
            a, b, "a_lo", "a_hi", "b_lo", "b_hi", bucket_width=25.0, extra_on=["w"]
        ).collect()
    }
    want = {
        (wa, ia, ib)
        for (wa, ia, alo, ahi) in a_rows
        for (wb, ib, blo, bhi) in b_rows
        if wa == wb and alo < bhi and blo < ahi and ahi >= alo and bhi >= blo
    }
    assert got == want


def test_incremental_rollup_refresh_equals_full_rebuild(spark, tmp_path):
    """Refreshing only the changed day produces a table identical to a
    full rebuild, and untouched partition files stay byte-identical."""
    import os

    from pyspark.sql import functions as F

    from dataingestionplayground_spark.operators.incremental import (
        build_rollup,
        refresh_rollup,
    )

    base = spark.createDataFrame(
        [
            (1, "2024-01-01 10:00:00", 1, "click", 1.0),
            (2, "2024-01-01 11:00:00", 2, "view", 2.0),
            (3, "2024-01-02 09:00:00", 1, "click", 4.0),
        ],
        "event_id long, ts string, user_id long, event_type string, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    path = str(tmp_path / "rollup")
    build_rollup(base, path)

    def mtimes(day):
        d = os.path.join(path, f"day={day}")
        return {f: os.path.getmtime(os.path.join(d, f)) for f in os.listdir(d) if f.endswith(".parquet")}

    day1_before = mtimes("2024-01-01")

    # new events land on day 2 only
    extra = spark.createDataFrame(
        [(4, "2024-01-02 10:00:00", 3, "click", 8.0)],
        "event_id long, ts string, user_id long, event_type string, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    all_events = base.unionByName(extra)
    n = refresh_rollup(spark, all_events, path, ["2024-01-02"])
    assert n == 1

    got = {
        (str(r.day), r.event_type): (r.n_events, r.total_value)
        for r in spark.read.parquet(path).collect()
    }
    from dataingestionplayground_spark.operators.incremental import daily_event_rollup

    want = {
        (str(r.day), r.event_type): (r.n_events, r.total_value)
        for r in daily_event_rollup(all_events).collect()
    }
    assert got == want
    assert ("2024-01-02", "click") in got and got[("2024-01-02", "click")][0] == 2
    # the untouched day's files were not rewritten
    assert mtimes("2024-01-01") == day1_before


def test_incremental_rollup_refresh_noop(spark, tmp_path):
    from pyspark.sql import functions as F

    from dataingestionplayground_spark.operators.incremental import (
        build_rollup,
        refresh_rollup,
    )

    base = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", 1, "click", 1.0)],
        "event_id long, ts string, user_id long, event_type string, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    path = str(tmp_path / "r2")
    build_rollup(base, path)
    assert refresh_rollup(spark, base, path, []) == 0
    assert spark.read.parquet(path).count() == 1


def test_hll_sketch_merge_matches_global_estimate(spark):
    """Mergeable distinct-count sketches — the incremental pattern at
    scale: per-source sketches stored once, unioned later for any
    cross-source distinct estimate without rescanning, within HLL error
    of the exact count AND equal to sketching the corpus directly."""
    from pyspark.sql import functions as F

    d = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    per_src = d.groupBy("source").agg(F.expr("hll_sketch_agg(doc_id)").alias("sk"))
    merged = per_src.agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("est")
    ).collect()[0].est
    direct = d.agg(
        F.expr("hll_sketch_estimate(hll_sketch_agg(doc_id))").alias("est")
    ).collect()[0].est
    exact = d.select("doc_id").distinct().count()
    # union of partials is NOT bit-equal to the one-pass sketch (merging
    # forces dense HLL mode while one low-cardinality pass stays in
    # sparse-exact mode) — both must land within HLL error of exact
    assert abs(merged - exact) / exact < 0.05
    assert abs(direct - exact) / exact < 0.05


def test_line_dedup_literal_separator_with_regex_metachars(spark):
    """``sep`` is treated as a LITERAL even when it contains regex
    metacharacters (ADVICE r2: F.split takes a regex, array_join does not)."""
    from dataingestionplayground_spark.operators.dedup import line_dedup

    docs = spark.createDataFrame(
        [("d1", "keep me.shared line.also kept"), ("d2", "shared line.unique two")],
        "doc_id string, text string",
    )
    out = {r.doc_id: r for r in line_dedup(docs, sep=".", min_df=2).collect()}
    # '.'-as-regex would explode every char; literal '.' gives 3 + 2 lines
    assert out["d1"].n_lines_total == 3 and out["d2"].n_lines_total == 2
    assert out["d1"].clean_text == "keep me.also kept"
    assert out["d2"].clean_text == "unique two"


def _circle_vecs(spark, n, dims=4, step=0.1):
    import math

    rows = [
        (f"v{i:03d}", [math.cos(i * step), math.sin(i * step)] + [0.0] * (dims - 2))
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "vec_id string, embedding array<float>")


def test_semantic_dedup_derives_n_cells(spark):
    """n_cells=None sizes the cell count from the corpus (round-2 verdict:
    a fixed default makes cells corpus/16-sized at scale)."""
    from dataingestionplayground_spark.operators.similarity import semantic_dedup

    corpus = _circle_vecs(spark, 40)
    out = semantic_dedup(corpus, threshold=0.99999, target_cell_size=10)
    rows = out.collect()
    assert len(rows) == 40
    assert all(r.keep for r in rows)  # all vectors distinct at this threshold


def test_semantic_dedup_splits_dominant_cell(spark):
    """One dominant cell is recursively split until every cell fits the
    pair budget — no quadratic blowup survives to the join. The OUTPUT
    cell column stays the top-level label (r12 contract: SF-stable
    labels); the split shows up in the refined grouping the pair stage
    runs on, checked through the split helper directly."""
    from dataingestionplayground_spark.operators.similarity import (
        _assign_cells_matmul,
        _seed_vectors,
        _split_oversized_cells,
        semantic_dedup,
    )

    corpus = _circle_vecs(spark, 20)
    # n_cells=1: everything lands in one cell of 20 (190 pairs > 45)
    out = semantic_dedup(
        corpus, threshold=0.99999, n_cells=1, max_cell_pairs=45
    ).localCheckpoint(eager=True)
    assert out.count() == 20
    assert out.filter(~F.col("keep")).count() == 0
    # output labels are the single top-level cell despite the split
    assert out.select("cell").distinct().count() == 1
    # the refined clustering the pair stage grouped by really did split
    cents = _seed_vectors(corpus, "vec_id", "embedding", 1)
    assigned = _assign_cells_matmul(
        corpus, cents, "vec_id", "embedding"
    ).withColumn("__top_cell", F.col("cell"))
    refined = _split_oversized_cells(
        assigned.localCheckpoint(eager=True),
        corpus_id="vec_id",
        corpus_vec="embedding",
        max_cell_pairs=45,
        split_factor=8,
        max_split_rounds=8,
        materialize=True,
    )
    sizes = [
        r["c"]
        for r in refined.groupBy("cell").agg(F.count("*").alias("c")).collect()
    ]
    assert all(c * (c - 1) / 2 <= 45 for c in sizes)
    assert len(sizes) > 1  # the dominant cell really was split


def test_semantic_dedup_split_guard_keeps_zero_norm_rows(spark):
    """ADVICE r12: when the split guard engages, NULL-cell (zero-norm)
    rows must route to the cold branch, not vanish (`~isin` evaluates
    NULL for NULL cells, dropping them from both branches)."""
    from dataingestionplayground_spark.operators.similarity import semantic_dedup

    base = _circle_vecs(spark, 20)
    zero = spark.createDataFrame(
        [("zzz_zero", [0.0, 0.0, 0.0, 0.0])],
        "vec_id string, embedding array<float>",
    )
    # n_cells=1 + max_cell_pairs=45 forces the guard to engage (190 pairs)
    out = semantic_dedup(
        base.unionByName(zero), threshold=0.99999, n_cells=1, max_cell_pairs=45
    ).collect()
    assert len(out) == 21  # nothing dropped by the split routing
    zrow = [r for r in out if r.vec_id == "zzz_zero"]
    assert len(zrow) == 1
    assert zrow[0].cell is None and zrow[0].keep  # neither dominates nor drops


def test_semantic_dedup_split_keeps_dedup_semantics(spark):
    """Near-identical pairs still dedup after splitting (duplicates land
    in the same sub-cell because argmax-cosine agrees for them)."""
    from dataingestionplayground_spark.operators.similarity import semantic_dedup

    base = _circle_vecs(spark, 20)
    dup = base.selectExpr("concat(vec_id, '_dup') as vec_id", "embedding")
    out = semantic_dedup(
        base.unionByName(dup), threshold=0.999, n_cells=1, max_cell_pairs=45
    )
    dropped = {r.vec_id for r in out.filter(~F.col("keep")).collect()}
    # every _dup has an identical lower-id twin in its (sub-)cell
    assert dropped == {f"v{i:03d}_dup" for i in range(20)}


def test_semantic_dedup_raises_on_unsplittable_mass(spark):
    """A cell of identical vectors cannot split; the guard raises instead
    of handing a quadratic cell to the join."""
    import pytest as _pytest

    from dataingestionplayground_spark.operators.similarity import semantic_dedup

    rows = [(f"v{i:03d}", [1.0, 0.0, 0.0, 0.0]) for i in range(30)]
    corpus = spark.createDataFrame(rows, "vec_id string, embedding array<float>")
    with _pytest.raises(ValueError, match="max_cell_pairs"):
        semantic_dedup(
            corpus, threshold=0.9, n_cells=1, max_cell_pairs=10, max_split_rounds=2
        )
