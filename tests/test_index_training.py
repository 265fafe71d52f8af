"""Driver-held index training is bit-identical to the SQL training it
replaced. The reference below IS that SQL: the k-means assign as a
broadcast cosine window, the PQ refine as an L2 window, the encoder as
``array_position(dists, array_min(dists))`` over the filtered codebook
array, all with DECIMAL(38,6)-routed means. The fixture holds an exact
tie between centroids, a zero-norm vector, a null embedding, a seed
that duplicates another (it wins no vector, so k-means drops it) and a
seed that duplicates another in one subspace only (so the refined PQ
codebook is ragged); a second variant adds a null-embedding seed, whose
every score is null (the k-means window puts it last, the PQ refine
window first)."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from dataingestionplayground_spark.functions import vector as V
from dataingestionplayground_spark.operators.similarity import (
    _pq_codebook,
    kmeans_centroids,
    pq_encode_with_codebook,
    sampled_kmeans_centroids,
)

DIMS, M, K = 8, 2, 4
DSUB = DIMS // M


@pytest.fixture(scope="module")
def corpus(spark):
    rng = random.Random(7)
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0, 1.0, 0.0, 0.0, 0.0]),
        (1, [1.0, 0.0, 0.0, 0.0, 1.0, 0.0, 0.0, 0.0]),  # duplicate seed
        (2, [0.0, 1.0, 0.0, 0.0, 1.0, 0.0, 0.0, 0.0]),  # = seed 0 in subspace 1
        (3, [0.0, 0.0, 1.0, 0.0, 0.0, 0.0, 1.0, 0.0]),
        (4, [1.0, 1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 1.0]),  # ties seeds 0, 1, 2
        (5, [0.0] * DIMS),  # zero norm
        (6, None),  # null embedding
    ]
    rows += [
        (i, [round(rng.uniform(-1, 1), 3) for _ in range(DIMS)]) for i in range(7, 25)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>").cache()


@pytest.fixture(scope="module")
def null_seeded(spark, corpus):
    row = spark.createDataFrame([(-1, None)], "vec_id long, embedding array<float>")
    return corpus.unionByName(row).cache()


# ------------------------------------------------- the SQL reference


def _sql_seeds(corpus, k):
    w = Window.orderBy("vec_id")
    return (
        corpus.withColumn("centroid_id", F.row_number().over(w) - 1)
        .filter(F.col("centroid_id") < k)
        .select("centroid_id", F.col("embedding").alias("cent_vec"))
    )


def _sql_lloyd(corpus, cents, n_iters):
    for _ in range(n_iters):
        scored = corpus.crossJoin(F.broadcast(cents)).withColumn(
            "__csim", V.cosine_similarity("embedding", "cent_vec")
        )
        w = Window.partitionBy("vec_id").orderBy(F.desc("__csim"), F.asc("centroid_id"))
        assigned = scored.withColumn("__crk", F.row_number().over(w)).filter("__crk = 1")
        cents = (
            assigned.select("centroid_id", F.posexplode("embedding"))
            .groupBy("centroid_id", "pos")
            .agg(
                (
                    F.sum(F.col("col").cast("double").cast("decimal(38,6)")).cast("double")
                    / F.count(F.lit(1)).cast("double")
                ).alias("v")
            )
            .groupBy("centroid_id")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "v"))).alias("__pv"))
            .select(
                "centroid_id",
                F.expr("transform(__pv, x -> cast(x.v as float))").alias("cent_vec"),
            )
        )
    return sorted((r.centroid_id, list(r.cent_vec)) for r in cents.collect())


def _sql_codebook(corpus, mode):
    seeds = _sql_seeds(corpus, K)
    book = None
    for s in range(M):
        part = seeds.select(
            F.lit(s).alias("s"),
            F.col("centroid_id").alias("cid"),
            F.expr(
                f"transform(slice(cent_vec, {s * DSUB + 1}, {DSUB}), x -> cast(x as double))"
            ).alias("v"),
        )
        book = part if book is None else book.unionByName(part)
    if mode == "kmeans":
        structs = ", ".join(
            f"struct({s} as s, transform(slice(embedding, {s * DSUB + 1}, {DSUB}), "
            f"x -> cast(x as double)) as sv)"
            for s in range(M)
        )
        slices = corpus.select(
            "vec_id", F.explode(F.expr(f"array({structs})")).alias("sub")
        ).select("vec_id", "sub.s", "sub.sv")
        dist = (
            f"aggregate(sequence(1, {DSUB}), cast(0.0 as double), "
            f"(acc, i) -> acc + (element_at(sv, i) - element_at(v, i)) "
            f"* (element_at(sv, i) - element_at(v, i)))"
        )
        scored = slices.join(F.broadcast(book), "s").withColumn("__d", F.expr(dist))
        w = Window.partitionBy("vec_id", "s").orderBy(F.asc("__d"), F.asc("cid"))
        book = (
            scored.withColumn("__rk", F.row_number().over(w))
            .filter("__rk = 1")
            .select("s", "cid", F.posexplode("sv").alias("pos", "val"))
            .groupBy("s", "cid", "pos")
            .agg(
                (
                    F.sum(F.col("val").cast("decimal(38,6)")).cast("double")
                    / F.count(F.lit(1)).cast("double")
                ).alias("mv")
            )
            .groupBy("s", "cid")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "mv"))).alias("__pv"))
            .select("s", "cid", F.expr("transform(__pv, x -> x.mv)").alias("v"))
        )
    return sorted((r.s, r.cid, None if r.v is None else list(r.v)) for r in book.collect())


def _sql_encode(spark, corpus, codebook):
    cb = spark.createDataFrame(
        [([tuple(c) for c in codebook],)],
        "cents array<struct<s:int, cid:int, v:array<double>>>",
    )
    enc = corpus.crossJoin(F.broadcast(cb))
    for s in range(M):
        dists = (
            f"transform(filter(cents, c -> c.s = {s}), c -> "
            f"aggregate(sequence(1, {DSUB}), cast(0.0 as double), "
            f"(acc, i) -> acc + (cast(element_at(embedding, {s * DSUB} + i) as double) "
            f"- element_at(c.v, i)) * (cast(element_at(embedding, {s * DSUB} + i) as double) "
            f"- element_at(c.v, i))))"
        )
        enc = enc.withColumn(
            f"code_{s}",
            (F.expr(f"array_position({dists}, array_min({dists}))") - 1).cast("int"),
        )
    return sorted(tuple(r) for r in enc.select("vec_id", *(f"code_{s}" for s in range(M))).collect())


# ------------------------------------------------------------- tests


@pytest.mark.parametrize("n_iters", [1, 2])
@pytest.mark.parametrize("fixture", ["corpus", "null_seeded"])
def test_kmeans_centroids_match_sql_lloyd(spark, request, fixture, n_iters):
    data = request.getfixturevalue(fixture)
    got = sorted(
        (r.centroid_id, None if r.cent_vec is None else list(r.cent_vec))
        for r in kmeans_centroids(data, K, n_iters).collect()
    )
    assert got == _sql_lloyd(data, _sql_seeds(data, K), n_iters)
    dup = 1 if fixture == "corpus" else 2  # the duplicate seed's id
    assert dup not in [c for c, _ in got]  # it won nothing


def test_sampled_kmeans_centroids_match_sql_lloyd(spark, corpus):
    # the driver-side sample polish rejects null vectors, in both versions
    present = corpus.filter(F.col("embedding").isNotNull())
    seeds = sampled_kmeans_centroids(present, K, n_iters=0)
    got = sorted(
        (r.centroid_id, list(r.cent_vec))
        for r in sampled_kmeans_centroids(present, K, n_iters=2).collect()
    )
    assert got == _sql_lloyd(present, seeds, 2)


@pytest.mark.parametrize("mode", ["seed", "kmeans"])
@pytest.mark.parametrize("fixture", ["corpus", "null_seeded"])
def test_pq_codebook_and_codes_match_sql(spark, request, fixture, mode):
    data = request.getfixturevalue(fixture)
    book = _pq_codebook(data, M, K, DIMS, "vec_id", "embedding", mode)
    assert [(s, c, v) for s, c, v in book] == _sql_codebook(data, mode)
    if mode == "kmeans" and fixture == "corpus":
        per_sub = [sum(1 for s, _, _ in book if s == t) for t in range(M)]
        assert len(set(per_sub)) > 1, per_sub  # ragged
    codes = pq_encode_with_codebook(data, book, M, DIMS, "vec_id", "embedding")
    got = sorted(tuple(r) for r in codes.collect())
    assert got == _sql_encode(spark, data, book)
    assert dict((r[0], r[1:]) for r in got)[6] == (None,) * M  # null embedding
