"""operators.graph.label_clusters: one exchange over the union of the
frame's ids and the component labels, checked against the left join it
replaced."""

from __future__ import annotations

from pyspark.sql import functions as F

from dataingestionplayground_spark.operators.graph import (
    _release_local_checkpoint,
    connected_components,
    label_clusters,
)


def _reference(df, comp, id_col):
    """The left-join form: every ``df`` row joined to its component,
    ids without one labelled with themselves."""
    return (
        df.select(F.col(id_col).alias("id"))
        .join(comp, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce(F.col("component"), F.col("id")).alias("cluster_id"),
        )
        .withColumn("is_kept", F.col(id_col) == F.col("cluster_id"))
    )


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _check(df, comp, id_col):
    got = label_clusters(df, comp, id_col)
    want = _reference(df, comp, id_col)
    assert got.schema.simpleString() == want.schema.simpleString()
    assert _rows(got) == _rows(want)
    return got


def test_label_clusters_matches_the_left_join_on_long_ids(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (500, 501)], "id_a long, id_b long"
    )
    comp = connected_components(pairs)
    # duplicate ids (2, 10), null ids, a singleton (99); the 500-501
    # component is absent from the frame
    df = spark.createDataFrame(
        [(i,) for i in [1, 2, 2, 3, 4, 10, 10, 11, 99, None, None]], "doc_id long"
    )
    got = {}
    for r in _check(df, comp, "doc_id").collect():
        got.setdefault(r.doc_id, []).append((r.cluster_id, r.is_kept))
    assert got[2] == [(1, False)] * 2 and got[10] == [(10, True)] * 2
    assert got[None] == [(None, None)] * 2
    assert got[99] == [(99, True)]
    assert 500 not in got and 501 not in got
    _release_local_checkpoint(comp)


def test_label_clusters_matches_the_left_join_on_string_ids(spark):
    pairs = spark.createDataFrame(
        [("b", "c"), ("a", "b"), ("x", "y"), ("zz", "zy")], "id_a string, id_b string"
    )
    comp = connected_components(pairs)
    df = spark.createDataFrame(
        [(i,) for i in ["a", "b", "c", "c", "x", "y", "q", None]], "doc_id string"
    )
    got = {r.doc_id: (r.cluster_id, r.is_kept) for r in _check(df, comp, "doc_id").collect()}
    assert got["c"] == ("a", False) and got["q"] == ("q", True)
    assert got[None] == (None, None) and "zy" not in got
    _release_local_checkpoint(comp)


def test_label_clusters_keeps_a_narrower_id_type(spark):
    # int ids against long component labels: the id column keeps its
    # type, the cluster id widens as the join's coalesce did
    pairs = spark.createDataFrame([(1, 2), (5, 6)], "id_a long, id_b long")
    comp = connected_components(pairs)
    df = spark.createDataFrame([(i,) for i in [1, 2, 3, 6, None]], "doc_id int")
    got = _check(df, comp, "doc_id")
    assert got.schema["doc_id"].dataType.simpleString() == "int"
    assert got.schema["cluster_id"].dataType.simpleString() == "bigint"
    _release_local_checkpoint(comp)


# Jobs the kept-row count below starts, counted with getJobIdsForGroup in
# this test's session (local[8], AQE on): 3 with one exchange over the
# union (its map stage, the count's map stage, the result); 5 when the
# label was a left join exchanging both sides.
LABEL_COUNT_JOB_BOUND = 3


def test_label_clusters_kept_count_job_bound(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (50, 51)], "id_a long, id_b long"
    )
    comp = connected_components(pairs)
    df = spark.range(200).select(F.col("id").alias("doc_id"))
    sc = spark.sparkContext
    group = "test-label-clusters-jobs"
    sc.setJobGroup(group, group)
    try:
        kept = label_clusters(df, comp, "doc_id").filter("is_kept").count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    _release_local_checkpoint(comp)
    assert kept == 200 - 5
    assert 0 < n_jobs <= LABEL_COUNT_JOB_BOUND, n_jobs
