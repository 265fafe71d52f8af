"""session.materialize and session.run_observed: aggregates over a
frame taken in the one action that runs it."""

from __future__ import annotations

import threading

from pyspark.sql import functions as F

from dataingestionplayground_spark.session import materialize, run_observed


def _in_group(spark, group, fn):
    """(fn(), jobs fn started), counted with getJobIdsForGroup."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _cache_loaded(spark, df) -> bool:
    cached = spark._jsparkSession.sharedState().cacheManager().lookupCachedData(df._jdf)
    return cached.isDefined() and cached.get().cachedRepresentation().cacheBuilder().isCachedColumnBuffersLoaded()


def test_materialize_caches_and_counts_a_narrow_frame_in_one_job(spark):
    df = spark.range(1000).withColumn("x", F.col("id") * 2).filter("id % 3 = 0")
    (cached, rows), n_jobs = _in_group(spark, "test-materialize-narrow", lambda: materialize(df))
    try:
        assert n_jobs == 1
        assert rows == df.count() == 334
        assert cached.is_cached and _cache_loaded(spark, cached)
    finally:
        cached.unpersist()


def test_materialize_empty_frames_count_zero(spark):
    frames = [
        spark.range(10).filter("id < 0"),
        # zero partitions: no task ever reports the observed count
        spark.createDataFrame(spark.sparkContext.emptyRDD(), "a int"),
    ]
    for df in frames:
        got = []
        t = threading.Thread(target=lambda d=df: got.append(materialize(d)), daemon=True)
        t.start()
        t.join(timeout=120)
        assert not t.is_alive(), "materialize hung on an empty frame"
        cached, rows = got[0]
        cached.unpersist()
        assert rows == 0


def test_materialize_counts_a_frame_with_an_exchange(spark):
    df = spark.range(1000).groupBy((F.col("id") % 7).alias("k")).agg(F.count("*").alias("n"))
    cached, rows = materialize(df)
    try:
        assert rows == df.count() == 7
        assert cached.is_cached and _cache_loaded(spark, cached)
        assert sorted(r.n for r in cached.collect()) == [142] + [143] * 6
    finally:
        cached.unpersist()


def test_run_observed_matches_an_aggregate_in_one_job(spark):
    df = spark.range(1001).select(
        F.when(F.col("id") % 10 == 0, None).otherwise(F.col("id") * 7919 % 1000).alias("x")
    )
    metrics = [
        F.expr("percentile(x, 0.37)").alias("q"),
        F.sum("x").alias("s"),
        F.count(F.lit(1)).alias("rows"),
    ]
    got, n_jobs = _in_group(spark, "test-run-observed", lambda: run_observed(df, *metrics))
    assert n_jobs == 1
    assert got == df.agg(*metrics).first().asDict()
    assert run_observed(df.filter("x < 0"), *metrics) == {"q": None, "s": None, "rows": 0}
