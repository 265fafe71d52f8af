"""session.materialize and session.run_observed: aggregates over a
frame taken in the one action that runs it, and a cache built in the
job that computes it."""

from __future__ import annotations

import threading

from pyspark.sql import functions as F

from dataingestionplayground_spark.operators.graph import _release_local_checkpoint
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


def _local_checkpoint_jobs(spark, group, df) -> int:
    """Jobs ``localCheckpoint(eager=True)`` starts on ``df``; its blocks
    are freed at once."""
    cp, n_jobs = _in_group(spark, group, lambda: df.localCheckpoint(eager=True))
    _release_local_checkpoint(cp)
    return n_jobs


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
        # zero partitions: no task ever reports a count
        spark.createDataFrame(spark.sparkContext.emptyRDD(), "a int"),
    ]
    for i, df in enumerate(frames):
        got = []

        def run(d=df, g=f"test-materialize-empty-{i}"):
            lc_jobs = _local_checkpoint_jobs(spark, g + "-lc", d)
            got.append((_in_group(spark, g, lambda: materialize(d)), lc_jobs))

        t = threading.Thread(target=run, daemon=True)
        t.start()
        t.join(timeout=120)
        assert not t.is_alive(), "materialize hung on an empty frame"
        ((cached, rows), n_jobs), lc_jobs = got[0]
        cached.unpersist()
        assert rows == df.count() == 0
        assert n_jobs == lc_jobs


def _shuffled(spark, mod=7):
    return spark.range(1000).groupBy((F.col("id") % mod).alias("k")).agg(F.count("*").alias("n"))


def test_materialize_costs_the_jobs_of_local_checkpoint(spark):
    # a shuffled frame: the exchange's map stage, then one job that fills
    # the cache and counts it (3 when a query built the cache and a noop
    # write read it back)
    df = _shuffled(spark, 5)
    lc_jobs = _local_checkpoint_jobs(spark, "test-materialize-lc", df)
    (cached, rows), n_jobs = _in_group(spark, "test-materialize-shuffled", lambda: materialize(df))
    try:
        assert n_jobs == lc_jobs == 2
        assert rows == df.count() == 5
        # a filter over a materialized frame reads the cache in one job
        narrow = cached.filter("k > 0")
        lc_jobs = _local_checkpoint_jobs(spark, "test-materialize-lc-over", narrow)
        (over, over_rows), n_jobs = _in_group(spark, "test-materialize-over", lambda: materialize(narrow))
        try:
            assert n_jobs == lc_jobs == 1
            assert over_rows == narrow.count() == 4
        finally:
            over.unpersist()
    finally:
        cached.unpersist()


def test_materialize_counts_a_frame_with_an_exchange(spark):
    df = _shuffled(spark)
    cached, rows = materialize(df)
    try:
        assert rows == df.count() == 7
        assert cached.is_cached and _cache_loaded(spark, cached)
        # an in-memory relation over the plan, lineage kept; not a
        # checkpoint's LogicalRDD
        qe = cached._jdf.queryExecution()
        assert qe.withCachedData().getClass().getSimpleName() == "InMemoryRelation"
        assert qe.analyzed().getClass().getSimpleName() != "LogicalRDD"
        # the read finds the cache loaded: its one job is the result, with
        # no job before it to build the cache
        out, n_jobs = _in_group(spark, "test-materialize-read", lambda: cached.collect())
        assert n_jobs == 1
        assert sorted(r.n for r in out) == [142] + [143] * 6
    finally:
        cached.unpersist()


def test_materialize_counts_over_cached_inputs(spark):
    # a cached input not yet loaded: its cache fills in the same run, and
    # the count is the frame's own. Each side gets its own input, so
    # neither finds the other's cache loaded.
    def over_cached_input(n):
        base = spark.range(n).withColumn("g", F.col("id") % 13).persist()
        return base, base.groupBy("g").agg(F.sum("id").alias("s"))

    lc_base, lc_df = over_cached_input(500)
    base, df = over_cached_input(501)
    try:
        lc_jobs = _local_checkpoint_jobs(spark, "test-materialize-lc-cached-input", lc_df)
        (cached, rows), n_jobs = _in_group(spark, "test-materialize-cached-input", lambda: materialize(df))
        try:
            assert n_jobs == lc_jobs
            assert rows == df.count() == 13
            assert _cache_loaded(spark, base)
        finally:
            cached.unpersist()
    finally:
        lc_base.unpersist()
        base.unpersist()
    # the same plan already cached and loaded under another frame: the
    # cache is read, not rebuilt, and its count stays the frame's
    other = _shuffled(spark, 17).persist()
    try:
        assert other.count() == 17
        df = _shuffled(spark, 17)
        lc_jobs = _local_checkpoint_jobs(spark, "test-materialize-lc-cached-plan", df)
        (cached, rows), n_jobs = _in_group(spark, "test-materialize-cached-plan", lambda: materialize(df))
        assert n_jobs == lc_jobs == 1
        assert rows == df.count() == 17
    finally:
        other.unpersist()


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
