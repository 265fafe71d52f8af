"""SparkSession factory and testdata table loading.

Local-mode defaults are tuned for the driver harness (local[32], single
JVM); at cluster scale the same plans run unchanged — partitioning and
shuffle sizing are configurable, never hard-coded into operators.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Observation, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at ANY scale factor (region: 5
# rows, nation: 25 rows — fixed-size in TPC-H-like schemas regardless of SF).
ALWAYS_BROADCAST = {"region", "nation"}


def get_spark(app_name: str = "dataingestionplayground_spark", cpus: int | None = None) -> SparkSession:
    """Build the engine's SparkSession.

    AQE on (runtime coalesce + skew-join handling), shuffle partitions
    sized to cores for local mode (a real cluster would size to
    2-3x total cores), UTC session timezone so timestamp semantics match
    the DuckDB correctness oracle, Arrow enabled for every Python-boundary
    crossing.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # let the planner pick shuffled-hash over sort-merge when the
        # per-partition build side fits — skips both sort passes; AQE can
        # also rewrite SMJ->SHJ at runtime below the local-map threshold
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m")
        # generated classes are cached per session; at the default 100
        # entries the curate pass and the near-dup op (about 155 classes
        # together) evict each other's and recompile them every cycle.
        # A static conf: it only takes effect when the session is built.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # testdata events.parquet stores TIMESTAMP(NANOS) which Spark's
        # vectorized reader rejects; read as long and convert (load_table)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ensure_package_on_workers(spark)
    return spark


def ensure_package_on_workers(spark: SparkSession) -> None:
    """Ship this package to executor Python workers (addPyFile zip).

    cloudpickle serializes module-level functions *by reference*, so any
    mapInPandas/pandas_udf stage needs ``dataingestionplayground_spark``
    importable on the workers — true for a cwd==repo local run, false for
    an arbitrary driver session (and for a real cluster, where this zip
    is exactly how the package ships without pip install).
    Idempotent per session.
    """
    import tempfile
    import zipfile

    if getattr(spark, "_dip_pkg_shipped", False):
        return
    pkg_root = os.path.dirname(os.path.abspath(__file__))
    zpath = os.path.join(tempfile.mkdtemp(prefix="dip_pkg_"), "dataingestionplayground_spark.zip")
    with zipfile.ZipFile(zpath, "w") as zf:
        for dirpath, _dirnames, filenames in os.walk(pkg_root):
            for fn in filenames:
                if not fn.endswith(".py"):
                    continue
                full = os.path.join(dirpath, fn)
                rel = os.path.relpath(full, os.path.dirname(pkg_root))
                zf.write(full, rel)
    spark.sparkContext.addPyFile(zpath)
    spark._dip_pkg_shipped = True


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table (columnar parquet scan: Catalyst gets
    predicate pushdown + column pruning for free).

    ``events.ts`` is parquet TIMESTAMP(NANOS); with nanosAsLong it arrives
    as a nano-epoch long — normalize to TimestampType (values are
    microsecond-aligned, so this is lossless and matches what DuckDB reads).
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    if name == "events":
        # runtime-settable; required even on sessions not built by get_spark
        # (e.g. the driver's own session)
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        # naive parquet timestamp[us] (isAdjustedToUTC=false) must read as
        # LTZ with the stored micros treated as UTC — NOT as TIMESTAMP_NTZ,
        # whose later casts would re-interpret the wall clock in the
        # SESSION timezone and diverge from DuckDB's epoch(ts) on any
        # non-UTC session (e.g. the driver's own)
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and isinstance(df.schema["ts"].dataType, T.LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def fan_out_small_scan(df: DataFrame) -> DataFrame:
    """Round-robin repartition for a CPU-heavy stage whose upstream scan
    yielded fewer splits than the session has cores.

    The testdata tables are single-row-group parquet files, so Spark
    cannot split them below one task per file — a tokenize/hash/decode
    stage over such a scan runs near-single-threaded on local[N] (the
    guide's §2.5 unsplittable-input case: "repartition immediately
    after the read"). Scale-adaptive by construction: any real
    warehouse input already scans with >= cores splits, making this a
    no-op (zero extra exchanges at scale); locally it costs one tiny
    exchange of the scan output and buys cores-wide parallelism for
    the expensive stage above it. Values are unaffected — every caller
    feeds order-insensitive aggregations/joins, and Spark's
    sort-before-repartition keeps the row->partition assignment
    deterministic under retries (SPARK-23207).
    """
    spark = df.sparkSession
    cores = spark.sparkContext.defaultParallelism
    # r17 (ADVICE r16 medium): the old width probe, df.rdd
    # .getNumPartitions(), EXECUTES every exchange in the lineage at
    # query-construction time under AQE — pq_encode_with_codebook re-ran
    # its input's fan-out exchange once per call and plan-only tooling
    # (scripts/dump_plans.py) launched real Spark jobs just to build
    # plans. Replaced with a PLAN-ONLY probe: any wide operator in the
    # lineage means the frame is already >= spark.sql.shuffle.partitions
    # (sized to cores) wide post-shuffle, so only a narrow-over-scan
    # lineage can be under-split; for those, the scan's file list and
    # the optimizer's size estimate bound the split count without
    # running anything. A false positive on the node-name probe only
    # ever SKIPS the fan-out (never adds an exchange).
    jqe = df._jdf.queryExecution()
    plan = jqe.analyzed().toString()
    wide_nodes = (
        "Repartition",  # incl. RepartitionByExpression (a prior fan-out)
        "Join",
        "Aggregate",
        "Window",
        "Sort",
        "Deduplicate",
        "LogicalRDD",  # localCheckpoint output: already exchange-shaped
    )
    if any(w in plan for w in wide_nodes):
        return df
    n_files = len(df.inputFiles())
    if n_files >= cores:
        return df
    # few big SPLITTABLE files still scan wide: bound splits from the
    # optimizer's size estimate at the default 128 MB split size
    size = jqe.optimizedPlan().stats().sizeInBytes()
    if not isinstance(size, int):  # py4j may hand back scala BigInt
        size = int(size.toString())
    est_splits = max(n_files, size >> 27)
    if est_splits >= cores:
        return df
    return df.repartition(cores)


def run_observed(df: DataFrame, *metrics) -> dict:
    """Run ``df`` once and return the aggregate ``metrics`` observed over
    its rows, as ``{alias: value}``.

    The action is a ``noop`` write of ``df.observe(...)``: one job on a
    shuffle-free frame, where an ``agg(...).collect()`` adds a shuffle
    and a second job. The metrics sit in the result stage, so a retried
    task's partition is counted once. Over no rows, a count is 0 and
    most other aggregates are None.
    """
    obs = Observation()
    df.observe(obs, *metrics).write.format("noop").mode("overwrite").save()
    return obs.get


def materialize(df: DataFrame) -> tuple[DataFrame, int]:
    """Cache ``df`` and count its rows in the one job that fills the
    cache; returns ``(cached_df, rows)``.

    The cache is built directly: one ``count()`` over the cache
    builder's column buffers, not a query over the cached frame. So a
    stage costs exactly the jobs of its own plan (its shuffle map stages
    plus one), as ``localCheckpoint(eager=True)`` does, and a later query
    finds the cache loaded and starts no job to build it. The row count
    is the builder's ``rowCountStats``, an accumulator its tasks add to
    as they store each partition, so each partition counts once; a cache
    already loaded under another frame with the same plan is read, not
    rebuilt, and keeps the count of its build.

    ``persist()`` keeps the lineage, so a lost block is recomputed. The
    caller unpersists the returned frame; if the action fails, the frame
    is unpersisted here.
    """
    df = df.persist()
    try:
        cached = df.sparkSession._jsparkSession.sharedState().cacheManager().lookupCachedData(df._jdf)
        builder = cached.get().cachedRepresentation().cacheBuilder()
        buffers = builder.cachedColumnBuffers()
        # a zero-partition frame has nothing to fill, and like
        # localCheckpoint starts no job
        if buffers.getNumPartitions():
            buffers.count()
        rows = builder.rowCountStats().value()
    except BaseException:
        df.unpersist()
        raise
    return df, rows


def register_views(spark: SparkSession, sf_dir: str, tables=TABLES) -> None:
    """Register testdata tables as temp views for the SQL front-end."""
    for name in tables:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
