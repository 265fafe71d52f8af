"""Incremental materialized aggregates: refresh only the partitions
whose inputs changed, never recompute the world.

The 100 TB pattern: a day-partitioned aggregate table downstream of an
event stream. A full rebuild scans everything; the incremental refresh
scans ONLY the changed days' events and overwrites ONLY those partition
directories (dynamic partition overwrite, set as a writer option by
:func:`_overwrite_partitions`), leaving every other partition
byte-identical. Correctness contract: refresh(changed_days) after new
data == full rebuild (tested).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _overwrite_partitions(df: DataFrame, path: str, column: str) -> None:
    """Write ``df`` into the table at ``path`` partitioned by ``column``,
    replacing ONLY the partitions present in ``df``: dynamic partition
    overwrite, set on the writer so the session conf is never changed.
    Every maintained table here (and every per-epoch log) is rewritten
    through this one primitive, so a retried batch rewrites exactly its
    own partitions."""
    df.write.mode("overwrite").option("partitionOverwriteMode", "dynamic").partitionBy(
        column
    ).parquet(path)


def daily_event_rollup(events: DataFrame) -> DataFrame:
    """The materialized aggregate: per (day, event_type) counts and
    decimal-routed value sums — partitioned by day on disk."""
    return (
        events.withColumn("day", F.to_date("ts"))
        .groupBy("day", "event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias("total_value"),
        )
    )


def build_rollup(events: DataFrame, path: str) -> None:
    """Initial full build, day-partitioned."""
    daily_event_rollup(events).write.mode("overwrite").partitionBy("day").parquet(path)


def refresh_rollup(
    spark: SparkSession, events: DataFrame, path: str, changed_days: Sequence[str]
) -> int:
    """Incremental refresh: recompute ONLY ``changed_days`` (scanning
    only their events — the day filter pushes to the scan) and
    dynamically overwrite just those partition directories. Returns the
    number of partition directories rewritten.
    """
    if not changed_days:
        return 0
    days = [str(d) for d in changed_days]
    fresh = daily_event_rollup(
        events.filter(F.to_date("ts").isin(days))
    ).filter(F.col("day").isin(days))
    _overwrite_partitions(fresh, path, "day")
    return len(days)


# ------------------------------------------- sketch-backed distinct rollup

# Counts and sums re-aggregate across partitions for free, but DISTINCT
# counts do NOT (union of per-day distincts != sum of per-day distincts)
# — the classic reason "daily uniques" tables can't answer weekly/monthly
# uniques. Theta sketches fix exactly this: a per-(day, type) sketch
# column merges associatively, so any day-range / any type-subset
# distinct-user question is one theta_union_agg over the rollup — no
# raw-event rescan, ever. Incremental maintenance is the same dynamic
# partition overwrite as the exact rollup above.

_THETA_LG_K = 14  # exact below 2^14 distinct keys per (day, type) cell


def daily_distinct_sketch_rollup(events: DataFrame) -> DataFrame:
    """Per (day, event_type) theta sketch of user_id (binary column)."""
    return (
        events.withColumn("day", F.to_date("ts"))
        .groupBy("day", "event_type")
        .agg(F.expr(f"theta_sketch_agg(user_id, {_THETA_LG_K})").alias("user_sketch"))
    )


def build_distinct_rollup(events: DataFrame, path: str) -> None:
    daily_distinct_sketch_rollup(events).write.mode("overwrite").partitionBy(
        "day"
    ).parquet(path)


def refresh_distinct_rollup(
    spark: SparkSession, events: DataFrame, path: str, changed_days: Sequence[str]
) -> int:
    """Recompute only ``changed_days``' sketches (day filter pushes to
    the event scan) and dynamically overwrite those partitions."""
    if not changed_days:
        return 0
    days = [str(d) for d in changed_days]
    fresh = daily_distinct_sketch_rollup(
        events.filter(F.to_date("ts").isin(days))
    ).filter(F.col("day").isin(days))
    _overwrite_partitions(fresh, path, "day")
    return len(days)


_TOPK_MAX_ITEMS = 10000


def daily_topk_sketch_rollup(events: DataFrame) -> DataFrame:
    """Per-day ApproxTopK accumulator of user_id (struct column with the
    sketch binary) — the heavy-hitter companion of the distinct rollup:
    per-day exact top-k lists cannot answer "top users over March"
    (a user just below k every day can be #1 for the month), but the
    accumulators combine."""
    return (
        events.withColumn("day", F.to_date("ts"))
        .groupBy("day")
        .agg(
            F.expr(f"approx_top_k_accumulate(user_id, {_TOPK_MAX_ITEMS})").alias(
                "topk_sketch"
            )
        )
    )


def build_topk_rollup(events: DataFrame, path: str) -> None:
    daily_topk_sketch_rollup(events).write.mode("overwrite").partitionBy(
        "day"
    ).parquet(path)


def refresh_topk_rollup(
    spark: SparkSession, events: DataFrame, path: str, changed_days: Sequence[str]
) -> int:
    """Recompute only ``changed_days`` from their raw events and
    dynamically overwrite those partitions. NOTE the contrast with the
    theta rollup's union maintenance: ApproxTopK combine SUMS counts, so
    re-merging a replayed batch would double them — day-recompute is the
    idempotent maintenance path for frequency sketches."""
    if not changed_days:
        return 0
    days = [str(d) for d in changed_days]
    fresh = daily_topk_sketch_rollup(
        events.filter(F.to_date("ts").isin(days))
    ).filter(F.col("day").isin(days))
    _overwrite_partitions(fresh, path, "day")
    return len(days)


def top_users_over(
    spark: SparkSession, path: str, day_from: str, day_to: str, k: int = 10
) -> list[tuple[int, int]]:
    """Top-k users by event count over [day_from, day_to], answered from
    the rollup alone: partition-pruned scan, one associative combine,
    one estimate call. Returns [(user_id, est_count)] ranked
    deterministically (count desc, user_id asc); counts are exact while
    distinct users fit in the accumulators' maxItemsTracked."""
    rollup = spark.read.parquet(path).filter(
        (F.col("day") >= F.lit(day_from)) & (F.col("day") <= F.lit(day_to))
    )
    # ApproxTopKCombine throws (MatchError on the null sketch row) over
    # an empty input — an empty pruned range is a cheap check, not an
    # error (the theta path handles this with its `or 0` coalesce)
    if rollup.isEmpty():
        return []
    rows = rollup.agg(
        F.expr(
            f"approx_top_k_estimate(approx_top_k_combine(topk_sketch, {_TOPK_MAX_ITEMS}), {k})"
        ).alias("top")
    ).collect()
    if not rows or rows[0]["top"] is None:
        return []
    items = [(int(s["item"]), int(s["count"])) for s in rows[0]["top"]]
    return sorted(items, key=lambda t: (-t[1], t[0]))[:k]


def merge_topk_rollup(
    spark: SparkSession, batch: DataFrame, path: str, epoch_id: int
) -> int:
    """Epoch-keyed streaming maintenance for the FREQUENCY rollup
    (r8 verdict item 6).

    The theta rollup's union maintenance is replay-idempotent because a
    theta sketch is a SET summary; ApproxTopK accumulators instead SUM
    counts on combine, so blindly folding a re-delivered micro-batch
    would double-count it. Exactly-once here comes from EPOCH-KEYED
    STAGING: each day partition holds one accumulator row per
    micro-batch epoch, and merging epoch E first drops any rows already
    tagged E in the affected days, then writes the fresh ones — so a
    foreachBatch retry of the same epoch converges to the identical
    table instead of re-adding counts. Query-time combine across the
    epoch rows is the same associative ``approx_top_k_combine`` (each
    event is counted exactly once across DISTINCT epochs), so
    :func:`top_users_over` works unchanged. Maintenance cost is
    O(batch) + a partition-pruned read-back of the affected days'
    accumulator rows (epochs x days rows, never raw events). Rows
    accumulate one per epoch per day — fold them down with
    :func:`compact_topk_rollup` once their epochs are committed.

    Base rows from :func:`build_topk_rollup` (no epoch column) read as
    epoch NULL and are never replaced — seeding the table with a batch
    build then maintaining it with the stream composes.
    Returns the number of day partitions touched."""
    import os

    fresh = daily_topk_sketch_rollup(batch).withColumn(
        "epoch_id", F.lit(int(epoch_id)).cast("long")
    )
    days = [str(r["day"]) for r in fresh.select("day").distinct().collect()]
    if not days:
        return 0
    if os.path.isdir(path) and any(e.startswith("day=") for e in os.listdir(path)):
        existing = (
            spark.read.option("mergeSchema", "true")
            .parquet(path)
            .filter(F.col("day").isin(days))
        )
        if "epoch_id" not in existing.columns:
            existing = existing.withColumn("epoch_id", F.lit(None).cast("long"))
        kept = existing.filter(
            F.col("epoch_id").isNull() | (F.col("epoch_id") != int(epoch_id))
        ).select("day", "topk_sketch", "epoch_id")
        # sever lineage from the path we dynamically overwrite (same
        # discipline as compact_topk_rollup — r9 ADVICE: relying on
        # staged-overwrite semantics while reading live from `path` is
        # fragile to mode/engine changes)
        merged = kept.unionByName(fresh).localCheckpoint(eager=True)
    else:
        merged = fresh
    _overwrite_partitions(merged, path, "day")
    return len(days)


def compact_topk_rollup(spark: SparkSession, path: str) -> int:
    """Fold each day's per-epoch accumulator rows into a single
    epoch-NULL row via the associative combine. Run this only AFTER the
    maintaining stream's checkpoint has committed the folded epochs: a
    replay of an epoch that was compacted away can no longer find its
    staging row to replace and would re-add counts. (foreachBatch with
    availableNow commits every epoch before the query terminates, so
    compacting between runs is safe.) Returns day partitions rewritten."""
    rollup = spark.read.option("mergeSchema", "true").parquet(path)
    merged = (
        rollup.groupBy("day")
        .agg(
            F.expr(
                f"approx_top_k_combine(topk_sketch, {_TOPK_MAX_ITEMS})"
            ).alias("topk_sketch")
        )
        .withColumn("epoch_id", F.lit(None).cast("long"))
        .localCheckpoint(eager=True)  # sever lineage from the path we rewrite
    )
    n = merged.count()
    _overwrite_partitions(merged, path, "day")
    return n


def merge_distinct_rollup(spark: SparkSession, batch: DataFrame, path: str) -> int:
    """Fold a bounded batch of events INTO the stored rollup by sketch
    union — no raw-event rescan of the affected days.

    This is the streaming-native maintenance path (vs
    :func:`refresh_distinct_rollup`, which recomputes a day from all of
    its raw events): existing day-partitions for the batch's days are
    read back (partition-pruned), outer-merged with the batch's
    sketches via ``theta_union``, and dynamically overwritten. Because
    a theta sketch is a SET summary, re-merging the same events is a
    no-op — foreachBatch retries are idempotent for free, with no
    dedup bookkeeping. Returns the number of day partitions touched.
    """
    import os

    fresh = daily_distinct_sketch_rollup(batch)
    days = [str(r["day"]) for r in fresh.select("day").distinct().collect()]
    if not days:
        return 0
    if os.path.isdir(path) and any(
        e.startswith("day=") for e in os.listdir(path)
    ):
        existing = spark.read.parquet(path).filter(F.col("day").isin(days))
        merged = (
            fresh.alias("f")
            .join(existing.alias("e"), ["day", "event_type"], "full_outer")
            .select(
                "day",
                "event_type",
                F.when(
                    F.col("f.user_sketch").isNotNull()
                    & F.col("e.user_sketch").isNotNull(),
                    F.expr("theta_union(f.user_sketch, e.user_sketch)"),
                )
                .otherwise(F.coalesce("f.user_sketch", "e.user_sketch"))
                .alias("user_sketch"),
            )
            # sever lineage from the path we dynamically overwrite
            # (same discipline as compact_topk_rollup — r9 ADVICE)
            .localCheckpoint(eager=True)
        )
    else:
        merged = fresh
    _overwrite_partitions(merged, path, "day")
    return len(days)


def distinct_users_over(
    spark: SparkSession,
    path: str,
    day_from: str,
    day_to: str,
    event_types: Sequence[str] | None = None,
) -> int:
    """Distinct users in [day_from, day_to] (optionally restricted to
    ``event_types``) answered FROM THE ROLLUP ALONE: partition pruning
    keeps the scan to the requested days, then one associative
    theta_union_agg merge. Cost is O(days x types) sketch rows at any
    event volume."""
    rollup = spark.read.parquet(path).filter(
        (F.col("day") >= F.lit(day_from)) & (F.col("day") <= F.lit(day_to))
    )
    if event_types is not None:
        rollup = rollup.filter(F.col("event_type").isin(list(event_types)))
    row = rollup.agg(
        F.expr("theta_sketch_estimate(theta_union_agg(user_sketch))").alias("n")
    ).collect()[0]
    return int(row["n"] or 0)


# ------------------------------------------- key-bucketed upsert (MERGE)

# The table-maintenance counterpart of the rollup refreshes above: keep a
# BASE table (not an aggregate) up to date under upserts and deletes
# without a table format. Layout convention: hash-bucket the key into a
# partition column, so a MERGE batch touches (reads AND rewrites) only
# the bucket directories its keys land in — partition pruning on the
# read, dynamic partition overwrite on the write, every other bucket
# byte-identical. This is Delta/Iceberg MERGE INTO re-expressed as plain
# Spark + a layout convention; at 100 TB raise n_buckets so a bucket is
# a few GB and a small MERGE batch rewrites a small fraction of the
# table.

UPSERT_BUCKETS = 32


def _with_bucket(df: DataFrame, key: str, n_buckets: int) -> DataFrame:
    return df.withColumn(
        "bucket", F.pmod(F.xxhash64(F.col(key)), F.lit(n_buckets)).cast("int")
    )


def build_keyed_table(
    df: DataFrame, path: str, key: str, n_buckets: int = UPSERT_BUCKETS
) -> None:
    """Initial build: hash-bucketed by ``key`` into ``n_buckets``
    partition directories."""
    _with_bucket(df, key, n_buckets).write.mode("overwrite").partitionBy(
        "bucket"
    ).parquet(path)


def merge_upsert(
    spark: SparkSession,
    updates: DataFrame,
    path: str,
    key: str,
    n_buckets: int = UPSERT_BUCKETS,
    delete_col: str | None = None,
) -> int:
    """MERGE ``updates`` into the keyed table at ``path``: matching keys
    are replaced, new keys inserted, and rows with ``delete_col`` true
    removed. Returns the number of bucket directories rewritten.

    Only the buckets containing update keys are scanned (the bucket
    IN-list prunes partitions) and rewritten (dynamic partition
    overwrite). The update-key anti-join broadcasts the batch's keys —
    MERGE batches are small relative to the base by design; for a
    batch too large to broadcast, drop the hint: both sides already
    share the bucket column, so the join co-partitions.

    A bucket whose rows are ALL deleted still gets rewritten (as an
    empty-but-readable partition) rather than left stale — the same
    emptied-partition hazard ``refresh_ivf_index`` guards against.
    """
    import os

    if not os.path.isdir(path):
        # first batch bootstraps the table (deletes of nonexistent keys
        # are no-ops by definition)
        first = updates
        if delete_col is not None:
            first = first.filter(
                ~F.coalesce(F.col(delete_col), F.lit(False))
            ).drop(delete_col)
        build_keyed_table(first, path, key, n_buckets)
        return n_buckets
    up = _with_bucket(updates, key, n_buckets)
    touched = sorted(
        r.bucket for r in up.select("bucket").distinct().collect()
    )  # bounded by n_buckets — never data-sized
    if not touched:
        return 0
    base = spark.read.parquet(path).filter(F.col("bucket").isin(touched))
    keys = up.select(key).distinct()
    survivors = base.join(F.broadcast(keys), key, "left_anti")
    if delete_col is not None:
        up = up.filter(~F.coalesce(F.col(delete_col), F.lit(False))).drop(delete_col)
    # materialize BEFORE overwriting: the survivors plan reads the very
    # files the dynamic overwrite is about to replace — writing lazily
    # would read-through deleted inputs (FAILED_READ_FILE). The merged
    # set is touched-buckets-sized, not table-sized.
    merged = survivors.unionByName(up.select(*survivors.columns)).localCheckpoint(
        eager=True
    )

    _overwrite_partitions(merged, path, "bucket")
    # dynamic overwrite only replaces partitions PRESENT in the output:
    # a bucket emptied by deletes would keep its stale directory.
    # Overwrite those explicitly with a 0-row file so readers see the
    # deletion (and the dir stays schema-readable).
    present = {r.bucket for r in merged.select("bucket").distinct().collect()}
    for b in touched:
        if b not in present:
            merged.drop("bucket").limit(0).write.mode("overwrite").parquet(
                f"{path}/bucket={b}"
            )
    return len(touched)


def read_keyed_table(spark: SparkSession, path: str) -> DataFrame:
    """Read the keyed table back (bucket column dropped)."""
    return spark.read.parquet(path).drop("bucket")


# ------------------------------------------- incremental inverted index

# The retrieval-infra member of the maintained-artifact family: posting
# lists are SET summaries (term -> set of doc ids), so like the theta
# rollup — and unlike the frequency rollup — merge maintenance is
# replay-idempotent for free: unioning the same doc ids twice is a
# no-op. The table is partitioned by a 64-way term-hash bucket so a
# batch touches (and a term lookup reads) only its buckets' files.

_IDX_BUCKETS = 64


def _term_postings(docs: DataFrame) -> DataFrame:
    """(term, bucket, postings array<long>) from a bounded (doc_id,
    text) frame: per-doc DISTINCT lowercased terms (len >= 3) in-row
    before the explode, one hash agg. Matches the tokenization of the
    oracle-checked ``text_inverted_index`` query exactly."""
    from dataingestionplayground_spark.functions import text as TX

    toks = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.expr(f"filter(split(lower(text), '{TX.WS}'), x -> x != '')")
            )
        ).alias("term"),
    ).filter(F.length("term") >= 3)
    return toks.groupBy("term").agg(
        F.array_sort(F.collect_set("doc_id")).alias("postings")
    ).withColumn(
        "bucket",
        F.expr(
            f"cast(conv(substring(md5(term), 1, 8), 16, 10) as bigint)"
            f" % {_IDX_BUCKETS}"
        ),
    )


def merge_inverted_index(spark: SparkSession, docs_batch: DataFrame, path: str) -> int:
    """Fold a bounded batch of (doc_id, text) documents into the stored
    inverted index: per-term posting arrays union with the existing
    lists (read back partition-pruned to the batch's buckets only) and
    the touched bucket partitions are dynamically overwritten.
    Replay-idempotent by set semantics — re-unioning the same documents
    changes nothing, the same free exactly-once the theta rollup gets.
    Returns the number of bucket partitions touched."""
    import os

    fresh = _term_postings(docs_batch)
    buckets = [int(r["bucket"]) for r in fresh.select("bucket").distinct().collect()]
    if not buckets:
        return 0
    if os.path.isdir(path) and any(
        e.startswith("bucket=") for e in os.listdir(path)
    ):
        existing = spark.read.parquet(path).filter(F.col("bucket").isin(buckets))
        merged = (
            fresh.alias("f")
            .join(existing.alias("e"), ["term", "bucket"], "full_outer")
            .select(
                "term",
                "bucket",
                F.array_sort(
                    F.array_distinct(
                        F.array_union(
                            F.coalesce(
                                F.col("f.postings"),
                                F.expr("cast(array() as array<bigint>)"),
                            ),
                            F.coalesce(
                                F.col("e.postings"),
                                F.expr("cast(array() as array<bigint>)"),
                            ),
                        )
                    )
                ).alias("postings"),
            )
        )
        # sever lineage from the path we dynamically overwrite (same
        # discipline as compact_topk_rollup — r9 ADVICE)
        merged = merged.localCheckpoint(eager=True)
    else:
        merged = fresh.select("term", "bucket", "postings")
    _overwrite_partitions(merged, path, "bucket")
    return len(buckets)


def inverted_lookup(
    spark: SparkSession, path: str, terms: Sequence[str]
) -> DataFrame:
    """Posting lists for ``terms`` off the maintained index: the term
    set's buckets are computed driver-side, so the scan carries a
    LITERAL bucket filter — static parquet partition pruning, never a
    full-index read. Returns (term, df, postings)."""
    import hashlib

    lows = sorted({t.lower() for t in terms})
    buckets = sorted(
        {
            int(hashlib.md5(t.encode()).hexdigest()[:8], 16) % _IDX_BUCKETS
            for t in lows
        }
    )
    idx = spark.read.parquet(path).filter(F.col("bucket").isin(buckets))
    return (
        idx.filter(F.col("term").isin(lows))
        .select(
            "term",
            F.size("postings").cast("long").alias("df"),
            "postings",
        )
    )


# ------------------------------------------- incremental SCD2 dimension

_SCD2_BUCKETS = 64


def merge_scd2_dimension(
    spark: SparkSession,
    events_batch: DataFrame,
    path: str,
    max_lateness_s: int | None = None,
) -> int:
    """Fold a bounded batch of status observations (event_id, ts,
    user_id, event_type) into a stored SCD2 dimension table — the
    warehouse MERGE that keeps ``events_scd2_history`` semantics
    without a full-history recompute.

    Maintained state is the SET of ALL observations (user_id, status,
    valid_from, event_id) — change rows AND same-status repeats — with
    the derived SCD2 columns (is_change, valid_to, version, is_current)
    recomputed per write from that set. Storing only change rows (the
    r10 design) silently diverged from a full-history rebuild under
    late data: a discarded same-status repeat (view@t1, view@t2 → only
    view@t1 kept) must RE-OPEN a version when a late intervening change
    (click@t1.5) arrives, but a change-row-only store can no longer see
    it (ADVICE r10, medium). Per batch:

    1. read ONLY the user-hash bucket partitions the batch touches
       (partition-pruned — a batch never pays for the dimension's full
       width);
    2. union the stored observations with the batch's and
       dropDuplicates on (user, valid_from, event_id), so a replayed
       observation collapses into the row it already created before
       ordering ever sees the tie;
    3. re-run change-point detection per user over (valid_from,
       event_id) order and re-derive is_change/valid_to/version/
       is_current; non-change observations persist with
       ``is_change = false`` and null derived columns (the reader
       filters them out).

    Step 3 makes the result a pure function of the observation SET, so
    the ledger entry is "keyed union + deterministic canonicalization":
    replays converge bit-identically (exactly-once without epoch
    bookkeeping), and LATE data is CORRECT in full generality — the
    recompute sees every observation a full rebuild would, so any late
    row splices in identically (plain append-style SCD2 merges get
    this wrong; so did the change-rows-only store). Cost stays
    bounded: recompute touches only affected buckets; state grows with
    observations rather than change rows, which is the price of exact
    late-data parity — per-user observation counts still stay far
    below any skewed-reducer threshold because the window key
    (user_id) scales with the data.

    ``max_lateness_s`` bounds that state growth (ADVICE r11): with a
    lateness horizon set, (a) incoming observations older than the
    bucket's STORED watermark minus ``max_lateness_s`` are REJECTED
    explicitly (counted and logged — silent history loss during a
    backfill is detectable), and (b) retained non-change observations
    older than the post-merge horizon are COMPACTED away — safe
    because the only reason repeats are retained is to re-open a
    version when a late INTERVENING change arrives, and any such row
    older than the horizon is now rejected before it can splice. The
    rejection watermark comes from stored state ONLY (Spark-streaming
    style, ADVICE r12): a batch is never judged against its own max,
    so a single backfill batch wider than the lateness window keeps
    all its rows exactly like a full rebuild, and first contact with a
    bucket rejects nothing. The watermark is PER BUCKET: the row
    achieving a bucket's max is always retained, so the bucket
    watermark is monotone across merges without any side state — a
    merge-global watermark would let one bucket's recent data compact
    another's repeats against a horizon a later single-bucket merge no
    longer enforces (r12 review), and the next merge's stored-only
    rejection horizon is always >= this merge's compaction horizon. Change rows are never compacted (they ARE the
    dimension); dropping a repeat never flips a later row's is_change,
    since a repeat carries the same status value its preceding change
    row does. ``None`` (default) keeps the retain-everything exact
    semantics.

    Returns the number of bucket partitions touched.
    """
    import os

    from pyspark.sql import Window as W

    from dataingestionplayground_spark.functions import portable as PF

    obs = events_batch.select(
        "user_id",
        F.col("event_type").alias("status"),
        F.floor(PF.epoch_seconds("ts")).cast("long").alias("valid_from"),
        "event_id",
    ).withColumn(
        "bucket",
        F.expr(
            f"cast(conv(substring(md5(cast(user_id as string)), 1, 8), 16, 10)"
            f" as bigint) % {_SCD2_BUCKETS}"
        ),
    )
    buckets = [int(r["bucket"]) for r in obs.select("bucket").distinct().collect()]
    if not buckets:
        return 0
    existing = None
    if os.path.isdir(path) and any(
        e.startswith("bucket=") for e in os.listdir(path)
    ):
        # mergeSchema: touched-bucket overwrites leave mixed bucket
        # schemas behind after a format upgrade (see read_scd2_dimension)
        existing = (
            spark.read.option("mergeSchema", "true")
            .parquet(path)
            .filter(F.col("bucket").isin(buckets))
            .select("user_id", "status", "valid_from", "event_id", "bucket")
        )
    base = obs if existing is None else existing.unionByName(obs)
    horizons = None
    if max_lateness_s is not None:
        # PER-BUCKET watermark (r12 review): a single merge-global max
        # is NOT monotone — a merge touching buckets {X, Y} where Y
        # carries recent data would compact X's repeats against Y's
        # watermark, and a later X-only merge (recomputing a lower wm
        # from X's own rows) could then ACCEPT a late row older than
        # the horizon that justified the compaction, silently losing a
        # version. Per bucket the watermark IS monotone: the row
        # achieving a bucket's max valid_from is always retained (it
        # sits AT the watermark, above the horizon), so recomputing
        # from stored state can never go backwards.
        #
        # ADVICE r12: the REJECTION horizon is computed from STORED
        # state only (Spark-streaming style — the watermark a batch is
        # judged against comes from PREVIOUS batches). Including the
        # incoming batch's own max meant a single backfill batch
        # spanning more than the lateness window silently rejected its
        # own older observations — a full rebuild of the same rows
        # would have kept them. First contact with a bucket therefore
        # rejects nothing; and rejected rows are COUNTED and logged so
        # history loss during a misplayed backfill is detectable.
        if existing is not None:
            rej_horizons = existing.groupBy("bucket").agg(
                (F.max("valid_from") - F.lit(int(max_lateness_s))).alias(
                    "__horizon"
                )
            )
            tagged = obs.join(F.broadcast(rej_horizons), "bucket", "left")
            accept = F.col("__horizon").isNull() | (
                F.col("valid_from") >= F.col("__horizon")
            )
            n_rejected = tagged.filter(~accept).count()
            if n_rejected:
                import logging

                logging.getLogger(__name__).warning(
                    "merge_scd2_dimension: rejected %d observation(s) older "
                    "than the per-bucket lateness horizon (max_lateness_s=%d)",
                    n_rejected,
                    int(max_lateness_s),
                )
            fresh = tagged.filter(accept).drop("__horizon")
            base = existing.unionByName(fresh)
        # COMPACTION horizon: post-merge per-bucket watermark (stored +
        # accepted batch). Monotone vs future rejection: the bucket-max
        # row is always retained, so the next merge's stored-only
        # rejection horizon is >= this compaction horizon — any late
        # row that would need a compacted repeat is rejected first.
        horizons = base.groupBy("bucket").agg(
            (F.max("valid_from") - F.lit(int(max_lateness_s))).alias(
                "__horizon"
            )
        )
    rows = base.dropDuplicates(["user_id", "valid_from", "event_id"])
    w = W.partitionBy("user_id").orderBy("valid_from", "event_id")
    flagged = rows.withColumn(
        "is_change",
        F.lag("status").over(w).isNull()
        | (F.lag("status").over(w) != F.col("status")),
    )
    # event_id stays in the stored table: it is the merge's dedup key
    # (and the lineage pointer to the observation that opened the version).
    # Derived SCD2 columns are windowed over CHANGE rows only; the
    # non-change observations are retained (is_change=false, null
    # derived cols) so a future late row can re-open them — see docstring.
    changed = flagged.filter(F.col("is_change")).select(
        "user_id",
        "status",
        "valid_from",
        "event_id",
        F.lead("valid_from").over(w).alias("valid_to"),
        F.row_number().over(w).cast("long").alias("version"),
        F.lead("valid_from").over(w).isNull().alias("is_current"),
        "bucket",
        "is_change",
    )
    unchanged = flagged.filter(~F.col("is_change"))
    if horizons is not None:
        # compact: repeats older than their BUCKET's lateness horizon
        # can never be re-opened (any row that would need them is
        # rejected above against the same per-bucket horizon), so they
        # collapse out of the maintained state. Dropping a repeat never
        # flips a later row's is_change — it carries the same status
        # value as its preceding change row.
        unchanged = unchanged.join(F.broadcast(horizons), "bucket").filter(
            F.col("valid_from") >= F.col("__horizon")
        ).drop("__horizon")
    unchanged = unchanged.select(
        "user_id",
        "status",
        "valid_from",
        "event_id",
        F.lit(None).cast("long").alias("valid_to"),
        F.lit(None).cast("long").alias("version"),
        F.lit(None).cast("boolean").alias("is_current"),
        "bucket",
        "is_change",
    )
    canon = changed.unionByName(unchanged)
    # materialize BEFORE overwriting: the plan reads the very files the
    # dynamic overwrite replaces (same rule as merge_keyed_table)
    merged = canon.localCheckpoint(eager=True)
    _overwrite_partitions(merged, path, "bucket")
    return len(buckets)


def read_scd2_dimension(spark: SparkSession, path: str) -> DataFrame:
    """Read the maintained dimension back: SCD2 change rows only (the
    retained non-change observations are merge-state, not dimension
    rows), bucket and is_change columns dropped.

    mergeSchema is REQUIRED here (ADVICE r11, medium): the merge's
    dynamic partition overwrite rewrites only touched buckets, so a
    table created by the r10 format (change rows only, no is_change
    column) that has since been merged into has MIXED bucket schemas.
    Without mergeSchema the sampled footer decides whether is_change
    exists at all; with it, legacy-bucket rows read is_change = NULL —
    and legacy rows are change rows by construction (the r10 store kept
    nothing else), so NULL coalesces to true."""
    df = spark.read.option("mergeSchema", "true").parquet(path)
    if "is_change" in df.columns:
        df = df.filter(F.coalesce(F.col("is_change"), F.lit(True))).drop(
            "is_change"
        )
    return df.drop("bucket")


# --------------------------------------- incremental decayed counters

_DECAY_REF = 1706745600   # the fixed reference instant of events_decay_counters
_DECAY_RATE = 0.000008    # per-second decay, ~day-scale half-life
_DECAY_BUCKETS = 64


def decay_counter_rollup(events: DataFrame) -> DataFrame:
    """Per-(user, type) partial state for the decayed-activity counter:
    event count + the EXACT decimal sum of 6dp-rounded per-event decay
    weights (the same terms ``events_decay_counters`` sums). Kept as
    DECIMAL — decimal addition is associative, so partial rows merge
    across epochs/partitions without drift; the double cast happens
    once at read time."""
    from dataingestionplayground_spark.functions import portable as PF

    age = F.lit(_DECAY_REF) - F.floor(PF.epoch_seconds("ts"))
    w = F.round(F.exp(-age * F.lit(_DECAY_RATE)), 6).cast("decimal(38,6)")
    return (
        events.groupBy("user_id", "event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(w).cast("decimal(38,6)").alias("decayed"),
        )
        .withColumn(
            "bucket",
            F.expr(
                f"cast(conv(substring(md5(cast(user_id as string)), 1, 8), 16, 10)"
                f" as bigint) % {_DECAY_BUCKETS}"
            ),
        )
    )


def merge_decay_rollup(
    spark: SparkSession, batch: DataFrame, path: str, epoch_id: int
) -> int:
    """Epoch-keyed streaming maintenance for the decayed counters — the
    SUMMABLE-counter member of the maintained-artifact ledger (same
    class as the topk rollup: re-adding a replayed batch would
    double-count, so exactly-once comes from staging, not from set
    semantics). Each user-hash bucket partition holds one partial row
    set per micro-batch epoch; merging epoch E drops rows already
    tagged E in the touched buckets, then writes the fresh partials —
    a foreachBatch retry converges to the identical table. Query-time
    combine (:func:`read_decay_rollup`) is an exact decimal sum across
    epoch rows. Returns bucket partitions touched."""
    import os

    fresh = decay_counter_rollup(batch).withColumn(
        "epoch_id", F.lit(int(epoch_id)).cast("long")
    )
    buckets = [int(r["bucket"]) for r in fresh.select("bucket").distinct().collect()]
    if not buckets:
        return 0
    if os.path.isdir(path) and any(e.startswith("bucket=") for e in os.listdir(path)):
        existing = (
            spark.read.option("mergeSchema", "true")
            .parquet(path)
            .filter(F.col("bucket").isin(buckets))
        )
        if "epoch_id" not in existing.columns:
            existing = existing.withColumn("epoch_id", F.lit(None).cast("long"))
        kept = existing.filter(
            F.col("epoch_id").isNull() | (F.col("epoch_id") != int(epoch_id))
        ).select("user_id", "event_type", "n", "decayed", "epoch_id", "bucket")
        merged = kept.unionByName(fresh).localCheckpoint(eager=True)
    else:
        merged = fresh
    _overwrite_partitions(merged, path, "bucket")
    return len(buckets)


def read_decay_rollup(spark: SparkSession, path: str) -> DataFrame:
    """Combine the per-epoch partials into the counter table — column
    for column the output of the oracle-checked ``events_decay_counters``
    batch query (exact decimal combine, one double cast at the end)."""
    rollup = spark.read.option("mergeSchema", "true").parquet(path)
    return rollup.groupBy("user_id", "event_type").agg(
        F.sum("n").cast("long").alias("n"),
        F.round(F.sum("decayed").cast("double"), 6).alias("decayed_n"),
    )


def compact_decay_rollup(spark: SparkSession, path: str) -> int:
    """Fold each bucket's per-epoch partials into one epoch-NULL row per
    (user, type). Same commit caveat as compact_topk_rollup: run only
    after the maintaining stream's checkpoint holds the folded epochs.
    Returns bucket partitions rewritten."""
    rollup = spark.read.option("mergeSchema", "true").parquet(path)
    merged = (
        rollup.groupBy("bucket", "user_id", "event_type")
        .agg(
            F.sum("n").cast("long").alias("n"),
            F.sum("decayed").cast("decimal(38,6)").alias("decayed"),
        )
        .withColumn("epoch_id", F.lit(None).cast("long"))
        .select("user_id", "event_type", "n", "decayed", "epoch_id", "bucket")
        .localCheckpoint(eager=True)
    )
    buckets = merged.select("bucket").distinct().count()
    _overwrite_partitions(merged, path, "bucket")
    return buckets


def build_dup_rate_state(docs: DataFrame) -> DataFrame:
    """Batch build of the per-source duplicate-rate state: one row per
    (source, fingerprint) with its document count — the maintained form
    of ``dedup_rate_by_source``'s aggregation input. State size is
    O(distinct contents), the same bound as the incremental-LSH
    signature table; raw documents are never retained."""
    from dataingestionplayground_spark.functions import text as TX

    return (
        docs.select("source", TX.fingerprint("text").alias("fingerprint"))
        .groupBy("source", "fingerprint")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def merge_dup_rate_state(
    spark: SparkSession, batch: DataFrame, path: str, epoch_id: int
) -> int:
    """Epoch-keyed streaming maintenance for the dup-rate monitor —
    the merge_topk_rollup discipline applied to exact-dedup state.

    Counts SUM on combine, so a re-delivered micro-batch would
    double-count; exactly-once comes from EPOCH-KEYED STAGING: each
    source partition holds one (fingerprint, cnt) row-set per epoch,
    merging epoch E first drops rows already tagged E in the touched
    sources, then writes the fresh ones — a foreachBatch retry
    converges to the identical table. Query-time combine
    (:func:`dup_rate_over`) SUMs across distinct epochs, so every
    document is counted exactly once. Base rows from
    :func:`build_dup_rate_state` (epoch NULL) are never replaced —
    batch seed + streaming maintenance composes. Cost: O(batch
    distinct contents) + a partition-pruned read-back of the touched
    sources' accumulator rows. Returns source partitions touched."""
    import os

    fresh = build_dup_rate_state(batch).withColumn(
        "epoch_id", F.lit(int(epoch_id)).cast("long")
    )
    sources = [r["source"] for r in fresh.select("source").distinct().collect()]
    if not sources:
        return 0
    if os.path.isdir(path) and any(
        e.startswith("source=") for e in os.listdir(path)
    ):
        existing = (
            spark.read.option("mergeSchema", "true")
            .parquet(path)
            .filter(F.col("source").isin(sources))
        )
        if "epoch_id" not in existing.columns:
            existing = existing.withColumn("epoch_id", F.lit(None).cast("long"))
        kept = existing.filter(
            F.col("epoch_id").isNull() | (F.col("epoch_id") != int(epoch_id))
        ).select("fingerprint", "cnt", "epoch_id", "source")
        merged = kept.unionByName(
            fresh.select("fingerprint", "cnt", "epoch_id", "source")
        ).localCheckpoint(eager=True)
    else:
        merged = fresh.select("fingerprint", "cnt", "epoch_id", "source")
    _overwrite_partitions(merged, path, "source")
    return len(sources)


def dup_rate_over(spark: SparkSession, path: str) -> DataFrame:
    """Per-source dup-rate view over the maintained state — column-for-
    column ``dedup_rate_by_source`` (n_docs / n_unique / n_dups /
    dup_rate), so the nightly reconciliation is one join. Combine
    across epoch rows is an associative SUM per (source, fingerprint);
    distinct contents = rows with a positive combined count."""
    state = spark.read.option("mergeSchema", "true").parquet(path)
    per_fp = state.groupBy("source", "fingerprint").agg(
        F.sum("cnt").cast("long").alias("cnt")
    )
    n = F.sum("cnt")
    u = F.count(F.lit(1))
    return per_fp.groupBy("source").agg(
        n.cast("long").alias("n_docs"),
        u.cast("long").alias("n_unique"),
        (n - u).cast("long").alias("n_dups"),
        F.round((n - u).cast("double") / n.cast("double"), 6).alias("dup_rate"),
    )


def compact_dup_rate_state(spark: SparkSession, path: str) -> int:
    """Fold per-epoch accumulator rows into one epoch-NULL row per
    (source, fingerprint). Run only AFTER the maintaining stream's
    checkpoint has committed those epochs (the compact_topk_rollup
    caveat: a replay of a compacted-away epoch re-adds its counts).
    Returns source partitions rewritten."""
    state = spark.read.option("mergeSchema", "true").parquet(path)
    merged = (
        state.groupBy("source", "fingerprint")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
        .withColumn("epoch_id", F.lit(None).cast("long"))
        .select("fingerprint", "cnt", "epoch_id", "source")
        .localCheckpoint(eager=True)
    )
    sources = [r["source"] for r in merged.select("source").distinct().collect()]
    _overwrite_partitions(merged, path, "source")
    return len(sources)


# ---------------------------------------------------------------------------
# Ship-readiness state (r14 verdict item 6): the release gate's three
# members as ONE epoch-staged maintained artifact, so "can this ship?"
# is a state read instead of a corpus recomputation. Four sub-tables
# under a common root, each partitioned by epoch_id and written with
# dynamic partition overwrite — a foreachBatch retry rewrites exactly
# its own epoch partition, so replays converge byte-identically (the
# merge_dup_rate_state discipline, simplified: no read-back is needed
# because every combine below is associative across epochs):
#
#   <path>/shape   one row per epoch: n_docs, total_tokens,
#                  sum_q (DECIMAL — order-free), n_q
#   <path>/fp      (f, cnt) per epoch — exact-dup fingerprint counts
#   <path>/hits    eval grams hit by this epoch's train docs
#   <path>/delta   (doc_id, status, best_jaccard) for this epoch's
#                  new-snapshot docs, classified against the STATIC
#                  old snapshot (stream-static, frozen reference)
#
# Every per-doc signal comes from the SAME single-source helpers the
# batch gate runs (_release_features_frame, _gram_frame,
# _classify_delta), so the maintained gate row is value-identical to
# pipeline_release_gate over the same documents — pinned in
# tests/test_r15_ship_stream.py.
# ---------------------------------------------------------------------------


def ship_eval_reference(d: DataFrame) -> DataFrame:
    """The STATIC eval-side reference the contamination member probes:
    (doc_id, source, g) distinct-trigram rows for the held-out eval
    slice, built by the batch gate's own gram helper. Freeze it once
    (the psi_reference pattern); both merge and read take it as an
    argument so the probe can never drift from the batch tokenizer."""
    from dataingestionplayground_spark.queries.pipelineq import _gram_frame

    ev = d.filter(F.col("doc_id") % 25 == 0)
    return _gram_frame(ev, "doc_id").join(
        ev.select("doc_id", "source"), "doc_id"
    )


def merge_ship_state(
    spark: SparkSession,
    batch: DataFrame,
    a_static: DataFrame,
    eval_grams: DataFrame,
    path: str,
    epoch_id: int,
) -> dict:
    """Fold one micro-batch of documents-table rows into the ship
    state. ``a_static`` is the frozen old snapshot (the delta member's
    reference content); ``eval_grams`` is :func:`ship_eval_reference`'s
    output. Returns per-sub-table staged row counts."""
    from dataingestionplayground_spark.queries.dedupq import _classify_delta
    from dataingestionplayground_spark.queries.pipelineq import (
        _gram_frame,
        _release_features_frame,
    )

    ep = F.lit(int(epoch_id)).cast("long")
    feats = _release_features_frame(batch).localCheckpoint(eager=True)

    shape = feats.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_toks").cast("long").alias("total_tokens"),
        F.sum(F.col("quality").cast("decimal(38,6)")).alias("sum_q"),
        F.count("quality").cast("long").alias("n_q"),
    ).withColumn("epoch_id", ep)
    _overwrite_partitions(shape, f"{path}/shape", "epoch_id")

    fp = (
        feats.groupBy("f")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .withColumn("epoch_id", ep)
    )
    _overwrite_partitions(fp, f"{path}/fp", "epoch_id")

    # stream-static gram probe: which eval grams does this batch's
    # TRAIN slice hit? (the eval side is tiny and broadcasts)
    tr = _gram_frame(batch.filter(F.col("doc_id") % 25 != 0), "tdoc")
    hits = (
        tr.select("g")
        .distinct()
        .join(F.broadcast(eval_grams.select("g").distinct()), "g")
        .withColumn("epoch_id", ep)
    )
    _overwrite_partitions(hits, f"{path}/hits", "epoch_id")

    # new-snapshot docs classified against the frozen old snapshot
    delta_docs = batch.filter(F.col("doc_id") % 5 == 4)
    n_delta = 0
    if not delta_docs.isEmpty():
        cls = (
            _classify_delta(delta_docs, a_static)
            .select("doc_id", "status", "best_jaccard")
            .withColumn("epoch_id", ep)
            .localCheckpoint(eager=True)
        )
        n_delta = cls.count()
        _overwrite_partitions(cls, f"{path}/delta", "epoch_id")
    return {"delta_rows": n_delta}


def _read_state(spark: SparkSession, sub: str) -> DataFrame | None:
    import os

    if not os.path.isdir(sub) or not any(
        e.startswith("epoch_id=") for e in os.listdir(sub)
    ):
        return None
    return spark.read.parquet(sub)


def ship_readiness_over(
    spark: SparkSession, path: str, eval_grams: DataFrame
) -> DataFrame:
    """The maintained gate row — column-for-column
    ``pipeline_release_gate`` (same member values, same literal
    thresholds, same 6dp rounds, same ship conjunction), composed from
    the staged state instead of a corpus recomputation. Combine rules:
    shape sums and DECIMAL quality sums are associative across epochs;
    fingerprints/hit-grams are distinct-unions; delta docs dedupe by
    doc_id (newest epoch wins, the read_pq_codes rule)."""
    from pyspark.sql import Window

    from dataingestionplayground_spark.queries.pipelineq import (
        _GATE_CONTAM,
        _GATE_DUP,
        _GATE_NOVEL,
        _GATE_QUALITY,
    )

    shape = _read_state(spark, f"{path}/shape").agg(
        F.sum("n_docs").cast("long").alias("n_docs"),
        F.sum("total_tokens").cast("long").alias("total_tokens"),
        F.sum("sum_q").alias("sum_q"),
        F.sum("n_q").cast("long").alias("n_q"),
    )
    uniq = (
        _read_state(spark, f"{path}/fp")
        .groupBy("f")
        .agg(F.sum("cnt").alias("cnt"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_unique"))
    )
    rep = shape.crossJoin(F.broadcast(uniq)).select(
        "n_docs",
        "total_tokens",
        F.round(
            (F.col("n_docs") - F.col("n_unique")).cast("double")
            / F.col("n_docs").cast("double"),
            6,
        ).alias("dup_rate"),
        F.round(
            F.col("sum_q").cast("double") / F.col("n_q").cast("double"), 6
        ).alias("avg_quality"),
    )

    hits_state = _read_state(spark, f"{path}/hits")
    hit_grams = (
        hits_state.select("g").distinct()
        if hits_state is not None
        else spark.createDataFrame([], "g string")
    )
    per_doc = (
        eval_grams.join(hit_grams, "g", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    ev_docs = eval_grams.select("doc_id", "source").distinct()
    hitf = F.sum(F.when(F.col("n_hit") > 0, 1).otherwise(0))
    by_source = (
        ev_docs.join(per_doc, "doc_id", "left")
        .groupBy("source")
        .agg(
            hitf.cast("long").alias("n_contaminated"),
            F.round(
                hitf.cast("double") / F.count(F.lit(1)).cast("double"), 6
            ).alias("contaminated_frac"),
        )
    )
    contam = by_source.agg(
        F.sum("n_contaminated").cast("long").alias("n_contaminated"),
        F.max("contaminated_frac").alias("max_contaminated_frac"),
    )

    dstate = _read_state(spark, f"{path}/delta")
    if dstate is None:
        dstate = spark.createDataFrame(
            [], "doc_id long, status string, best_jaccard double, epoch_id long"
        )
    w = Window.partitionBy("doc_id").orderBy(F.desc("epoch_id"))
    novel = F.sum(F.when(F.col("status") == "novel", 1).otherwise(0))
    delta = (
        dstate.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_delta"),
            novel.cast("long").alias("n_novel"),
            F.round(
                novel.cast("double") / F.count(F.lit(1)).cast("double"), 6
            ).alias("novel_frac"),
        )
    )

    pass_dup = F.col("dup_rate") <= _GATE_DUP
    pass_quality = F.col("avg_quality") >= _GATE_QUALITY
    pass_contam = F.col("max_contaminated_frac") <= _GATE_CONTAM
    pass_novelty = F.col("novel_frac") >= _GATE_NOVEL
    return (
        rep.crossJoin(F.broadcast(contam))
        .crossJoin(F.broadcast(delta))
        .select(
            "n_docs",
            "total_tokens",
            "dup_rate",
            "avg_quality",
            "n_contaminated",
            "max_contaminated_frac",
            "n_delta",
            "n_novel",
            "novel_frac",
            pass_dup.alias("pass_dup"),
            pass_quality.alias("pass_quality"),
            pass_contam.alias("pass_contam"),
            pass_novelty.alias("pass_novelty"),
            (pass_dup & pass_quality & pass_contam & pass_novelty).alias(
                "ship"
            ),
        )
    )


def compact_ship_state(spark: SparkSession, path: str) -> int:
    """Fold committed epochs down to one epoch-0-free canonical row set
    per sub-table (run only after the maintaining stream's checkpoint
    committed them — the compact_topk_rollup caveat). Returns sub-tables
    rewritten."""
    import shutil

    from pyspark.sql import Window

    done = 0
    shape = _read_state(spark, f"{path}/shape")
    if shape is not None:
        folded = shape.agg(
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("total_tokens").cast("long").alias("total_tokens"),
            F.sum("sum_q").alias("sum_q"),
            F.sum("n_q").cast("long").alias("n_q"),
        ).withColumn("epoch_id", F.lit(None).cast("long"))
        folded = folded.localCheckpoint(eager=True)
        shutil.rmtree(f"{path}/shape")
        folded.write.partitionBy("epoch_id").parquet(f"{path}/shape")
        done += 1
    fp = _read_state(spark, f"{path}/fp")
    if fp is not None:
        folded = (
            fp.groupBy("f")
            .agg(F.sum("cnt").cast("long").alias("cnt"))
            .withColumn("epoch_id", F.lit(None).cast("long"))
            .localCheckpoint(eager=True)
        )
        shutil.rmtree(f"{path}/fp")
        folded.write.partitionBy("epoch_id").parquet(f"{path}/fp")
        done += 1
    hits = _read_state(spark, f"{path}/hits")
    if hits is not None:
        folded = (
            hits.select("g")
            .distinct()
            .withColumn("epoch_id", F.lit(None).cast("long"))
            .localCheckpoint(eager=True)
        )
        shutil.rmtree(f"{path}/hits")
        folded.write.partitionBy("epoch_id").parquet(f"{path}/hits")
        done += 1
    delta = _read_state(spark, f"{path}/delta")
    if delta is not None:
        w = Window.partitionBy("doc_id").orderBy(F.desc("epoch_id"))
        folded = (
            delta.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
            .withColumn("epoch_id", F.lit(None).cast("long"))
            .localCheckpoint(eager=True)
        )
        shutil.rmtree(f"{path}/delta")
        folded.write.partitionBy("epoch_id").parquet(f"{path}/delta")
        done += 1
    return done
