"""Streaming document ingestion: watch a directory, parse -> chunk ->
embed -> append to a collection, exactly-once per micro-batch.

The engine extension of the reference's one-shot ingest (E1) to a
continuously-arriving corpus. The chunker is a grouped-map stage
(applyInPandas), which streaming cannot run directly — the canonical
pattern is ``foreachBatch``: each micro-batch is a bounded DataFrame, so
the *batch* pipeline (ingest.pipeline.build_chunk_records) runs unchanged
inside it, and the sink write is idempotent per documentid (incremental
anti-join), giving effective exactly-once under retries.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from dataingestionplayground_spark.ingest.pipeline import build_chunk_records
from dataingestionplayground_spark.ingest.store import CollectionStore
from dataingestionplayground_spark.operators.incremental import _overwrite_partitions
from dataingestionplayground_spark.sources.markdown import parse_markdown_df

RAW_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("content", T.StringType(), True),
    ]
)


def stream_ingest_markdown(
    spark: SparkSession,
    watch_dir: str,
    store: CollectionStore,
    collection: str,
    checkpoint_dir: str,
    **chunk_kwargs,
):
    """Start a streaming query ingesting JSON-lines files of
    (doc_id, content) from ``watch_dir``. Returns the StreamingQuery.

    File source + checkpoint = replayable input; incremental collection
    write = idempotent output; together: exactly-once per document.
    """
    raw = spark.readStream.schema(RAW_SCHEMA).json(watch_dir)

    def process_batch(batch_df, epoch_id: int) -> None:
        if not batch_df.isEmpty():
            elements = parse_markdown_df(batch_df)
            records = build_chunk_records(elements, **chunk_kwargs)
            store.write(records, collection, incremental=True)

    return (
        raw.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), False),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("user_id", T.LongType(), True),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
    ]
)


def stream_maintain_distinct_rollup(
    spark: SparkSession,
    watch_dir: str,
    rollup_path: str,
    checkpoint_dir: str,
):
    """Continuously maintain the theta-sketch distinct rollup from a
    stream of event JSON-lines files. Returns the StreamingQuery.

    Each micro-batch folds into the stored per-(day, type) sketches via
    ``operators.incremental.merge_distinct_rollup`` — a sketch UNION,
    not a recompute, so the maintenance cost is O(batch) regardless of
    how much history a day already holds. Retry semantics come free:
    a theta sketch is a set summary, so replaying a batch after a
    foreachBatch failure re-unions the same hashes and changes nothing
    — exactly-once OUTPUT without any dedup bookkeeping, a property
    summable counters do not have.
    """
    from dataingestionplayground_spark.operators.incremental import (
        merge_distinct_rollup,
    )

    raw = spark.readStream.schema(EVENT_SCHEMA).json(watch_dir)

    def process_batch(batch_df, epoch_id: int) -> None:
        if not batch_df.isEmpty():
            merge_distinct_rollup(spark, batch_df, rollup_path)

    return (
        raw.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_maintain_keyed_table(
    spark: SparkSession,
    watch_dir: str,
    table_path: str,
    checkpoint_dir: str,
    key: str = "event_id",
    n_buckets: int = 8,
):
    """Continuously maintain a key-bucketed BASE table from a stream of
    JSON-lines change batches (CDC tail). Returns the StreamingQuery.

    Each micro-batch MERGEs via ``operators.incremental.merge_upsert``:
    matching keys replaced, new keys inserted, rows with ``deleted=true``
    removed — touching only the bucket partitions the batch's keys hash
    into, so maintenance cost tracks batch size, not table size.
    Replaying a batch after a failure re-applies the same by-key
    replacements (last-writer-wins per key), so the table converges to
    the same state — idempotent like the sketch rollup, by upsert
    semantics instead of set-union ones.
    """
    from dataingestionplayground_spark.operators.incremental import merge_upsert

    schema = T.StructType(
        EVENT_SCHEMA.fields + [T.StructField("deleted", T.BooleanType())]
    )
    raw = spark.readStream.schema(schema).json(watch_dir)

    def process_batch(batch_df, epoch_id: int) -> None:
        if not batch_df.isEmpty():
            merge_upsert(
                spark,
                batch_df,
                table_path,
                key,
                n_buckets=n_buckets,
                delete_col="deleted",
            )

    return (
        raw.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_maintain_topk_rollup(
    spark: SparkSession,
    watch_dir: str,
    rollup_path: str,
    checkpoint_dir: str,
):
    """Continuously maintain the per-day ApproxTopK heavy-hitter rollup
    from a stream of event JSON-lines files. Returns the StreamingQuery.

    The frequency counterpart of ``stream_maintain_distinct_rollup``,
    with the OPPOSITE retry story (r8 verdict item 6): theta sketches
    are set summaries, so replaying a batch re-unions the same hashes
    and changes nothing — but ApproxTopK accumulators SUM counts on
    combine, so a replayed batch would double-count. Exactly-once
    therefore comes from ``merge_topk_rollup``'s epoch-keyed staging:
    foreachBatch's ``epoch_id`` tags each batch's accumulator rows, and
    re-delivery of an epoch REPLACES its rows instead of re-adding
    them. Run ``compact_topk_rollup`` between runs to fold committed
    epochs down to one row per day.
    """
    from dataingestionplayground_spark.operators.incremental import (
        merge_topk_rollup,
    )

    raw = spark.readStream.schema(EVENT_SCHEMA).json(watch_dir)

    def process_batch(batch_df, epoch_id: int) -> None:
        if not batch_df.isEmpty():
            merge_topk_rollup(spark, batch_df, rollup_path, epoch_id)

    return (
        raw.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def psi_reference(spark: SparkSession, sf_dir: str):
    """Frozen PSI reference histogram from the batch reference window
    (Jan 1-15, matching queries/analytics.py:events_psi_drift): the
    full densified (event_type, bucket, ref_n) grid — |types| x 10
    rows, collected driver-side (the codebook pattern: train batch,
    ship the model as a literal)."""
    from pyspark.sql import functions as F

    from dataingestionplayground_spark.session import load_table

    e = load_table(spark, sf_dir, "events").filter(
        F.col("ts") < F.lit("2024-01-16").cast("timestamp")
    )
    counts = e.select(
        "event_type",
        F.least(F.floor(F.col("value") / 50.0), F.lit(9)).cast("int").alias("bucket"),
    ).groupBy("event_type", "bucket").agg(F.count(F.lit(1)).alias("ref_n"))
    grid = (
        e.select("event_type").distinct()
        .crossJoin(spark.range(0, 10).select(F.col("id").cast("int").alias("bucket")))
    )
    dense = grid.join(counts, ["event_type", "bucket"], "left").fillna(
        0, subset=["ref_n"]
    )
    return [
        (r["event_type"], int(r["bucket"]), int(r["ref_n"]))
        for r in dense.collect()
    ]


def stream_psi_monitor(
    spark: SparkSession,
    watch_dir: str,
    reference,
    log_path: str,
    checkpoint_dir: str,
):
    """Continuous distribution-drift monitoring: per micro-batch, the
    PSI of the batch's value distribution against the FROZEN reference
    histogram, appended to a drift log. Returns the StreamingQuery.

    Train-batch / monitor-stream: the reference rides as a literal
    frame (never recomputed), each micro-batch contributes one
    (epoch_id, event_type, psi, drifted) row set, and the log is
    partitioned BY EPOCH with dynamic partition overwrite — a replayed
    batch rewrites its own epoch partition, so retries are exactly-once
    like the epoch-keyed rollup (same discipline, simpler because each
    epoch's rows depend only on that epoch). The PSI math is the batch
    query's own `psi_from_dense` — one shared implementation, so the
    streaming monitor can never drift from the oracle-checked batch
    semantics."""
    from pyspark.sql import functions as F

    from dataingestionplayground_spark.queries.analytics import psi_from_dense

    raw = spark.readStream.schema(EVENT_SCHEMA).json(watch_dir)

    def process_batch(batch_df, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        sess = batch_df.sparkSession
        ref = sess.createDataFrame(
            reference, "event_type string, bucket int, ref_n long"
        )
        cur = batch_df.select(
            "event_type",
            F.least(F.floor(F.col("value") / 50.0), F.lit(9))
            .cast("int")
            .alias("bucket"),
        ).groupBy("event_type", "bucket").agg(F.count(F.lit(1)).alias("cur_n"))
        # densified domain = (reference types UNION batch types) x all
        # 10 buckets — an r9-ADVICE fix: a ref-LEFT-join dropped event
        # types the frozen reference never saw, a monitoring blind spot
        # for brand-new types. Now an unseen type gets ref_n=0 rows and
        # its add-one-smoothed PSI is maximal, so it surfaces as drift
        # (the batch twin densifies over all types seen in either
        # window — same semantics). Both sides of the grid are
        # types-x-10-sized, never batch-sized.
        grid = (
            ref.select("event_type")
            .union(cur.select("event_type"))
            .distinct()
            .crossJoin(
                sess.range(0, 10).select(F.col("id").cast("int").alias("bucket"))
            )
        )
        dense = (
            grid.join(ref.select("event_type", "bucket", "ref_n"),
                      ["event_type", "bucket"], "left")
            .join(cur, ["event_type", "bucket"], "left")
            .fillna(0, subset=["ref_n", "cur_n"])
        )
        out = psi_from_dense(dense).withColumn(
            "epoch_id", F.lit(int(epoch_id)).cast("long")
        )
        _overwrite_partitions(out, log_path, "epoch_id")

    return (
        raw.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_maintain_inverted_index(
    spark: SparkSession,
    watch_dir: str,
    index_path: str,
    checkpoint_dir: str,
):
    """Continuously maintain the bucket-partitioned inverted index from
    a stream of (doc_id, text) JSON-lines files. Returns the
    StreamingQuery.

    Posting lists are SET summaries, so this sits on the theta-rollup
    side of the exactly-once ledger: re-unioning a replayed batch's doc
    ids into the same terms' lists changes nothing — retry safety for
    free, no epoch bookkeeping (contrast stream_maintain_topk_rollup).
    Each micro-batch touches only the bucket partitions its terms hash
    into.
    """
    from pyspark.sql import types as T

    from dataingestionplayground_spark.operators.incremental import (
        merge_inverted_index,
    )

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("text", T.StringType(), True),
        ]
    )
    raw = spark.readStream.schema(schema).json(watch_dir)

    def process_batch(batch_df, epoch_id: int) -> None:
        if not batch_df.isEmpty():
            merge_inverted_index(spark, batch_df, index_path)

    return (
        raw.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_ingest_with_index(
    spark: SparkSession,
    watch_dir: str,
    store: CollectionStore,
    collection: str,
    checkpoint_dir: str,
    index_kinds: tuple = ("pq",),
    **chunk_kwargs,
):
    """Streaming ingest that keeps the ANN indexes FRESH: each
    micro-batch runs the bounded ingest pipeline (parse -> chunk ->
    embed -> idempotent collection write, exactly as
    :func:`stream_ingest_markdown`) and then ``ensure_index`` for each
    requested index kind — searches against the store never lag the
    stream by more than one micro-batch. Returns the StreamingQuery.

    Exactly-once composition, leg by leg: the collection write is the
    keyed incremental anti-join (re-delivered documents produce zero
    new chunk rows), and index refresh encodes ONLY chunks without a
    code/assignment row (another anti-join against the frozen
    codebook/centroids) — so a replayed batch finds nothing to encode
    and the code tables never hold duplicate keys. Maintenance cost is
    O(batch) encode + an append into the code table's documentid (or
    cell) partitions; the codebook itself stays frozen (retraining is
    an offline rebuild, the store-backed index contract)."""
    from dataingestionplayground_spark.ingest.ann_index import ensure_index

    raw = spark.readStream.schema(RAW_SCHEMA).json(watch_dir)

    def process_batch(batch_df, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        elements = parse_markdown_df(batch_df)
        records = build_chunk_records(elements, **chunk_kwargs)
        store.write(records, collection, incremental=True)
        for kind in index_kinds:
            ensure_index(spark, store, collection, kind)

    return (
        raw.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_lsh_screen(
    spark: SparkSession,
    watch_dir: str,
    bands_path: str,
    log_path: str,
    checkpoint_dir: str,
):
    """Continuously screen arriving documents for near-duplicates
    against a MAINTAINED corpus bands table — the streaming form of
    :func:`~dataingestionplayground_spark.operators.dedup.minhash_lsh_pairs_between`,
    where the corpus side is never re-banded: each micro-batch of
    (doc_id, text) JSON-lines (1) bands the batch (O(batch) work), (2)
    equi-joins those bands against the bands table to log candidate
    pairs, and (3) folds the batch's bands INTO the table so later
    batches screen against it. Returns the StreamingQuery.

    Exactly-once, leg by leg (the repo's maintained-artifact ledger):

    - the bands-table append is a keyed ANTI-JOIN on doc_id — a
      replayed batch's documents are already present and add zero
      rows (same retry-safety class as the collection write, no epoch
      bookkeeping);
    - the candidate log is partitioned by epoch_id and written with
      dynamic partition overwrite — a replayed epoch rewrites its own
      partition with identical content instead of appending a second
      copy (the stream_psi_monitor discipline).

    Because screening runs BEFORE the batch's own bands land in the
    table, a batch never pairs with itself; intra-batch duplicates are
    the batch-local self-join's job (cheap — the batch is bounded) and
    out of this artifact's contract. Candidates are banded COLLISIONS
    (>= 1 identical band = near-identical under 2-row bands); exact
    Jaccard verification joins candidates back to the corpus store,
    exactly as the batch query does.
    """
    import os

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from dataingestionplayground_spark.operators.dedup import minhash_bands

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("text", T.StringType(), True),
        ]
    )
    raw = spark.readStream.schema(schema).json(watch_dir)

    def process_batch(batch_df, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        sess = batch_df.sparkSession
        # a doc_id arriving in TWO files of the same micro-batch would
        # band twice and the anti-join (which only screens against the
        # EXISTING table) would append both — table bloat, and
        # conflicting band rows if the payloads differ (ADVICE r10).
        # Deterministic in-batch dedup: one canonical text per doc_id
        # (min(), not dropDuplicates — the latter keeps an arbitrary row)
        batch_one = batch_df.groupBy("doc_id").agg(F.min("text").alias("text"))
        # sever lineage before the table we read from is overwritten
        bands = minhash_bands(batch_one, "doc_id", "text").localCheckpoint(
            eager=True
        )
        have_table = os.path.isdir(bands_path) and any(
            not e.startswith(("_", ".")) for e in os.listdir(bands_path)
        )
        if have_table:
            existing = sess.read.parquet(bands_path)
            # screen against the table MINUS this batch's own ids: on a
            # replay whose append already committed, the batch's docs
            # are in the table — without this anti-join they would pair
            # against their own committed copies and the replayed
            # epoch's log would differ from the original. With it, the
            # log is a pure function of (batch, table-before-batch),
            # so replay converges bit-identically in every crash window.
            before = existing.join(
                F.broadcast(bands.select("doc_id").distinct()),
                "doc_id",
                "left_anti",
            )
            pairs = (
                bands.alias("n")
                .join(
                    before.alias("o"),
                    (F.col("n.band") == F.col("o.band"))
                    & (F.col("n.band_key") == F.col("o.band_key")),
                )
                .select(
                    F.col("n.doc_id").alias("new_id"),
                    F.col("o.doc_id").alias("old_id"),
                )
                .distinct()
            )
            fresh = bands.join(
                existing.select("doc_id").distinct(), "doc_id", "left_anti"
            )
        else:
            pairs = sess.createDataFrame([], "new_id long, old_id long")
            fresh = bands
        out = pairs.withColumn("epoch_id", F.lit(int(epoch_id)).cast("long"))
        _overwrite_partitions(out, log_path, "epoch_id")
        fresh.localCheckpoint(eager=True).write.mode("append").parquet(bands_path)

    return (
        raw.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_video_screen(
    spark: SparkSession,
    watch_dir: str,
    fps_path: str,
    log_path: str,
    checkpoint_dir: str,
    every: int = 8,
):
    """Continuously screen arriving VIDEO clips for near-duplicates
    against a MAINTAINED keyframe-fingerprint table — the streaming
    form of the multimodal_video_fp_incremental batch query, and the
    binary-media twin of :func:`stream_lsh_screen`: each micro-batch of
    (doc_id, content_b64) JSON-lines (1) parses the real VID0 container
    and average-hashes every ``every``-th frame (O(batch) decode work,
    corrupt payloads isolate per item), (2) equi-joins those keyframe
    hashes against the table on the EXACT (slot, hash) inverted-index
    key to log candidate pairs, and (3) folds the batch's fingerprints
    INTO the table so later batches screen against it. Returns the
    StreamingQuery.

    Exactly-once, leg by leg (the stream_lsh_screen ledger applies
    verbatim): the fingerprint append is a keyed anti-join on media_id
    (replayed batches add zero rows); the candidate log is epoch-
    partitioned with dynamic partition overwrite (a replayed epoch
    rewrites identical content); screening runs against the table
    MINUS the batch's own ids, so the log is a pure function of
    (batch, table-before-batch) and replay converges bit-identically.
    Aligned-Hamming verification joins the bounded candidate set back
    to both sides' maintained fingerprints, exactly as the batch query
    does: summed per-slot Hamming reported at <= _V_PAIR_T (12), flagged
    ``would_drop`` at <= _V_DROP (4) — row-for-row parity with the batch
    twin is pinned by test_stream_video_screen_batch_parity.
    """
    import os

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from dataingestionplayground_spark.sources.multimodal import (
        video_keyframe_hashes,
    )

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("content_b64", T.StringType(), True),
        ]
    )
    raw = spark.readStream.schema(schema).json(watch_dir)

    def process_batch(batch_df, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        sess = batch_df.sparkSession
        # deterministic in-batch dedup: one canonical payload per id
        # (min(), not dropDuplicates — the stream_lsh_screen rule)
        batch_one = batch_df.groupBy("doc_id").agg(
            F.min("content_b64").alias("content_b64")
        )
        # malformed base64 would fail the whole micro-batch under ANSI
        # unbase64 — gate on full base64 STRUCTURE first (whole groups
        # of 4, padding only in the final group) so a bad LINE isolates
        # like a bad PAYLOAD does (the decode stage's per-item rule).
        # Alphabet alone is not enough: 'abc' (length % 4 != 0) or
        # 'A==' (padding in a 3-char tail) pass an alphabet check yet
        # still throw under strict decode.
        media = batch_one.filter(
            F.col("content_b64").rlike(
                "^([A-Za-z0-9+/]{4})*([A-Za-z0-9+/]{2}==|[A-Za-z0-9+/]{3}=)?$"
            )
        ).select(
            F.col("doc_id").cast("string").alias("media_id"),
            F.unbase64(F.col("content_b64")).alias("content"),
        )
        # sever lineage before the table we read from is overwritten
        fps = video_keyframe_hashes(media, every=every).localCheckpoint(
            eager=True
        )
        have_table = os.path.isdir(fps_path) and any(
            not e.startswith(("_", ".")) for e in os.listdir(fps_path)
        )
        if have_table:
            from dataingestionplayground_spark.sources.multimodal import (
                VIDEO_DROP_T as _V_DROP,
                VIDEO_PAIR_HAMMING_T as _V_PAIR_T,
            )

            existing = sess.read.parquet(fps_path)
            before = existing.join(
                F.broadcast(fps.select("media_id").distinct()),
                "media_id",
                "left_anti",
            )
            cand = (
                fps.alias("n")
                .join(
                    before.alias("o"),
                    (F.col("n.slot") == F.col("o.slot"))
                    & (F.col("n.w_lo") == F.col("o.w_lo"))
                    & (F.col("n.w_hi") == F.col("o.w_hi")),
                )
                .select(
                    F.col("n.media_id").alias("new_id"),
                    F.col("o.media_id").alias("old_id"),
                )
                .distinct()
            )
            # VERIFY leg — the batch twin's rule applied verbatim
            # (multimodal_video_fp_incremental): join the bounded
            # candidate set back to both sides' maintained fingerprints
            # aligned on slot, sum the per-keyframe Hamming, report at
            # <= _V_PAIR_T, flag auto-drop at <= _V_DROP. The left side
            # (candidates x batch keyframes) is candidate-bounded, so
            # it broadcasts into the table-side join: one scan of the
            # corpus fingerprints, no pair explosion.
            nh = fps.select(
                F.col("media_id").alias("new_id"),
                "slot",
                F.col("w_lo").alias("n_lo"),
                F.col("w_hi").alias("n_hi"),
            )
            oh = before.select(
                F.col("media_id").alias("old_id"),
                "slot",
                F.col("w_lo").alias("o_lo"),
                F.col("w_hi").alias("o_hi"),
            )
            ham = F.bit_count(
                F.col("n_lo").bitwiseXOR(F.col("o_lo"))
            ) + F.bit_count(F.col("n_hi").bitwiseXOR(F.col("o_hi")))
            pairs = (
                oh.join(F.broadcast(cand.join(nh, "new_id")), ["old_id", "slot"])
                .groupBy("new_id", "old_id")
                .agg(F.sum(ham).cast("long").alias("hamming"))
                .filter(F.col("hamming") <= F.lit(_V_PAIR_T))
                .withColumn("would_drop", F.col("hamming") <= F.lit(_V_DROP))
            )
            fresh = fps.join(
                existing.select("media_id").distinct(), "media_id", "left_anti"
            )
        else:
            pairs = sess.createDataFrame(
                [], "new_id string, old_id string, hamming long, would_drop boolean"
            )
            fresh = fps
        out = pairs.withColumn("epoch_id", F.lit(int(epoch_id)).cast("long"))
        _overwrite_partitions(out, log_path, "epoch_id")
        fresh.localCheckpoint(eager=True).write.mode("append").parquet(fps_path)

    return (
        raw.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_scd2_maintain(
    spark: SparkSession,
    watch_dir: str,
    dim_path: str,
    checkpoint_dir: str,
):
    """Continuously maintain an SCD2 dimension from a stream of status
    observations (EVENT_SCHEMA JSON-lines) — the streaming form of the
    oracle-checked ``events_scd2_history`` batch query. Returns the
    StreamingQuery.

    Each micro-batch folds into the stored dimension via
    ``operators.incremental.merge_scd2_dimension``: keyed union of
    change rows + deterministic recanonicalization of
    (valid_to, version, is_current) over ONLY the touched user-hash
    bucket partitions. Exactly-once sits in the set-union class of the
    maintained-artifact ledger (replayed observations collapse on
    their (user, valid_from, event_id) key; the derived columns are a
    pure function of the row set), and the same recompute makes LATE
    observations splice into history exactly as a full rebuild would —
    the property plain close-and-append SCD2 merges lack.
    """
    from dataingestionplayground_spark.operators.incremental import (
        merge_scd2_dimension,
    )

    raw = spark.readStream.schema(EVENT_SCHEMA).json(watch_dir)

    def process_batch(batch_df, epoch_id: int) -> None:
        if not batch_df.isEmpty():
            merge_scd2_dimension(spark, batch_df, dim_path)

    return (
        raw.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_decay_counters(
    spark: SparkSession,
    watch_dir: str,
    rollup_path: str,
    checkpoint_dir: str,
):
    """Continuously maintain the exponentially-decayed activity counters
    (the streaming twin of the oracle-checked ``events_decay_counters``)
    from EVENT_SCHEMA JSON-lines. Returns the StreamingQuery.

    Decay weights against a FIXED reference instant are associative
    (each event's term is a constant), so maintenance is pure addition
    of per-batch partials — but summable partials are NOT
    replay-idempotent, so this sits on the epoch-keyed-staging side of
    the exactly-once ledger with the topk rollup:
    ``merge_decay_rollup`` replaces same-epoch rows instead of
    re-adding them, and the decimal partials combine exactly at read
    time (``read_decay_rollup`` == the batch query, bit for bit).
    """
    from dataingestionplayground_spark.operators.incremental import (
        merge_decay_rollup,
    )

    raw = spark.readStream.schema(EVENT_SCHEMA).json(watch_dir)

    def process_batch(batch_df, epoch_id: int) -> None:
        if not batch_df.isEmpty():
            merge_decay_rollup(spark, batch_df, rollup_path, epoch_id)

    return (
        raw.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


# ----------------------------------------- streaming embedding drift

VEC_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ]
)


def drift_reference(spark: SparkSession, sf_dir: str, n_cells: int = 16):
    """Frozen drift reference from the embeddings table's reference
    snapshot (even vec_ids — the same snapshot rule as the
    oracle-checked batch twin ``vector_embedding_drift``): the seeded
    cell centroids, the reference per-cell occupancy, and the
    reference per-(cell, pos) DECIMAL element sums + counts (for the
    read-time centroid-shift means). All three are cell/dims-bounded
    and collected driver-side — train batch, ship the model as
    literals (the psi_reference / codebook pattern)."""
    from pyspark.sql import functions as F

    from dataingestionplayground_spark.operators.similarity import (
        _assign_cells_matmul,
        _seed_vectors,
    )
    from dataingestionplayground_spark.session import load_table

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    ref = e.filter(F.col("vec_id") % 2 == 0)
    cents = _seed_vectors(ref, "vec_id", "embedding", n_cells)
    cent_rows = [(i, [float(x) for x in v]) for i, v in enumerate(cents)]
    assigned = _assign_cells_matmul(ref, cents, "vec_id", "embedding")
    occ = [
        (int(r["cell"]) if r["cell"] is not None else None, int(r["n"]))
        for r in assigned.groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    ]
    sums = [
        (
            int(r["cell"]) if r["cell"] is not None else None,
            int(r["pos"]),
            r["s"],  # decimal.Decimal from collect — exact transport
            int(r["n"]),
        )
        for r in assigned.select("cell", F.posexplode("embedding").alias("pos", "xf"))
        .groupBy("cell", "pos")
        .agg(
            F.sum(F.col("xf").cast("double").cast("decimal(38,6)")).alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    ]
    return {"n_cells": n_cells, "cents": cent_rows, "occ": occ, "sums": sums}


def stream_embedding_drift(
    spark: SparkSession,
    watch_dir: str,
    reference: dict,
    log_path: str,
    checkpoint_dir: str,
):
    """Continuous embedding-distribution drift maintenance: per
    micro-batch, assign the batch's vectors to the FROZEN reference
    cells and append the epoch's per-cell occupancy and per-(cell,
    pos) DECIMAL element sums to a log partitioned BY EPOCH with
    dynamic partition overwrite — a replayed batch rewrites its own
    epoch partition, so retries are exactly-once (the psi-monitor
    discipline). Decimal sums are associative, so
    :func:`read_embedding_drift`'s cross-epoch combine is EXACTLY the
    batch twin's one-shot aggregation — replay-identity and
    batch-parity are pinned in tests. Per-epoch state is
    cells x (1 + dims) rows regardless of batch size."""
    from pyspark.sql import functions as F

    def process_batch(batch_df, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        from dataingestionplayground_spark.operators.similarity import (
            _assign_cells_matmul,
        )

        cents = [v for _, v in sorted(reference["cents"], key=lambda c: c[0])]
        assigned = _assign_cells_matmul(
            batch_df.select("vec_id", "embedding"), cents, "vec_id", "embedding"
        ).localCheckpoint(eager=True)  # feeds both aggs below once
        occ = assigned.groupBy("cell").agg(
            F.count(F.lit(1)).cast("long").alias("cur_n")
        )
        sums = (
            assigned.select("cell", F.posexplode("embedding").alias("pos", "xf"))
            .groupBy("cell", "pos")
            .agg(
                F.sum(F.col("xf").cast("double").cast("decimal(38,6)")).alias("s"),
                F.count(F.lit(1)).cast("long").alias("n"),
            )
        )
        out = (
            occ.select(
                "cell",
                F.lit(None).cast("int").alias("pos"),
                F.lit(None).cast("decimal(38,6)").alias("s"),
                F.col("cur_n").alias("n"),
            )
            .unionByName(sums.select("cell", "pos", "s", "n"))
            .withColumn("epoch_id", F.lit(int(epoch_id)).cast("long"))
        )
        _overwrite_partitions(out, log_path, "epoch_id")

    raw = spark.readStream.schema(VEC_SCHEMA).json(watch_dir)
    return (
        raw.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_embedding_drift(spark: SparkSession, log_path: str, reference: dict):
    """Combine the maintained per-epoch drift log with the frozen
    reference into the batch twin's exact output shape: (cell, ref_n,
    cur_n, psi_term, centroid_shift). Every number equals the one-shot
    batch computation over (reference snapshot, all streamed rows):
    occupancies are sums of epoch counts, means are cross-epoch
    decimal sums over counts, and the final PSI/shift assembly IS the
    batch operator's own assemble_drift (one implementation — r12
    review). The occupancy combine is a union + groupBy rather than a
    full outer join: NULL cells (zero-norm vectors) must collapse into
    ONE row exactly as the batch groupBy does, and outer-join keys
    never match NULL."""
    from pyspark.sql import functions as F

    from dataingestionplayground_spark.functions import vector as V
    from dataingestionplayground_spark.operators.drift import assemble_drift

    n_cells = reference["n_cells"]
    log = spark.read.parquet(log_path)
    occ_cur = (
        log.filter(F.col("pos").isNull())
        .groupBy("cell")
        .agg(F.sum("n").cast("long").alias("cur_n"))
    )
    ref_occ = spark.createDataFrame(
        reference["occ"], "cell int, ref_n long"
    )
    occ = (
        ref_occ.select("cell", "ref_n", F.lit(0).cast("long").alias("cur_n"))
        .unionByName(
            occ_cur.select(
                "cell", F.lit(0).cast("long").alias("ref_n"), "cur_n"
            )
        )
        .groupBy("cell")
        .agg(
            F.sum("ref_n").cast("long").alias("ref_n"),
            F.sum("cur_n").cast("long").alias("cur_n"),
        )
    )
    cur_cent = (
        log.filter(F.col("pos").isNotNull())
        .groupBy("cell", "pos")
        .agg(
            (
                F.sum(F.col("s")).cast("double")
                / F.sum("n").cast("double")
            ).alias("m")
        )
        .groupBy("cell")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(pos, m))), x -> x.m)"
            ).alias("cur_cent")
        )
    )
    ref_cent = (
        spark.createDataFrame(
            reference["sums"], "cell int, pos int, s decimal(38,6), n long"
        )
        .groupBy("cell", "pos")
        .agg(
            (F.sum("s").cast("double") / F.sum("n").cast("double")).alias("m")
        )
        .groupBy("cell")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(pos, m))), x -> x.m)"
            ).alias("ref_cent")
        )
    )
    shift = ref_cent.join(cur_cent, "cell").select(
        "cell",
        F.round(
            F.lit(1.0) - V.cosine_similarity("ref_cent", "cur_cent"), 6
        ).alias("centroid_shift"),
    )
    return assemble_drift(occ, shift, n_cells)


CHUNK_VEC_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType()),
        T.StructField("documentid", T.StringType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ]
)


def stream_maintain_ivf_index(
    spark: SparkSession,
    watch_dir: str,
    store,
    collection: str,
    checkpoint_dir: str,
):
    """Continuously maintain the persistent IVF assignment table from a
    stream of chunk JSON-lines files (r13 verdict item 5 — the vector
    index joins the rollup/SCD2/drift/dup-rate maintained-artifact
    family). Returns the StreamingQuery.

    Each micro-batch assigns its chunk vectors against the index's
    FROZEN centroids and epoch-stages them into the touched cell
    partitions via ``ann_index.merge_ivf_assignments`` — assignment
    rows are facts keyed by chunk, so a foreachBatch retry of the same
    epoch (and a cross-epoch redelivery of the same keys) converges to
    the identical table. Retrain stays a TRIGGERED event: read
    ``ann_index.ivf_retrain_signal`` after the stream drains; run
    ``compact_ivf_assignments`` between runs to fold committed epochs.
    """
    from dataingestionplayground_spark.ingest.ann_index import (
        merge_ivf_assignments,
    )

    raw = spark.readStream.schema(CHUNK_VEC_SCHEMA).json(watch_dir)

    def process_batch(batch_df, epoch_id: int) -> None:
        if not batch_df.isEmpty():
            merge_ivf_assignments(spark, store, collection, batch_df, epoch_id)

    return (
        raw.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_ship_readiness(
    spark: SparkSession,
    watch_dir: str,
    a_static,
    eval_grams,
    state_path: str,
    checkpoint_dir: str,
):
    """Continuously maintain the release gate's ship-readiness state
    from a stream of documents-table JSON-lines files (r14 verdict item
    6: the gate's three members all have incremental counterparts —
    this is their composition as ONE foreachBatch maintainer). Returns
    the StreamingQuery.

    ``a_static`` (the frozen old snapshot) and ``eval_grams``
    (:func:`~dataingestionplayground_spark.operators.incremental.ship_eval_reference`)
    are stream-static references, frozen before the stream starts (the
    psi_reference discipline). Exactly-once: every sub-table is
    epoch-partitioned and a replayed foreachBatch epoch rewrites
    exactly its own partition — replay identity and batch-gate parity
    are pinned in tests/test_r15_ship_stream.py. Read the gate row at
    any time with
    :func:`~dataingestionplayground_spark.operators.incremental.ship_readiness_over`.
    """
    from pyspark.sql import types as T

    from dataingestionplayground_spark.operators.incremental import (
        merge_ship_state,
    )

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("source", T.StringType(), True),
            T.StructField("lang", T.StringType(), True),
            T.StructField("n_chars", T.IntegerType(), True),
            T.StructField("text", T.StringType(), True),
        ]
    )
    raw = spark.readStream.schema(schema).json(watch_dir)

    def process_batch(batch_df, epoch_id: int) -> None:
        if not batch_df.isEmpty():
            merge_ship_state(
                spark, batch_df, a_static, eval_grams, state_path, epoch_id
            )

    return (
        raw.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
