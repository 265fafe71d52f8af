"""Store-backed, incrementally-maintained vector indexes: instead of
re-deriving quantizers and re-encoding the whole corpus on every search
call, an index is a COLLECTION-SIDE ARTIFACT — built once, maintained
incrementally as documents ingest (the same anti-join-on-key pattern
the chunk sink uses), and read directly by search.

Layout, under the collection store's base path (underscore-prefixed so
collection listings skip it, mirroring Spark's ``_``-file convention)::

    <base>/_indexes/<collection>/pq/codes/          parquet: key, documentid, code_0..m-1
    <base>/_indexes/<collection>/pq/codes_epochs/   merge staging, partitioned by epoch_id
    <base>/_indexes/<collection>/pq/pq.json         params + the frozen codebook block
    <base>/_indexes/<collection>/ivf/cells/         assignments, partitioned by cell
    <base>/_indexes/<collection>/ivf/ivf.json       params + the frozen centroid block
    <base>/_indexes/<collection>/ivfpq/codes/       residual codes, partitioned by cell
    <base>/_indexes/<collection>/ivfpq/ivfpq.json   params + both frozen quantizer blocks

A meta is one JSON file, replaced whole (temp file + ``os.replace``), so
no reader pairs one build's parameters with another's quantizers. Its
quantizer blocks (``cents``, ``coarse``) are stored as little-endian
float64 bytes in base64 — ``{"shape": [rows, dims], "f64": ...}``, a
PQ codebook adding its ``[subspace, cid]`` pairs as ``ids`` — at about
11 bytes per value where decimal JSON text takes about 20, and
:func:`_load_meta` decodes them back to the lists the builds return. A
block that is not a full float matrix (a None from a mean over all-null
positions), and every block of a meta written before the encoding,
stays a JSON list and loads as written.

Quantizers are FROZEN at build time and stored in the meta: maintenance
encodes new vectors against the original centroids (codes from
different codebooks are incomparable — this is how every production
index behaves; rebuild when drift warrants it). At scale the refresh
cost is O(new chunks), and deletions rewrite only the index table.

The IVF assignment table and the IVFPQ code table share one stored
format — rows partitioned by ``cell``, merges staged as epoch-tagged
rows inside the touched cells, rewrites limited to the touched cells —
and one maintainer (:func:`_merge_cells`, :func:`_compact_cells`,
:func:`_refresh_cells`); the two kinds differ only in the encoder that
turns chunk rows into table rows. The PQ table has no cell to
partition by, so its merges stage into a separate epoch-partitioned
table that a compaction folds into the base with one full rewrite.
"""

from __future__ import annotations

import base64
import json
import os
import shutil
from collections.abc import Callable
from typing import NamedTuple

import numpy as np
from pyspark.sql import Column, DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dataingestionplayground_spark.functions import vector as V
from dataingestionplayground_spark.functions.literal import folded_literal, folded_map
from dataingestionplayground_spark.ingest.store import CollectionStore
from dataingestionplayground_spark.operators.similarity import (
    _assign_cells_matmul,
    _l2_assign,
    _pq_codebook,
    _train_centroids,
    pq_encode_with_codebook,
)


# ---------------------------------------------------------------------------
# Query side of the indexed searches. The query set is collected on the
# driver ONCE and everything derived from it (probe cells, ADC lookup
# tables, the vectors for exact rescoring) enters the plan as a folded
# literal (``functions.literal``) — never as a side DataFrame: a
# local-list createDataFrame is RDD-backed, so each broadcast of one ran a
# Spark job of its own.
# ---------------------------------------------------------------------------


class _QuerySet:
    """A caller's query frame, collected on the driver once. Indexed
    search treats the query set as SMALL: its query-side data enters
    the plan as literals whose size grows as |queries| x dims, and the
    caller's frame is never scanned or broadcast again. Rows with a
    null id are dropped; ids must be unique (they key the literals)."""

    def __init__(self, queries: DataFrame, query_id: str, query_vec: str):
        self.query_id, self.query_vec = query_id, query_vec
        self.id_type = queries.schema[query_id].dataType
        self.vec_type = queries.schema[query_vec].dataType
        rows = [
            r for r in queries.select(query_id, query_vec).collect() if r[0] is not None
        ]
        self.ids = [r[0] for r in rows]
        self.vecs = [r[1] for r in rows]
        if len(set(self.ids)) != len(self.ids):
            raise ValueError(f"query ids in column {query_id!r} are not unique")

    def matrix(self) -> np.ndarray:
        return np.vstack([np.asarray(v, dtype=np.float64) for v in self.vecs])

    def row_type(self, name: str, dtype: T.DataType) -> T.StructType:
        """Per-query literal rows: ``q`` (the id, in the caller's type)
        plus one payload field."""
        return T.StructType(
            [T.StructField("q", self.id_type), T.StructField(name, dtype)]
        )

    def empty(self, spark: SparkSession, score: str) -> DataFrame:
        return spark.createDataFrame(
            [],
            T.StructType(
                [
                    T.StructField(self.query_id, self.id_type, True),
                    T.StructField("key", T.StringType(), True),
                    T.StructField(score, T.DoubleType(), True),
                    T.StructField("rank", T.IntegerType(), True),
                ]
            ),
        )

    def exact_topk(self, cand: DataFrame, k: int) -> DataFrame:
        """Exact cosine top-k per query over ``cand`` rows (query id,
        key, embedding); each row's query vector is looked up in one map
        literal keyed by query id. Returns (query_id, key, score, rank)."""
        qid, qvec = self.query_id, self.query_vec
        vectors = folded_map(dict(zip(self.ids, self.vecs)), self.id_type, self.vec_type)
        scored = cand.withColumn(qvec, F.element_at(vectors, F.col(qid))).withColumn(
            "score", V.cosine_similarity("embedding", qvec)
        )
        order = (F.desc_nulls_last("score"), F.asc("key"))
        return _ranked(scored, qid, order, k, self.single).select(qid, "key", "score", "rank")

    @property
    def single(self) -> bool:
        return len(self.ids) == 1


def _ranked(scored: DataFrame, qid: str, order: tuple, k: int, single: bool) -> DataFrame:
    """The first ``k`` rows per query under ``order``, numbered by
    ``rank``. A single query's top-k is a TakeOrdered: each partition's
    k best are merged inside one job, and its one-partition output
    already meets the window's ``partitionBy(qid)``, so ranking adds no
    exchange. Several queries rank through the window alone, whose
    exchange is preceded by a per-partition WindowGroupLimit."""
    if single:
        scored = scored.orderBy(*order).limit(k)
    w = Window.partitionBy(qid).orderBy(*order)
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _adc_topk(
    scored: DataFrame,
    query_id: str,
    offs: list[int],
    depth: int,
    best_per_key: bool,
    single: bool,
) -> DataFrame:
    """ADC top-``depth`` per query over code rows carrying ``__l``, the
    struct (q, lut) of one query's flat lookup table: the distance is m
    array lookups, ``lut[offs[s] + code_s]``. ``best_per_key`` keeps a
    key's smallest distance when soft assignment stores it more than
    once. Returns (query_id, key, adc_dist, rank), ties to the lowest key."""
    dist = " + ".join(
        f"element_at(__l.lut, {off} + code_{s} + 1)" for s, off in enumerate(offs)
    )
    scored = scored.select(
        F.col("__l.q").alias(query_id), "key", F.expr(dist).alias("adc_dist")
    )
    if best_per_key:
        scored = scored.groupBy(query_id, "key").agg(F.min("adc_dist").alias("adc_dist"))
    order = (F.asc("adc_dist"), F.asc("key"))
    return _ranked(scored, query_id, order, depth, single).select(
        query_id, "key", F.round("adc_dist", 9).alias("adc_dist"), "rank"
    )


# ---------------------------------------------------------------------------
# Index storage shared by every kind: the index dir, the meta file, the
# declared table schema and the crash-recoverable table swap.
# ---------------------------------------------------------------------------


def _index_dir(store: CollectionStore, collection: str, kind: str) -> str:
    # _path validates the collection name (and runs crash recovery)
    store._path(collection)
    return os.path.join(store.base_path, "_indexes", collection, kind)


def _meta_path(store: CollectionStore, collection: str, kind: str) -> str:
    return os.path.join(_index_dir(store, collection, kind), f"{kind}.json")


#: meta fields holding a frozen quantizer: vectors (IVF ``cents``, IVFPQ
#: ``coarse``) or ``[subspace, cid, vector]`` codebook rows (PQ and IVFPQ
#: ``cents``)
_BLOCKS = ("cents", "coarse")


def _is_matrix(vecs: list) -> bool:
    """Rows of equal length holding only floats: what float64 bytes
    round-trip exactly."""
    return (
        all(isinstance(v, (list, tuple)) for v in vecs)
        and len({len(v) for v in vecs}) == 1
        and all(isinstance(x, float) for v in vecs for x in v)
    )


def _pack_block(rows: list):
    """A quantizer block as ``{"shape", "f64"}`` (plus ``ids`` for
    codebook rows), or ``rows`` unchanged when they are not a full
    float matrix."""
    if not rows:
        return rows
    out = {}
    if all(
        isinstance(r, (list, tuple)) and len(r) == 3
        and isinstance(r[0], int) and isinstance(r[1], int)
        for r in rows
    ):
        out["ids"] = [[r[0], r[1]] for r in rows]
        vecs = [r[2] for r in rows]
    else:
        vecs = rows
    if not _is_matrix(vecs):
        return rows
    arr = np.asarray(vecs, dtype="<f8")
    out["shape"] = list(arr.shape)
    out["f64"] = base64.b64encode(arr.tobytes()).decode("ascii")
    return out


def _unpack_block(block):
    """The list form of a stored block; a list (a meta written before
    the encoding, or a block that is not a float matrix) as stored."""
    if not isinstance(block, dict):
        return block
    raw = base64.b64decode(block["f64"])
    vecs = np.frombuffer(raw, dtype="<f8").reshape(block["shape"]).tolist()
    if "ids" not in block:
        return vecs
    return [[s, cid, v] for (s, cid), v in zip(block["ids"], vecs)]


def _load_meta(store: CollectionStore, collection: str, kind: str) -> dict:
    path = _meta_path(store, collection, kind)
    if not os.path.exists(path):
        raise FileNotFoundError(
            f"no {kind.upper()} index for collection {collection!r}; "
            f"run build_{kind}_index first"
        )
    with open(path) as f:
        meta = json.load(f)
    for name in _BLOCKS:
        if name in meta:
            meta[name] = _unpack_block(meta[name])
    return meta


def _load_ivf_meta(store: CollectionStore, collection: str) -> dict:
    """The IVF meta under the name the index tests import."""
    return _load_meta(store, collection, "ivf")


def _write_meta(path: str, meta: dict) -> None:
    stored = {k: _pack_block(v) if k in _BLOCKS else v for k, v in meta.items()}
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + ".tmp", "w") as f:
        json.dump(stored, f, separators=(",", ":"))
    os.replace(path + ".tmp", path)  # a reader never sees a partial file


def _ddl(columns: list[str]) -> str:
    """Schema of an index table from its column names, declared so a
    read runs no schema-inference job: ids are strings, the merge epoch
    a long, every other column (codes, cells, cell ranks) an int."""
    types = {"key": "string", "documentid": "string", "epoch_id": "bigint"}
    return ", ".join(f"{c} {types.get(c, 'int')}" for c in columns)


def _pq_columns(meta: dict) -> list[str]:
    return ["key", "documentid", *(f"code_{s}" for s in range(meta["m"]))]


def _declare_epoch(meta_path: str, meta: dict, columns: list[str]) -> None:
    """Record a merge's epoch column in the meta, BEFORE any file
    carries it: a crash before the write leaves an all-NULL column,
    never an undeclared one."""
    if "epoch_id" not in meta.get("columns", ["epoch_id"]):
        meta["columns"] = columns
        _write_meta(meta_path, meta)


def _has_parquet(path: str) -> bool:
    return os.path.isdir(path) and any(
        f.endswith(".parquet") for _, _, files in os.walk(path) for f in files
    )


def _swap_live_dir(tmp: str, live: str) -> None:
    """Crash-recoverable table swap: promote the fully written ``tmp``
    (which MUST be ``live + ".new"``) to ``live``. The complete ``.new``
    directory exists on disk before ``live`` is ever touched, so every
    crash point is recoverable by :func:`_recover_live_dir` (run by
    readers): live missing + ``.new`` present → finish the promotion;
    leftover ``.old`` → clear it. (Renaming ``live`` away before the new
    table is complete would leave a window with no live directory.)"""
    assert tmp == live + ".new", "swap tmp must be the recoverable .new name"
    old = live + ".old"
    if os.path.exists(old):  # leftover from an interrupted prior swap
        shutil.rmtree(old)
    os.rename(live, old)
    os.rename(tmp, live)
    shutil.rmtree(old)


def _recover_live_dir(live: str) -> None:
    """Finish an interrupted :func:`_swap_live_dir`. Only promotes
    ``.new`` when ``live`` is MISSING — that state is reachable solely
    after the writer finished ``.new`` and renamed ``live`` away, so a
    partial ``.new`` (crash mid-write, ``live`` intact) is never
    promoted; the next rewrite simply overwrites it."""
    new = live + ".new"
    old = live + ".old"
    if not os.path.exists(live):
        if os.path.isdir(new):
            os.rename(new, live)
        elif os.path.isdir(old):  # defense in depth: unreachable via
            os.rename(old, live)  # _swap_live_dir, but never strand data
    if os.path.exists(live) and os.path.exists(old):
        shutil.rmtree(old)


def _staleness(
    spark: SparkSession, store: CollectionStore, collection: str, indexed: DataFrame
) -> dict:
    """(missing, orphaned) chunk-key counts of an index table: missing =
    chunks with no index row (ingested after the last refresh);
    orphaned = index rows whose chunk no longer exists (deleted
    documents). One full outer join on key, counted in one action, reads
    each side once: a row without the index side's marker is a missing
    chunk, one without the store side's marker an orphaned index row.
    Counts are of rows, as the two left-anti joins counted them: a key
    stored twice counts twice, and a null key, which matches nothing,
    counts on its own side."""
    keys = store.read(spark, collection).select("key", F.lit(True).alias("__chunk"))
    indexed = indexed.select("key", F.lit(True).alias("__indexed"))
    counts = (
        keys.join(indexed, "key", "full_outer")
        .agg(
            F.count(F.when(F.col("__indexed").isNull(), 1)).alias("missing"),
            F.count(F.when(F.col("__chunk").isNull(), 1)).alias("orphaned"),
        )
        .first()
    )
    return {"missing": counts["missing"], "orphaned": counts["orphaned"]}


def _embedding_dims(spark: SparkSession, store: CollectionStore, collection: str) -> int:
    """Width of the collection's stored embeddings (384 when it is empty)."""
    first = store.read(spark, collection).select("embedding").first()
    return len(first["embedding"]) if first else 384


# ---------------------------------------------------------------------------
# PQ index: compressed CODES per chunk (scan cost), not partitioned.
# ---------------------------------------------------------------------------


def _auto_centroids(n_rows: int) -> int:
    """Codebook-resolution scaling policy: a FROZEN fixed-k codebook's
    ADC code space saturates as the corpus grows — driver-measured raw
    ADC recall@10 at the bench config fell 0.70 (sf0.5, 10k rows) ->
    0.36 (sf1.0, 20k rows) while the exact rerank held 0.88. Auto mode
    steps per-subspace centroid count with corpus size so raw-shortlist
    quality degrades by policy, not by accident; each step 4x's the
    distinguishable code points per subspace while codes stay one byte
    (k <= 256)."""
    if n_rows < 50_000:
        return 16
    if n_rows < 500_000:
        return 64
    return 256


def build_pq_index(
    spark: SparkSession,
    store: CollectionStore,
    collection: str,
    m: int = 8,
    n_centroids: int | str = 16,
    dims: int = 384,
    codebook_mode: str = "kmeans",
) -> dict:
    """Derive the codebook from the collection's current chunks, encode
    every chunk, persist codes + frozen codebook. Returns the metadata
    dict. The codebook is trained driver-held (one seed fetch, then for
    ``'kmeans'`` one assign-and-aggregate corpus scan) and encoding is
    the zero-shuffle kernel stage against it; then the parquet write.

    Defaults: 8 subspaces x 16 kmeans-refined centroids — a 4x8 seeded
    codebook carries 12 bits/vector, too coarse for a usable ADC
    shortlist (bench recall@10 0.12 raw / 0.38 at rerank=50); 8x16
    kmeans + 'auto' rerank depth clears the 0.8 recall floor the bench
    comparator gates.

    ``n_centroids='auto'`` applies the resolution policy
    (:func:`_auto_centroids`): k tracks the corpus size at BUILD time
    and is meta-recorded. The fixed-resolution contract is otherwise
    explicit: the codebook is frozen, refresh never rescales it, so as
    the collection grows the RAW ADC shortlist coarsens (measured:
    recall@10 0.70 -> 0.36 over a 2x corpus at k=16) and the exact
    rerank stage is what holds the gated >=0.8 recall floor
    (scripts/bench_compare.py enforces it on every scale block,
    including sf1.0). Rebuild — getting a fresh auto k — when
    index_staleness or a recall probe warrants it."""
    if dims % m != 0:
        raise ValueError(f"dims {dims} not divisible by m {m}")
    chunks = store.read(spark, collection).select("key", "documentid", "embedding")
    policy = None
    if n_centroids == "auto":
        n_centroids = _auto_centroids(chunks.count())
        policy = "auto"
    n_centroids = int(n_centroids)
    cents = _pq_codebook(chunks, m, n_centroids, dims, "key", "embedding", codebook_mode)
    # seeds come from the k lowest-id vectors: a collection smaller than
    # n_centroids underfills the codebook, and the ADC LUT stride must
    # match the ACTUAL per-subspace centroid count or lookups misalign
    effective = len(cents) // m
    meta = {
        "m": m,
        "n_centroids": effective,
        "dims": dims,
        "codebook_mode": codebook_mode,
        "cents": cents,
    }
    if policy:
        # the resolved k is recorded so a later reader can tell whether
        # this index was sized by the policy or pinned by hand
        meta["n_centroids_policy"] = policy
    idx = _index_dir(store, collection, "pq")
    codes = pq_encode_with_codebook(
        chunks, cents, m, dims, "key", "embedding", extra_cols=("documentid",)
    )
    (
        codes.repartition("documentid")
        .write.mode("overwrite")
        .option("compression", "zstd")
        .parquet(os.path.join(idx, "codes"))
    )
    _write_meta(_meta_path(store, collection, "pq"), meta)
    return meta


def _pq_staging_dir(store: CollectionStore, collection: str) -> str:
    return os.path.join(_index_dir(store, collection, "pq"), "codes_epochs")


def read_pq_codes(spark: SparkSession, store: CollectionStore, collection: str) -> DataFrame:
    """The logical code table: the base build/refresh table plus any
    epoch-staged merge batches (``merge_pq_codes``), deduplicated by
    chunk key with the NEWEST epoch winning (a re-encoded chunk's fresh
    code shadows its base row; base rows read as epoch NULL and lose
    ties last). Search and staleness both read through here, so staged
    codes are searchable before compaction."""
    return _read_pq_codes(spark, store, collection, _load_meta(store, collection, "pq"))


def _read_pq_codes(
    spark: SparkSession, store: CollectionStore, collection: str, meta: dict
) -> DataFrame:
    """:func:`read_pq_codes` with the PQ meta the caller already loaded."""
    codes_path = os.path.join(_index_dir(store, collection, "pq"), "codes")
    _recover_live_dir(codes_path)  # finish any interrupted compaction swap
    schema = _ddl(_pq_columns(meta))
    base = spark.read.schema(schema).parquet(codes_path)
    staging = _pq_staging_dir(store, collection)
    if not _has_parquet(staging):
        return base
    cols = base.columns
    staged = spark.read.schema(f"{schema}, epoch_id bigint").parquet(staging)
    both = (
        base.withColumn("__ep", F.lit(None).cast("long"))
        .select(*cols, "__ep")
        .unionByName(
            staged.withColumn("__ep", F.col("epoch_id").cast("long")).select(
                *cols, "__ep"
            )
        )
    )
    w = Window.partitionBy("key").orderBy(F.desc_nulls_last("__ep"))
    return (
        both.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__ep", "__rn")
    )


def merge_pq_codes(
    spark: SparkSession,
    store: CollectionStore,
    collection: str,
    batch: DataFrame,
    epoch_id: int,
) -> int:
    """Epoch-staged code APPEND for the PQ index: encode a chunk batch
    against the FROZEN codebook and stage it as the epoch's own
    partition — a foreachBatch retry rewrites exactly its own epoch
    directory (the drift-log discipline), so replays converge
    byte-identically, and a key re-delivered across epochs is shadowed
    at read time (newest epoch wins). Fold committed epochs into the
    base table with :func:`compact_pq_codes`. Returns rows staged."""
    meta = _load_meta(store, collection, "pq")
    codes = pq_encode_with_codebook(
        batch.select("key", "documentid", "embedding"),
        meta["cents"],
        meta["m"],
        meta["dims"],
        "key",
        "embedding",
        extra_cols=("documentid",),
    ).withColumn("epoch_id", F.lit(int(epoch_id)).cast("long"))
    # encoded once, counted in the same checkpoint action, written once
    staged = Observation()
    codes = codes.observe(staged, F.count(F.lit(1)).alias("n")).localCheckpoint(eager=True)
    (
        codes.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("epoch_id")
        .option("compression", "zstd")
        .parquet(_pq_staging_dir(store, collection))
    )
    return staged.get["n"]


def compact_pq_codes(spark: SparkSession, store: CollectionStore, collection: str) -> int:
    """Fold staged epoch partitions into the base code table (the
    refresh rewrite pattern: write to ``codes.new``, then the
    crash-recoverable :func:`_swap_live_dir`) and clear the staging
    area. Run only AFTER the maintaining stream's checkpoint has
    committed those epochs. Returns staged rows folded."""
    staging = _pq_staging_dir(store, collection)
    if not _has_parquet(staging):
        return 0
    n = spark.read.parquet(staging).count()
    merged = read_pq_codes(spark, store, collection).localCheckpoint(eager=True)
    codes_path = os.path.join(_index_dir(store, collection, "pq"), "codes")
    tmp = codes_path + ".new"
    merged.repartition("documentid").write.mode("overwrite").option(
        "compression", "zstd"
    ).parquet(tmp)
    _swap_live_dir(tmp, codes_path)
    shutil.rmtree(staging)
    return n


def index_staleness(spark: SparkSession, store: CollectionStore, collection: str) -> dict:
    """(missing, orphaned) chunk-key counts of the PQ code table
    (see :func:`_staleness`)."""
    return _staleness(spark, store, collection, read_pq_codes(spark, store, collection))


def refresh_pq_index(spark: SparkSession, store: CollectionStore, collection: str) -> dict:
    """Incremental maintenance: encode ONLY chunks without a code row
    (anti-join on key) against the frozen codebook and append; drop
    code rows for deleted chunks (filtered rewrite, only when needed).
    Staged merge epochs (``merge_pq_codes``) are folded into the base
    first, so the reconcile below sees one authoritative table.
    Returns {"appended": n, "removed": n}."""
    compact_pq_codes(spark, store, collection)
    meta = _load_meta(store, collection, "pq")
    m, dims = meta["m"], meta["dims"]
    idx = _index_dir(store, collection, "pq")
    codes_path = os.path.join(idx, "codes")
    chunks = store.read(spark, collection).select("key", "documentid", "embedding")
    codes = spark.read.schema(_ddl(_pq_columns(meta))).parquet(codes_path)

    new = chunks.join(codes.select("key"), "key", "left_anti")
    appended = new.count()
    if appended:
        (
            pq_encode_with_codebook(
                new, meta["cents"], m, dims, "key", "embedding",
                extra_cols=("documentid",),
            )
            .repartition("documentid")
            .write.mode("append")
            .option("compression", "zstd")
            .parquet(codes_path)
        )
        codes = spark.read.schema(_ddl(_pq_columns(meta))).parquet(codes_path)

    orphaned = codes.join(chunks.select("key"), "key", "left_anti").count()
    if orphaned:
        kept = codes.join(chunks.select("key"), "key", "left_semi")
        kept = kept.localCheckpoint(eager=True)  # sever lineage before rewrite
        tmp = codes_path + ".new"
        kept.repartition("documentid").write.mode("overwrite").option(
            "compression", "zstd"
        ).parquet(tmp)
        _swap_live_dir(tmp, codes_path)
    return {"appended": appended, "removed": orphaned}


def _pq_luts(meta: dict, E: np.ndarray) -> np.ndarray:
    """ADC lookup tables, one row per query vector in ``E``, aligned
    with ``meta["cents"]``: the driver-side twin of the SQL LUT in
    :func:`~...operators.similarity.pq_adc_rank`, accumulated the same
    way (float64, sequentially over the ``dsub`` dimensions), so the
    distances — and their 9-digit rounding — are identical."""
    dsub = meta["dims"] // meta["m"]
    sub = np.asarray([int(c[0]) for c in meta["cents"]]) * dsub
    cents = np.asarray([c[2] for c in meta["cents"]], dtype=np.float64)
    lut = np.zeros((E.shape[0], len(sub)))
    for i in range(dsub):
        d = E[:, sub + i] - cents[None, :, i]
        lut = lut + d * d
    return lut


def pq_search_indexed(
    spark: SparkSession,
    store: CollectionStore,
    collection: str,
    queries: DataFrame,
    k: int = 10,
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    rerank: int | str | None = None,
) -> DataFrame:
    """ADC top-k straight off the persisted code table: the corpus-side
    scan reads (key, code_0..m-1) — no embeddings, no codebook
    derivation, no encode. Returns (query_id, key, adc_dist, rank).

    The query set is collected on the driver once and must be small:
    each query's lookup table is computed there from the frozen
    codebook and reaches the code scan as one folded literal (batch ADC
    over a large query set belongs to the operator-level
    :func:`~...operators.similarity.pq_adc_search` and ``pq_adc_rerank``).

    With ``rerank=N``, the code-only ADC pass prunes to an N-deep
    shortlist per query, then full-precision vectors are fetched for
    ONLY the shortlisted keys (broadcast join into the collection) and
    exact cosine picks the final top-k — the amortized, store-backed
    twin of :func:`~...operators.similarity.pq_adc_rerank`: ADC's
    quantization recall loss is largely recovered while the scan stays
    code-only. ``rerank='auto'`` uses the production depth 16*k: a
    fixed shallow depth starves recall when the code resolution is
    coarse relative to the corpus; recall@10 is monotone in depth — a
    deeper ADC shortlist is a superset, and exact-cosine top-k over a
    superset can only keep or gain true neighbors — so 16*k trades a
    slightly larger broadcast for the recall floor the bench gates at
    >=0.8. Returns (query_id, key, score, rank)."""
    if rerank == "auto":
        rerank = 16 * k
    meta = _load_meta(store, collection, "pq")
    qs = _QuerySet(queries, query_id, query_vec)
    if not qs.ids:
        return qs.empty(spark, "score" if rerank else "adc_dist")
    luts = _pq_luts(meta, qs.matrix()).tolist()
    rows = [{"q": q, "lut": lut} for q, lut in zip(qs.ids, luts)]
    # every query scores every code row: explode the one LUT literal
    lut_rows = folded_literal(rows, T.ArrayType(qs.row_type("lut", T.ArrayType(T.DoubleType()))))
    scored = _read_pq_codes(spark, store, collection, meta).withColumn(
        "__l", F.explode(lut_rows)
    )
    offs = [s * meta["n_centroids"] for s in range(meta["m"])]
    adc = _adc_topk(
        scored, query_id, offs, max(k, rerank) if rerank else k,
        best_per_key=False, single=qs.single,
    )
    if not rerank:
        return adc
    short = adc.select(query_id, "key")  # shortlist x |queries|: tiny
    vecs = store.read(spark, collection).select("key", "embedding")
    return qs.exact_topk(vecs.join(F.broadcast(short), "key"), k)


# ---------------------------------------------------------------------------
# Cell-partitioned index tables. The IVF index persists each chunk's
# coarse CELL ASSIGNMENT and the IVFPQ index its residual-PQ codes, both
# partitioned by cell — so a search with n_probe cells triggers parquet
# PARTITION PRUNING and never reads the other cells' files at all. Both
# freeze their coarse centroids at build time; maintenance encodes only
# new chunks (anti-join) and rewrites only the affected cell partitions.
# ---------------------------------------------------------------------------


def _coarse_centroids(
    chunks: DataFrame, n_cells: int, centroid_mode: str, kmeans_iters: int
) -> list:
    """Coarse centroid vectors, trained driver-held (row i is cell i):
    ``'seed'`` takes the lowest-key chunks; ``'kmeans'`` refines them
    with the deterministic decimal-routed Lloyd iterations;
    ``'sampled'`` converges on a bounded driver-side sample first and
    spends the distributed iterations refining. A k-means cell that
    wins no chunk is dropped, so there can be fewer than ``n_cells``."""
    cents = _train_centroids(chunks, n_cells, centroid_mode, kmeans_iters, "key", "embedding")
    return [v for _, v in cents]


def _assign_ivf(meta: dict, chunks: DataFrame) -> DataFrame:
    """IVF table rows (key, documentid[, cell_rank, cell_1], cell) for
    chunk rows: each chunk in its argmax-cosine cell, with soft
    assignment (``assign_top > 1``) also in its next-nearest cells
    (within ``assign_margin`` of the best when set), each copy carrying
    its rank and the chunk's primary cell. The fan-out is part of the
    frozen quantizer, so build, merge and refresh all assign through
    here and maintained == rebuilt holds."""
    top = int(meta.get("assign_top", 1))
    soft = top > 1
    return _assign_cells_matmul(
        chunks, meta["cents"], "key", "embedding",
        extra_cols=("documentid",), keep=top, emit_rank=soft,
        soft_margin=meta.get("assign_margin"),
    ).select("key", "documentid", *(("cell_rank", "cell_1") if soft else ()), "cell")


def _residualize(
    chunks: DataFrame, coarse: list, dims: int, keep: int = 1
) -> DataFrame:
    """(key, documentid, cell, res) — L2 nearest coarse cell(s) among
    the ``coarse`` centroid vectors (ties to the lowest id) + the
    double-valued residual, via the in-row expression assigner shared
    with the batch operator. ``keep > 1`` is the IVFADC face of soft
    assignment: a key is residual-encoded
    against EACH of its ``keep`` nearest cells (the residual, and so
    the stored code, is per-cell)."""
    asg = _l2_assign(
        chunks,
        coarse,
        "embedding",
        "key",
        dims,
        keep=max(1, int(keep)),
        extra_cols=("documentid",),
    )
    return asg.withColumnRenamed("__res", "res").withColumnRenamed("centroid_id", "cell")


def _encode_ivfpq(meta: dict, chunks: DataFrame) -> DataFrame:
    """IVFPQ table rows (key, documentid, code_0..m-1, cell) for chunk
    rows: each chunk's residual against its ``assign_top`` nearest
    frozen coarse cells, PQ-encoded with the frozen residual codebook."""
    residuals = _residualize(
        chunks, meta["coarse"], meta["dims"], keep=int(meta.get("assign_top", 1))
    )
    return pq_encode_with_codebook(
        residuals, meta["cents"], meta["m"], meta["dims"],
        "key", "res", extra_cols=("documentid", "cell"),
    ).select(*_pq_columns(meta), "cell")


class _CellKind(NamedTuple):
    """One kind of cell-partitioned index: its dir and meta file name,
    the table's dir under it, the column set a meta predating its
    ``columns`` field implies, and the encoder that turns chunk rows
    into table rows (key, documentid, *payload, cell) against the
    frozen quantizers."""

    name: str
    table: str
    legacy_columns: Callable[[dict], list[str]]
    encode: Callable[[dict, DataFrame], DataFrame]


_IVF = _CellKind("ivf", "cells", lambda meta: ["key", "documentid", "cell"], _assign_ivf)
_IVFPQ = _CellKind("ivfpq", "codes", lambda meta: [*_pq_columns(meta), "cell"], _encode_ivfpq)


def _cells_path(store: CollectionStore, collection: str, kind: _CellKind) -> str:
    return os.path.join(_index_dir(store, collection, kind.name), kind.table)


def _read_cells(
    spark: SparkSession,
    store: CollectionStore,
    collection: str,
    kind: _CellKind,
    meta: dict,
) -> DataFrame:
    """The table read with the column set its ``meta`` (loaded by the
    caller) records. An index whose meta predates that field is
    inferred — mergeSchema, because a merge stages epoch-tagged rows
    next to epoch-less base/refresh rows (read back as epoch_id NULL).
    A table whose every cell partition has been deleted (refresh drops
    emptied partitions) is an EMPTY frame, since a dir with no data
    files fails inference."""
    path = _cells_path(store, collection, kind)
    if not _has_parquet(path):
        return spark.createDataFrame([], _ddl(meta.get("columns", kind.legacy_columns(meta))))
    if "columns" not in meta:
        return spark.read.option("mergeSchema", "true").parquet(path)
    return spark.read.schema(_ddl(meta["columns"])).parquet(path)


def _in_cells(cells: list) -> Column:
    """``cell IN (cells)``, also matching a NULL cell when ``cells``
    holds None (IN never matches NULL)."""
    cond = F.col("cell").isin([c for c in cells if c is not None])
    return cond | F.col("cell").isNull() if None in cells else cond


def _write_cells(df: DataFrame, path: str, mode: str) -> None:
    """Write ``df`` into the cell-partitioned table at ``path``. An
    overwrite is dynamic — it replaces only the cell partitions present
    in ``df`` — and is set on the writer, so the session conf is never
    changed."""
    (
        df.repartition("cell")
        .write.mode(mode)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("cell")
        .option("compression", "zstd")
        .parquet(path)
    )


def _merge_cells(
    spark: SparkSession,
    store: CollectionStore,
    collection: str,
    kind: _CellKind,
    batch: DataFrame,
    epoch_id: int,
) -> int:
    """Epoch-staged merge of a chunk batch into the touched cells (see
    :func:`merge_ivf_assignments`). Returns cell partitions touched."""
    meta = _load_meta(store, collection, kind.name)
    fresh = (
        kind.encode(meta, batch.select("key", "documentid", "embedding"))
        .withColumn("epoch_id", F.lit(int(epoch_id)).cast("long"))
        .localCheckpoint(eager=True)  # consumed for cells, keys, and the write
    )
    hot = [r["cell"] for r in fresh.select("cell").distinct().collect()]
    if not hot:
        return 0
    existing = _read_cells(spark, store, collection, kind, meta)
    if "epoch_id" not in existing.columns:
        existing = existing.withColumn("epoch_id", F.lit(None).cast("long"))
    payload = [c for c in fresh.columns if c not in ("key", "documentid", "cell", "epoch_id")]
    for c in payload:
        if c not in existing.columns:  # a soft IVF table written before rank columns
            existing = existing.withColumn(c, F.lit(None).cast("int"))
    out_cols = ["key", "documentid", *payload, "epoch_id", "cell"]
    _declare_epoch(_meta_path(store, collection, kind.name), meta, out_cols)
    kept = (
        existing.filter(_in_cells(hot))
        .filter(F.col("epoch_id").isNull() | (F.col("epoch_id") != int(epoch_id)))
        .join(fresh.select("key"), "key", "left_anti")
        .select(*out_cols)
    )
    merged = kept.unionByName(fresh.select(*out_cols)).localCheckpoint(eager=True)
    _write_cells(merged, _cells_path(store, collection, kind), "overwrite")
    return len(hot)


def _compact_cells(
    spark: SparkSession, store: CollectionStore, collection: str, kind: _CellKind
) -> int:
    """Fold epoch-tagged rows down to epoch-NULL rows (see
    :func:`compact_ivf_assignments`). Returns cell partitions rewritten."""
    meta = _load_meta(store, collection, kind.name)
    table = _read_cells(spark, store, collection, kind, meta)
    if "epoch_id" not in table.columns:
        return 0
    staged = [
        r["cell"]
        for r in table.filter(F.col("epoch_id").isNotNull()).select("cell").distinct().collect()
    ]
    if not staged:
        return 0
    payload = [c for c in table.columns if c not in ("key", "documentid", "cell", "epoch_id")]
    folded = (
        table.filter(_in_cells(staged))
        .withColumn("epoch_id", F.lit(None).cast("long"))
        .select("key", "documentid", *payload, "epoch_id", "cell")
        .localCheckpoint(eager=True)
    )
    _write_cells(folded, _cells_path(store, collection, kind), "overwrite")
    return len(staged)


def _refresh_cells(
    spark: SparkSession, store: CollectionStore, collection: str, kind: _CellKind
) -> dict:
    """Reconcile the table with the store (see :func:`refresh_ivf_index`).
    Returns {"appended": n, "removed": n}."""
    meta = _load_meta(store, collection, kind.name)
    path = _cells_path(store, collection, kind)
    chunks = store.read(spark, collection).select("key", "documentid", "embedding")
    table = _read_cells(spark, store, collection, kind, meta)

    new = chunks.join(table.select("key"), "key", "left_anti")
    appended = new.count()
    if appended:
        _write_cells(kind.encode(meta, new), path, "append")
        table = _read_cells(spark, store, collection, kind, meta)

    orphans = table.join(chunks.select("key"), "key", "left_anti")
    removed = orphans.count()
    if removed:
        hot = [r["cell"] for r in orphans.select("cell").distinct().collect()]
        kept = (
            table.filter(_in_cells(hot))
            .join(chunks.select("key"), "key", "left_semi")
            .localCheckpoint(eager=True)
        )
        survivors = {r["cell"] for r in kept.select("cell").distinct().collect()}
        if survivors:
            _write_cells(kept, path, "overwrite")
        # a cell whose every row was deleted has no surviving row, so the
        # dynamic overwrite never rewrites it: drop its partition directory,
        # or its stale rows are reported as removed on every refresh
        for c in hot:
            if c not in survivors:
                part = "__HIVE_DEFAULT_PARTITION__" if c is None else c
                shutil.rmtree(os.path.join(path, f"cell={part}"), ignore_errors=True)
    return {"appended": appended, "removed": removed}


def _retrain_signal(
    spark: SparkSession,
    store: CollectionStore,
    collection: str,
    kind: _CellKind,
    skew_threshold: float,
) -> dict:
    """Occupancy skew of the maintained table (see
    :func:`ivf_retrain_signal`): one cell-count agg, never a corpus scan."""
    meta = _load_meta(store, collection, kind.name)
    counts = (
        _read_cells(spark, store, collection, kind, meta)
        .groupBy("cell")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .collect()
    )
    n_assigned = sum(r["n"] for r in counts)
    max_cell = max((r["n"] for r in counts), default=0)
    n_cells = int(meta["n_cells"])
    max_share = (max_cell / n_assigned) if n_assigned else 0.0
    skew = max_share * n_cells
    return {
        "n_cells": n_cells,
        "n_assigned": n_assigned,
        "max_cell_share": round(max_share, 6),
        "skew": round(skew, 6),
        "retrain": bool(skew >= skew_threshold),
    }


# ---------------------------------------------------------------------------
# IVF index: the cell assignment, partitioned by cell — the index turns
# top-k from a corpus scan into a probed-cells scan.
# ---------------------------------------------------------------------------


def build_ivf_index(
    spark: SparkSession,
    store: CollectionStore,
    collection: str,
    n_cells: int = 16,
    centroid_mode: str = "kmeans",
    kmeans_iters: int = 2,
    assign_top: int = 1,
    assign_margin: float | None = None,
) -> dict:
    """Derive ``n_cells`` centroids (``'seed'``: the lowest-key chunks;
    ``'kmeans'`` — the default — refines them with the deterministic
    decimal-routed Lloyd iterations; ``'sampled'`` converges on a
    bounded driver-side sample first and spends the distributed
    iterations refining), assign every chunk to its argmax-cosine cell
    with the Arrow matmul stage, and persist the assignment partitioned
    BY CELL. Training is driver-held: one seed fetch, then per kmeans
    iteration one corpus scan and one (cell, pos) aggregate whose
    n_cells x dims means come back as plain arrays; the meta's
    ``n_cells`` is the number of centroids trained (a k-means cell that
    wins no chunk is dropped) and the assignment reads the centroid
    vectors from the meta. Then one partitioned write — all one-time
    build cost.

    kmeans centroids matter here: raw lowest-key seeds land inside the
    corpus's natural clusters unevenly (the bench embeddings are
    label-clustered), measured at recall@10 0.68 with n_probe=2 of 8
    seeded cells vs ~1.0 with 16 kmeans cells probing the same corpus
    fraction (4).

    ``assign_top`` is SOFT assignment: each chunk is stored in its
    ``assign_top`` nearest cells, so a neighborhood that straddles a
    cell boundary stays reachable from both sides. This is the
    structural recall lever for a k-means partition whose boundaries
    cut query neighborhoods — measured on the sf0.1 bench embeddings
    (16 cells, n_probe=4): recall@10 0.66 at assign_top=1 vs 0.86 at
    assign_top=2, robust across seedings, where centroid-training
    improvements alone moved recall by seed luck (0.58-0.91). Cost: the
    assignment table and each probed cell hold ``assign_top``x rows
    (the full-precision vectors are NOT duplicated — candidates
    semi-join into the collection). Recorded in the meta; merge/refresh
    maintain it so maintained == rebuilt parity holds.

    ``assign_margin`` (boundary-only fan-out): with ``assign_top > 1``,
    store a secondary copy ONLY when its cosine similarity is within
    ``assign_margin`` of the chunk's best cell — chunks deep inside a
    cell stay single-assigned, so the assignment table grows by the
    measured boundary fraction instead of a flat ``assign_top``x while
    boundary-straddling neighborhoods keep their second entry point
    (the recall lever). Frozen into the meta like assign_top:
    merge/refresh reproduce the same fan-out rule, so maintained ==
    rebuilt still holds."""
    chunks = store.read(spark, collection).select("key", "documentid", "embedding")
    cents = _coarse_centroids(chunks, n_cells, centroid_mode, kmeans_iters)
    meta = {
        "n_cells": len(cents),
        "centroid_mode": centroid_mode,
        "assign_top": max(1, int(assign_top)),
        "assign_margin": (
            float(assign_margin) if assign_margin is not None else None
        ),
        "cents": cents,
    }
    assigned = _assign_ivf(meta, chunks)
    # the column set lets readers declare the table's schema
    meta["columns"] = assigned.columns
    (
        assigned.repartition("cell")
        .write.mode("overwrite")
        .partitionBy("cell")
        .option("compression", "zstd")
        .parquet(_cells_path(store, collection, _IVF))
    )
    _write_meta(_meta_path(store, collection, "ivf"), meta)
    return meta


def read_ivf_assignments(
    spark: SparkSession, store: CollectionStore, collection: str
) -> DataFrame:
    meta = _load_meta(store, collection, "ivf")
    return _read_cells(spark, store, collection, _IVF, meta)


def ivf_index_staleness(
    spark: SparkSession, store: CollectionStore, collection: str
) -> dict:
    """(missing, orphaned) chunk-key counts for the IVF assignment table
    — the IVF twin of ``index_staleness``."""
    return _staleness(spark, store, collection, read_ivf_assignments(spark, store, collection))


def ensure_index(
    spark: SparkSession,
    store: CollectionStore,
    collection: str,
    kind: str,
    **build_kwargs,
) -> dict:
    """Front door for index-backed search (the CLI path): build the
    ``kind`` index if absent, refresh it if stale, no-op if current.
    Returns {"built": bool, "appended": n, "removed": n}."""
    if kind not in ("pq", "ivf", "ivfpq"):
        raise ValueError(
            f"unknown index kind {kind!r} (expected 'pq', 'ivf', or 'ivfpq')"
        )
    # build_* and refresh_* are looked up as module attributes at call
    # time, so a wrapper installed on the module (a tracer) sees the call
    if not os.path.exists(_meta_path(store, collection, kind)):
        if kind in ("pq", "ivfpq"):
            if "dims" not in build_kwargs:  # the probe is a Spark job
                build_kwargs["dims"] = _embedding_dims(spark, store, collection)
            build = build_pq_index if kind == "pq" else build_ivfpq_index
            build(spark, store, collection, **build_kwargs)
        else:
            build_ivf_index(spark, store, collection, **build_kwargs)
        return {"built": True, "appended": 0, "removed": 0}
    stale = {
        "pq": index_staleness,
        "ivf": ivf_index_staleness,
        "ivfpq": ivfpq_index_staleness,
    }[kind](spark, store, collection)
    if stale["missing"] or stale["orphaned"]:
        refresh = {
            "pq": refresh_pq_index,
            "ivf": refresh_ivf_index,
            "ivfpq": refresh_ivfpq_index,
        }[kind]
        return {"built": False, **refresh(spark, store, collection)}
    return {"built": False, "appended": 0, "removed": 0}


def refresh_ivf_index(spark: SparkSession, store: CollectionStore, collection: str) -> dict:
    """Incremental maintenance against the FROZEN centroids: assign only
    chunks without an assignment row (anti-join on key) and append into
    their cell partitions; drop rows for deleted chunks by rewriting only
    the cell partitions that contained them (dynamic partition
    overwrite: the untouched partitions' files stay in place), and
    remove the partition of a cell left with no row."""
    return _refresh_cells(spark, store, collection, _IVF)


def merge_ivf_assignments(
    spark: SparkSession,
    store: CollectionStore,
    collection: str,
    batch: DataFrame,
    epoch_id: int,
) -> int:
    """Epoch-staged streaming maintenance of the IVF assignment table —
    the merge_dup_rate_state discipline applied to the vector index: at
    100 TB a full IVF retrain per crawl increment is the textbook
    scale-killer, so the index ingests increments like every other
    maintained artifact.

    Each batch of chunk rows (key, documentid, embedding) is assigned
    against the FROZEN centroids from the index metadata (one broadcast
    Arrow matmul stage — the corpus never shuffles), with the soft fan-out
    of :func:`build_ivf_index`, and staged into the touched cell
    partitions tagged with ``epoch_id``. Exactly-once under
    foreachBatch retries: merging epoch E first drops rows already
    tagged E in the touched cells, then drops stored rows whose key
    re-arrives in this batch (same-embedding cross-epoch redelivery
    upserts in place — identical embedding lands in the identical cell),
    then writes kept + fresh via dynamic partition overwrite, so a
    replay converges to the identical table. Base rows from
    :func:`build_ivf_index` (no epoch column, read as epoch NULL) are
    never replaced — batch seed + streaming maintenance composes.

    Contract: APPEND/UPSERT ingest. An embedding UPDATE that moves a key
    to a different cell, and deletions, reconcile through
    :func:`refresh_ivf_index` (which anti-joins the store both ways) —
    the maintainer never reads untouched cell partitions, that is the
    point. Retrain is a SIGNAL, not a side effect: read
    :func:`ivf_retrain_signal` after merging. Returns cell partitions
    touched."""
    return _merge_cells(spark, store, collection, _IVF, batch, epoch_id)


def compact_ivf_assignments(
    spark: SparkSession, store: CollectionStore, collection: str
) -> int:
    """Fold per-epoch assignment rows down to epoch-NULL rows (one per
    key — assignments are facts, not counts, so the fold is just
    dropping the epoch tag). Run only AFTER the maintaining stream's
    checkpoint has committed those epochs (the compact_topk_rollup
    caveat: a replayed compacted-away epoch can no longer find its rows
    and would re-append them). Returns cell partitions rewritten.

    Only cells that actually HOLD epoch-tagged rows are rewritten
    (dynamic partition overwrite of the touched cells), and a table
    with nothing staged short-circuits to 0, so repeated compaction of
    a quiet index is not a full-table rewrite."""
    return _compact_cells(spark, store, collection, _IVF)


def ivf_retrain_signal(
    spark: SparkSession,
    store: CollectionStore,
    collection: str,
    skew_threshold: float = 2.0,
) -> dict:
    """Drift-triggered retrain signal over the MAINTAINED assignment
    table — the vector_cell_balance diagnostic pointed at the live
    index instead of an ad-hoc quantization. The frozen centroids go
    stale as the corpus drifts; the cheap tell is occupancy skew:
    ``skew = max cell share / ideal share (1/n_cells)``. When it
    crosses ``skew_threshold`` the hottest probe melts a reducer and
    ADC/rerank cost concentrates — retrain (re-run build_ivf_index)
    instead of merging further. Reading the signal costs one
    assignment-table agg (cell counts), never a corpus scan."""
    return _retrain_signal(spark, store, collection, _IVF, skew_threshold)


def ivf_search_indexed(
    spark: SparkSession,
    store: CollectionStore,
    collection: str,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 2,
    query_id: str = "query_id",
    query_vec: str = "query_vec",
) -> DataFrame:
    """Exact cosine top-k over only the ``n_probe`` nearest cells per
    query. The query set is collected on the driver once and must be
    small: probe cells are computed there against the frozen centroid
    matrix, so the assignment scan carries a LITERAL cell filter —
    static parquet partition pruning, visible as PartitionFilters in the
    plan — and each assignment row meets the queries probing its cell
    through one folded map literal; full-precision vectors are then
    read for candidate keys only (join into the collection).
    Returns (query_id, key, score, rank)."""
    meta = _load_meta(store, collection, "ivf")
    qs = _QuerySet(queries, query_id, query_vec)
    if not qs.ids:
        return qs.empty(spark, "score")
    C = np.asarray(meta["cents"], dtype=np.float64)
    E = qs.matrix()
    cn = np.sqrt((C * C).sum(axis=1))
    en = np.sqrt((E * E).sum(axis=1))
    with np.errstate(divide="ignore", invalid="ignore"):
        sims = (E @ C.T) / (en[:, None] * cn[None, :])
    sims = np.where(np.isfinite(sims), sims, -np.inf)
    order = np.argsort(-sims, axis=1, kind="stable")[:, :n_probe]  # ties -> lowest cell
    # cell -> the queries probing it, each with its full probe list
    by_cell: dict[int, list] = {}
    for qid, cells in zip(qs.ids, order.tolist()):
        for c in cells:
            by_cell.setdefault(c, []).append({"q": qid, "p": cells})
    assigned = _read_cells(spark, store, collection, _IVF, meta).filter(
        F.col("cell").isin(sorted(by_cell))  # literal -> static partition pruning
    )
    probes = folded_map(
        by_cell, T.IntegerType(), T.ArrayType(qs.row_type("p", T.ArrayType(T.IntegerType())))
    )
    cand = assigned.withColumn("__p", F.explode(F.element_at(probes, F.col("cell"))))
    soft = int(meta.get("assign_top", 1)) > 1
    if soft and "cell_rank" in assigned.columns:
        # soft assignment stores a key in several cells; a (query, key)
        # pair reachable through two probed cells must score once, not
        # occupy two of the k result slots. With rank info stored
        # (cell_rank + cell_1 columns) the duplicate copy is dropped
        # by a row FILTER — keep a secondary copy only when this query
        # did NOT probe the key's primary cell — so no (query, key)-keyed
        # dedup Exchange is added (measured: the shuffle was +1.1 s on
        # the sf1.0 bench row).
        cand = cand.filter(
            (F.coalesce(F.col("cell_rank"), F.lit(1)) == 1)
            | ~F.coalesce(F.array_contains("__p.p", F.col("cell_1")), F.lit(False))
        )
    cand = cand.select(F.col("__p.q").alias(query_id), "key")
    if soft and "cell_rank" not in assigned.columns:
        # tables written before the rank schema fall back to the dedup shuffle
        cand = cand.dropDuplicates([query_id, "key"])
    vecs = store.read(spark, collection).select("key", "embedding")
    # `cand` is ~n_probe/n_cells of the whole corpus — distributed-sized,
    # NEVER broadcast it. AQE still picks a broadcast join at runtime
    # when the probed cells happen to be small.
    return qs.exact_topk(vecs.join(cand, "key"), k)


# ---------------------------------------------------------------------------
# IVFPQ index: the IVFADC composition (Jégou et al. 2011) as a PERSISTED
# artifact. Where the PQ index compresses the scan and the IVF index
# prunes it, IVFPQ does both: residual-PQ codes partitioned by coarse
# cell, so a probed search partition-prunes to n_probe cells AND reads
# only int codes inside them. Both quantizers are frozen at build.
# ---------------------------------------------------------------------------


def build_ivfpq_index(
    spark: SparkSession,
    store: CollectionStore,
    collection: str,
    n_cells: int = 8,
    m: int = 8,
    n_centroids: int = 16,
    dims: int = 384,
    centroid_mode: str = "kmeans",
    kmeans_iters: int = 2,
    codebook_mode: str = "kmeans",
    assign_top: int = 1,
) -> dict:
    """Derive coarse centroids, PQ-train the RESIDUAL codebook, encode
    every chunk, persist codes partitioned by cell + frozen quantizers.
    Residual training is the accuracy step: after subtracting the cell
    centroid the codebook models a zero-centered ball, so the same m x k
    budget spends its precision on local structure.

    ``assign_top``: soft coarse assignment — each chunk is
    residual-encoded into its N nearest cells (a per-cell residual, so
    a per-cell code), the IVFADC twin of build_ivf_index's recall
    lever; the codebook itself trains on the argmax residuals only
    (keep=1), so assign_top changes WHERE codes live, never the frozen
    quantizers. Meta-recorded; merge/refresh maintain the same
    fan-out; search keeps each key's best ADC distance."""
    if dims % m != 0:
        raise ValueError(f"dims {dims} not divisible by m {m}")
    chunks = store.read(spark, collection).select("key", "documentid", "embedding")
    coarse = _coarse_centroids(chunks, n_cells, centroid_mode, kmeans_iters)
    residuals = _residualize(chunks, coarse, dims)
    cb_rows = _pq_codebook(residuals, m, n_centroids, dims, "key", "res", codebook_mode)
    # kmeans refinement DROPS a seed that wins no vectors, and residual
    # distributions (concentrated near zero) make that common — so the
    # codebook can be RAGGED across subspaces. Codes index into each
    # subspace's cid-sorted PRESENT entries (that is what the encoder's
    # filtered array_position produces), so search must address the flat
    # LUT with per-subspace cumulative offsets, not a fixed m x k stride.
    sub_counts = [0] * m
    for s, _, _ in cb_rows:
        sub_counts[s] += 1
    if any(n == 0 for n in sub_counts):
        raise ValueError(f"subspace with empty codebook: counts {sub_counts}")
    meta = {
        "n_cells": len(coarse),
        "m": m,
        "n_centroids": max(sub_counts),
        "sub_counts": sub_counts,
        "dims": dims,
        "centroid_mode": centroid_mode,
        "codebook_mode": codebook_mode,
        "assign_top": max(1, int(assign_top)),
        "coarse": coarse,
        "cents": cb_rows,
    }
    # the STORED codes take the soft fan-out; the codebook above trained
    # on the argmax residuals
    codes = _encode_ivfpq(meta, chunks)
    meta["columns"] = [*_pq_columns(meta), "cell"]
    (
        codes.repartition("cell")
        .write.mode("overwrite")
        .partitionBy("cell")
        .option("compression", "zstd")
        .parquet(_cells_path(store, collection, _IVFPQ))
    )
    _write_meta(_meta_path(store, collection, "ivfpq"), meta)
    return meta


def read_ivfpq_codes(
    spark: SparkSession, store: CollectionStore, collection: str
) -> DataFrame:
    meta = _load_meta(store, collection, "ivfpq")
    return _read_cells(spark, store, collection, _IVFPQ, meta)


def merge_ivfpq_codes(
    spark: SparkSession,
    store: CollectionStore,
    collection: str,
    batch: DataFrame,
    epoch_id: int,
) -> int:
    """Epoch-staged streaming maintenance for the IVFADC index: each
    chunk batch is assigned to its FROZEN coarse cell, residual-encoded
    against the FROZEN PQ codebook, and epoch-staged into the touched
    cell partitions by the same maintainer as
    :func:`merge_ivf_assignments` (same-epoch retries replace their own
    rows; cross-epoch key redelivery upserts in place; base rows from
    build_ivfpq_index read as epoch NULL and are never replaced).
    Updates that MOVE a key across cells, and deletions, reconcile
    through :func:`refresh_ivfpq_index`. Returns cell partitions
    touched."""
    return _merge_cells(spark, store, collection, _IVFPQ, batch, epoch_id)


def compact_ivfpq_codes(
    spark: SparkSession, store: CollectionStore, collection: str
) -> int:
    """Fold per-epoch IVFADC code rows down to epoch-NULL rows (codes
    are facts keyed by chunk — the fold just drops the tag), rewriting
    only the cells that hold epoch-tagged rows; nothing staged
    short-circuits to 0. Run only AFTER the maintaining stream's
    checkpoint has committed those epochs. Returns cell partitions
    rewritten."""
    return _compact_cells(spark, store, collection, _IVFPQ)


def ivfpq_index_staleness(
    spark: SparkSession, store: CollectionStore, collection: str
) -> dict:
    return _staleness(spark, store, collection, read_ivfpq_codes(spark, store, collection))


def refresh_ivfpq_index(
    spark: SparkSession, store: CollectionStore, collection: str
) -> dict:
    """Incremental maintenance against BOTH frozen quantizers: new
    chunks (anti-join on key) are assigned to their frozen coarse cell,
    residual-encoded with the frozen codebook, and appended into their
    cell partitions; deleted chunks rewrite only the cells that held
    them (the IVF deletion pattern, emptied partitions dropped)."""
    return _refresh_cells(spark, store, collection, _IVFPQ)


def ivfpq_retrain_signal(
    spark: SparkSession,
    store: CollectionStore,
    collection: str,
    skew_threshold: float = 2.0,
) -> dict:
    """The IVFADC twin of :func:`ivf_retrain_signal`, read from the IVFPQ
    meta and the maintained CODE table's coarse-cell column — one
    cell-count agg, never a corpus scan. Skew here degrades both the
    probe balance AND the residual codebook fit (residuals are trained
    per the original cell geometry), so the same threshold semantics
    apply."""
    return _retrain_signal(spark, store, collection, _IVFPQ, skew_threshold)


def ivfpq_search_indexed(
    spark: SparkSession,
    store: CollectionStore,
    collection: str,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 2,
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    rerank: int | str | None = "auto",
) -> DataFrame:
    """IVFADC search off the persisted index: probe cells and the
    per-(query, cell) residual ADC lookup tables are computed
    DRIVER-SIDE from the query set (collected once; small by contract)
    against the frozen quantizers (queries x n_probe x m x k doubles)
    and reach the code scan as one folded map literal keyed by cell,
    the code scan carries a LITERAL cell filter (static parquet
    partition pruning), and scoring is m array lookups per code row.
    ``rerank='auto'`` (16*k) fetches full-precision vectors for the
    shortlist only and reranks by exact cosine — the same
    recall-recovery contract as pq_search_indexed.
    Returns (query_id, key, score, rank) with rerank, else
    (query_id, key, adc_dist, rank)."""
    if rerank == "auto":
        rerank = 16 * k
    meta = _load_meta(store, collection, "ivfpq")
    m, dims = meta["m"], meta["dims"]
    dsub = dims // m
    C = np.asarray(meta["coarse"], dtype=np.float64)
    # codebook per subspace: cid-SORTED present entries — codes index
    # into this list (the encoder's filtered array_position), and the
    # flat LUT is addressed by per-subspace cumulative offsets because
    # kmeans refinement can leave the codebook ragged
    sub_entries: list[list] = [[] for _ in range(m)]
    for s, cid, v in sorted(meta["cents"], key=lambda c: (int(c[0]), int(c[1]))):
        sub_entries[int(s)].append(np.asarray(v, dtype=np.float64))
    cb = [np.vstack(e) for e in sub_entries]
    offs = [0] * m
    for s in range(1, m):
        offs[s] = offs[s - 1] + len(cb[s - 1])

    qs = _QuerySet(queries, query_id, query_vec)
    if not qs.ids:
        return qs.empty(spark, "score" if rerank else "adc_dist")
    by_cell: dict[int, list] = {}  # cell -> (query, flat offs-addressed LUT)
    for qid, v in zip(qs.ids, qs.vecs):
        q = np.asarray(v, dtype=np.float64)
        d2 = ((C - q[None, :]) ** 2).sum(axis=1)
        order = np.argsort(d2, kind="stable")[:n_probe]  # ties -> lowest cell
        for c in order.tolist():
            qres = q - C[c]
            lut = []
            for s in range(m):
                sub = qres[s * dsub : (s + 1) * dsub]
                lut.extend(((cb[s] - sub[None, :]) ** 2).sum(axis=1).tolist())
            by_cell.setdefault(c, []).append({"q": qid, "lut": lut})
    luts = folded_map(
        by_cell, T.IntegerType(), T.ArrayType(qs.row_type("lut", T.ArrayType(T.DoubleType())))
    )
    scored = (
        _read_cells(spark, store, collection, _IVFPQ, meta)
        .filter(F.col("cell").isin(sorted(by_cell)))  # literal -> static partition pruning
        .withColumn("__l", F.explode(F.element_at(luts, F.col("cell"))))
    )
    # soft assignment stores a key's code in several cells; a key
    # reachable through two probed cells scores once (its best ADC
    # estimate), not twice
    soft = int(meta.get("assign_top", 1)) > 1
    adc = _adc_topk(
        scored, query_id, offs, max(k, rerank) if rerank else k,
        best_per_key=soft, single=qs.single,
    )
    if not rerank:
        return adc
    short = adc.select(query_id, "key")
    vecs = store.read(spark, collection).select("key", "embedding")
    return qs.exact_topk(vecs.join(F.broadcast(short), "key"), k)
