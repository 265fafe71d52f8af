"""Round-14 incremental IVF index maintenance pins (r13 verdict item 5):

* batch parity — after any sequence of epoch merges, the maintained
  assignment table equals a full re-assignment of the store against the
  SAME frozen centroids (maintained index == rebuilt index given frozen
  centroids);
* replay idempotence — re-merging an epoch (foreachBatch retry) leaves
  the table byte-identical;
* seed-then-maintain composition — build_ivf_index base rows (epoch
  NULL) survive merges untouched;
* compaction identity — folding epoch tags changes no assignment;
* retrain signal — occupancy skew over the maintained table rises when
  a skewed increment merges, and crosses the threshold.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dataingestionplayground_spark.ingest import CollectionStore, ingest_corpus
from dataingestionplayground_spark.ingest.ann_index import (
    build_ivf_index,
    compact_ivf_assignments,
    ivf_index_staleness,
    ivf_retrain_signal,
    ivf_search_indexed,
    merge_ivf_assignments,
    read_ivf_assignments,
    refresh_ivf_index,
)
from dataingestionplayground_spark.ingest.embed import hash_embed
from dataingestionplayground_spark.sources.schemas import CHUNK_SCHEMA
from dataingestionplayground_spark.sources.markdown import (
    parse_markdown_df,
    read_markdown_dir,
)


@pytest.fixture(scope="module")
def md_elements(spark, md_fixture_dir):
    raw = read_markdown_dir(spark, md_fixture_dir)
    return parse_markdown_df(raw).cache()


def _seed(spark, md_elements, tmp_path, n_cells=4):
    store = CollectionStore(str(tmp_path))
    ingest_corpus(md_elements, store, "ivf", max_tokens=8, overlap=0)
    meta = build_ivf_index(spark, store, "ivf", n_cells=n_cells)
    return store, meta


def _increment(md_elements, store, suffix):
    extra = md_elements.withColumn(
        "doc_id", F.concat(F.col("doc_id"), F.lit(suffix))
    )
    ingest_corpus(extra, store, "ivf", max_tokens=8, overlap=0, incremental=True)


def _batch(spark, store, suffix):
    return (
        store.read(spark, "ivf")
        .filter(F.col("documentid").endswith(suffix))
        .select("key", "documentid", "embedding")
    )


def _view(spark, store):
    return sorted(
        (r["key"], r["documentid"], r["cell"])
        for r in read_ivf_assignments(spark, store, "ivf")
        .select("key", "documentid", "cell")
        .collect()
    )


def _full_rows(spark, store):
    df = read_ivf_assignments(spark, store, "ivf")
    if "epoch_id" not in df.columns:  # pre-merge base table
        df = df.withColumn("epoch_id", F.lit(None).cast("long"))
    return sorted(
        (r["key"], r["documentid"], r["cell"], r["epoch_id"])
        for r in df.select("key", "documentid", "cell", "epoch_id").collect()
    )


def _frozen_reassign(spark, store, meta):
    from dataingestionplayground_spark.operators.similarity import (
        _assign_cells_matmul,
    )

    chunks = store.read(spark, "ivf").select("key", "documentid", "embedding")
    return sorted(
        (r["key"], r["documentid"], r["cell"])
        for r in _assign_cells_matmul(
            chunks, meta["cents"], "key", "embedding",
            extra_cols=("documentid",),
        )
        .select("key", "documentid", "cell")
        .collect()
    )


def test_merge_parity_replay_compaction(spark, md_elements, tmp_path):
    store, meta = _seed(spark, md_elements, tmp_path)
    base_rows = _full_rows(spark, store)
    assert base_rows and all(e is None for *_, e in base_rows)  # epoch NULL

    _increment(md_elements, store, "-m1")
    b1 = _batch(spark, store, "-m1")
    assert merge_ivf_assignments(spark, store, "ivf", b1, epoch_id=1) > 0
    _increment(md_elements, store, "-m2")
    b2 = _batch(spark, store, "-m2")
    assert merge_ivf_assignments(spark, store, "ivf", b2, epoch_id=2) > 0

    # batch parity: maintained == full re-assignment on frozen centroids
    assert _view(spark, store) == _frozen_reassign(spark, store, meta)
    # and the store-reconciling refresh agrees there is nothing to do
    assert ivf_index_staleness(spark, store, "ivf") == {
        "missing": 0,
        "orphaned": 0,
    }
    assert refresh_ivf_index(spark, store, "ivf") == {
        "appended": 0,
        "removed": 0,
    }

    # replay epoch 2 (foreachBatch retry) -> table byte-identical
    full = _full_rows(spark, store)
    merge_ivf_assignments(spark, store, "ivf", b2, epoch_id=2)
    assert _full_rows(spark, store) == full

    # base rows (epoch NULL) never replaced by merges
    post = _full_rows(spark, store)
    assert [r for r in post if r[3] is None] == base_rows

    # compaction folds epoch tags without changing a single assignment
    view = _view(spark, store)
    assert compact_ivf_assignments(spark, store, "ivf") > 0
    assert _view(spark, store) == view
    assert all(e is None for *_, e in _full_rows(spark, store))

    # index-backed search healthy over the maintained table
    q = spark.createDataFrame(
        [("q0", hash_embed("machine learning algorithms"))],
        "query_id string, query_vec array<float>",
    )
    assert ivf_search_indexed(spark, store, "ivf", q, k=3).count() > 0


def test_cross_epoch_redelivery_upserts_in_place(spark, md_elements, tmp_path):
    store, meta = _seed(spark, md_elements, tmp_path)
    _increment(md_elements, store, "-m1")
    b1 = _batch(spark, store, "-m1")
    merge_ivf_assignments(spark, store, "ivf", b1, epoch_id=1)
    view = _view(spark, store)
    # the same keys re-arrive in a LATER epoch (source-side redelivery,
    # embeddings unchanged): the merge upserts, never duplicates
    merge_ivf_assignments(spark, store, "ivf", b1, epoch_id=5)
    assert _view(spark, store) == view
    assert _view(spark, store) == _frozen_reassign(spark, store, meta)


def test_retrain_signal_crosses_threshold_on_skewed_increment(
    spark, md_elements, tmp_path
):
    store, _ = _seed(spark, md_elements, tmp_path)
    before = ivf_retrain_signal(spark, store, "ivf", skew_threshold=1e9)
    assert before["n_assigned"] > 0 and before["skew"] >= 1.0
    assert before["retrain"] is False  # absurd threshold: no retrain

    # a drifted crawl: many copies of ONE chunk of the fullest cell —
    # identical embeddings all land in that frozen cell (a document's
    # chunks spread over several cells, so copies of a whole document
    # need not raise the largest share)
    counts = read_ivf_assignments(spark, store, "ivf").groupBy("cell").count().collect()
    fullest = max(counts, key=lambda r: (r["count"], -r["cell"]))["cell"]
    key = (
        read_ivf_assignments(spark, store, "ivf")
        .filter(F.col("cell") == fullest)
        .agg(F.min("key"))
        .first()[0]
    )
    chunk = store.read(spark, "ivf").filter(F.col("key") == key).collect()
    for i in range(6):
        extra = spark.createDataFrame(chunk, CHUNK_SCHEMA).select(
            F.concat("key", F.lit(f"-skew{i}")).alias("key"),
            "embedding",
            "content",
            "context",
            F.concat("documentid", F.lit(f"-skew{i}")).alias("documentid"),
            "chunk_idx",
        )
        store.write(extra, "ivf", incremental=True)
        merge_ivf_assignments(
            spark, store, "ivf", _batch(spark, store, f"-skew{i}"), epoch_id=10 + i
        )
    after = ivf_retrain_signal(spark, store, "ivf", skew_threshold=before["skew"])
    assert after["skew"] > before["skew"]
    assert after["retrain"] is True
    assert after["n_assigned"] > before["n_assigned"]


def test_stream_maintains_ivf_index_with_replay(spark, md_elements, tmp_path):
    # the foreachBatch wiring: chunk JSON files -> availableNow stream
    # -> epoch-staged merges; the maintained table equals the frozen
    # re-assignment, and re-running the SAME files through a FRESH
    # checkpoint (a full replay) leaves the view unchanged
    import json as _json
    import os

    from dataingestionplayground_spark.streaming.ingest import (
        stream_maintain_ivf_index,
    )

    store, meta = _seed(spark, md_elements, tmp_path)
    _increment(md_elements, store, "-s1")
    _increment(md_elements, store, "-s2")
    watch = tmp_path / "chunks_in"
    watch.mkdir()
    for i, suffix in enumerate(("-s1", "-s2")):
        rows = _batch(spark, store, suffix).collect()
        with open(watch / f"b{i}.json", "w") as f:
            for r in rows:
                f.write(_json.dumps({
                    "key": r["key"],
                    "documentid": r["documentid"],
                    "embedding": [float(x) for x in r["embedding"]],
                }) + "\n")
    q = stream_maintain_ivf_index(
        spark, str(watch), store, "ivf", str(tmp_path / "ckpt1")
    )
    q.awaitTermination(120)
    assert _view(spark, store) == _frozen_reassign(spark, store, meta)

    # full replay: fresh checkpoint, same files -> same table
    view = _view(spark, store)
    q2 = stream_maintain_ivf_index(
        spark, str(watch), store, "ivf", str(tmp_path / "ckpt2")
    )
    q2.awaitTermination(120)
    assert _view(spark, store) == view
    assert os.path.isdir(str(tmp_path / "ckpt2"))


# --------------------------------------------------------- PQ code merges


def _pq_seed(spark, md_elements, tmp_path):
    from dataingestionplayground_spark.ingest.ann_index import build_pq_index
    from dataingestionplayground_spark.ingest.embed import DIMS

    store = CollectionStore(str(tmp_path))
    ingest_corpus(md_elements, store, "pq", max_tokens=8, overlap=0)
    meta = build_pq_index(
        spark, store, "pq", m=4, n_centroids=8, dims=DIMS, codebook_mode="seed"
    )
    return store, meta


def _pq_batch(spark, store, suffix):
    return (
        store.read(spark, "pq")
        .filter(F.col("documentid").endswith(suffix))
        .select("key", "documentid", "embedding")
    )


def _pq_view(spark, store):
    from dataingestionplayground_spark.ingest.ann_index import read_pq_codes

    df = read_pq_codes(spark, store, "pq")
    cols = sorted(df.columns)
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def _pq_frozen_reencode(spark, store, meta):
    from dataingestionplayground_spark.operators.similarity import (
        pq_encode_with_codebook,
    )

    chunks = store.read(spark, "pq").select("key", "documentid", "embedding")
    df = pq_encode_with_codebook(
        chunks, meta["cents"], meta["m"], meta["dims"],
        "key", "embedding", extra_cols=("documentid",),
    )
    cols = sorted(df.columns)
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_pq_merge_parity_replay_and_compaction(spark, md_elements, tmp_path):
    from dataingestionplayground_spark.ingest.ann_index import (
        compact_pq_codes,
        index_staleness,
        merge_pq_codes,
        pq_search_indexed,
        refresh_pq_index,
    )

    store, meta = _pq_seed(spark, md_elements, tmp_path)

    def _inc(suffix):
        extra = md_elements.withColumn(
            "doc_id", F.concat(F.col("doc_id"), F.lit(suffix))
        )
        ingest_corpus(extra, store, "pq", max_tokens=8, overlap=0, incremental=True)

    _inc("-p1")
    assert merge_pq_codes(spark, store, "pq", _pq_batch(spark, store, "-p1"), 1) > 0
    _inc("-p2")
    b2 = _pq_batch(spark, store, "-p2")
    assert merge_pq_codes(spark, store, "pq", b2, 2) > 0

    # parity: the logical code table equals a full re-encode of the
    # store against the FROZEN codebook — staged codes are searchable
    assert _pq_view(spark, store) == _pq_frozen_reencode(spark, store, meta)
    assert index_staleness(spark, store, "pq") == {"missing": 0, "orphaned": 0}

    # replay epoch 2 (its own partition rewrites) -> view unchanged
    view = _pq_view(spark, store)
    merge_pq_codes(spark, store, "pq", b2, 2)
    assert _pq_view(spark, store) == view

    # staged-code search == direct ADC over the same logical table
    q = spark.createDataFrame(
        [("q0", hash_embed("machine learning algorithms"))],
        "query_id string, query_vec array<float>",
    )
    got = pq_search_indexed(spark, store, "pq", q, k=3).collect()
    assert len(got) == 3

    # compaction folds staging into base; view identical, staging gone
    import os

    assert compact_pq_codes(spark, store, "pq") > 0
    assert _pq_view(spark, store) == view
    from dataingestionplayground_spark.ingest.ann_index import _pq_staging_dir

    assert not os.path.isdir(_pq_staging_dir(store, "pq"))
    # idempotent when nothing is staged
    assert compact_pq_codes(spark, store, "pq") == 0
    # refresh (which self-compacts) agrees there is nothing left to do
    assert refresh_pq_index(spark, store, "pq") == {"appended": 0, "removed": 0}


def test_pq_cross_epoch_redelivery_newest_wins(spark, md_elements, tmp_path):
    from dataingestionplayground_spark.ingest.ann_index import merge_pq_codes

    store, meta = _pq_seed(spark, md_elements, tmp_path)
    extra = md_elements.withColumn("doc_id", F.concat(F.col("doc_id"), F.lit("-r")))
    ingest_corpus(extra, store, "pq", max_tokens=8, overlap=0, incremental=True)
    b = _pq_batch(spark, store, "-r")
    merge_pq_codes(spark, store, "pq", b, 1)
    view = _pq_view(spark, store)
    # the same keys re-arrive in a later epoch with the same embeddings:
    # newest-epoch-wins dedup keeps the view identical, never duplicates
    merge_pq_codes(spark, store, "pq", b, 7)
    assert _pq_view(spark, store) == view
    assert _pq_view(spark, store) == _pq_frozen_reencode(spark, store, meta)


# ------------------------------------------------------- IVFADC merges


def test_ivfpq_merge_parity_replay_and_compaction(spark, md_elements, tmp_path):
    from dataingestionplayground_spark.ingest.ann_index import (
        _residualize,
        build_ivfpq_index,
        compact_ivfpq_codes,
        ivfpq_index_staleness,
        ivfpq_search_indexed,
        merge_ivfpq_codes,
        read_ivfpq_codes,
    )
    from dataingestionplayground_spark.ingest.embed import DIMS
    from dataingestionplayground_spark.operators.similarity import (
        pq_encode_with_codebook,
    )

    store = CollectionStore(str(tmp_path))
    ingest_corpus(md_elements, store, "ivfpq", max_tokens=8, overlap=0)
    meta = build_ivfpq_index(
        spark, store, "ivfpq", n_cells=4, m=4, n_centroids=8, dims=DIMS,
        centroid_mode="seed", codebook_mode="seed",
    )
    code_cols = [f"code_{s}" for s in range(meta["m"])]
    all_cols = ["key", "documentid", *code_cols, "cell"]

    def view():
        df = read_ivfpq_codes(spark, store, "ivfpq").select(*all_cols)
        return sorted(tuple(r[c] for c in all_cols) for r in df.collect())

    def frozen_reencode():
        chunks = store.read(spark, "ivfpq").select("key", "documentid", "embedding")
        df = pq_encode_with_codebook(
            _residualize(chunks, meta["coarse"], meta["dims"]),
            meta["cents"], meta["m"], meta["dims"],
            "key", "res", extra_cols=("documentid", "cell"),
        ).select(*all_cols)
        return sorted(tuple(r[c] for c in all_cols) for r in df.collect())

    def inc(suffix):
        extra = md_elements.withColumn(
            "doc_id", F.concat(F.col("doc_id"), F.lit(suffix))
        )
        ingest_corpus(extra, store, "ivfpq", max_tokens=8, overlap=0,
                      incremental=True)
        return (
            store.read(spark, "ivfpq")
            .filter(F.col("documentid").endswith(suffix))
            .select("key", "documentid", "embedding")
        )

    b1 = inc("-q1")
    assert merge_ivfpq_codes(spark, store, "ivfpq", b1, epoch_id=1) > 0
    b2 = inc("-q2")
    assert merge_ivfpq_codes(spark, store, "ivfpq", b2, epoch_id=2) > 0

    # parity: the maintained code table equals a full re-encode of the
    # store against BOTH frozen quantizers
    assert view() == frozen_reencode()
    assert ivfpq_index_staleness(spark, store, "ivfpq") == {
        "missing": 0, "orphaned": 0,
    }

    # replay + cross-epoch redelivery converge
    v = view()
    merge_ivfpq_codes(spark, store, "ivfpq", b2, epoch_id=2)
    assert view() == v
    merge_ivfpq_codes(spark, store, "ivfpq", b1, epoch_id=9)
    assert view() == v

    # compaction identity; probed search healthy over the maintained table
    assert compact_ivfpq_codes(spark, store, "ivfpq") > 0
    assert view() == v
    codes = read_ivfpq_codes(spark, store, "ivfpq")
    assert codes.filter(F.col("epoch_id").isNotNull()).count() == 0
    q = spark.createDataFrame(
        [("q0", hash_embed("machine learning algorithms"))],
        "query_id string, query_vec array<float>",
    )
    assert ivfpq_search_indexed(
        spark, store, "ivfpq", q, k=3, n_probe=4
    ).count() > 0
