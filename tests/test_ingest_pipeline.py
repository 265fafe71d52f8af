"""End-to-end ingestion: fixture corpus -> parse -> chunk -> embed ->
collection -> search (SURVEY.md §5 engine test strategy items 2-3)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from dataingestionplayground_spark.ingest import (
    CollectionStore,
    ingest_corpus,
    search_collection,
)
from dataingestionplayground_spark.ingest.chunker import chunk_elements
from dataingestionplayground_spark.ingest.embed import DIMS, hash_embed
from dataingestionplayground_spark.sources.database import articles_to_elements
from dataingestionplayground_spark.sources.schemas import CHUNK_SCHEMA
from dataingestionplayground_spark.sources.markdown import parse_markdown_df, read_markdown_dir


@pytest.fixture(scope="module")
def md_elements(spark, md_fixture_dir):
    raw = read_markdown_dir(spark, md_fixture_dir)
    return parse_markdown_df(raw).cache()


def test_markdown_scan_identifies_files(spark, md_fixture_dir):
    raw = read_markdown_dir(spark, md_fixture_dir)
    rows = raw.collect()
    assert len(rows) == 6
    assert all(r.doc_id.endswith(".md") for r in rows)
    assert all(r.content for r in rows)


def test_parse_stage_schema_and_content(md_elements):
    kinds = {r.kind for r in md_elements.collect()}
    assert {"header", "paragraph", "footer", "image", "table", "section", "code"} <= kinds
    img = md_elements.filter(F.col("kind") == "image").first()
    assert img.media_type == "image/png" and bytes(img.content).startswith(b"\x89PNG")
    tbl = md_elements.filter(F.col("kind") == "table").orderBy("doc_id", "block_idx").first()
    assert tbl.table_cells[0] == ["name", "qty", "price"]


def test_chunker_deterministic_windows(md_elements):
    chunks = chunk_elements(md_elements, max_tokens=16, overlap=4)
    pdf = chunks.toPandas().sort_values(["documentid", "chunk_idx"])
    assert (pdf.groupby("documentid")["chunk_idx"].apply(lambda s: list(s) == list(range(len(s))))).all()
    # windows respect the token cap
    assert pdf["content"].str.split().str.len().max() <= 16
    # context = document's first header
    ml = pdf[pdf.documentid.str.contains("machine_learning")]
    assert (ml["context"] == "Machine Learning").all()
    # overlap: consecutive windows share 4 tokens
    two = ml.head(2)["content"].tolist()
    if len(two) == 2:
        assert two[0].split()[-4:] == two[1].split()[:4]


def test_semantic_chunker_runs(md_elements):
    chunks = chunk_elements(md_elements, strategy="semantic", max_tokens=32, threshold=0.1)
    assert chunks.count() > 0


def test_full_ingest_and_search(spark, md_elements, tmp_path):
    store = CollectionStore(str(tmp_path))
    results = ingest_corpus(md_elements, store, "docs", max_tokens=32, overlap=0)
    res = {r.documentid: r for r in results.collect()}
    assert len(res) == 6 and all(r.succeeded for r in res.values())

    # chunk-table invariants (SURVEY §5): vectors are DIMS-d, content non-empty
    chunks = store.read(spark, "docs")
    bad = chunks.filter(
        (F.size("embedding") != DIMS) | (F.length("content") == 0)
    ).count()
    assert bad == 0
    assert store.list_collections() == ["docs"]

    # search: a query about machine learning should hit machine_learning.md
    top = search_collection(spark, store, "docs", "statistical machine learning algorithms", k=1).collect()
    assert len(top) == 1
    assert "machine_learning" in top[0].documentid
    assert 0 < top[0].score <= 1.0001


def test_incremental_ingest_anti_join(spark, md_elements, tmp_path):
    store = CollectionStore(str(tmp_path))
    ingest_corpus(md_elements, store, "inc")
    before = store.read(spark, "inc").count()
    # re-ingest incrementally: nothing new -> nothing appended
    ingest_corpus(md_elements, store, "inc", incremental=True)
    assert store.read(spark, "inc").count() == before
    # full re-ingest (reference default, IncrementalIngestion=false): overwrite
    ingest_corpus(md_elements, store, "inc")
    assert store.read(spark, "inc").count() == before


def test_cross_format_consistency(spark, md_elements, tmp_path):
    """Same topic via markdown vs database row -> same top-1 doc topic
    (SURVEY §5 cross-format check)."""
    articles = spark.createDataFrame(
        [(1, "Machine Learning", "Machine learning studies statistical algorithms.\n\nThese algorithms learn from data.")],
        "Id long, Title string, Body string",
    )
    db_elements = articles_to_elements(articles)
    union = md_elements.unionByName(db_elements)  # uniform IR -> clean union
    store = CollectionStore(str(tmp_path))
    ingest_corpus(union, store, "multi")
    top = search_collection(
        spark, store, "multi", "statistical machine learning algorithms", k=2
    ).collect()
    ids = {t.documentid for t in top}
    assert any("machine_learning" in d for d in ids) and any("Article #1" == d for d in ids)


def test_embed_determinism_and_normalization():
    a = hash_embed("spark shuffles data")
    b = hash_embed("spark shuffles data")
    assert a == b and len(a) == DIMS
    import math

    assert abs(math.sqrt(sum(x * x for x in a)) - 1.0) < 1e-3
    assert hash_embed("") == [0.0] * DIMS


def test_pipeline_reports_failed_documents(spark, md_elements, tmp_path):
    """A document yielding no chunks is reported failed, not dropped
    (per-document error isolation, VectorStoreCommands.cs:163-180)."""
    store = CollectionStore(str(tmp_path))
    attempted = md_elements.select("doc_id").distinct().union(
        spark.createDataFrame([("ghost.md",)], "doc_id string")
    )
    results = ingest_corpus(md_elements, store, "iso", source_doc_ids=attempted)
    rows = {r.documentid: r for r in results.collect()}
    assert rows["ghost.md"].succeeded is False
    assert rows["ghost.md"].error == "no chunks produced"
    assert sum(1 for r in rows.values() if r.succeeded) == 6


def test_parse_isolates_pathological_document(spark, tmp_path):
    """A document that crashes the parser is reported FAILURE; the rest of
    the corpus ingests (per-document isolation end to end)."""
    from dataingestionplayground_spark.sources.markdown import parse_markdown_df

    deep = ("> " * 4000) + "bottom"  # recursion-depth bomb for quote nesting
    raw = spark.createDataFrame(
        [("good.md", "# Fine\n\nnormal paragraph here"), ("evil.md", deep)],
        "doc_id string, content string",
    )
    elements = parse_markdown_df(raw)
    store = CollectionStore(str(tmp_path))
    results = ingest_corpus(
        elements, store, "iso2", source_doc_ids=raw.select("doc_id")
    )
    rows = {r.documentid: r for r in results.collect()}
    assert rows["good.md"].succeeded is True
    assert rows["evil.md"].succeeded is False


def test_store_rejects_traversal_names(tmp_path):
    import pytest

    store = CollectionStore(str(tmp_path / "base"))
    for bad in ("..", ".", "../x", "a/b", "a\\b", ".hidden", "", "x/../.."):
        with pytest.raises(ValueError):
            store._path(bad)
    # drop('..') must NOT delete the parent of base_path
    with pytest.raises(ValueError):
        store.drop("..")
    assert tmp_path.exists()
    # normal names still fine
    assert store._path("my-coll_1.v2").endswith("my-coll_1.v2")


def test_store_drop_and_reread(spark, md_elements, tmp_path):
    store = CollectionStore(str(tmp_path))
    ingest_corpus(md_elements, store, "temp")
    assert store.exists("temp")
    store.drop("temp")
    assert not store.exists("temp") and store.list_collections() == []
    store.drop("temp")  # idempotent


def test_store_compact_small_files(spark, md_elements, tmp_path):
    store = CollectionStore(str(tmp_path))
    ingest_corpus(md_elements, store, "cp")
    # force the small-files state: append the same data as extra files
    chunks = store.read(spark, "cp")
    before_rows = chunks.count()
    import os

    n_files_before = sum(
        1 for f in os.listdir(store._path("cp")) if f.endswith(".parquet")
    )
    n_after = store.compact(spark, "cp", num_files=1)
    assert n_after == 1 and n_after <= n_files_before
    assert store.read(spark, "cp").count() == before_rows  # no data loss
    # content identical (same chunk keys)
    keys = {r.key for r in store.read(spark, "cp").select("key").collect()}
    assert len(keys) == before_rows


def test_search_k_larger_than_collection(spark, md_elements, tmp_path):
    store = CollectionStore(str(tmp_path))
    ingest_corpus(md_elements, store, "small", max_tokens=512)
    n = store.read(spark, "small").count()
    hits = search_collection(spark, store, "small", "anything", k=n + 100).collect()
    assert len(hits) == n  # k beyond collection size returns everything


def test_articles_with_empty_body(spark, tmp_path):
    articles = spark.createDataFrame(
        [(1, "Only Title", ""), (2, "Real", "body line")], "Id long, Title string, Body string"
    )
    els = articles_to_elements(articles)
    store = CollectionStore(str(tmp_path))
    results = ingest_corpus(els, store, "eb")
    res = {r.documentid: r.succeeded for r in results.collect()}
    # title-only article still chunks (the header text is content)
    assert res == {"Article #1": True, "Article #2": True}


def test_onnx_model_udf_gates_cleanly():
    # without onnxruntime/tokenizers the factory must raise the guided
    # NotImplementedError at construction time (not at executor time)
    import pytest

    from dataingestionplayground_spark.ingest.embed import onnx_model_udf

    try:
        import onnxruntime  # noqa: F401
        import tokenizers  # noqa: F401

        pytest.skip("onnx runtime installed: covered by the real test")
    except ImportError:
        pass
    with pytest.raises(NotImplementedError, match="onnxruntime"):
        onnx_model_udf("/nonexistent/model.onnx", "/nonexistent/tokenizer.json")


def test_real_model_udf_when_available(spark):
    # runs only where sentence-transformers (and its model cache) exist —
    # skipped in this container; hash_embed stays the oracle default
    import pytest

    pytest.importorskip("sentence_transformers")
    from dataingestionplayground_spark.ingest.embed import DIMS, real_model_udf

    df = spark.createDataFrame([("hello world",), ("spark",)], "text string")
    out = df.select(real_model_udf()("text").alias("v")).collect()
    assert all(len(r.v) == DIMS for r in out)
    for r in out:
        norm = sum(x * x for x in r.v) ** 0.5
        assert abs(norm - 1.0) < 1e-3  # normalize_embeddings=True

def test_store_orc_format_roundtrip(spark, md_elements, tmp_path):
    """ORC store: same surface, same schema, same search results."""
    import os

    store = CollectionStore(str(tmp_path), fmt="orc")
    ingest_corpus(md_elements, store, "odocs", max_tokens=32, overlap=0)
    files = os.listdir(store._path("odocs"))
    assert any(f.endswith(".orc") for f in files)
    assert not any(f.endswith(".parquet") for f in files)
    chunks = store.read(spark, "odocs")
    assert chunks.count() > 0
    assert chunks.schema == store.read(spark, "odocs").schema
    top = search_collection(
        spark, store, "odocs", "statistical machine learning algorithms", k=1
    ).collect()
    assert "machine_learning" in top[0].documentid


def test_store_incremental_append_respects_existing_format(spark, md_elements, tmp_path):
    """A store default flipped mid-life must not mix formats in one dir."""
    import os

    orc_store = CollectionStore(str(tmp_path), fmt="orc")
    ingest_corpus(md_elements, orc_store, "mix")
    # same base re-opened with the (different) parquet default
    pq_store = CollectionStore(str(tmp_path))
    before = pq_store.read(spark, "mix").count()  # read auto-detects orc
    extra = md_elements.withColumn(
        "doc_id", F.concat(F.col("doc_id"), F.lit("-v2"))
    )
    ingest_corpus(extra, pq_store, "mix", incremental=True)
    files = os.listdir(pq_store._path("mix"))
    assert not any(f.endswith(".parquet") for f in files)  # appended as orc
    assert pq_store.read(spark, "mix").count() == before * 2


def test_store_compact_migrates_format(spark, md_elements, tmp_path):
    """compact() under a store with a new fmt IS the migration path."""
    import os

    CollectionStore(str(tmp_path), fmt="orc")  # constructor validates fmt
    orc_store = CollectionStore(str(tmp_path), fmt="orc")
    ingest_corpus(md_elements, orc_store, "mig")
    rows = orc_store.read(spark, "mig").count()
    pq_store = CollectionStore(str(tmp_path))  # parquet default
    n = pq_store.compact(spark, "mig", num_files=1)
    files = os.listdir(pq_store._path("mig"))
    assert n == 1 and any(f.endswith(".parquet") for f in files)
    assert not any(f.endswith(".orc") for f in files)
    assert pq_store.read(spark, "mig").count() == rows


def test_store_rejects_unknown_format(tmp_path):
    import pytest as _pytest

    with _pytest.raises(ValueError):
        CollectionStore(str(tmp_path), fmt="avro")


def test_export_jsonl_roundtrip_and_manifest(spark, tmp_path):
    from dataingestionplayground_spark.ingest.export import export_jsonl, read_export

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    path = str(tmp_path / "export")
    manifest = export_jsonl(docs, path, n_shards=4)
    assert manifest["total_rows"] == docs.count()
    assert set(manifest["shards"]) <= {"0", "1", "2", "3"}
    assert sum(s["rows"] for s in manifest["shards"].values()) == manifest["total_rows"]
    assert all(s["tokens"] > 0 for s in manifest["shards"].values())

    back = read_export(spark, path)
    assert back.count() == docs.count()
    assert set(r.doc_id for r in back.select("doc_id").collect()) == set(
        r.doc_id for r in docs.select("doc_id").collect()
    )
    import os

    assert sorted(
        d for d in os.listdir(path) if d.startswith("shard=")
    ) == [f"shard={k}" for k in sorted(manifest["shards"], key=int)]


def test_export_jsonl_deterministic_shards(spark, tmp_path):
    """Same ids -> same shards on re-export (portable md5 assignment)."""
    from dataingestionplayground_spark.ingest.export import export_jsonl, read_export

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(50)
    m1 = export_jsonl(docs, str(tmp_path / "e1"), n_shards=4)
    m2 = export_jsonl(docs, str(tmp_path / "e2"), n_shards=4)
    assert m1["shards"] == m2["shards"]
    a = {(r.doc_id, r.shard) for r in read_export(spark, str(tmp_path / "e1")).select("doc_id", "shard").collect()}
    b = {(r.doc_id, r.shard) for r in read_export(spark, str(tmp_path / "e2")).select("doc_id", "shard").collect()}
    assert a == b


def test_export_jsonl_one_file_per_shard(spark, tmp_path):
    """A frame spread over many partitions still writes one data file per
    shard directory, with the same manifest as a one-partition frame."""
    import os

    from dataingestionplayground_spark.ingest.export import export_jsonl

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    m1 = export_jsonl(docs.coalesce(1), str(tmp_path / "one"), n_shards=4)
    path = str(tmp_path / "eight")
    m8 = export_jsonl(docs.repartition(8), path, n_shards=4)
    assert m8 == m1
    for k in m8["shards"]:
        files = [f for f in os.listdir(os.path.join(path, f"shard={k}")) if f.startswith("part-")]
        assert len(files) == 1, (k, files)


def test_delete_from_export_touches_only_affected_shards(spark, tmp_path):
    import os

    from dataingestionplayground_spark.ingest.export import (
        delete_from_export,
        export_jsonl,
        read_export,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    path = str(tmp_path / "exp")
    m0 = export_jsonl(docs, path, n_shards=4)
    victims = [r.doc_id for r in docs.limit(3).collect()]

    def shard_mtimes():
        out = {}
        for d in os.listdir(path):
            if d.startswith("shard="):
                full = os.path.join(path, d)
                out[d] = max(os.path.getmtime(os.path.join(full, f)) for f in os.listdir(full))
        return out

    before = shard_mtimes()
    m1 = delete_from_export(spark, path, victims)
    after = shard_mtimes()

    assert m1["total_rows"] == m0["total_rows"] - len(victims)
    back = read_export(spark, path)
    assert back.count() == m1["total_rows"]
    assert not set(victims) & {r.doc_id for r in back.select("doc_id").collect()}
    # shards that contain no victim were not rewritten
    import hashlib

    hit = {f"shard={int(hashlib.md5(str(v).encode()).hexdigest()[:8], 16) % 4}" for v in victims}
    for d, t in before.items():
        if d not in hit:
            assert after[d] == t, f"untouched shard {d} was rewritten"
    # manifest row counts agree with the data per shard
    for k, s in m1["shards"].items():
        n = spark.read.json(os.path.join(path, f"shard={k}")).count()
        assert n == s["rows"]


# Spark jobs delete_from_export starts per rewritten shard, counted with
# getJobIdsForGroup in this test's session (local[8], AQE on): 2, the
# checkpoint that observes the shard's rows and token sum plus the
# rewrite; 6 when the rows and the token sum took separate actions.
DELETE_EXPORT_JOBS_PER_SHARD = 2


def test_delete_from_export_counts_in_its_checkpoint(spark, tmp_path):
    import hashlib
    import os

    from dataingestionplayground_spark.functions import text as TX
    from dataingestionplayground_spark.ingest.export import delete_from_export, export_jsonl

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select("doc_id", "text")
    path = str(tmp_path / "exp")
    m0 = export_jsonl(docs, path, n_shards=4)
    victims = sorted(r.doc_id for r in docs.limit(3).collect())
    affected = {int(hashlib.md5(str(v).encode()).hexdigest()[:8], 16) % 4 for v in victims}
    sc = spark.sparkContext
    group = "test-delete-export-jobs"
    sc.setJobGroup(group, group)
    try:
        m1 = delete_from_export(spark, path, victims)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert 0 < n_jobs <= DELETE_EXPORT_JOBS_PER_SHARD * len(affected), (n_jobs, affected)
    assert m1["total_rows"] == m0["total_rows"] - len(victims)
    # the observed stats agree with the rewritten data, shard by shard
    for k, stats in m1["shards"].items():
        back = spark.read.json(os.path.join(path, f"shard={k}"))
        want = back.agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum(TX.token_count("text").cast("long")).cast("long").alias("tokens"),
        ).collect()[0].asDict()
        assert stats == want, (k, stats, want)
        if int(k) not in affected:
            assert stats == m0["shards"][k]


def test_store_delete_documents(spark, md_elements, tmp_path):
    store = CollectionStore(str(tmp_path))
    ingest_corpus(md_elements, store, "del", max_tokens=32, overlap=0)
    docs = [r.documentid for r in store.read(spark, "del").select("documentid").distinct().collect()]
    victim = docs[0]
    n_before = store.read(spark, "del").count()
    removed = store.delete_documents(spark, "del", [victim])
    assert removed > 0
    rest = store.read(spark, "del")
    assert rest.count() == n_before - removed
    assert victim not in {r.documentid for r in rest.select("documentid").distinct().collect()}
    # deleting an unknown id is a no-op
    assert store.delete_documents(spark, "del", ["nope-nope"]) == 0


def test_datacard_summarizes_corpus(spark, tmp_path):
    from dataingestionplayground_spark.ingest.datacard import write_datacard

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    card = write_datacard(docs, str(tmp_path))
    assert card["n_docs"] == 500
    assert card["total_tokens"] > 0
    assert card["tokens"]["min"] <= card["tokens"]["median"] <= card["tokens"]["max"]
    q = card["quality_quartiles"]
    assert q["q25"] <= q["q50"] <= q["q75"]
    assert 0.0 <= card["exact_duplicate_rate"] < 1.0
    assert sum(card["by_source"].values()) == 500
    assert sum(card["by_lang"].values()) == 500
    import json
    import os

    on_disk = json.load(open(os.path.join(tmp_path, "_DATACARD.json")))
    assert on_disk == card


def test_reassemble_documents_chunk_order(spark, md_elements, tmp_path):
    """Reassembled text follows chunk_idx, not partition arrival order
    (ADVICE r2: collect_list order is partition-dependent)."""
    from dataingestionplayground_spark.ingest.store import reassemble_documents

    store = CollectionStore(str(tmp_path))
    ingest_corpus(md_elements, store, "ra", max_tokens=16, overlap=0)
    chunks = store.read(spark, "ra")
    # adversarial partitioning: reverse order, many partitions
    shuffled = chunks.orderBy(F.col("chunk_idx").desc()).repartition(13)
    a = {r.documentid: r.text for r in reassemble_documents(chunks).collect()}
    b = {r.documentid: r.text for r in reassemble_documents(shuffled).collect()}
    assert a == b
    # text order == chunk order: chunk 0's content is a prefix of the doc
    first = chunks.filter("chunk_idx = 0").collect()
    assert len(first) > 0
    for r in first:
        assert a[r.documentid].startswith(r.content)


def test_reassemble_documents_legacy_null_chunk_idx(spark):
    """Pre-chunk_idx collections (column reads as null) still reassemble
    deterministically, ordered by key."""
    from dataingestionplayground_spark.ingest.store import reassemble_documents

    rows = [
        ("k2", None, "beta", None, "d1", None),
        ("k1", None, "alpha", None, "d1", None),
        ("k3", None, "gamma", None, "d1", None),
    ]
    df = spark.createDataFrame(rows, schema=CHUNK_SCHEMA)
    out = {r.documentid: r.text for r in reassemble_documents(df.repartition(7)).collect()}
    assert out == {"d1": "alpha beta gamma"}


def test_store_swap_crash_recovery(spark, md_elements, tmp_path):
    """A crash between _swap_in's two renames never loses the collection
    (ADVICE r2: rmtree-then-rename had a destructive window)."""
    import os
    import shutil

    store = CollectionStore(str(tmp_path))
    ingest_corpus(md_elements, store, "cr")
    path = os.path.join(str(tmp_path), "cr")
    n = store.read(spark, "cr").count()

    # crash AFTER old moved aside, BEFORE tmp moved in (tmp is complete)
    shutil.copytree(path, path + ".compact-tmp")
    os.rename(path, path + ".old")
    assert store.exists("cr")  # _recover promotes the finished tmp
    assert store.read(spark, "cr").count() == n
    assert not os.path.exists(path + ".old")
    assert not os.path.exists(path + ".compact-tmp")

    # crash where only .old survives (no completed tmp): restore it
    os.rename(path, path + ".old")
    assert store.exists("cr")
    assert store.read(spark, "cr").count() == n
    assert not os.path.exists(path + ".old")


def test_export_manifest_pins_schema(spark, tmp_path):
    """delete_from_export rewrites shards with the manifest's recorded
    schema — no per-shard inference drift (ADVICE r2)."""
    import json
    import os

    from pyspark.sql import types as T

    from dataingestionplayground_spark.ingest.export import (
        MANIFEST_NAME,
        delete_from_export,
        export_jsonl,
        read_export,
    )

    df = spark.createDataFrame(
        [("a", "alpha text", 1.5), ("b", "beta text", None), ("c", "gamma text", None)],
        "doc_id string, text string, score double",
    )
    manifest = export_jsonl(df, str(tmp_path / "exp"), n_shards=4)
    recorded = T.StructType.fromJson(manifest["schema"])
    assert recorded == df.schema
    # delete one doc; every remaining row in its shard may have score=null,
    # yet the rewrite must keep score as a double column
    m2 = delete_from_export(spark, str(tmp_path / "exp"), ["b"])
    assert m2["total_rows"] == 2
    back = read_export(spark, str(tmp_path / "exp"))
    assert back.count() == 2
    assert dict(back.dtypes)["score"] == "double"

    # legacy manifest without a schema key still works (single full-read inference)
    mpath = os.path.join(str(tmp_path / "exp"), MANIFEST_NAME)
    legacy = json.load(open(mpath))
    legacy.pop("schema")
    json.dump(legacy, open(mpath, "w"))
    m3 = delete_from_export(spark, str(tmp_path / "exp"), ["c"])
    assert m3["total_rows"] == 1


# Spark jobs build_datacard starts on a cached (doc_id, text) frame of
# the sf0.001 documents, counted with getJobIdsForGroup in this test's
# session (local[8], AQE on): 3 with the quality quartiles computed in
# the totals aggregate, 5 when they took a separate collect.
DATACARD_JOB_BOUND = 3


def test_datacard_quartiles_one_aggregate(spark):
    import numpy as np

    from dataingestionplayground_spark.ingest.datacard import build_datacard
    from dataingestionplayground_spark.queries.textq import quality_scores

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
        .cache()
    )
    docs.count()
    sc = spark.sparkContext
    group = "test-datacard-jobs"
    sc.setJobGroup(group, group)
    try:
        card = build_datacard(docs)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))

    # the quartiles of quality_scores over the same frame, the card's
    # n_chars (length of the text) included
    scored = quality_scores(docs.withColumn("n_chars", F.length("text")))
    want = scored.agg(
        *[
            F.round(F.expr(f"percentile(quality, {p})"), 6).alias(k)
            for k, p in (("q25", 0.25), ("q50", 0.5), ("q75", 0.75))
        ]
    ).collect()[0]
    assert card["quality_quartiles"] == want.asDict()
    vals = [r.quality for r in scored.select("quality").collect()]
    np_q = np.percentile(vals, [25, 50, 75])
    assert np.allclose(list(want.asDict().values()), np_q, atol=1e-6)
    docs.unpersist()
    assert 0 < n_jobs <= DATACARD_JOB_BOUND, n_jobs


# build_datacard on a cached (doc_id, text, source, lang) frame of the
# sf0.001 documents, same session: 5 jobs with both breakdowns in one
# grouping-sets aggregate, 7 when each breakdown took its own collect.
DATACARD_BREAKDOWN_JOB_BOUND = 5


def test_datacard_breakdowns_one_aggregate(spark, sf_dir):
    from dataingestionplayground_spark.ingest.datacard import build_datacard

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text", "source", "lang")
        .cache()
    )
    docs.count()
    sc = spark.sparkContext
    group = "test-datacard-breakdown-jobs"
    sc.setJobGroup(group, group)
    try:
        card = build_datacard(docs)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    only_source = build_datacard(docs.drop("lang"))
    only_lang = build_datacard(docs.drop("source"))
    docs.unpersist()

    # the card of this frame as computed with one group-by collect per
    # breakdown
    want = {
        "n_docs": 500,
        "total_tokens": 27939,
        "tokens": {"min": 10, "median": 56.0, "max": 99},
        "quality_quartiles": {"q25": 0.415575, "q50": 0.534039, "q75": 0.620659},
        "exact_duplicate_rate": 0.0,
        "by_source": {f"src{i}": 25 for i in range(20)},
        "by_lang": {"de": 71, "en": 193, "es": 80, "fr": 82, "zh": 74},
    }
    assert card == want
    assert only_source == {k: v for k, v in want.items() if k != "by_lang"}
    assert only_lang == {k: v for k, v in want.items() if k != "by_source"}
    assert 0 < n_jobs <= DATACARD_BREAKDOWN_JOB_BOUND, n_jobs
