"""Store-backed incremental PQ index (round-2 verdict item 5): codes
persist as a collection-side artifact, refresh touches only new/deleted
chunks, and search scans the prebuilt code table."""

from __future__ import annotations

import itertools
import json
import os
import shutil

import pytest

from pyspark.sql import functions as F

from dataingestionplayground_spark.ingest import CollectionStore, ingest_corpus
from dataingestionplayground_spark.ingest.ann_index import (
    build_pq_index,
    index_staleness,
    pq_search_indexed,
    read_pq_codes,
    refresh_pq_index,
)
from dataingestionplayground_spark.ingest.embed import DIMS, hash_embed
from dataingestionplayground_spark.sources.markdown import parse_markdown_df, read_markdown_dir

M, K = 4, 8


@pytest.fixture(scope="module")
def md_elements(spark, md_fixture_dir):
    raw = read_markdown_dir(spark, md_fixture_dir)
    return parse_markdown_df(raw).cache()


def _queries_df(spark, texts, int_ids=False):
    if int_ids:
        rows = [(10 * i, hash_embed(t)) for i, t in enumerate(texts)]
        return spark.createDataFrame(rows, "query_id int, query_vec array<float>")
    rows = [(f"q{i}", hash_embed(t)) for i, t in enumerate(texts)]
    return spark.createDataFrame(rows, "query_id string, query_vec array<float>")


# 20 two-word queries over the fixture's topics
_BATCH = [
    f"{a} {b}"
    for a, b in itertools.permutations(
        ["machine", "learning", "roman", "empire", "database"], 2
    )
]


def test_build_and_search_matches_direct_adc(spark, md_elements, tmp_path):
    """Index-backed search == computing ADC from the raw collection (the
    index is a cache, not an approximation on top of one). The index
    computes each query's lookup table on the driver, the operators in
    SQL: a batch of queries checks that the two agree to the last digit."""
    from dataingestionplayground_spark.operators.similarity import pq_adc_search

    store = CollectionStore(str(tmp_path))
    ingest_corpus(md_elements, store, "docs", max_tokens=8, overlap=0)
    assert store.read(spark, "docs").count() >= K  # codebook fully seeded
    meta = build_pq_index(
        spark, store, "docs", m=M, n_centroids=K, dims=DIMS, codebook_mode="seed"
    )
    assert len(meta["cents"]) == M * K and meta["n_centroids"] == K

    chunks = store.read(spark, "docs").select("key", "embedding")
    for int_ids in (False, True):
        q = _queries_df(spark, _BATCH, int_ids)
        hits = pq_search_indexed(spark, store, "docs", q, k=5)
        want = pq_adc_search(
            chunks, q, k=5, m=M, n_centroids=K, dims=DIMS, corpus_id="key"
        ).collect()
        assert sorted(map(tuple, hits.collect())) == sorted(map(tuple, want))
        assert hits.schema["query_id"].dataType == q.schema["query_id"].dataType
    # collection listing is not polluted by the index artifact
    assert store.list_collections() == ["docs"]

    # rerank mode: ADC prunes, exact cosine over only the shortlisted
    # keys decides — must equal the non-indexed pq_adc_rerank operator
    from dataingestionplayground_spark.operators.similarity import pq_adc_rerank

    hits_rr = pq_search_indexed(spark, store, "docs", q, k=3, rerank=10)
    got_rr = hits_rr.collect()
    want_rr = pq_adc_rerank(
        chunks, q, k=3, shortlist=10, m=M, n_centroids=K, dims=DIMS, corpus_id="key"
    ).collect()
    assert sorted(map(tuple, got_rr)) == sorted(map(tuple, want_rr))
    assert {r["rank"] for r in got_rr} <= {1, 2, 3}
    assert hits_rr.schema["query_id"].dataType == q.schema["query_id"].dataType

    # an empty query set gives an empty, typed frame
    for rerank, score in ((None, "adc_dist"), ("auto", "score")):
        empty = pq_search_indexed(spark, store, "docs", q.limit(0), k=5, rerank=rerank)
        assert empty.collect() == []
        assert empty.columns == ["query_id", "key", score, "rank"]
        assert [f.dataType.simpleString() for f in empty.schema] == [
            q.schema["query_id"].dataType.simpleString(), "string", "double", "int"
        ]


def test_incremental_refresh_appends_only_new(spark, md_elements, tmp_path):
    store = CollectionStore(str(tmp_path))
    # first 4 docs, then the rest arrive later
    ids = sorted(r.doc_id for r in md_elements.select("doc_id").distinct().collect())
    first, later = ids[:4], ids[4:]
    ingest_corpus(md_elements.filter(F.col("doc_id").isin(first)), store, "inc")
    build_pq_index(
        spark, store, "inc", m=M, n_centroids=K, dims=DIMS, codebook_mode="seed"
    )
    base_codes = {r.key: tuple(r)[2:] for r in read_pq_codes(spark, store, "inc").collect()}

    ingest_corpus(
        md_elements.filter(F.col("doc_id").isin(later)), store, "inc", incremental=True
    )
    st = index_staleness(spark, store, "inc")
    assert st["missing"] > 0 and st["orphaned"] == 0

    res = refresh_pq_index(spark, store, "inc")
    assert res["appended"] == st["missing"] and res["removed"] == 0
    assert index_staleness(spark, store, "inc") == {"missing": 0, "orphaned": 0}

    after = {r.key: tuple(r)[2:] for r in read_pq_codes(spark, store, "inc").collect()}
    # old codes byte-unchanged: new vectors encoded against the FROZEN codebook
    for key, codes in base_codes.items():
        assert after[key] == codes
    assert len(after) == store.read(spark, "inc").count()
    # refreshed index is searchable over old + new content
    q = _queries_df(spark, ["statistical machine learning algorithms"])
    top = pq_search_indexed(spark, store, "inc", q, k=3)
    assert top.count() == 3


def test_refresh_drops_codes_of_deleted_documents(spark, md_elements, tmp_path):
    store = CollectionStore(str(tmp_path))
    ingest_corpus(md_elements, store, "del", max_tokens=32, overlap=0)
    build_pq_index(
        spark, store, "del", m=M, n_centroids=K, dims=DIMS, codebook_mode="seed"
    )
    victim = store.read(spark, "del").select("documentid").distinct().collect()[0][0]
    store.delete_documents(spark, "del", [victim])

    st = index_staleness(spark, store, "del")
    assert st["orphaned"] > 0
    res = refresh_pq_index(spark, store, "del")
    assert res["removed"] == st["orphaned"]
    codes = read_pq_codes(spark, store, "del")
    assert codes.filter(F.col("documentid") == victim).count() == 0
    assert index_staleness(spark, store, "del") == {"missing": 0, "orphaned": 0}


def test_search_without_index_raises(spark, md_elements, tmp_path):
    store = CollectionStore(str(tmp_path))
    ingest_corpus(md_elements, store, "noidx")
    q = _queries_df(spark, ["anything"])
    with pytest.raises(FileNotFoundError, match="build_pq_index"):
        pq_search_indexed(spark, store, "noidx", q)


def test_index_scan_reads_codes_not_vectors(spark, md_elements, tmp_path):
    """The search plan's corpus side scans the codes parquet (int
    columns), not the collection's embedding column — the 100 TB win."""
    store = CollectionStore(str(tmp_path))
    ingest_corpus(md_elements, store, "scan")
    build_pq_index(
        spark, store, "scan", m=M, n_centroids=K, dims=DIMS, codebook_mode="seed"
    )
    q = _queries_df(spark, ["x"])
    qe = pq_search_indexed(spark, store, "scan", q, k=2)._jdf.queryExecution()
    plan = qe.toString()  # analyzed + optimized + physical
    assert "code_0" in plan and "embedding" not in plan
    # the one file scan in the plan is the codes parquet, not the collection
    assert "parquet" in plan.lower()
    files = pq_search_indexed(spark, store, "scan", q, k=2).inputFiles()
    assert files and all(os.path.join("pq", "codes") in f for f in files)


# --- IVF index (round 6): partition-pruned probed-cells search ----------


def _ivf_fixture(spark, md_elements, tmp_path, coll="ivf"):
    from dataingestionplayground_spark.ingest.ann_index import build_ivf_index

    store = CollectionStore(str(tmp_path))
    ingest_corpus(md_elements, store, coll, max_tokens=8, overlap=0)
    meta = build_ivf_index(spark, store, coll, n_cells=4)
    return store, meta


def test_ivf_search_matches_probed_cells_bruteforce(spark, md_elements, tmp_path):
    """Index search == exact cosine top-k restricted to the probed cells
    of the PERSISTED assignment (the index is a pruning structure, not an
    approximation beyond cell probing)."""
    import numpy as np

    from dataingestionplayground_spark.functions import vector as V
    from dataingestionplayground_spark.ingest.ann_index import (
        ivf_search_indexed,
        read_ivf_assignments,
    )
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    store, meta = _ivf_fixture(spark, md_elements, tmp_path)
    for int_ids in (False, True):
        q = _queries_df(spark, ["machine learning algorithms", "the roman empire"], int_ids)
        hits = ivf_search_indexed(spark, store, "ivf", q, k=5, n_probe=2)
        got = hits.collect()
        assert hits.schema["query_id"].dataType == q.schema["query_id"].dataType

        # expected: per query, numpy-probe the 2 nearest frozen centroids,
        # then exact cosine over assignment rows in those cells only
        C = np.asarray(meta["cents"], dtype=np.float64)
        cn = np.sqrt((C * C).sum(axis=1))
        rows = []
        for r in q.collect():
            e = np.asarray(r["query_vec"], dtype=np.float64)
            sims = (e @ C.T) / (np.sqrt(e @ e) * cn)
            cells = [int(c) for c in np.argsort(-sims, kind="stable")[:2]]
            rows.extend((r["query_id"], c) for c in cells)
        probe = spark.createDataFrame(
            rows, T.StructType([q.schema["query_id"], T.StructField("cell", T.IntegerType())])
        )
        cand = read_ivf_assignments(spark, store, "ivf").join(probe, "cell").select("query_id", "key")
        scored = (
            store.read(spark, "ivf")
            .select("key", "embedding")
            .join(cand, "key")
            .join(q, "query_id")
            .withColumn("score", V.cosine_similarity("embedding", "query_vec"))
        )
        w = Window.partitionBy("query_id").orderBy(F.desc_nulls_last("score"), F.asc("key"))
        want = (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 5)
            .select("query_id", "key", "score", "rank")
            .collect()
        )
        assert sorted(map(tuple, got)) == sorted(map(tuple, want))
        assert len(got) > 0


def test_ivf_search_scan_is_partition_pruned(spark, md_elements, tmp_path):
    """The probed-cells filter must reach the assignment scan as a
    PartitionFilter (literal isin over the partition column) and the
    assignment scan must not read embeddings."""
    from dataingestionplayground_spark.ingest.ann_index import ivf_search_indexed
    from dataingestionplayground_spark.plans import physical_plan

    store, _ = _ivf_fixture(spark, md_elements, tmp_path)
    q = _queries_df(spark, ["machine learning algorithms"])
    plan = physical_plan(ivf_search_indexed(spark, store, "ivf", q, k=3, n_probe=1), "formatted")
    assert "PartitionFilters: [cell" in plan.replace("#", " #").replace("  ", " ") or (
        "PartitionFilters" in plan and "cell" in plan
    )


def test_ivf_soft_search_on_legacy_table_scores_each_key_once(
    spark, md_elements, tmp_path
):
    """A soft-assigned IVF table written before the rank schema (no
    cell_rank / cell_1 columns, no column set in the meta) takes the
    dedup fallback: a key reachable through two probed cells is still
    returned at most once per query."""
    from dataingestionplayground_spark.ingest.ann_index import (
        build_ivf_index,
        ivf_search_indexed,
        read_ivf_assignments,
    )

    store = CollectionStore(str(tmp_path))
    ingest_corpus(md_elements, store, "legacy", max_tokens=8, overlap=0)
    meta = build_ivf_index(spark, store, "legacy", n_cells=4, assign_top=2)
    idx = os.path.join(store.base_path, "_indexes", "legacy", "ivf")
    rows = read_ivf_assignments(spark, store, "legacy").select("key", "documentid", "cell").collect()
    keys = {r["key"] for r in rows}
    assert len(rows) > len(keys)  # soft: keys stored in two cells
    legacy = spark.createDataFrame(rows, "key string, documentid string, cell int")
    shutil.rmtree(os.path.join(idx, "cells"))
    legacy.write.partitionBy("cell").parquet(os.path.join(idx, "cells"))
    meta.pop("columns", None)
    with open(os.path.join(idx, "ivf.json"), "w") as f:
        json.dump(meta, f)
    assert "cell_rank" not in read_ivf_assignments(spark, store, "legacy").columns

    q = _queries_df(spark, ["machine learning algorithms", "the roman empire"])
    # every cell probed and k = all rows: each key is reachable twice
    got = ivf_search_indexed(spark, store, "legacy", q, k=len(rows), n_probe=4).collect()
    pairs = [(r["query_id"], r["key"]) for r in got]
    assert len(pairs) == len(set(pairs)) == 2 * len(keys)


def test_ivf_refresh_appends_only_new_and_drops_orphans(spark, md_elements, tmp_path):
    from dataingestionplayground_spark.ingest.ann_index import (
        ivf_search_indexed,
        read_ivf_assignments,
        refresh_ivf_index,
    )
    from pyspark.sql import functions as F

    store, _ = _ivf_fixture(spark, md_elements, tmp_path)
    n0 = read_ivf_assignments(spark, store, "ivf").count()
    # no-op refresh
    assert refresh_ivf_index(spark, store, "ivf") == {"appended": 0, "removed": 0}

    # ingest one more document incrementally -> refresh appends only it
    extra = md_elements.withColumn("doc_id", F.concat(F.col("doc_id"), F.lit("-copy2")))
    ingest_corpus(extra, store, "ivf", max_tokens=8, overlap=0, incremental=True)
    r = refresh_ivf_index(spark, store, "ivf")
    assert r["appended"] > 0 and r["removed"] == 0
    n1 = read_ivf_assignments(spark, store, "ivf").count()
    assert n1 == n0 + r["appended"]

    # delete the new document -> refresh rewrites only affected cells
    gone = [
        r["documentid"]
        for r in store.read(spark, "ivf")
        .select("documentid")
        .filter(F.col("documentid").endswith("-copy2"))
        .distinct()
        .collect()
    ]
    store.delete_documents(spark, "ivf", gone)
    r2 = refresh_ivf_index(spark, store, "ivf")
    assert r2["removed"] > 0
    assigned = read_ivf_assignments(spark, store, "ivf")
    assert assigned.count() == n0
    # index-backed search still healthy after the churn
    q = _queries_df(spark, ["machine learning algorithms"])
    assert ivf_search_indexed(spark, store, "ivf", q, k=3).count() > 0


def test_ivf_refresh_drops_fully_emptied_cell(spark, md_elements, tmp_path):
    """Deleting EVERY chunk of a cell must drop the cell's partition:
    dynamic partition overwrite only rewrites partitions present in the
    surviving rows, so an emptied cell would otherwise keep its stale
    assignment rows forever (`removed` re-reported on every refresh, and
    a deleted-then-re-ingested key pinned to its old-embedding cell)."""
    from dataingestionplayground_spark.ingest.ann_index import (
        ivf_search_indexed,
        read_ivf_assignments,
        refresh_ivf_index,
    )
    from pyspark.sql import functions as F

    store, _ = _ivf_fixture(spark, md_elements, tmp_path)
    assigned = read_ivf_assignments(spark, store, "ivf")
    # pick the smallest cell and delete every document with a chunk in it
    cell = assigned.groupBy("cell").count().orderBy("count", "cell").first()["cell"]
    victims = [
        r["documentid"]
        for r in assigned.filter(F.col("cell") == cell)
        .select("documentid")
        .distinct()
        .collect()
    ]
    store.delete_documents(spark, "ivf", victims)
    r1 = refresh_ivf_index(spark, store, "ivf")
    assert r1["removed"] > 0
    after = read_ivf_assignments(spark, store, "ivf")
    assert after.filter(F.col("cell") == cell).count() == 0
    # the stale partition is truly gone: a second refresh is a no-op
    assert refresh_ivf_index(spark, store, "ivf") == {"appended": 0, "removed": 0}
    # re-ingest a victim -> its chunks get FRESH assignments via the
    # anti-join (no stale rows shadowing them)
    back = md_elements.filter(F.col("doc_id").isin(victims))
    if back.take(1):
        ingest_corpus(back, store, "ivf", max_tokens=8, overlap=0, incremental=True)
        r2 = refresh_ivf_index(spark, store, "ivf")
        assert r2["appended"] > 0 and r2["removed"] == 0
        keys = {r["key"] for r in store.read(spark, "ivf").select("key").collect()}
        idx_keys = {
            r["key"]
            for r in read_ivf_assignments(spark, store, "ivf").select("key").collect()
        }
        assert keys == idx_keys
    q = _queries_df(spark, ["machine learning algorithms"])
    assert ivf_search_indexed(spark, store, "ivf", q, k=3).count() > 0


def test_ivf_refresh_survives_total_deletion(spark, md_elements, tmp_path):
    """ADVICE r7: deleting EVERY chunk rmtree's every cell partition,
    leaving cells/ with no data files — the next read (staleness, search,
    refresh) must behave as an empty index, not fail schema inference;
    and re-ingesting afterwards must rebuild assignments from scratch."""
    from dataingestionplayground_spark.ingest.ann_index import (
        ivf_index_staleness,
        ivf_search_indexed,
        read_ivf_assignments,
        refresh_ivf_index,
    )
    from pyspark.sql import functions as F

    store, _ = _ivf_fixture(spark, md_elements, tmp_path)
    victims = [
        r["documentid"]
        for r in store.read(spark, "ivf").select("documentid").distinct().collect()
    ]
    store.delete_documents(spark, "ivf", victims)
    r1 = refresh_ivf_index(spark, store, "ivf")
    assert r1["removed"] > 0
    # every reader path behaves as an EMPTY index
    assert read_ivf_assignments(spark, store, "ivf").count() == 0
    assert ivf_index_staleness(spark, store, "ivf") == {"missing": 0, "orphaned": 0}
    q = _queries_df(spark, ["machine learning algorithms"])
    assert ivf_search_indexed(spark, store, "ivf", q, k=3).count() == 0
    assert refresh_ivf_index(spark, store, "ivf") == {"appended": 0, "removed": 0}
    # re-ingest -> assignments come back through the normal refresh path
    ingest_corpus(md_elements, store, "ivf", max_tokens=8, overlap=0, incremental=True)
    r2 = refresh_ivf_index(spark, store, "ivf")
    assert r2["appended"] > 0 and r2["removed"] == 0
    assert ivf_search_indexed(spark, store, "ivf", q, k=3).count() > 0
    assert (
        read_ivf_assignments(spark, store, "ivf").filter(F.col("cell").isNull()).count()
        == 0
    )


def _ivfpq_fixture(spark, md_elements, tmp_path, coll="ivfpq", **kw):
    from dataingestionplayground_spark.ingest.ann_index import build_ivfpq_index

    store = CollectionStore(str(tmp_path))
    ingest_corpus(md_elements, store, coll, max_tokens=8, overlap=0)
    kw.setdefault("n_cells", 4)
    kw.setdefault("m", M)
    kw.setdefault("n_centroids", K)
    kw.setdefault("dims", DIMS)
    meta = build_ivfpq_index(spark, store, coll, **kw)
    return store, meta


def test_ivfpq_rerank_recall_vs_bruteforce_and_adc_shortlist(spark, md_elements, tmp_path):
    """Reranked IVFADC search over ALL cells (n_probe = n_cells) must
    return exactly the brute-force cosine top-k: with every cell probed
    and a shortlist >= corpus, ADC pruning removes nothing and the
    exact-cosine rerank decides everything — validating LUT alignment,
    residual encode, and the fetch-join end to end."""
    from dataingestionplayground_spark.ingest.ann_index import ivfpq_search_indexed
    from dataingestionplayground_spark.operators.similarity import knn_brute_force

    store, meta = _ivfpq_fixture(spark, md_elements, tmp_path)
    assert meta["n_cells"] == 4 and meta["n_centroids"] == K
    q = _queries_df(spark, ["machine learning algorithms", "the roman empire"])
    n = store.read(spark, "ivfpq").count()
    got = ivfpq_search_indexed(
        spark, store, "ivfpq", q, k=5, n_probe=4, rerank=n
    ).collect()
    chunks = store.read(spark, "ivfpq").select("key", "embedding")
    want = knn_brute_force(
        chunks, q, k=5, corpus_id="key", corpus_vec="embedding"
    ).collect()
    assert sorted((r["query_id"], r["key"], r["rank"]) for r in got) == sorted(
        (r["query_id"], r["key"], r["rank"]) for r in want
    )
    # ADC-only mode returns distances ascending, depth k
    adc = ivfpq_search_indexed(
        spark, store, "ivfpq", q, k=5, n_probe=4, rerank=None
    ).collect()
    assert len(adc) > 0 and all(r["adc_dist"] >= 0 for r in adc)
    assert store.list_collections() == ["ivfpq"]


def test_ivfpq_scan_is_partition_pruned_and_code_only(spark, md_elements, tmp_path):
    """The probed-cells literal must reach the codes scan as a
    PartitionFilter, and the ADC scan must read codes, never embeddings."""
    from dataingestionplayground_spark.ingest.ann_index import ivfpq_search_indexed
    from dataingestionplayground_spark.plans import physical_plan

    store, _ = _ivfpq_fixture(spark, md_elements, tmp_path)
    q = _queries_df(spark, ["machine learning algorithms"])
    plan = physical_plan(
        ivfpq_search_indexed(spark, store, "ivfpq", q, k=3, n_probe=1, rerank=None),
        "formatted",
    )
    assert "PartitionFilters" in plan and "cell" in plan
    scan_lines = [
        ln for ln in plan.splitlines() if "Scan parquet" in ln or "ReadSchema" in ln
    ]
    assert any("code_0" in ln for ln in scan_lines)
    assert not any("embedding" in ln for ln in scan_lines)


def test_ivfpq_refresh_appends_only_new_drops_orphans_and_ensure(
    spark, md_elements, tmp_path
):
    """Refresh encodes ONLY anti-joined new chunks against the frozen
    quantizers; deletions rewrite only affected cells; ensure_index
    routes the ivfpq kind through build -> refresh -> no-op."""
    from dataingestionplayground_spark.ingest.ann_index import (
        ensure_index,
        ivfpq_index_staleness,
        ivfpq_search_indexed,
        read_ivfpq_codes,
    )

    ids = sorted(r.doc_id for r in md_elements.select("doc_id").distinct().collect())
    first, later = ids[:4], ids[4:]
    store = CollectionStore(str(tmp_path))
    ingest_corpus(
        md_elements.filter(F.col("doc_id").isin(first)), store, "inc",
        max_tokens=8, overlap=0,
    )
    r = ensure_index(
        spark, store, "inc", "ivfpq", n_cells=4, m=M, n_centroids=K,
        codebook_mode="seed", centroid_mode="seed",
    )
    assert r["built"] is True
    n0 = read_ivfpq_codes(spark, store, "inc").count()
    base = {
        (row["key"], tuple(row[f"code_{s}"] for s in range(M)))
        for row in read_ivfpq_codes(spark, store, "inc").collect()
    }

    # later docs arrive: refresh appends, existing codes byte-stable
    ingest_corpus(
        md_elements.filter(F.col("doc_id").isin(later)), store, "inc",
        max_tokens=8, overlap=0, incremental=True,
    )
    r2 = ensure_index(spark, store, "inc", "ivfpq")
    assert r2["built"] is False and r2["appended"] > 0 and r2["removed"] == 0
    after = {
        (row["key"], tuple(row[f"code_{s}"] for s in range(M)))
        for row in read_ivfpq_codes(spark, store, "inc").collect()
    }
    assert base <= after and len(after) == n0 + r2["appended"]
    st = ivfpq_index_staleness(spark, store, "inc")
    assert st == {"missing": 0, "orphaned": 0}
    # a fresh index is a no-op
    r3 = ensure_index(spark, store, "inc", "ivfpq")
    assert r3 == {"built": False, "appended": 0, "removed": 0}

    # deletion: drop one document's chunks -> its code rows disappear
    victim = later[0] if later else first[0]
    store.delete_documents(spark, "inc", [victim])
    r4 = ensure_index(spark, store, "inc", "ivfpq")
    assert r4["removed"] > 0
    keys_left = {row["key"] for row in read_ivfpq_codes(spark, store, "inc").collect()}
    live = {row["key"] for row in store.read(spark, "inc").select("key").collect()}
    assert keys_left == live
    # search still works over the maintained table
    q = _queries_df(spark, ["machine learning algorithms"])
    assert len(ivfpq_search_indexed(spark, store, "inc", q, k=3).collect()) > 0


# Spark jobs one single-query indexed search starts, build plus collect,
# counted with getJobIdsForGroup in this test's session (local[8], AQE
# on): the driver collect of the query frame plus the search's own query
# stages. Measured IVF 3, PQ 3, IVFPQ 3 with each top-k a TakeOrdered
# (no query_id exchange); IVF 4, PQ 5, IVFPQ 5 when every top-k ranked
# through a Window.partitionBy(query_id) exchange, which AQE ran as a job
# of its own; IVF 7, PQ 8, IVFPQ 8 when each index read inferred its
# schema and each RDD-backed side frame (the query frame, probe table,
# codebook, lookup tables) cost a job per broadcast.
SEARCH_JOB_BOUND = {"ivf": 3, "pq": 3, "ivfpq": 3}


def test_indexed_search_job_budget(spark, md_elements, tmp_path):
    from dataingestionplayground_spark.ingest.ann_index import (
        build_ivf_index,
        build_ivfpq_index,
        ivf_search_indexed,
        ivfpq_search_indexed,
    )
    from dataingestionplayground_spark.plans import physical_plan

    store = CollectionStore(str(tmp_path))
    ingest_corpus(md_elements, store, "jobs", max_tokens=8, overlap=0)
    build_pq_index(spark, store, "jobs", m=M, n_centroids=K, dims=DIMS, codebook_mode="seed")
    build_ivf_index(spark, store, "jobs", n_cells=4)
    build_ivfpq_index(spark, store, "jobs", n_cells=4, m=M, n_centroids=K, dims=DIMS)
    searches = {
        "ivf": lambda q: ivf_search_indexed(spark, store, "jobs", q, k=3),
        "pq": lambda q: pq_search_indexed(spark, store, "jobs", q, k=3, rerank="auto"),
        "ivfpq": lambda q: ivfpq_search_indexed(spark, store, "jobs", q, k=3),
    }
    sc = spark.sparkContext
    for kind, search in searches.items():
        q = _queries_df(spark, ["machine learning algorithms"])
        group = f"test-indexed-search-jobs-{kind}"
        sc.setJobGroup(group, group)
        try:
            hits = search(q)
            rows = hits.collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert rows
        n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        assert 0 < n_jobs <= SEARCH_JOB_BOUND[kind], (kind, n_jobs)
        plan = physical_plan(hits)
        # no RDD-backed side frame anywhere in the plan
        assert "ExistingRDD" not in plan, kind
        # a single query's top-k is a TakeOrdered: ranking adds no exchange
        assert "TakeOrderedAndProject" in plan and "hashpartitioning" not in plan, kind


# Index maintenance: the merge / replay / compact / refresh-after-delete
# sequence over one fixture, shared by the session-conf and job-budget
# tests below.
def _maintenance_steps(spark, md_elements, tmp_path, kind):
    """Build a ``kind`` index over the first four fixture docs, ingest
    the rest as two increments, and return the maintenance steps as
    (label, thunk) pairs: merge epoch 1, its replay, merge epoch 2,
    compact, then a document delete followed by refresh."""
    from dataingestionplayground_spark.ingest import ann_index as A

    build, merge, compact, refresh = {
        "ivf": (
            lambda store: A.build_ivf_index(spark, store, "m", n_cells=4),
            A.merge_ivf_assignments, A.compact_ivf_assignments, A.refresh_ivf_index,
        ),
        "ivfpq": (
            lambda store: A.build_ivfpq_index(
                spark, store, "m", n_cells=4, m=M, n_centroids=K, dims=DIMS
            ),
            A.merge_ivfpq_codes, A.compact_ivfpq_codes, A.refresh_ivfpq_index,
        ),
        "pq": (
            lambda store: A.build_pq_index(
                spark, store, "m", m=M, n_centroids=K, dims=DIMS, codebook_mode="seed"
            ),
            A.merge_pq_codes, A.compact_pq_codes, A.refresh_pq_index,
        ),
    }[kind]
    ids = sorted(r.doc_id for r in md_elements.select("doc_id").distinct().collect())
    store = CollectionStore(str(tmp_path))
    ingest_corpus(
        md_elements.filter(F.col("doc_id").isin(ids[:4])), store, "m",
        max_tokens=8, overlap=0,
    )
    build(store)
    batches = []
    for part in (ids[4:5], ids[5:]):
        ingest_corpus(
            md_elements.filter(F.col("doc_id").isin(part)), store, "m",
            max_tokens=8, overlap=0, incremental=True,
        )
        batches.append(
            store.read(spark, "m")
            .filter(F.col("documentid").isin(part))
            .select("key", "documentid", "embedding")
        )

    def delete_then_refresh():
        store.delete_documents(spark, "m", [ids[0]])
        return refresh(spark, store, "m")

    return store, [
        ("merge", lambda: merge(spark, store, "m", batches[0], 1)),
        ("replay", lambda: merge(spark, store, "m", batches[0], 1)),
        ("merge2", lambda: merge(spark, store, "m", batches[1], 2)),
        ("compact", lambda: compact(spark, store, "m")),
        ("refresh", delete_then_refresh),
    ]


@pytest.mark.parametrize("kind", ["ivf", "ivfpq", "pq"])
def test_index_maintenance_leaves_session_conf_alone(
    spark, md_elements, tmp_path, monkeypatch, kind
):
    """Dynamic partition overwrite is a writer option: no maintenance
    call sets ``partitionOverwriteMode`` (or anything else about it) on
    the shared session, where a concurrent writer would inherit it."""
    _, steps = _maintenance_steps(spark, md_elements, tmp_path, kind)
    conf = spark.conf
    real_set = conf.set
    keys: list[str] = []

    def recording_set(key, value):
        keys.append(key)
        return real_set(key, value)

    monkeypatch.setattr(conf, "set", recording_set)
    for _, step in steps:
        step()
    monkeypatch.undo()
    assert not [k for k in keys if "partitionOverwriteMode" in k], keys


# Spark jobs each maintenance step starts on the fixture above, counted
# with getJobIdsForGroup in this test's session (local[8], AQE on): a
# merge (and its replay) runs the encode checkpoint, the touched-cell
# collect, the merged checkpoint and the partitioned write; compact
# collects the staged cells, checkpoints and writes; the refresh step
# includes the store's document delete, both anti-join counts and the
# rewrite of the cells that held the deleted document. A PQ merge is the
# encode checkpoint, which observes the staged row count, and the write
# (4 when the count took its own action).
MAINTENANCE_JOB_BOUND = {
    "ivf": {"merge": 10, "replay": 10, "merge2": 10, "compact": 5, "refresh": 22},
    "ivfpq": {"merge": 15, "replay": 15, "merge2": 15, "compact": 5, "refresh": 22},
    "pq": {"merge": 2, "replay": 2, "merge2": 2, "compact": 7, "refresh": 17},
}


@pytest.mark.parametrize("kind", ["ivf", "ivfpq", "pq"])
def test_index_maintenance_job_budget(spark, md_elements, tmp_path, kind):
    _, steps = _maintenance_steps(spark, md_elements, tmp_path, kind)
    sc = spark.sparkContext
    counts = {}
    for label, step in steps:
        group = f"test-maintenance-jobs-{kind}-{label}"
        sc.setJobGroup(group, group)
        try:
            step()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        counts[label] = len(sc.statusTracker().getJobIdsForGroup(group))
    bound = MAINTENANCE_JOB_BOUND[kind]
    assert all(0 < counts[s] <= bound[s] for s in bound), (counts, bound)


def test_ensure_index_calls_build_and_refresh_through_module(
    spark, md_elements, tmp_path, monkeypatch
):
    """``ensure_index`` looks ``build_*``/``refresh_*`` up on the module
    at call time, so a wrapper installed there (the benchmark tracer's
    spans) sees every call."""
    from dataingestionplayground_spark.ingest import ann_index as A

    calls: list[str] = []

    def counting(name):
        real = getattr(A, name)

        def wrapper(*args, **kwargs):
            calls.append(name)
            return real(*args, **kwargs)

        monkeypatch.setattr(A, name, wrapper)

    for name in ("build_ivf_index", "refresh_ivf_index", "refresh_pq_index"):
        counting(name)
    ids = sorted(r.doc_id for r in md_elements.select("doc_id").distinct().collect())
    store = CollectionStore(str(tmp_path))
    ingest_corpus(md_elements.filter(F.col("doc_id").isin(ids[:4])), store, "d")
    assert A.ensure_index(spark, store, "d", "ivf", n_cells=4)["built"]
    assert A.ensure_index(
        spark, store, "d", "pq", m=M, n_centroids=K, codebook_mode="seed"
    )["built"]
    assert calls == ["build_ivf_index"]
    ingest_corpus(
        md_elements.filter(F.col("doc_id").isin(ids[4:])), store, "d", incremental=True
    )
    assert A.ensure_index(spark, store, "d", "ivf")["appended"] > 0
    assert A.ensure_index(spark, store, "d", "pq")["appended"] > 0
    assert calls == ["build_ivf_index", "refresh_ivf_index", "refresh_pq_index"]


# Spark jobs each index build starts on the fixture (build defaults:
# k-means coarse centroids and a k-means-refined codebook), counted with
# getJobIdsForGroup in this test's session (local[8], AQE on). Training
# is driver-held: the seed fetch, then per Lloyd iteration and per PQ
# refine one assign-and-aggregate collect (two jobs: the shuffle map
# stage and the result); then the encode and the write.
BUILD_JOB_BOUND = {"ivf": 7, "pq": 5, "ivfpq": 10}


@pytest.mark.parametrize("kind", ["ivf", "pq", "ivfpq"])
def test_index_build_job_budget(spark, md_elements, tmp_path, kind):
    from dataingestionplayground_spark.ingest import ann_index as A

    store = CollectionStore(str(tmp_path))
    ingest_corpus(md_elements, store, "b", max_tokens=8, overlap=0)
    build = {
        "ivf": lambda: A.build_ivf_index(spark, store, "b", n_cells=4),
        "pq": lambda: A.build_pq_index(spark, store, "b", m=M, n_centroids=K, dims=DIMS),
        "ivfpq": lambda: A.build_ivfpq_index(
            spark, store, "b", n_cells=4, m=M, n_centroids=K, dims=DIMS
        ),
    }[kind]
    sc = spark.sparkContext
    group = f"test-build-jobs-{kind}"
    sc.setJobGroup(group, group)
    try:
        build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert 0 < n_jobs <= BUILD_JOB_BOUND[kind], (kind, n_jobs)


def test_ensure_index_given_dims_skips_the_dims_probe(
    spark, md_elements, tmp_path, monkeypatch
):
    """The dims probe is a Spark job over the collection: ``ensure_index``
    runs it only when the caller did not pass ``dims``."""
    from dataingestionplayground_spark.ingest import ann_index as A

    probes: list[str] = []
    real = A._embedding_dims

    def probe(spark_, store_, collection):
        probes.append(collection)
        return real(spark_, store_, collection)

    monkeypatch.setattr(A, "_embedding_dims", probe)
    store = CollectionStore(str(tmp_path))
    ingest_corpus(md_elements, store, "d", max_tokens=8, overlap=0)
    kw = {"m": M, "n_centroids": K, "codebook_mode": "seed"}
    assert A.ensure_index(spark, store, "d", "pq", dims=DIMS, **kw)["built"]
    assert probes == []
    shutil.rmtree(os.path.join(store.base_path, "_indexes"))
    assert A.ensure_index(spark, store, "d", "pq", **kw)["built"]
    assert probes == ["d"]
