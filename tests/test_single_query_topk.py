"""Single-query indexed top-k: the TakeOrdered plan a one-query search
uses must return, row for row, what the per-query window returns."""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import Window
from pyspark.sql import functions as F

from dataingestionplayground_spark.ingest import ann_index as A
from dataingestionplayground_spark.ingest.store import CollectionStore
from dataingestionplayground_spark.plans import physical_plan

DIMS = 8
N_CELLS = 3
COPIES = 4  # every embedding is stored COPIES times: ties at every group edge


def _window_ranked(scored, qid, order, k, single):
    """The reference: rank every query's rows through the window alone."""
    w = Window.partitionBy(qid).orderBy(*order)
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


@pytest.fixture(scope="module")
def stores(spark, tmp_path_factory):
    """Two stores over one collection of 12 base vectors x COPIES plus
    one zero-norm embedding (its cosine score is null): 'hard' holds
    single-assignment IVF and IVFPQ indexes and the PQ index, 'soft'
    the ``assign_top=2`` IVF and IVFPQ indexes."""
    rng = np.random.default_rng(11)
    base = np.round(rng.normal(size=(12, DIMS)), 1)
    embs = [v for v in base for _ in range(COPIES)] + [np.zeros(DIMS)]
    rows = [
        (f"k{i:03d}", [float(x) for x in v], "", None, f"d{i:03d}", 0)
        for i, v in enumerate(embs)
    ]
    chunks = spark.createDataFrame(
        rows,
        "key string, embedding array<float>, content string, context string, "
        "documentid string, chunk_idx int",
    )
    out = {}
    for name, top in (("hard", 1), ("soft", 2)):
        store = CollectionStore(str(tmp_path_factory.mktemp(name)))
        store.write(chunks, "c")
        A.build_ivf_index(spark, store, "c", n_cells=N_CELLS, assign_top=top)
        A.build_ivfpq_index(
            spark, store, "c", n_cells=N_CELLS, m=2, n_centroids=4, dims=DIMS,
            codebook_mode="seed", assign_top=top,
        )
        if top == 1:
            A.build_pq_index(
                spark, store, "c", m=2, n_centroids=4, dims=DIMS, codebook_mode="seed"
            )
        out[name] = store
    out["n"] = len(embs)
    return out


# kind -> (store, ranked column, search, its options)
SEARCHES = {
    "ivf": ("hard", "score", A.ivf_search_indexed, {}),
    "ivf_soft": ("soft", "score", A.ivf_search_indexed, {}),
    "pq": ("hard", "adc_dist", A.pq_search_indexed, {}),
    "pq_rerank7": ("hard", "score", A.pq_search_indexed, {"rerank": 7}),
    "pq_auto": ("hard", "score", A.pq_search_indexed, {"rerank": "auto"}),
    "ivfpq": ("hard", "score", A.ivfpq_search_indexed, {}),
    "ivfpq_soft": ("soft", "score", A.ivfpq_search_indexed, {}),
}


def _search(spark, stores, kind, q, k):
    which, _, search, opts = SEARCHES[kind]
    if search is not A.pq_search_indexed:
        # k past the corpus size probes every cell: every chunk with a
        # cell is a candidate
        opts = {**opts, "n_probe": 2 if k < stores["n"] else N_CELLS}
    return search(spark, stores[which], "c", q, k=k, **opts)


# exact-rescored kinds whose candidates can include the zero-norm chunk
# (the cosine IVF assignment gives it a null cell, which no probe reads)
NULL_SCORED = {"pq_rerank7", "pq_auto", "ivfpq", "ivfpq_soft"}


def _queries(spark, ids, id_type):
    rng = np.random.default_rng(5)
    rows = [(q, [float(x) for x in rng.normal(size=DIMS)]) for q in ids]
    return spark.createDataFrame(rows, f"query_id {id_type}, query_vec array<float>")


def _rows(df):
    return sorted((r.asDict() for r in df.collect()), key=lambda r: (r["query_id"], r["rank"]))


@pytest.mark.parametrize("kind", list(SEARCHES))
def test_single_query_topk_matches_window_reference(spark, stores, kind, monkeypatch):
    score = SEARCHES[kind][1]
    # (query id, id type, k): k below, at and past a tie; k past the
    # corpus size; an integer id
    cases = [("q", "string", 3), ("q", "string", 5), ("q", "string", stores["n"] + 10),
             (7, "int", 5)]
    for qid, id_type, k in cases:
        q = _queries(spark, [qid], id_type)
        hits = _search(spark, stores, kind, q, k)
        assert "TakeOrderedAndProject" in physical_plan(hits), (kind, k)
        got = _rows(hits)
        with monkeypatch.context() as m:
            m.setattr(A, "_ranked", _window_ranked)
            ref_hits = _search(spark, stores, kind, q, k)
            assert "TakeOrderedAndProject" not in physical_plan(ref_hits)
            ref = _rows(ref_hits)
            deeper = _rows(_search(spark, stores, kind, q, k + 1)) if k == 5 else None
        assert got == ref, (kind, id_type, k)
        assert got and [r["rank"] for r in got] == list(range(1, len(got) + 1))
        assert {r["query_id"] for r in got} == {qid}
        if deeper is not None:
            # the fixture puts a tie across the cutoff: rank k and
            # rank k+1 carry one score
            assert deeper[k - 1][score] == deeper[k][score], (kind, deeper)
        if k > stores["n"]:
            assert len(got) < k
        if k > stores["n"] and kind in NULL_SCORED:
            # every candidate is returned, the null score last
            assert got[-1]["score"] is None, (kind, got[-1])


def test_multi_query_topk_keeps_the_window_plan(spark, stores, monkeypatch):
    q = _queries(spark, ["a", "b"], "string")
    for kind in SEARCHES:
        hits = _search(spark, stores, kind, q, 5)
        assert "TakeOrderedAndProject" not in physical_plan(hits), kind
        with monkeypatch.context() as m:
            m.setattr(A, "_ranked", _window_ranked)
            ref = _rows(_search(spark, stores, kind, q, 5))
        got = _rows(hits)
        assert got == ref and {r["query_id"] for r in got} == {"a", "b"}, kind
