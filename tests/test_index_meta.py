"""Index meta files store their quantizer blocks as float64 bytes
(base64 inside the JSON) and load back into the list form the builds
return; a meta written as plain JSON lists still loads and searches the
same. Also: an indexed search parses its meta once, and the staleness
check is one full outer join counted in one action."""

from __future__ import annotations

import json
import math
import os

import pytest

from pyspark.sql import functions as F

from dataingestionplayground_spark.ingest import CollectionStore, ingest_corpus
from dataingestionplayground_spark.ingest import ann_index as A
from dataingestionplayground_spark.ingest.embed import DIMS, hash_embed
from dataingestionplayground_spark.sources.markdown import parse_markdown_df, read_markdown_dir

M, K = 4, 8

BUILDS = {
    "ivf": lambda spark, store, c: A.build_ivf_index(spark, store, c, n_cells=4),
    "ivf_soft": lambda spark, store, c: A.build_ivf_index(
        spark, store, c, n_cells=4, assign_top=2
    ),
    "pq": lambda spark, store, c: A.build_pq_index(
        spark, store, c, m=M, n_centroids=K, dims=DIMS
    ),
    "ivfpq": lambda spark, store, c: A.build_ivfpq_index(
        spark, store, c, n_cells=4, m=M, n_centroids=K, dims=DIMS
    ),
}


def _kind(build: str) -> str:
    return build.removesuffix("_soft")


@pytest.fixture(scope="module")
def md_elements(spark, md_fixture_dir):
    raw = read_markdown_dir(spark, md_fixture_dir)
    return parse_markdown_df(raw).cache()


@pytest.fixture(scope="module")
def built(spark, md_elements, tmp_path_factory):
    """One store holding one collection per build above, with the meta
    each build returned."""
    store = CollectionStore(str(tmp_path_factory.mktemp("meta")))
    metas = {}
    for name, build in BUILDS.items():
        ingest_corpus(md_elements, store, name, max_tokens=8, overlap=0)
        metas[name] = build(spark, store, name)
    return store, metas


def _queries(spark, texts):
    rows = [(f"q{i}", hash_embed(t)) for i, t in enumerate(texts)]
    return spark.createDataFrame(rows, "query_id string, query_vec array<float>")


SEARCHES = {
    "ivf": lambda spark, store, c, q: A.ivf_search_indexed(spark, store, c, q, k=5),
    "ivf_soft": lambda spark, store, c, q: A.ivf_search_indexed(
        spark, store, c, q, k=5, n_probe=4
    ),
    "pq": lambda spark, store, c, q: A.pq_search_indexed(
        spark, store, c, q, k=5, rerank="auto"
    ),
    "ivfpq": lambda spark, store, c, q: A.ivfpq_search_indexed(spark, store, c, q, k=5),
}

TEXTS = ["machine learning algorithms", "the roman empire", "database indexes"]


def _same(a, b) -> bool:
    """Structural equality with NaN equal to NaN; every other leaf
    equal in value and type."""
    if isinstance(a, float) and isinstance(b, float) and math.isnan(a):
        return math.isnan(b)
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(_same(a[k], b[k]) for k in a)
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return a == b and type(a) is type(b)


def _n_floats(block) -> int:
    if isinstance(block, (list, tuple)):
        return sum(_n_floats(x) for x in block)
    return int(isinstance(block, float))


@pytest.mark.parametrize("name", list(BUILDS))
def test_load_meta_equals_the_built_meta(built, name):
    """``_load_meta`` hands back the meta the build returned, as a JSON
    round trip of it would: the same values, bit for bit."""
    store, metas = built
    got = A._load_meta(store, name, _kind(name))
    assert _same(got, json.loads(json.dumps(metas[name])))


@pytest.mark.parametrize("name", list(BUILDS))
def test_meta_blocks_are_stored_as_float64_bytes(built, name):
    """Every quantizer block is stored encoded, and the file stays within
    11 bytes per stored float64 value plus 4 KB of parameters."""
    store, metas = built
    path = A._meta_path(store, name, _kind(name))
    with open(path) as f:
        raw = json.load(f)
    blocks = [b for b in A._BLOCKS if b in metas[name]]
    assert blocks
    assert all(isinstance(raw[b], dict) and "f64" in raw[b] for b in blocks)
    n_values = sum(_n_floats(metas[name][b]) for b in blocks)
    assert os.path.getsize(path) <= 11 * n_values + 4096, (os.path.getsize(path), n_values)


def test_nan_and_infinities_round_trip(tmp_path):
    store = CollectionStore(str(tmp_path))
    nan, inf = float("nan"), float("inf")
    meta = {
        "n_cells": 2,
        "cents": [[nan, inf, -inf], [-0.0, 5e-324, 1.7976931348623157e308]],
        "coarse": [[0.1, -inf]],
    }
    A._write_meta(A._meta_path(store, "c", "ivfpq"), meta)
    got = A._load_meta(store, "c", "ivfpq")
    assert _same(got, meta)
    assert math.copysign(1.0, got["cents"][1][0]) == -1.0  # -0.0 keeps its sign
    with open(A._meta_path(store, "c", "ivfpq")) as f:
        raw = json.load(f)
    assert isinstance(raw["cents"], dict) and isinstance(raw["coarse"], dict)


def test_block_with_none_keeps_the_list_form(tmp_path):
    """A mean over all-null positions leaves a None in a centroid; such a
    block is not a float matrix, so it is stored and loaded as a list."""
    store = CollectionStore(str(tmp_path))
    meta = {
        "m": 2,
        "cents": [[0, 0, [0.5, None]], [1, 0, [0.25, 1.0]], [1, 1, None]],
        "coarse": [[1.0, 2.0], None],
    }
    A._write_meta(A._meta_path(store, "c", "ivfpq"), meta)
    with open(A._meta_path(store, "c", "ivfpq")) as f:
        raw = json.load(f)
    assert raw["cents"] == meta["cents"] and raw["coarse"] == meta["coarse"]
    assert _same(A._load_meta(store, "c", "ivfpq"), meta)


@pytest.mark.parametrize("name", list(BUILDS))
def test_list_form_meta_searches_like_the_encoded_one(spark, built, name):
    """A meta written the old way — plain ``json.dump`` of the lists —
    loads to the same values and searches row for row like the
    encoded meta."""
    store, metas = built
    q = _queries(spark, TEXTS)
    search = SEARCHES[name]
    encoded = sorted(map(tuple, search(spark, store, name, q).collect()))
    path = A._meta_path(store, name, _kind(name))
    with open(path) as f:
        stored = f.read()
    lists = A._load_meta(store, name, _kind(name))
    try:
        with open(path, "w") as f:
            json.dump(lists, f)
        assert _same(A._load_meta(store, name, _kind(name)), json.loads(json.dumps(metas[name])))
        legacy = sorted(map(tuple, search(spark, store, name, q).collect()))
    finally:
        with open(path, "w") as f:
            f.write(stored)
    assert encoded and legacy == encoded


def _count_meta_loads(monkeypatch) -> list[str]:
    """The kinds of the ``_load_meta`` calls made from here on."""
    calls: list[str] = []
    real = A._load_meta

    def counting(store_, collection, kind):
        calls.append(kind)
        return real(store_, collection, kind)

    monkeypatch.setattr(A, "_load_meta", counting)
    return calls


@pytest.mark.parametrize("name", ["ivf", "pq", "ivfpq"])
def test_indexed_search_loads_its_meta_once(spark, built, monkeypatch, name):
    store, _ = built
    q = _queries(spark, TEXTS[:1])
    calls = _count_meta_loads(monkeypatch)
    rows = SEARCHES[name](spark, store, name, q).collect()
    assert rows and calls == [name]


def test_ensure_index_on_a_current_index_loads_no_extra_meta(spark, built, monkeypatch):
    """``ensure_index`` tells a built index by its meta path; the only
    parse left is the staleness check's table read."""
    store, _ = built
    calls = _count_meta_loads(monkeypatch)
    assert A.ensure_index(spark, store, "ivf", "ivf") == {
        "built": False, "appended": 0, "removed": 0,
    }
    assert calls == ["ivf"]


# ---------------------------------------------------------------------------
# Staleness: one full outer join, counted in one action.
# ---------------------------------------------------------------------------


def _anti_join_counts(chunks, indexed) -> dict:
    """The two left-anti-join counts the staleness check replaced."""
    keys, idx = chunks.select("key"), indexed.select("key")
    return {
        "missing": keys.join(idx, "key", "left_anti").count(),
        "orphaned": idx.join(keys, "key", "left_anti").count(),
    }


class _FrameStore:
    """A store stand-in whose every collection reads as ``frame``."""

    def __init__(self, frame):
        self.frame = frame

    def read(self, spark, collection):
        return self.frame


def test_staleness_matches_anti_join_counts_on_duplicate_and_null_keys(spark):
    chunk_keys = ["a", "b", "b", "c", None, None, "e"]
    index_keys = ["a", "a", "b", "d", "d", None, "f"]  # "a" soft-assigned twice
    chunks = spark.createDataFrame([(k,) for k in chunk_keys], "key string")
    indexed = spark.createDataFrame([(k, 0) for k in index_keys], "key string, cell int")
    got = A._staleness(spark, _FrameStore(chunks), "c", indexed)
    want = _anti_join_counts(chunks, indexed)
    # c, e and the two null chunk keys; d, d, f and the null index key
    assert got == want == {"missing": 4, "orphaned": 4}
    empty = spark.createDataFrame([], "key string, cell int")
    assert A._staleness(spark, _FrameStore(chunks), "c", empty) == {
        "missing": len(chunk_keys), "orphaned": 0,
    }


def test_staleness_matches_anti_join_counts_on_stale_indexes(spark, md_elements, tmp_path):
    """A soft IVF index (keys stored twice) and a PQ index over a store
    that gained one document and lost another since the build."""
    ids = sorted(r.doc_id for r in md_elements.select("doc_id").distinct().collect())
    store = CollectionStore(str(tmp_path))
    ingest_corpus(md_elements.filter(F.col("doc_id").isin(ids[:-1])), store, "s")
    A.build_ivf_index(spark, store, "s", n_cells=4, assign_top=2)
    A.build_pq_index(spark, store, "s", m=M, n_centroids=K, dims=DIMS)
    ingest_corpus(
        md_elements.filter(F.col("doc_id").isin(ids[-1:])), store, "s", incremental=True
    )
    store.delete_documents(spark, "s", [ids[0]])
    chunks = store.read(spark, "s")
    for stale, read in (
        (A.ivf_index_staleness, A.read_ivf_assignments),
        (A.index_staleness, A.read_pq_codes),
    ):
        got = stale(spark, store, "s")
        assert got == _anti_join_counts(chunks, read(spark, store, "s"))
        assert got["missing"] > 0 and got["orphaned"] > 0


# Spark jobs of one staleness check on the fixture, counted with
# getJobIdsForGroup in this test's session (local[8], AQE on): the two
# shuffle map stages of the full outer join and the counting aggregate
# (the two anti-join counts took 6).
STALENESS_JOB_BOUND = 4


@pytest.mark.parametrize("name", ["ivf", "ivf_soft", "pq", "ivfpq"])
def test_staleness_job_budget(spark, built, name):
    store, _ = built
    stale = {
        "ivf": A.ivf_index_staleness,
        "pq": A.index_staleness,
        "ivfpq": A.ivfpq_index_staleness,
    }[_kind(name)]
    sc = spark.sparkContext
    group = f"test-staleness-jobs-{name}"
    sc.setJobGroup(group, group)
    try:
        counts = stale(spark, store, name)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert counts == {"missing": 0, "orphaned": 0}
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert 0 < n_jobs <= STALENESS_JOB_BOUND, (name, n_jobs)
