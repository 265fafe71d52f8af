"""Round-15 maintained-index pins (r14 verdict item 4 + r15 ADVICE):

* crash-recoverable compaction swap — the PQ code table survives a
  crash at ANY point of the compact directory swap (the old two-rename
  dance had a window with no live ``codes`` directory at all);
* compaction short-circuit — a quiet index (nothing epoch-staged) is a
  0-cost no-op, and IVF/IVFADC compaction rewrites ONLY the cells that
  hold epoch-tagged rows (untouched partitions' files stay in place);
* deletion-maintenance parity — a delete-then-merge(-then-reconcile)
  sequence converges to the delete-then-rebuild table for the PQ and
  IVFADC code tables (the IVF assignment table was pinned in r14),
  including the tombstone-before-compaction ordering;
* per-kind retrain signal — ``ivfpq_retrain_signal`` reads the IVFADC
  index's own metadata and occupancy (the CLI used to report the IVF
  index's skew for ``--kind ivfpq``);
* CLI contract — ``index merge`` without ``--epoch`` is rejected (a
  constant default epoch made two successive merges mutually
  destructive), and ``index signal`` dispatches per kind.
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from dataingestionplayground_spark.ingest import CollectionStore, ingest_corpus
from dataingestionplayground_spark.ingest.ann_index import (
    _pq_staging_dir,
    _residualize,
    build_ivf_index,
    build_ivfpq_index,
    build_pq_index,
    compact_ivf_assignments,
    compact_ivfpq_codes,
    compact_pq_codes,
    index_staleness,
    ivfpq_index_staleness,
    ivfpq_retrain_signal,
    merge_ivf_assignments,
    merge_ivfpq_codes,
    merge_pq_codes,
    read_ivf_assignments,
    read_ivfpq_codes,
    read_pq_codes,
    refresh_ivfpq_index,
    refresh_pq_index,
)
from dataingestionplayground_spark.ingest.embed import DIMS
from dataingestionplayground_spark.operators.similarity import (
    pq_encode_with_codebook,
)
from dataingestionplayground_spark.sources.markdown import (
    parse_markdown_df,
    read_markdown_dir,
)


@pytest.fixture(scope="module")
def md_elements(spark, md_fixture_dir):
    raw = read_markdown_dir(spark, md_fixture_dir)
    return parse_markdown_df(raw).cache()


def _inc(md_elements, store, name, suffix):
    extra = md_elements.withColumn(
        "doc_id", F.concat(F.col("doc_id"), F.lit(suffix))
    )
    ingest_corpus(extra, store, name, max_tokens=8, overlap=0, incremental=True)


def _batch(spark, store, name, suffix):
    return (
        store.read(spark, name)
        .filter(F.col("documentid").endswith(suffix))
        .select("key", "documentid", "embedding")
    )


def _pq_view(spark, store, name):
    df = read_pq_codes(spark, store, name)
    cols = sorted(df.columns)
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def _pq_rebuild_view(spark, store, name, meta):
    """What a delete-then-REBUILD code table looks like: a full
    re-encode of the store's surviving chunks against the frozen
    codebook — the convergence target for every maintenance path."""
    chunks = store.read(spark, name).select("key", "documentid", "embedding")
    df = pq_encode_with_codebook(
        chunks, meta["cents"], meta["m"], meta["dims"],
        "key", "embedding", extra_cols=("documentid",),
    )
    cols = sorted(df.columns)
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


# ------------------------------------------------ crash-recoverable swap


def test_pq_compact_swap_recovers_from_crash_window(
    spark, md_elements, tmp_path
):
    store = CollectionStore(str(tmp_path))
    ingest_corpus(md_elements, store, "pq", max_tokens=8, overlap=0)
    build_pq_index(
        spark, store, "pq", m=4, n_centroids=8, dims=DIMS, codebook_mode="seed"
    )
    _inc(md_elements, store, "pq", "-c1")
    merge_pq_codes(spark, store, "pq", _batch(spark, store, "pq", "-c1"), 1)
    compact_pq_codes(spark, store, "pq")
    view = _pq_view(spark, store, "pq")

    codes = os.path.join(str(tmp_path), "_indexes", "pq", "pq", "codes")
    assert os.path.isdir(codes)

    # crash point 1: ``.new`` fully written, live renamed aside, promote
    # rename never ran — the old code left NO codes directory here
    shutil.copytree(codes, codes + ".new")
    os.rename(codes, codes + ".old")
    assert not os.path.exists(codes)
    assert _pq_view(spark, store, "pq") == view  # reader self-repairs
    assert os.path.isdir(codes)
    assert not os.path.exists(codes + ".new")
    assert not os.path.exists(codes + ".old")

    # crash point 2: promote ran but ``.old`` cleanup did not
    shutil.copytree(codes, codes + ".old")
    assert _pq_view(spark, store, "pq") == view
    assert not os.path.exists(codes + ".old")

    # crash DURING the ``.new`` write (live intact, ``.new`` partial):
    # the partial directory must never be promoted over the live table
    os.makedirs(codes + ".new")
    (open(os.path.join(codes + ".new", "part-junk.parquet"), "w")).close()
    assert _pq_view(spark, store, "pq") == view
    assert os.path.isdir(codes + ".new")  # left for the next rewrite
    shutil.rmtree(codes + ".new")


# ----------------------------------------------- compaction short-circuit


def test_ivf_compact_short_circuits_and_touches_staged_cells_only(
    spark, md_elements, tmp_path
):
    store = CollectionStore(str(tmp_path))
    ingest_corpus(md_elements, store, "ivf", max_tokens=8, overlap=0)
    build_ivf_index(spark, store, "ivf", n_cells=4)

    # nothing staged yet (base table has no epoch column): no-op
    assert compact_ivf_assignments(spark, store, "ivf") == 0

    _inc(md_elements, store, "ivf", "-s1")
    b = _batch(spark, store, "ivf", "-s1").limit(3)
    touched = merge_ivf_assignments(spark, store, "ivf", b, epoch_id=1)
    assert touched > 0

    cells_path = os.path.join(str(tmp_path), "_indexes", "ivf", "ivf", "cells")
    assigned = read_ivf_assignments(spark, store, "ivf")
    staged_cells = {
        r["cell"]
        for r in assigned.filter(F.col("epoch_id").isNotNull())
        .select("cell")
        .distinct()
        .collect()
    }
    untouched = [
        d
        for d in os.listdir(cells_path)
        if d.startswith("cell=")
        and int(d.split("=", 1)[1]) not in staged_cells
    ]
    before_files = {
        d: sorted(
            (f, os.path.getmtime(os.path.join(cells_path, d, f)))
            for f in os.listdir(os.path.join(cells_path, d))
            if f.endswith(".parquet")
        )
        for d in untouched
    }

    view = sorted(
        (r["key"], r["cell"])
        for r in assigned.select("key", "cell").collect()
    )
    # compaction rewrites exactly the staged cells...
    assert compact_ivf_assignments(spark, store, "ivf") == len(staged_cells)
    # ...and leaves every untouched cell's files byte-for-byte in place
    after_files = {
        d: sorted(
            (f, os.path.getmtime(os.path.join(cells_path, d, f)))
            for f in os.listdir(os.path.join(cells_path, d))
            if f.endswith(".parquet")
        )
        for d in untouched
    }
    assert after_files == before_files
    got = sorted(
        (r["key"], r["cell"])
        for r in read_ivf_assignments(spark, store, "ivf")
        .select("key", "cell")
        .collect()
    )
    assert got == view

    # quiet index: repeated compaction is now a 0-cost no-op (the old
    # code re-rewrote EVERY cell partition on each call)
    assert compact_ivf_assignments(spark, store, "ivf") == 0


def test_ivfpq_compact_short_circuits_when_nothing_staged(
    spark, md_elements, tmp_path
):
    store = CollectionStore(str(tmp_path))
    ingest_corpus(md_elements, store, "ivfpq", max_tokens=8, overlap=0)
    build_ivfpq_index(
        spark, store, "ivfpq", n_cells=4, m=4, n_centroids=8, dims=DIMS,
        centroid_mode="seed", codebook_mode="seed",
    )
    assert compact_ivfpq_codes(spark, store, "ivfpq") == 0
    _inc(md_elements, store, "ivfpq", "-s1")
    b = _batch(spark, store, "ivfpq", "-s1")
    assert merge_ivfpq_codes(spark, store, "ivfpq", b, epoch_id=1) > 0
    v = sorted(
        (r["key"], r["cell"])
        for r in read_ivfpq_codes(spark, store, "ivfpq")
        .select("key", "cell")
        .collect()
    )
    assert compact_ivfpq_codes(spark, store, "ivfpq") > 0
    got = sorted(
        (r["key"], r["cell"])
        for r in read_ivfpq_codes(spark, store, "ivfpq")
        .select("key", "cell")
        .collect()
    )
    assert got == v
    assert compact_ivfpq_codes(spark, store, "ivfpq") == 0


# ------------------------------------------- deletion-maintenance parity


def test_pq_delete_then_merge_converges_to_rebuild(
    spark, md_elements, tmp_path
):
    """r14 verdict item 4, PQ half: tombstone (store delete) before
    compaction, with the deleted keys living in BOTH the base table and
    a staged epoch — after reconcile the maintained table equals the
    delete-then-rebuild table."""
    store = CollectionStore(str(tmp_path))
    ingest_corpus(md_elements, store, "pq", max_tokens=8, overlap=0)
    meta = build_pq_index(
        spark, store, "pq", m=4, n_centroids=8, dims=DIMS, codebook_mode="seed"
    )
    _inc(md_elements, store, "pq", "-d1")
    merge_pq_codes(spark, store, "pq", _batch(spark, store, "pq", "-d1"), 1)

    docs = [
        r["documentid"]
        for r in store.read(spark, "pq").select("documentid").distinct().collect()
    ]
    base_victim = next(d for d in docs if not d.endswith("-d1"))
    staged_victim = next(d for d in docs if d.endswith("-d1"))
    # tombstone BEFORE compaction: the staged epoch still holds the
    # deleted key's code rows when the fold runs
    assert store.delete_documents(spark, "pq", [base_victim, staged_victim]) > 0
    assert compact_pq_codes(spark, store, "pq") > 0
    st = index_staleness(spark, store, "pq")
    assert st["orphaned"] > 0 and st["missing"] == 0
    res = refresh_pq_index(spark, store, "pq")
    assert res["removed"] == st["orphaned"] and res["appended"] == 0
    assert _pq_view(spark, store, "pq") == _pq_rebuild_view(
        spark, store, "pq", meta
    )
    assert index_staleness(spark, store, "pq") == {"missing": 0, "orphaned": 0}

    # the other ordering — delete with codes still staged, reconcile
    # directly (refresh self-compacts): same convergence target
    _inc(md_elements, store, "pq", "-d2")
    merge_pq_codes(spark, store, "pq", _batch(spark, store, "pq", "-d2"), 2)
    victim2 = next(d for d in docs if d not in (base_victim, staged_victim))
    assert store.delete_documents(spark, "pq", [victim2]) > 0
    res = refresh_pq_index(spark, store, "pq")
    assert res["removed"] > 0
    assert _pq_view(spark, store, "pq") == _pq_rebuild_view(
        spark, store, "pq", meta
    )
    assert not os.path.isdir(_pq_staging_dir(store, "pq"))


def test_ivfpq_delete_then_merge_converges_to_rebuild(
    spark, md_elements, tmp_path
):
    """r14 verdict item 4, IVFADC half: delete-then-merge-then-refresh
    equals delete-then-rebuild against BOTH frozen quantizers, and the
    reconcile only rewrites the cells that held the deleted keys."""
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

    def rebuild_view():
        chunks = store.read(spark, "ivfpq").select(
            "key", "documentid", "embedding"
        )
        df = pq_encode_with_codebook(
            _residualize(chunks, meta["coarse"], meta["dims"]),
            meta["cents"], meta["m"], meta["dims"],
            "key", "res", extra_cols=("documentid", "cell"),
        ).select(*all_cols)
        return sorted(tuple(r[c] for c in all_cols) for r in df.collect())

    _inc(md_elements, store, "ivfpq", "-d1")
    b = _batch(spark, store, "ivfpq", "-d1")
    assert merge_ivfpq_codes(spark, store, "ivfpq", b, epoch_id=1) > 0

    docs = [
        r["documentid"]
        for r in store.read(spark, "ivfpq")
        .select("documentid")
        .distinct()
        .collect()
    ]
    base_victim = next(d for d in docs if not d.endswith("-d1"))
    staged_victim = next(d for d in docs if d.endswith("-d1"))
    assert (
        store.delete_documents(spark, "ivfpq", [base_victim, staged_victim]) > 0
    )
    st = ivfpq_index_staleness(spark, store, "ivfpq")
    assert st["orphaned"] > 0 and st["missing"] == 0
    res = refresh_ivfpq_index(spark, store, "ivfpq")
    assert res["removed"] == st["orphaned"] and res["appended"] == 0
    assert view() == rebuild_view()
    assert ivfpq_index_staleness(spark, store, "ivfpq") == {
        "missing": 0,
        "orphaned": 0,
    }
    # tombstone-before-compaction: folding AFTER the reconcile must not
    # resurrect the deleted keys' staged rows
    compact_ivfpq_codes(spark, store, "ivfpq")
    assert view() == rebuild_view()


# -------------------------------------------------- per-kind retrain signal


def test_ivfpq_retrain_signal_reads_its_own_index(
    spark, md_elements, tmp_path
):
    store = CollectionStore(str(tmp_path))
    ingest_corpus(md_elements, store, "docs", max_tokens=8, overlap=0)
    # an IVF index with a DIFFERENT cell count coexists on the same
    # collection — the ADVICE bug reported ITS skew for --kind ivfpq
    build_ivf_index(spark, store, "docs", n_cells=8)
    build_ivfpq_index(
        spark, store, "docs", n_cells=4, m=4, n_centroids=8, dims=DIMS,
        centroid_mode="seed", codebook_mode="seed",
    )
    sig = ivfpq_retrain_signal(spark, store, "docs")
    assert sig["n_cells"] == 4  # the IVFADC meta, not the IVF one
    n_rows = read_ivfpq_codes(spark, store, "docs").count()
    assert sig["n_assigned"] == n_rows > 0
    assert 0.0 < sig["max_cell_share"] <= 1.0
    assert isinstance(sig["retrain"], bool)
    # skew = max_share * n_cells, threshold semantics shared with IVF
    hot = ivfpq_retrain_signal(spark, store, "docs", skew_threshold=0.5)
    assert hot["retrain"] is True


# ------------------------------------------------- soft assignment (r15)


def test_ivf_soft_assignment_build_search_and_maintenance(
    spark, md_elements, tmp_path
):
    """assign_top=2 (r14 verdict item 2): every key is stored in its 2
    nearest cells; search never returns a key twice; merge/refresh
    maintain the SAME soft assignment the builder produces (maintained
    == rebuilt under the frozen centroids), and a soft-probed search
    finds at least everything the hard-assigned probe finds."""
    from dataingestionplayground_spark.ingest.ann_index import (
        build_ivf_index,
        ivf_index_staleness,
        ivf_search_indexed,
        merge_ivf_assignments,
        refresh_ivf_index,
    )
    from dataingestionplayground_spark.ingest.embed import hash_embed
    from dataingestionplayground_spark.operators.similarity import (
        _assign_cells_matmul,
    )

    store = CollectionStore(str(tmp_path))
    ingest_corpus(md_elements, store, "soft", max_tokens=8, overlap=0)
    meta = build_ivf_index(spark, store, "soft", n_cells=4, assign_top=2)
    assert meta["assign_top"] == 2

    def view():
        return sorted(
            (r["key"], r["cell"])
            for r in read_ivf_assignments(spark, store, "soft")
            .select("key", "cell")
            .collect()
        )

    def rebuild_view():
        chunks = store.read(spark, "soft").select(
            "key", "documentid", "embedding"
        )
        return sorted(
            (r["key"], r["cell"])
            for r in _assign_cells_matmul(
                chunks, meta["cents"], "key", "embedding",
                extra_cols=("documentid",), keep=2,
            )
            .select("key", "cell")
            .collect()
        )

    base = view()
    keys = {k for k, _ in base}
    assert len(base) == 2 * len(keys)  # every key in exactly 2 cells
    assert base == rebuild_view()

    # maintenance preserves the soft contract
    _inc(md_elements, store, "soft", "-m1")
    b1 = _batch(spark, store, "soft", "-m1")
    assert merge_ivf_assignments(spark, store, "soft", b1, epoch_id=1) > 0
    assert view() == rebuild_view()
    assert ivf_index_staleness(spark, store, "soft") == {
        "missing": 0,
        "orphaned": 0,
    }
    assert refresh_ivf_index(spark, store, "soft") == {
        "appended": 0,
        "removed": 0,
    }
    # replay converges under soft assignment too
    v = view()
    merge_ivf_assignments(spark, store, "soft", b1, epoch_id=1)
    assert view() == v
    # compaction folds epoch tags without changing the soft assignment
    assert compact_ivf_assignments(spark, store, "soft") > 0
    assert view() == v

    # search: no key occupies two result slots, scores stay exact
    q = spark.createDataFrame(
        [("q0", hash_embed("machine learning algorithms")),
         ("q1", hash_embed("database transactions"))],
        "query_id string, query_vec array<float>",
    )
    got = ivf_search_indexed(spark, store, "soft", q, k=5, n_probe=2).collect()
    per_q = {}
    for r in got:
        per_q.setdefault(r["query_id"], []).append(r["key"])
    for qid, ks in per_q.items():
        assert len(ks) == len(set(ks)), f"duplicate key in top-k for {qid}"

    # refresh appends NEW chunks with the soft fan-out as well
    _inc(md_elements, store, "soft", "-m2")
    res = refresh_ivf_index(spark, store, "soft")
    assert res["appended"] > 0
    assert view() == rebuild_view()


def test_ivf_soft_probe_is_superset_of_hard_probe(spark, md_elements, tmp_path):
    """With identical frozen centroids, the candidate set a probed
    search sees under assign_top=2 contains the assign_top=1 candidate
    set (each key keeps its argmax cell and gains one), so soft recall
    can never be worse on the same probes."""
    from dataingestionplayground_spark.ingest.ann_index import build_ivf_index

    store = CollectionStore(str(tmp_path))
    ingest_corpus(md_elements, store, "hard", max_tokens=8, overlap=0)
    m1 = build_ivf_index(spark, store, "hard", n_cells=4, assign_top=1)
    hard = {
        (r["key"], r["cell"])
        for r in read_ivf_assignments(spark, store, "hard")
        .select("key", "cell")
        .collect()
    }
    m2 = build_ivf_index(spark, store, "hard", n_cells=4, assign_top=2)
    assert m1["cents"] == m2["cents"]  # same frozen centroids
    soft = {
        (r["key"], r["cell"])
        for r in read_ivf_assignments(spark, store, "hard")
        .select("key", "cell")
        .collect()
    }
    assert hard <= soft
    assert len(soft) == 2 * len(hard)


def test_ivfpq_soft_assignment_build_search_and_maintenance(
    spark, md_elements, tmp_path
):
    """assign_top=2 for the IVFADC index: every key's residual is
    encoded into its 2 nearest coarse cells (per-cell residual, so a
    per-cell code); merge maintains the same fan-out (maintained ==
    rebuilt under both frozen quantizers); search keeps each key's best
    ADC distance and never returns a key twice."""
    from dataingestionplayground_spark.ingest.ann_index import (
        _residualize,
        ivfpq_index_staleness,
        ivfpq_search_indexed,
        merge_ivfpq_codes,
        refresh_ivfpq_index,
    )
    from dataingestionplayground_spark.ingest.embed import hash_embed
    from dataingestionplayground_spark.operators.similarity import (
        pq_encode_with_codebook,
    )

    store = CollectionStore(str(tmp_path))
    ingest_corpus(md_elements, store, "sq", max_tokens=8, overlap=0)
    meta = build_ivfpq_index(
        spark, store, "sq", n_cells=4, m=4, n_centroids=8, dims=DIMS,
        centroid_mode="seed", codebook_mode="seed", assign_top=2,
    )
    assert meta["assign_top"] == 2
    code_cols = [f"code_{s}" for s in range(meta["m"])]
    all_cols = ["key", *code_cols, "cell"]

    def view():
        df = read_ivfpq_codes(spark, store, "sq").select(*all_cols)
        return sorted(tuple(r[c] for c in all_cols) for r in df.collect())

    def rebuild_view():
        chunks = store.read(spark, "sq").select("key", "documentid", "embedding")
        df = pq_encode_with_codebook(
            _residualize(chunks, meta["coarse"], meta["dims"], keep=2),
            meta["cents"], meta["m"], meta["dims"],
            "key", "res", extra_cols=("documentid", "cell"),
        ).select(*all_cols)
        return sorted(tuple(r[c] for c in all_cols) for r in df.collect())

    base = view()
    keys = {r[0] for r in base}
    assert len(base) == 2 * len(keys)  # every key coded in exactly 2 cells
    assert base == rebuild_view()

    _inc(md_elements, store, "sq", "-m1")
    b1 = _batch(spark, store, "sq", "-m1")
    assert merge_ivfpq_codes(spark, store, "sq", b1, epoch_id=1) > 0
    assert view() == rebuild_view()
    assert ivfpq_index_staleness(spark, store, "sq") == {
        "missing": 0,
        "orphaned": 0,
    }
    assert refresh_ivfpq_index(spark, store, "sq") == {
        "appended": 0,
        "removed": 0,
    }
    # replay converges under the soft fan-out
    v = view()
    merge_ivfpq_codes(spark, store, "sq", b1, epoch_id=1)
    assert view() == v

    q = spark.createDataFrame(
        [("q0", hash_embed("machine learning algorithms"))],
        "query_id string, query_vec array<float>",
    )
    for kwargs in ({"rerank": None}, {"rerank": "auto"}):
        got = ivfpq_search_indexed(
            spark, store, "sq", q, k=5, n_probe=2, **kwargs
        ).collect()
        ks = [r["key"] for r in got]
        assert len(ks) == len(set(ks)) > 0, "duplicate key in top-k"


# ------------------------------------------------------------ CLI contract


def test_cli_index_merge_requires_epoch(spark, md_fixture_dir, tmp_path, capsys):
    from dataingestionplayground_spark import cli

    store = str(tmp_path / "store")
    assert cli.main(
        ["ingest", "--reader", "markdown", "--source", md_fixture_dir,
         "--collection", "docs", "--store", store]
    ) == 0
    assert cli.main(["index", "build", "--collection", "docs",
                     "--store", store, "--cells", "4"]) == 0
    capsys.readouterr()

    st = CollectionStore(store)
    batch_path = str(tmp_path / "b.parquet")
    (
        st.read(spark, "docs").limit(2)
        .select("key", "documentid", "embedding")
        .withColumn("key", F.concat(F.col("key"), F.lit("-i")))
        .write.parquet(batch_path)
    )
    # r15 ADVICE: no --epoch -> hard error, NOT a silent epoch-0 retry
    rc = cli.main(["index", "merge", "--collection", "docs", "--store", store,
                   "--batch", batch_path])
    err = capsys.readouterr().err
    assert rc == 2 and "--epoch" in err
    # nothing was staged by the rejected call
    assert "epoch_id" not in read_ivf_assignments(spark, st, "docs").columns

    assert cli.main(["index", "merge", "--collection", "docs", "--store", store,
                     "--batch", batch_path, "--epoch", "1"]) == 0


def test_cli_index_signal_dispatches_per_kind(
    spark, md_fixture_dir, tmp_path, capsys
):
    import json as _json

    from dataingestionplayground_spark import cli

    store = str(tmp_path / "store")
    assert cli.main(
        ["ingest", "--reader", "markdown", "--source", md_fixture_dir,
         "--collection", "docs", "--store", store]
    ) == 0
    assert cli.main(["index", "build", "--collection", "docs",
                     "--store", store, "--cells", "8"]) == 0
    assert cli.main(["index", "build", "--kind", "ivfpq", "--collection",
                     "docs", "--store", store, "--cells", "4"]) == 0
    capsys.readouterr()

    assert cli.main(["index", "signal", "--kind", "ivfpq",
                     "--collection", "docs", "--store", store]) == 0
    sig = _json.loads(capsys.readouterr().out.strip())
    assert sig["n_cells"] == 4  # IVFADC meta, not the 8-cell IVF index

    assert cli.main(["index", "signal", "--kind", "ivf",
                     "--collection", "docs", "--store", store]) == 0
    sig = _json.loads(capsys.readouterr().out.strip())
    from dataingestionplayground_spark.ingest.ann_index import _load_ivf_meta

    ivf_cells = _load_ivf_meta(CollectionStore(store), "docs")["n_cells"]
    assert sig["n_cells"] == ivf_cells != 4  # its own meta (corpus may clamp)

    # PQ has no cell structure: clear rejection, not a wrong answer
    assert cli.main(["index", "build", "--kind", "pq", "--collection",
                     "docs", "--store", store]) == 0
    capsys.readouterr()
    rc = cli.main(["index", "signal", "--kind", "pq",
                   "--collection", "docs", "--store", store])
    err = capsys.readouterr().err
    assert rc == 2 and "vector_pq_distortion" in err
