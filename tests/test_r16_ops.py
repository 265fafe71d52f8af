"""Round-16 operator tests: the sub-linear multimodal dedup card and
the shared banded-fingerprint helpers it rests on."""

from __future__ import annotations

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_multimodal_dedup_card_shape_and_invariants(spark):
    """The rewritten card (sub-linear in pair mass): one row per
    modality; n_dup_items counts verified members of >=2-member band
    groups, est_pairs is the densest single-band m*(m-1)/2 fold, and
    the rate is the exact rounded quotient. The corpus is built with
    near-dup groups in every modality, so all three legs are
    non-trivial."""
    from dataingestionplayground_spark.queries import all_queries

    rows = {
        r["modality"]: r
        for r in all_queries()["multimodal_dedup_card"].fn(spark, SF).collect()
    }
    n_docs = spark.read.parquet(f"{SF}/documents.parquet").count()
    assert set(rows) == {"image", "audio", "video"}
    for r in rows.values():
        assert r["n_items"] == n_docs
        assert 0 < r["n_dup_items"] <= n_docs
        assert r["est_pairs"] > 0
        assert r["dup_item_rate"] == round(r["n_dup_items"] / n_docs, 6)


def test_card_video_dup_items_match_exact_collision_groups(spark):
    """Video band groups are exact (scene, keyframe-hash) keys, so the
    card's verified-member count must equal the number of docs sharing
    at least one exact keyframe collision — recomputed here the naive
    way (self-join on the hash frame) at sf0.001."""
    from dataingestionplayground_spark.queries import all_queries
    from dataingestionplayground_spark.queries.ingestq import (
        _V_SCENE,
        _video_frame_hashes,
    )

    card = {
        r["modality"]: r
        for r in all_queries()["multimodal_dedup_card"].fn(spark, SF).collect()
    }
    fps = (
        _video_frame_hashes(spark, SF, keyframes_only=True)
        .select(
            "doc_id",
            F.expr(f"frame_idx div {_V_SCENE}").alias("slot"),
            "w_lo",
            "w_hi",
        )
        .localCheckpoint(eager=True)
    )
    other = fps.select(
        F.col("doc_id").alias("other_id"), "slot", "w_lo", "w_hi"
    )
    collided = (
        fps.join(other, ["slot", "w_lo", "w_hi"])
        .filter(F.col("doc_id") != F.col("other_id"))
        .select("doc_id")
        .distinct()
        .count()
    )
    assert card["video"]["n_dup_items"] == collided


def test_ivf_boundary_margin_fanout_build_and_maintenance(
    spark, md_fixture_dir, tmp_path
):
    """assign_margin (r15 verdict item 3, boundary-only fan-out): with
    assign_top=2 plus a finite margin, only boundary-straddling chunks
    keep a second assignment, so the table sits strictly between 1x and
    2x; an infinite-equivalent margin (2.0 covers the whole cosine
    range) reproduces plain assign_top=2 exactly; and merge/refresh
    under the frozen (centroids, margin) contract keep maintained ==
    rebuilt."""
    from pyspark.sql import functions as F

    from dataingestionplayground_spark.ingest import (
        CollectionStore,
        ingest_corpus,
    )
    from dataingestionplayground_spark.ingest.ann_index import (
        build_ivf_index,
        ivf_index_staleness,
        merge_ivf_assignments,
        read_ivf_assignments,
        refresh_ivf_index,
    )
    from dataingestionplayground_spark.operators.similarity import (
        _assign_cells_matmul,
    )
    from dataingestionplayground_spark.sources.markdown import (
        parse_markdown_df,
        read_markdown_dir,
    )

    md_elements = parse_markdown_df(read_markdown_dir(spark, md_fixture_dir))
    store = CollectionStore(str(tmp_path))
    ingest_corpus(md_elements, store, "m", max_tokens=8, overlap=0)

    def view(name):
        return sorted(
            (r["key"], r["cell"], r["cell_rank"], r["cell_1"])
            for r in read_ivf_assignments(spark, store, name)
            .select("key", "cell", "cell_rank", "cell_1")
            .collect()
        )

    # margin 2.0 spans the entire cosine range -> identical to plain top2
    build_ivf_index(spark, store, "m", n_cells=4, assign_top=2)
    full = view("m")
    import shutil

    shutil.rmtree(str(tmp_path / "_indexes"))
    meta = build_ivf_index(
        spark, store, "m", n_cells=4, assign_top=2, assign_margin=2.0
    )
    assert meta["assign_margin"] == 2.0
    assert view("m") == full

    # a finite margin trims interior chunks to a single assignment
    shutil.rmtree(str(tmp_path / "_indexes"))
    meta = build_ivf_index(
        spark, store, "m", n_cells=4, assign_top=2, assign_margin=0.05
    )
    trimmed = view("m")
    n_keys = len({k for k, *_ in trimmed})
    assert n_keys < len(trimmed) < 2 * n_keys or len(trimmed) == n_keys
    assert len(trimmed) < len(full)
    # every rank-1 row survives; rank-2 rows are a subset of plain top2
    assert {t for t in full if t[2] == 1} == {t for t in trimmed if t[2] == 1}
    assert {t for t in trimmed if t[2] == 2} <= {t for t in full if t[2] == 2}

    def rebuild_view():
        chunks = store.read(spark, "m").select("key", "documentid", "embedding")
        return sorted(
            (r["key"], r["cell"], r["cell_rank"], r["cell_1"])
            for r in _assign_cells_matmul(
                chunks, meta["cents"], "key", "embedding",
                extra_cols=("documentid",), keep=2, emit_rank=True,
                soft_margin=0.05,
            )
            .select("key", "cell", "cell_rank", "cell_1")
            .collect()
        )

    assert trimmed == rebuild_view()

    # maintenance reproduces the same fan-out rule (frozen contract)
    extra = md_elements.withColumn(
        "doc_id", F.concat(F.col("doc_id"), F.lit("-m1"))
    )
    ingest_corpus(extra, store, "m", max_tokens=8, overlap=0, incremental=True)
    batch = (
        store.read(spark, "m")
        .filter(F.col("documentid").endswith("-m1"))
        .select("key", "documentid", "embedding")
    )
    assert merge_ivf_assignments(spark, store, "m", batch, epoch_id=1) > 0
    assert view("m") == rebuild_view()
    assert ivf_index_staleness(spark, store, "m") == {
        "missing": 0,
        "orphaned": 0,
    }
    assert refresh_ivf_index(spark, store, "m") == {"appended": 0, "removed": 0}
