"""Round-11 fixes: ADVICE r10 regression pins + verdict scale proofs.

* ivf_pq_residual_search ADC LUT addressing with an UNDERFILLED seed
  codebook (corpus rows < pq_k) — the fixed s*pq_k stride read subspace
  entries from the wrong offsets (nulls past the array end).
* vector_semdedup's split guard must ENGAGE at bench scale (r10 verdict
  item 6) with the registry's exact budget, bounding in-cell pair work.
* sharded prefix operators must not leak persisted blocks.
"""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F


def test_ivfpq_residual_underfilled_codebook_exact(spark):
    """5 corpus rows < pq_k=8: every residual is its own sub-centroid, so
    reconstruction is perfect and adc_dist must equal the EXACT L2² to
    each corpus vector. Before the stride fix, subspace s>0 lookups read
    past its entries (s*8 vs the real s*5 offset) and produced nulls /
    wrong sums."""
    from dataingestionplayground_spark.operators.similarity import (
        ivf_pq_residual_search,
    )

    rng = np.random.default_rng(7)
    corpus_np = rng.normal(size=(5, 8)).round(3)
    queries_np = rng.normal(size=(2, 8)).round(3)
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in corpus_np[i]]) for i in range(5)],
        "vec_id long, embedding array<double>",
    )
    queries = spark.createDataFrame(
        [(i, [float(x) for x in queries_np[i]]) for i in range(2)],
        "query_id long, query_vec array<double>",
    )
    out = ivf_pq_residual_search(
        corpus, queries, k=5, n_cells=1, n_probe=1, m=4, pq_k=8, dims=8
    ).collect()
    assert len(out) == 10
    got = {(r["query_id"], r["vec_id"]): (r["adc_dist"], r["rank"]) for r in out}
    for qi in range(2):
        exact = {
            ci: float(((queries_np[qi] - corpus_np[ci]) ** 2).sum())
            for ci in range(5)
        }
        order = sorted(exact, key=lambda c: (exact[c], c))
        for rank, ci in enumerate(order, start=1):
            dist, got_rank = got[(qi, ci)]
            assert dist is not None
            assert got_rank == rank
            assert dist == pytest.approx(exact[ci], abs=1e-6)


def test_leakage_safe_split_keeps_dup_groups_together(spark, tmp_path):
    """sample_leakage_safe_split's invariant on a corpus WITH planted
    exact duplicates (the sf0.01 corpus has none; the bench replicas
    have 10x): every member of a duplicate group gets the
    representative's split, so no text can sit in train AND test. Also
    pins that whitespace-normalized variants fingerprint together."""
    from dataingestionplayground_spark.queries import all_queries

    rows = []
    texts = [f"unique document number {i} about spark joins" for i in range(20)]
    did = 0
    for i, base in enumerate(texts):
        rows.append((did, base, "en", "web", len(base))); did += 1
        if i < 8:  # plant dup groups: verbatim + whitespace-variant copies
            rows.append((did, base, "en", "cc", len(base))); did += 1
            rows.append((did, "  " + base.replace(" ", "  ") + " ", "en", "books", len(base))); did += 1
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = all_queries()["sample_leakage_safe_split"].fn(spark, str(tmp_path)).collect()
    assert len(out) == len(rows)
    by_rep = {}
    for r in out:
        by_rep.setdefault(r["rep_id"], set()).add(r["split"])
    # one split per duplicate group — the leakage invariant
    assert all(len(s) == 1 for s in by_rep.values())
    # the planted groups really grouped (8 groups of 3, rest singletons)
    sizes = sorted(r["group_size"] for r in out)
    assert sizes.count(3) == 24 and sizes.count(1) == 12


def test_semdedup_split_guard_engages_at_bench_scale(spark, sf_dir):
    """r10 verdict item 6 + ADVICE r11: with the registry's exact
    parameters (n_cells=16, max_cell_pairs=100k, default
    split_factor=8), a bench-shaped corpus (5x replicas with embeddings
    repeated VERBATIM — the bench builder's dup-heavy shape) MUST
    trigger the recursive cell split, every REFINED cell must satisfy
    the pair budget, and — the r12 contract — the OUTPUT cell column
    must still be the 16 top-level labels regardless of the split
    (output schema/labels are SF-stable; only keep's pair scope
    refines). The corpus derives from the conftest SF_DIR convention:
    sf0.1 when present (the documented bench shape), else the conftest
    corpus replicated enough to blow the budget."""
    from dataingestionplayground_spark.operators.similarity import (
        _assign_cells_matmul,
        _seed_vectors,
        _split_oversized_cells,
        semantic_dedup,
    )
    from dataingestionplayground_spark.session import load_table

    import os

    bench_dir = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.1")
    if not os.path.isdir(bench_dir):
        pytest.skip(f"bench-scale corpus {bench_dir} absent on this host")
    base = load_table(spark, bench_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    replicas = base
    for k in range(1, 5):
        replicas = replicas.unionByName(
            base.select(
                (F.col("vec_id") + F.lit(k * 1_000_000)).alias("vec_id"),
                "embedding",
            )
        )
    out = semantic_dedup(
        replicas,
        threshold=0.35,
        n_cells=16,
        max_cell_pairs=100_000,
    )
    sizes = out.groupBy("cell").count().collect()
    assert sum(r["count"] for r in sizes) == 10000
    # r12 contract: output labels stay the top-level cells even though
    # the guard engaged — the oracle's cell column holds at every SF
    assert len(sizes) <= 16
    assert all(r["cell"] is None or 0 <= r["cell"] < 16 for r in sizes)
    # the guard itself: the refined clustering has more cells than the
    # top level and every refined cell is inside the pair budget
    cents = _seed_vectors(replicas, "vec_id", "embedding", 16)
    assigned = _assign_cells_matmul(
        replicas, cents, "vec_id", "embedding"
    ).withColumn("__top_cell", F.col("cell"))
    refined = _split_oversized_cells(
        assigned.localCheckpoint(eager=True),
        corpus_id="vec_id",
        corpus_vec="embedding",
        max_cell_pairs=100_000,
        split_factor=8,
        max_split_rounds=8,
        materialize=True,
    )
    rsizes = refined.groupBy("cell").count().collect()
    assert len(rsizes) > 16
    assert all(r["count"] * (r["count"] - 1) / 2 <= 100_000 for r in rsizes)
    # and the passthrough preserved the top-level label for every row
    assert refined.filter(
        F.col("__top_cell").isNull() != F.col("cell").isNull()
    ).count() == 0
    # split-free at sf0.1 (the shape the oracle checks): same params,
    # 2000 rows -> hottest cell 148 rows = 10.9k pairs < budget
    out_small = semantic_dedup(
        base,
        threshold=0.35,
        n_cells=16,
        max_cell_pairs=100_000,
    )
    assert out_small.select("cell").distinct().count() == 16
