"""Embedding-distribution drift between two corpus snapshots.

The library form of the oracle-checked registry query
``vector_embedding_drift`` (queries/vectorq.py) and the maintained
streaming twin (streaming/ingest.py:stream_embedding_drift): a frozen
cell quantization seeded from the REFERENCE snapshot, per-cell
occupancy PSI terms, and a decimal-routed centroid shift per cell.
Use :func:`embedding_drift` on any two frames, or
:func:`collection_drift` on two named collections of a
:class:`~dataingestionplayground_spark.ingest.store.CollectionStore`
(the "did last night's ingest move the embedding space" check).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def assemble_drift(
    occ: DataFrame,
    shift: DataFrame,
    n_cells: int,
    group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Shared final assembly of the drift frame from a per-cell
    occupancy frame (cell, ref_n, cur_n) and a per-cell shift frame
    (cell, centroid_shift): broadcast totals, add-one-smoothed PSI
    terms, left-joined shift. One implementation feeds both the batch
    operator and the streaming read-side combine
    (streaming/ingest.py:read_embedding_drift), so the pinned
    batch-parity is structural — the smoothing/rounding cannot drift
    between the two (r12 review).

    ``group_cols`` (r13, the per-domain decomposition): when set, the
    occ/shift frames carry the group columns too, PSI totals are
    computed PER GROUP (each group is its own distribution, smoothed
    over the same ``n_cells`` support), and the shift joins on
    (group, cell). The group domain is bounded (source labels), so the
    totals/shift joins stay broadcast-sized."""
    keys = [*group_cols, "cell"]
    if group_cols:
        tot = occ.groupBy(*group_cols).agg(
            F.sum("ref_n").cast("double").alias("ref_total"),
            F.sum("cur_n").cast("double").alias("cur_total"),
        )
        joined = occ.join(F.broadcast(tot), list(group_cols))
    else:
        tot = occ.agg(
            F.sum("ref_n").cast("double").alias("ref_total"),
            F.sum("cur_n").cast("double").alias("cur_total"),
        )
        joined = occ.crossJoin(F.broadcast(tot))
    nc = F.lit(float(n_cells))
    p = (F.col("ref_n") + 1) / (F.col("ref_total") + nc)
    q = (F.col("cur_n") + 1) / (F.col("cur_total") + nc)
    return (
        joined.join(F.broadcast(shift), keys, "left")
        .select(
            *keys,
            "ref_n",
            "cur_n",
            F.round((p - q) * F.log(p / q), 6).alias("psi_term"),
            "centroid_shift",
        )
    )


def embedding_drift(
    ref: DataFrame,
    cur: DataFrame,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-cell drift of ``cur`` against ``ref``: (cell, ref_n, cur_n,
    psi_term, centroid_shift).

    The cell structure is FROZEN from the reference snapshot (the
    ``n_cells`` lowest-id reference vectors seed the centroids — the
    semdedup/IVF rule), so occupancy shifts are measured against a
    fixed quantization. psi_term is the add-one-smoothed PSI
    contribution ((p - q) * ln(p/q), 6dp — sum the column for the
    corpus-level PSI); centroid_shift = 1 - cos(ref mean, cur mean)
    with DECIMAL(38,6)-routed per-element means (NULL when a cell is
    empty on either side). Scale shape: assignment is the broadcast
    numpy-matmul stage (zero corpus shuffle); occupancy is one
    n_cells-key hash agg; the means agg keys on (side, cell, pos) —
    <= 2 * n_cells * dims rows out with map-side partials; PSI/shift
    run on broadcast-sized frames.
    """
    from dataingestionplayground_spark.functions import vector as V
    from dataingestionplayground_spark.operators.similarity import (
        _assign_cells_matmul,
        _seed_vectors,
    )

    ref = ref.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding"))
    cur = cur.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding"))
    both = ref.withColumn("side", F.lit(0)).unionByName(
        cur.withColumn("side", F.lit(1))
    )
    cents = _seed_vectors(ref, "vec_id", "embedding", n_cells)
    assigned = _assign_cells_matmul(
        both, cents, "vec_id", "embedding", extra_cols=("side",)
    )
    # the assignment feeds occupancy AND the means agg — materialize so
    # the corpus scan + matmul run once (same rule as semantic_dedup)
    assigned = assigned.localCheckpoint(eager=True)
    occ = assigned.groupBy("cell").agg(
        F.count_if(F.col("side") == 0).cast("long").alias("ref_n"),
        F.count_if(F.col("side") == 1).cast("long").alias("cur_n"),
    )
    pos = assigned.select("side", "cell", F.posexplode("embedding").alias("pos", "xf"))
    cm = pos.groupBy("side", "cell", "pos").agg(
        (
            F.sum(F.col("xf").cast("double").cast("decimal(38,6)")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("m")
    )
    cent = cm.groupBy("side", "cell").agg(
        F.expr("transform(array_sort(collect_list(struct(pos, m))), s -> s.m)").alias(
            "cent"
        )
    )
    shift = (
        cent.filter(F.col("side") == 0)
        .select("cell", F.col("cent").alias("ref_cent"))
        .join(
            cent.filter(F.col("side") == 1).select(
                "cell", F.col("cent").alias("cur_cent")
            ),
            "cell",
        )
        .select(
            "cell",
            F.round(
                F.lit(1.0) - V.cosine_similarity("ref_cent", "cur_cent"), 6
            ).alias("centroid_shift"),
        )
    )
    return assemble_drift(occ, shift, n_cells)


def embedding_drift_by_group(
    ref: DataFrame,
    cur: DataFrame,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    group_col: str = "source",
) -> DataFrame:
    """Per-domain decomposition of :func:`embedding_drift` (r12 verdict
    item 5c): the cell structure stays GLOBAL (frozen from the whole
    reference snapshot — one quantization so shifts are comparable
    across domains), but occupancy, PSI smoothing, and centroid shift
    are computed PER ``group_col`` value, answering "WHICH source moved
    the embedding space". Output: (group, cell, ref_n, cur_n, psi_term,
    centroid_shift) — sum psi_term within a group for that domain's
    PSI. Scale shape is the ungrouped operator's: one broadcast-matmul
    assignment pass, one (groups x cells)-key hash agg, a
    (2 x groups x cells x dims)-row means agg with map-side partials —
    all outputs bounded by the (small) group domain, never the corpus.
    """
    from dataingestionplayground_spark.functions import vector as V
    from dataingestionplayground_spark.operators.similarity import (
        _assign_cells_matmul,
        _seed_vectors,
    )

    ref = ref.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("embedding"),
        F.col(group_col).alias("grp"),
    )
    cur = cur.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("embedding"),
        F.col(group_col).alias("grp"),
    )
    both = ref.withColumn("side", F.lit(0)).unionByName(
        cur.withColumn("side", F.lit(1))
    )
    cents = _seed_vectors(
        ref.select("vec_id", "embedding"), "vec_id", "embedding", n_cells
    )
    assigned = _assign_cells_matmul(
        both, cents, "vec_id", "embedding", extra_cols=("side", "grp")
    ).localCheckpoint(eager=True)
    occ = assigned.groupBy("grp", "cell").agg(
        F.count_if(F.col("side") == 0).cast("long").alias("ref_n"),
        F.count_if(F.col("side") == 1).cast("long").alias("cur_n"),
    )
    pos = assigned.select(
        "side", "grp", "cell", F.posexplode("embedding").alias("pos", "xf")
    )
    cm = pos.groupBy("side", "grp", "cell", "pos").agg(
        (
            F.sum(F.col("xf").cast("double").cast("decimal(38,6)")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("m")
    )
    cent = cm.groupBy("side", "grp", "cell").agg(
        F.expr("transform(array_sort(collect_list(struct(pos, m))), s -> s.m)").alias(
            "cent"
        )
    )
    shift = (
        cent.filter(F.col("side") == 0)
        .select("grp", "cell", F.col("cent").alias("ref_cent"))
        .join(
            cent.filter(F.col("side") == 1).select(
                "grp", "cell", F.col("cent").alias("cur_cent")
            ),
            ["grp", "cell"],
        )
        .select(
            "grp",
            "cell",
            F.round(
                F.lit(1.0) - V.cosine_similarity("ref_cent", "cur_cent"), 6
            ).alias("centroid_shift"),
        )
    )
    out = assemble_drift(occ, shift, n_cells, group_cols=("grp",))
    return out.withColumnRenamed("grp", group_col)


def collection_drift(spark, store, ref_collection: str, cur_collection: str, n_cells: int = 16) -> DataFrame:
    """Drift of one stored collection's embedding distribution against
    another's (e.g. last week's snapshot vs today's) — the operational
    wrapper a nightly ingest gate calls. Chunk keys serve as ids only
    for the deterministic centroid seeding; output is the
    :func:`embedding_drift` frame."""
    ref = store.read(spark, ref_collection).select("key", "embedding")
    cur = store.read(spark, cur_collection).select("key", "embedding")
    return embedding_drift(ref, cur, n_cells=n_cells, id_col="key", vec_col="embedding")
