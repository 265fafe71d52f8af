"""Connected components over candidate-pair edges — the clustering step
that turns near-dup PAIRS (MinHash-LSH output) into dedup CLUSTERS
("keep one document per duplicate cluster").

Algorithm: min-label propagation with pointer jumping. Each iteration
(1) adopts the smallest label reachable in one hop (join + min-agg) and
(2) path-halves: label := label(label) — the pointer-jump makes label
chains collapse geometrically, so convergence is O(log diameter)
iterations (plain one-hop propagation alone would be O(diameter): a
20-hop near-dup chain would exhaust a 20-iteration budget). The driver
loop only checks a convergence *count* per iteration; all data stays
distributed. Raises if the budget is exhausted before the fixed point —
a silently unconverged result would split one duplicate cluster into
several and keep multiple "representatives".
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _release_local_checkpoint(df: DataFrame) -> None:
    """Free a localCheckpoint-ed frame's cached blocks NOW instead of
    waiting for the async ContextCleaner (ADVICE r16: each pointer-jump
    round adds two lineage-severed block sets; prior rounds' blocks
    otherwise accumulate until GC catches up, growing storage-memory
    pressure with iteration count). Best-effort: a checkpointed frame's
    analyzed plan is a LogicalRDD whose rdd we can unpersist directly;
    anything else is left to the ContextCleaner as before."""
    try:
        node = df._jdf.queryExecution().analyzed()
        if node.getClass().getSimpleName() == "LogicalRDD":
            node.rdd().unpersist(False)
    except Exception:
        pass


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
    stats: dict | None = None,
) -> DataFrame:
    """(id_a, id_b) undirected edges -> (id, component) with component =
    min node id in the component. Nodes appearing only as singletons are
    absent (callers union them back with component = own id). When
    ``stats`` is passed, ``stats["rounds"]`` records the iteration count
    (including the final confirmation round)."""
    spark = pairs.sparkSession
    half = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    sym = half.union(
        pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
    )
    # SELF-LOOPS fold "least(own label, neighbor min)" into the one
    # neighbor-min aggregation: with (u, u) present, min over the
    # neighborhood already includes u's own label, so each round is ONE
    # join + groupBy instead of join + groupBy + a second labels join.
    # Pre-partitioning the persisted edge table on the per-round join key
    # (dst) lets every round's join reuse the cached partitioning — the
    # big (2|E|+|V|) side is shuffled once, not once per round.
    n_part = spark.sparkContext.defaultParallelism
    # r17: no .distinct() on the edge table — min-label propagation is
    # multiplicity-blind (min over a multiset = min over its set), every
    # in-repo pair source already emits distinct (id_a < id_b) pairs,
    # and the three union legs cannot collide (self-loops have src=dst,
    # the two orientations are disjoint under id_a < id_b). The distinct
    # was a full (2|E|+|V|) exchange paid once per call purely to guard
    # against duplicate-heavy EXTERNAL inputs, which only cost extra
    # per-round join mass, never correctness.
    edges = (
        sym.union(sym.select(F.col("src"), F.col("src").alias("dst")))
        .repartition(n_part, "dst")
        .persist()
    )
    # initial label: min over self + neighbors. Each iteration's result
    # is localCheckpoint-ed: the pointer-jump references `labels` twice
    # per round, so without lineage truncation the logical plan grows
    # geometrically and Catalyst itself OOMs long before the data does
    # (persist caches blocks but does NOT shrink the analyzed plan).
    labels = (
        edges.groupBy("src")
        .agg(F.min("dst").alias("component"))
        .select(F.col("src").alias("id"), "component")
        .localCheckpoint(eager=True)
    )

    from pyspark.sql.types import IntegralType

    # integral only: casting fractional ids to decimal(38,0) ROUNDS, so a
    # round of sub-unit label decreases could leave the rounded sum
    # unchanged and declare convergence prematurely — float/double/
    # decimal ids take the join-based changed-count path instead
    numeric_ids = isinstance(labels.schema["component"].dataType, IntegralType)

    def _label_sum(df: DataFrame):
        # labels only ever DECREASE (every update is a least(...)), so an
        # unchanged sum across rounds <=> an unchanged label vector — a
        # join-free convergence check, decimal so 63-bit ids cannot
        # overflow the running total at cluster scale. Non-integral ids
        # fall back to the join-based changed-count below.
        return df.agg(
            F.sum(F.col("component").cast("decimal(38,0)")).alias("s")
        ).collect()[0]["s"]

    def _changed(new: DataFrame, old: DataFrame) -> int:
        return (
            new.alias("n")
            .join(old.alias("o"), "id")
            .filter(F.col("n.component") != F.col("o.component"))
            .count()
        )

    # prev_sum starts at the INITIAL labels' sum (one tiny agg over
    # already-checkpointed blocks), so a label vector that is already a
    # fixed point after the init hop converges after ONE loop round
    # instead of two. Near-dup graphs are mostly tiny cliques whose min
    # is everyone's neighbor, so init convergence is the common case; a
    # chain that needs k propagate rounds still takes k + 1 (the
    # confirmation round is inherent to fixed-point iteration).
    prev_sum = _label_sum(labels) if numeric_ids else None
    converged = False
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        # propagate: node label := min over (self + neighbors)' labels —
        # the self-loops make the single aggregation cover the least()
        # with the node's own label
        hopped = (
            edges.join(
                labels.select(
                    F.col("id").alias("dst"), F.col("component").alias("d_comp")
                ),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("d_comp").alias("component"))
            .select(F.col("src").alias("id"), "component")
            # r16: the pointer jump references `hopped` twice (probe +
            # parent side) and aliased self-join sides do not
            # ReuseExchange — without this materialization the round's
            # edge join + aggregation runs TWICE per round (measured
            # -7% locally; at scale it halves the per-round 2|E| work)
            .localCheckpoint(eager=True)
        )
        # pointer jump (path halving): component := component's component.
        # Labels are node ids, so the lookup is a self-join; chains of
        # stale labels collapse geometrically -> O(log diameter) rounds.
        # One jump per round: near-dup graphs have tiny diameter, so a
        # second jump per round costs a full self-join shuffle without
        # saving a round (measured slower at sf0.1-0.5).
        parent = hopped.select(
            F.col("id").alias("component"), F.col("component").alias("g_comp")
        )
        new_labels = (
            hopped.join(parent, "component", "left")
            .select(
                "id",
                F.least(
                    "component", F.coalesce("g_comp", "component")
                ).alias("component"),
            )
            .localCheckpoint(eager=True)
        )
        # r17 (ADVICE r16): hopped is consumed once new_labels is
        # materialized, and the PREVIOUS round's labels once the
        # convergence check has read them — release both eagerly so the
        # per-round block footprint stays at 2 frames instead of
        # growing with the iteration count
        _release_local_checkpoint(hopped)
        if numeric_ids:
            cur_sum = _label_sum(new_labels)  # tiny agg over checkpointed blocks
            done = cur_sum == prev_sum
            prev_sum = cur_sum
        else:
            done = _changed(new_labels, labels) == 0
        _release_local_checkpoint(labels)
        labels = new_labels
        if done:
            converged = True
            break
    edges.unpersist()
    if stats is not None:
        stats["rounds"] = rounds
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} iterations; "
            "raise max_iter (labels would otherwise be silently wrong)"
        )
    return labels


def dedup_clusters(
    df: DataFrame, pairs: DataFrame, id_col: str, id_a: str = "id_a", id_b: str = "id_b"
) -> DataFrame:
    """Assign every row a duplicate-cluster id (= min id in its near-dup
    component; singletons are their own cluster) and a keep flag for the
    cluster representative."""
    comp = connected_components(pairs, id_a, id_b)
    return (
        df.select(F.col(id_col).alias("id"))
        .join(comp, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce(F.col("component"), F.col("id")).alias("cluster_id"),
        )
        .withColumn("is_kept", F.col(id_col) == F.col("cluster_id"))
    )


def label_propagation(
    edges: DataFrame,
    nodes: DataFrame,
    n_iters: int = 2,
    node_col: str = "u",
) -> DataFrame:
    """Semi-synchronous label propagation (Raghavan et al. 2007) with a
    deterministic tie rule: each round, every node adopts the most
    frequent label among its neighbors (ties -> smallest label;
    isolated nodes keep their own). ``edges`` is an undirected (u, v)
    pair table (one row per unordered pair); ``nodes`` a one-column
    frame of node ids.

    Determinism is the whole design: classic LPA breaks ties randomly
    and is order-sensitive — here every round is a pure function of the
    previous labeling (synchronous update, total tie order), so the
    result is reproducible across engines and cluster layouts, and an
    iteration-UNROLLED SQL oracle can replay it exactly (the TextRank
    evidence pattern). Scale shape per round: one neighbor equi-join
    (labels are 1 row/node; the symmetric edge table shuffles on the
    neighbor key), one (node, label) hash agg with map-side partials,
    one per-node top-1 window (high-cardinality partition key). Rounds
    are FIXED (n_iters), not run to convergence — LPA on a fixed
    synchronous schedule may oscillate, and a training-data pipeline
    wants a bounded, replayable artifact rather than a fixed point.
    """
    from pyspark.sql import Window as W

    sym = edges.select(
        F.col("u").alias("s"), F.col("v").alias("d")
    ).unionByName(edges.select(F.col("v").alias("s"), F.col("u").alias("d")))
    labels = nodes.select(F.col(node_col).alias("n"), F.col(node_col).alias("lbl"))
    w = W.partitionBy("n").orderBy(F.desc("c"), F.asc("lbl"))
    for _ in range(n_iters):
        nb = (
            sym.join(
                labels.select(F.col("n").alias("d"), "lbl"), "d"
            )
            .groupBy(F.col("s").alias("n"), "lbl")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        top = (
            nb.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") == 1)
            .select("n", F.col("lbl").alias("new_lbl"))
        )
        labels = (
            nodes.select(F.col(node_col).alias("n"))
            .join(top, "n", "left")
            .join(labels.select("n", F.col("lbl").alias("old_lbl")), "n")
            .select("n", F.coalesce("new_lbl", "old_lbl").alias("lbl"))
        )
    return labels.select(F.col("n").alias(node_col), F.col("lbl").alias("community"))
