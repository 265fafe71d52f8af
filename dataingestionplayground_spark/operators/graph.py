"""Connected components over candidate-pair edges — the clustering step
that turns near-dup PAIRS (MinHash-LSH output) into dedup CLUSTERS
("keep one document per duplicate cluster").

Algorithm: min-label propagation with pointer jumping. Each round
(1) path-halves, J(v) = least(A(v), A(A(v))), so chains of stale labels
pointing toward the component minimum collapse geometrically and
convergence takes O(log diameter) rounds (one-hop propagation alone
would be O(diameter): a 20-hop near-dup chain would exhaust a 20-round
budget; an arm whose labels point toward a local minimum still costs a
round per hop), then (2) hops: A'(v) = min of J over
v and its neighbors (join + min-agg). All data stays distributed; each
round is ONE eager materialization, and that same action counts the
nodes whose hop changed their jumped label.

Convergence rule: the round whose hop changes nothing (A' = J) is the
last. hop(J) = J means J(v) <= J(u) across every edge in both
directions, so J is constant on each component; labels only decrease and
always name a node of the component, so that constant is the component
minimum. The rule holds for any orderable id type. Raises if the budget
is exhausted before the fixed point — a silently unconverged result
would split one duplicate cluster into several and keep multiple
"representatives".
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def _release_local_checkpoint(df: DataFrame) -> None:
    """Free a localCheckpoint-ed frame's cached blocks NOW instead of
    waiting for the async ContextCleaner: each round materializes one
    lineage-severed block set, and earlier rounds' blocks would otherwise
    accumulate until GC catches up, growing storage-memory pressure with
    the round count. Best-effort: a checkpointed frame's analyzed plan is
    a LogicalRDD whose rdd we can unpersist directly; anything else is
    left to the ContextCleaner."""
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
    # neighborhood already includes u's own label, so each hop is ONE
    # join + groupBy, and the (u, u) row alone carries J(u) as `own`.
    # Pre-partitioning the persisted edge table on the per-round join key
    # (dst) lets every round's join reuse the cached partitioning — the
    # big (2|E|+|V|) side is shuffled once, not once per round.
    # No .distinct(): min-label propagation is multiplicity-blind (min
    # over a multiset = min over its set), every in-repo pair source
    # already emits distinct (id_a < id_b) pairs, and the three union legs
    # cannot collide (self-loops have src=dst, the two orientations are
    # disjoint under id_a < id_b). Duplicate-heavy external inputs cost
    # extra per-round join mass, never correctness.
    n_part = spark.sparkContext.defaultParallelism
    edges = (
        sym.union(sym.select(F.col("src"), F.col("src").alias("dst")))
        .repartition(n_part, "dst")
        .persist()
    )
    # initial label A_0: min over self + neighbors. Every round's labels
    # are localCheckpoint-ed: the pointer jump references them twice, so
    # without lineage truncation the logical plan grows geometrically and
    # Catalyst itself OOMs long before the data does (persist caches
    # blocks but does NOT shrink the analyzed plan).
    labels = (
        edges.groupBy("src")
        .agg(F.min("dst").alias("component"))
        .select(F.col("src").alias("id"), "component")
        .localCheckpoint(eager=True)
    )
    converged = False
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        # pointer jump (path halving): J(v) = least(A(v), A(A(v))). Labels
        # are node ids, so the lookup is a left self-join; both sides scan
        # the same checkpoint, so nothing upstream runs twice. One jump
        # per round: near-dup graphs have tiny diameter, so a second jump
        # costs a full self-join shuffle without saving a round.
        parent = labels.select(
            F.col("id").alias("component"), F.col("component").alias("g_comp")
        )
        jumped = labels.join(parent, "component", "left").select(
            F.col("id").alias("dst"), F.least("component", "g_comp").alias("j")
        )
        # hop: node label := min of J over (self + neighbors); the
        # self-loop row alone yields `own` = J(v). The hop is
        # materialized before anything reads it twice: aliased self-join
        # sides do not ReuseExchange, so a lazy hop read by both the
        # next jump and a separate check would run its edge join twice.
        changed = Observation()
        new_labels = (
            edges.join(jumped, "dst")
            .groupBy("src")
            .agg(
                F.min("j").alias("component"),
                F.expr("min(j) FILTER (WHERE src = dst)").alias("own"),
            )
            .observe(
                changed,
                F.count(F.when(F.col("component") != F.col("own"), 1)).alias("n"),
            )
            .select(F.col("src").alias("id"), "component")
            .localCheckpoint(eager=True)
        )
        # the previous labels are consumed once new_labels is
        # materialized: release them so the block footprint stays at one
        # frame instead of growing with the round count
        _release_local_checkpoint(labels)
        labels = new_labels
        # hop(J) = J: J, and so the hop's output, is the fixed point
        if changed.get["n"] == 0:
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
    return label_clusters(df, connected_components(pairs, id_a, id_b), id_col)


def label_clusters(df: DataFrame, comp: DataFrame, id_col: str) -> DataFrame:
    """``df``'s ids with their cluster id from ``comp``, the (id,
    component) output of :func:`connected_components` (ids absent from
    it are singleton clusters), and the representative's keep flag. A
    caller that holds ``comp`` can release its checkpoint when done.

    One exchange keyed by id, where a left join exchanges both sides:
    ``df``'s ids (component = own id) and ``comp``'s rows are unioned and
    each id takes the minimum component over its partition. A component
    is its component's minimum id, so that minimum is ``comp``'s label
    where the id has one and the id itself otherwise. Only ``df``'s rows
    are kept: one per row, duplicate ids included, and ``comp`` ids
    absent from ``df`` drop out. A null id matches nothing, so its
    cluster id and keep flag are null."""
    from pyspark.sql import Window

    id_type = df.schema[id_col].dataType
    labelled = df.select(
        F.col(id_col).alias("id"), F.col(id_col).alias("component"), F.lit(True).alias("__row")
    ).unionByName(comp.select("id", "component", F.lit(False).alias("__row")))
    return (
        labelled.withColumn(
            "cluster_id",
            F.when(F.col("id").isNotNull(), F.min("component").over(Window.partitionBy("id"))),
        )
        .filter("__row")
        .select(F.col("id").cast(id_type).alias(id_col), "cluster_id")
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
