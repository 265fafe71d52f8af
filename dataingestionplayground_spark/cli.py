"""Command-line interface mirroring the reference app's surface
(``/root/reference/DataIngestionPlayground/Program.cs:18-57``):

    ingest --reader markdown|pdf|database --collection C --source PATH
    search --collection C [--query Q] [--top-k K] [--index pq|ivf] [--n-probe N]
    list

Defaults mirror ``VectorStoreOptions``/appsettings binding
(``VectorStoreOptions.cs:5-17``, ``appsettings.json``): collection
defaults to ``documents``; store path / source defaults come from a JSON
config file or flags. ``search`` without ``--query`` enters the
reference's REPL loop (empty line exits, ``VectorStoreCommands.cs:128-138``).

The database reader accepts a SQLite file directly (driver-side sqlite3
read of the ``Items`` table -> DataFrame, matching the reference's CMS.DB
shape) — for warehouse-scale sources use a JDBC URL
(``sources.database.read_jdbc_articles``).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

DEFAULTS = {
    "collection": "documents",
    "store_path": "./collections",
    "markdown_source": "./Content/Markdown",
    "pdf_source": "./Content/Pdf",
    "database_source": "./Content/Database/CMS.DB",
    "jsonl_source": "./Content/corpus.jsonl",
    "csv_source": "./Content/corpus.csv",
    "dimensions": 384,
}


def _load_config(path: str | None) -> dict:
    cfg = dict(DEFAULTS)
    if path:
        with open(path) as f:
            cfg.update(json.load(f))
    return cfg


def _read_sqlite_articles(spark, db_path: str):
    """SQLite Items table -> Articles DataFrame (driver-side read; the
    table is dimension-sized in the reference — 10 rows)."""
    import sqlite3

    import pandas as pd

    with sqlite3.connect(db_path) as con:
        pdf = pd.read_sql_query('SELECT Id, Title, Body FROM "Items"', con)
    return spark.createDataFrame(pdf)


def _elements_for(spark, reader: str, source: str):
    """Returns (elements, attempted_doc_ids) — the attempted list drives
    per-document failure reporting (a doc whose parse crashed or yielded
    nothing comes back FAILURE, mirroring VectorStoreCommands.cs:163-167)."""
    from pyspark.sql import functions as F

    from dataingestionplayground_spark.sources.database import articles_to_elements
    from dataingestionplayground_spark.sources.markdown import (
        parse_markdown_df,
        read_markdown_dir,
    )
    from dataingestionplayground_spark.sources.pdf import parse_pdf_df, read_pdf_dir

    if reader == "markdown":
        raw = read_markdown_dir(spark, source)
        return parse_markdown_df(raw), raw.select("doc_id")
    if reader in ("jsonl", "csv", "xml"):
        from dataingestionplayground_spark.sources.textfiles import (
            docs_to_elements,
            read_csv_docs,
            read_jsonl_docs,
            read_xml_docs,
        )

        readers = {"jsonl": read_jsonl_docs, "csv": read_csv_docs, "xml": read_xml_docs}
        raw = readers[reader](spark, source)
        return docs_to_elements(raw), raw.select("doc_id")
    if reader == "pdf":
        raw = read_pdf_dir(spark, source)
        return parse_pdf_df(raw), raw.select("doc_id")
    if reader == "database":
        if source.startswith("jdbc:"):
            from dataingestionplayground_spark.sources.database import read_jdbc_articles

            articles = read_jdbc_articles(spark, source)
        else:
            articles = _read_sqlite_articles(spark, source)
        ids = articles.select(
            F.format_string("Article #%d", F.col("Id").cast("long")).alias("doc_id")
        )
        return articles_to_elements(articles), ids
    raise SystemExit(f"unknown reader: {reader}")


def cmd_ingest(args, cfg) -> int:
    from dataingestionplayground_spark.ingest import CollectionStore, ingest_corpus
    from dataingestionplayground_spark.session import get_spark

    spark = get_spark("dip-ingest")
    source = args.source or cfg[f"{args.reader}_source"]
    store = CollectionStore(args.store or cfg["store_path"])
    elements, attempted = _elements_for(spark, args.reader, source)
    results = ingest_corpus(
        elements,
        store,
        args.collection or cfg["collection"],
        source_doc_ids=attempted,
        incremental=args.incremental,
    )
    # per-document result lines, like the reference's SUCCESS/FAILURE log
    # (VectorStoreCommands.cs:163-167)
    failures = 0
    for r in results.collect():
        status = "SUCCESS" if r.succeeded else f"FAILURE: {r.error}"
        print(f"{r.documentid}: {status}")
        failures += 0 if r.succeeded else 1
    return 1 if failures else 0


def cmd_search(args, cfg) -> int:
    from pyspark.sql import functions as F

    from dataingestionplayground_spark.ingest import CollectionStore, search_collection
    from dataingestionplayground_spark.ingest.embed import hash_embed
    from dataingestionplayground_spark.session import get_spark

    spark = get_spark("dip-search")
    store = CollectionStore(args.store or cfg["store_path"])
    collection = args.collection or cfg["collection"]
    if not store.exists(collection):
        print(
            f"error: collection {collection!r} not found "
            f"(available: {', '.join(store.list_collections()) or 'none'})",
            file=sys.stderr,
        )
        return 2
    index = getattr(args, "index", "none")
    if index != "none":
        # build-if-absent / refresh-if-stale, then every query in this
        # session searches off the persisted index artifact
        from dataingestionplayground_spark.ingest.ann_index import ensure_index

        status = ensure_index(spark, store, collection, index)
        if status["built"]:
            print(f"[{index} index built]", file=sys.stderr)
        elif status["appended"] or status["removed"]:
            print(
                f"[{index} index refreshed: +{status['appended']} "
                f"-{status['removed']}]",
                file=sys.stderr,
            )

    def run_one(query: str) -> None:
        if index == "none":
            res = search_collection(spark, store, collection, query, k=args.top_k)
        else:
            from dataingestionplayground_spark.ingest.ann_index import (
                ivf_search_indexed,
                pq_search_indexed,
            )

            import pandas as pd

            # from pandas the one-row frame is a LocalRelation, which the
            # search collects without a Spark job (a local list would be
            # RDD-backed: one job with a task per core)
            qvec = [float(x) for x in hash_embed(query)]
            q = spark.createDataFrame(
                pd.DataFrame({"query_id": ["q"], "query_vec": [qvec]}),
                "query_id string, query_vec array<float>",
            )
            if index == "ivf":
                # exact cosine over the probed cells' partitions only
                hits = ivf_search_indexed(
                    spark, store, collection, q, k=args.top_k, n_probe=args.n_probe
                )
            else:
                # ADC shortlist off the code table + exact-cosine rerank
                # (the index's built-in rerank mode — already returns the
                # final exact-scored top-k)
                hits = pq_search_indexed(
                    spark, store, collection, q, k=args.top_k, rerank="auto"
                )
            # both paths return exact cosine scores; join the store only
            # to fetch display fields for the chosen keys
            res = (
                store.read(spark, collection)
                .join(F.broadcast(hits.select("key", "score")), "key")
                .orderBy(F.desc("score"), F.asc("key"))
                .select("key", "content", "context", "documentid", "score")
                .limit(args.top_k)
            )
        for row in res.collect():
            print(f"score={row.score:.4f} documentid={row.documentid}")
            print(f"  context: {row.context}")
            print(f"  content: {row.content[:200]}")

    if args.query is not None:
        run_one(args.query)
        return 0
    # REPL: empty/whitespace line exits (reference P5 guard)
    while True:
        try:
            line = input("query> ")
        except EOFError:
            break
        if not line.strip():
            break
        run_one(line)
    return 0


def cmd_info(args, cfg) -> int:
    from pyspark.sql import functions as F

    from dataingestionplayground_spark.ingest import CollectionStore
    from dataingestionplayground_spark.session import get_spark

    spark = get_spark("dip-info")
    store = CollectionStore(args.store or cfg["store_path"])
    collection = args.collection or cfg["collection"]
    if not store.exists(collection):
        print(f"error: collection {collection!r} not found", file=sys.stderr)
        return 2
    stats = store.read(spark, collection).agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.countDistinct("documentid").alias("n_docs"),
        F.min(F.size("embedding")).alias("dims"),
        F.avg(F.length("content")).alias("avg_chars"),
    ).collect()[0]
    print(f"collection: {collection}")
    print(f"documents:  {stats.n_docs}")
    print(f"chunks:     {stats.n_chunks}")
    print(f"dims:       {stats.dims}")
    print(f"avg chars:  {stats.avg_chars:.1f}")
    return 0


def cmd_dedup(args, cfg) -> int:
    """Near-duplicate report over an ingested collection: document texts
    are reassembled from chunks, run through the exact + MinHash-LSH +
    cluster pipeline, and the funnel is printed (optionally writing the
    per-document keep/drop table)."""
    from dataingestionplayground_spark.ingest import CollectionStore
    from dataingestionplayground_spark.ingest.store import reassemble_documents
    from dataingestionplayground_spark.operators.dedup import exact_dedup, minhash_lsh_pairs
    from dataingestionplayground_spark.operators.graph import (
        _release_local_checkpoint,
        connected_components,
        label_clusters,
    )
    from dataingestionplayground_spark.session import get_spark, materialize

    spark = get_spark("dip-dedup")
    store = CollectionStore(args.store or cfg["store_path"])
    collection = args.collection or cfg["collection"]
    if not store.exists(collection):
        print(f"error: collection {collection!r} not found", file=sys.stderr)
        return 2
    # the reassembly groupBy and the pair join each run once, counted in
    # the job that caches them; every action below reads the cache
    docs, n_docs = materialize(reassemble_documents(store.read(spark, collection)))
    pairs = comp = None
    try:
        n_exact = exact_dedup(docs, "documentid", "text").count()
        pairs, n_pairs = materialize(minhash_lsh_pairs(docs, "documentid", "text"))
        comp = connected_components(pairs)
        clusters = label_clusters(docs, comp, "documentid")
        n_kept = clusters.filter("is_kept").count()
        print(f"documents:        {n_docs}")
        print(f"exact-unique:     {n_exact}")
        print(f"near-dup pairs:   {n_pairs}")
        print(f"kept after dedup: {n_kept}")
        if args.out:
            clusters.repartition(1).write.mode("overwrite").option(
                "compression", "zstd"
            ).parquet(args.out)
            print(f"wrote keep/drop table to {args.out}")
    finally:
        docs.unpersist()
        if pairs is not None:
            pairs.unpersist()
        if comp is not None:
            # the component labels are a localCheckpoint: free its blocks
            # now rather than when the ContextCleaner gets to them
            _release_local_checkpoint(comp)
    return 0


def cmd_export(args, cfg) -> int:
    """Export a collection's reassembled documents as sharded JSONL +
    manifest (the training-data delivery format)."""
    from dataingestionplayground_spark.ingest import CollectionStore
    from dataingestionplayground_spark.ingest.export import export_jsonl
    from dataingestionplayground_spark.ingest.store import reassemble_documents
    from dataingestionplayground_spark.session import get_spark

    spark = get_spark("dip-export")
    store = CollectionStore(args.store or cfg["store_path"])
    collection = args.collection or cfg["collection"]
    if not store.exists(collection):
        print(f"error: collection {collection!r} not found", file=sys.stderr)
        return 2
    docs = reassemble_documents(store.read(spark, collection))
    manifest = export_jsonl(
        docs, args.out, n_shards=args.shards, id_col="documentid"
    )
    print(
        f"wrote {manifest['total_rows']} docs to {args.out} "
        f"({manifest['n_shards']} shards)"
    )
    return 0


def cmd_curate(args, cfg) -> int:
    """End-to-end training-data curation over a JSONL corpus: exact dedup
    -> line-level boilerplate removal -> calibrated quality gate ->
    (optional) eval-set decontamination -> sharded JSONL export plus data
    card. Prints the funnel; every stage is the same operator the
    registry queries verify against DuckDB. Each stage is cached and
    counted in one action, so the JSON is parsed once and no stage runs
    twice."""
    from pyspark.sql import functions as F

    from dataingestionplayground_spark.functions import text as TX
    from dataingestionplayground_spark.ingest.datacard import write_datacard
    from dataingestionplayground_spark.ingest.export import export_jsonl
    from dataingestionplayground_spark.operators.dedup import exact_dedup, line_dedup
    from dataingestionplayground_spark.queries.textq import (
        quality_features,
        quality_score,
        quality_scores,
    )
    from dataingestionplayground_spark.session import get_spark, materialize, run_observed
    from dataingestionplayground_spark.sources.textfiles import read_jsonl_docs

    spark = get_spark("dip-curate")

    # Each funnel stage, the input docs included, is cached and counted
    # in the one job that fills the cache (``materialize``), so a stage
    # costs only the jobs of its own plan, and the next stage, the export
    # and the data card read it from cache instead of re-running every
    # stage before it. persist() keeps the lineage, so a lost block is
    # recomputed. A stage is released once the stage after it is
    # counted: at most two are cached at once.
    cached: list = []

    def stage(df):
        df, n = materialize(df)
        if cached:
            cached.pop().unpersist()
        cached.append(df)
        return df, n

    try:
        docs, n0 = stage(
            read_jsonl_docs(spark, args.source).select(
                "doc_id", F.col("content").alias("text")
            )
        )

        # 1. exact dedup FIRST: with it after cross-doc line dedup, the two
        # copies of an exact duplicate would mark every one of their shared
        # lines as boilerplate and erase each other entirely. The semi-join
        # also drops null ids.
        keep = exact_dedup(docs, "doc_id", "text").select(
            F.col("keep_id").alias("doc_id")
        )
        deduped, n1 = stage(docs.join(keep, "doc_id", "left_semi"))

        # 2. boilerplate: drop lines still repeated across >= 2 distinct
        # (now-unique) docs, rebuild each doc from its surviving lines.
        # The rebuild groups by doc_id: one row per id from here on.
        cleaned, n2 = stage(
            line_dedup(deduped, min_df=2)
            .filter(F.col("n_lines_kept") > 0)
            .select("doc_id", F.col("clean_text").alias("text"))
        )

        # 3. calibrated quality gate: keep docs at/above the corpus
        # quantile of the score. The threshold is observed in one pass over
        # the scores; with one row per id the gate is then an in-row
        # filter on the same score. No scored doc (q is None) keeps
        # nothing.
        feats = cleaned.withColumn("n_chars", F.length("text"))
        q = run_observed(
            quality_scores(feats),
            F.expr(f"percentile(quality, {args.quality_pct / 100.0})").alias("q"),
        )["q"]
        gate = (
            F.lit(False)
            if q is None
            else (F.col("n_toks") > 0) & (quality_score() >= F.lit(q))
        )
        final, n3 = stage(
            feats.select("doc_id", "text", "n_chars", *quality_features())
            .filter(gate)
            .select("doc_id", "text")
        )

        # 4. optional decontamination vs an eval-set corpus: drop every doc
        # sharing a word trigram with any eval doc. Semi- and anti-joins
        # ignore duplicate keys, so neither side needs a distinct.
        n4 = n3
        if args.eval_source:
            ev_docs = read_jsonl_docs(spark, args.eval_source)
            ev_grams = ev_docs.select(TX.tokens("content").alias("__tk")).select(
                F.explode(F.array_distinct(TX.shingles_from_tokens("__tk", 3))).alias("g")
            )
            contaminated = (
                final.select("doc_id", TX.tokens("text").alias("__tk"))
                .select(
                    "doc_id",
                    F.explode(
                        F.array_distinct(TX.shingles_from_tokens("__tk", 3))
                    ).alias("g"),
                )
                .join(F.broadcast(ev_grams), "g", "left_semi")
                .select("doc_id")
            )
            final, n4 = stage(final.join(contaminated, "doc_id", "left_anti"))

        manifest = export_jsonl(final, args.out, n_shards=args.shards, id_col="doc_id")
        write_datacard(final, args.out)
    finally:
        for df in cached:
            df.unpersist()
    print(f"input docs:        {n0}")
    print(f"after exact dedup: {n1}")
    print(f"after boilerplate: {n2}")
    print(f"after quality:     {n3}")
    print(f"after decontam:    {n4}")
    print(f"exported:          {manifest['total_rows']} docs, {manifest['n_shards']} shards -> {args.out}")
    return 0


def cmd_sql(args, cfg) -> int:
    """Ad-hoc SQL over the testdata tables (region/nation/.../documents/
    embeddings registered as temp views) — the engine's SQL front-end."""
    from dataingestionplayground_spark.session import get_spark, register_views

    spark = get_spark("dip-sql")
    register_views(spark, args.sf_dir)
    df = spark.sql(args.query)
    rows = df.limit(args.max_rows).collect()
    cols = df.columns
    print("\t".join(cols))
    for r in rows:
        print("\t".join(str(r[c]) for c in cols))
    print(f"({len(rows)} row(s))")
    return 0


def cmd_list(args, cfg) -> int:
    from dataingestionplayground_spark.ingest import CollectionStore

    store = CollectionStore(args.store or cfg["store_path"])
    for name in store.list_collections():
        print(name)
    return 0


def cmd_index(args, cfg) -> int:
    """Vector-index lifecycle for a collection (the operational surface
    of the maintained indexes), --kind ivf|pq|ivfpq: build (retrain),
    refresh (reconcile with the store: anti-join appends + orphan
    drops), merge (epoch-staged increment of a chunk-batch parquet),
    signal (occupancy-skew retrain gate of a cell-partitioned index),
    compact (fold committed epoch stages into the base artifact)."""
    from dataingestionplayground_spark.ingest import CollectionStore
    from dataingestionplayground_spark.ingest.ann_index import (
        _embedding_dims,
        build_ivf_index,
        build_ivfpq_index,
        build_pq_index,
        compact_ivf_assignments,
        compact_ivfpq_codes,
        compact_pq_codes,
        ivf_retrain_signal,
        merge_ivf_assignments,
        merge_ivfpq_codes,
        merge_pq_codes,
        refresh_ivf_index,
        refresh_ivfpq_index,
        refresh_pq_index,
    )
    from dataingestionplayground_spark.session import get_spark

    spark = get_spark("dip-index")
    store = CollectionStore(args.store or cfg["store_path"])
    collection = args.collection or cfg["collection"]
    if not store.exists(collection):
        print(f"error: collection {collection!r} not found", file=sys.stderr)
        return 2
    kind = args.kind
    if args.action == "build":
        if kind == "pq":
            dims = _embedding_dims(spark, store, collection)
            meta = build_pq_index(spark, store, collection, dims=dims)
            print(f"built PQ index: {meta['m']}x{meta['n_centroids']} codebook")
        elif kind == "ivfpq":
            dims = _embedding_dims(spark, store, collection)
            meta = build_ivfpq_index(
                spark, store, collection, n_cells=args.cells, dims=dims,
                assign_top=args.assign_top,
            )
            print(
                f"built IVFPQ index: {meta['n_cells']} cells, "
                f"{meta['m']}x{meta['n_centroids']} residual codebook"
            )
        else:
            meta = build_ivf_index(
                spark, store, collection, n_cells=args.cells,
                assign_top=args.assign_top,
            )
            print(f"built IVF index: {meta['n_cells']} cells ({meta['centroid_mode']})")
    elif args.action == "refresh":
        refresh = {"pq": refresh_pq_index, "ivf": refresh_ivf_index,
                   "ivfpq": refresh_ivfpq_index}[kind]
        r = refresh(spark, store, collection)
        print(f"refreshed: appended={r['appended']} removed={r['removed']}")
    elif args.action == "merge":
        if not args.batch:
            print("error: merge requires --batch <parquet of chunk rows>", file=sys.stderr)
            return 2
        if args.epoch is None:
            # no default epoch: with a constant one, two successive
            # merges would look like a retry of the same epoch and the
            # second would silently replace the first's staged rows
            print(
                "error: merge requires --epoch <id> (each batch its own "
                "monotonically increasing epoch; a repeated epoch is "
                "treated as a retry and REPLACES that epoch's staged rows)",
                file=sys.stderr,
            )
            return 2
        batch = spark.read.parquet(args.batch)
        if kind == "pq":
            n = merge_pq_codes(spark, store, collection, batch, args.epoch)
            print(f"merged epoch {args.epoch}: {n} code rows staged")
        elif kind == "ivfpq":
            n = merge_ivfpq_codes(spark, store, collection, batch, args.epoch)
            print(f"merged epoch {args.epoch}: {n} cell partitions touched")
        else:
            n = merge_ivf_assignments(spark, store, collection, batch, args.epoch)
            print(f"merged epoch {args.epoch}: {n} cell partitions touched")
    elif args.action == "signal":
        # each cell-partitioned kind reads its own meta and table; PQ has
        # no cells, so it is rejected rather than answered from another
        # index's meta
        if kind == "ivf":
            s = ivf_retrain_signal(spark, store, collection, args.threshold)
        elif kind == "ivfpq":
            from dataingestionplayground_spark.ingest.ann_index import (
                ivfpq_retrain_signal,
            )

            s = ivfpq_retrain_signal(spark, store, collection, args.threshold)
        else:
            print(
                "error: signal applies to cell-structured indexes "
                "(--kind ivf|ivfpq); for PQ drift use the "
                "vector_pq_distortion diagnostic query",
                file=sys.stderr,
            )
            return 2
        print(json.dumps(s))
    elif args.action == "compact":
        if kind == "pq":
            n = compact_pq_codes(spark, store, collection)
            print(f"compacted: {n} staged code rows folded")
        elif kind == "ivfpq":
            n = compact_ivfpq_codes(spark, store, collection)
            print(f"compacted: {n} cell partitions rewritten")
        else:
            n = compact_ivf_assignments(spark, store, collection)
            print(f"compacted: {n} cell partitions rewritten")
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="dataingestionplayground-spark")
    ap.add_argument("--config", help="JSON config (appsettings-style defaults)")
    sub = ap.add_subparsers(dest="cmd", required=True)

    p_ing = sub.add_parser("ingest", help="parse -> chunk -> embed -> collection")
    p_ing.add_argument("--reader", required=True,
                       choices=["markdown", "pdf", "database", "jsonl", "csv", "xml"])
    p_ing.add_argument("--collection")
    p_ing.add_argument("--source")
    p_ing.add_argument("--store")
    p_ing.add_argument("--incremental", action="store_true")
    p_ing.set_defaults(fn=cmd_ingest)

    p_se = sub.add_parser("search", help="top-k cosine search over a collection")
    p_se.add_argument("--collection")
    p_se.add_argument("--store")
    p_se.add_argument("--query", help="one-shot query (omit for REPL)")
    p_se.add_argument("--top-k", type=int, default=1)
    p_se.add_argument(
        "--index",
        choices=["none", "pq", "ivf"],
        default="none",
        help="search off a store-backed ANN index (built/refreshed on demand) "
        "instead of the brute-force corpus scan",
    )
    p_se.add_argument(
        "--n-probe", type=int, default=2, help="IVF cells probed per query"
    )
    p_se.set_defaults(fn=cmd_search)

    p_in = sub.add_parser("info", help="collection statistics")
    p_in.add_argument("--collection")
    p_in.add_argument("--store")
    p_in.set_defaults(fn=cmd_info)

    p_dd = sub.add_parser("dedup", help="near-duplicate report for a collection")
    p_dd.add_argument("--collection")
    p_dd.add_argument("--store")
    p_dd.add_argument("--out", help="write the per-document keep/drop parquet here")
    p_dd.set_defaults(fn=cmd_dedup)

    p_sq = sub.add_parser("sql", help="run SQL over the registered tables")
    p_sq.add_argument("query")
    p_sq.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"))
    p_sq.add_argument("--max-rows", type=int, default=100)
    p_sq.set_defaults(fn=cmd_sql)

    p_cu = sub.add_parser(
        "curate", help="boilerplate -> quality -> dedup -> decontam -> export"
    )
    p_cu.add_argument("--source", required=True, help="JSONL corpus (doc_id, text)")
    p_cu.add_argument("--out", required=True, help="export directory")
    p_cu.add_argument("--eval-source", help="JSONL eval set for decontamination")
    p_cu.add_argument("--quality-pct", type=float, default=25.0)
    p_cu.add_argument("--shards", type=int, default=8)
    p_cu.set_defaults(fn=cmd_curate)

    p_ex = sub.add_parser("export", help="export a collection as sharded JSONL")
    p_ex.add_argument("--collection")
    p_ex.add_argument("--store")
    p_ex.add_argument("--out", required=True, help="export directory")
    p_ex.add_argument("--shards", type=int, default=8)
    p_ex.set_defaults(fn=cmd_export)

    p_ix = sub.add_parser(
        "index", help="IVF index lifecycle: build/refresh/merge/signal/compact"
    )
    p_ix.add_argument(
        "action", choices=["build", "refresh", "merge", "signal", "compact"]
    )
    p_ix.add_argument("--kind", choices=["ivf", "pq", "ivfpq"], default="ivf")
    p_ix.add_argument("--collection")
    p_ix.add_argument("--store")
    p_ix.add_argument("--cells", type=int, default=16, help="build: n_cells")
    p_ix.add_argument(
        "--assign-top",
        type=int,
        default=1,
        help="build (ivf/ivfpq): store each chunk in its N nearest "
        "cells (soft assignment — boundary-straddling neighborhoods "
        "stay reachable; assignment/code table grows Nx)",
    )
    p_ix.add_argument("--batch", help="merge: parquet of chunk rows")
    p_ix.add_argument(
        "--epoch",
        type=int,
        default=None,
        help="merge: epoch id (REQUIRED for merge — repeating an epoch "
        "is a retry and replaces that epoch's staged rows)",
    )
    p_ix.add_argument(
        "--threshold", type=float, default=2.0, help="signal: skew retrain bar"
    )
    p_ix.set_defaults(fn=cmd_index)

    p_ls = sub.add_parser("list", help="list collections")
    p_ls.add_argument("--store")
    p_ls.set_defaults(fn=cmd_list)

    args = ap.parse_args(argv)
    cfg = _load_config(args.config)
    return args.fn(args, cfg)


if __name__ == "__main__":
    sys.exit(main())
