"""Sharded JSONL export — the delivery end of a training-data pipeline:
hand a curated DataFrame to a trainer as N reproducible gzip JSONL
shards plus a machine-readable manifest.

Shard assignment is the same portable md5-mod used by the sampling
queries (``queries/pipelineq.py``), NOT Spark's internal partitioner:
a row's shard depends only on its id, so re-exports, different
cluster sizes, and other engines all agree on membership. The write is
``partitionBy`` on the shard key, so each shard is its own directory
(``shard=K/``) and the trainer can read any subset without touching the
rest; at 100 TB each shard directory writes in parallel from however
many tasks hold its rows.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from dataingestionplayground_spark.functions import text as TX

MANIFEST_NAME = "_MANIFEST.json"


def export_jsonl(
    df: DataFrame,
    path: str,
    n_shards: int = 8,
    id_col: str = "doc_id",
    text_col: str | None = "text",
    compression: str = "gzip",
) -> dict:
    """Write ``df`` as ``n_shards`` JSONL shard directories under
    ``path`` and a ``_MANIFEST.json`` recording per-shard row counts
    (and token counts when ``text_col`` is present). Returns the
    manifest dict. Deterministic: shard membership is md5(id) mod
    n_shards, and the manifest counts come from the same expression.
    """
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1: {n_shards}")
    shard = F.expr(
        f"cast(conv(substring(md5(cast({id_col} as string)), 1, 8), 16, 10) as bigint) % {n_shards}"
    ).cast("long")
    out = df.withColumn("shard", shard)
    # rebalance on the shard key: each shard's rows meet in one task and
    # land in one file, however many partitions ``df`` arrives in (AQE
    # still splits an oversized shard into advisory-size files)
    out.hint("rebalance", "shard").write.mode("overwrite").option(
        "compression", compression
    ).partitionBy("shard").json(path)

    aggs = [F.count(F.lit(1)).cast("long").alias("rows")]
    has_text = text_col is not None and text_col in df.columns
    if has_text:
        aggs.append(F.sum(TX.token_count(text_col).cast("long")).cast("long").alias("tokens"))
    stats = out.groupBy("shard").agg(*aggs).collect()
    shards = {
        str(r["shard"]): (
            {"rows": r["rows"], "tokens": r["tokens"]} if has_text else {"rows": r["rows"]}
        )
        for r in stats
    }
    manifest = {
        "format": "jsonl",
        "compression": compression,
        "n_shards": n_shards,
        "id_col": id_col,
        # the exported frame's schema (pre-shard column), recorded so
        # shard rewrites (delete_from_export) can re-read a single shard
        # WITHOUT schema inference — an all-null or numeric-looking
        # column in one shard must not drift its type vs the others
        "schema": json.loads(df.schema.json()),
        "total_rows": sum(s["rows"] for s in shards.values()),
        "shards": shards,
    }
    with open(os.path.join(path, MANIFEST_NAME), "w") as f:
        json.dump(manifest, f, indent=2, sort_keys=True)
    return manifest


def read_export(spark, path: str) -> DataFrame:
    """Read an export back (shard recovered as a partition column)."""
    return spark.read.json(path)


def delete_from_export(
    spark, path: str, ids: "list", id_col: str | None = None
) -> dict:
    """Targeted deletion (right-to-be-forgotten) from a sharded export:
    because shard membership is md5(id) mod n_shards, the affected
    shards are computed FROM THE IDS — only those shard directories are
    read, filtered, and rewritten; every other shard stays byte-
    untouched. The manifest is updated in place. Returns the new
    manifest. At 100 TB this touches |affected shards| / n_shards of
    the data instead of rescanning the export.
    """
    import hashlib
    import shutil

    with open(os.path.join(path, MANIFEST_NAME)) as f:
        manifest = json.load(f)
    n_shards = manifest["n_shards"]
    id_col = id_col or manifest["id_col"]
    compression = manifest.get("compression", "gzip")

    def shard_of(v) -> int:
        return int(hashlib.md5(str(v).encode()).hexdigest()[:8], 16) % n_shards

    # pin the rewrite schema: from the manifest when present (new
    # exports), else inferred ONCE over the whole export so every
    # rewritten shard agrees with the untouched ones even when some
    # column is entirely null inside the affected shard
    from pyspark.sql import types as T

    if "schema" in manifest:
        schema = T.StructType.fromJson(manifest["schema"])
    else:
        schema = spark.read.json(path).drop("shard").schema

    affected = sorted({shard_of(v) for v in ids})
    drop = {str(v) for v in ids}
    text_col = "text" if any("tokens" in s for s in manifest["shards"].values()) else None
    for sh in affected:
        key = str(sh)
        if key not in manifest["shards"]:
            continue  # no rows ever landed in this shard
        shard_dir = os.path.join(path, f"shard={sh}")
        kept = (
            spark.read.schema(schema).json(shard_dir)
            .filter(~F.col(id_col).cast("string").isin(list(drop)))
        )
        # the shard's manifest stats are observed in the checkpoint
        # action that severs lineage from the dir we rewrite
        aggs = [F.count(F.lit(1)).alias("rows")]
        if text_col and text_col in kept.columns:
            aggs.append(F.sum(TX.token_count(text_col).cast("long")).cast("long").alias("tokens"))
        stats = Observation()
        kept = kept.observe(stats, *aggs).localCheckpoint(eager=True)
        tmp = shard_dir + ".rewrite-tmp"
        kept.write.mode("overwrite").option("compression", compression).json(tmp)
        shutil.rmtree(shard_dir)
        os.rename(tmp, shard_dir)
        if stats.get["rows"] == 0:
            manifest["shards"].pop(key)
        else:
            manifest["shards"][key] = dict(stats.get)
    manifest["total_rows"] = sum(s["rows"] for s in manifest["shards"].values())
    with open(os.path.join(path, MANIFEST_NAME), "w") as f:
        json.dump(manifest, f, indent=2, sort_keys=True)
    return manifest
