"""Dataset cards: the JSON summary that ships with a curated corpus —
what's in it, where it came from, how clean it is. Every number comes
from the same oracle-verified expressions the registry queries use
(token counts, quality scores, exact-dup fingerprints), aggregated in
one pass per section.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dataingestionplayground_spark.functions import text as TX

DATACARD_NAME = "_DATACARD.json"


def build_datacard(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> dict:
    """Summarize a (id, text[, source][, lang]) corpus: sizes, token
    totals, quality quartiles, per-source/per-lang distribution, and the
    exact-duplicate rate. One collect for the totals and quality
    quartiles plus one grouping-sets collect for the ``source``/``lang``
    breakdowns present, each one map-side-combinable aggregation — the
    same cost class at any corpus size. Every collect re-reads ``docs``,
    so pass a cached frame when ``docs`` is costly to compute (the
    ``curate`` CLI does).
    """
    from dataingestionplayground_spark.queries.textq import quality_features, quality_score

    dims = [d for d in ("source", "lang") if d in docs.columns]
    base = docs.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"), *dims
    )
    feats = base.select(
        "text", F.length("text").alias("n_chars"), *quality_features()
    ).withColumn("quality", quality_score())

    def quartile(p: float):
        # percentile skips nulls, so the CASE keeps the rows quality_scores
        # keeps (n_toks > 0)
        return F.round(
            F.expr(f"percentile(CASE WHEN n_toks > 0 THEN quality END, {p})"), 6
        )

    totals = feats.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_toks").cast("long").alias("total_tokens"),
        F.min("n_toks").cast("long").alias("min_tokens"),
        F.max("n_toks").cast("long").alias("max_tokens"),
        F.expr("percentile(n_toks, 0.5)").alias("median_tokens"),
        F.countDistinct(TX.fingerprint("text")).cast("long").alias("n_unique_texts"),
        quartile(0.25).alias("q25"),
        quartile(0.5).alias("q50"),
        quartile(0.75).alias("q75"),
    ).collect()[0]

    card = {
        "n_docs": totals["n_docs"],
        "total_tokens": totals["total_tokens"],
        "tokens": {
            "min": totals["min_tokens"],
            "median": totals["median_tokens"],
            "max": totals["max_tokens"],
        },
        "quality_quartiles": {
            "q25": totals["q25"],
            "q50": totals["q50"],
            "q75": totals["q75"],
        },
        "exact_duplicate_rate": round(
            1.0 - totals["n_unique_texts"] / totals["n_docs"], 6
        )
        if totals["n_docs"]
        else 0.0,
    }
    if dims:
        # GROUPING SETS ((source), (lang)): every breakdown in one
        # aggregate; grouping(d) = 0 marks the rows of d's set
        rows = (
            base.groupingSets([[d] for d in dims], *dims)
            .agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                *[F.grouping(d).alias(f"__g_{d}") for d in dims],
            )
            .collect()
        )
        for d in dims:
            card[f"by_{d}"] = {r[d]: r["n"] for r in rows if r[f"__g_{d}"] == 0}
    return card


def write_datacard(docs: DataFrame, path: str, **kwargs) -> dict:
    card = build_datacard(docs, **kwargs)
    with open(os.path.join(path, DATACARD_NAME), "w") as f:
        json.dump(card, f, indent=2, sort_keys=True)
    return card
