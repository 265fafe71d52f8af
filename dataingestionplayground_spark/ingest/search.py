"""Vector search over a collection (D10/T1, E3 in SURVEY.md).

The reference's search: embed the query string, cosine distance against
the collection, return top-k (k=1 hardcoded) with score
(``VectorStoreCommands.cs:83-139``). Here: the query embeds driver-side
(one string), enters the plan as ONE folded literal (not one literal per
element, whose analysis cost grows with the dims), and the score is a
Catalyst expression — one scan, TakeOrdered top-k, no shuffle of the
corpus. Batched multi-query search reuses operators.similarity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dataingestionplayground_spark.functions.literal import folded_literal
from dataingestionplayground_spark.functions.vector import cosine_similarity
from dataingestionplayground_spark.ingest.embed import hash_embed
from dataingestionplayground_spark.ingest.store import CollectionStore


def search_collection(
    spark: SparkSession,
    store: CollectionStore,
    collection: str,
    query: str,
    k: int = 1,
    embed=hash_embed,
) -> DataFrame:
    """Top-k chunks for a query string: (key, content, context,
    documentid, score), best first."""
    qvec = embed(query)
    chunks = store.read(spark, collection)
    # doubles, then cast: each element rounds to float exactly as a
    # per-element float cast of the double would
    query_vec = folded_literal(
        [float(x) for x in qvec], T.ArrayType(T.DoubleType())
    ).cast("array<float>")
    scored = chunks.withColumn("query_vec", query_vec).withColumn(
        "score", cosine_similarity("embedding", "query_vec")
    )
    return (
        scored.orderBy(F.desc("score"), F.asc("key"))
        .select("key", "content", "context", "documentid", "score")
        .limit(k)
    )
