"""Deduplication operators for large-scale training-data pipelines.

Four families, all shuffle-conscious:

* **exact**: fingerprint (md5 of normalized text) + min-id-per-group.
  One shuffle on the fingerprint; partial aggregation applies.
* **MinHash + LSH**: shingle -> k portable min-hashes -> band -> bucket
  equi-join. The candidate join is an equi-join on (band, key): at 100 TB
  this is the standard near-dup pipeline (the band join shuffles only
  signature rows, ~k strings per doc, not document text).
* **SimHash**: 63-bit sign-aggregated fingerprint; near-dups = small
  Hamming distance (checked on candidate pairs).
* **n-gram Jaccard**: exact pairwise similarity via shingle-equi-join +
  group count — the verification stage after LSH candidate generation.

:func:`banded_pairs` owns the band join for every banded near-dup pair
set — MinHash (:func:`minhash_lsh_pairs`, :func:`minhash_lsh_pairs_between`)
and the image, audio and video fingerprint pairs in ``queries.ingestq``.
It emits each pair once, at its first colliding band, so no pair-level
``distinct`` follows the join; callers verify on the carried columns.
The streaming screens (``streaming.ingest.stream_lsh_screen`` and
``stream_video_screen``) are the exception: their maintained tables
store one row per band (long format), which lacks the other bands' keys
the first-band rule compares.

Hashing is *portable* (md5-based, no engine-specific hash) so every stage
is reproducible in the DuckDB correctness oracle and across engine
versions — a property Spark's ``hash()``/``xxhash64()`` does not give.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dataingestionplayground_spark.functions import text as TX


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep the lowest-id row per exact (normalized) text fingerprint.

    Returns (fingerprint, keep_id, n_dups). Equivalent of the reference's
    incremental-ingestion dedup intent (``VectorStoreCommands.cs:159``)
    done set-wide: one hash-shuffle, map-side partial agg.
    """
    return (
        df.select(TX.fingerprint(text_col).alias("fingerprint"), F.col(id_col))
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_dups"))
    )


def _shingle_rows(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(id, shingle) distinct rows — the unit of MinHash/Jaccard work.

    Tokenization materialized as its own projection first so the shingle
    lambda slices a ready array instead of re-splitting text per shingle.
    Set semantics come from ``array_distinct`` BEFORE the explode: a
    per-row JVM dedup, so no (id, shingle) Exchange is ever needed —
    ``.distinct()`` here would shuffle the largest intermediate of the
    whole dedup pipeline for nothing.

    The input fans out when the upstream scan has fewer splits than
    cores (single-row-group files): the tokenize + shingle + md5-lane
    work above this frame is the most CPU-expensive stage of the dedup
    family and would otherwise run in one task. No-op at scale.
    """
    from dataingestionplayground_spark.session import fan_out_small_scan

    df = fan_out_small_scan(df)
    return df.select(F.col(id_col), TX.tokens(text_col).alias("__w")).select(
        F.col(id_col),
        F.explode(F.array_distinct(TX.shingles_from_tokens("__w", n))).alias("shingle"),
    )


def _lane_expr(i: int, col: str = "shingle") -> str:
    """Spark SQL for minhash lane i (0..7): the 8-hex-char (32-bit) slice
    of md5(col) (lanes 0-3) or md5('x'||col) (4-7), decoded to a BIGINT.

    Two md5 evaluations yield 8 independent 32-bit hash lanes — 4x less
    hashing than one md5 per lane. Lanes are *integers* so min() gets a
    fixed-width mutable agg buffer -> HashAggregate (a string min would
    force SortAggregate: per-partition sorts and spill risk at scale).
    """
    src = f"md5({col})" if i < 4 else f"md5(concat('x', {col}))"
    return f"cast(conv(substring({src}, {(i % 4) * 8 + 1}, 8), 16, 10) as bigint)"


def _lane_expr_duck(i: int, col: str = "shingle") -> str:
    """DuckDB oracle twin of :func:`_lane_expr` (no conv(); polynomial
    expansion of the 8 hex nibbles)."""
    src = f"md5({col})" if i < 4 else f"md5(concat('x', {col}))"
    start = (i % 4) * 8 + 1
    terms = [
        f"CAST(instr('0123456789abcdef', substr({src}, {start + j}, 1)) - 1 AS BIGINT) * {16 ** (7 - j)}"
        for j in range(8)
    ]
    return "(" + " + ".join(terms) + ")"


def _signatures_wide(
    df: DataFrame, id_col: str, text_col: str, num_hashes: int, shingle_n: int
) -> DataFrame:
    """(id, mh0..mh{num_hashes-1}): one shuffle, ``num_hashes``
    min-aggregates over the shingle rows (map-side partial min, no
    hash-index explosion). Portable md5-lane hashing (:func:`_lane_expr`)."""
    if num_hashes > 8:
        raise ValueError("lane scheme provides 8 hashes; extend _lane_expr for more")
    return _shingle_rows(df, id_col, text_col, shingle_n).groupBy(id_col).agg(
        *[F.expr(f"min({_lane_expr(i)})").alias(f"mh{i}") for i in range(num_hashes)]
    )


def _band_keys(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int,
    rows_per_band: int,
    shingle_n: int,
) -> DataFrame:
    """(id, k0..k{n_bands-1}): band b's key is its ``rows_per_band``
    lane mins joined by '|'. Banding is a projection of the wide
    signature, so it adds no shuffle."""
    sig = _signatures_wide(df, id_col, text_col, num_hashes, shingle_n)
    return sig.select(
        id_col,
        *[
            F.concat_ws("|", *[f"mh{b * rows_per_band + j}" for j in range(rows_per_band)])
            .alias(f"k{b}")
            for b in range(num_hashes // rows_per_band)
        ],
    )


def banded_pairs(
    df: DataFrame, id_col: str, keys: list[str], other: DataFrame | None = None
) -> DataFrame:
    """Candidate pairs of rows that share a key in at least one band.

    ``df`` holds ``(id_col, *keys, carried...)``; band j of a row is
    ``(j, keys[j])``. The rows are stacked into (band, key) rows and
    equi-joined on them. Self form (``other`` is None): pairs within
    ``df`` with ``id_a < id_b``. Asymmetric form: ``other`` has the same
    columns and every (``df`` row, ``other`` row) pair qualifies, with
    no id filter — the batch-vs-corpus screen of an incremental ingest.

    Each pair is emitted once, at its first colliding band: the join row
    of band j survives only if ``keys[i]`` differs on the two sides for
    every i < j. The keys ride along on every band row, so the rule is a
    flat compare per earlier band inside the join (codegen, no lambdas)
    and no ``distinct`` over the pair mass is needed — the band-key join
    is the only exchange over pairs. A null key never collides.

    Returns ``id_a``, ``id_b`` and every other column ``c`` of ``df`` as
    ``c_a``/``c_b``, so the caller can verify on the carried values.
    In the self form both join sides are the same subplan under two
    aliases, so Spark's ReuseExchange computes it once. The join is
    skew-safe because identical band keys mean near-identical rows (AQE
    skew-join splits the rare hot bucket).
    """
    stacked = ", ".join(f"{j}, `{k}`" for j, k in enumerate(keys))

    def band_rows(frame: DataFrame) -> DataFrame:
        return frame.select(
            "*", F.expr(f"stack({len(keys)}, {stacked}) as (__band, __key)")
        )

    rows = band_rows(df)
    a = rows.alias("a")
    b = (rows if other is None else band_rows(other)).alias("b")
    cond = (F.col("a.__band") == F.col("b.__band")) & (F.col("a.__key") == F.col("b.__key"))
    if other is None:
        cond &= F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    for i, k in enumerate(keys[:-1]):
        # a row of a band after i survives only if key i did not collide
        # (a null key never does)
        cond &= (F.col("a.__band") <= i) | F.coalesce(
            F.col(f"a.`{k}`") != F.col(f"b.`{k}`"), F.lit(True)
        )
    carried = [c for c in df.columns if c != id_col]
    return a.join(b, cond).select(
        F.col(f"a.{id_col}").alias("id_a"),
        F.col(f"b.{id_col}").alias("id_b"),
        *[F.col(f"{s}.`{c}`").alias(f"{c}_{s}") for c in carried for s in "ab"],
    )


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, num_hashes: int = 8, shingle_n: int = 3
) -> DataFrame:
    """MinHash signature rows (id, h, minhash).

    One shuffle (:func:`_signatures_wide`), then an unpivot of the tiny
    per-doc result.
    """
    sig_wide = _signatures_wide(df, id_col, text_col, num_hashes, shingle_n)
    stack = ", ".join(f"{i}, mh{i}" for i in range(num_hashes))
    return sig_wide.select(
        id_col, F.expr(f"stack({num_hashes}, {stack}) as (h, minhash)")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 8,
    rows_per_band: int = 2,
    shingle_n: int = 3,
) -> DataFrame:
    """Candidate near-duplicate pairs (id_a < id_b) via banded MinHash-LSH.

    Wide signature (one shuffle) -> bands of ``rows_per_band`` lanes ->
    :func:`banded_pairs` self-join, each pair once at its first
    colliding band. The only shuffle over pairs is on (band, band_key).
    """
    keys = _band_keys(df, id_col, text_col, num_hashes, rows_per_band, shingle_n)
    return banded_pairs(keys, id_col, keys.columns[1:]).select("id_a", "id_b")


def _bit_expr(b: int, substring_fn: str = "substring") -> str:
    """Bit b (0..62) of the md5 hex prefix of column ``hx`` — identical SQL
    for Spark and DuckDB (hex digit b//4, bit 3-(b%4), via instr lookup)."""
    return (
        f"((instr('0123456789abcdef', {substring_fn}(hx, {b // 4 + 1}, 1)) - 1)"
        f" // {1 << (3 - b % 4)}) % 2"
    )


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 63) -> DataFrame:
    """63-bit SimHash per document (positive BIGINT; portable md5 bit source).

    Each distinct token contributes +1/-1 per bit position according to
    md5(token); the sign of the per-bit sum is the fingerprint bit.
    Implemented as ONE hash aggregation with ``bits`` conditional-count
    columns (map-side partial agg) over (doc, token) rows — no bit
    explosion, so work is O(tokens), not O(tokens x bits) rows.

    sign-sum_b > 0  <=>  2 * ones_b > n_tokens.
    """
    toks = df.select(
        F.col(id_col), F.explode(F.array_distinct(TX.tokens(text_col))).alias("tok")
    ).select(id_col, F.md5("tok").alias("hx"))
    # Spark SQL lacks `//`; spell integer division with div.
    aggs = [
        F.expr(f"sum({_bit_expr(b).replace('//', 'div')})").alias(f"c{b}")
        for b in range(bits)
    ]
    per_doc = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"), *aggs)
    combine = " + ".join(
        f"(case when 2 * c{b} > n then shiftleft(cast(1 as bigint), {b}) else cast(0 as bigint) end)"
        for b in range(bits)
    )
    return per_doc.select(id_col, F.expr(f"cast({combine} as bigint)").alias("simhash"))


def simhash_oracle_sql(table: str, id_col: str, text_col: str, tokens_sql: str, bits: int = 63) -> str:
    """DuckDB oracle twin of :func:`simhash` (generated, stays in lock-step)."""
    aggs = ", ".join(f"SUM({_bit_expr(b, 'substr')}) AS c{b}" for b in range(bits))
    combine = " + ".join(
        f"(CASE WHEN 2 * c{b} > n THEN (CAST(1 AS BIGINT) << {b}) ELSE CAST(0 AS BIGINT) END)"
        for b in range(bits)
    )
    return f"""
    WITH toks AS (
      SELECT DISTINCT {id_col}, unnest(list_distinct({tokens_sql})) AS tok FROM {table}
    ), hashed AS (
      SELECT {id_col}, md5(tok) AS hx FROM toks
    ), per_doc AS (
      SELECT {id_col}, COUNT(*) AS n, {aggs} FROM hashed GROUP BY {id_col}
    )
    SELECT {id_col}, CAST({combine} AS BIGINT) AS simhash FROM per_doc
    """


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    threshold: float = 0.2,
    block_col: str | None = None,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact shingle-set Jaccard similarity for pairs sharing >=1 shingle.

    |A∩B| via shingle equi-join, |A∪B| = |A|+|B|-|A∩B|. ``block_col``
    optionally restricts pairs to a blocking key (e.g. same source) to
    bound the candidate space — at scale you run this *after* LSH.

    ``max_shingle_df`` drops shingles appearing in more than that many
    documents BEFORE the self-join (standard df-capping): a stopword
    trigram shared by millions of docs would otherwise explode the
    equi-join quadratically. Set sizes are computed on the retained
    shingles, so the result is exact Jaccard over the discriminative
    shingle universe — deterministic and oracle-replicable.
    Jaccard is a ratio of exact integers -> portable across engines.
    """
    sh = _shingle_rows(df, id_col, text_col, shingle_n)
    if max_shingle_df is not None:
        # one extra hash-agg on the shingle key (map-side partial count),
        # broadcast-joined back — df table is vocabulary-sized
        rare = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") <= max_shingle_df)
            .select("shingle")
        )
        sh = sh.join(rare, "shingle")
    if block_col is not None:
        blocks = df.select(F.col(id_col), F.col(block_col))
        sh = sh.join(blocks, id_col)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    a, b = sh.alias("a"), sh.alias("b")
    cond = (F.col("a.shingle") == F.col("b.shingle")) & (
        F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    )
    if block_col is not None:
        cond = cond & (F.col(f"a.{block_col}") == F.col(f"b.{block_col}"))
    inter = (
        a.join(b, cond)
        .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.col("sz_a") + F.col("sz_b") - F.col("n_common")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "n_common", "jaccard")
    )


def line_dedup(
    docs: DataFrame,
    doc_id: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
    min_df: int = 2,
    broadcast_boilerplate: bool = True,
) -> DataFrame:
    """CCNet-style line-level boilerplate removal: drop every line whose
    (trimmed) fingerprint occurs in >= ``min_df`` distinct documents,
    rebuild each document from its surviving lines in original order.

    Returns (doc_id, n_lines_total, n_lines_kept, clean_text); documents
    with no non-empty line are absent. Two big shuffles at any scale:
    the line-df hash agg and the per-doc rebuild agg. The boilerplate
    set (lines repeated across docs) joins back as a broadcast by
    default — it is df-filtered and far smaller than the line table; on
    a corpus where repeated lines rival the corpus itself, pass
    ``broadcast_boilerplate=False`` for a shuffle equi-join instead.
    Fingerprints are portable md5 (reproducible in the SQL oracle).
    """
    # F.split takes a REGEX but the rebuild's array_join takes a literal:
    # escape sep so a separator like '.' or '|' splits on the literal
    # character (re.escape output is valid Java-regex escaping too)
    import re as _re

    lines = (
        docs.select(
            doc_id,
            F.posexplode(F.split(F.col(text_col), _re.escape(sep))).alias("pos", "line"),
        )
        .filter(F.trim("line") != "")
        .withColumn("fp", F.md5(F.trim("line")))
    )
    boiler = (
        lines.groupBy("fp")
        .agg(F.count_distinct(doc_id).alias("line_df"))
        .filter(F.col("line_df") >= min_df)
        .select("fp", F.lit(True).alias("is_boiler"))
    )
    if broadcast_boilerplate:
        boiler = F.broadcast(boiler)
    flagged = lines.join(boiler, "fp", "left").withColumn(
        "kept", F.col("is_boiler").isNull()
    )
    ordered = F.array_sort(
        F.collect_list(F.when(F.col("kept"), F.struct("pos", "line")))
    )
    return flagged.groupBy(doc_id).agg(
        F.count(F.lit(1)).cast("long").alias("n_lines_total"),
        F.sum(F.col("kept").cast("long")).cast("long").alias("n_lines_kept"),
        F.array_join(F.transform(ordered, lambda x: x["line"]), sep).alias("clean_text"),
    )


def minhash_bands(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 8,
    rows_per_band: int = 2,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, band, band_key) LSH band rows for every document — the
    self-contained signature a maintained near-dup table stores: two
    corpora banded with the same parameters are screenable against
    each other by a plain equi-join on (band, band_key), no access to
    the original text required."""
    keys = _band_keys(df, id_col, text_col, num_hashes, rows_per_band, shingle_n)
    stacked = ", ".join(f"{b}, {k}" for b, k in enumerate(keys.columns[1:]))
    return keys.select(
        id_col,
        F.expr(f"stack({len(keys.columns) - 1}, {stacked}) as (band, band_key)"),
    )


def minhash_lsh_pairs_between(
    new_df: DataFrame,
    old_df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 8,
    rows_per_band: int = 2,
    shingle_n: int = 3,
) -> DataFrame:
    """Asymmetric banded LSH: candidate near-duplicate pairs between an
    ARRIVING batch (``new_df``) and an EXISTING corpus (``old_df``) —
    the join an incremental ingest pipeline actually runs, where the
    self-join form would re-pair the whole corpus against itself every
    batch. Returns (new_id, old_id) candidates.

    Scale shape: the batch side's band table is O(batch x n_bands) —
    usually broadcastable; the corpus side shuffles once on the band
    key (at warehouse scale its signatures live as a maintained table,
    the inverted-index pattern, so only the batch side is computed
    per run — :func:`minhash_bands` +
    ``streaming.ingest.stream_lsh_screen``). The asymmetric form of
    :func:`banded_pairs`: each (new, old) pair once, at its first
    colliding band.
    """

    new_keys, old_keys = (
        _band_keys(d, id_col, text_col, num_hashes, rows_per_band, shingle_n)
        for d in (new_df, old_df)
    )
    return banded_pairs(new_keys, id_col, new_keys.columns[1:], old_keys).select(
        F.col("id_a").alias("new_id"), F.col("id_b").alias("old_id")
    )
