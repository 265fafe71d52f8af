"""Training-data pipeline stages beyond dedup/ANN: repetition-based
quality filtering (Gopher-style), PII redaction, deterministic stratified
sampling, and sequence packing — each a first-class registry query with a
DuckDB oracle twin, all pure Catalyst expressions (no Python except the
multimodal resize stage, whose Python transform is itself value-checked
by an SQL replica).
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from dataingestionplayground_spark.functions import text as TX
from dataingestionplayground_spark.functions.portable import (
    davg,
    davg_expr,
    dsum,
    dsum_expr,
    md5_mod,
    md5_mod_sql,
)
# the oracles below read dedupq's, textq's and vectorq's registered
# oracles through REGISTRY while this module is imported
from dataingestionplayground_spark.queries import dedupq, vectorq  # noqa: F401
from dataingestionplayground_spark.queries.textq import _QUALITY_SQL
from dataingestionplayground_spark.queries import register
from dataingestionplayground_spark.session import fan_out_small_scan
from dataingestionplayground_spark.session import load_table as t


_md5_mod = md5_mod
_md5_mod_sql = md5_mod_sql


@register(
    "text_repetition_filter",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({TX.tokens_sql('text')}) AS tok FROM documents
    ), ucnt AS (
      SELECT doc_id, tok, COUNT(*) AS c FROM toks GROUP BY doc_id, tok
    ), uni AS (
      SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_toks,
             CAST(COUNT(*) AS BIGINT) AS n_distinct,
             CAST(MAX(c) AS BIGINT) AS top_cnt
      FROM ucnt GROUP BY doc_id
    ), bigr AS (
      SELECT doc_id, unnest({TX.word_shingles_sql('text', 2)}) AS bg FROM documents
    ), bcnt AS (
      SELECT doc_id, bg, COUNT(*) AS c FROM bigr GROUP BY doc_id, bg
    ), bi AS (
      SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
             CAST(MAX(c) AS BIGINT) AS top_bigram_cnt
      FROM bcnt GROUP BY doc_id
    )
    SELECT uni.doc_id, n_toks,
           CAST(n_distinct AS DOUBLE) / CAST(n_toks AS DOUBLE) AS distinct_ratio,
           CAST(top_cnt AS DOUBLE) / CAST(n_toks AS DOUBLE) AS top_token_frac,
           coalesce(CAST(top_bigram_cnt AS DOUBLE) / CAST(n_bigrams AS DOUBLE), 0.0)
             AS top_bigram_frac,
           (CAST(n_distinct AS DOUBLE) / CAST(n_toks AS DOUBLE) >= 0.2
            AND coalesce(CAST(top_bigram_cnt AS DOUBLE) / CAST(n_bigrams AS DOUBLE), 0.0) <= 0.2)
             AS keep
    FROM uni LEFT JOIN bi ON bi.doc_id = uni.doc_id
    """,
)
def text_repetition_filter(spark, sf):
    # Gopher/C4-style repetition quality gates on the token stream:
    # distinct-token ratio, top-unigram fraction, top-bigram fraction.
    # Two hash aggs (doc,gram) -> (doc), both map-side partial — the same
    # shape at 100 TB; ratios are exact-int divisions -> portable.
    d = t(spark, sf, "documents")
    toks = d.select("doc_id", F.explode(TX.tokens("text")).alias("tok"))
    uni = (
        toks.groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_toks"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.max("c").alias("top_cnt"),
        )
    )
    bigr = d.select("doc_id", TX.tokens("text").alias("__tk")).select(
        "doc_id", F.explode(TX.shingles_from_tokens("__tk", 2)).alias("bg")
    )
    bi = (
        bigr.groupBy("doc_id", "bg")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.sum("c").alias("n_bigrams"), F.max("c").alias("top_bigram_cnt"))
    )
    distinct_ratio = F.col("n_distinct").cast("double") / F.col("n_toks").cast("double")
    top_token_frac = F.col("top_cnt").cast("double") / F.col("n_toks").cast("double")
    top_bigram_frac = F.coalesce(
        F.col("top_bigram_cnt").cast("double") / F.col("n_bigrams").cast("double"),
        F.lit(0.0),
    )
    return uni.join(bi, "doc_id", "left").select(
        "doc_id",
        "n_toks",
        distinct_ratio.alias("distinct_ratio"),
        top_token_frac.alias("top_token_frac"),
        top_bigram_frac.alias("top_bigram_frac"),
        ((distinct_ratio >= 0.2) & (top_bigram_frac <= 0.2)).alias("keep"),
    )


_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_IP_RE = r"\b(\d{1,3}\.){3}\d{1,3}\b"
_PHONE_RE = r"\b\d{3}-\d{4}-\d{4}\b"


@register(
    "text_pii_redaction",
    oracle=f"""
    WITH synth AS (
      SELECT doc_id,
             concat('contact user', CAST(doc_id AS VARCHAR), '@mail-', source,
                    '.com or 10.0.', CAST(doc_id % 256 AS VARCHAR), '.7 call 555-0100-',
                    lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'), ' re: ',
                    substr(text, 1, 40)) AS raw
      FROM documents
    )
    SELECT doc_id,
           regexp_replace(regexp_replace(regexp_replace(raw, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                          '{_IP_RE}', '<IP>', 'g'), '{_PHONE_RE}', '<PHONE>', 'g') AS redacted,
           CAST(len(regexp_extract_all(raw, '{_EMAIL_RE}', 0)) AS INTEGER) AS n_emails,
           CAST(len(regexp_extract_all(raw, '{_IP_RE}', 0)) AS INTEGER) AS n_ips,
           CAST(len(regexp_extract_all(raw, '{_PHONE_RE}', 0)) AS INTEGER) AS n_phones
    FROM synth
    """,
)
def text_pii_redaction(spark, sf):
    # PII scrubbing as pure regexp expressions (JVM-side, pushes through
    # codegen). The corpus has no real PII, so a deterministic contact
    # string is synthesized from the row first — the redaction logic is
    # what's under test, identically on both engines.
    d = t(spark, sf, "documents")
    raw = F.concat(
        F.lit("contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail-"),
        F.col("source"),
        F.lit(".com or 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".7 call 555-0100-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" re: "),
        F.substring("text", 1, 40),
    )
    synth = d.select("doc_id", raw.alias("raw"))
    return synth.select(
        "doc_id",
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace("raw", _EMAIL_RE, "<EMAIL>"), _IP_RE, "<IP>"
            ),
            _PHONE_RE,
            "<PHONE>",
        ).alias("redacted"),
        # group 0 = whole match: the email pattern has no capture group,
        # and DuckDB's extract_all is pinned to 0 for the same reason
        F.size(F.regexp_extract_all("raw", F.lit(_EMAIL_RE), 0)).alias("n_emails"),
        F.size(F.regexp_extract_all("raw", F.lit(_IP_RE), 0)).alias("n_ips"),
        F.size(F.regexp_extract_all("raw", F.lit(_PHONE_RE), 0)).alias("n_phones"),
    )


# per-source keep rates in permille — the domain-mixing knob of a
# training-data pipeline (downsample the over-represented source).
_RATES = {"src0": 250, "src1": 500, "src2": 750}
_RATE_CASE = (
    "CASE source "
    + " ".join(f"WHEN '{s}' THEN {r}" for s, r in _RATES.items())
    + " ELSE 900 END"
)


@register(
    "sample_stratified_by_source",
    oracle=f"""
    SELECT doc_id, source, lang
    FROM documents
    WHERE {_md5_mod_sql("CAST(doc_id AS VARCHAR)", 1000)} < {_RATE_CASE}
    """,
)
def sample_stratified_by_source(spark, sf):
    # Deterministic stratified sampling: md5(doc_id) mod 1000 against a
    # per-source permille rate. Reproducible across engines and runs
    # (unlike Bernoulli sample()), embarrassingly parallel (no shuffle,
    # the filter pushes into the scan stage).
    d = t(spark, sf, "documents")
    return d.filter(
        F.expr(_md5_mod("cast(doc_id as string)", 1000)) < F.expr(_RATE_CASE)
    ).select("doc_id", "source", "lang")


@register(
    "ingest_pack_sequences",
    oracle=f"""
    WITH sized AS (
      SELECT doc_id, source, {TX.token_count_sql('text')} AS n_toks FROM documents
    ), packed AS (
      SELECT doc_id, source, n_toks,
             coalesce(CAST(SUM(n_toks) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
               AS cum_before
      FROM sized
    )
    SELECT doc_id, source, n_toks,
           CAST(cum_before // 256 AS BIGINT) AS bin_id,
           CAST(cum_before % 256 AS BIGINT) AS bin_offset
    FROM packed
    """,
)
def ingest_pack_sequences(spark, sf):
    # Sequence packing for pretraining: concat docs per shard (source) in
    # stable doc_id order, split into capacity-256 token bins; a doc's bin
    # and offset come from the running token count before it. The concat-
    # and-split policy is what streaming tokenized datasets do; documents
    # may straddle a boundary by design.
    #
    # `source` is a handful of values, so a window partitioned by it
    # carries ~|corpus|/n_sources rows per reducer — the exact skewed
    # shape sample_token_budget eliminated. Same sharded two-pass prefix
    # sum here, keyed WITHIN each source: repartitionByRange on
    # (source, doc_id) makes partition id == contiguous key range,
    # per-(shard, source) totals are cumsum'd driver-side (n_shards x
    # n_sources rows), and the final pass adds each (shard, source)
    # offset to a LOCAL groupwise cumsum — no skewed WindowExec, and the
    # prefix pass is a narrow Arrow stage over already-sorted shards.
    import pandas as pd
    from pyspark.sql import types as T

    d = t(spark, sf, "documents")
    sized = d.select("doc_id", "source", TX.token_count("text").alias("n_toks"))
    n_shards = min(
        max(2, sized.sparkSession.sparkContext.defaultParallelism),
        max(2, sized.rdd.getNumPartitions()),
    )
    ranged = (
        sized.repartitionByRange(n_shards, F.asc("source"), F.asc("doc_id"))
        .withColumn("__pid", F.spark_partition_id())
        .sortWithinPartitions("source", "doc_id")
        .localCheckpoint(eager=True)
    )
    # (shard, source) totals: n_shards x n_sources rows driver-side
    totals = ranged.groupBy("__pid", "source").agg(F.sum("n_toks").alias("t")).collect()
    offsets, acc_by_source = {}, {}
    for r in sorted(totals, key=lambda r: (r["source"], r["__pid"])):
        offsets[(r["__pid"], r["source"])] = acc_by_source.get(r["source"], 0)
        acc_by_source[r["source"]] = acc_by_source.get(r["source"], 0) + (r["t"] or 0)
    out_schema = T.StructType(
        [
            ranged.schema["doc_id"],
            ranged.schema["source"],
            ranged.schema["n_toks"],
            T.StructField("bin_id", T.LongType(), True),
            T.StructField("bin_offset", T.LongType(), True),
        ]
    )

    def local_prefix(batches):
        run, pid = {}, None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if pid is None:
                pid = int(pdf["__pid"].iloc[0])
            nt = pdf["n_toks"].to_numpy(dtype="int64")
            # groupwise local cumsum — source groups arrive contiguous
            local_before = (
                pdf.groupby("source", sort=False)["n_toks"]
                .cumsum()
                .to_numpy(dtype="int64")
                - nt
            )
            bases = {
                s: run.get(s, offsets.get((pid, s), 0))
                for s in pdf["source"].unique()
            }
            before = pdf["source"].map(bases).to_numpy(dtype="int64") + local_before
            for s, tot in pdf.groupby("source", sort=False)["n_toks"].sum().items():
                run[s] = bases[s] + int(tot)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "source": pdf["source"],
                    "n_toks": pdf["n_toks"],
                    "bin_id": before // 256,
                    "bin_offset": before % 256,
                }
            )

    return ranged.mapInPandas(local_prefix, schema=out_schema)


@register(
    "multimodal_resize",
    oracle="""
    WITH media AS (
      SELECT CAST(doc_id AS VARCHAR) AS media_id, text,
             CAST(octet_length(encode(text)) AS BIGINT) AS orig_bytes
      FROM documents
    )
    SELECT media_id, 'resize' AS op, 40 AS param,
           CAST(greatest(1, orig_bytes * 40 // 100) AS BIGINT) AS n_bytes,
           sha256(substr(text, 1, CAST(greatest(1, orig_bytes * 40 // 100) AS INTEGER)))
             AS content_sha
    FROM media
    -- DuckDB cannot slice BLOBs, so the truncation replays on the VARCHAR:
    -- the corpus is ASCII (1 char == 1 byte), making the two equivalent
    """,
)
def multimodal_resize(spark, sf):
    # resize stage over BINARY media via mapInPandas with the
    # deterministic fake transformer (proportional truncation); the
    # oracle replicates the truncation in SQL so the Python batch
    # plumbing itself is value-checked (hash of the transformed bytes).
    from dataingestionplayground_spark.sources.multimodal import (
        binary_with_metadata,
        fake_transformer,
        transform_media,
    )

    d = t(spark, sf, "documents").select(
        "doc_id",
        F.lit("text/plain").alias("mt"),
        F.encode("text", "UTF-8").alias("data"),
    )
    media = binary_with_metadata(d, "doc_id", "mt", "data")
    out = transform_media(media, "resize", 40, transformer=fake_transformer)
    return out.select(
        "media_id",
        "op",
        "param",
        "n_bytes",
        F.sha2(F.col("content"), 256).alias("content_sha"),
    )


@register(
    "multimodal_frame_sample",
    oracle="""
    WITH media AS (
      SELECT CAST(doc_id AS VARCHAR) AS media_id, text,
             CAST(octet_length(encode(text)) AS BIGINT) AS orig_bytes
      FROM documents
    ), sampled AS (
      SELECT media_id,
             array_to_string(
               list_transform(generate_series(1, CAST(orig_bytes AS INTEGER), 3),
                              i -> substr(text, i, 1)), '') AS kept
      FROM media
    )
    SELECT media_id, 'frame_sample' AS op, 3 AS param,
           CAST(length(kept) AS BIGINT) AS n_bytes,
           sha256(kept) AS content_sha
    FROM sampled
    -- ASCII corpus: byte stride == char stride, see multimodal_resize
    """,
)
def multimodal_frame_sample(spark, sf):
    # frame-sample stage (keep every param-th byte) through the same
    # mapInPandas plumbing, value-checked by an SQL replica of the stride.
    from dataingestionplayground_spark.sources.multimodal import (
        binary_with_metadata,
        fake_transformer,
        transform_media,
    )

    d = t(spark, sf, "documents").select(
        "doc_id",
        F.lit("text/plain").alias("mt"),
        F.encode("text", "UTF-8").alias("data"),
    )
    media = binary_with_metadata(d, "doc_id", "mt", "data")
    out = transform_media(media, "frame_sample", 3, transformer=fake_transformer)
    return out.select(
        "media_id",
        "op",
        "param",
        "n_bytes",
        F.sha2(F.col("content"), 256).alias("content_sha"),
    )


@register(
    "agg_salted_twophase",
    oracle="""
    SELECT o_orderstatus,
           CAST(SUM(CAST((o_totalprice) AS DECIMAL(38,6))) AS DOUBLE) AS sum_o_totalprice,
           CAST(COUNT(o_orderkey) AS BIGINT) AS count_o_orderkey,
           min(o_totalprice) AS min_o_totalprice
    FROM orders GROUP BY o_orderstatus
    """,
)
def agg_salted_twophase(spark, sf):
    # salting is semantically transparent (algebraic two-phase rewrite),
    # so the oracle is the PLAIN group-by — the strongest possible check
    # that the skew mitigation changes the plan, not the answer. The sum
    # routes through decimal on both phases (partial sums are decimal),
    # matching the portable-aggregation rule.
    from dataingestionplayground_spark.operators.skew import salted_agg

    o = t(spark, sf, "orders").withColumn(
        "o_totalprice_dec", F.col("o_totalprice").cast("decimal(38,6)")
    )
    out = salted_agg(
        o,
        ["o_orderstatus"],
        {"o_totalprice_dec": "sum", "o_orderkey": "count", "o_totalprice": "min"},
        salt_buckets=16,
    )
    return out.select(
        "o_orderstatus",
        F.col("sum_o_totalprice_dec").cast("double").alias("sum_o_totalprice"),
        F.col("count_o_orderkey").cast("long").alias("count_o_orderkey"),
        F.col("min_o_totalprice").alias("min_o_totalprice"),
    )


@register(
    "join_salted_replicate",
    oracle="""
    SELECT n.n_name, CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
    GROUP BY n.n_name
    """,
)
def join_salted_replicate(spark, sf):
    # manual hot-key salting (salt the big side, replicate the small side
    # across salts) — again checked against the PLAIN join: the rewrite
    # must be invisible in the result.
    from dataingestionplayground_spark.operators.skew import salted_skew_join

    c = t(spark, sf, "customer").withColumnRenamed("c_nationkey", "nk")
    n = t(spark, sf, "nation").withColumnRenamed("n_nationkey", "nk")
    return (
        salted_skew_join(c, n.select("nk", "n_name"), "nk", salt_buckets=8)
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).cast("long").alias("n_customers"))
    )


@register(
    "dedup_decontaminate",
    oracle=f"""
    WITH ev AS (
      SELECT DISTINCT unnest(list_distinct({TX.word_shingles_sql('text', 3)})) AS g
      FROM documents WHERE doc_id % 25 = 0
    ), tr AS (
      SELECT doc_id, unnest(list_distinct({TX.word_shingles_sql('text', 3)})) AS g
      FROM documents WHERE doc_id % 25 <> 0
    ), hits AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_overlap
      FROM tr JOIN ev USING (g) GROUP BY doc_id
    )
    SELECT d.doc_id, coalesce(n_overlap, 0) AS n_overlap,
           coalesce(n_overlap, 0) > 0 AS contaminated
    FROM (SELECT doc_id FROM documents WHERE doc_id % 25 <> 0) d
    LEFT JOIN hits USING (doc_id)
    """,
)
def dedup_decontaminate(spark, sf):
    # Benchmark decontamination: flag training documents sharing any
    # word trigram with a held-out eval set (doc_id % 25 == 0 stands in
    # for the benchmark). The eval gram table is benchmark-sized ->
    # broadcast, so the only shuffle is the per-doc overlap count (hash
    # agg, map-side partial): one corpus scan at 100 TB. Per-doc grams
    # are array_distinct'ed BEFORE the explode, so a gram repeated
    # inside one doc costs one row, and n_overlap counts distinct
    # contaminated grams.
    d = t(spark, sf, "documents")

    def grams(df):
        # two-step projection: tokenize ONCE per doc, then shingle the
        # token array (inlining the split into the shingle lambda would
        # re-split the text per shingle -> O(tokens^2) regex work)
        return df.select("doc_id", TX.tokens("text").alias("__tk")).select(
            "doc_id",
            F.explode(F.array_distinct(TX.shingles_from_tokens("__tk", 3))).alias("g"),
        )

    ev = grams(d.filter(F.col("doc_id") % 25 == 0)).select("g").distinct()
    tr = grams(d.filter(F.col("doc_id") % 25 != 0))
    hits = (
        tr.join(F.broadcast(ev), "g")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_overlap"))
    )
    base = d.filter(F.col("doc_id") % 25 != 0).select("doc_id")
    n = F.coalesce("n_overlap", F.lit(0).cast("long"))
    return base.join(hits, "doc_id", "left").select(
        "doc_id", n.alias("n_overlap"), (n > 0).alias("contaminated")
    )


@register(
    "sample_language_balanced",
    oracle=f"""
    WITH counts AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_lang FROM documents GROUP BY lang
    ), m AS (SELECT MIN(n_lang) AS min_n FROM counts)
    SELECT doc_id, lang, n_lang, min_n,
           ({_md5_mod_sql('CAST(doc_id AS VARCHAR)', 'n_lang')}) < min_n AS keep
    FROM documents JOIN counts USING (lang) CROSS JOIN m
    """,
)
def sample_language_balanced(spark, sf):
    # Uniform language rebalance: downsample every language to the
    # rarest language's size in expectation, deterministically —
    # keep iff md5(doc_id) mod n_lang < min_n (exact-integer, so the
    # same doc keeps/drops on every engine and every rerun). Language
    # counts and the global min are tiny -> both broadcast; the corpus
    # is scanned once with zero shuffles on the big side.
    d = t(spark, sf, "documents")
    counts = d.groupBy("lang").agg(F.count(F.lit(1)).cast("long").alias("n_lang"))
    m = counts.agg(F.min("n_lang").alias("min_n"))
    return (
        d.join(F.broadcast(counts), "lang")
        .crossJoin(F.broadcast(m))
        .select(
            "doc_id",
            "lang",
            "n_lang",
            "min_n",
            (
                F.expr(_md5_mod("cast(doc_id as string)", "n_lang"))
                < F.col("min_n")
            ).alias("keep"),
        )
    )


@register(
    "sample_temperature_mix",
    oracle="""
    WITH counts AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents GROUP BY source
    ), w AS (
      SELECT source, n_docs,
             CAST(floor(sqrt(CAST(n_docs AS DOUBLE) * 1000000.0)) AS BIGINT) AS isqrt
      FROM counts
    ), tot AS (
      SELECT CAST(SUM(n_docs) AS BIGINT) AS total_docs,
             CAST(SUM(isqrt) AS BIGINT) AS total_isqrt FROM w
    )
    SELECT source, n_docs,
           round(CAST(n_docs AS DOUBLE) / CAST(total_docs AS DOUBLE), 9) AS raw_share,
           round(CAST(isqrt AS DOUBLE) / CAST(total_isqrt AS DOUBLE), 9) AS temp_share,
           round((CAST(isqrt AS DOUBLE) / CAST(total_isqrt AS DOUBLE))
                 / (CAST(n_docs AS DOUBLE) / CAST(total_docs AS DOUBLE)), 9) AS boost
    FROM w CROSS JOIN tot
    """,
)
def sample_temperature_mix(spark, sf):
    # Temperature-based source mixing (alpha = 0.5): sampling share of
    # shard s is sqrt(n_s) / sum(sqrt(n_t)) — flattens the source
    # distribution so head domains don't drown the tail. Portability:
    # sqrt is IEEE-correctly-rounded in both engines, so
    # floor(sqrt(n*1e6)) is an EXACT integer weight; all cross-row sums
    # are integer sums, and shares divide two bigints as one double op.
    # The whole query runs on the source-count table (vocabulary-sized).
    d = t(spark, sf, "documents")
    counts = d.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    w = counts.withColumn(
        "isqrt",
        F.floor(F.sqrt(F.col("n_docs").cast("double") * F.lit(1000000.0))).cast("long"),
    )
    tot = w.agg(
        F.sum("n_docs").cast("long").alias("total_docs"),
        F.sum("isqrt").cast("long").alias("total_isqrt"),
    )
    raw = F.col("n_docs").cast("double") / F.col("total_docs").cast("double")
    temp = F.col("isqrt").cast("double") / F.col("total_isqrt").cast("double")
    return w.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        F.round(raw, 9).alias("raw_share"),
        F.round(temp, 9).alias("temp_share"),
        F.round(temp / raw, 9).alias("boost"),
    )


_SEG = 12  # tokens per synthetic "line" for the boilerplate demo


@register(
    "dedup_line_boilerplate",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, {TX.tokens_sql('text')} AS tk FROM documents
      WHERE len({TX.tokens_sql('text')}) > 0
    ), segs AS (
      SELECT doc_id, i AS pos,
             array_to_string(tk[(i-1)*{_SEG}+1:i*{_SEG}], ' ') AS line
      FROM base, unnest(generate_series(1, CAST(ceil(len(tk)/{_SEG}.0) AS INTEGER))) AS u(i)
    ), nz AS (
      SELECT doc_id, pos, line FROM segs WHERE trim(line) <> ''
    ), fdf AS (
      SELECT md5(trim(line)) AS fp, count(distinct doc_id) AS line_df
      FROM nz GROUP BY 1
    ), flagged AS (
      SELECT s.doc_id, s.pos, s.line, (f.line_df >= 2) AS is_boiler
      FROM nz s JOIN fdf f ON md5(trim(s.line)) = f.fp
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_lines_total,
           CAST(coalesce(SUM(CASE WHEN NOT is_boiler THEN 1 END), 0) AS BIGINT) AS n_lines_kept,
           coalesce(string_agg(CASE WHEN NOT is_boiler THEN line END, chr(10) ORDER BY pos), '')
             AS clean_text
    FROM flagged GROUP BY doc_id
    """,
)
def dedup_line_boilerplate(spark, sf):
    # CCNet-style boilerplate removal via operators.dedup.line_dedup:
    # drop every line repeated across >= 2 docs, rebuild the doc from
    # survivors. The synthetic corpus is single-line, so the query first
    # segments the token stream into 12-token "paragraphs" (real corpora
    # pass their newline-separated text straight in). Shuffle shape at
    # any scale: line-df hash agg + per-doc rebuild agg; the df-filtered
    # boilerplate set broadcasts back.
    from dataingestionplayground_spark.operators.dedup import line_dedup

    d = t(spark, sf, "documents").withColumn("tk", TX.tokens("text"))
    d = d.filter(F.size("tk") > 0)
    seg = lambda i: F.array_join(F.slice(F.col("tk"), (i - 1) * _SEG + 1, _SEG), " ")
    lined = d.select(
        "doc_id",
        F.array_join(
            F.transform(
                F.sequence(F.lit(1), F.ceil(F.size("tk") / float(_SEG)).cast("int")),
                seg,
            ),
            "\n",
        ).alias("text"),
    )
    return line_dedup(lined, "doc_id", "text", min_df=2)


@register(
    "sample_global_shuffle",
    oracle=f"""
    SELECT doc_id,
           CAST(({_md5_mod_sql('CAST(doc_id AS VARCHAR)', 8)}) AS BIGINT) AS shard,
           CAST(row_number() OVER (
             PARTITION BY ({_md5_mod_sql('CAST(doc_id AS VARCHAR)', 8)})
             ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS pos
    FROM documents
    """,
)
def sample_global_shuffle(spark, sf):
    # Deterministic global shuffle for training-order randomization:
    # shard = md5(doc_id) mod 8, position within shard = rank by the md5
    # hex (a reproducible permutation — same order on every engine and
    # every rerun, no RNG state to ship). One sort-shuffle, partitioned
    # by shard so no reducer sees more than a shard's worth of ids; at
    # 100 TB, n_shards scales with the cluster and each output shard
    # writes independently.
    # r7: the md5 shard count is a FIXED 8 (part of the permutation's
    # definition), so a window partitioned by it carries |docs|/8 rows
    # per reducer — positions come from the sharded prefix count
    # instead, which spreads every md5-shard across the cluster's range
    # shards.
    from dataingestionplayground_spark.operators.prefix import sharded_row_number

    d = t(spark, sf, "documents")
    shard = F.expr(_md5_mod("cast(doc_id as string)", 8)).cast("long")
    base = d.select(
        "doc_id",
        shard.alias("shard"),
        F.md5(F.col("doc_id").cast("string")).alias("__h"),
    )
    ranked = sharded_row_number(base, [("__h", True), ("doc_id", True)], ("shard",), "__rn")
    return ranked.select(
        "doc_id", "shard", F.col("__rn").cast("long").alias("pos")
    )


@register(
    "dedup_intra_doc_lines",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, {TX.tokens_sql('text')} AS tk FROM documents
      WHERE len({TX.tokens_sql('text')}) > 0
    ), segs AS (
      SELECT doc_id, i AS pos,
             array_to_string(tk[(i-1)*{_SEG}+1:i*{_SEG}], ' ') AS line
      FROM base, unnest(generate_series(1, CAST(ceil(len(tk)/{_SEG}.0) AS INTEGER))) AS u(i)
    ), nz AS (
      SELECT doc_id, pos, line,
             CAST(row_number() OVER (PARTITION BY doc_id, md5(trim(line))
                                     ORDER BY pos) AS BIGINT) AS occurrence
      FROM segs WHERE trim(line) <> ''
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_lines_total,
           CAST(SUM(CASE WHEN occurrence = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_lines_kept,
           coalesce(string_agg(CASE WHEN occurrence = 1 THEN line END, chr(10) ORDER BY pos), '')
             AS clean_text
    FROM nz GROUP BY doc_id
    """,
)
def dedup_intra_doc_lines(spark, sf):
    # Within-document repeated-line removal (keep the FIRST occurrence,
    # preserve order) — the intra-page half of boilerplate cleanup, vs
    # dedup_line_boilerplate's cross-corpus half. One window + one
    # rebuild agg, both partitioned by doc_id: a single sort-shuffle at
    # any scale, and no cross-document state at all. Same 12-token
    # segmentation stand-in as the cross-corpus query.
    d = t(spark, sf, "documents").withColumn("tk", TX.tokens("text"))
    d = d.filter(F.size("tk") > 0)
    seg = lambda i: F.array_join(F.slice(F.col("tk"), (i - 1) * _SEG + 1, _SEG), " ")
    lines = (
        d.select(
            "doc_id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(1), F.ceil(F.size("tk") / float(_SEG)).cast("int")),
                    seg,
                )
            ).alias("pos0", "line"),
        )
        .filter(F.trim("line") != "")
        .withColumn("pos", F.col("pos0") + 1)
    )
    w = W.partitionBy("doc_id", F.md5(F.trim("line"))).orderBy("pos")
    flagged = lines.withColumn("occurrence", F.row_number().over(w).cast("long"))
    first = F.col("occurrence") == 1
    ordered = F.array_sort(F.collect_list(F.when(first, F.struct("pos", "line"))))
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines_total"),
        F.sum(first.cast("long")).cast("long").alias("n_lines_kept"),
        F.array_join(F.transform(ordered, lambda x: x["line"]), "\n").alias("clean_text"),
    )


@register(
    "sample_train_val_test",
    oracle=f"""
    SELECT doc_id, source,
           CASE WHEN h < 800 THEN 'train' WHEN h < 900 THEN 'val' ELSE 'test' END AS split
    FROM (
      SELECT doc_id, source,
             ({_md5_mod_sql("concat(source, '|', CAST(doc_id AS VARCHAR))", 1000)}) AS h
      FROM documents
    )
    """,
)
def sample_train_val_test(spark, sf):
    # Deterministic 80/10/10 split, stratified by construction: the hash
    # mixes (source, doc_id) so every source's docs spread independently
    # across the three splits, a doc never migrates between runs or
    # engines, and the assignment is a pure per-row expression (zero
    # shuffles — it pushes into the scan like the other md5 samplers).
    d = t(spark, sf, "documents")
    h = F.expr(_md5_mod("concat(source, '|', cast(doc_id as string))", 1000))
    return d.select(
        "doc_id",
        "source",
        F.when(h < 800, "train").when(h < 900, "val").otherwise("test").alias("split"),
    )


@register(
    "sample_leakage_safe_split",
    oracle=f"""
    WITH g AS (
      SELECT doc_id,
             min(doc_id) OVER (PARTITION BY {TX.fingerprint_sql('text')})
               AS rep_id,
             CAST(COUNT(*) OVER (PARTITION BY {TX.fingerprint_sql('text')})
               AS BIGINT) AS group_size
      FROM documents
    )
    SELECT doc_id, rep_id, group_size,
           CASE WHEN h < 800 THEN 'train' WHEN h < 900 THEN 'val'
                ELSE 'test' END AS split
    FROM (
      SELECT doc_id, rep_id, group_size,
             ({_md5_mod_sql("CAST(rep_id AS VARCHAR)", 1000)}) AS h
      FROM g
    )
    """,
)
def sample_leakage_safe_split(spark, sf):
    # Contamination-safe 80/10/10 split: plain per-doc hash splits (the
    # sample_train_val_test shape) put two COPIES of the same document
    # in train and test, leaking training text into eval — the classic
    # benchmark-contamination bug. Here the split key is the exact-dup
    # GROUP representative (min doc_id over the normalized-text
    # fingerprint), so a whole duplicate group lands in one split by
    # construction. Scale shape: ONE shuffle — a window over the
    # fingerprint (high-cardinality key: most docs unique, dup groups
    # tiny, no hot reducer), then the split is a per-row md5 expression.
    # Generalizes to near-dup clusters by substituting the connected-
    # components label (dedup_clusters) for the fingerprint.
    from pyspark.sql import Window as W

    d = t(spark, sf, "documents")
    w = W.partitionBy(TX.fingerprint("text"))
    grouped = d.select(
        "doc_id",
        F.min("doc_id").over(w).alias("rep_id"),
        F.count(F.lit(1)).over(w).cast("long").alias("group_size"),
    )
    h = F.expr(_md5_mod("cast(rep_id as string)", 1000))
    return grouped.select(
        "doc_id",
        "rep_id",
        "group_size",
        F.when(h < 800, "train").when(h < 900, "val").otherwise("test").alias("split"),
    )


@register(
    "sample_token_budget",
    oracle=f"""
    WITH feats AS (
      SELECT doc_id, n_chars,
             CAST(len({TX.tokens_sql('text')}) AS INTEGER) AS n_toks,
             {TX.stopword_hits_sql('text', 'en')} AS n_stop,
             CAST(len(replace(text, ' ', '')) AS INTEGER) AS len_sum
      FROM documents
    ), scored AS (
      SELECT doc_id, n_toks, {_QUALITY_SQL} AS quality FROM feats WHERE n_toks > 0
    ), ranked AS (
      SELECT doc_id, n_toks, quality,
             coalesce(CAST(SUM(n_toks) OVER (
               ORDER BY quality DESC, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
               AS toks_before
      FROM scored
    )
    SELECT doc_id, n_toks, quality, toks_before,
           toks_before + n_toks <= 4096 AS keep
    FROM ranked
    """,
)
def sample_token_budget(spark, sf):
    # Budgeted subset selection: take the highest-quality documents until
    # the token budget is spent (greedy by quality, the standard "best
    # data under B tokens" curation step). The exact global running sum
    # is SHARDED (textbook two-pass distributed prefix sum) instead of a
    # single-reducer window — r9: the inline two-pass implementation was
    # generalized into operators/prefix.py:sharded_prefix_sum (same
    # plan: range exchange, driver-side n_shards offsets, narrow Arrow
    # cumsum; no unpartitioned WindowExec), shared with the PPS sampler
    # below. See sample_token_budget_bucketed for the
    # histogram-threshold variant that also avoids the full sort.
    from dataingestionplayground_spark.operators.prefix import sharded_prefix_sum
    from dataingestionplayground_spark.queries.textq import quality_scores

    scored = quality_scores(t(spark, sf, "documents")).select(
        "doc_id", "n_toks", "quality"
    )
    prefixed = sharded_prefix_sum(
        scored, [("quality", False), ("doc_id", True)], "n_toks", "toks_before"
    )
    return prefixed.select(
        "doc_id",
        "n_toks",
        "quality",
        "toks_before",
        (F.col("toks_before") + F.col("n_toks") <= 4096).alias("keep"),
    )


@register(
    "sample_token_budget_bucketed",
    oracle=f"""
    WITH feats AS (
      SELECT doc_id, n_chars,
             CAST(len({TX.tokens_sql('text')}) AS INTEGER) AS n_toks,
             {TX.stopword_hits_sql('text', 'en')} AS n_stop,
             CAST(len(replace(text, ' ', '')) AS INTEGER) AS len_sum
      FROM documents
    ), scored AS (
      SELECT doc_id, n_toks,
             CAST(floor(({_QUALITY_SQL}) * 1000.0) AS BIGINT) AS qbucket
      FROM feats WHERE n_toks > 0
    ), hist AS (
      SELECT qbucket, CAST(SUM(n_toks) AS BIGINT) AS bucket_toks
      FROM scored GROUP BY qbucket
    ), ranked AS (
      SELECT qbucket,
             coalesce(CAST(SUM(bucket_toks) OVER (
               ORDER BY qbucket DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
               AS toks_above
      FROM hist
    ), thr AS (
      SELECT coalesce(MIN(qbucket), 9223372036854775807) AS cut
      FROM ranked WHERE toks_above <= 4096
    )
    SELECT doc_id, n_toks, qbucket, qbucket > cut AS keep
    FROM scored CROSS JOIN thr
    """,
)
def sample_token_budget_bucketed(spark, sf):
    # The 100 TB twin of sample_token_budget: no global sort. Quality is
    # floored into integer permille buckets; per-bucket token sums are
    # ONE hash agg (map-side partial); the threshold bucket is picked
    # from the collected <= 1000-row histogram driver-side (an
    # already-aggregated tiny frame — no single-reducer window at all);
    # the keep decision is a pure per-row comparison against the
    # literal cut. Bucket-granular semantics: strictly-above-threshold
    # buckets are kept in full ("cut" is the best bucket whose
    # predecessors already fit the budget — the boundary bucket itself
    # is dropped, a bounded under-fill never an over-fill).
    from dataingestionplayground_spark.queries.textq import quality_scores

    scored = quality_scores(t(spark, sf, "documents")).select(
        "doc_id",
        F.col("n_toks").cast("int").alias("n_toks"),
        F.floor(F.col("quality") * 1000.0).cast("long").alias("qbucket"),
    )
    hist = scored.groupBy("qbucket").agg(
        F.sum("n_toks").cast("long").alias("bucket_toks")
    )
    acc, cut = 0, 9223372036854775807
    # a null quality row yields qbucket NULL — it can never be kept
    # (NULL > cut is NULL -> false) and must not break the driver-side
    # sort (-None raises TypeError)
    rows = [r for r in hist.collect() if r["qbucket"] is not None]
    for r in sorted(rows, key=lambda r: -r["qbucket"]):
        if acc <= 4096:  # toks_above (exclusive prefix) still fits
            cut = r["qbucket"]
        acc += r["bucket_toks"]
    return scored.select(
        "doc_id", "n_toks", "qbucket", (F.col("qbucket") > F.lit(cut)).alias("keep")
    )


@register(
    "sample_contrastive_negatives",
    oracle=f"""
    WITH sharded AS (
      SELECT doc_id, source,
             CAST(({_md5_mod_sql('CAST(doc_id AS VARCHAR)', 8)}) AS BIGINT) AS shard
      FROM documents
    ), idx AS (
      SELECT doc_id, source, shard,
             CAST(row_number() OVER (PARTITION BY shard
                    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1
                  AS BIGINT) AS pos,
             CAST(COUNT(*) OVER (PARTITION BY shard) AS BIGINT) AS n
      FROM sharded
    ), pairs AS (
      SELECT a.doc_id, a.source, a.shard, a.pos, a.n, u.j,
             ((a.pos + greatest(1, a.n // 3) * u.j) % a.n) AS neg_pos
      FROM idx a CROSS JOIN (SELECT unnest([1, 2]) AS j) u
    )
    SELECT p.doc_id AS anchor_id, p.j AS neg_rank, b.doc_id AS negative_id,
           (p.source = b.source) AS same_source
    FROM pairs p JOIN idx b ON b.shard = p.shard AND b.pos = p.neg_pos
    WHERE p.neg_pos <> p.pos
    """,
)
def sample_contrastive_negatives(spark, sf):
    # Deterministic negative sampling for contrastive training, SHARD-
    # LOCAL (round-2 verdict: the old global-window version put every row
    # on one reducer). Docs hash into sample_global_shuffle's md5 shards;
    # positions and counts come from windows PARTITIONED BY shard, so no
    # reducer ever sees more than one shard. Anchor i in a shard of n
    # takes negatives at (i + max(1,n/3)·j) mod n, j=1,2 — within a
    # shard every doc serves as a negative exactly twice (balanced) and
    # no negative equals its anchor for n > 3; degenerate tiny-shard
    # self-pairs are filtered (only possible when a shard has ≤ 3 docs).
    # The position join is keyed on (shard, pos): an equi-join that
    # co-partitions with the windows. At 100 TB the shard count scales
    # with the cluster; every stage stays shard-parallel.
    # r7: positions via the sharded prefix count (the fixed-8 md5 shard
    # key would otherwise put |docs|/8 rows on each window reducer);
    # per-shard totals are an 8-row broadcast.
    from dataingestionplayground_spark.operators.prefix import sharded_row_number

    d = t(spark, sf, "documents")
    shard = F.expr(_md5_mod("cast(doc_id as string)", 8)).cast("long")
    base = d.select(
        "doc_id",
        "source",
        shard.alias("shard"),
        F.md5(F.col("doc_id").cast("string")).alias("__h"),
    )
    ranked = sharded_row_number(base, [("__h", True), ("doc_id", True)], ("shard",), "__rn")
    ns = ranked.groupBy("shard").agg(F.count(F.lit(1)).cast("long").alias("n"))
    idx = ranked.join(F.broadcast(ns), "shard").select(
        "doc_id",
        "source",
        "shard",
        (F.col("__rn") - 1).cast("long").alias("pos"),
        "n",
    )
    # two consumers below — materialize once (aliased self-join sides
    # don't ReusedExchange)
    idx = idx.localCheckpoint(eager=True)
    step = F.greatest(F.lit(1).cast("long"), (F.col("n") / 3).cast("long"))
    pairs = idx.crossJoin(
        F.broadcast(
            spark.range(1, 3).select(F.col("id").cast("int").alias("j"))
        )
    ).select(
        F.col("doc_id").alias("anchor_id"),
        F.col("source").alias("a_source"),
        "shard",
        "j",
        "pos",
        ((F.col("pos") + step * F.col("j")) % F.col("n")).alias("neg_pos"),
    ).filter(F.col("neg_pos") != F.col("pos"))
    b = idx.select(
        "shard",
        F.col("pos").alias("neg_pos"),
        F.col("doc_id").alias("negative_id"),
        F.col("source").alias("b_source"),
    )
    return pairs.join(b, ["shard", "neg_pos"]).select(
        "anchor_id",
        F.col("j").alias("neg_rank"),
        "negative_id",
        (F.col("a_source") == F.col("b_source")).alias("same_source"),
    )


@register(
    "sample_dsir_importance",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source, {_md5_mod_sql('tok', 256)} AS bucket
      FROM (SELECT doc_id, source, unnest({TX.tokens_sql('text')}) AS tok
            FROM documents)
    ), dist AS (
      SELECT bucket, COUNT(*) AS cs,
             COUNT(*) FILTER (source IN ('src0', 'src1', 'src2')) AS ct
      FROM toks GROUP BY bucket
    ), scored AS (
      SELECT t.doc_id, COUNT(*) AS n_toks,
             SUM((d.ct + 1) * 1000000 // (d.cs + 1)) AS importance
      FROM toks t JOIN dist d ON d.bucket = t.bucket
      GROUP BY t.doc_id
    ), tot AS (
      SELECT CAST(SUM(importance) AS DECIMAL(38,0)) AS s,
             CAST(COUNT(*) AS DECIMAL(38,0)) AS n
      FROM scored
    )
    SELECT doc_id, CAST(n_toks AS BIGINT) AS n_toks,
           CAST(importance AS BIGINT) AS importance,
           CAST(importance AS DECIMAL(38,0)) * n >= s AS keep
    FROM scored CROSS JOIN tot
    """,
)
def sample_dsir_importance(spark, sf):
    # DSIR-style data selection (Xie et al. 2023, "Data Selection for
    # Language Models via Importance Resampling"): hashed unigram
    # features, per-document importance = sum over tokens of the
    # target/source bucket frequency ratio; keep = above corpus mean.
    # The in-dataset "target" is sources src0-src2 (a stand-in for the
    # high-quality reference corpus DSIR samples toward).
    #
    # ALL-INTEGER arithmetic for cross-engine portability: the per-token
    # score is (ct+1)*SCALE div (cs+1) (Laplace-smoothed ratio; the
    # corpus-constant (Ns+B)/(Nt+B) factor is dropped — it rescales
    # every score identically and the keep threshold is scale-
    # invariant), and the mean comparison cross-multiplies as
    # decimal(38,0) instead of dividing. Plan shape at 100 TB: explode
    # -> ONE 256-key hash agg (map-side partial collapses each
    # partition to <=256 rows), broadcast the 256-row distribution
    # table back onto the token stream, one per-doc agg — no windows,
    # no skewed reducers, no floating point.
    # r16 (optimization): the token stream fed TWO consumers — the
    # 256-key distribution agg and the broadcast-join scoring side — and
    # the broadcast join kept the scoring side's lineage un-exchanged,
    # so the explode + per-token md5 ran TWICE. Pre-aggregating to
    # (doc_id, source, bucket) occurrence counts first (guide §2.3:
    # aggregate before you shuffle) tokenizes and hashes ONCE, shrinks
    # the join input from token occurrences to <= |docs| x 256 rows,
    # and is exact by regrouping: sum over tokens of f(bucket) ==
    # sum over buckets of c * f(bucket) in BIGINT arithmetic, and
    # cs/ct are integer sums of the same occurrence counts.
    d = t(spark, sf, "documents")
    docb = (
        d.select(
            "doc_id",
            "source",
            F.explode(TX.tokens("text")).alias("tok"),
        )
        .select("doc_id", "source", F.expr(_md5_mod("tok", 256)).alias("bucket"))
        .groupBy("doc_id", "source", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # both consumers below share docb's exchange verbatim (same canonical
    # subtree -> ReusedExchange; verified in plans/r16), so the explode +
    # md5 pass under it runs once — no checkpoint barrier needed
    dist = docb.groupBy("bucket").agg(
        F.sum("c").alias("cs"),
        F.sum(
            F.when(F.col("source").isin("src0", "src1", "src2"), F.col("c")).otherwise(
                F.lit(0)
            )
        ).alias("ct"),
    )
    scored = (
        docb.join(F.broadcast(dist), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_toks"),
            F.sum(F.expr("c * ((ct + 1) * 1000000L div (cs + 1))")).alias(
                "importance"
            ),
        )
    )
    tot = scored.agg(
        F.sum("importance").cast("decimal(38,0)").alias("s"),
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
    )
    return scored.crossJoin(F.broadcast(tot)).select(
        "doc_id",
        "n_toks",
        F.col("importance").cast("long").alias("importance"),
        (F.col("importance").cast("decimal(38,0)") * F.col("n") >= F.col("s")).alias(
            "keep"
        ),
    )


def _funnel_oracle() -> str:
    # reuse the registered gates' own oracle SQL as CTEs so the funnel
    # can never drift from the filters it reports on
    from dataingestionplayground_spark.queries import REGISTRY as _R

    return f"""
    WITH ent AS ({_R['text_char_entropy'].oracle}),
         gop AS ({_R['text_gopher_quality_rules'].oracle}),
         rep AS ({_R['text_repetition_filter'].oracle}),
    flags AS (
      SELECT d.doc_id,
             (d.lang = 'en') AS f1,
             coalesce(e.keep, FALSE) AS f2,
             coalesce(g.keep, FALSE) AS f3,
             coalesce(r.keep, FALSE) AS f4
      FROM documents d
      LEFT JOIN ent e USING (doc_id)
      LEFT JOIN gop g USING (doc_id)
      LEFT JOIN rep r USING (doc_id)
    )
    SELECT 0 AS stage_idx, 'total' AS stage, COUNT(*) AS n_docs FROM flags
    UNION ALL SELECT 1, 'lang_en', COUNT(*) FILTER (f1) FROM flags
    UNION ALL SELECT 2, '+entropy', COUNT(*) FILTER (f1 AND f2) FROM flags
    UNION ALL SELECT 3, '+gopher', COUNT(*) FILTER (f1 AND f2 AND f3) FROM flags
    UNION ALL SELECT 4, '+repetition', COUNT(*) FILTER (f1 AND f2 AND f3 AND f4)
      FROM flags
    """


@register("pipeline_filter_funnel", oracle=_funnel_oracle())
def pipeline_filter_funnel(spark, sf):
    # The Dolma/RefinedWeb-style filter CASCADE as an observability
    # query: per-stage survivor counts through lang-ID -> char-entropy
    # gate -> Gopher rules -> repetition filter, each stage applied
    # cumulatively. COMPOSES the registered gate queries (their Spark
    # frames here, their oracle SQL as CTEs above) so the funnel can
    # never disagree with the filters themselves. Plan shape: three
    # per-doc-keyed left joins, then ONE conditional-count agg row
    # unpivoted via stack — counts shuffle nothing but partial agg
    # buffers at any scale.
    from dataingestionplayground_spark.queries import REGISTRY as _R

    d = t(spark, sf, "documents").select("doc_id", "lang")
    ent = _R["text_char_entropy"].fn(spark, sf).select(
        "doc_id", F.col("keep").alias("k2")
    )
    gop = _R["text_gopher_quality_rules"].fn(spark, sf).select(
        "doc_id", F.col("keep").alias("k3")
    )
    rep = _R["text_repetition_filter"].fn(spark, sf).select(
        "doc_id", F.col("keep").alias("k4")
    )
    flags = (
        d.join(ent, "doc_id", "left")
        .join(gop, "doc_id", "left")
        .join(rep, "doc_id", "left")
        .select(
            (F.col("lang") == "en").alias("f1"),
            F.coalesce("k2", F.lit(False)).alias("f2"),
            F.coalesce("k3", F.lit(False)).alias("f3"),
            F.coalesce("k4", F.lit(False)).alias("f4"),
        )
    )
    agg = flags.agg(
        F.count(F.lit(1)).alias("n0"),
        F.count_if(F.col("f1")).alias("n1"),
        F.count_if(F.col("f1") & F.col("f2")).alias("n2"),
        F.count_if(F.col("f1") & F.col("f2") & F.col("f3")).alias("n3"),
        F.count_if(
            F.col("f1") & F.col("f2") & F.col("f3") & F.col("f4")
        ).alias("n4"),
    )
    return agg.select(
        F.expr(
            "stack(5, 0, 'total', n0, 1, 'lang_en', n1, 2, '+entropy', n2, "
            "3, '+gopher', n3, 4, '+repetition', n4) AS (stage_idx, stage, n_docs)"
        )
    )


def _nb_oracle() -> str:
    # reuse the registered perplexity gate's oracle as the training-label
    # CTE (same composition pattern as pipeline_filter_funnel) so the
    # classifier's labels can never drift from the gate it distills
    from dataingestionplayground_spark.queries import REGISTRY as _R

    return f"""
    WITH lab AS (
      SELECT doc_id, keep AS pos
      FROM ({_R['text_unigram_perplexity'].oracle})
    ), toks AS (
      SELECT tk.doc_id, l.pos, {_md5_mod_sql('tok', 256)} AS bucket
      FROM (SELECT doc_id, unnest({TX.tokens_sql('text')}) AS tok
            FROM documents) tk
      JOIN lab l ON l.doc_id = tk.doc_id
    ), dist AS (
      SELECT bucket,
             CAST(COUNT(*) FILTER (pos) AS BIGINT) AS cp,
             CAST(COUNT(*) FILTER (NOT pos) AS BIGINT) AS cn
      FROM toks GROUP BY bucket
    ), tot AS (
      SELECT CAST(SUM(cp) AS BIGINT) AS tp, CAST(SUM(cn) AS BIGINT) AS tn,
             (SELECT CAST(COUNT(*) FILTER (pos) AS BIGINT) FROM lab) AS np,
             (SELECT CAST(COUNT(*) FILTER (NOT pos) AS BIGINT) FROM lab) AS nn
      FROM dist
    ), wb AS (
      SELECT bucket,
             CAST(round(ln(CAST(cp + 1 AS DOUBLE)) - ln(CAST(tp + 256 AS DOUBLE))
                        - ln(CAST(cn + 1 AS DOUBLE)) + ln(CAST(tn + 256 AS DOUBLE)),
                        6) AS DECIMAL(38,6)) AS w,
             CAST(round(ln(CAST(np + 1 AS DOUBLE)) - ln(CAST(nn + 1 AS DOUBLE)),
                        6) AS DECIMAL(38,6)) AS prior
      FROM dist CROSS JOIN tot
    ), scored AS (
      SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_toks,
             CAST(SUM(w) + min(prior) AS DOUBLE) AS log_odds,
             bool_or(t.pos) AS pos
      FROM toks t JOIN wb USING (bucket)
      GROUP BY t.doc_id
    )
    SELECT doc_id, n_toks, log_odds,
           log_odds >= 0.0 AS pred_pos,
           (log_odds >= 0.0) = pos AS is_match
    FROM scored
    """


def nb_weight_table(spark, sf, lab=None):
    """TRAIN the naive-Bayes quality model: returns the (bucket, w,
    prior) weight frame — <= 256 rows of 6dp-decimal log-odds terms —
    plus the (doc_id, pos) label frame it was fit on. Shared by the
    batch registry query and the streaming scorer
    (streaming/documents.py), so the two can never drift.

    ``lab`` (optional): a precomputed (doc_id, pos boolean) label frame
    — callers that already materialized the perplexity gate (the
    quality ensemble) pass it in so the labeling scan runs once.

    r16 (optimization): the returned token frame is pre-aggregated to
    (doc_id, pos, bucket, c) occurrence counts — guide §2.3, aggregate
    before you shuffle. Training counts are integer sums of the same
    occurrences (cp = Σ c over pos rows), and every scoring consumer
    folds sum(w) over tokens as the exactly-equal sum(c * w) over
    buckets (DECIMAL x BIGINT is exact). The checkpoint materializes
    <= |docs| x 256 rows instead of the raw token stream."""
    from dataingestionplayground_spark.queries import REGISTRY as _R

    d = t(spark, sf, "documents")
    if lab is None:
        lab = (
            _R["text_unigram_perplexity"]
            .fn(spark, sf)
            .select("doc_id", F.col("keep").alias("pos"))
        )
    # the perplexity-label subtree and the token explode each feed two
    # consumers below — materialize once (aliased branches do not
    # ReuseExchange), same pattern as dedup_soft_weights
    lab = lab.localCheckpoint(eager=True)
    toks = (
        d.select("doc_id", F.explode(TX.tokens("text")).alias("tok"))
        .select("doc_id", F.expr(_md5_mod("tok", 256)).alias("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
        .join(lab, "doc_id")
        .select("doc_id", "pos", "bucket", "c")
    )
    toks = toks.localCheckpoint(eager=True)
    dist = toks.groupBy("bucket").agg(
        F.sum(F.when(F.col("pos"), F.col("c")).otherwise(F.lit(0)))
        .cast("long")
        .alias("cp"),
        F.sum(F.when(~F.col("pos"), F.col("c")).otherwise(F.lit(0)))
        .cast("long")
        .alias("cn"),
    )
    priors = lab.agg(
        F.count_if(F.col("pos")).cast("long").alias("np"),
        F.count_if(~F.col("pos")).cast("long").alias("nn"),
    )
    tot = dist.agg(
        F.sum("cp").cast("long").alias("tp"), F.sum("cn").cast("long").alias("tn")
    ).crossJoin(F.broadcast(priors))
    wb = dist.crossJoin(F.broadcast(tot)).select(
        "bucket",
        F.round(
            F.log(F.expr("cast(cp + 1 as double)"))
            - F.log(F.expr("cast(tp + 256 as double)"))
            - F.log(F.expr("cast(cn + 1 as double)"))
            + F.log(F.expr("cast(tn + 256 as double)")),
            6,
        )
        .cast("decimal(38,6)")
        .alias("w"),
        F.round(
            F.log(F.expr("cast(np + 1 as double)"))
            - F.log(F.expr("cast(nn + 1 as double)")),
            6,
        )
        .cast("decimal(38,6)")
        .alias("prior"),
    )
    return wb, toks


@register("text_nb_quality_classifier", oracle=_nb_oracle())
def text_nb_quality_classifier(spark, sf):
    # Trainable quality classifier, fastText/CCNet-style: a multinomial
    # naive-Bayes model over hashed-unigram features (256 buckets) is
    # TRAINED inside the query against the unigram-perplexity gate's
    # labels — distilling the (expensive) LM filter into a cheap bag-of-
    # hashed-words classifier, the CCNet/GPT-3/LLaMA data-quality
    # setup — then scores every document with its
    # Laplace-smoothed log-odds. Cross-engine portability uses the
    # perplexity trick: each per-bucket log term is rounded to 6 dp and
    # summed as DECIMAL(38,6), so the sum is order-independent and
    # bit-identical in DuckDB. Plan shape at 100 TB: in-row label
    # expressions + one doc-keyed join, token explode -> ONE 256-key
    # hash agg (map-side partial collapses each partition to <=256
    # rows), broadcast the 256-row weight table back onto the token
    # stream, one per-doc agg — no windows, no skewed reducers, no
    # driver-side state.
    wb, toks = nb_weight_table(spark, sf)
    scored = (
        toks.join(F.broadcast(wb), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_toks"),
            (F.sum(F.col("c") * F.col("w")) + F.min("prior"))
            .cast("double")
            .alias("log_odds"),
            F.bool_or("pos").alias("pos"),
        )
    )
    return scored.select(
        "doc_id",
        "n_toks",
        "log_odds",
        (F.col("log_odds") >= 0.0).alias("pred_pos"),
        ((F.col("log_odds") >= 0.0) == F.col("pos")).alias("is_match"),
    )


@register(
    "pipeline_feature_scaling",
    oracle=f"""
    WITH stats AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             {davg_expr('value')} AS mean,
             {dsum_expr('value * value')} AS sumsq,
             quantile_cont(value, 0.01) AS p01,
             quantile_cont(value, 0.99) AS p99,
             CAST(min(value) AS DOUBLE) AS vmin,
             CAST(max(value) AS DOUBLE) AS vmax
      FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type, e.value,
           least(greatest(e.value, s.p01), s.p99) AS winsorized,
           round((e.value - s.mean)
                 / nullif(sqrt(s.sumsq / s.n - s.mean * s.mean), 0.0)
                 , 6) AS zscore,
           round((e.value - s.vmin) / nullif(s.vmax - s.vmin, 0.0), 6)
             AS minmax
    FROM events e JOIN stats s USING (event_type)
    """,
)
def pipeline_feature_scaling(spark, sf):
    # Feature scaling for ML prep, three standard normalizations in one
    # pass: winsorize to the per-group [p01, p99] band (outlier clamp),
    # population z-score, and min-max to [0, 1] — each computed within
    # event_type so heterogeneous metrics normalize on their own scale.
    # Portability: sums/squares ride the decimal(38,6) helpers,
    # percentiles are the exact interpolated definition both engines
    # share, and the derived doubles are rounded to 6 dp. Plan shape:
    # ONE map-side-partial agg to a tiny per-group stats table,
    # broadcast back over a single corpus scan — the group count is the
    # event-type vocabulary (bounded), the join is broadcast, zero
    # corpus shuffles.
    e = t(spark, sf, "events")
    stats = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        davg("value").alias("mean"),
        dsum(F.col("value") * F.col("value")).alias("sumsq"),
        F.expr("percentile(value, 0.01)").alias("p01"),
        F.expr("percentile(value, 0.99)").alias("p99"),
        F.min("value").alias("vmin"),
        F.max("value").alias("vmax"),
    )
    return e.join(F.broadcast(stats), "event_type").select(
        "event_id",
        "event_type",
        "value",
        F.least(F.greatest(F.col("value"), F.col("p01")), F.col("p99")).alias(
            "winsorized"
        ),
        F.round(
            (F.col("value") - F.col("mean"))
            / F.nullif(
                F.sqrt(
                    F.col("sumsq") / F.col("n") - F.col("mean") * F.col("mean")
                ),
                F.lit(0.0),
            ),
            6,
        ).alias("zscore"),
        F.round(
            (F.col("value") - F.col("vmin"))
            / F.expr("nullif(vmax - vmin, 0.0d)"),
            6,
        ).alias("minmax"),
    )


@register(
    "pipeline_mixture_plan",
    oracle=f"""
    WITH per_src AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(len({TX.tokens_sql('text')})) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    ), rooted AS (
      SELECT source, n_docs, n_tokens,
             CAST(round(sqrt(CAST(n_tokens AS DOUBLE)), 6) AS DECIMAL(38,6))
               AS root
      FROM per_src
    ), tot AS (
      SELECT CAST(SUM(n_tokens) AS BIGINT) AS t_total,
             SUM(root) AS s_root
      FROM rooted
    )
    SELECT source, n_docs, n_tokens,
           round(CAST(n_tokens AS DOUBLE) / nullif(CAST(t_total AS DOUBLE), 0.0), 6)
             AS current_share,
           round(CAST(root AS DOUBLE) / nullif(CAST(s_root AS DOUBLE), 0.0), 6)
             AS target_share,
           round((CAST(root AS DOUBLE) / nullif(CAST(s_root AS DOUBLE), 0.0))
                 * CAST(t_total AS DOUBLE)
                 / nullif(CAST(n_tokens AS DOUBLE), 0.0), 6)
             AS epochs
    FROM rooted CROSS JOIN tot
    """,
)
def pipeline_mixture_plan(spark, sf):
    # Dataset mixture rebalancing plan (the sqrt-smoothed sampling used
    # for multilingual/LLM source balancing): per-source token counts ->
    # target share ∝ sqrt(tokens) (upweights small sources without
    # letting any source dominate) -> per-source `epochs` multiplier =
    # target_share * T / tokens, i.e. how many passes over each source
    # the training loader should take. Emits the PLAN table the sampler
    # consumes (sample_temperature_mix is the row-level execution of
    # such a plan). ONE map-side-partial agg to a per-source row, a
    # 1-row totals broadcast, zero corpus-sized shuffles. The sqrt
    # terms are rounded to 6 dp decimal before the cross-source sum so
    # the total is order-independent across engines and partitionings.
    d = t(spark, sf, "documents")
    per_src = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(TX.token_count("text")).cast("long").alias("n_tokens"),
    )
    rooted = per_src.select(
        "source",
        "n_docs",
        "n_tokens",
        F.round(F.sqrt(F.col("n_tokens").cast("double")), 6)
        .cast("decimal(38,6)")
        .alias("root"),
    )
    tot = rooted.agg(
        F.sum("n_tokens").cast("long").alias("t_total"),
        F.sum("root").alias("s_root"),
    )
    # nullif on every data-derived denominator: an all-empty source (or
    # corpus) yields NULL shares instead of an ANSI DIVIDE_BY_ZERO abort
    tgt = F.col("root").cast("double") / F.nullif(
        F.col("s_root").cast("double"), F.lit(0.0)
    )
    return rooted.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tokens",
        F.round(
            F.col("n_tokens").cast("double")
            / F.nullif(F.col("t_total").cast("double"), F.lit(0.0)),
            6,
        ).alias("current_share"),
        F.round(tgt, 6).alias("target_share"),
        F.round(
            tgt
            * F.col("t_total").cast("double")
            / F.nullif(F.col("n_tokens").cast("double"), F.lit(0.0)),
            6,
        ).alias("epochs"),
    )


def _epoch_expansion_oracle() -> str:
    from dataingestionplayground_spark.queries import REGISTRY as _R

    return f"""
    WITH plan AS ({_R['pipeline_mixture_plan'].oracle}),
    planned AS (
      SELECT d.doc_id, d.source, p.epochs,
             CAST(floor(p.epochs) AS BIGINT)
               + CASE WHEN {_md5_mod_sql("concat(CAST(d.doc_id AS VARCHAR), ':ep')", 1000000)}
                      < CAST(round((p.epochs - floor(p.epochs)) * 1000000, 0) AS BIGINT)
                      THEN 1 ELSE 0 END AS n_copies
      FROM documents d JOIN plan p ON p.source = d.source
    )
    SELECT doc_id, source, CAST(copy_id AS BIGINT) AS copy_id, n_copies
    FROM planned, unnest(generate_series(1, n_copies)) AS t(copy_id)
    WHERE n_copies > 0
    """


@register("sample_epoch_expansion", oracle=_epoch_expansion_oracle())
def sample_epoch_expansion(spark, sf):
    # EXECUTES the mixture plan: each document is replicated
    # floor(epochs) times plus one more with probability frac(epochs),
    # decided by a deterministic per-document md5 draw — so the expanded
    # dataset realizes the sqrt-smoothed target shares in expectation
    # with zero randomness across runs/engines. Composes the registered
    # plan query (Spark frame + oracle CTE). Plan shape: the 1-row-per-
    # source plan broadcasts onto one corpus scan, and the replication
    # is a sequence-explode whose fan-out is the per-source epoch count
    # — no shuffle of the corpus, no window, deterministic everywhere.
    from dataingestionplayground_spark.queries import REGISTRY as _R

    d = t(spark, sf, "documents").select("doc_id", "source")
    plan = _R["pipeline_mixture_plan"].fn(spark, sf).select("source", "epochs")
    draw = _md5_mod("concat(cast(doc_id as string), ':ep')", 1000000)
    planned = d.join(F.broadcast(plan), "source").select(
        "doc_id",
        "source",
        (
            F.floor("epochs").cast("long")
            + F.when(
                F.expr(draw)
                < F.round((F.col("epochs") - F.floor("epochs")) * 1000000, 0).cast(
                    "long"
                ),
                F.lit(1),
            ).otherwise(F.lit(0))
        ).alias("n_copies"),
    )
    return (
        planned.filter(F.col("n_copies") > 0)
        .select(
            "doc_id",
            "source",
            F.explode(F.expr("sequence(1L, n_copies)")).alias("copy_id"),
            "n_copies",
        )
        .select("doc_id", "source", "copy_id", "n_copies")
    )


@register(
    "sample_weighted_systematic",
    oracle="""
    WITH w AS (
      SELECT doc_id, CAST(n_chars AS BIGINT) AS weight,
             coalesce(CAST(SUM(n_chars) OVER (
               ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
               AS w_before
      FROM documents
    ), tot AS (
      SELECT CAST(SUM(n_chars) AS BIGINT) AS total FROM documents
    )
    SELECT doc_id, weight, w_before,
           (100 * (w_before + weight)) // total
             > (100 * w_before) // total AS keep
    FROM w CROSS JOIN tot
    """,
)
def sample_weighted_systematic(spark, sf):
    # Systematic probability-proportional-to-size sampling (Madow 1949):
    # lay the documents end to end on a line of cumulative weight
    # (weight = n_chars), drop k=100 evenly spaced grid points on it,
    # and keep every document whose interval contains a grid point —
    # inclusion probability proportional to weight, EXACTLY k kept when
    # no document spans two grid points, all in integer arithmetic
    # (keep iff floor(k*W_i/total) > floor(k*W_{i-1}/total)). The
    # cumulative weight is the sharded two-pass prefix sum
    # (operators/prefix.py:sharded_prefix_sum — no unpartitioned
    # window); the total rides in as a broadcast 1-row agg. This is the
    # weight-aware sibling of sample_systematic (every Nth row) and the
    # deterministic, single-pass alternative to weighted reservoir
    # sampling — at 100 TB it is one range exchange + one narrow Arrow
    # pass, with no per-row randomness to keep portable.
    from dataingestionplayground_spark.operators.prefix import sharded_prefix_sum

    k = 100
    d = t(spark, sf, "documents").select(
        "doc_id", F.col("n_chars").cast("long").alias("weight")
    )
    prefixed = sharded_prefix_sum(d, [("doc_id", True)], "weight", "w_before")
    total = d.agg(F.sum("weight").cast("long").alias("__total"))
    return (
        prefixed.join(F.broadcast(total))
        .select(
            "doc_id",
            "weight",
            "w_before",
            (
                F.expr(f"div({k} * (w_before + weight), __total)")
                > F.expr(f"div({k} * w_before, __total)")
            ).alias("keep"),
        )
    )


@register(
    "sample_stratified_neyman",
    oracle="""
    WITH stats AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_h,
             sqrt(
               (CAST(SUM(CAST(n_chars AS DECIMAL(38,6)) * CAST(n_chars AS DECIMAL(38,6))) AS DOUBLE)
                - CAST(SUM(CAST(n_chars AS DECIMAL(38,6))) AS DOUBLE)
                  * CAST(SUM(CAST(n_chars AS DECIMAL(38,6))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE))
               / CAST(COUNT(*) - 1 AS DOUBLE)
             ) AS s_h
      FROM documents GROUP BY source
    ), w AS (
      SELECT source, n_h, n_h * s_h AS w_h,
             (SELECT SUM(n_h * s_h) FROM stats) AS w_tot
      FROM stats
    ), alloc0 AS (
      SELECT source, n_h,
             CAST(floor(200.0 * w_h / w_tot) AS BIGINT) AS base,
             200.0 * w_h / w_tot - floor(200.0 * w_h / w_tot) AS rem
      FROM w
    ), short AS (
      SELECT CAST(200 - SUM(base) AS BIGINT) AS extra FROM alloc0
    ), alloc AS (
      SELECT source, n_h,
             base + CASE WHEN CAST(row_number() OVER (
                 ORDER BY rem DESC, source ASC) AS BIGINT)
               <= (SELECT extra FROM short) THEN 1 ELSE 0 END AS n_alloc
      FROM alloc0
    )
    SELECT d.source, d.doc_id, a.n_alloc
    FROM (
      SELECT source, doc_id,
             CAST(row_number() OVER (PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS INTEGER) AS rk
      FROM documents
    ) d
    JOIN alloc a ON a.source = d.source
    WHERE d.rk <= a.n_alloc
    """,
)
def sample_stratified_neyman(spark, sf):
    # Neyman-allocation stratified sampling (Neyman 1934): a total
    # budget of 200 documents split across source strata proportional
    # to N_h * S_h — bigger AND more-variable strata get more samples,
    # the allocation that minimizes the estimator variance for a fixed
    # budget (vs sample_stratified_by_source's equal-rate design).
    # S_h from decimal-exact power sums (one agg); fractional seats by
    # LARGEST REMAINDER (floor + ranked remainders), all on a
    # |strata|-row frame; within-stratum selection is the first
    # n_alloc docs in deterministic md5 order via the sharded
    # two-phase rank (operators/prefix.py — `source` is a
    # fixed-cardinality key, so a plain partitioned window would be
    # the lint-flagged skew shape). Everything after the one stats agg
    # touches only |strata|-sized frames; the rank pass is one range
    # exchange.
    from dataingestionplayground_spark.operators.prefix import (
        bounded_rank,
        sharded_row_number,
    )

    d = t(spark, sf, "documents").select("doc_id", "source", "n_chars")
    x = F.col("n_chars").cast("decimal(38,6)")
    stats = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_h"),
        F.sum(x).cast("double").alias("__sx"),
        F.sum(x * x).cast("double").alias("__sxx"),
    ).select(
        "source",
        "n_h",
        F.sqrt(
            (F.col("__sxx") - F.col("__sx") * F.col("__sx") / F.col("n_h").cast("double"))
            / (F.col("n_h") - 1).cast("double")
        ).alias("s_h"),
    )
    w = stats.withColumn("w_h", F.col("n_h") * F.col("s_h"))
    tot = w.agg(F.sum("w_h").alias("w_tot"))
    alloc0 = w.join(F.broadcast(tot)).select(
        "source",
        "n_h",
        F.floor(200.0 * F.col("w_h") / F.col("w_tot")).cast("long").alias("base"),
        (
            200.0 * F.col("w_h") / F.col("w_tot")
            - F.floor(200.0 * F.col("w_h") / F.col("w_tot"))
        ).alias("rem"),
    )
    short = alloc0.agg((F.lit(200) - F.sum("base")).cast("long").alias("extra"))
    ranked = bounded_rank(alloc0, [("rem", False), ("source", True)], "__seat")
    alloc = ranked.join(F.broadcast(short)).select(
        "source",
        "n_h",
        (
            F.col("base")
            + F.when(F.col("__seat").cast("long") <= F.col("extra"), 1).otherwise(0)
        ).alias("n_alloc"),
    )
    picked = sharded_row_number(
        d.withColumn("__h", F.md5(F.col("doc_id").cast("string"))),
        [("__h", True), ("doc_id", True)],
        partition_cols=("source",),
        out_col="rk",
    )
    return (
        picked.join(F.broadcast(alloc), "source")
        .filter(F.col("rk") <= F.col("n_alloc"))
        .select("source", "doc_id", "n_alloc")
    )


_RES_MOD = 1_000_003
_RES_U = f"(CAST(({_md5_mod('cast(doc_id as string)', _RES_MOD)}) + 1 AS DOUBLE) / {_RES_MOD + 1}.0)"
_RES_U_SQL = f"(CAST(({_md5_mod_sql('CAST(doc_id AS VARCHAR)', _RES_MOD)}) + 1 AS DOUBLE) / {_RES_MOD + 1}.0)"


@register(
    "sample_reservoir_weighted",
    oracle=f"""
    SELECT doc_id, n_chars, round(res_key, 6) AS res_key,
           CAST(rk AS INTEGER) AS rk
    FROM (
      SELECT doc_id, n_chars,
             ln({_RES_U_SQL}) / CAST(n_chars AS DOUBLE) AS res_key,
             row_number() OVER (
               ORDER BY ln({_RES_U_SQL}) / CAST(n_chars AS DOUBLE) DESC,
                        doc_id ASC) AS rk
      FROM documents
    ) WHERE rk <= 100
    """,
)
def sample_reservoir_weighted(spark, sf):
    # Weighted reservoir sampling (Efraimidis & Spirakis 2006, A-ES):
    # each item draws key = u^(1/w) — equivalently rank by ln(u)/w —
    # and the k largest keys are a without-replacement sample with
    # inclusion probability proportional to weight. The portable twin
    # of PPS sampling that needs NO total-weight pass or prefix sums
    # (contrast sample_weighted_systematic): one scan, one top-k.
    # u comes from the cross-engine md5 hash (deterministic and
    # replayable, like every sampler in this module); weight = n_chars.
    # Scale shape: the keyed projection is embarrassingly parallel and
    # orderBy+limit executes as TakeOrderedAndProject — per-partition
    # partial top-100 then a 100-row driver merge, no global sort, no
    # corpus shuffle. Selection compares RAW doubles (identical
    # expression tree both engines); only the output key is rounded.
    from dataingestionplayground_spark.operators.prefix import bounded_rank

    d = t(spark, sf, "documents")
    key = F.expr(f"ln({_RES_U})") / F.col("n_chars").cast("double")
    keyed = d.select("doc_id", "n_chars", key.alias("res_key"))
    top = keyed.orderBy(F.desc("res_key"), F.asc("doc_id")).limit(100)
    ranked = bounded_rank(top, [("res_key", False), ("doc_id", True)], "rk")
    return ranked.select(
        "doc_id", "n_chars", F.round("res_key", 6).alias("res_key"), "rk"
    )


@register(
    "pipeline_join_skew_report",
    oracle="""
    WITH per_key AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY user_id
    ), bucketed AS (
      SELECT CAST(length(bin(cnt)) AS INTEGER) AS bucket,
             CAST(COUNT(*) AS BIGINT) AS n_keys,
             CAST(SUM(cnt) AS BIGINT) AS n_rows,
             CAST(MAX(cnt) AS BIGINT) AS max_key_rows
      FROM per_key GROUP BY 1
    ), tot AS (
      SELECT CAST(SUM(cnt) AS BIGINT) AS total_rows,
             CAST(MAX(cnt) AS BIGINT) AS top1
      FROM per_key
    )
    SELECT b.bucket, b.n_keys, b.n_rows, b.max_key_rows,
           round(CAST(b.n_rows AS DOUBLE) / CAST(t.total_rows AS DOUBLE), 6)
             AS pct_rows,
           round(CAST(t.top1 AS DOUBLE) / CAST(t.total_rows AS DOUBLE), 6)
             AS top1_share
    FROM bucketed b CROSS JOIN tot t
    """,
)
def pipeline_join_skew_report(spark, sf):
    # Join-key skew diagnosis — the report you run BEFORE deciding
    # whether a key needs salting (operators/skew.py) or AQE skew-join:
    # per-key row counts folded into power-of-two buckets (bucket =
    # bit-length of the count, so bucket b holds keys with 2^(b-1)..
    # 2^b-1 rows), with each bucket's key count, row mass, share of
    # total rows, and the single hottest key's share. No global sort and
    # no corpus-sized state: corpus -> per-key counts (one hash agg,
    # partial-aggregatable) -> ~64 bucket rows -> broadcast one-row
    # total. The bit-length bucketing is integer arithmetic on both
    # engines — no floor(log2(x)) float-boundary risk at exact powers.
    e = t(spark, sf, "events")
    per_key = e.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    bucketed = per_key.groupBy(
        F.length(F.bin("cnt")).cast("int").alias("bucket")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum("cnt").cast("long").alias("n_rows"),
        F.max("cnt").cast("long").alias("max_key_rows"),
    )
    tot = per_key.agg(
        F.sum("cnt").cast("long").alias("total_rows"),
        F.max("cnt").cast("long").alias("top1"),
    )
    return bucketed.crossJoin(F.broadcast(tot)).select(
        "bucket",
        "n_keys",
        "n_rows",
        "max_key_rows",
        F.round(
            F.col("n_rows").cast("double") / F.col("total_rows").cast("double"), 6
        ).alias("pct_rows"),
        F.round(
            F.col("top1").cast("double") / F.col("total_rows").cast("double"), 6
        ).alias("top1_share"),
    )


_POISSON_TARGET = 100  # expected sample size (docs)


@register(
    "sample_poisson_inclusion",
    oracle=f"""
    WITH tot AS (
      SELECT CAST(SUM(n_chars) AS BIGINT) AS total_chars FROM documents
    ), probs AS (
      SELECT d.doc_id, d.n_chars,
             least(1.0, {_POISSON_TARGET}.0 * CAST(d.n_chars AS DOUBLE)
                        / CAST(t.total_chars AS DOUBLE)) AS pi
      FROM documents d CROSS JOIN tot t
    )
    SELECT doc_id, n_chars, round(pi, 6) AS pi,
           CAST({_md5_mod_sql("CAST(doc_id AS VARCHAR)", 1_000_000)} AS DOUBLE)
             / 1000000.0 < pi AS sampled,
           round(1.0 / pi, 6) AS ht_weight
    FROM probs
    """,
)
def sample_poisson_inclusion(spark, sf):
    # Poisson PPS sampling: each document enters independently with
    # inclusion probability pi proportional to its size (capped at 1),
    # calibrated so E[sample size] = the target — with the 1/pi
    # Horvitz-Thompson weight that keeps downstream token statistics
    # unbiased. The fixed-size cousins are Madow systematic PPS
    # (sample_weighted_systematic, shared prefix-sum grid) — Poisson
    # trades exact size for full independence and ZERO coordination:
    # no sort, no prefix pass, just one broadcast total and a per-row
    # deterministic md5 uniform, so it composes with any upstream
    # operator and any partitioning at 100 TB. Every doc is returned
    # with its flag so the oracle checks the whole inclusion vector,
    # not one realization's survivors.
    d = t(spark, sf, "documents")
    tot = d.agg(F.sum("n_chars").cast("long").alias("total_chars"))
    probs = d.crossJoin(F.broadcast(tot)).select(
        "doc_id",
        "n_chars",
        F.least(
            F.lit(1.0),
            F.lit(float(_POISSON_TARGET))
            * F.col("n_chars").cast("double")
            / F.col("total_chars").cast("double"),
        ).alias("pi"),
    )
    u = (
        F.expr(_md5_mod("cast(doc_id as string)", 1_000_000)).cast("double")
        / F.lit(1_000_000.0)
    )
    return probs.select(
        "doc_id",
        "n_chars",
        F.round("pi", 6).alias("pi"),
        (u < F.col("pi")).alias("sampled"),
        F.round(F.lit(1.0) / F.col("pi"), 6).alias("ht_weight"),
    )


@register(
    "sample_coordinated_join",
    oracle=f"""
    WITH so AS (
      SELECT o_orderkey, o_orderpriority FROM orders
      WHERE {md5_mod_sql("CAST(o_orderkey AS VARCHAR)", 16)} = 0
    ), sl AS (
      SELECT l_orderkey, l_extendedprice, l_discount FROM lineitem
      WHERE {md5_mod_sql("CAST(l_orderkey AS VARCHAR)", 16)} = 0
    )
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           {dsum_expr('l_extendedprice * (1 - l_discount)')} AS revenue_sample,
           round({dsum_expr('l_extendedprice * (1 - l_discount)')} * 16.0, 6) AS revenue_ht
    FROM so JOIN sl ON o_orderkey = l_orderkey
    GROUP BY o_orderpriority
    """,
)
def sample_coordinated_join(spark, sf):
    # COORDINATED sampling (join synopses, Acharya et al. 1999): sample
    # both fact tables by the SAME deterministic hash of the JOIN KEY, so
    # the join of the samples IS a sample of the join — independent
    # Bernoulli samples of two tables would keep only p^2 of the join's
    # rows and bias every per-group estimate. Here orders and lineitem
    # each keep the 1/16 of keys where md5(orderkey) % 16 = 0: every
    # lineitem of a sampled order survives, the joined sample is an exact
    # 1/16-of-keys cluster sample, and Horvitz-Thompson scale-up is a
    # single multiply. At 100 TB this is how you run join-heavy
    # exploration without touching the full fact tables; the hash
    # predicate pushes to the parquet scan on both sides, and because the
    # sample is a pure key predicate it composes with bucketing (a
    # bucketed-by-orderkey layout joins the samples with no shuffle at
    # all). md5 (not Spark hash()) keeps the sample reproducible in any
    # engine.
    o = t(spark, sf, "orders").filter(
        F.expr(f"{md5_mod('cast(o_orderkey as string)', 16)} = 0")
    ).select("o_orderkey", "o_orderpriority")
    li = t(spark, sf, "lineitem").filter(
        F.expr(f"{md5_mod('cast(l_orderkey as string)', 16)} = 0")
    ).select("l_orderkey", "l_extendedprice", "l_discount")
    j = o.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
    rev = dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return j.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_lines"),
        rev.alias("revenue_sample"),
        F.round(rev * F.lit(16.0), 6).alias("revenue_ht"),
    )


@register(
    "pipeline_outlier_winsorize",
    oracle=f"""
    WITH b AS (
      SELECT l_returnflag,
             quantile_cont(l_extendedprice, 0.05) AS lo,
             quantile_cont(l_extendedprice, 0.95) AS hi
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN l_extendedprice < lo THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_lo,
           CAST(SUM(CASE WHEN l_extendedprice > hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_hi,
           round({dsum_expr('least(greatest(l_extendedprice, lo), hi)')}
                 / CAST(COUNT(*) AS DOUBLE), 6) AS winsor_mean
    FROM lineitem JOIN b USING (l_returnflag)
    GROUP BY l_returnflag
    """,
)
def pipeline_outlier_winsorize(spark, sf):
    # Per-group winsorization (clip to [p05, p95]) — the robust-scaling
    # prefilter for numeric feature columns: outliers are clamped to the
    # group's quantile bounds rather than dropped, preserving row counts
    # for downstream joins. Two passes: (1) a per-group quantile agg
    # whose output is |groups|-sized (broadcast at any corpus scale),
    # (2) one scan that clips against the broadcast bounds and
    # re-aggregates — no row ever shuffles on a value, only the tiny
    # bounds table moves. Exact percentile() keeps the oracle
    # bit-identical (same linear interpolation as quantile_cont); at
    # 100 TB swap stage (1) to approx_percentile/KLL (the sketch path,
    # agg_kll_quantiles) — stage (2) is unchanged, which is the point of
    # the broadcast-bounds shape.
    li = t(spark, sf, "lineitem").select("l_returnflag", "l_extendedprice")
    b = li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_extendedprice, 0.05)").alias("lo"),
        F.expr("percentile(l_extendedprice, 0.95)").alias("hi"),
    )
    j = li.join(F.broadcast(b), "l_returnflag")
    clipped = F.least(F.greatest(F.col("l_extendedprice"), F.col("lo")), F.col("hi"))
    return j.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when(F.col("l_extendedprice") < F.col("lo"), 1).otherwise(0)
        ).alias("n_clipped_lo"),
        F.sum(
            F.when(F.col("l_extendedprice") > F.col("hi"), 1).otherwise(0)
        ).alias("n_clipped_hi"),
        F.round(dsum(clipped) / F.count(F.lit(1)).cast("double"), 6).alias(
            "winsor_mean"
        ),
    )


@register(
    "pipeline_target_encoding",
    oracle=f"""
    WITH g AS (
      SELECT o_orderpriority,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS s,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM orders GROUP BY o_orderpriority
    ), p AS (
      SELECT {davg_expr('o_totalprice')} AS prior FROM orders
    )
    SELECT o_orderkey, o_orderpriority,
           round((s - o_totalprice + 10.0 * prior)
                 / (CAST(n AS DOUBLE) - 1.0 + 10.0), 6) AS te
    FROM orders JOIN g USING (o_orderpriority) CROSS JOIN p
    """,
)
def pipeline_target_encoding(spark, sf):
    # Leave-one-out target encoding with additive smoothing (the
    # category -> number featurizer for high-cardinality categoricals):
    # each row's encoding is the mean target of its OWN category
    # excluding itself, shrunk toward the global prior by m = 10
    # pseudo-observations — LOO kills the self-leakage that makes plain
    # mean encoding overfit, and the shrinkage keeps rare categories
    # from memorizing their few labels. Plan: one per-category agg
    # (|categories| rows — broadcast), one 1-row prior agg, then a pure
    # per-row expression over a single scan; nothing corpus-sized ever
    # shuffles, which is exactly how a feature pipeline encodes at
    # 100 TB. Decimal-routed sums make (s - x)/(n - 1 + m) bit-identical
    # across engines.
    o = t(spark, sf, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    g = o.groupBy("o_orderpriority").agg(
        dsum("o_totalprice").alias("s"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    p = o.agg(davg("o_totalprice").alias("prior"))
    return (
        o.join(F.broadcast(g), "o_orderpriority")
        .crossJoin(F.broadcast(p))
        .select(
            "o_orderkey",
            "o_orderpriority",
            F.round(
                (F.col("s") - F.col("o_totalprice") + F.lit(10.0) * F.col("prior"))
                / (F.col("n").cast("double") - F.lit(1.0) + F.lit(10.0)),
                6,
            ).alias("te"),
        )
    )


@register(
    "pipeline_dataset_fingerprint",
    oracle=f"""
    WITH h AS (
      SELECT {md5_mod_sql(
          "concat_ws('|', o_orderkey, o_custkey, o_orderstatus, "
          "CAST(floor(o_totalprice * 100) AS BIGINT))", 4294967296)} AS rh
      FROM orders
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(CAST(SUM(CAST(rh AS DECIMAL(38,0))) AS DECIMAL(38,0))
                % 9223372036854775783 AS BIGINT) AS checksum
    FROM h
    """,
)
def pipeline_dataset_fingerprint(spark, sf):
    # Order-invariant dataset fingerprint: per-row portable hash (md5 of
    # the canonicalized row string), SUMMED — addition commutes, so two
    # copies of a table fingerprint identically regardless of
    # partitioning, file order, or engine, which is how you verify a
    # migration / replication / snapshot at 100 TB WITHOUT sorting or
    # shuffling anything: one scan, one map-side-partial agg, one row
    # out. (A concat- or xor-of-sorted-hashes scheme would need a global
    # sort; xor alone misses duplicate-row pairs — a decimal sum mod a
    # 63-bit prime keeps every row's contribution and stays exact at any
    # row count.) Doubles enter the row string as floor(x*100) integers
    # — float formatting differs across engines, integer strings don't.
    o = t(spark, sf, "orders")
    rh = F.expr(
        md5_mod(
            "concat_ws('|', o_orderkey, o_custkey, o_orderstatus, "
            "cast(floor(o_totalprice * 100) as bigint))",
            4294967296,
        )
    )
    return o.select(rh.alias("rh")).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        (F.sum(F.col("rh").cast("decimal(38,0)")).cast("decimal(38,0)")
         % F.lit(9223372036854775783).cast("decimal(38,0)"))
        .cast("long")
        .alias("checksum"),
    )


def _ensemble_oracle() -> str:
    # compose the three REGISTERED quality-signal oracles (same pattern
    # as _nb_oracle reusing the perplexity gate): the ensemble's inputs
    # can never drift from the queries they are checked by
    from dataingestionplayground_spark.queries import REGISTRY as _R

    return f"""
    WITH nb AS MATERIALIZED (
      SELECT doc_id, log_odds FROM ({_R['text_nb_quality_classifier'].oracle})
    ), g AS MATERIALIZED (
      SELECT doc_id,
             CAST((n_words BETWEEN 10 AND 100000) AS INTEGER)
             + CAST((mean_word_len BETWEEN 3.0 AND 10.0) AS INTEGER)
             + CAST(alpha_word_ratio >= 0.8 AS INTEGER)
             + CAST(symbol_to_word <= 0.1 AS INTEGER)
             + CAST(bullet_line_frac <= 0.9 AS INTEGER)
             + CAST(ellipsis_line_frac <= 0.3 AS INTEGER) AS n_rules
      FROM ({_R['text_gopher_quality_rules'].oracle})
    ), p AS MATERIALIZED (
      SELECT doc_id, ppl FROM ({_R['text_unigram_perplexity'].oracle})
    ), nbs AS MATERIALIZED (
      SELECT min(log_odds) AS lo_min, max(log_odds) AS lo_max FROM nb
    ), ps AS MATERIALIZED (
      SELECT min(ppl) AS p_min, max(ppl) AS p_max FROM p
    ), comp AS MATERIALIZED (
      SELECT nb.doc_id,
             round((nb.log_odds - lo_min) / nullif(lo_max - lo_min, 0.0), 6)
               AS nb_score,
             round((p_max - p.ppl) / nullif(p_max - p_min, 0.0), 6) AS ppl_score,
             round(CAST(g.n_rules AS DOUBLE) / 6.0, 6) AS gopher_score
      FROM nb JOIN g USING (doc_id) JOIN p USING (doc_id)
      CROSS JOIN nbs CROSS JOIN ps
    )
    SELECT doc_id, nb_score, ppl_score, gopher_score,
           round(0.4 * nb_score + 0.3 * ppl_score + 0.3 * gopher_score, 6)
             AS quality,
           round(0.4 * nb_score + 0.3 * ppl_score + 0.3 * gopher_score, 6) >= 0.5
             AS keep
    FROM comp
    """


@register("text_quality_ensemble", oracle=_ensemble_oracle())
def text_quality_ensemble(spark, sf):
    # Document-quality ensemble (r11 verdict item 6): a calibrated
    # combination of the three oracle-checked quality signals — the
    # trained NB classifier's log-odds, the Gopher rule panel, and the
    # corpus unigram perplexity — into one [0,1] quality score, the
    # "multiple weak judges beat one" setup production curation uses
    # (e.g. combining fastText quality, heuristic rules, and LM
    # perplexity before sampling). Calibration is corpus-relative:
    # log_odds and ppl min-max-normalize against one-row broadcast
    # extrema (settled doubles; ONE division then round — the repo's
    # ratio rule), the Gopher panel contributes its pass fraction over
    # the six rules (recomputed from the 6dp-rounded metrics, so both
    # engines count identical booleans); weights 0.4/0.3/0.3 are
    # literals. Plan shape at 100 TB: the three signal frames are
    # per-doc aggregates the member queries already produce with
    # map-side partials; the ensemble adds two broadcast one-row
    # extrema joins and two doc-keyed joins (AQE-co-partitioned on the
    # same key). The perplexity frame is materialized ONCE and feeds
    # both the ppl signal and the NB trainer's labels (nb_weight_table
    # lab= passthrough) — the LM scan never runs twice.
    from dataingestionplayground_spark.queries import REGISTRY as _R

    ppl_frame = (
        _R["text_unigram_perplexity"]
        .fn(spark, sf)
        .select("doc_id", "ppl", "keep")
        .localCheckpoint(eager=True)
    )
    wb, toks = nb_weight_table(
        spark, sf, lab=ppl_frame.select("doc_id", F.col("keep").alias("pos"))
    )
    nb = (
        toks.join(F.broadcast(wb), "bucket")
        .groupBy("doc_id")
        .agg(
            (F.sum(F.col("c") * F.col("w")) + F.min("prior"))
            .cast("double")
            .alias("log_odds")
        )
    )
    from dataingestionplayground_spark.queries.textq import gopher_n_rules_expr

    g = _R["text_gopher_quality_rules"].fn(spark, sf).select(
        "doc_id", gopher_n_rules_expr().alias("n_rules")
    )
    p = ppl_frame.select("doc_id", "ppl")
    nbs = nb.agg(
        F.min("log_odds").alias("lo_min"), F.max("log_odds").alias("lo_max")
    )
    ps = p.agg(F.min("ppl").alias("p_min"), F.max("ppl").alias("p_max"))
    comp = (
        nb.join(g, "doc_id")
        .join(p, "doc_id")
        .crossJoin(F.broadcast(nbs))
        .crossJoin(F.broadcast(ps))
        .select(
            "doc_id",
            F.round(
                (F.col("log_odds") - F.col("lo_min"))
                / F.nullif(F.col("lo_max") - F.col("lo_min"), F.lit(0.0)),
                6,
            ).alias("nb_score"),
            F.round(
                (F.col("p_max") - F.col("ppl"))
                / F.nullif(F.col("p_max") - F.col("p_min"), F.lit(0.0)),
                6,
            ).alias("ppl_score"),
            F.round(F.col("n_rules").cast("double") / F.lit(6.0), 6).alias(
                "gopher_score"
            ),
        )
    )
    quality = F.round(
        F.lit(0.4) * F.col("nb_score")
        + F.lit(0.3) * F.col("ppl_score")
        + F.lit(0.3) * F.col("gopher_score"),
        6,
    )
    return comp.select(
        "doc_id",
        "nb_score",
        "ppl_score",
        "gopher_score",
        quality.alias("quality"),
        (quality >= F.lit(0.5)).alias("keep"),
    )


def _curriculum_oracle() -> str:
    # compose the REGISTERED ensemble oracle as the quality source (the
    # usual composition discipline); thresholds are EXACT integers per
    # (epoch, decile) so the md5-permille inclusion compares int to int
    from dataingestionplayground_spark.queries import REGISTRY as _R

    thr = (
        "CASE WHEN epoch = 1 THEN 1000 "
        "WHEN epoch = 2 THEN decile * 100 "
        "ELSE decile * decile * 10 END"
    )
    return f"""
    WITH q AS MATERIALIZED (
      SELECT doc_id, quality FROM ({_R['text_quality_ensemble'].oracle})
      WHERE quality IS NOT NULL
    ), bs AS MATERIALIZED (
      -- boundaries rounded to 6dp BEFORE the comparison (ADVICE r12):
      -- Spark percentile vs DuckDB quantile_cont may diverge by 1 ulp
      -- in the interpolation, which would flip a doc's decile — the
      -- repo's round-before-compare rule applies to every compared
      -- float, interpolated quantiles included
      SELECT list_transform(quantile_cont(quality,
        [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]),
        x -> round(x, 6)) AS b
      FROM q
    ), dec AS MATERIALIZED (
      SELECT doc_id,
             CAST(1 + len(list_filter(b, x -> quality > x)) AS INTEGER)
               AS decile
      FROM q CROSS JOIN bs
    ), sel AS MATERIALIZED (
      SELECT e.epoch, d.decile, d.doc_id,
             ({md5_mod_sql("CAST(doc_id AS VARCHAR) || ':' || CAST(epoch AS VARCHAR)", 1000)})
               < ({thr}) AS keep
      FROM dec d CROSS JOIN (SELECT unnest([1, 2, 3]) AS epoch) e
    )
    SELECT CAST(epoch AS INTEGER) AS epoch, decile,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(*) FILTER (keep) AS BIGINT) AS n_selected,
           round(CAST(COUNT(*) FILTER (keep) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS selected_frac
    FROM sel GROUP BY epoch, decile
    """


@register("sample_quality_curriculum", oracle=_curriculum_oracle())
def sample_quality_curriculum(spark, sf):
    # Quality-annealed curriculum schedule: documents land in ensemble-
    # quality deciles (exact interpolated quantile boundaries — ONE agg,
    # broadcast back), and each of 3 training epochs applies a
    # progressively sharper inclusion temperature — epoch 1 keeps
    # everything (uniform warm-up), epoch 2 keeps decile/10 of each
    # band, epoch 3 (decile/10)^2 — the standard anneal-toward-quality
    # schedule (high-quality data concentrated late in training).
    # Inclusion is the portable md5-permille coin keyed on (doc, epoch),
    # so the materialized schedule is deterministic and resumable; the
    # per-(epoch, decile) thresholds are EXACT INTEGERS (1000, d*100,
    # d*d*10) — no float in the keep decision at all. Plan shape: the
    # ensemble's own passes + one quantile agg + a 3-row epoch
    # crossjoin + ONE 30-key hash agg; nothing new shuffles the corpus.
    from dataingestionplayground_spark.queries import REGISTRY as _R

    q = (
        _R["text_quality_ensemble"]
        .fn(spark, sf)
        .select("doc_id", "quality")
        .filter(F.col("quality").isNotNull())
    )
    # boundaries rounded to 6dp on BOTH sides before the strict-> decile
    # comparison (ADVICE r12: a 1-ulp Spark/DuckDB interpolation
    # divergence must not flip a doc's decile)
    bs = q.agg(
        F.expr(
            "transform(percentile(quality, array(0.1, 0.2, 0.3, 0.4, 0.5,"
            " 0.6, 0.7, 0.8, 0.9)), x -> round(x, 6))"
        ).alias("b")
    )
    dec = q.crossJoin(F.broadcast(bs)).select(
        "doc_id",
        (
            F.lit(1) + F.expr("size(filter(b, x -> quality > x))")
        ).cast("int").alias("decile"),
    )
    epochs = spark.range(1, 4).select(F.col("id").cast("int").alias("epoch"))
    thr = F.expr(
        "CASE WHEN epoch = 1 THEN 1000 "
        "WHEN epoch = 2 THEN decile * 100 "
        "ELSE decile * decile * 10 END"
    )
    coin = F.expr(
        md5_mod(
            "concat(cast(doc_id as string), ':', cast(epoch as string))", 1000
        )
    )
    sel = dec.crossJoin(F.broadcast(epochs)).select(
        "epoch", "decile", (coin < thr).alias("keep")
    )
    return sel.groupBy("epoch", "decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.count_if(F.col("keep")).cast("long").alias("n_selected"),
        F.round(
            F.count_if(F.col("keep")).cast("double")
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("selected_frac"),
    )


def _curate_funnel_oracle() -> str:
    # the full CLI `curate` pipeline (cli.py cmd_curate) as one SQL
    # chain, composing the member queries' own oracle fragments: exact
    # dedup (fingerprint), cross-doc line boilerplate (the
    # dedup_line_boilerplate CTEs), the calibrated quality gate
    # (_QUALITY_SQL at the 6dp-rounded median), and trigram
    # decontamination (the dedup_decontaminate eval slice)
    toks = TX.tokens_sql("text")
    return f"""
    WITH train AS MATERIALIZED (
      SELECT doc_id, text FROM documents WHERE doc_id % 25 <> 0
    ), keepers AS MATERIALIZED (
      SELECT min(doc_id) AS doc_id FROM (
        SELECT doc_id, {TX.fingerprint_sql('text')} AS fp FROM train
      ) GROUP BY fp
    ), dd AS MATERIALIZED (
      SELECT t.doc_id, t.text FROM train t JOIN keepers k USING (doc_id)
    ), base AS MATERIALIZED (
      SELECT doc_id, {toks} AS tk FROM dd WHERE len({toks}) > 0
    ), segs AS (
      SELECT doc_id, i AS pos,
             array_to_string(tk[(i-1)*{_SEG}+1:i*{_SEG}], ' ') AS line
      FROM base, unnest(generate_series(1, CAST(ceil(len(tk)/{_SEG}.0) AS INTEGER))) AS u(i)
    ), nz AS MATERIALIZED (
      SELECT doc_id, pos, line FROM segs WHERE trim(line) <> ''
    ), fdf AS MATERIALIZED (
      SELECT md5(trim(line)) AS fp, count(distinct doc_id) AS line_df
      FROM nz GROUP BY 1
    ), rebuilt AS MATERIALIZED (
      SELECT s.doc_id,
             CAST(coalesce(SUM(CASE WHEN f.line_df < 2 THEN 1 END), 0) AS BIGINT)
               AS n_lines_kept,
             coalesce(string_agg(CASE WHEN f.line_df < 2 THEN s.line END,
                                 chr(10) ORDER BY s.pos), '') AS clean_text
      FROM nz s JOIN fdf f ON md5(trim(s.line)) = f.fp
      GROUP BY s.doc_id
    ), cleaned AS MATERIALIZED (
      SELECT doc_id, clean_text AS text FROM rebuilt WHERE n_lines_kept > 0
    ), feats AS MATERIALIZED (
      SELECT doc_id, CAST(length(text) AS INTEGER) AS n_chars,
             CAST(len({toks}) AS INTEGER) AS n_toks,
             {TX.stopword_hits_sql('text', 'en')} AS n_stop,
             CAST(len(replace(text, ' ', '')) AS INTEGER) AS len_sum
      FROM cleaned
    ), scored AS MATERIALIZED (
      SELECT doc_id, round({_QUALITY_SQL}, 6) AS quality
      FROM feats WHERE n_toks > 0
    ), thr AS MATERIALIZED (
      SELECT round(quantile_cont(quality, 0.5), 6) AS q FROM scored
    ), qkept AS MATERIALIZED (
      SELECT doc_id FROM scored CROSS JOIN thr WHERE quality >= q
    ), qdocs AS MATERIALIZED (
      SELECT c.doc_id, c.text FROM cleaned c JOIN qkept USING (doc_id)
    ), ev AS MATERIALIZED (
      SELECT DISTINCT unnest(list_distinct({TX.word_shingles_sql('text', 3)})) AS g
      FROM documents WHERE doc_id % 25 = 0
    ), contam AS MATERIALIZED (
      SELECT DISTINCT doc_id FROM (
        SELECT doc_id, unnest(list_distinct({TX.word_shingles_sql('text', 3)})) AS g
        FROM qdocs
      ) JOIN ev USING (g)
    )
    SELECT (SELECT COUNT(*) FROM train)   AS n_input,
           (SELECT COUNT(*) FROM dd)      AS n_exact_kept,
           (SELECT COUNT(*) FROM cleaned) AS n_boiler_kept,
           (SELECT COUNT(*) FROM qdocs)   AS n_quality_kept,
           (SELECT COUNT(*) FROM qdocs
            WHERE doc_id NOT IN (SELECT doc_id FROM contam)) AS n_final
    """


@register("pipeline_curate_funnel", oracle=_curate_funnel_oracle())
def pipeline_curate_funnel(spark, sf):
    # The end-to-end `curate` CLI funnel as ONE oracle-checked row (r12
    # verdict item 7): exact dedup -> cross-doc line boilerplate ->
    # calibrated quality gate (median) -> eval-set decontamination, each
    # stage the SAME operator its standalone registry query verifies
    # (exact_dedup, line_dedup, quality_scores, the decontam gram
    # screen), over the dedup_decontaminate train/eval slices. Output:
    # the five funnel counts a `curate` run prints — the composite
    # shape that catches cross-operator regressions no single-query
    # bench row sees. Plan notes: every stage's frame feeds two
    # consumers (its own count + the next stage), so stages materialize
    # once via localCheckpoint (the nb_weight_table rule); the funnel's
    # shuffles are exactly the member queries' own (fingerprint agg,
    # line-df agg + rebuild, one percentile agg, gram join) — nothing
    # new at scale.
    from concurrent.futures import ThreadPoolExecutor

    from dataingestionplayground_spark.operators.dedup import exact_dedup, line_dedup
    from dataingestionplayground_spark.queries.textq import quality_scores

    d = t(spark, sf, "documents")

    def grams(df):
        return df.select("doc_id", TX.tokens("text").alias("__tk")).select(
            "doc_id",
            F.explode(F.array_distinct(TX.shingles_from_tokens("__tk", 3))).alias("g"),
        )

    # r17 (r16 VERDICT item 4): the eval gram set is the ONE stage of
    # the funnel independent of the train chain — materialize it on a
    # driver thread WHILE the chain's serial checkpoints run (the
    # release-gate ThreadPool discipline) instead of computing it inside
    # the final composition job. Values are unaffected: ev is a pure
    # function of the eval slice.
    ev_pool = ThreadPoolExecutor(max_workers=1)
    f_ev = ev_pool.submit(
        lambda: grams(d.filter(F.col("doc_id") % 25 == 0))
        .select("g")
        .distinct()
        .localCheckpoint(eager=True)
    )
    train = d.filter(F.col("doc_id") % 25 != 0).select("doc_id", "text")
    keep = exact_dedup(train, "doc_id", "text").select(
        F.col("keep_id").alias("doc_id")
    )
    deduped = train.join(keep, "doc_id", "left_semi").localCheckpoint(eager=True)
    lined = deduped.withColumn("tk", TX.tokens("text")).filter(F.size("tk") > 0)
    seg = lambda i: F.array_join(F.slice(F.col("tk"), (i - 1) * _SEG + 1, _SEG), " ")
    lined = lined.select(
        "doc_id",
        F.array_join(
            F.transform(
                F.sequence(F.lit(1), F.ceil(F.size("tk") / float(_SEG)).cast("int")),
                seg,
            ),
            "\n",
        ).alias("text"),
    )
    cleaned = (
        line_dedup(lined, "doc_id", "text", min_df=2)
        .filter(F.col("n_lines_kept") > 0)
        .select("doc_id", F.col("clean_text").alias("text"))
        .localCheckpoint(eager=True)
    )
    scored = quality_scores(
        cleaned.withColumn("n_chars", F.length("text"))
    ).select("doc_id", F.round("quality", 6).alias("quality"))
    thr = scored.agg(
        F.round(F.expr("percentile(quality, 0.5)"), 6).alias("q")
    )
    kept_ids = (
        scored.crossJoin(F.broadcast(thr))
        .filter(F.col("quality") >= F.col("q"))
        .select("doc_id")
    )
    qdocs = cleaned.join(kept_ids, "doc_id", "left_semi").localCheckpoint(
        eager=True
    )

    ev = f_ev.result()
    ev_pool.shutdown()
    contam = grams(qdocs).join(F.broadcast(ev), "g").select("doc_id").distinct()
    final = qdocs.join(contam, "doc_id", "left_anti")

    def n(df, name):
        return df.agg(F.count(F.lit(1)).cast("long").alias(name))

    return (
        n(train, "n_input")
        .crossJoin(F.broadcast(n(deduped, "n_exact_kept")))
        .crossJoin(F.broadcast(n(cleaned, "n_boiler_kept")))
        .crossJoin(F.broadcast(n(qdocs, "n_quality_kept")))
        .crossJoin(F.broadcast(n(final, "n_final")))
    )


@register(
    "text_contamination_report",
    oracle=f"""
    WITH ev AS MATERIALIZED (
      SELECT doc_id, unnest(list_distinct({TX.word_shingles_sql('text', 3)})) AS g
      FROM documents WHERE doc_id % 25 = 0
    ), tr AS MATERIALIZED (
      SELECT DISTINCT doc_id AS tdoc,
             unnest(list_distinct({TX.word_shingles_sql('text', 3)})) AS g
      FROM documents WHERE doc_id % 25 <> 0
    ), trg AS MATERIALIZED (
      SELECT DISTINCT g FROM tr
    ), sizes AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams FROM ev GROUP BY doc_id
    ), hits AS (
      SELECT e.doc_id, CAST(COUNT(*) AS BIGINT) AS n_hit
      FROM ev e JOIN trg USING (g) GROUP BY e.doc_id
    ), docs AS (
      SELECT e.doc_id, CAST(COUNT(DISTINCT t.tdoc) AS BIGINT) AS n_train_docs
      FROM ev e JOIN tr t USING (g) GROUP BY e.doc_id
    )
    SELECT s.doc_id, s.n_grams,
           coalesce(h.n_hit, 0) AS n_hit,
           round(CAST(coalesce(h.n_hit, 0) AS DOUBLE)
                 / CAST(s.n_grams AS DOUBLE), 6) AS contamination_rate,
           coalesce(d.n_train_docs, 0) AS n_train_docs
    FROM sizes s
    LEFT JOIN hits h USING (doc_id)
    LEFT JOIN docs d USING (doc_id)
    """,
)
def text_contamination_report(spark, sf):
    return _contamination_report_frame(t(spark, sf, "documents"))


def _gram_frame(df, idc):
    """Distinct-trigram rows (idc, g) for a document slice — the
    single-source gram builder behind the contamination report, hoisted
    (r15 verdict item 6) so the streaming ship-readiness maintainer's
    stream-static gram probe provably uses the identical tokenization
    and shingling as the batch gate."""
    return df.select(
        F.col("doc_id").alias(idc), TX.tokens("text").alias("__tk")
    ).select(
        idc,
        F.explode(F.array_distinct(TX.shingles_from_tokens("__tk", 3))).alias(
            "g"
        ),
    )


def _contamination_report_frame(d):
    # The EVAL-side view of decontamination: dedup_decontaminate flags
    # which TRAIN docs to drop; this reports, per held-out eval
    # document, how compromised it already is — distinct-trigram count,
    # how many of those grams exist anywhere in the train split, the
    # contamination rate, and how many distinct train documents share
    # at least one gram. This is the table a benchmark owner reads to
    # decide whether an eval set is still trustworthy (GPT-3-style
    # contamination studies report exactly these columns). Plan shape:
    # the eval gram table is benchmark-sized and BROADCASTS to both
    # probes; the train side is one distinct-gram pass (reused for the
    # gram-set and the per-doc join); aggregations key on eval doc_id.
    ev = _gram_frame(d.filter(F.col("doc_id") % 25 == 0), "doc_id").localCheckpoint(
        eager=True
    )
    tr = _gram_frame(d.filter(F.col("doc_id") % 25 != 0), "tdoc").localCheckpoint(
        eager=True
    )
    sizes = ev.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("n_grams"))
    hits = (
        tr.select("g")
        .distinct()
        .join(F.broadcast(ev), "g")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hit"))
    )
    docs = (
        tr.join(F.broadcast(ev), "g")
        .groupBy("doc_id")
        .agg(F.count_distinct("tdoc").cast("long").alias("n_train_docs"))
    )
    nh = F.coalesce("n_hit", F.lit(0).cast("long"))
    return (
        sizes.join(hits, "doc_id", "left")
        .join(docs, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            nh.alias("n_hit"),
            F.round(
                nh.cast("double") / F.col("n_grams").cast("double"), 6
            ).alias("contamination_rate"),
            F.coalesce("n_train_docs", F.lit(0).cast("long")).alias(
                "n_train_docs"
            ),
        )
    )


@register(
    "pipeline_data_card",
    oracle=f"""
    WITH raw AS (
      SELECT source, lang, n_chars, {TX.fingerprint_sql('text')} AS f,
             CAST(len({TX.tokens_sql('text')}) AS BIGINT) AS n_toks,
             {TX.stopword_hits_sql('text', 'en')} AS n_stop,
             CAST(len(replace(text, ' ', '')) AS INTEGER) AS len_sum
      FROM documents
    ), feats AS (
      SELECT source, lang, f, n_toks,
             CASE WHEN n_toks > 0 THEN {_QUALITY_SQL} END AS quality
      FROM raw
    ), per_src AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
             CAST(SUM(n_toks) AS BIGINT) AS total_tokens,
             round(CAST(COUNT(*) - COUNT(DISTINCT f) AS DOUBLE)
                   / CAST(COUNT(*) AS DOUBLE), 6) AS dup_rate,
             round({davg_expr('quality')}, 6) AS avg_quality
      FROM feats GROUP BY source
    ), tot AS (
      SELECT CAST(SUM(n_toks) AS BIGINT) AS corpus_tokens FROM feats
    ), lc AS (
      SELECT source, lang, COUNT(*) AS c FROM feats GROUP BY source, lang
    ), top AS (
      SELECT source, lang AS top_lang FROM (
        SELECT source, lang,
               row_number() OVER (PARTITION BY source
                                  ORDER BY c DESC, lang ASC) AS rk
        FROM lc) WHERE rk = 1
    )
    SELECT p.source, p.n_docs, p.n_langs, t.top_lang, p.total_tokens,
           round(CAST(p.total_tokens AS DOUBLE)
                 / CAST(x.corpus_tokens AS DOUBLE), 6) AS token_share,
           p.dup_rate, p.avg_quality
    FROM per_src p JOIN top t USING (source) CROSS JOIN tot x
    """,
)
def pipeline_data_card(spark, sf):
    # The dataset DATASHEET (Gebru et al. 2021's "datasheets for
    # datasets", the per-source summary block): one row per source with
    # doc count, language spread + majority language, token total and
    # corpus share, exact-dup rate, and mean quality score — the table
    # a curation run publishes next to its exported shards, composing
    # the registered signal definitions (fingerprint, token count,
    # _QUALITY_SQL) rather than re-inventing them. Scale shape: ONE
    # corpus scan computes all per-doc signals in-row; then a
    # source-keyed agg (count-distinct planned as the two-phase expand),
    # a |src x lang|-sized count frame with a PARTITIONED row_number for
    # the majority language, and a single-row token total broadcast
    # back — the corpus shuffles once on the natural dashboard key.
    d = t(spark, sf, "documents")
    raw = d.select(
        "source",
        "lang",
        "n_chars",
        TX.fingerprint("text").alias("f"),
        TX.token_count("text").cast("long").alias("n_toks"),
        TX.stopword_hits("text", "en").alias("n_stop"),
        F.length(F.expr("replace(text, ' ', '')")).cast("int").alias("len_sum"),
    )
    feats = raw.select(
        "source",
        "lang",
        "f",
        "n_toks",
        F.when(F.col("n_toks") > 0, F.expr(_QUALITY_SQL)).alias("quality"),
    )
    n = F.count(F.lit(1))
    per_src = feats.groupBy("source").agg(
        n.cast("long").alias("n_docs"),
        F.count_distinct("lang").cast("long").alias("n_langs"),
        F.sum("n_toks").cast("long").alias("total_tokens"),
        F.round(
            (n - F.count_distinct("f")).cast("double") / n.cast("double"), 6
        ).alias("dup_rate"),
        F.round(davg("quality"), 6).alias("avg_quality"),
    )
    tot = feats.agg(F.sum("n_toks").cast("long").alias("corpus_tokens"))
    lc = feats.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("c"))
    wr = W.partitionBy("source").orderBy(F.desc("c"), F.asc("lang"))
    top = (
        lc.withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") == 1)
        .select("source", F.col("lang").alias("top_lang"))
    )
    return (
        per_src.join(F.broadcast(top), "source")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "n_langs",
            "top_lang",
            "total_tokens",
            F.round(
                F.col("total_tokens").cast("double")
                / F.col("corpus_tokens").cast("double"),
                6,
            ).alias("token_share"),
            "dup_rate",
            "avg_quality",
        )
    )


@register(
    "pipeline_quality_dup_crosstab",
    oracle=f"""
    WITH raw AS (
      SELECT doc_id, {TX.fingerprint_sql('text')} AS f, n_chars,
             CAST(len({TX.tokens_sql('text')}) AS BIGINT) AS n_toks,
             {TX.stopword_hits_sql('text', 'en')} AS n_stop,
             CAST(len(replace(text, ' ', '')) AS INTEGER) AS len_sum
      FROM documents
    ), feats AS (
      SELECT doc_id, f, round({_QUALITY_SQL}, 6) AS quality
      FROM raw WHERE n_toks > 0
    ), fc AS (
      SELECT f, COUNT(*) AS cnt FROM feats GROUP BY f
    ), med AS (
      SELECT round(quantile_cont(quality, 0.5), 6) AS m FROM feats
    ), tagged AS (
      SELECT fe.doc_id, fe.quality,
             fc.cnt > 1 AS is_dup,
             fe.quality > med.m AS hi_quality
      FROM feats fe JOIN fc ON fc.f = fe.f CROSS JOIN med
    ), cells AS (
      SELECT is_dup, hi_quality,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             round({davg_expr('quality')}, 6) AS avg_quality
      FROM tagged GROUP BY is_dup, hi_quality
    ), cls AS (
      SELECT is_dup, CAST(SUM(n_docs) AS BIGINT) AS class_total FROM cells
      GROUP BY is_dup
    )
    SELECT c.is_dup, c.hi_quality, c.n_docs, c.avg_quality,
           round(CAST(c.n_docs AS DOUBLE) / CAST(t.class_total AS DOUBLE), 6)
             AS frac_of_class
    FROM cells c JOIN cls t ON t.is_dup = c.is_dup
    """,
)
def pipeline_quality_dup_crosstab(spark, sf):
    # The "do duplicates hide in the low-quality tail" diagnostic — the
    # 2x2 crosstab of exact-duplicate membership x above-median quality
    # with per-class shares. If dups concentrate below the median
    # (frac_of_class skews), a pipeline can cheapen dedup by running it
    # AFTER the quality gate; if not, dedup must run first — a real
    # ordering decision curation runs make on cost grounds (the
    # pipeline_curate_funnel stage order, made measurable). Composes
    # the registered signal definitions (fingerprint + _QUALITY_SQL at
    # the exact interpolated median, 6dp-rounded on both engines before
    # the strict > — the curriculum boundary rule). Scale shape: one
    # corpus scan for the signals, one fingerprint-keyed agg joined
    # back (the dedup_exact shuffle), ONE single-row median agg
    # broadcast, then a 4-key agg and a 2-row class-total join.
    d = t(spark, sf, "documents")
    raw = d.select(
        "doc_id",
        TX.fingerprint("text").alias("f"),
        "n_chars",
        TX.token_count("text").cast("long").alias("n_toks"),
        TX.stopword_hits("text", "en").alias("n_stop"),
        F.length(F.expr("replace(text, ' ', '')")).cast("int").alias("len_sum"),
    )
    feats = raw.filter(F.col("n_toks") > 0).select(
        "doc_id", "f", F.round(F.expr(_QUALITY_SQL), 6).alias("quality")
    )
    fc = feats.groupBy("f").agg(F.count(F.lit(1)).alias("cnt"))
    med = feats.agg(
        F.round(F.expr("percentile(quality, 0.5)"), 6).alias("m")
    )
    tagged = (
        feats.join(fc, "f")
        .crossJoin(F.broadcast(med))
        .select(
            "doc_id",
            "quality",
            (F.col("cnt") > 1).alias("is_dup"),
            (F.col("quality") > F.col("m")).alias("hi_quality"),
        )
    )
    cells = tagged.groupBy("is_dup", "hi_quality").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.round(davg("quality"), 6).alias("avg_quality"),
    )
    cls = cells.groupBy("is_dup").agg(
        F.sum("n_docs").cast("long").alias("class_total")
    )
    return cells.join(F.broadcast(cls), "is_dup").select(
        "is_dup",
        "hi_quality",
        "n_docs",
        "avg_quality",
        F.round(
            F.col("n_docs").cast("double") / F.col("class_total").cast("double"), 6
        ).alias("frac_of_class"),
    )


@register(
    "sample_dedup_weighted_mixture",
    oracle=f"""
    WITH fp AS (
      SELECT doc_id, source, {TX.fingerprint_sql('text')} AS f,
             CAST(len({TX.tokens_sql('text')}) AS BIGINT) AS n_toks
      FROM documents
    ), keepers AS (
      SELECT f, min(doc_id) AS keep_id FROM fp GROUP BY f
    ), per_src AS (
      SELECT fp.source,
             CAST(SUM(fp.n_toks) AS BIGINT) AS raw_tokens,
             CAST(SUM(CASE WHEN k.keep_id = fp.doc_id THEN fp.n_toks ELSE 0 END)
                  AS BIGINT) AS unique_tokens
      FROM fp JOIN keepers k ON k.f = fp.f
      GROUP BY fp.source
    ), w AS (
      SELECT source, raw_tokens, unique_tokens,
             CAST(floor(sqrt(CAST(raw_tokens AS DOUBLE) * 1000000.0)) AS BIGINT)
               AS isqrt_raw,
             CAST(floor(sqrt(CAST(unique_tokens AS DOUBLE) * 1000000.0)) AS BIGINT)
               AS isqrt_uni
      FROM per_src
    ), tot AS (
      SELECT CAST(SUM(isqrt_raw) AS BIGINT) AS t_raw,
             CAST(SUM(isqrt_uni) AS BIGINT) AS t_uni
      FROM w
    )
    SELECT source, raw_tokens, unique_tokens,
           round(CAST(isqrt_raw AS DOUBLE) / CAST(t_raw AS DOUBLE), 9) AS w_raw,
           round(CAST(isqrt_uni AS DOUBLE) / CAST(t_uni AS DOUBLE), 9) AS w_dedup,
           round((CAST(isqrt_uni AS DOUBLE) / CAST(t_uni AS DOUBLE))
                 / (CAST(isqrt_raw AS DOUBLE) / CAST(t_raw AS DOUBLE)), 9)
             AS weight_shift
    FROM w CROSS JOIN tot
    """,
)
def sample_dedup_weighted_mixture(spark, sf):
    # DEDUP-AWARE mixture planning: temperature (alpha = 0.5) source
    # weights computed over UNIQUE tokens (exact keep-first dedup — a
    # duplicated token counts once, for the group's min-doc_id owner)
    # next to the same weights over raw tokens, plus the shift ratio —
    # exactly the correction dedup_rate_by_source's docstring warns
    # pipeline_mixture_plan needs ("token counts that double-count
    # duplicates" inflate a repost-heavy feed's mixture share). Uses
    # sample_temperature_mix's exact-integer weight trick
    # (floor(sqrt(n*1e6)) is a correctly-rounded IEEE sqrt floored to
    # BIGINT — bit-identical cross-engine). Plan shape: one corpus
    # scan, a fingerprint-keyed keepers agg joined back (the
    # dedup_exact shuffle), ONE source-keyed agg, 1-row totals
    # broadcast.
    d = t(spark, sf, "documents")
    fp = d.select(
        "doc_id",
        "source",
        TX.fingerprint("text").alias("f"),
        TX.token_count("text").cast("long").alias("n_toks"),
    )
    keepers = fp.groupBy("f").agg(F.min("doc_id").alias("keep_id"))
    per_src = (
        fp.join(keepers, "f")
        .groupBy("source")
        .agg(
            F.sum("n_toks").cast("long").alias("raw_tokens"),
            F.sum(
                F.when(F.col("keep_id") == F.col("doc_id"), F.col("n_toks")).otherwise(0)
            ).cast("long").alias("unique_tokens"),
        )
    )
    w = per_src.select(
        "source",
        "raw_tokens",
        "unique_tokens",
        F.floor(F.sqrt(F.col("raw_tokens").cast("double") * 1e6)).cast("long").alias("isqrt_raw"),
        F.floor(F.sqrt(F.col("unique_tokens").cast("double") * 1e6)).cast("long").alias("isqrt_uni"),
    )
    tot = w.agg(
        F.sum("isqrt_raw").cast("long").alias("t_raw"),
        F.sum("isqrt_uni").cast("long").alias("t_uni"),
    )
    wr = F.col("isqrt_raw").cast("double") / F.col("t_raw").cast("double")
    wu = F.col("isqrt_uni").cast("double") / F.col("t_uni").cast("double")
    return w.crossJoin(F.broadcast(tot)).select(
        "source",
        "raw_tokens",
        "unique_tokens",
        F.round(wr, 9).alias("w_raw"),
        F.round(wu, 9).alias("w_dedup"),
        F.round(wu / wr, 9).alias("weight_shift"),
    )


def _quality_league_oracle() -> str:
    from dataingestionplayground_spark.queries import REGISTRY as _R

    return f"""
    WITH ens AS MATERIALIZED (
      SELECT doc_id, quality, keep FROM ({_R['text_quality_ensemble'].oracle})
    )
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_scored,
           round({davg_expr('e.quality')}, 6) AS avg_quality,
           CAST(SUM(CASE WHEN e.keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
           round(CAST(SUM(CASE WHEN e.keep THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS keep_rate
    FROM ens e JOIN documents d USING (doc_id)
    GROUP BY d.source
    """


@register("pipeline_quality_league", oracle=_quality_league_oracle())
def pipeline_quality_league(spark, sf):
    # Per-source league table of the TRAINED quality ensemble (mean
    # blended score + keep rate at the shipped 0.5 gate) — the
    # calibrated counterpart of pipeline_data_card's heuristic
    # avg_quality column, and the table that actually reorders source
    # priorities in a curation run (the heuristic and the ensemble
    # disagree exactly where NB log-odds catch what length/stopword
    # ratios miss). Composes the registered ensemble (its single-LM-
    # scan plan carries the cost) + one doc-keyed join + one
    # source-keyed agg.
    from dataingestionplayground_spark.queries import REGISTRY as _R

    ens = (
        _R["text_quality_ensemble"].fn(spark, sf)
        .select("doc_id", "quality", "keep")
    )
    d = t(spark, sf, "documents").select("doc_id", "source")
    return (
        ens.join(d, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_scored"),
            F.round(davg("quality"), 6).alias("avg_quality"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0)).cast("long").alias("n_keep"),
            F.round(
                F.sum(F.when(F.col("keep"), 1).otherwise(0)).cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("keep_rate"),
        )
    )


@register(
    "sample_mixture_realization_check",
    oracle=f"""
    WITH counts AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY source
    ), w AS (
      SELECT source, n_docs,
             CAST(floor(sqrt(CAST(n_docs AS DOUBLE) * 1000000.0)) AS BIGINT)
               AS isqrt
      FROM counts
    ), tot AS (
      SELECT CAST(SUM(n_docs) AS BIGINT) AS total_docs,
             CAST(SUM(isqrt) AS BIGINT) AS total_isqrt
      FROM w
    ), rates AS (
      SELECT w.source, w.n_docs,
             least((w.isqrt * 300000 * t.total_docs)
                   // (t.total_isqrt * w.n_docs), 1000000) AS thr
      FROM w CROSS JOIN tot t
    ), sampled AS (
      SELECT d.source, COUNT(*) AS n_sampled
      FROM documents d JOIN rates r ON r.source = d.source
      WHERE {md5_mod_sql("CAST(d.doc_id AS VARCHAR)", 1000000)} < r.thr
      GROUP BY d.source
    ), st AS (
      SELECT CAST(SUM(n_sampled) AS BIGINT) AS total_sampled FROM sampled
    )
    SELECT r.source, r.n_docs,
           CAST(coalesce(s.n_sampled, 0) AS BIGINT) AS n_sampled,
           round(CAST(r.thr AS DOUBLE) / 1e6, 6) AS planned_rate,
           round(CAST(coalesce(s.n_sampled, 0) AS DOUBLE)
                 / CAST(r.n_docs AS DOUBLE), 6) AS realized_rate,
           round(CAST(coalesce(s.n_sampled, 0) AS DOUBLE)
                 / CAST(st.total_sampled AS DOUBLE), 6) AS realized_share
    FROM rates r
    LEFT JOIN sampled s ON s.source = r.source
    CROSS JOIN st
    """,
)
def sample_mixture_realization_check(spark, sf):
    # PLAN-VS-REALIZED mixture check: allocate a 30%-of-corpus sample
    # budget by sample_temperature_mix's alpha=0.5 weights, realize it
    # with the repo's deterministic md5-millionths coin, and report
    # planned vs realized rates and shares per source — the pre-flight
    # a pipeline runs before committing a mixture to a training job
    # (a tail source whose realized rate saturates at 100% is the
    # "budget exceeds the shard" signal). Per-source thresholds are
    # EXACT BIGINT arithmetic end to end (isqrt weights are floored
    # IEEE sqrts; the rate is one integer multiply-divide chain capped
    # at 1e6), so plan and realization are bit-reproducible on both
    # engines and across runs/epochs. Numeric range: the chain peaks at
    # isqrt * 3e5 * total_docs with isqrt = 1000*sqrt(n_src), i.e.
    # ~3e8 * n^1.5 for a dominant source — int64 overflows near n ~ 1e7
    # docs, so a larger corpus must shrink the isqrt scale constant
    # (floor(sqrt(n * C)) with C = 1e2 instead of 1e6 buys 100x corpus
    # headroom at 1/100th the rate resolution) — a one-constant change
    # made identically on both engines. Plan shape: one source-keyed
    # count agg, a |sources|-row rate table broadcast into the coin
    # filter (the filter itself pushes to the scan), one final
    # source-keyed agg.
    d = t(spark, sf, "documents")
    counts = d.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    w = counts.select(
        "source",
        "n_docs",
        F.floor(F.sqrt(F.col("n_docs").cast("double") * 1e6)).cast("long").alias("isqrt"),
    )
    tot = w.agg(
        F.sum("n_docs").cast("long").alias("total_docs"),
        F.sum("isqrt").cast("long").alias("total_isqrt"),
    )
    rates = w.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        F.least(
            F.expr("(isqrt * 300000 * total_docs) div (total_isqrt * n_docs)"),
            F.lit(1000000),
        ).alias("thr"),
    )
    coin = F.expr(md5_mod("cast(doc_id as string)", 1000000))
    sampled = (
        d.join(F.broadcast(rates), "source")
        .filter(coin < F.col("thr"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_sampled"))
    )
    st = sampled.agg(F.sum("n_sampled").cast("long").alias("total_sampled"))
    return (
        rates.join(F.broadcast(sampled), "source", "left")
        .crossJoin(F.broadcast(st))
        .select(
            "source",
            "n_docs",
            F.coalesce(F.col("n_sampled"), F.lit(0)).cast("long").alias("n_sampled"),
            F.round(F.col("thr").cast("double") / F.lit(1e6), 6).alias("planned_rate"),
            F.round(
                F.coalesce(F.col("n_sampled"), F.lit(0)).cast("double")
                / F.col("n_docs").cast("double"),
                6,
            ).alias("realized_rate"),
            F.round(
                F.coalesce(F.col("n_sampled"), F.lit(0)).cast("double")
                / F.col("total_sampled").cast("double"),
                6,
            ).alias("realized_share"),
        )
    )


@register(
    "pipeline_release_report",
    oracle=f"""
    WITH raw AS (
      SELECT doc_id, source, lang, n_chars, {TX.fingerprint_sql('text')} AS f,
             CAST(len({TX.tokens_sql('text')}) AS BIGINT) AS n_toks,
             {TX.stopword_hits_sql('text', 'en')} AS n_stop,
             CAST(len(replace(text, ' ', '')) AS INTEGER) AS len_sum
      FROM documents
    ), feats AS (
      SELECT doc_id, source, lang, f, n_toks,
             CASE WHEN n_toks > 0 THEN {_QUALITY_SQL} END AS quality
      FROM raw
    ), lc AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS c FROM feats GROUP BY lang
    ), ent AS (
      SELECT round(CAST(SUM(CAST(round(
               -(CAST(c AS DOUBLE) / t) * log2(CAST(c AS DOUBLE) / t), 6)
             AS DECIMAL(38,6))) AS DOUBLE), 6) AS lang_entropy
      FROM lc CROSS JOIN (SELECT CAST(SUM(c) AS DOUBLE) AS t FROM lc)
    ), base AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
             CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
             CAST(SUM(n_toks) AS BIGINT) AS total_tokens,
             round(CAST(COUNT(*) - COUNT(DISTINCT f) AS DOUBLE)
                   / CAST(COUNT(*) AS DOUBLE), 6) AS dup_rate,
             round({davg_expr('quality')}, 6) AS avg_quality
      FROM feats
    )
    SELECT b.*, e.lang_entropy FROM base b CROSS JOIN ent e
    """,
)
def pipeline_release_report(spark, sf):
    return _release_report_frame(t(spark, sf, "documents"))


def _release_features_frame(d):
    """Per-document release features (doc_id, source, lang, fingerprint
    f, n_toks, quality) — the single-source per-doc body of the release
    card, hoisted (r15 verdict item 6) so the streaming ship-readiness
    maintainer stages EXACTLY the per-doc signals the batch gate
    aggregates (sum/count staging over these columns combines to the
    identical davg/dup-rate values)."""
    raw = d.select(
        "doc_id",
        "source",
        "lang",
        "n_chars",
        TX.fingerprint("text").alias("f"),
        TX.token_count("text").cast("long").alias("n_toks"),
        TX.stopword_hits("text", "en").alias("n_stop"),
        F.length(F.expr("replace(text, ' ', '')")).cast("int").alias("len_sum"),
    )
    return raw.select(
        "doc_id",
        "source",
        "lang",
        "f",
        "n_toks",
        F.when(F.col("n_toks") > 0, F.expr(_QUALITY_SQL)).alias("quality"),
    )


def _release_report_frame(d):
    # The ONE-ROW dataset release card — the header block of a dataset
    # datasheet (doc/source/lang counts, token total, exact-dup rate,
    # mean heuristic quality, language-distribution Shannon entropy) —
    # pipeline_data_card rolled up to corpus grain for the "what did we
    # ship" line a release pipeline stamps next to its export manifest
    # (pipeline_dataset_fingerprint gives content identity; this gives
    # content SHAPE). Entropy terms are 6dp-rounded before the decimal
    # fold (the char-entropy convention) over a |langs|-row frame.
    # Plan: ONE corpus scan computing all per-doc signals in-row, one
    # single-row agg with two-phase count-distincts, one |langs|-key
    # agg for the entropy — nothing else. (r15, verdict item 5: body
    # hoisted to a frame helper so pipeline_release_gate can feed the
    # card's shared checkpointed documents frame.)
    feats = _release_features_frame(d)
    lc = feats.groupBy("lang").agg(F.count(F.lit(1)).cast("long").alias("c"))
    tt = lc.agg(F.sum("c").cast("double").alias("t"))
    p = F.col("c").cast("double") / F.col("t")
    ent = (
        lc.crossJoin(F.broadcast(tt))
        .select(F.round(-p * F.log2(p), 6).cast("decimal(38,6)").alias("term"))
        .agg(F.round(F.sum("term").cast("double"), 6).alias("lang_entropy"))
    )
    n = F.count(F.lit(1))
    base = feats.agg(
        n.cast("long").alias("n_docs"),
        F.count_distinct("source").cast("long").alias("n_sources"),
        F.count_distinct("lang").cast("long").alias("n_langs"),
        F.sum("n_toks").cast("long").alias("total_tokens"),
        F.round(
            (n - F.count_distinct("f")).cast("double") / n.cast("double"), 6
        ).alias("dup_rate"),
        F.round(davg("quality"), 6).alias("avg_quality"),
    )
    return base.crossJoin(F.broadcast(ent))


def _contamination_by_source_oracle() -> str:
    from dataingestionplayground_spark.queries import REGISTRY as _R

    return f"""
    WITH rep AS MATERIALIZED (
      SELECT doc_id, n_grams, n_hit, contamination_rate
      FROM ({_R['text_contamination_report'].oracle})
    )
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_eval_docs,
           CAST(SUM(CASE WHEN r.n_hit > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_contaminated,
           round(CAST(SUM(CASE WHEN r.n_hit > 0 THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS contaminated_frac,
           round({davg_expr('r.contamination_rate')}, 6) AS avg_rate
    FROM rep r JOIN documents d USING (doc_id)
    GROUP BY d.source
    """


# release-gate thresholds (literals by design — a gate whose bars move
# with the data is not a gate): exact-dup rate, mean heuristic quality,
# the WORST source's contaminated fraction, and how much of the new
# snapshot is genuinely novel content
_GATE_DUP, _GATE_QUALITY, _GATE_CONTAM, _GATE_NOVEL = 0.1, 0.4, 0.25, 0.5


def _release_gate_oracle() -> str:
    from dataingestionplayground_spark.queries import REGISTRY as _R

    return f"""
    WITH gate_rep AS MATERIALIZED (
      SELECT * FROM ({_R['pipeline_release_report'].oracle})
    ), gate_contam AS MATERIALIZED (
      SELECT CAST(SUM(n_contaminated) AS BIGINT) AS n_contaminated,
             MAX(contaminated_frac) AS max_contaminated_frac
      FROM ({_R['text_contamination_by_source'].oracle})
    ), gate_delta AS MATERIALIZED (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_delta,
             CAST(SUM(CASE WHEN status = 'novel' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_novel,
             round(CAST(SUM(CASE WHEN status = 'novel' THEN 1 ELSE 0 END)
                        AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS novel_frac
      FROM ({_R['dedup_snapshot_delta'].oracle})
    )
    SELECT r.n_docs, r.total_tokens, r.dup_rate, r.avg_quality,
           c.n_contaminated, c.max_contaminated_frac,
           d.n_delta, d.n_novel, d.novel_frac,
           (r.dup_rate <= {_GATE_DUP}) AS pass_dup,
           (r.avg_quality >= {_GATE_QUALITY}) AS pass_quality,
           (c.max_contaminated_frac <= {_GATE_CONTAM}) AS pass_contam,
           (d.novel_frac >= {_GATE_NOVEL}) AS pass_novelty,
           (r.dup_rate <= {_GATE_DUP} AND r.avg_quality >= {_GATE_QUALITY}
            AND c.max_contaminated_frac <= {_GATE_CONTAM}
            AND d.novel_frac >= {_GATE_NOVEL}) AS ship
    FROM gate_rep r CROSS JOIN gate_contam c CROSS JOIN gate_delta d
    """


@register(
    "text_contamination_by_source", oracle=_contamination_by_source_oracle()
)
def text_contamination_by_source(spark, sf):
    # Contamination triage BY FEED: per source of the held-out eval
    # docs, how many are train-contaminated at all and the mean
    # trigram contamination rate — the view that tells a curation run
    # WHICH feed leaks eval content (a single syndicated source
    # usually accounts for most contamination; drop or decontaminate
    # that feed rather than paying gram-level scrubbing everywhere).
    # Composes the registered per-doc report (via its single-source
    # frame helper); one doc-keyed join + one source-keyed agg on the
    # (small) eval slice.
    return _contamination_by_source_frame(t(spark, sf, "documents"))


def _contamination_by_source_frame(d):
    rep = _contamination_report_frame(d).select(
        "doc_id", "n_hit", "contamination_rate"
    )
    hit = F.sum(F.when(F.col("n_hit") > 0, 1).otherwise(0))
    return (
        rep.join(d.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_eval_docs"),
            hit.cast("long").alias("n_contaminated"),
            F.round(hit.cast("double") / F.count(F.lit(1)).cast("double"), 6).alias(
                "contaminated_frac"
            ),
            F.round(davg("contamination_rate"), 6).alias("avg_rate"),
        )
    )


@register("pipeline_release_gate", oracle=_release_gate_oracle())
def pipeline_release_gate(spark, sf):
    # The contamination-safe release gate (r13 verdict item 6): the ONE
    # row a dataset-release pipeline prints before shipping a snapshot —
    # "can this ship?" — composing the three registered checks a release
    # actually runs: corpus shape (pipeline_release_report: exact-dup
    # rate, mean quality), eval leakage (text_contamination_by_source:
    # the WORST feed's contaminated fraction — one syndicated source at
    # 1.0 blocks the release even when the corpus-mean looks fine), and
    # recrawl novelty (dedup_snapshot_delta: how much of the new
    # snapshot is genuinely new content vs re-collected dups). Each
    # signal, its threshold verdict, and the conjunction. Thresholds are
    # LITERALS (the funnel rule); the boolean compares 6dp-rounded
    # member values, so a verdict can never flip cross-engine. Plan:
    # each member runs its own proven plan once; the composition layer
    # is three single-row aggs broadcast-crossJoined — zero new shuffle
    # classes at 100 TB.
    #
    # r15 (verdict item 5): members compose through their REGISTERED
    # single-source frame helpers over ONE checkpointed documents frame
    # (the pipeline_index_health discipline) — the registered rows
    # execute the identical bodies, but the gate stops re-reading and
    # re-decoding the documents parquet once per member subplan.
    from concurrent.futures import ThreadPoolExecutor

    from dataingestionplayground_spark.queries.dedupq import (
        _snapshot_delta_frame,
    )

    d = t(spark, sf, "documents").localCheckpoint(eager=True)
    novel = F.sum(F.when(F.col("status") == "novel", 1).otherwise(0))
    # member CONSTRUCTION blocks on each member's internal eager
    # localCheckpoints (delta: anti-join + banded candidates; contam:
    # the two gram tables) — those are independent Spark jobs over the
    # shared frame, so build the members concurrently instead of
    # paying the checkpoint barriers serially (values are unaffected:
    # each member is a pure function of the checkpointed d)
    with ThreadPoolExecutor(max_workers=3) as ex:
        f_rep = ex.submit(
            lambda: _release_report_frame(d).select(
                "n_docs", "total_tokens", "dup_rate", "avg_quality"
            )
        )
        f_contam = ex.submit(
            lambda: _contamination_by_source_frame(d).agg(
                F.sum("n_contaminated").cast("long").alias("n_contaminated"),
                F.max("contaminated_frac").alias("max_contaminated_frac"),
            )
        )
        f_delta = ex.submit(
            lambda: _snapshot_delta_frame(d).agg(
                F.count(F.lit(1)).cast("long").alias("n_delta"),
                novel.cast("long").alias("n_novel"),
                F.round(
                    novel.cast("double") / F.count(F.lit(1)).cast("double"), 6
                ).alias("novel_frac"),
            )
        )
        rep, contam, delta = f_rep.result(), f_contam.result(), f_delta.result()
    pass_dup = F.col("dup_rate") <= _GATE_DUP
    pass_quality = F.col("avg_quality") >= _GATE_QUALITY
    pass_contam = F.col("max_contaminated_frac") <= _GATE_CONTAM
    pass_novelty = F.col("novel_frac") >= _GATE_NOVEL
    return (
        rep.crossJoin(F.broadcast(contam))
        .crossJoin(F.broadcast(delta))
        .select(
            "n_docs",
            "total_tokens",
            "dup_rate",
            "avg_quality",
            "n_contaminated",
            "max_contaminated_frac",
            "n_delta",
            "n_novel",
            "novel_frac",
            pass_dup.alias("pass_dup"),
            pass_quality.alias("pass_quality"),
            pass_contam.alias("pass_contam"),
            pass_novelty.alias("pass_novelty"),
            (pass_dup & pass_quality & pass_contam & pass_novelty).alias("ship"),
        )
    )


def _index_health_oracle() -> str:
    from dataingestionplayground_spark.queries import REGISTRY as _R

    return f"""
    WITH hb AS MATERIALIZED (
      SELECT cv, max_over_mean FROM ({_R['vector_cell_balance'].oracle})
    ), hd AS MATERIALIZED (
      SELECT round(CAST(SUM(CAST(mean_sq_err AS DECIMAL(38,6))) AS DOUBLE)
                   / COUNT(*), 6) AS mean_distortion,
             MAX(max_sq_err) AS worst_distortion
      FROM ({_R['vector_pq_distortion'].oracle})
    ), hs AS MATERIALIZED (
      SELECT skew, retrain FROM ({_R['vector_ivf_retrain_signal'].oracle})
    )
    SELECT b.cv, b.max_over_mean, d.mean_distortion, d.worst_distortion,
           s.skew, s.retrain,
           (b.max_over_mean <= 2.0) AS balance_ok,
           (d.mean_distortion <= 0.5) AS distortion_ok,
           (NOT s.retrain) AS skew_ok,
           (b.max_over_mean <= 2.0 AND d.mean_distortion <= 0.5
            AND NOT s.retrain) AS healthy
    FROM hb b CROSS JOIN hd d CROSS JOIN hs s
    """


@register("pipeline_index_health", oracle=_index_health_oracle())
def pipeline_index_health(spark, sf):
    # The vector-index OPERATIONS card (the release gate's sibling for
    # this round's maintained-index family): one row answering "is the
    # index layout still healthy, or is the next action a retrain?" —
    # composing the three registered diagnostics a serving stack
    # actually watches: cell-occupancy balance (vector_cell_balance:
    # a ballooning max_over_mean melts the hottest probe), codebook
    # distortion (vector_pq_distortion: the quantizer's fit to the
    # current corpus, averaged across subspaces through DECIMAL so the
    # mean is order-free), and the maintained-table occupancy-skew
    # retrain signal (vector_ivf_retrain_signal). Literal bars (the
    # funnel rule), per-check booleans on 6dp-rounded member values
    # (cross-engine flip-proof), and the conjunction. Plan: the member
    # plans run once each; composition is three single-row frames
    # broadcast-crossJoined.
    #
    # r15 (verdict item 5): the members are composed through their
    # REGISTERED single-source frame helpers (_cell_balance_frame /
    # _pq_distortion_frame / _retrain_signal_frame — the exact bodies
    # the registered rows execute) over ONE checkpointed embeddings
    # frame, instead of re-running each registered fn against its own
    # parquet scan: the member helpers' internal driver actions
    # (centroid/codebook collects) all read the tiny materialized
    # frame, cutting the card's serial small-job tail while grading
    # the identical structures.
    from dataingestionplayground_spark.queries.vectorq import (
        _PQ_K,
        _SD_CELLS,
        _cell_balance_frame,
        _pq_distortion_frame,
        _retrain_signal_frame,
    )

    from concurrent.futures import ThreadPoolExecutor

    e = (
        t(spark, sf, "embeddings")
        .select("vec_id", "embedding")
        .localCheckpoint(eager=True)
    )
    # r16 (optimization): member CONSTRUCTION blocks on driver actions
    # (the balance frame's seed-centroid collect, the distortion frame's
    # codebook collect, the retrain frame's internal actions) — build
    # the three members concurrently over the shared checkpointed frame,
    # the pipeline_release_gate discipline. Values are unaffected: each
    # member is a pure function of the checkpointed e.
    with ThreadPoolExecutor(max_workers=3) as ex:
        f_hb = ex.submit(
            lambda: _cell_balance_frame(e, _SD_CELLS).select("cv", "max_over_mean")
        )
        f_hd = ex.submit(
            lambda: _pq_distortion_frame(e, _PQ_K).agg(
                F.round(
                    F.sum(F.col("mean_sq_err").cast("decimal(38,6)")).cast("double")
                    / F.count(F.lit(1)),
                    6,
                ).alias("mean_distortion"),
                F.max("max_sq_err").alias("worst_distortion"),
            )
        )
        f_hs = ex.submit(lambda: _retrain_signal_frame(e).select("skew", "retrain"))
        hb, hd, hs = f_hb.result(), f_hd.result(), f_hs.result()
    balance_ok = F.col("max_over_mean") <= 2.0
    distortion_ok = F.col("mean_distortion") <= 0.5
    skew_ok = ~F.col("retrain")
    return (
        hb.crossJoin(F.broadcast(hd))
        .crossJoin(F.broadcast(hs))
        .select(
            "cv",
            "max_over_mean",
            "mean_distortion",
            "worst_distortion",
            "skew",
            "retrain",
            balance_ok.alias("balance_ok"),
            distortion_ok.alias("distortion_ok"),
            skew_ok.alias("skew_ok"),
            (balance_ok & distortion_ok & skew_ok).alias("healthy"),
        )
    )
