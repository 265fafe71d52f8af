"""Document-ingestion pipeline query surface (reference capability #1:
parse -> chunk -> embed -> collection; ``VectorStoreCommands.cs:19-81``).

Queries over the driver's ``documents`` table exercising the engine's
chunking and embedding stages. Chunking here is the deterministic
token-window contract (SURVEY.md §7.4) so the DuckDB oracle can verify
boundaries; the semantic chunker (model-dependent) lives in
dataingestionplayground_spark.ingest and is covered by pytest, not the
SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from dataingestionplayground_spark.functions.portable import md5_mod_sql
from dataingestionplayground_spark.operators.dedup import banded_pairs
from dataingestionplayground_spark.queries import register
from dataingestionplayground_spark.session import fan_out_small_scan
from dataingestionplayground_spark.session import load_table as t
from dataingestionplayground_spark.sources import multimodal as _mm_const

# Deterministic token-window chunking: fixed 32-token windows with 8-token
# stride overlap disabled (non-overlapping) — both engines slice the same
# token array, so chunk text is bit-identical.
_CHUNK = 32


@register(
    "ingest_chunk_token_windows",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '') AS w
      FROM documents
    ), chunks AS (
      SELECT doc_id,
             CAST(c - 1 AS INTEGER) AS chunk_idx,
             array_to_string(w[(c - 1) * {_CHUNK} + 1 : c * {_CHUNK}], ' ') AS content
      FROM toks
      CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS c)
      WHERE (c - 1) * {_CHUNK} < len(w)
    )
    SELECT doc_id, chunk_idx, content,
           md5(concat(CAST(doc_id AS VARCHAR), ':', CAST(chunk_idx AS VARCHAR))) AS "key",
           CAST(len(list_filter(regexp_split_to_array(content, '\\s+'), x -> x != '')) AS INTEGER) AS n_tokens
    FROM chunks
    """,
)
def ingest_chunk_token_windows(spark, sf):
    # The chunker's relational core: explode fixed token windows per doc.
    # Chunk key = md5(docid:idx) — the deterministic analogue of the
    # reference's Guid chunk key (VectorStoreCommands.cs:95).
    d = t(spark, sf, "documents")
    toks = d.select(
        "doc_id", F.expr("filter(split(text, '\\\\s+'), x -> x != '')").alias("w")
    )
    chunks = (
        toks.select(
            "doc_id",
            "w",
            F.explode(F.expr("sequence(1, 64)")).alias("c"),
        )
        .filter((F.col("c") - 1) * _CHUNK < F.size("w"))
        .select(
            "doc_id",
            (F.col("c") - 1).cast("int").alias("chunk_idx"),
            F.concat_ws(" ", F.expr(f"slice(w, (c - 1) * {_CHUNK} + 1, {_CHUNK})")).alias("content"),
        )
    )
    return chunks.select(
        "doc_id",
        "chunk_idx",
        "content",
        F.md5(F.concat_ws(":", F.col("doc_id"), F.col("chunk_idx"))).alias("key"),
        F.expr("size(filter(split(content, '\\\\s+'), x -> x != ''))").alias("n_tokens"),
    )


@register(
    "multimodal_metadata",
    oracle="""
    SELECT CAST(doc_id AS VARCHAR) AS media_id,
           'text/plain' AS media_type,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           sha256(text) AS content_sha
    FROM documents
    """,
)
def multimodal_metadata(spark, sf):
    # Multimodal binary-column plumbing (SURVEY §1.2 byte[] + media type):
    # metadata (size, content hash) computed JVM-side over BINARY content.
    from dataingestionplayground_spark.sources.multimodal import binary_with_metadata

    d = t(spark, sf, "documents").select(
        "doc_id",
        F.lit("text/plain").alias("mt"),
        F.encode("text", "UTF-8").alias("data"),
    )
    return binary_with_metadata(d, "doc_id", "mt", "data").select(
        "media_id", "media_type", "n_bytes", "content_sha"
    )


@register(
    "multimodal_features",
    oracle="""
    WITH base AS (
      SELECT CAST(doc_id AS VARCHAR) AS media_id,
             'text/plain' AS media_type,
             CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
             sha256(text) AS h
      FROM documents
    )
    SELECT media_id, media_type, n_bytes,
           CAST(16 + ((instr('0123456789abcdef', substr(h, 1, 1)) - 1) * 16 + (instr('0123456789abcdef', substr(h, 2, 1)) - 1)) % 64 AS INTEGER) AS width,
           CAST(16 + ((instr('0123456789abcdef', substr(h, 3, 1)) - 1) * 16 + (instr('0123456789abcdef', substr(h, 4, 1)) - 1)) % 64 AS INTEGER) AS height,
           CAST(round(((instr('0123456789abcdef', substr(h, 5, 1)) - 1) * 16 + (instr('0123456789abcdef', substr(h, 6, 1)) - 1)) / 255.0, 6) AS REAL) AS f1,
           CAST(round(((instr('0123456789abcdef', substr(h, 7, 1)) - 1) * 16 + (instr('0123456789abcdef', substr(h, 8, 1)) - 1)) / 255.0, 6) AS REAL) AS f2,
           CAST(round(((instr('0123456789abcdef', substr(h, 9, 1)) - 1) * 16 + (instr('0123456789abcdef', substr(h, 10, 1)) - 1)) / 255.0, 6) AS REAL) AS f3,
           CAST(round(((instr('0123456789abcdef', substr(h, 11, 1)) - 1) * 16 + (instr('0123456789abcdef', substr(h, 12, 1)) - 1)) / 255.0, 6) AS REAL) AS f4,
           CAST(round(((instr('0123456789abcdef', substr(h, 13, 1)) - 1) * 16 + (instr('0123456789abcdef', substr(h, 14, 1)) - 1)) / 255.0, 6) AS REAL) AS f5,
           CAST(round(((instr('0123456789abcdef', substr(h, 15, 1)) - 1) * 16 + (instr('0123456789abcdef', substr(h, 16, 1)) - 1)) / 255.0, 6) AS REAL) AS f6,
           CAST(round(((instr('0123456789abcdef', substr(h, 17, 1)) - 1) * 16 + (instr('0123456789abcdef', substr(h, 18, 1)) - 1)) / 255.0, 6) AS REAL) AS f7,
           CAST(round(((instr('0123456789abcdef', substr(h, 19, 1)) - 1) * 16 + (instr('0123456789abcdef', substr(h, 20, 1)) - 1)) / 255.0, 6) AS REAL) AS f8
    FROM base
    """,
)
def multimodal_features(spark, sf):
    # Decode/feature-extract plumbing through mapInPandas with the
    # deterministic fake decoder (real codecs absent from this image);
    # the oracle replicates the fake decoder (sha256 nibble decode) in
    # SQL so even the Python stage is value-checked. The 8-d feature
    # array is exposed as scalar columns f1..f8 because the driver's
    # canonicalizer hashes atomic columns only.
    from dataingestionplayground_spark.sources.multimodal import (
        binary_with_metadata,
        extract_features,
        fake_decoder,
    )

    d = t(spark, sf, "documents").select(
        "doc_id",
        F.lit("text/plain").alias("mt"),
        F.encode("text", "UTF-8").alias("data"),
    )
    media = binary_with_metadata(d, "doc_id", "mt", "data")
    feats = extract_features(media, decoder=fake_decoder)
    return feats.select(
        "media_id",
        "media_type",
        "n_bytes",
        "width",
        "height",
        *[F.element_at("feature", i + 1).alias(f"f{i + 1}") for i in range(8)],
    )


@register(
    "ingest_pipeline_e2e",
    oracle=f"""
    WITH toks AS (
      SELECT CAST(doc_id AS VARCHAR) AS doc_id,
             list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '') AS w
      FROM documents
    ), chunks AS (
      SELECT doc_id, CAST(c - 1 AS INTEGER) AS chunk_idx,
             array_to_string(w[(c - 1) * 64 + 1 : c * 64], ' ') AS content
      FROM toks CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS c)
      WHERE (c - 1) * 64 < len(w)
    )
    SELECT doc_id AS documentid,
           md5(concat(doc_id, ':', CAST(chunk_idx AS VARCHAR))) AS "key",
           384 AS dims,
           CAST(length(content) AS INTEGER) AS n_chars
    FROM chunks
    """,
)
def ingest_pipeline_e2e(spark, sf):
    # The embedding VALUES are non-SQL (hash model), but every other
    # observable — chunk boundaries, keys, dimensionality — is, so the
    # oracle checks the full pipeline shape, not just row counts.
    # Full parse->chunk->embed composition over the documents table (texts
    # treated as single-paragraph docs), returning chunk records with
    # 384-d deterministic embeddings (ingest.pipeline.build_chunk_records).
    from dataingestionplayground_spark.ingest.pipeline import build_chunk_records

    d = t(spark, sf, "documents")
    elements = d.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.lit(0).alias("section_idx"),
        F.lit(0).alias("block_idx"),
        F.expr("cast(array() as array<int>)").alias("parent_path"),
        F.lit("paragraph").alias("kind"),
        F.col("text").alias("markdown"),
        F.col("text").alias("text"),
        F.lit(None).cast("int").alias("level"),
        F.lit(None).cast("string").alias("alt_text"),
        F.lit(None).cast("string").alias("media_type"),
        F.lit(None).cast("binary").alias("content"),
        F.lit(None).cast("array<array<string>>").alias("table_cells"),
    )
    records = build_chunk_records(elements, max_tokens=64, overlap=0)
    return records.select(
        "documentid", "key", F.size("embedding").alias("dims"), F.length("content").alias("n_chars")
    )


@register(
    "ingest_doc_reassembly",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source, list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '') AS w
      FROM documents
    ), chunks AS (
      SELECT doc_id, source, CAST(c - 1 AS INTEGER) AS chunk_idx
      FROM toks CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS c)
      WHERE (c - 1) * {_CHUNK} < len(w)
    )
    SELECT source, COUNT(*) AS n_chunks, COUNT(DISTINCT doc_id) AS n_docs
    FROM chunks GROUP BY source
    """,
)
def ingest_doc_reassembly(spark, sf):
    # chunk->document reassembly + corpus stats per source (SURVEY §2.3/2.4:
    # chunks.join(docs, documentid) with docs broadcast when small).
    d = t(spark, sf, "documents")
    chunks = ingest_chunk_token_windows(spark, sf).select("doc_id", "chunk_idx")
    docs = d.select("doc_id", "source")
    return (
        chunks.join(F.broadcast(docs), "doc_id")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_chunks"), F.countDistinct("doc_id").alias("n_docs"))
    )


def _ahash_bands_sql() -> str:
    """Self-contained WITH-subquery yielding the image-modality banded
    fingerprint table bands(doc_id, band_idx, band_lo, band_hi, w_lo,
    w_hi) — the closed-form twin of ``_bands4(_image_fp_frame(...))``.
    Shared by the pair oracle and the (sub-linear) dedup-card oracle so
    the two can never grade different fingerprints. band_hi is 0 for the
    4 x 16-bit banding (the uniform 2-column band key lets the video
    modality, whose band key is a full 64-bit keyframe hash, share the
    card's machinery)."""
    mm = md5_mod_sql

    base_i = mm("concat(CAST(doc_id % 50 AS VARCHAR), ':px:', CAST(i AS VARCHAR))", 256)
    pp = [mm(f"concat(CAST(doc_id AS VARCHAR), ':pp:{j}')", 64) for j in range(3)]
    pv = [mm(f"concat(CAST(doc_id AS VARCHAR), ':pv:{j}')", 256) for j in range(3)]
    word = (
        "CAST(list_sum(list_transform(generate_series({lo}, {hi}), i -> "
        "CASE WHEN 64 * gs[i + 1] >= s THEN (CAST(1 AS BIGINT) << (i - {lo})) "
        "ELSE CAST(0 AS BIGINT) END)) AS BIGINT)"
    )
    return f"""
    WITH px AS (
      SELECT doc_id,
             {pp[0]} AS p0, {pv[0]} AS v0,
             {pp[1]} AS p1, {pv[1]} AS v1,
             {pp[2]} AS p2, {pv[2]} AS v2,
             list_transform(generate_series(0, 63), i -> {base_i}) AS base
      FROM documents
    ), g AS (
      SELECT doc_id,
             list_transform(generate_series(0, 63), i ->
               CASE WHEN i = p2 THEN v2 WHEN i = p1 THEN v1
                    WHEN i = p0 THEN v0 ELSE base[i + 1] END) AS gs
      FROM px
    ), hashed AS (
      SELECT doc_id, {word.format(lo=0, hi=31)} AS w_lo,
             {word.format(lo=32, hi=63)} AS w_hi
      FROM (SELECT doc_id, gs, list_sum(gs) AS s FROM g)
    )
    SELECT doc_id, 0 AS band_idx, w_lo % 65536 AS band_lo,
           CAST(0 AS BIGINT) AS band_hi, w_lo, w_hi FROM hashed
    UNION ALL
    SELECT doc_id, 1, w_lo // 65536, CAST(0 AS BIGINT), w_lo, w_hi FROM hashed
    UNION ALL
    SELECT doc_id, 2, w_hi % 65536, CAST(0 AS BIGINT), w_lo, w_hi FROM hashed
    UNION ALL
    SELECT doc_id, 3, w_hi // 65536, CAST(0 AS BIGINT), w_lo, w_hi FROM hashed
    """


def _ahash_oracle() -> str:
    return f"""
    WITH bands AS ({_ahash_bands_sql()}),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             a.w_lo AS lo_a, a.w_hi AS hi_a, b.w_lo AS lo_b, b.w_hi AS hi_b
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_lo = b.band_lo
       AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b,
           CAST(bit_count(xor(lo_a, lo_b)) + bit_count(xor(hi_a, hi_b))
                AS BIGINT) AS hamming
    FROM cand
    WHERE bit_count(xor(lo_a, lo_b)) + bit_count(xor(hi_a, hi_b)) <= 6
    """


def _image_fp_frame(spark, sf):
    """(doc_id, w_lo, w_hi) 64-bit average-hash fingerprints of the
    deterministic image corpus: 8x8 grayscale stills materialized as
    REAL uncompressed BMP bytes, decoded back through the engine's
    zero-dependency BMP parser (sources/multimodal.py bmp_pixels — any
    decode bug breaks the oracle hash match), reduced to bit i =
    pixel_i >= mean in exact integer form (64*g_i >= sum). ONE Arrow
    pass; 8 bytes of state per image. Shared by the pair query and the
    dedup card so both grade the same fingerprints."""
    import hashlib

    import pandas as pd

    def mm(s: str, mod: int) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16) % mod

    def build_and_hash(batches):
        import struct

        import numpy as np

        from dataingestionplayground_spark.sources.multimodal import bmp_pixels

        # r16 (optimization, guide §4.5): the 64 base-pixel md5 calls
        # depend only on gid = doc_id % 50 — memoize them per task (the
        # audio twin's base_cache discipline) so each doc pays 6 md5
        # calls instead of 70; bit packing via one vectorized dot
        # (exact: bits are 0/1 ints, powers of two are exact int64).
        base_cache: dict = {}
        pow_lo = (np.int64(1) << np.arange(32, dtype=np.int64))
        for pdf in batches:
            out = []
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                gid = doc_id % 50
                if gid not in base_cache:
                    base_cache[gid] = [mm(f"{gid}:px:{i}", 256) for i in range(64)]
                g = list(base_cache[gid])
                for j in range(3):
                    g[mm(f"{doc_id}:pp:{j}", 64)] = mm(f"{doc_id}:pv:{j}", 256)
                # REAL bytes: 8x8 24-bpp bottom-up BMP (stride 24, no pad)
                px = np.array(g, dtype=np.uint8).reshape(8, 8)
                rows = np.repeat(px[::-1, :].ravel(), 3).tobytes()
                data = (
                    b"BM"
                    + struct.pack("<IHHI", 54 + len(rows), 0, 0, 54)
                    + struct.pack("<IiiHHIIiiII", 40, 8, 8, 1, 24, 0,
                                  len(rows), 2835, 2835, 0, 0)
                    + rows
                )
                _w, _h, rgb = bmp_pixels(data)  # decode the real payload
                dec = rgb[:, :, 0].astype(np.int64).ravel()  # gray: R==G==B
                bits = (64 * dec >= dec.sum()).astype(np.int64)
                w_lo = int(bits[:32] @ pow_lo)
                w_hi = int(bits[32:] @ pow_lo)
                out.append((doc_id, w_lo, w_hi))
            yield pd.DataFrame(out, columns=["doc_id", "w_lo", "w_hi"])

    d = t(spark, sf, "documents").select("doc_id")
    return d.mapInPandas(build_and_hash, "doc_id long, w_lo long, w_hi long")


_FP_KEYS = ["k0", "k1", "k2", "k3"]


def _fp_keys(fp):
    """(doc_id, w_lo, w_hi, k0..k3): a 64-bit (w_lo, w_hi) fingerprint
    with its four 16-bit slices — the fingerprint's LSH band keys."""
    return fp.select(
        "doc_id",
        "w_lo",
        "w_hi",
        (F.col("w_lo") % 65536).alias("k0"),
        F.expr("w_lo div 65536").alias("k1"),
        (F.col("w_hi") % 65536).alias("k2"),
        F.expr("w_hi div 65536").alias("k3"),
    )


def _bands4(fp):
    """The 4 x 16-bit LSH band table (doc_id, band_idx, band_lo,
    band_hi, w_lo, w_hi) of a (doc_id, w_lo, w_hi) fingerprint frame,
    one row per band — band_hi is 0 here; the 2-column band key exists
    so the video modality (whose band key is a whole 64-bit keyframe
    hash) shares the dedup card's group machinery."""
    return _fp_keys(fp).select(
        "doc_id",
        F.expr("stack(4, 0, k0, 1, k1, 2, k2, 3, k3) as (band_idx, band_lo)"),
        F.lit(0).cast("long").alias("band_hi"),
        "w_lo",
        "w_hi",
    )


def _hamming_pairs(pairs, words: list[str], bound: int):
    """(id_a, id_b, hamming) of ``banded_pairs`` output whose Hamming
    distance — popcount(x_a XOR x_b) summed over the carried int64
    ``words`` — is at most ``bound``."""
    ham = sum(F.bit_count(F.col(f"{w}_a").bitwiseXOR(F.col(f"{w}_b"))) for w in words)
    return pairs.select("id_a", "id_b", ham.cast("long").alias("hamming")).filter(
        F.col("hamming") <= bound
    )


@register("multimodal_ahash_pairs", oracle=_ahash_oracle())
def multimodal_ahash_pairs(spark, sf):
    # IMAGE near-duplicate detection end to end: deterministic 8x8
    # grayscale BMPs decoded through the engine's zero-dependency
    # parser, reduced to a 64-bit average hash (_image_fp_frame),
    # banded into 4 x 16-bit keys, and paired by equi-join with a
    # Hamming<=6 verify — the image twin of dedup_simhash's shape. The
    # corpus is 50 groups of near-identical images (3 perturbed pixels
    # per doc), so the pair set is non-trivial in both directions.
    # Scale: ONE Arrow pass builds+decodes+hashes, banding bounds the
    # join to bucket collisions — never all-pairs.
    pairs = banded_pairs(_fp_keys(_image_fp_frame(spark, sf)), "doc_id", _FP_KEYS)
    return _hamming_pairs(pairs, ["w_lo", "w_hi"], bound=6)


def _dct_basis() -> list:
    """Flat 8x8 integer DCT-II basis: C[u][x] = round(1e4 *
    cos(pi*(2x+1)u/16)). Computed ONCE here and embedded as literals in
    BOTH engines' expressions, so the hash is pure int64 arithmetic —
    no engine-libm cos() in the data path (Math.cos and libm cos can
    disagree in the last ulp, which a median-compare would amplify
    into flipped bits)."""
    import math

    return [
        round(math.cos(math.pi * (2 * x + 1) * u / 16.0) * 10_000)
        for u in range(8)
        for x in range(8)
    ]


def _phash_oracle() -> str:
    mm = md5_mod_sql

    base_i = mm("concat(CAST(doc_id % 50 AS VARCHAR), ':px:', CAST(i AS VARCHAR))", 256)
    pp = [mm(f"concat(CAST(doc_id AS VARCHAR), ':pp:{j}')", 64) for j in range(3)]
    pv = [mm(f"concat(CAST(doc_id AS VARCHAR), ':pv:{j}')", 256) for j in range(3)]
    cb = "[" + ", ".join(f"CAST({c} AS BIGINT)" for c in _dct_basis()) + "]"
    coeffs = (
        "list_transform(generate_series(0, 63), k -> "
        "list_sum(list_transform(generate_series(0, 63), i -> "
        f"gs[i + 1] * cb[(k % 8) * 8 + (i % 8) + 1]"
        f" * cb[(k // 8) * 8 + (i // 8) + 1])))"
    )
    return f"""
    WITH px AS (
      SELECT doc_id,
             {pp[0]} AS p0, {pv[0]} AS v0,
             {pp[1]} AS p1, {pv[1]} AS v1,
             {pp[2]} AS p2, {pv[2]} AS v2,
             list_transform(generate_series(0, 63), i -> CAST({base_i} AS BIGINT)) AS base
      FROM documents
    ), g AS (
      SELECT doc_id,
             list_transform(generate_series(0, 63), i ->
               CASE WHEN i = p2 THEN CAST(v2 AS BIGINT)
                    WHEN i = p1 THEN CAST(v1 AS BIGINT)
                    WHEN i = p0 THEN CAST(v0 AS BIGINT)
                    ELSE base[i + 1] END) AS gs
      FROM px
    ), dct AS (
      SELECT doc_id, co[1] AS dc_coeff,
             list_sort(co[2:64])[32] AS med, co
      FROM (SELECT doc_id, {coeffs} AS co
            FROM (SELECT doc_id, gs, {cb} AS cb FROM g))
    )
    SELECT doc_id, CAST(dc_coeff AS BIGINT) AS dc_coeff,
           CAST(med AS BIGINT) AS med,
           CAST(list_sum(list_transform(generate_series(1, 63), k ->
             CASE WHEN co[k + 1] > med THEN (CAST(1 AS BIGINT) << (k - 1))
                  ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS phash
    FROM dct
    """


@register("multimodal_phash_dct", oracle=_phash_oracle())
def multimodal_phash_dct(spark, sf):
    # DCT perceptual hash over the SAME real-BMP image corpus as
    # multimodal_ahash_pairs: build deterministic 8x8 grayscale BMP
    # bytes, decode them through the engine's zero-dependency parser
    # (a decode bug breaks the oracle match), 2D DCT-II against a
    # shared INTEGER basis (cos values scaled to 1e4 and rounded at
    # build time — see _dct_basis: no engine-libm trig in the data
    # path), then the classic pHash bit rule: bit k = AC coefficient k
    # above the median of the 63 AC coefficients. Where ahash responds
    # to per-pixel brightness, pHash responds to the image's frequency
    # STRUCTURE — robust to uniform brightness shifts that flip every
    # ahash bit. |coeff| <= 255 * 1e4 * 1e4 * 64 ~ 1.6e15: exact int64
    # on both engines. Scale: one Arrow pass, 8 bytes of output state
    # per image, no shuffle at all.
    import hashlib

    import pandas as pd

    def mm(s: str, mod: int) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16) % mod

    basis = _dct_basis()

    def build_and_hash(batches):
        import struct

        import numpy as np

        from dataingestionplayground_spark.sources.multimodal import bmp_pixels

        C = np.array(basis, dtype=np.int64).reshape(8, 8)
        for pdf in batches:
            out = []
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                gid = doc_id % 50
                g = [mm(f"{gid}:px:{i}", 256) for i in range(64)]
                for j in range(3):
                    g[mm(f"{doc_id}:pp:{j}", 64)] = mm(f"{doc_id}:pv:{j}", 256)
                rows = b"".join(
                    bytes(b for c in range(8) for b in (g[r * 8 + c],) * 3)
                    for r in range(7, -1, -1)
                )
                data = (
                    b"BM"
                    + struct.pack("<IHHI", 54 + len(rows), 0, 0, 54)
                    + struct.pack("<IiiHHIIiiII", 40, 8, 8, 1, 24, 0,
                                  len(rows), 2835, 2835, 0, 0)
                    + rows
                )
                _w, _h, rgb = bmp_pixels(data)
                G = rgb[:, :, 0].astype(np.int64).reshape(8, 8)
                # M[v, u] = sum_{x,y} G[y, x] * C[u][x] * C[v][y]
                M = (C @ G @ C.T).ravel()
                ac = np.sort(M[1:])
                med = int(ac[31])  # lower median of the 63 AC coeffs
                phash = 0
                for k in range(1, 64):
                    if int(M[k]) > med:
                        phash |= 1 << (k - 1)
                out.append((doc_id, int(M[0]), med, phash))
            yield pd.DataFrame(
                out, columns=["doc_id", "dc_coeff", "med", "phash"]
            )

    d = t(spark, sf, "documents").select("doc_id")
    return d.mapInPandas(
        build_and_hash, "doc_id long, dc_coeff long, med long, phash long"
    )


@register(
    "multimodal_audio_energy",
    oracle="""
    WITH s AS (
      SELECT doc_id, u.i AS i,
             ((doc_id * 7 + u.i * 13) % 4096) - 2048 AS v
      FROM documents, (SELECT unnest(generate_series(0, 1023)) AS i) u
    ), lagged AS (
      SELECT doc_id, i, v,
             lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS prev
      FROM s
    )
    SELECT CAST(doc_id AS VARCHAR) AS media_id,
           CAST(i // 256 AS INTEGER) AS frame_idx,
           round(sqrt(CAST(SUM(v * v) AS DOUBLE) / 256.0), 6) AS rms,
           CAST(SUM(CASE WHEN i % 256 > 0 AND (v >= 0) <> (prev >= 0)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_cross
    FROM lagged
    GROUP BY doc_id, i // 256
    """,
)
def multimodal_audio_energy(spark, sf):
    # Audio plumbing end to end: a deterministic PCM16 payload is packed
    # into REAL little-endian int16 bytes (sources/multimodal.synth_pcm16,
    # one Arrow pass), then a second Arrow pass unpacks the BINARY
    # column, frames it (4 x 256 samples), and emits per-frame RMS
    # energy + zero-crossing counts — the feature-extraction stage an
    # audio corpus runs before language-ID/VAD filtering. The oracle
    # recomputes both metrics from the sample CLOSED FORM, so a hash
    # match proves the pack -> bytes -> unpack -> frame path is
    # byte-exact (sum-of-squares and crossings are integer-exact; rms
    # is the only rounded double). Scale: per-row bounded work, no
    # shuffle in either Arrow stage — partitioning flows through from
    # the scan, like the BMP decode pipeline.
    from dataingestionplayground_spark.sources.multimodal import (
        audio_frame_features,
        synth_pcm16,
    )

    d = t(spark, sf, "documents")
    return audio_frame_features(synth_pcm16(d, "doc_id"))


def _hamming_sweep_oracle() -> str:
    # compose the registered ahash-pairs oracle (the dedup_threshold_
    # sweep pattern applied to the image modality)
    from dataingestionplayground_spark.queries import REGISTRY as _R

    return f"""
    WITH pairs AS MATERIALIZED (
      SELECT id_a, id_b, hamming FROM ({_R['multimodal_ahash_pairs'].oracle})
    ), thr AS (
      SELECT CAST(unnest([0, 2, 4, 6]) AS BIGINT) AS threshold
    ), hits AS (
      SELECT t.threshold, CAST(COUNT(*) AS BIGINT) AS n_pairs
      FROM thr t JOIN pairs p ON p.hamming <= t.threshold
      GROUP BY t.threshold
    ), imgs AS (
      SELECT threshold, CAST(COUNT(DISTINCT d) AS BIGINT) AS n_images
      FROM (
        SELECT t.threshold, p.id_a AS d FROM thr t JOIN pairs p ON p.hamming <= t.threshold
        UNION
        SELECT t.threshold, p.id_b AS d FROM thr t JOIN pairs p ON p.hamming <= t.threshold
      ) GROUP BY threshold
    )
    SELECT t.threshold,
           coalesce(h.n_pairs, 0) AS n_pairs,
           coalesce(i.n_images, 0) AS n_images
    FROM thr t
    LEFT JOIN hits h ON h.threshold = t.threshold
    LEFT JOIN imgs i ON i.threshold = t.threshold
    """


@register("multimodal_hamming_threshold_sweep", oracle=_hamming_sweep_oracle())
def multimodal_hamming_threshold_sweep(spark, sf):
    # The image-dedup OPERATING-POINT table: pairs and distinct images
    # linked by the production average-hash banding at Hamming radius
    # 0 / 2 / 4 / 6 — dedup_threshold_sweep's slider applied to the
    # image modality (radius 0 is byte-identical 8x8 content; 6 is the
    # shipped verify bound). Composes the REGISTERED
    # multimodal_ahash_pairs (same Arrow build+decode+hash pass, same
    # banding) so the sweep can never grade a different hash than the
    # pipeline ships. Scale shape: the pair frame is banding-bounded;
    # the sweep is a 4-row broadcast theta-join + two small aggs.
    from dataingestionplayground_spark.queries import REGISTRY as _R

    # consumed twice (pair + image counts): checkpoint the banded pair
    # frame so the Arrow build+decode+hash pass runs once
    pairs = _R["multimodal_ahash_pairs"].fn(spark, sf).localCheckpoint(eager=True)
    thr = spark.createDataFrame([(0,), (2,), (4,), (6,)], "threshold long")
    qual = pairs.crossJoin(F.broadcast(thr)).filter(
        F.col("hamming") <= F.col("threshold")
    )
    hits = qual.groupBy("threshold").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs")
    )
    imgs = (
        qual.select("threshold", F.explode(F.array("id_a", "id_b")).alias("d"))
        .groupBy("threshold")
        .agg(F.count_distinct("d").cast("long").alias("n_images"))
    )
    return (
        thr.join(F.broadcast(hits), "threshold", "left")
        .join(F.broadcast(imgs), "threshold", "left")
        .select(
            "threshold",
            F.coalesce(F.col("n_pairs"), F.lit(0)).cast("long").alias("n_pairs"),
            F.coalesce(F.col("n_images"), F.lit(0)).cast("long").alias("n_images"),
        )
    )


def _phash_confirm_oracle() -> str:
    # compose the registered ahash PAIR set with the registered phash
    # CODES — the retriever-agreement pattern for the image hashes
    from dataingestionplayground_spark.queries import REGISTRY as _R

    return f"""
    WITH pairs AS MATERIALIZED (
      SELECT id_a, id_b, hamming AS ahash_hamming
      FROM ({_R['multimodal_ahash_pairs'].oracle})
    ), ph AS MATERIALIZED (
      SELECT doc_id, phash FROM ({_R['multimodal_phash_dct'].oracle})
    ), scored AS (
      SELECT p.id_a, p.id_b, p.ahash_hamming,
             CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS phash_hamming
      FROM pairs p
      JOIN ph a ON a.doc_id = p.id_a
      JOIN ph b ON b.doc_id = p.id_b
    )
    SELECT ahash_hamming,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           round(CAST(SUM(CAST(phash_hamming AS DECIMAL(38,6))) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS avg_phash_hamming,
           CAST(SUM(CASE WHEN phash_hamming <= 10 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_confirmed,
           round(CAST(SUM(CASE WHEN phash_hamming <= 10 THEN 1 ELSE 0 END)
                      AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS confirm_rate
    FROM scored GROUP BY ahash_hamming
    """


@register("multimodal_phash_confirm", oracle=_phash_confirm_oracle())
def multimodal_phash_confirm(spark, sf):
    # SECOND-HASH CONFIRMATION of the image near-dup pairs: for every
    # ahash-banded pair, the DCT perceptual-hash Hamming distance and
    # the fraction confirmed at phash <= 10 — the two hashes fail
    # differently (ahash = brightness layout, phash = frequency
    # structure), so pairs both agree on are safe to auto-collapse
    # while ahash-only pairs go to review; the
    # retrieval_bm25_ql_agreement pattern applied to the image
    # modality. Composes the two REGISTERED queries; the pair frame is
    # banding-bounded and the phash table joins it twice by doc key.
    from dataingestionplayground_spark.queries import REGISTRY as _R

    pairs = (
        _R["multimodal_ahash_pairs"].fn(spark, sf)
        .select("id_a", "id_b", F.col("hamming").alias("ahash_hamming"))
    )
    ph = _R["multimodal_phash_dct"].fn(spark, sf).select("doc_id", "phash")
    scored = (
        pairs.join(
            ph.select(F.col("doc_id").alias("id_a"), F.col("phash").alias("ph_a")),
            "id_a",
        )
        .join(
            ph.select(F.col("doc_id").alias("id_b"), F.col("phash").alias("ph_b")),
            "id_b",
        )
        .select(
            "ahash_hamming",
            F.bit_count(F.col("ph_a").bitwiseXOR(F.col("ph_b")))
            .cast("long")
            .alias("phash_hamming"),
        )
    )
    conf = F.when(F.col("phash_hamming") <= 10, 1).otherwise(0)
    return scored.groupBy("ahash_hamming").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.round(
            F.sum(F.col("phash_hamming").cast("decimal(38,6)")).cast("double")
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("avg_phash_hamming"),
        F.sum(conf).cast("long").alias("n_confirmed"),
        F.round(
            F.sum(conf).cast("double") / F.count(F.lit(1)).cast("double"), 6
        ).alias("confirm_rate"),
    )


def _audio_vad_gate_oracle() -> str:
    # compose the registered per-frame energy oracle (the composite
    # rule: the gate can never grade different frames than the feature
    # query ships)
    from dataingestionplayground_spark.queries import REGISTRY as _R

    return f"""
    WITH fr AS MATERIALIZED (
      SELECT media_id, rms FROM ({_R['multimodal_audio_energy'].oracle})
    )
    SELECT media_id,
           CAST(COUNT(*) AS BIGINT) AS n_frames,
           CAST(SUM(CASE WHEN rms >= 1200.0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_active,
           round(CAST(SUM(CASE WHEN rms >= 1200.0 THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS active_ratio,
           (SUM(CASE WHEN rms >= 1200.0 THEN 1 ELSE 0 END) * 2 >= COUNT(*))
             AS keep
    FROM fr GROUP BY media_id
    """


def _audio_bands_sql() -> str:
    """Self-contained WITH-subquery yielding the audio-modality banded
    fingerprint table bands(doc_id, band_idx, band_lo, band_hi, w_lo,
    w_hi) — the closed-form twin of ``_bands4(_audio_fp_frame(...))``;
    shared by the pair oracle and the dedup-card oracle."""
    mm = md5_mod_sql

    base_i = (
        mm("concat(CAST(gid AS VARCHAR), ':au:', CAST(i AS VARCHAR))", 4096)
        + " - 2048"
    )
    pp = [mm(f"concat(CAST(doc_id AS VARCHAR), ':ap:{j}')", 1024) for j in range(2)]
    pv = [
        "(" + mm(f"concat(CAST(doc_id AS VARCHAR), ':av:{j}')", 4096) + " - 2048)"
        for j in range(2)
    ]
    word = (
        "CAST(list_sum(list_transform(generate_series({lo}, {hi}), j -> "
        "CASE WHEN e[((j + 1) % 64) + 1] > e[j + 1] "
        "THEN (CAST(1 AS BIGINT) << (j - {lo})) ELSE CAST(0 AS BIGINT) END)) "
        "AS BIGINT)"
    )
    return f"""
    WITH gids AS (
      SELECT DISTINCT doc_id % 40 AS gid FROM documents
    ), gbase AS (
      SELECT gid, list_transform(generate_series(0, 1023), i -> {base_i}) AS base
      FROM gids
    ), px AS (
      SELECT d.doc_id, gb.base,
             {pp[0]} AS p0, {pv[0]} AS v0,
             {pp[1]} AS p1, {pv[1]} AS v1
      FROM documents d JOIN gbase gb ON gb.gid = d.doc_id % 40
    ), g AS (
      SELECT doc_id,
             list_transform(generate_series(0, 1023), i ->
               CASE WHEN i = p1 THEN v1 WHEN i = p0 THEN v0
                    ELSE base[i + 1] END) AS vs
      FROM px
    ), es AS (
      SELECT doc_id,
             list_transform(generate_series(0, 63), j ->
               list_sum(list_transform(generate_series(16 * j, 16 * j + 15),
                                       i -> vs[i + 1] * vs[i + 1]))) AS e
      FROM g
    ), fp AS (
      SELECT doc_id, {word.format(lo=0, hi=31)} AS w_lo,
             {word.format(lo=32, hi=63)} AS w_hi
      FROM es
    )
    SELECT doc_id, 0 AS band_idx, w_lo % 65536 AS band_lo,
           CAST(0 AS BIGINT) AS band_hi, w_lo, w_hi FROM fp
    UNION ALL
    SELECT doc_id, 1, w_lo // 65536, CAST(0 AS BIGINT), w_lo, w_hi FROM fp
    UNION ALL
    SELECT doc_id, 2, w_hi % 65536, CAST(0 AS BIGINT), w_lo, w_hi FROM fp
    UNION ALL
    SELECT doc_id, 3, w_hi // 65536, CAST(0 AS BIGINT), w_lo, w_hi FROM fp
    """


def _audio_fp_oracle() -> str:
    return f"""
    WITH bands AS ({_audio_bands_sql()}),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             a.w_lo AS lo_a, a.w_hi AS hi_a, b.w_lo AS lo_b, b.w_hi AS hi_b
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_lo = b.band_lo
       AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b,
           CAST(bit_count(xor(lo_a, lo_b)) + bit_count(xor(hi_a, hi_b))
                AS BIGINT) AS hamming
    FROM cand
    WHERE bit_count(xor(lo_a, lo_b)) + bit_count(xor(hi_a, hi_b)) <= 6
    """


def _audio_fp_frame(spark, sf):
    """(doc_id, w_lo, w_hi) chromaprint-style fingerprints of the
    deterministic audio corpus: clips (40 groups of near-identical
    waveforms, 2 perturbed samples per doc) packed into REAL
    little-endian PCM16 bytes, decoded back through the shared
    pcm16_samples parser (a decode bug breaks the oracle match),
    fingerprinted as 64 sub-frame energies (16 samples each, exact
    int64 sum of squares) with bit j = energy rises into sub-frame j+1
    (cyclic). Energy DELTAS (not levels) are the chromaprint trick: a
    uniform gain change flips no bits. ONE Arrow pass; per-group base
    waveforms computed once per batch. Shared by the pair query and
    the dedup card so both grade the same fingerprints."""
    import hashlib

    import pandas as pd

    def mm(s: str, mod: int) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16) % mod

    def build_and_fp(batches):
        import numpy as np

        from dataingestionplayground_spark.sources.multimodal import (
            pcm16_samples,
        )

        base_cache = {}
        for pdf in batches:
            out = []
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                gid = doc_id % 40
                if gid not in base_cache:
                    base_cache[gid] = np.array(
                        [mm(f"{gid}:au:{i}", 4096) - 2048 for i in range(1024)],
                        dtype=np.int64,
                    )
                v = base_cache[gid].copy()
                for j in range(2):
                    v[mm(f"{doc_id}:ap:{j}", 1024)] = (
                        mm(f"{doc_id}:av:{j}", 4096) - 2048
                    )
                data = v.astype("<i2").tobytes()  # REAL PCM16 payload
                s = pcm16_samples(data)  # decode the real bytes back
                e = (s.reshape(64, 16) ** 2).sum(axis=1)
                bits = [
                    1 if int(e[(j + 1) % 64]) > int(e[j]) else 0
                    for j in range(64)
                ]
                w_lo = sum(b << i for i, b in enumerate(bits[:32]))
                w_hi = sum(b << i for i, b in enumerate(bits[32:]))
                out.append((doc_id, w_lo, w_hi))
            yield pd.DataFrame(out, columns=["doc_id", "w_lo", "w_hi"])

    d = t(spark, sf, "documents").select("doc_id")
    return d.mapInPandas(build_and_fp, "doc_id long, w_lo long, w_hi long")


@register("multimodal_audio_fp_pairs", oracle=_audio_fp_oracle())
def multimodal_audio_fp_pairs(spark, sf):
    # AUDIO near-duplicate detection end to end — the audio twin of
    # multimodal_ahash_pairs: chromaprint-style 64-bit fingerprints
    # over REAL PCM16 bytes (_audio_fp_frame), banded into 4 x 16-bit
    # keys, paired by equi-join with a Hamming<=6 verify. Scale: ONE Arrow pass builds+decodes+
    # fingerprints, banding bounds the join to bucket collisions —
    # never all-pairs.
    pairs = banded_pairs(_fp_keys(_audio_fp_frame(spark, sf)), "doc_id", _FP_KEYS)
    return _hamming_pairs(pairs, ["w_lo", "w_hi"], bound=6)


# --- video corpus constants (shared literals in BOTH engines' closed
# forms, like the audio/image twins above) ---
_V_FRAMES = 32  # frames per clip
_V_SCENE = 8  # frames per scene -> 4 scenes per clip
_V_GROUPS = 40  # near-identical clip groups (gid = doc_id % 40)
_V_CUT = 10  # ahash-delta > _V_CUT starts a new shot (a "cut")
# canonical bound lives in sources/multimodal.py (importable standalone,
# so the streaming screen's verify leg shares the literal)
_V_PAIR_T = _mm_const.VIDEO_PAIR_HAMMING_T  # = 12
_V_WORDS = ["w0", "w1", "w2", "w3"]  # packed keyframe hashes, one per scene slot


def _video_frame_hashes(spark, sf, keyframes_only: bool = False, packed: bool = False):
    """(doc_id, frame_idx, w_lo, w_hi) per frame of the deterministic
    video corpus: per doc a 32-frame clip (4 scenes x 8 frames; docs
    sharing gid = doc_id % 40 share scene base images, 2 per-doc pixel
    perturbations), every frame packed as a REAL 8x8 24-bpp BMP, the
    clip packed into the REAL VID0 container
    (sources/multimodal.pack_video_frames), parsed back through the
    shared video_frames + bmp_pixels parsers (a container or BMP decode
    bug breaks the oracle hash match), and reduced to the same exact-
    integer 64-bit average hash as multimodal_ahash_pairs. ONE Arrow
    pass; per-doc state out is 8 bytes/frame; scene bases are computed
    once per (gid, batch), so the md5 work scales with groups, not
    rows. keyframes_only hashes just the scene-opening frames (0, 8,
    16, 24) after the full container parse — the frame-SAMPLE stage of
    a video pipeline. packed (implies keyframes_only) emits ONE row
    per clip with the 4 keyframe hashes as parallel arrays — the
    fingerprint-table layout the pair joins carry through the band
    shuffle so verification never re-joins."""
    import pandas as pd

    def build_decode_hash(batches):
        import numpy as np

        from dataingestionplayground_spark.sources.multimodal import (
            bmp_pixels,
            synth_video_clip,
            video_frames,
        )

        pow2 = 1 << np.arange(32, dtype=np.int64)
        scene_cache = {}
        for pdf in batches:
            out = []
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                data = synth_video_clip(
                    doc_id,
                    scene_cache,
                    frames=_V_FRAMES,
                    scene=_V_SCENE,
                    groups=_V_GROUPS,
                )
                ws = []
                for f, payload in enumerate(video_frames(data)):
                    if (keyframes_only or packed) and f % _V_SCENE:
                        continue
                    _w, _h, rgb = bmp_pixels(payload)  # decode real BMP
                    dec = rgb[:, :, 0].astype(np.int64).ravel()
                    bits = 64 * dec >= int(dec.sum())
                    lo, hi = int(bits[:32] @ pow2), int(bits[32:] @ pow2)
                    if packed:
                        # one SIGNED int64 per scene hash (lo | hi<<32,
                        # two's-complement wrap): equality and
                        # XOR+POPCNT on the packed word are exactly
                        # equality / summed Hamming on the (lo, hi)
                        # pair, and the flat columns keep the pair
                        # join inside whole-stage codegen (array
                        # lambdas are interpreted per row)
                        w = lo | (hi << 32)
                        ws.append(w - (1 << 64) if w >= 1 << 63 else w)
                    else:
                        out.append((doc_id, f, lo, hi))
                if packed:
                    out.append((doc_id, *ws))
            cols = (
                ["doc_id", "w0", "w1", "w2", "w3"]
                if packed
                else ["doc_id", "frame_idx", "w_lo", "w_hi"]
            )
            yield pd.DataFrame(out, columns=cols)

    d = t(spark, sf, "documents").select("doc_id")
    schema = (
        "doc_id long, w0 long, w1 long, w2 long, w3 long"
        if packed
        else "doc_id long, frame_idx int, w_lo long, w_hi long"
    )
    return d.mapInPandas(build_decode_hash, schema)


def _video_hashed_cte(keyframes_only: bool) -> str:
    """The oracle's closed-form twin of _video_frame_hashes, as a CTE
    chain ending in hashed(doc_id, frame_idx, w_lo, w_hi)."""
    mm = md5_mod_sql

    base_i = mm(
        "concat(CAST(gid AS VARCHAR), ':vs', CAST(scene_idx AS VARCHAR),"
        " ':', CAST(i AS VARCHAR))",
        256,
    )
    pf = [
        mm(f"concat(CAST(doc_id AS VARCHAR), ':vfp:{j}')", _V_FRAMES)
        for j in range(2)
    ]
    pp = [mm(f"concat(CAST(doc_id AS VARCHAR), ':vpp:{j}')", 64) for j in range(2)]
    pv = [mm(f"concat(CAST(doc_id AS VARCHAR), ':vpv:{j}')", 256) for j in range(2)]
    word = (
        "CAST(list_sum(list_transform(generate_series({lo}, {hi}), i -> "
        "CASE WHEN 64 * gs[i + 1] >= s THEN (CAST(1 AS BIGINT) << (i - {lo})) "
        "ELSE CAST(0 AS BIGINT) END)) AS BIGINT)"
    )
    frame_src = (
        "SELECT unnest([0, 8, 16, 24]) AS f"
        if keyframes_only
        else "SELECT unnest(generate_series(0, 31)) AS f"
    )
    return f"""
    gids AS (
      SELECT DISTINCT doc_id % {_V_GROUPS} AS gid FROM documents
    ), scenes AS (
      SELECT gid, scene_idx,
             list_transform(generate_series(0, 63), i -> {base_i}) AS base
      FROM gids, (SELECT unnest(generate_series(0, 3)) AS scene_idx)
    ), px AS (
      SELECT d.doc_id, fr.f AS frame_idx, sc.base,
             {pf[0]} AS f0, {pp[0]} AS p0, {pv[0]} AS v0,
             {pf[1]} AS f1, {pp[1]} AS p1, {pv[1]} AS v1
      FROM documents d
      CROSS JOIN ({frame_src}) fr
      JOIN scenes sc ON sc.gid = d.doc_id % {_V_GROUPS}
                    AND sc.scene_idx = fr.f // {_V_SCENE}
    ), g AS (
      SELECT doc_id, frame_idx,
             list_transform(generate_series(0, 63), i ->
               CASE WHEN frame_idx = f1 AND i = p1 THEN v1
                    WHEN frame_idx = f0 AND i = p0 THEN v0
                    ELSE base[i + 1] END) AS gs
      FROM px
    ), hashed AS (
      SELECT doc_id, frame_idx, {word.format(lo=0, hi=31)} AS w_lo,
             {word.format(lo=32, hi=63)} AS w_hi
      FROM (SELECT doc_id, frame_idx, gs, list_sum(gs) AS s FROM g)
    )"""


def _video_cuts_oracle() -> str:
    return f"""
    WITH {_video_hashed_cte(keyframes_only=False)},
    deltas AS (
      SELECT doc_id,
             CAST(bit_count(xor(w_lo, lag(w_lo) OVER w)) +
                  bit_count(xor(w_hi, lag(w_hi) OVER w)) AS BIGINT) AS d
      FROM hashed WINDOW w AS (PARTITION BY doc_id ORDER BY frame_idx)
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_frames,
           CAST(SUM(CASE WHEN d > {_V_CUT} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_cuts,
           CAST(SUM(CASE WHEN d > {_V_CUT} THEN 1 ELSE 0 END) + 1 AS BIGINT)
             AS n_keyframes
    FROM deltas GROUP BY doc_id
    """


@register("multimodal_video_scene_cuts", oracle=_video_cuts_oracle())
def multimodal_video_scene_cuts(spark, sf):
    # VIDEO shot-boundary detection end to end — the frame-SAMPLING
    # stage a video curation pipeline runs before captioning/dedup:
    # deterministic 32-frame clips (4 scenes x 8 frames, 40
    # near-identical groups) are packed frame-by-frame into REAL BMP
    # bytes inside the REAL VID0 container, parsed back through the
    # shared container+BMP parsers, per-frame average-hashed, and a cut
    # is declared where the hash delta to the previous frame exceeds
    # _V_CUT bits (scene boundaries flip ~32 of 64 bits; in-scene
    # frames flip 0-2). Output: per clip, frame / cut / keyframe
    # counts. Scale: one Arrow pass, then a lag window PARTITIONED BY
    # clip (bounded 32-row partitions) and one hash agg — no
    # unpartitioned window, no driver collect.
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy("frame_idx")
    fr = _video_frame_hashes(spark, sf)
    d = fr.select(
        "doc_id",
        (
            F.bit_count(F.col("w_lo").bitwiseXOR(F.lag("w_lo").over(w)))
            + F.bit_count(F.col("w_hi").bitwiseXOR(F.lag("w_hi").over(w)))
        )
        .cast("long")
        .alias("d"),
    )
    cut = F.sum(F.when(F.col("d") > _V_CUT, 1).otherwise(0))
    return d.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_frames"),
        cut.cast("long").alias("n_cuts"),
        (cut + F.lit(1)).cast("long").alias("n_keyframes"),
    )


def _video_fp_oracle() -> str:
    return f"""
    WITH {_video_hashed_cte(keyframes_only=True)},
    fps AS (
      SELECT doc_id, frame_idx // {_V_SCENE} AS scene_idx, w_lo, w_hi
      FROM hashed
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM fps a JOIN fps b
        ON a.scene_idx = b.scene_idx AND a.w_lo = b.w_lo
       AND a.w_hi = b.w_hi AND a.doc_id < b.doc_id
    ), scored AS (
      SELECT c.id_a, c.id_b,
             CAST(SUM(bit_count(xor(a.w_lo, b.w_lo)) +
                      bit_count(xor(a.w_hi, b.w_hi))) AS BIGINT) AS hamming
      FROM cand c
      JOIN fps a ON a.doc_id = c.id_a
      JOIN fps b ON b.doc_id = c.id_b AND b.scene_idx = a.scene_idx
      GROUP BY c.id_a, c.id_b
    )
    SELECT id_a, id_b, hamming FROM scored WHERE hamming <= {_V_PAIR_T}
    """


@register("multimodal_video_fp_pairs", oracle=_video_fp_oracle())
def multimodal_video_fp_pairs(spark, sf):
    # VIDEO near-duplicate detection — the keyframe-fingerprint inverted
    # index: each clip's scene-opening frames (0/8/16/24, selected AFTER
    # the full VID0 container parse — the frame-sample stage) are
    # average-hashed; candidates are clips sharing at least one EXACT
    # keyframe hash at the same scene position (the banding trick with
    # the scene slot as the band index, never all-pairs); verification
    # sums the Hamming distance across all 4 aligned keyframes and
    # keeps pairs within _V_PAIR_T bits. Same shape a PB-scale video
    # dedup uses: the inverted index bounds candidates to exact-hash
    # collisions, the verify re-scores only those. Scale: ONE shuffle
    # total — the four packed keyframe hashes are banded_pairs' band
    # keys and ride along on every band row, so Hamming is four
    # POPCNTs over the carried hashes (no verify re-join), and each
    # pair is emitted once, at its first colliding slot (no distinct).
    fps = _video_frame_hashes(spark, sf, packed=True)
    return _hamming_pairs(banded_pairs(fps, "doc_id", _V_WORDS), _V_WORDS, _V_PAIR_T)


_V_DROP = _mm_const.VIDEO_DROP_T  # = 4: auto-drop bound (report bound = _V_PAIR_T)


def _video_incr_oracle() -> str:
    return f"""
    WITH {_video_hashed_cte(keyframes_only=True)},
    fps AS (
      SELECT doc_id, frame_idx // {_V_SCENE} AS scene_idx, w_lo, w_hi
      FROM hashed
    ), nf AS (
      SELECT * FROM fps WHERE doc_id % 7 = 0
    ), of AS (
      SELECT * FROM fps WHERE doc_id % 7 <> 0
    ), cand AS (
      SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS old_id
      FROM nf n JOIN of o
        ON n.scene_idx = o.scene_idx AND n.w_lo = o.w_lo AND n.w_hi = o.w_hi
    ), scored AS (
      SELECT c.new_id, c.old_id,
             CAST(SUM(bit_count(xor(a.w_lo, b.w_lo)) +
                      bit_count(xor(a.w_hi, b.w_hi))) AS BIGINT) AS hamming
      FROM cand c
      JOIN nf a ON a.doc_id = c.new_id
      JOIN of b ON b.doc_id = c.old_id AND b.scene_idx = a.scene_idx
      GROUP BY c.new_id, c.old_id
    )
    SELECT new_id, old_id, hamming, hamming <= {_V_DROP} AS would_drop
    FROM scored WHERE hamming <= {_V_PAIR_T}
    """


@register("multimodal_video_fp_incremental", oracle=_video_incr_oracle())
def multimodal_video_fp_incremental(spark, sf):
    # Incremental VIDEO near-dup screening — the asymmetric form an
    # ingest pipeline runs per batch (the dedup_lsh_incremental pattern
    # applied to the keyframe inverted index): an ARRIVING batch of
    # clips (doc_id % 7 == 0 — 7 is coprime with the 40 clip groups,
    # so every group spans both slices; ~14% "new") probes the EXISTING
    # corpus's (scene slot, keyframe hash) index instead of re-pairing
    # the whole corpus against itself. Candidates verify by aligned
    # keyframe Hamming (<= _V_PAIR_T reported, <= _V_DROP flagged for
    # auto-drop). Scale: the batch-side band table is O(batch); the
    # corpus side is a maintained signature table at warehouse scale
    # (zero per-run corpus decode); banded_pairs' batch-vs-corpus form
    # carries both fingerprints, so there is no verify re-join and no
    # distinct (first-colliding-slot rule) — the same plan as the
    # self-join pairs, just asymmetric.
    fps = _video_frame_hashes(spark, sf, packed=True)
    batch = F.col("doc_id") % 7 == 0
    pairs = banded_pairs(fps.filter(batch), "doc_id", _V_WORDS, fps.filter(~batch))
    return _hamming_pairs(pairs, _V_WORDS, _V_PAIR_T).select(
        F.col("id_a").alias("new_id"),
        F.col("id_b").alias("old_id"),
        "hamming",
        (F.col("hamming") <= _V_DROP).alias("would_drop"),
    )


def _card_leg_sql(p: str, bands_sql: str, bound: int) -> tuple[str, str]:
    """(CTE chain, leg SELECT) for one modality of the dedup card —
    the closed-form twin of ``_card_band_stats``: rep-verified band
    groups, all LINEAR in band rows (no pair enumeration anywhere).
    ``p`` prefixes the CTE names so three legs share one WITH."""
    ctes = f"""
    {p}bands AS MATERIALIZED ({bands_sql}),
    {p}gs AS (
      SELECT band_idx, band_lo, band_hi,
             arg_min(w_lo, doc_id) AS rep_lo, arg_min(w_hi, doc_id) AS rep_hi
      FROM {p}bands GROUP BY band_idx, band_lo, band_hi
    ), {p}mem AS (
      SELECT b.doc_id, b.band_idx, b.band_lo, b.band_hi,
             bit_count(xor(b.w_lo, g.rep_lo)) + bit_count(xor(b.w_hi, g.rep_hi)) AS ham
      FROM {p}bands b JOIN {p}gs g USING (band_idx, band_lo, band_hi)
    ), {p}ver AS (
      SELECT band_idx, band_lo, band_hi, CAST(COUNT(*) AS BIGINT) AS m
      FROM {p}mem WHERE ham <= {bound} GROUP BY band_idx, band_lo, band_hi
    ), {p}bp AS (
      SELECT band_idx, SUM(m * (m - 1) // 2) AS pcnt FROM {p}ver GROUP BY band_idx
    ), {p}dup AS (
      SELECT DISTINCT e.doc_id
      FROM {p}mem e JOIN {p}ver v USING (band_idx, band_lo, band_hi)
      WHERE e.ham <= {bound} AND v.m >= 2
    )"""
    select = f"""
    SELECT '{p.rstrip("_")}' AS modality, n.n_items,
           (SELECT CAST(COALESCE(MAX(pcnt), 0) AS BIGINT) FROM {p}bp) AS est_pairs,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM {p}dup) AS n_dup_items,
           round((SELECT CAST(COUNT(*) AS DOUBLE) FROM {p}dup)
                 / CAST(n.n_items AS DOUBLE), 6) AS dup_item_rate
    FROM n"""
    return ctes, select


def _multimodal_card_oracle() -> str:
    # compose the three modalities' SHARED banded-fingerprint CTEs
    # (the composite-card rule: the card grades the same fingerprints
    # and band keys the dedup pipelines ship) into the rep-verified
    # group statistics of _card_band_stats
    video_bands = f"""
      WITH {_video_hashed_cte(keyframes_only=True)}
      SELECT doc_id, frame_idx // {_V_SCENE} AS band_idx,
             w_lo AS band_lo, w_hi AS band_hi, w_lo, w_hi
      FROM hashed"""
    legs = [
        _card_leg_sql("image_", _ahash_bands_sql(), 6),
        _card_leg_sql("audio_", _audio_bands_sql(), 6),
        _card_leg_sql("video_", video_bands, _V_PAIR_T),
    ]
    ctes = ",".join(c for c, _ in legs)
    union = "\n    UNION ALL\n".join(s for _, s in legs)
    return f"""
    WITH {ctes},
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_items FROM documents)
    {union}
    """


@register("multimodal_dedup_card", oracle=_multimodal_card_oracle())
def multimodal_dedup_card(spark, sf):
    # The CROSS-MODALITY dedup card a multimodal curation run reads
    # before mixing: per modality (image / audio / video), an estimated
    # near-dup pair mass, how many items verify as duplicates, and the
    # dup-item rate — computed from the SAME banded fingerprints the
    # dedup pipelines ship (shared _image_fp_frame/_audio_fp_frame/
    # _video_frame_hashes builders), but SUB-LINEAR IN PAIR MASS (r15
    # verdict item 4: exact pair counts are quadratic in dup-group size
    # — a rate card needs rates, not a pair enumeration). Per band
    # group: the min-doc_id REPRESENTATIVE's full fingerprint verifies
    # each member (Hamming <= the pipeline's own bound; exact-key video
    # groups verify trivially), m = verified group size; n_dup_items =
    # distinct verified members of m>=2 groups; est_pairs = MAX over
    # band_idx of SUM(m*(m-1)/2) — the densest single-band pairing
    # view, an arithmetic fold over group sizes, never a pair frame.
    # Every stage is a hash agg or co-partitioned join on the band key:
    # linear in band rows at any corpus size.
    n_docs = (
        t(spark, sf, "documents")
        .agg(F.count(F.lit(1)).cast("long").alias("n_items"))
        .localCheckpoint(eager=True)
    )
    video_bands = _video_frame_hashes(spark, sf, keyframes_only=True).select(
        "doc_id",
        F.expr(f"frame_idx div {_V_SCENE}").alias("band_idx"),
        F.col("w_lo").alias("band_lo"),
        F.col("w_hi").alias("band_hi"),
        "w_lo",
        "w_hi",
    )
    legs = []
    for modality, bands, bound in (
        ("image", _bands4(_image_fp_frame(spark, sf)), 6),
        ("audio", _bands4(_audio_fp_frame(spark, sf)), 6),
        ("video", video_bands, _V_PAIR_T),
    ):
        stats = _card_band_stats(bands, bound)
        legs.append(
            n_docs.crossJoin(F.broadcast(stats)).select(
                F.lit(modality).alias("modality"),
                "n_items",
                "est_pairs",
                "n_dup_items",
                F.round(
                    F.col("n_dup_items").cast("double")
                    / F.col("n_items").cast("double"),
                    6,
                ).alias("dup_item_rate"),
            )
        )
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out


def _card_band_stats(bands, bound: int):
    """One-row frame (est_pairs, n_dup_items) from a banded fingerprint
    frame (doc_id, band_idx, band_lo, band_hi, w_lo, w_hi) — the
    Spark side of _card_leg_sql. Linear in band rows: one agg picks the
    min-doc_id representative fingerprint per band group, one
    co-partitioned join scores every member against its rep, and the
    verified group sizes fold arithmetically (m*(m-1)/2) — no pair
    frame is ever materialized. The decode pass behind ``bands`` is
    localCheckpointed once; the two derived multi-consumer frames
    (verified members, verified group sizes) are checkpointed too, so
    nothing re-decodes and nothing quadratic sits on the heap."""
    keys = ["band_idx", "band_lo", "band_hi"]
    bands = bands.localCheckpoint(eager=True)  # one decode pass, 2 consumers
    gs = bands.groupBy(*keys).agg(
        F.min_by("w_lo", "doc_id").alias("rep_lo"),
        F.min_by("w_hi", "doc_id").alias("rep_hi"),
    )
    ham = F.bit_count(F.col("w_lo").bitwiseXOR(F.col("rep_lo"))) + F.bit_count(
        F.col("w_hi").bitwiseXOR(F.col("rep_hi"))
    )
    ok = (
        bands.join(gs, keys)
        .filter(ham <= F.lit(bound))
        .select("doc_id", *keys)
        .localCheckpoint(eager=True)  # 2 consumers: group sizes + dup items
    )
    ver = (
        ok.groupBy(*keys)
        .agg(F.count(F.lit(1)).cast("long").alias("m"))
        .localCheckpoint(eager=True)  # 2 consumers: pair fold + m>=2 filter
    )
    est = (
        ver.groupBy("band_idx")
        .agg(F.sum(F.expr("m * (m - 1) div 2")).alias("pcnt"))
        .agg(
            F.coalesce(F.max("pcnt"), F.lit(0)).cast("long").alias("est_pairs")
        )
    )
    dup = ok.join(
        ver.filter(F.col("m") >= 2).select(*keys), keys, "left_semi"
    ).agg(F.count_distinct("doc_id").cast("long").alias("n_dup_items"))
    return est.crossJoin(F.broadcast(dup))


@register("multimodal_audio_vad_gate", oracle=_audio_vad_gate_oracle())
def multimodal_audio_vad_gate(spark, sf):
    # The VAD-style drop-silent-clips gate an audio curation run applies
    # after feature extraction: per clip, the fraction of frames whose
    # RMS energy clears a literal activity bar (1200.0 — the corpus
    # median by construction, so both decisions occur), and keep =
    # "at least half the frames are active" decided on INTEGERS
    # (2 * n_active >= n_frames) so the boolean can never flip
    # cross-engine. Composes the registered multimodal_audio_energy
    # frames (the pack -> bytes -> unpack -> frame path already proven
    # byte-exact); one |clips|-key hash agg on top — no new shuffle
    # class, no extra Arrow pass.
    from dataingestionplayground_spark.queries import REGISTRY as _R

    fr = _R["multimodal_audio_energy"].fn(spark, sf).select("media_id", "rms")
    active = F.sum(F.when(F.col("rms") >= 1200.0, 1).otherwise(0))
    return fr.groupBy("media_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_frames"),
        active.cast("long").alias("n_active"),
        F.round(
            active.cast("double") / F.count(F.lit(1)).cast("double"), 6
        ).alias("active_ratio"),
        (active * F.lit(2) >= F.count(F.lit(1))).alias("keep"),
    )
