"""PDF plumbing (injected extractor), multimodal binary columns, and the
database row->document projection."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from dataingestionplayground_spark.sources.database import articles_to_elements
from dataingestionplayground_spark.sources.multimodal import (
    binary_with_metadata,
    decode_stub,
    extract_features,
    fake_decoder,
)
from dataingestionplayground_spark.sources.pdf import parse_pdf_df


def test_articles_to_elements_projection(spark):
    articles = spark.createDataFrame(
        [(7, "My Title", "line one\n\n   \nline two\r\nline three")],
        "Id long, Title string, Body string",
    )
    rows = articles_to_elements(articles).orderBy("block_idx").collect()
    # DatabaseIngestionReader.cs:42-63: H1 title + non-empty body lines
    assert rows[0].doc_id == "Article #7"
    assert rows[0].kind == "header" and rows[0].text == "My Title" and rows[0].level == 1
    assert rows[0].markdown == "# My Title"
    assert [r.text for r in rows[1:]] == ["line one", "line two", "line three"]
    assert [r.block_idx for r in rows] == [0, 1, 2, 3]
    assert all(r.kind == "paragraph" for r in rows[1:])


def test_pdf_plumbing_with_fake_extractor(spark):
    raw = spark.createDataFrame(
        [("a.pdf", b"%PDF-fake-1"), ("b.pdf", b"%PDF-fake-2")],
        "doc_id string, content binary",
    )

    def fake_extract(data: bytes):
        # two pages, block texts derived from the payload
        tag = data.decode()[-1]
        return [[f"page1 block {tag}", ""], [f"page2 block {tag}"]]

    rows = parse_pdf_df(raw, extractor=fake_extract).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert set(by_doc) == {"a.pdf", "b.pdf"}
    a = sorted(by_doc["a.pdf"], key=lambda r: (r.section_idx, r.block_idx))
    # one section per page (PdfReader.cs:21-25), empty blocks dropped
    assert [(r.section_idx, r.text) for r in a] == [(0, "page1 block 1"), (1, "page2 block 1")]


def test_pdf_default_extractor_falls_back_to_stdlib():
    from dataingestionplayground_spark.sources.pdf import default_extractor

    # no text layer -> empty pages, not an exception
    assert default_extractor(b"%PDF-1.4 empty") == []


def test_multimodal_metadata_jvm_side(spark):
    df = spark.createDataFrame(
        [("m1", "image/png", b"\x89PNG data"), ("m2", "audio/wav", None)],
        "id string, mt string, data binary",
    )
    media = binary_with_metadata(df, "id", "mt", "data")
    rows = {r.media_id: r for r in media.collect()}
    assert rows["m1"].n_bytes == 9
    assert len(rows["m1"].content_sha) == 64
    assert rows["m2"].n_bytes == 0


def test_multimodal_feature_extraction_fake_decoder(spark):
    df = spark.createDataFrame(
        [("m1", "image/png", b"payload-a"), ("m2", "image/jpeg", b"payload-b")],
        "id string, mt string, data binary",
    )
    media = binary_with_metadata(df, "id", "mt", "data")
    feats = extract_features(media, decoder=fake_decoder).collect()
    by_id = {r.media_id: r for r in feats}
    assert len(by_id["m1"].feature) == 8
    assert 16 <= by_id["m1"].width < 80
    # deterministic: same payload -> same feature
    feats2 = extract_features(media, decoder=fake_decoder).collect()
    assert {r.media_id: r.feature for r in feats2} == {r.media_id: r.feature for r in feats}


def test_multimodal_decode_stub_raises(spark):
    df = spark.createDataFrame([("m1", "image/png", b"x")], "id string, mt string, data binary")
    media = binary_with_metadata(df, "id", "mt", "data")
    with pytest.raises(Exception):  # NotImplementedError surfaces as PythonException
        extract_features(media, decoder=decode_stub).collect()


def test_build_documents_rollup(spark):
    from dataingestionplayground_spark.sources.documents import build_documents
    from dataingestionplayground_spark.sources.markdown import parse_markdown_df

    raw = spark.createDataFrame(
        [("a.md", "# Title\n\npara one\n\npara two"), ("b.md", "just text")],
        "doc_id string, content string",
    )
    docs = {r.doc_id: r for r in build_documents(parse_markdown_df(raw), "markdown").collect()}
    assert docs["a.md"].source == "markdown"
    assert len(docs["a.md"].sections) == 1
    sec = docs["a.md"].sections[0]
    assert sec.element_count == 3
    assert sec.markdown.startswith("# Title")
    assert docs["b.md"].sections[0].element_count == 1


def test_transform_media_ops(spark):
    from dataingestionplayground_spark.sources.multimodal import (
        binary_with_metadata,
        fake_transformer,
        transform_media,
    )

    df = spark.createDataFrame(
        [("v1", "video/mp4", bytes(range(100)))], "id string, mt string, data binary"
    )
    media = binary_with_metadata(df, "id", "mt", "data")
    resized = transform_media(media, "resize", 50, transformer=fake_transformer).collect()[0]
    assert resized.n_bytes == 50 and resized.op == "resize"
    sampled = transform_media(media, "frame_sample", 10, transformer=fake_transformer).collect()[0]
    assert sampled.n_bytes == 10  # every 10th byte of 100
    assert bytes(sampled.content) == bytes(range(100))[::10]


def test_pil_decoder_real_image():
    # exercised only where Pillow exists (skipped in this container)
    import pytest

    pytest.importorskip("PIL")
    import io

    from PIL import Image

    from dataingestionplayground_spark.sources.multimodal import pil_decoder

    buf = io.BytesIO()
    Image.new("RGB", (32, 16), (255, 0, 0)).save(buf, format="PNG")
    w, h, feat = pil_decoder("image/png", buf.getvalue())
    assert (w, h) == (32, 16)
    assert len(feat) == 8
    assert abs(feat[0] - 1.0) < 1e-6 and abs(feat[1]) < 1e-6  # solid red


def test_pil_decoder_raises_not_implemented_when_absent():
    import pytest

    try:
        import PIL  # noqa: F401

        pytest.skip("Pillow installed")
    except ImportError:
        pass
    from dataingestionplayground_spark.sources.multimodal import pil_decoder

    with pytest.raises(NotImplementedError, match="Pillow"):
        pil_decoder("image/png", b"\x89PNG")


def _make_bmp(pixels, bpp=24, top_down=False):
    """Build an uncompressed BI_RGB BMP from a row-major [[(r,g,b)..]..]
    grid — pure struct, so the decoder test carries its own fixture."""
    import struct

    h = len(pixels)
    w = len(pixels[0])
    nch = bpp // 8
    stride = ((bpp * w + 31) // 32) * 4
    rows = pixels if top_down else pixels[::-1]
    body = b""
    for row in rows:
        line = b""
        for (r, g, b) in row:
            line += bytes([b, g, r] + ([0] if nch == 4 else []))
        body += line + b"\x00" * (stride - len(line))
    pix_off = 14 + 40
    size = pix_off + len(body)
    header = struct.pack("<2sIHHI", b"BM", size, 0, 0, pix_off)
    dib = struct.pack(
        "<IiiHHIIiiII", 40, w, (-h if top_down else h), 1, bpp, 0, len(body), 2835, 2835, 0, 0
    )
    return header + dib + body


def test_bmp_decoder_exact_values():
    from dataingestionplayground_spark.sources.multimodal import bmp_decoder

    # 2x2: red, green / blue, white — exact channel means are known
    px = [[(255, 0, 0), (0, 255, 0)], [(0, 0, 255), (255, 255, 255)]]
    for bpp in (24, 32):
        for td in (False, True):
            w, h, feat = bmp_decoder("image/bmp", _make_bmp(px, bpp=bpp, top_down=td))
            assert (w, h) == (2, 2)
            assert feat[0] == feat[1] == feat[2] == 0.5  # each channel on in 2/4 px
            assert feat[6] == 1.0  # aspect
    # odd width exercises the 4-byte stride padding
    px3 = [[(10, 20, 30), (40, 50, 60), (70, 80, 90)]]
    w, h, feat = bmp_decoder("image/bmp", _make_bmp(px3))
    assert (w, h) == (3, 1)
    assert feat[0] == round((10 + 40 + 70) / 3 / 255.0, 6)


def test_bmp_decoder_runs_ungated_through_extract_features(spark):
    """The REAL (zero-dependency) decode path executes in CI: BMP decode
    through the same mapInPandas stage, bad payloads isolated per item."""
    from dataingestionplayground_spark.sources.multimodal import bmp_decoder

    bmp = _make_bmp([[(255, 0, 0), (0, 255, 0)], [(0, 0, 255), (255, 255, 255)]])
    media = binary_with_metadata(
        spark.createDataFrame(
            [("m1", "image/bmp", bmp), ("m2", "image/bmp", b"not a bmp")],
            "id string, mt string, data binary",
        ),
        "id",
        "mt",
        "data",
    )
    rows = {r.media_id: r for r in extract_features(media, decoder=bmp_decoder).collect()}
    assert rows["m1"].width == 2 and rows["m1"].height == 2
    assert rows["m1"].feature[0] == pytest.approx(0.5)
    assert rows["m2"].width is None and rows["m2"].feature is None  # isolation


def test_bmp_decoder_matches_pil_when_available():
    pytest.importorskip("PIL")
    from dataingestionplayground_spark.sources.multimodal import bmp_decoder, pil_decoder

    bmp = _make_bmp([[(12, 200, 7), (0, 9, 255), (128, 128, 128)]])
    assert bmp_decoder("image/bmp", bmp) == pil_decoder("image/bmp", bmp)


def test_synth_pcm16_bytes_are_real_int16le():
    """The packed payload is genuine little-endian PCM16: unpacking with
    stdlib struct (independent of the numpy pack path) reproduces the
    closed-form samples."""
    import struct

    import numpy as np

    from dataingestionplayground_spark.sources.multimodal import (
        AUDIO_SAMPLES,
    )

    doc_id = 42
    i = np.arange(AUDIO_SAMPLES, dtype=np.int64)
    expected = ((doc_id * 7 + i * 13) % 4096 - 2048).tolist()
    buf = ((doc_id * 7 + i * 13) % 4096 - 2048).astype("<i2").tobytes()
    assert len(buf) == 2 * AUDIO_SAMPLES
    unpacked = list(struct.unpack(f"<{AUDIO_SAMPLES}h", buf))
    assert unpacked == expected


def test_audio_frame_features_exact_and_isolated(spark):
    """Frame metrics match a hand computation on a tiny payload, and a
    malformed (odd-length) payload yields no frames instead of failing
    the job."""
    import math
    import struct

    from pyspark.sql import types as T

    from dataingestionplayground_spark.sources.multimodal import (
        audio_frame_features,
    )

    # 4 samples, frame=2: frames [3, -3] and [0, 5]
    good = struct.pack("<4h", 3, -3, 0, 5)
    schema = T.StructType(
        [
            T.StructField("media_id", T.StringType(), False),
            T.StructField("content", T.BinaryType(), True),
        ]
    )
    media = spark.createDataFrame(
        [("a", bytearray(good)), ("bad", bytearray(b"\x01")), ("nul", None)],
        schema,
    )
    rows = {
        (r["media_id"], r["frame_idx"]): (r["rms"], r["n_zero_cross"])
        for r in audio_frame_features(media, frame=2).collect()
    }
    rms0 = math.floor(math.sqrt((9 + 9) / 2) * 1e6 + 0.5) / 1e6
    rms1 = math.floor(math.sqrt((0 + 25) / 2) * 1e6 + 0.5) / 1e6
    # sign(x) := x >= 0, so 3 -> -3 flips; 0 -> 5 does not (both >= 0)
    assert rows == {("a", 0): (rms0, 1), ("a", 1): (rms1, 0)}


def test_video_container_roundtrip_and_errors():
    """VID0 pack/parse are exact inverses; the parser rejects bad magic,
    truncated frames, and trailing garbage instead of mis-slicing."""
    import pytest as _pytest

    from dataingestionplayground_spark.sources.multimodal import (
        pack_video_frames,
        video_frames,
    )

    frames = [b"", b"x", b"frame-two", bytes(range(256))]
    data = pack_video_frames(frames)
    assert data[:4] == b"VID0"
    assert video_frames(data) == frames
    assert video_frames(pack_video_frames([])) == []
    with _pytest.raises(ValueError, match="not a VID0"):
        video_frames(b"AVI0" + data[4:])
    with _pytest.raises(ValueError, match="truncated"):
        video_frames(data[:-1])
    with _pytest.raises(ValueError, match="trailing"):
        video_frames(data + b"\x00")
    # a frame header that promises more bytes than exist
    import struct

    bad = b"VID0" + struct.pack("<H", 1) + struct.pack("<I", 10) + b"abc"
    with _pytest.raises(ValueError, match="truncated"):
        video_frames(bad)


def test_video_scene_cuts_shape(spark):
    """Every clip reports 32 frames and at least the 3 scene-boundary
    cuts (scene bases are independent md5 draws -> ~32-bit deltas, far
    above the 10-bit bar); keyframes = cuts + 1. Group structure: docs
    sharing gid share scene bases, so near-dup pairs exist and the
    fingerprint join finds same-group pairs only at matching scene
    slots."""
    from dataingestionplayground_spark.queries import all_queries

    rows = (
        all_queries()["multimodal_video_scene_cuts"]
        .fn(spark, "/root/testdata/sf0.001")
        .collect()
    )
    assert len(rows) > 0
    for r in rows:
        assert r.n_frames == 32
        assert 3 <= r.n_cuts <= 7  # 3 scene cuts + at most 2x2 perturbation cuts
        assert r.n_keyframes == r.n_cuts + 1


def test_video_fp_pairs_same_group_only(spark):
    """Candidate banding is (scene slot, exact hash): verified pairs can
    only come from clips sharing scene bases (same gid), and the
    verified Hamming bound holds."""
    from dataingestionplayground_spark.queries import all_queries
    from dataingestionplayground_spark.queries.ingestq import _V_GROUPS, _V_PAIR_T

    rows = (
        all_queries()["multimodal_video_fp_pairs"]
        .fn(spark, "/root/testdata/sf0.001")
        .collect()
    )
    assert len(rows) > 0
    for r in rows:
        assert r.id_a % _V_GROUPS == r.id_b % _V_GROUPS
        assert 0 <= r.hamming <= _V_PAIR_T


def test_video_pair_join_packed_matches_naive_reference(spark):
    """The single-shuffle packed-fingerprint pair join (flat int64
    columns, first-matching-slot rule) is pinned pair-for-pair equal
    to the naive formulation it replaced: band join on per-slot
    (lo, hi), DISTINCT candidates, verify by re-joining the keyframe
    table twice — the rep-first discipline (semantics pinned equal
    before the perf trade is taken)."""
    from pyspark.sql import functions as F

    from dataingestionplayground_spark.queries import all_queries

    all_queries()  # build the registry before touching ingestq directly
    from dataingestionplayground_spark.queries.ingestq import (
        _V_PAIR_T,
        _V_SCENE,
        _video_frame_hashes,
        multimodal_video_fp_pairs,
    )

    sf = "/root/testdata/sf0.001"
    fast = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in multimodal_video_fp_pairs(spark, sf).collect()
    }

    fps = _video_frame_hashes(spark, sf, keyframes_only=True).select(
        "doc_id",
        (F.col("frame_idx") / _V_SCENE).cast("int").alias("scene_idx"),
        "w_lo",
        "w_hi",
    )
    a = fps.select(F.col("doc_id").alias("id_a"), "scene_idx", "w_lo", "w_hi")
    b = fps.select(F.col("doc_id").alias("id_b"), "scene_idx", "w_lo", "w_hi")
    cand = (
        a.join(b, ["scene_idx", "w_lo", "w_hi"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    fa = fps.select(
        F.col("doc_id").alias("id_a"), "scene_idx",
        F.col("w_lo").alias("lo_a"), F.col("w_hi").alias("hi_a"),
    )
    fb = fps.select(
        F.col("doc_id").alias("id_b"), "scene_idx",
        F.col("w_lo").alias("lo_b"), F.col("w_hi").alias("hi_b"),
    )
    naive = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in (
            cand.join(fa, "id_a")
            .join(fb, ["id_b", "scene_idx"])
            .groupBy("id_a", "id_b")
            .agg(
                F.sum(
                    F.bit_count(F.col("lo_a").bitwiseXOR(F.col("lo_b")))
                    + F.bit_count(F.col("hi_a").bitwiseXOR(F.col("hi_b")))
                ).cast("long").alias("hamming")
            )
            .filter(F.col("hamming") <= _V_PAIR_T)
        ).collect()
    }
    assert fast == naive and len(fast) > 0


def test_video_truncated_payloads_raise_valueerror_and_isolate(spark):
    """Short payloads raise ValueError (not struct.error) from the parse
    helpers' length guards, and video_keyframe_hashes isolates them per
    item: a 5-byte VID0 stub, a VID0 whose only frame is a 2-byte 'BM'
    stub, and a healthy clip share one Arrow batch — only the healthy
    clip emits rows and the task survives (r16 ADVICE: struct.error
    escaped the ValueError-only isolation before the guards existed)."""
    import pytest as _pytest

    from dataingestionplayground_spark.sources.multimodal import (
        bmp_pixels,
        pack_video_frames,
        synth_video_clip,
        video_frames,
        video_keyframe_hashes,
    )

    with _pytest.raises(ValueError, match="truncated VID0 header"):
        video_frames(b"VID0\x01")
    with _pytest.raises(ValueError, match="truncated BMP header"):
        bmp_pixels(b"BM")
    with _pytest.raises(ValueError, match="truncated BMP header"):
        bmp_pixels(b"BM" + b"\x00" * 20)

    good = synth_video_clip(3)
    media = spark.createDataFrame(
        [
            ("short_vid", bytearray(b"VID0\x01")),
            ("short_bmp_frame", bytearray(pack_video_frames([b"BM"]))),
            ("good", bytearray(good)),
        ],
        "media_id string, content binary",
    ).coalesce(1)
    rows = video_keyframe_hashes(media).collect()
    assert {r["media_id"] for r in rows} == {"good"}
    assert len(rows) == 4  # 32 frames, every=8
