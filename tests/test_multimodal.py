"""Multimodal binary-column plumbing (operators/multimodal.py).

The payloads use the deterministic FAKE codec; what is under test is the
Spark-side design: binary column construction JVM-side, typed-header parse
via mapInPandas Arrow batches, strided frame sampling with JVM slicing, and
the real decoder's refusal of a codec it cannot decode.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from open_source_legislation_spark.operators import multimodal

DOCS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (i, f"document body {i} " + "x" * (i * 7 % 200), "en", f"src{i % 3}", 0)
        for i in range(12)
    ]
    rows = [(i, t, lg, s, len(t)) for (i, t, lg, s, _n) in rows]
    return spark.createDataFrame(rows, schema=DOCS_SCHEMA)


@pytest.fixture(scope="module")
def media(docs):
    return multimodal.synth_media_from_documents(docs).persist()


def test_metadata_header_roundtrip(docs, media):
    meta = multimodal.extract_metadata(media)
    got = {r["doc_id"]: r for r in meta.collect()}
    for d in docs.collect():
        m = got[d["doc_id"]]
        assert m["codec"] == "fake"
        assert m["n_bytes"] == 16 + len(d["text"].encode())
        assert m["width"] == d["n_chars"] % 64 + 1
        assert m["height"] == d["doc_id"] % 32 + 1


def test_decode_unknown_codec_raises(spark):
    bad = spark.createDataFrame(
        [(99, "image", bytearray(b"JPEGnotfake"), {})],
        schema=multimodal.MEDIA_SCHEMA,
    )
    with pytest.raises(Exception, match="NotImplementedError"):
        multimodal.decode_media_real(bad).collect()


def test_frame_sample_strided(media):
    frames = multimodal.frame_sample(media, stride=64, frame_len=8)
    rows = frames.collect()
    assert rows, "video docs must yield frames"
    vids = {r["doc_id"] for r in rows}
    assert all(d % 3 == 2 for d in vids)
    # frame_idx dense from 0 per doc
    per_doc = {}
    for r in rows:
        per_doc.setdefault(r["doc_id"], []).append(r["frame_idx"])
    for idxs in per_doc.values():
        assert sorted(idxs) == list(range(len(idxs)))


def test_resize_plan_bounds(media):
    meta = multimodal.extract_metadata(media)
    plan = multimodal.resize_plan(meta, target=16)
    for r in plan.collect():
        assert 1 <= r["out_w"] <= 16 and 1 <= r["out_h"] <= 16
        assert max(r["out_w"], r["out_h"]) <= 16


def test_media_binary_column_is_binary(media):
    assert dict(media.dtypes)["content"] == "binary"
    # header magic visible JVM-side (no Python needed for the sniff filter)
    n_fake = media.filter(
        F.expr("substring(content, 1, 4) = cast('FAKE' as binary)")
    ).count()
    assert n_fake == media.count()


# --- real codecs: BMP 24bpp + WAV PCM16 -----------------------------------


def test_real_bmp_roundtrip_formula():
    """Byte-level: the encoder's BGR/bottom-up/padded layout decodes back
    to the top-down RGB formula — pure Python, no Spark."""
    for d, w, h in [(12, 3, 1), (2, 3, 3), (30, 1, 1), (4, 5, 2)]:
        b = multimodal._bmp_bytes(d, w, h)
        got_w, got_h, vals = multimodal._decode_bmp(b)
        assert (got_w, got_h) == (w, h)
        exp = []
        for i in range(w * h):
            exp += [(d * 7 + i * 3) % 256, (d * 11 + i * 5) % 256,
                    (d * 13 + i * 7) % 256]
        assert vals == exp
        # rows really are padded: total size accounts for 4-byte alignment
        assert len(b) == 54 + ((w * 3 + 3) & ~3) * h


def test_real_wav_chunk_walk_and_formula():
    b = multimodal._wav_bytes(7, 6)
    rate, vals = multimodal._decode_wav(b)
    assert rate == 8000
    assert vals == [((7 * 31 + i * 17) % 65536) - 32768 for i in range(6)]
    # the LIST chunk sits between fmt and data: a canonical-44-byte-offset
    # reader would mis-slice; the chunk walker must skip it
    assert b[36:40] == b"LIST"


def test_real_decoder_guards():
    import pytest as _pytest

    with _pytest.raises(NotImplementedError, match="24bpp"):
        # 8bpp header
        bad = bytearray(multimodal._bmp_bytes(1, 2, 2))
        bad[28:30] = (8).to_bytes(2, "little")
        multimodal._decode_bmp(bytes(bad))
    with _pytest.raises(NotImplementedError, match="PCM16 mono"):
        bad = bytearray(multimodal._wav_bytes(1, 4))
        bad[22:24] = (2).to_bytes(2, "little")  # stereo
        multimodal._decode_wav(bytes(bad))
    with _pytest.raises(NotImplementedError, match="RIFF"):
        multimodal._decode_wav(b"\x00" * 64)


def test_decode_media_real_end_to_end(spark):
    docs = spark.createDataFrame([(i,) for i in range(20)], "doc_id long")
    dec = multimodal.decode_media_real(multimodal.synth_real_media(docs))
    rows = {r["doc_id"]: r for r in dec.collect()}
    assert len(rows) == 20
    for d, r in rows.items():
        if d % 2 == 0:
            assert r["kind"] == "image"
            w, h = d % 5 + 1, d % 3 + 1
            assert (r["width"], r["height"]) == (w, h)
            assert len(r["values"]) == w * h * 3
        else:
            assert r["kind"] == "audio" and r["sample_rate"] == 8000
            assert len(r["values"]) == d % 9 + 4


def test_resize_decoded_nearest_neighbor(spark):
    docs = spark.createDataFrame([(2,), (12,)], "doc_id long")
    dec = multimodal.decode_media_real(multimodal.synth_real_media(docs))
    out = {r["doc_id"]: r for r in multimodal.resize_decoded(dec, 2, 2).collect()}
    # doc 2: 3x3 image; out pixel (x,y) <- src (floor(x*3/2), floor(y*3/2))
    full = {r["doc_id"]: r["values"] for r in dec.collect()}
    for d in (2, 12):
        w, h = d % 5 + 1, d % 3 + 1
        exp = []
        for y in range(2):
            for x in range(2):
                sx, sy = x * w // 2, y * h // 2
                base = (sy * w + sx) * 3
                exp += full[d][base : base + 3]
        assert out[d]["values"] == exp
