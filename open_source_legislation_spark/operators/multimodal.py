"""Multimodal columns — opaque ``binary`` payloads with typed metadata.

The reference is text-only; a 100 TB training-data pipeline also carries
image/audio/video blobs. Design: media rows are ``(doc_id, media_type,
content: binary, meta: map<string,string>)``; every stage is Spark-native
plumbing (schema, partitioning, Arrow batch shape). Two codec tiers:

- REAL decoders for uncompressed formats (:func:`decode_media_real`):
  24-bit BMP → top-down RGB values (undoing BGR byte order, bottom-up
  row storage, and 4-byte row padding) and PCM16 mono WAV → samples
  (walking RIFF chunks, not assuming the canonical 44-byte layout).
  Compressed formats (JPEG/MP3/H.264 …) need codec libraries the package
  does not depend on, so they raise ``NotImplementedError``.
- the deterministic FAKE codec produced by
  :func:`synth_media_from_documents`, which only the metadata and
  layout operators read (:func:`extract_metadata`, :func:`frame_sample`,
  :func:`resize_plan`); nothing decodes it.

The FAKE codec is a 16-byte header::

    b"FAKE" | media_type[0:4] | width:uint32le | height:uint32le

followed by the raw utf-8 "pixel" bytes. It exists so the plumbing —
binary column in parquet, header parse, resize bookkeeping, frame sampling —
is real and testable end-to-end without external codecs.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("content", T.BinaryType()),
        T.StructField("meta", T.MapType(T.StringType(), T.StringType())),
    ]
)

META_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("codec", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
    ]
)

_HEADER = b"FAKE"
_HEADER_LEN = 16


def synth_media_from_documents(docs: DataFrame) -> DataFrame:
    """Deterministic media table derived from the documents table: the text
    bytes become the payload, width/height derive from doc stats. Pure
    column expressions — the binary column is built JVM-side."""
    width = (F.col("n_chars") % 64 + 1).cast("int")
    height = (F.col("doc_id") % 32 + 1).cast("int")
    mtype = F.when(F.col("doc_id") % 3 == 0, "image").when(
        F.col("doc_id") % 3 == 1, "audio"
    ).otherwise("video")
    # FAKE header little-endian uint32: byte-reverse the 8-hex-digit form.
    def le32(c):
        h = F.lpad(F.hex(c), 8, "0")
        return F.unhex(
            F.concat(
                F.substring(h, 7, 2),
                F.substring(h, 5, 2),
                F.substring(h, 3, 2),
                F.substring(h, 1, 2),
            )
        )
    content = F.concat(
        F.lit(_HEADER),
        F.encode(F.rpad(F.substring(mtype, 1, 4), 4, "\x00"), "utf-8"),
        le32(width),
        le32(height),
        F.encode(F.col("text"), "utf-8"),
    )
    return docs.select(
        "doc_id",
        mtype.alias("media_type"),
        content.alias("content"),
        F.create_map(
            F.lit("source"), F.col("source"), F.lit("lang"), F.col("lang")
        ).alias("meta"),
    )


def extract_metadata(media: DataFrame) -> DataFrame:
    """Parse the typed header out of the binary column — ``mapInPandas`` so
    each Arrow batch is handled vectorized (the shape a real codec sniffing
    stage would use; cf. reference per-node ``core_metadata`` enrichment,
    ``scrapeECFR.py:359-360``)."""

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            raw = pdf["content"]
            # nullable Int64: a null payload must not crash the int cast
            n_bytes = raw.map(len, na_action="ignore").astype("Int64")
            is_fake = raw.map(
                lambda b: b is not None
                and len(b) >= _HEADER_LEN
                and bytes(b[:4]) == _HEADER
            )
            # where() masks non-fake rows to NaN; guard on bytes-like, not
            # just None, so masked rows stay null instead of crashing unpack
            def _u32(off):
                return lambda b: (
                    struct.unpack("<I", bytes(b[off : off + 4]))[0]
                    if isinstance(b, (bytes, bytearray, memoryview))
                    else None
                )

            width = raw.where(is_fake).map(_u32(8))
            height = raw.where(is_fake).map(_u32(12))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "n_bytes": n_bytes,
                    "codec": is_fake.map(lambda f: "fake" if f else "unknown"),
                    "width": width.astype("Int32"),
                    "height": height.astype("Int32"),
                }
            )

    return media.mapInPandas(parse, schema=META_SCHEMA)


def _bmp_bytes(doc_id: int, w: int, h: int) -> bytes:
    """Real 24-bit uncompressed BMP (BITMAPINFOHEADER) whose pixel at
    top-down row-major index ``i`` is ``rgb(i) = ((d*7+i*3)%256,
    (d*11+i*5)%256, (d*13+i*7)%256)``. Stored the way real BMPs are:
    BGR byte order, bottom-up rows, rows padded to 4 bytes — the three
    traps a decoder must undo."""
    row_bytes = (w * 3 + 3) & ~3
    pad = b"\x00" * (row_bytes - w * 3)
    body = b"".join(
        b"".join(
            bytes(
                [
                    (doc_id * 13 + (y * w + x) * 7) % 256,  # B
                    (doc_id * 11 + (y * w + x) * 5) % 256,  # G
                    (doc_id * 7 + (y * w + x) * 3) % 256,  # R
                ]
            )
            for x in range(w)
        )
        + pad
        for y in range(h - 1, -1, -1)  # bottom-up
    )
    pixel_off = 14 + 40
    size = pixel_off + len(body)
    return (
        b"BM"
        + struct.pack("<IHHI", size, 0, 0, pixel_off)
        + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 2835, 2835, 0, 0)
        + body
    )


def _wav_bytes(doc_id: int, n: int, rate: int = 8000) -> bytes:
    """Real PCM16 mono WAV whose sample ``i`` is
    ``((d*31 + i*17) % 65536) - 32768``; written with an extra LIST chunk
    before ``data`` so decoders that assume the canonical 44-byte layout
    (instead of walking RIFF chunks) fail loudly in tests."""
    samples = b"".join(
        struct.pack("<h", ((doc_id * 31 + i * 17) % 65536) - 32768)
        for i in range(n)
    )
    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
    lst = b"INFOICMT" + struct.pack("<I", 4) + b"osl\x00"
    chunks = (
        b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"LIST" + struct.pack("<I", len(lst)) + lst
        + b"data" + struct.pack("<I", len(samples)) + samples
    )
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def synth_real_media(docs: DataFrame) -> DataFrame:
    """Deterministic REAL-codec media table: even doc_ids become genuine
    24-bit BMPs (w = doc_id%5+1, h = doc_id%3+1), odd ones PCM16 WAVs
    (n = doc_id%9+4 samples). Pixel/sample values are closed-form in
    (doc_id, index), so a SQL oracle can assert the decoded output
    without ever parsing bytes — the encode→decode roundtrip is checked
    against an independent formula. Synthesis is a fixture generator
    (mapInPandas), not a hot-path operator."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                if d % 2 == 0:
                    content = _bmp_bytes(d, d % 5 + 1, d % 3 + 1)
                    mtype = "image"
                else:
                    content = _wav_bytes(d, d % 9 + 4)
                    mtype = "audio"
                rows.append(
                    {
                        "doc_id": d,
                        "media_type": mtype,
                        "content": content,
                        "meta": {"codec": "real"},
                    }
                )
            yield pd.DataFrame(
                rows, columns=["doc_id", "media_type", "content", "meta"]
            )

    return docs.select("doc_id").mapInPandas(gen, schema=MEDIA_SCHEMA)


DECODED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("values", T.ArrayType(T.LongType())),
    ]
)


def _decode_bmp(b: bytes) -> tuple[int, int, list[int]]:
    """24bpp uncompressed BMP → (w, h, top-down row-major [r,g,b,...])."""
    if len(b) < 54:
        raise NotImplementedError("truncated BMP")
    pixel_off = struct.unpack_from("<I", b, 10)[0]
    hdr_size = struct.unpack_from("<I", b, 14)[0]
    if hdr_size < 40:
        raise NotImplementedError("pre-BITMAPINFOHEADER BMP not supported")
    w, h = struct.unpack_from("<ii", b, 18)
    bpp = struct.unpack_from("<H", b, 28)[0]
    compression = struct.unpack_from("<I", b, 30)[0]
    if bpp != 24 or compression != 0:
        raise NotImplementedError(
            f"only 24bpp uncompressed BMP is decodable (bpp={bpp}, "
            f"compression={compression})"
        )
    bottom_up = h > 0
    h = abs(h)
    row_bytes = (w * 3 + 3) & ~3
    vals: list[int] = []
    for y in range(h):
        src_y = (h - 1 - y) if bottom_up else y
        off = pixel_off + src_y * row_bytes
        row = b[off : off + w * 3]
        for x in range(w):
            vals += [row[x * 3 + 2], row[x * 3 + 1], row[x * 3]]  # BGR → RGB
    return w, h, vals


def _decode_wav(b: bytes) -> tuple[int, list[int]]:
    """PCM16 mono WAV → (sample_rate, [samples]) by WALKING RIFF chunks
    (fmt may be followed by LIST/fact/etc. before data — the canonical
    44-byte-offset shortcut is wrong on real files)."""
    if b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        raise NotImplementedError("not a RIFF/WAVE container")
    pos, rate, data = 12, None, None
    while pos + 8 <= len(b):
        cid = b[pos : pos + 4]
        clen = struct.unpack_from("<I", b, pos + 4)[0]
        body = b[pos + 8 : pos + 8 + clen]
        if cid == b"fmt ":
            audio_fmt, channels = struct.unpack_from("<HH", body, 0)
            rate = struct.unpack_from("<I", body, 4)[0]
            bits = struct.unpack_from("<H", body, 14)[0]
            if audio_fmt != 1 or channels != 1 or bits != 16:
                raise NotImplementedError(
                    "only PCM16 mono WAV is decodable "
                    f"(fmt={audio_fmt}, ch={channels}, bits={bits})"
                )
        elif cid == b"data":
            data = body
        pos += 8 + clen + (clen & 1)  # chunks are word-aligned
    if rate is None or data is None:
        raise NotImplementedError("WAV missing fmt/data chunk")
    n = len(data) // 2
    return rate, list(struct.unpack(f"<{n}h", data[: n * 2]))


def decode_media_real(media: DataFrame) -> DataFrame:
    """Decode REAL uncompressed payloads — 24-bit BMP → top-down RGB
    values, PCM16 mono WAV → samples — in one ``mapInPandas`` pass. Any
    other payload, compressed codecs and the FAKE codec included, raises
    ``NotImplementedError`` (compressed codecs need libraries the package
    does not depend on).

    Output: ``(doc_id, kind, width, height, sample_rate, values)`` —
    images carry (width, height, NULL rate), audio (NULL dims, rate)."""

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, raw in zip(pdf["doc_id"], pdf["content"]):
                if raw is None:
                    rows.append(
                        {"doc_id": doc_id, "kind": None, "width": None,
                         "height": None, "sample_rate": None, "values": None}
                    )
                    continue
                b = bytes(raw)
                if b[:2] == b"BM":
                    w, h, vals = _decode_bmp(b)
                    rows.append(
                        {"doc_id": doc_id, "kind": "image", "width": w,
                         "height": h, "sample_rate": None, "values": vals}
                    )
                elif b[:4] == b"RIFF":
                    rate, vals = _decode_wav(b)
                    rows.append(
                        {"doc_id": doc_id, "kind": "audio", "width": None,
                         "height": None, "sample_rate": rate, "values": vals}
                    )
                else:
                    raise NotImplementedError(
                        "only uncompressed BMP/WAV are decodable here; "
                        "compressed codecs are not available in this "
                        "environment"
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "kind", "width", "height", "sample_rate", "values"
                ],
            )

    return media.mapInPandas(decode, schema=DECODED_SCHEMA)


def resize_decoded(decoded: DataFrame, tw: int = 2, th: int = 2) -> DataFrame:
    """Nearest-neighbor resize of DECODED image pixels to ``tw × th`` —
    pure JVM array arithmetic over the values column (no Python): output
    flat index j maps to source pixel (floor(x·w/tw), floor(y·h/th)),
    same channel. Output: ``(doc_id, out_w, out_h, values)`` with the
    resized dims — deliberately NOT named width/height: Spark 4's
    lateral-column-alias resolution would rebind the lambda's
    ``F.col("width")`` to the new literal alias in the same select,
    silently computing source indices against the OUTPUT grid (caught
    by the formula oracle as an out-of-bounds element_at)."""
    j = F.sequence(F.lit(0), F.lit(tw * th * 3 - 1))

    def src_value(jj):
        pix = F.floor(jj / 3).cast("long")
        x = pix % tw
        y = F.floor(pix / tw).cast("long")
        c = jj % 3
        sx = F.floor(x * F.col("width") / tw).cast("long")
        sy = F.floor(y * F.col("height") / th).cast("long")
        src = (sy * F.col("width") + sx) * 3 + c
        return F.element_at(F.col("values"), (src + 1).cast("int"))

    return decoded.filter(F.col("kind") == "image").select(
        "doc_id",
        F.lit(tw).alias("out_w"),
        F.lit(th).alias("out_h"),
        F.transform(j, src_value).alias("values"),
    )


def frame_sample(media: DataFrame, stride: int = 64, frame_len: int = 8) -> DataFrame:
    """Sample fixed-length "frames" from the payload at a byte stride —
    the video frame-sampling shape (explode of a computed offsets array,
    slicing done JVM-side on the binary column; no Python in the loop)."""
    body_len = F.octet_length("content") - _HEADER_LEN
    offsets = F.sequence(
        F.lit(0),
        F.greatest(
            (body_len - frame_len) .cast("long"), F.lit(0)
        ),
        F.lit(stride),
    )
    return (
        media.filter(F.col("media_type") == "video")
        .select("doc_id", F.posexplode(offsets).alias("frame_idx", "offset"))
        .join(media.select("doc_id", "content"), "doc_id")
        .select(
            "doc_id",
            "frame_idx",
            F.base64(
                F.expr(f"substring(content, offset + {_HEADER_LEN + 1}, {frame_len})")
            ).alias("frame_b64"),
        )
    )


def resize_plan(meta: DataFrame, target: int = 16) -> DataFrame:
    """Resize bookkeeping for images: scale factors + output dims as pure
    column math (the compute-plan a real resize UDF would execute)."""
    scale = F.least(
        F.lit(float(target)) / F.col("width"), F.lit(float(target)) / F.col("height")
    )
    return meta.filter(F.col("media_type") == "image").select(
        "doc_id",
        "width",
        "height",
        F.round(scale, 4).alias("scale"),
        F.greatest(F.floor(F.col("width") * scale), F.lit(1)).cast("int").alias("out_w"),
        F.greatest(F.floor(F.col("height") * scale), F.lit(1)).cast("int").alias("out_h"),
    )
