"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video are carried as `binary` columns with a metadata struct.
The Spark-side plumbing — schema, Arrow batch shape, `mapInPandas`
signature, partitioning — is real and oracle-tested. Media decode is REAL
for uncompressed standard formats, implemented from the public specs with
numpy alone: netpbm P6/P5 images (``image/ppm``/``image/pgm``) and
RIFF/WAVE PCM16 audio (``audio/wav``), plus the deterministic
"text/utf-8" kind. COMPRESSED formats (jpeg/png/mp3/h264) need external
codecs absent from this container and stay behind an honest
``NotImplementedError`` gate in ``decode_payload``.

Scale design: mapInPandas streams Arrow batches (zero-copy into pandas),
so per-batch Python overhead is amortized; payload bytes never shuffle —
feature extraction happens in the scan stage, and only the (small) feature
rows move. Every per-payload entry runs through one worker,
``_map_payload_rows``, and each media kind's payload is built by one
function (``_ppm_payloads``, ``_wav_payloads``, ``_y4m_payloads``).
"""

from __future__ import annotations

import hashlib
import struct
from typing import Callable, Iterator

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from compass_query_optimizer_spark.catalog import load_tables
from compass_query_optimizer_spark.registry import query

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("payload_len", T.IntegerType()),
        T.StructField("payload_md5", T.StringType()),
        T.StructField("n_frames", T.IntegerType()),
    ]
)


def decode_payload(kind: str, payload: bytes):
    """Decode an opaque media payload.

    REAL decoders, no external libs (public format specs + numpy):

    - ``text/utf-8``  → str
    - ``image/ppm``   → uint8 ndarray (h, w, 3)  [netpbm P6, maxval 255]
    - ``image/pgm``   → uint8 ndarray (h, w)     [netpbm P5, maxval 255]
    - ``image/bmp``   → uint8 ndarray (h, w, 3)  [BMP 24-bit, BI_RGB]
    - ``audio/wav``   → (sample_rate, int16 ndarray (n, channels)) [PCM16]
    - ``video/y4m``   → (w, h, uint8 ndarray (frames, 3, h, w)) [C444]

    COMPRESSED formats (jpeg/png/mp3/h264 …) need external codecs absent
    from this container and raise NotImplementedError — the honest gate.
    """
    if kind == "text/utf-8":
        return payload.decode("utf-8")
    if kind in ("image/ppm", "image/pgm"):
        return _decode_netpbm(payload)
    if kind == "image/bmp":
        return _decode_bmp(payload)
    if kind == "audio/wav":
        return _decode_wav_pcm16(payload)
    if kind == "video/y4m":
        return _decode_y4m(payload)
    raise NotImplementedError(
        f"media decode for kind={kind!r} requires external codecs; "
        "plug a decoder in here (the Spark plumbing around it is complete)"
    )


def _decode_netpbm(payload: bytes):
    """Binary netpbm parser (P6 = RGB, P5 = gray; maxval <= 255).

    Header: magic, whitespace/comment-separated width height maxval, ONE
    whitespace byte, then raw samples row-major."""
    if payload[:2] not in (b"P5", b"P6"):
        raise ValueError(f"not a binary netpbm payload: {payload[:2]!r}")
    rgb = payload[:2] == b"P6"
    pos, fields = 2, []
    while len(fields) < 3:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":  # comment runs to end of line
            while pos < len(payload) and payload[pos : pos + 1] != b"\n":
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        fields.append(int(payload[start:pos]))
    pos += 1  # the single whitespace byte after maxval
    w, h, maxval = fields
    if maxval > 255:
        raise NotImplementedError("16-bit netpbm samples not supported")
    n = w * h * (3 if rgb else 1)
    arr = np.frombuffer(payload, dtype=np.uint8, count=n, offset=pos)
    return arr.reshape((h, w, 3) if rgb else (h, w))


def _decode_bmp(payload: bytes):
    """BMP 24-bit uncompressed parser (Windows BITMAPINFOHEADER, BI_RGB).

    The three classic BMP decode bugs are all load-bearing here and all
    oracle-visible: pixel rows are stored BOTTOM-UP (positive height),
    per-pixel byte order is BGR (not RGB), and every row pads to a
    4-byte boundary. Returns uint8 (h, w, 3) in top-down RGB — the same
    orientation/channel contract as the netpbm decoder."""
    if payload[:2] != b"BM":
        raise ValueError(f"not a BMP payload: {payload[:2]!r}")
    pixel_offset = struct.unpack_from("<I", payload, 10)[0]
    # BITMAPINFOHEADER height is SIGNED: negative means a top-down pixel
    # order. Unpacking it unsigned would misread such a file as a
    # ~4-billion-row image and die in numpy instead of gating cleanly.
    hdr_size, w, h = struct.unpack_from("<Iii", payload, 14)
    if hdr_size < 40:
        raise NotImplementedError("BITMAPCOREHEADER BMPs not supported")
    if h < 0:
        raise NotImplementedError("top-down (negative-height) BMPs not supported")
    planes, bpp, compression = struct.unpack_from("<HHI", payload, 26)
    if bpp != 24 or compression != 0:
        raise NotImplementedError(
            f"only 24-bit BI_RGB BMPs supported (bpp={bpp}, comp={compression})"
        )
    stride = ((w * 3 + 3) // 4) * 4
    rows = np.frombuffer(
        payload, dtype=np.uint8, count=stride * h, offset=pixel_offset
    ).reshape(h, stride)[:, : w * 3]
    bgr = rows.reshape(h, w, 3)[::-1]  # bottom-up → top-down
    return np.ascontiguousarray(bgr[:, :, ::-1])  # BGR → RGB


def _decode_wav_pcm16(payload: bytes):
    """RIFF/WAVE PCM16 parser: walks the chunk list (fmt must precede
    data), returns (sample_rate, int16 array shaped (n_samples, channels)).
    Non-PCM encodings (format tag != 1) raise NotImplementedError."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, rate, channels, bits = 12, None, None, None
    while pos + 8 <= len(payload):
        cid, size = payload[pos : pos + 4], struct.unpack(
            "<I", payload[pos + 4 : pos + 8]
        )[0]
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            tag, channels, rate = struct.unpack("<HHI", body[:8])
            bits = struct.unpack("<H", body[14:16])[0]
            if tag != 1:
                raise NotImplementedError(
                    f"WAV format tag {tag} needs an external codec (only "
                    "PCM is decoded natively)"
                )
            if bits != 16:
                raise NotImplementedError("only 16-bit PCM supported")
        elif cid == b"data":
            if rate is None:
                raise ValueError("WAV data chunk before fmt chunk")
            samples = np.frombuffer(
                body, dtype="<i2", count=(size // 2) // channels * channels
            )
            return rate, samples.reshape(-1, channels)
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    raise ValueError("WAV payload has no data chunk")


def extract_features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas worker: binary payload → feature row (vectorized per
    Arrow batch). 'Frame sampling' for the text kind = 1 frame per 64
    bytes, mirroring how a video sampler would emit one row per frame
    group."""
    for pdf in batches:
        lens = pdf["payload"].map(len)
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "kind": pdf["kind"],
                "payload_len": lens.astype("int32"),
                "payload_md5": pdf["payload"].map(
                    lambda b: hashlib.md5(b).hexdigest()
                ),
                "n_frames": ((lens + 63) // 64).astype("int32"),
            }
        )


# Spark type → the pandas dtype a worker column is built with, so an empty
# output batch still carries the declared types
_PD_DTYPES = {
    T.LongType: "int64",
    T.IntegerType: "int32",
    T.DoubleType: "float64",
    T.BooleanType: "boolean",
    T.StringType: "object",
}


def _payload_rows_worker(
    rows_of: Callable[[str, bytes], list[tuple]], schema: T.StructType
) -> Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]]:
    """The mapInPandas batch function of `_map_payload_rows`: each
    (doc_id, kind, payload) row becomes the rows ``rows_of(kind,
    payload)`` returns, each with doc_id in front."""
    names = schema.fieldNames()
    dtypes = [_PD_DTYPES[type(f.dataType)] for f in schema.fields]

    def worker(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                (doc_id, *row)
                for doc_id, kind, payload in zip(
                    pdf["doc_id"], pdf["kind"], pdf["payload"]
                )
                for row in rows_of(kind, bytes(payload))
            ]
            cols = zip(*rows) if rows else [()] * len(names)
            yield pd.DataFrame(
                {n: pd.array(c, dtype=d) for n, c, d in zip(names, cols, dtypes)}
            )

    worker.__name__ = rows_of.__name__  # the MapInPandas label in plans
    return worker


def _map_payload_rows(
    payloads: DataFrame,
    rows_of: Callable[[str, bytes], list[tuple]],
    schema: T.StructType,
) -> DataFrame:
    """Map every (doc_id, kind, payload) row of ``payloads`` to its output
    rows in the scan stage (one mapInPandas): ``rows_of(kind, payload)``
    returns the row tuples without doc_id; ``schema`` is doc_id followed
    by those columns."""
    return payloads.mapInPandas(_payload_rows_worker(rows_of, schema), schema=schema)


def _payload_table(docs: DataFrame, kind: str, payload: Column) -> DataFrame:
    return docs.select("doc_id", F.lit(kind).alias("kind"), payload.alias("payload"))


def _md5_repeat(n: int) -> Column:
    """repeat(md5(text), n): the ASCII bytes every media payload is cut
    from, so each oracle rebuilds them with the same string functions."""
    return F.repeat(F.md5(F.encode(F.col("text"), "UTF-8")), n)


def payloads_from_documents(docs: DataFrame) -> DataFrame:
    """Wrap the documents table as a multimodal payload table (utf-8 bytes
    as the opaque payload — deterministic stand-in for media bytes)."""
    return _payload_table(docs, "text/utf-8", F.encode(F.col("text"), "UTF-8"))


FRAME_CHARS = 64  # frame size of the deterministic text-kind sampler
FRAME_STRIDE = 2  # sample every 2nd frame

# one row per sampled frame: the text sampler's and the y4m sampler's
FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame_md5", T.StringType()),
    ]
)


def sample_frames(kind: str, payload: bytes) -> list[tuple]:
    """Frame sampler: one row per sampled frame — the row-exploding shape
    a video frame-sampler has (N payloads → M rows). Frames are
    consecutive FRAME_CHARS-character windows of the decoded text, every
    FRAME_STRIDE-th kept, each hashed as UTF-8: SQL's substr windows, so
    a multi-byte character is never split across two frames."""
    text = decode_payload(kind, payload)
    return [
        (i // FRAME_CHARS, hashlib.md5(text[i : i + FRAME_CHARS].encode()).hexdigest())
        for i in range(0, len(text), FRAME_CHARS * FRAME_STRIDE)
    ]


def resize_image(kind: str, payload: bytes, w: int, h: int) -> bytes:
    """Nearest-neighbor image resize.

    REAL for uncompressed kinds: "image/ppm"/"image/pgm" decode via the
    native netpbm parser, resample, and re-encode in the same format.
    Every other kind raises until an external codec is plugged in."""
    if kind not in ("image/ppm", "image/pgm"):
        raise NotImplementedError(
            f"image decode for kind={kind!r} requires external codecs"
        )
    img = _decode_netpbm(payload)
    ys = (np.arange(h) * img.shape[0]) // h
    xs = (np.arange(w) * img.shape[1]) // w
    magic = b"P6" if img.ndim == 3 else b"P5"
    return b"%s\n%d %d\n255\n" % (magic, w, h) + img[np.ix_(ys, xs)].tobytes()


@query(
    "mm_frame_sample",
    f"""
    SELECT doc_id, CAST(s.k AS INTEGER) AS frame_idx,
           md5(substr(text, CAST(s.k * {FRAME_CHARS} + 1 AS INTEGER), {FRAME_CHARS})) AS frame_md5
    FROM documents,
         UNNEST(range(0, CAST(ceil(length(text) / {FRAME_CHARS}.0) AS BIGINT), {FRAME_STRIDE})) AS s(k)
    ORDER BY doc_id, frame_idx
    """,
    doc="multimodal frame sampling: mapInPandas explodes each payload into "
    "every-2nd 64-character frame row (the video frame-sample shape); oracle "
    "rebuilds frames with substr+md5",
    tags=("multimodal", "pandas-udf"),
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    payloads = payloads_from_documents(load_tables(spark, sf_dir)["documents"])
    return _map_payload_rows(payloads, sample_frames, FRAME_SCHEMA).orderBy(
        "doc_id", "frame_idx"
    )


@query(
    "mm_payload_features",
    """
    SELECT doc_id, 'text/utf-8' AS kind,
           CAST(octet_length(encode(text)) AS INTEGER) AS payload_len,
           md5(text) AS payload_md5,
           CAST((octet_length(encode(text)) + 63) // 64 AS INTEGER) AS n_frames
    FROM documents
    ORDER BY doc_id
    """,
    doc="multimodal plumbing end-to-end: binary payload column → "
    "mapInPandas (Arrow batches) feature extraction; md5 proves the bytes "
    "survived the Spark→Arrow→pandas round trip intact",
    tags=("multimodal", "pandas-udf"),
)
def mm_payload_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    payloads = payloads_from_documents(load_tables(spark, sf_dir)["documents"])
    return payloads.mapInPandas(extract_features, schema=FEATURE_SCHEMA).orderBy(
        "doc_id"
    )


# End-to-end proof the native image decoder runs inside the pipeline:
# each doc becomes a REAL P6 (PPM) payload whose pixel bytes are
# repeat(md5(text), 36) — 1,152 ASCII bytes, exactly 24x16 RGB — so the
# DuckDB oracle can reconstruct the decoded array's bytes with pure string
# functions while Spark actually parses the header and reshapes the
# samples with the numpy netpbm decoder.
IMG_W, IMG_H = 24, 16

IMG_DECODE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("pixel_md5", T.StringType()),
    ]
)


def _pixel_row(img: np.ndarray) -> tuple:
    """(width, height, channels, md5 of the decoded pixel bytes)."""
    channels = img.shape[2] if img.ndim == 3 else 1
    return img.shape[1], img.shape[0], channels, hashlib.md5(img.tobytes()).hexdigest()


def decode_image_features(kind: str, payload: bytes) -> list[tuple]:
    """Image payload → (dims, decoded-pixel md5) via the REAL parser — a
    header-parse bug, stride slip, or channel reorder changes pixel_md5
    and fails the oracle."""
    return [_pixel_row(decode_payload(kind, payload))]


def _ppm_payloads(docs: DataFrame) -> DataFrame:
    """Each doc as a 24x16 P6 payload: header + repeat(md5(text), 36)."""
    header = F.lit(f"P6\n{IMG_W} {IMG_H}\n255\n")
    return _payload_table(
        docs, "image/ppm", F.encode(F.concat(header, _md5_repeat(36)), "UTF-8")
    )


@query(
    "mm_image_decode",
    f"""
    SELECT doc_id,
           {IMG_W} AS width, {IMG_H} AS height, 3 AS channels,
           md5(repeat(md5(text), 36)) AS pixel_md5
    FROM documents
    ORDER BY doc_id
    """,
    doc="REAL image decode in the pipeline: docs become binary P6/PPM "
    "payloads (header + 24x16 RGB samples), mapInPandas runs the native "
    "numpy netpbm parser, and the oracle reconstructs the decoded pixel "
    "bytes string-side — md5 parity proves header parse, offset, and "
    "reshape are exact. Compressed formats stay codec-gated; payload "
    "bytes never shuffle",
    tags=("multimodal", "pandas-udf", "image"),
)
def mm_image_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"]
    return _map_payload_rows(
        _ppm_payloads(docs), decode_image_features, IMG_DECODE_SCHEMA
    ).orderBy("doc_id")


# Audio twin of mm_image_decode: each doc becomes a REAL RIFF/WAVE PCM16
# payload — constant fmt/data headers (mono, 8 kHz, 16-bit; sizes fixed)
# + 1,152 sample bytes of repeat(md5(text), 36) — decoded by the native
# chunk walker. The oracle rebuilds the sample bytes string-side.
AUDIO_RATE = 8000
AUDIO_DATA_BYTES = 1152  # 576 mono int16 samples

AUDIO_DECODE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_samples", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("sample_md5", T.StringType()),
    ]
)


def _wav_header() -> bytes:
    fmt = struct.pack("<HHIIHH", 1, 1, AUDIO_RATE, AUDIO_RATE * 2, 2, 16)
    body_size = 4 + (8 + len(fmt)) + (8 + AUDIO_DATA_BYTES)
    return (
        b"RIFF" + struct.pack("<I", body_size) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", AUDIO_DATA_BYTES)
    )


def _wav_payloads(docs: DataFrame) -> DataFrame:
    """Each doc as a mono PCM16 WAV payload: constant header + 1,152
    sample bytes of repeat(md5(text), 36)."""
    samples = F.encode(_md5_repeat(36), "UTF-8")
    return _payload_table(docs, "audio/wav", F.concat(F.lit(_wav_header()), samples))


def decode_audio_features(kind: str, payload: bytes) -> list[tuple]:
    """WAV payload → (rate, dims, sample-bytes md5) via the REAL RIFF
    walker."""
    rate, samples = decode_payload(kind, payload)
    md5 = hashlib.md5(samples.tobytes()).hexdigest()
    return [(rate, samples.shape[0], samples.shape[1], md5)]


@query(
    "mm_audio_decode",
    f"""
    SELECT doc_id,
           {AUDIO_RATE} AS sample_rate,
           {AUDIO_DATA_BYTES // 2} AS n_samples, 1 AS channels,
           md5(repeat(md5(text), 36)) AS sample_md5
    FROM documents
    ORDER BY doc_id
    """,
    doc="REAL audio decode in the pipeline: docs become RIFF/WAVE PCM16 "
    "payloads (true chunk headers + 576 mono samples), mapInPandas runs "
    "the native chunk walker, and the oracle reconstructs the sample "
    "bytes string-side — md5 parity proves chunk offsets and sample "
    "framing are exact. Compressed audio stays codec-gated",
    tags=("multimodal", "pandas-udf", "audio"),
)
def mm_audio_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"]
    return _map_payload_rows(
        _wav_payloads(docs), decode_audio_features, AUDIO_DECODE_SCHEMA
    ).orderBy("doc_id")


# Video: YUV4MPEG2 (y4m) — the standard UNCOMPRESSED video container
# (mjpegtools/ffmpeg interchange format): a textual stream header, then
# "FRAME\n"-delimited raw planar YUV. Real frame iteration on a real
# container; compressed codecs (h264/vp9) remain gated.
def _decode_y4m(payload: bytes):
    """Parse a YUV4MPEG2 stream (C444 only: full-res Y,U,V planes).

    Returns (width, height, frames) with frames shaped
    (n_frames, 3, height, width) uint8."""
    nl = payload.index(b"\n")
    header = payload[:nl].split(b" ")
    if header[0] != b"YUV4MPEG2":
        raise ValueError("not a YUV4MPEG2 payload")
    w = h = None
    colorspace = b"C420jpeg"  # the spec's default when C is absent
    for tok in header[1:]:
        if tok[:1] == b"W":
            w = int(tok[1:])
        elif tok[:1] == b"H":
            h = int(tok[1:])
        elif tok[:1] == b"C":
            colorspace = tok
    if w is None or h is None:
        raise ValueError("y4m header missing W/H")
    if colorspace != b"C444":
        raise NotImplementedError(
            f"y4m colorspace {colorspace!r}: only C444 (full-res planes) "
            "is decoded natively; subsampled/compressed forms need codecs"
        )
    frame_bytes = w * h * 3
    frames, pos = [], nl + 1
    while pos < len(payload):
        if payload[pos : pos + 5] != b"FRAME":
            raise ValueError(f"expected FRAME marker at byte {pos}")
        pos = payload.index(b"\n", pos) + 1  # frame params run to newline
        frames.append(
            np.frombuffer(payload, np.uint8, count=frame_bytes, offset=pos)
            .reshape(3, h, w)
        )
        pos += frame_bytes
    return w, h, np.stack(frames) if frames else np.empty((0, 3, h, w), np.uint8)


VID_W, VID_H, VID_FRAMES = 8, 4, 6  # 96-byte C444 frames, 6 per doc
VID_STRIDE = 2  # sample every 2nd frame


def _y4m_payloads(docs: DataFrame) -> DataFrame:
    """Each doc as a C444 YUV4MPEG2 stream: stream header + VID_FRAMES
    FRAME-delimited planes cut from repeat(md5(text), 18)."""
    fb = VID_W * VID_H * 3
    hexsrc = _md5_repeat(18)
    frames = [
        F.concat(F.lit("FRAME\n"), F.substring(hexsrc, k * fb + 1, fb))
        for k in range(VID_FRAMES)
    ]
    header = F.lit(f"YUV4MPEG2 W{VID_W} H{VID_H} F25:1 Ip A1:1 C444\n")
    return _payload_table(
        docs, "video/y4m", F.encode(F.concat(header, *frames), "UTF-8")
    )


def sample_video_frames(kind: str, payload: bytes) -> list[tuple]:
    """y4m payload → one row per SAMPLED frame (every VID_STRIDE-th), md5
    over the frame's raw planes — the true video frame-sampling shape,
    N payloads → M frame rows."""
    _, _, frames = decode_payload(kind, payload)
    return [
        (k, hashlib.md5(frames[k].tobytes()).hexdigest())
        for k in range(0, len(frames), VID_STRIDE)
    ]


@query(
    "mm_video_frames",
    f"""
    SELECT doc_id, CAST(s.k AS INTEGER) AS frame_idx,
           md5(substr(repeat(md5(text), 18),
                      CAST(s.k * {VID_W * VID_H * 3} + 1 AS INTEGER),
                      {VID_W * VID_H * 3})) AS frame_md5
    FROM documents,
         UNNEST(range(0, {VID_FRAMES}, {VID_STRIDE})) AS s(k)
    ORDER BY doc_id, frame_idx
    """,
    doc="REAL video frame sampling: docs become YUV4MPEG2 streams (true "
    f"stream header + {VID_FRAMES} FRAME-delimited raw C444 planes), "
    "mapInPandas runs the native y4m parser and emits every "
    f"{VID_STRIDE}nd frame's plane md5; the oracle rebuilds each frame's "
    "bytes string-side. Compressed codecs stay gated; payload bytes "
    "never shuffle",
    tags=("multimodal", "pandas-udf", "video"),
)
def mm_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"]
    return _map_payload_rows(
        _y4m_payloads(docs), sample_video_frames, FRAME_SCHEMA
    ).orderBy("doc_id", "frame_idx")


# ---------------------------------------------------------------------------
# Scene-change (keyframe) detection on the natively-decoded video frames:
# per consecutive-frame pair, the mean absolute difference of the raw C444
# planes; pairs above the threshold are cut candidates. This is the
# vision-pipeline selection step (sample ONE frame per scene instead of a
# blind stride) run on REAL decoded arrays — the oracle reconstructs each
# frame's bytes string-side and reproduces every MAD exactly.
# ---------------------------------------------------------------------------

SCENE_CUT_MAD = 25.0

SCENE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("mad", T.DoubleType()),
        T.StructField("is_cut", T.BooleanType()),
    ]
)


def detect_scene_changes(kind: str, payload: bytes) -> list[tuple]:
    """y4m payload → one row per consecutive frame pair with the planes'
    exact mean-absolute-difference (int sum / plane size, so the double
    is bit-identical to the oracle's)."""
    w, h, frames = decode_payload(kind, payload)
    size = 3 * h * w
    sads = [
        int(np.abs(frames[k].astype(np.int16) - frames[k - 1].astype(np.int16)).sum())
        for k in range(1, len(frames))
    ]
    return [
        (k, round(sad / size, 4), sad / size > SCENE_CUT_MAD)
        for k, sad in enumerate(sads, 1)
    ]


@query(
    "mm_scene_change",
    f"""
    WITH f AS (
      SELECT doc_id, s.k AS k,
             substr(repeat(md5(text), 18),
                    CAST(s.k * {VID_W * VID_H * 3} + 1 AS INTEGER),
                    {VID_W * VID_H * 3}) AS fr
      FROM documents, UNNEST(range(0, {VID_FRAMES})) AS s(k)
    ),
    p AS (
      SELECT a.doc_id, b.k AS frame_idx,
             list_sum(list_transform(range(1, {VID_W * VID_H * 3} + 1),
               i -> abs(ascii(substr(a.fr, CAST(i AS INTEGER), 1))
                        - ascii(substr(b.fr, CAST(i AS INTEGER), 1))))) AS sad
      FROM f a JOIN f b ON a.doc_id = b.doc_id AND b.k = a.k + 1
    )
    SELECT doc_id, CAST(frame_idx AS INTEGER) AS frame_idx,
           ROUND(sad / {VID_W * VID_H * 3}.0, 4) AS mad,
           sad / {VID_W * VID_H * 3}.0 > {SCENE_CUT_MAD} AS is_cut
    FROM p ORDER BY doc_id, frame_idx
    """,
    doc="scene-change detection on natively-decoded video: consecutive "
    "C444 frames' exact mean-absolute-difference (integer SAD / plane "
    "size) flags cut candidates above the threshold — the keyframe-"
    "selection step a vision-language pipeline runs instead of blind "
    "stride sampling. mapInPandas over Arrow batches; payload bytes "
    "never shuffle; the oracle rebuilds every frame string-side and "
    "reproduces each MAD bit-for-bit",
    tags=("multimodal", "pandas-udf", "video"),
)
def mm_scene_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"]
    return _map_payload_rows(
        _y4m_payloads(docs), detect_scene_changes, SCENE_SCHEMA
    ).orderBy("doc_id", "frame_idx")


# ---------------------------------------------------------------------------
# Windowed audio energy on the natively-decoded PCM16 samples: per
# 64-sample window, exact RMS (integer sum of squares / window, one sqrt)
# and a silence flag — the voice-activity / silence-trim primitive an
# audio-training pipeline runs before segmenting. Same proof shape as
# mm_scene_change: the REAL decoder on the Spark side, the oracle
# reconstructing every sample from string arithmetic.
# ---------------------------------------------------------------------------

AUDIO_WIN = 64  # samples per energy window (9 windows over 576 samples)
AUDIO_SILENCE_RMS = 20000.0

AUDIO_ENERGY_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("win_idx", T.IntegerType()),
        T.StructField("rms", T.DoubleType()),
        T.StructField("is_silence", T.BooleanType()),
    ]
)


def audio_energy_windows(kind: str, payload: bytes) -> list[tuple]:
    """WAV payload → one row per 64-sample window with the exact RMS
    (int64 sum of squares, one double sqrt)."""
    _, samples = decode_payload(kind, payload)
    v = samples.reshape(-1).astype(np.int64)
    n = v.shape[0] // AUDIO_WIN
    sums = (v[: n * AUDIO_WIN].reshape(n, AUDIO_WIN) ** 2).sum(axis=1)
    rms = [float(np.sqrt(int(ss) / AUDIO_WIN)) for ss in sums]
    return [(k, round(r, 4), r < AUDIO_SILENCE_RMS) for k, r in enumerate(rms)]


@query(
    "mm_audio_energy",
    f"""
    WITH w AS (
      SELECT doc_id, s.k AS win_idx,
             list_sum(list_transform(range(1, {AUDIO_WIN} + 1), i ->
               CAST(
                 CASE WHEN ascii(substr(repeat(md5(text), 36),
                        CAST(s.k * {2 * AUDIO_WIN} + 2 * i - 1 AS INTEGER), 1))
                      + 256 * ascii(substr(repeat(md5(text), 36),
                        CAST(s.k * {2 * AUDIO_WIN} + 2 * i AS INTEGER), 1))
                      >= 32768
                 THEN ascii(substr(repeat(md5(text), 36),
                        CAST(s.k * {2 * AUDIO_WIN} + 2 * i - 1 AS INTEGER), 1))
                      + 256 * ascii(substr(repeat(md5(text), 36),
                        CAST(s.k * {2 * AUDIO_WIN} + 2 * i AS INTEGER), 1))
                      - 65536
                 ELSE ascii(substr(repeat(md5(text), 36),
                        CAST(s.k * {2 * AUDIO_WIN} + 2 * i - 1 AS INTEGER), 1))
                      + 256 * ascii(substr(repeat(md5(text), 36),
                        CAST(s.k * {2 * AUDIO_WIN} + 2 * i AS INTEGER), 1))
                 END AS BIGINT) ** 2)) AS ss
      FROM documents,
           UNNEST(range(0, {AUDIO_DATA_BYTES // 2 // AUDIO_WIN})) AS s(k)
    )
    SELECT doc_id, CAST(win_idx AS INTEGER) AS win_idx,
           ROUND(sqrt(ss / {AUDIO_WIN}.0), 4) AS rms,
           sqrt(ss / {AUDIO_WIN}.0) < {AUDIO_SILENCE_RMS} AS is_silence
    FROM w ORDER BY doc_id, win_idx
    """,
    doc="windowed audio energy on natively-decoded PCM16: per 64-sample "
    "window the exact RMS (int64 sum of squares, one sqrt) with a "
    "silence flag — the voice-activity/silence-trim primitive an audio "
    "pipeline runs before segmenting. The oracle reconstructs every "
    "little-endian int16 sample from string arithmetic and reproduces "
    "each RMS bit-for-bit; payload bytes never shuffle",
    tags=("multimodal", "pandas-udf", "audio"),
)
def mm_audio_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"]
    return _map_payload_rows(
        _wav_payloads(docs), audio_energy_windows, AUDIO_ENERGY_SCHEMA
    ).orderBy("doc_id", "win_idx")


# ---------------------------------------------------------------------------
# Perceptual-hash image dedup: the multimodal twin of dedup_exact. Each
# image reduces to a 64-bit average hash (aHash — 8x8 block means vs the
# global mean; cf. Zauner, "Implementation and Benchmarking of Perceptual
# Image Hash Functions", 2010) computed from the REAL decoded pixels, and
# duplicate groups fall out of one keyed groupBy on the hash. Bits derive
# from exact integer comparisons (block_sum * 64 > total_sum ⟺ block mean
# > global mean), so the hash is bit-identical across engines and across
# float platforms. At 100 TB: payloads never shuffle (the hash is computed
# scan-side in Arrow batches, 64 bits/image cross the exchange); for
# NEAR-dup matching at hamming ≤ k, compose with the pigeonhole block join
# dedup_simhash already ships — the hash here is the input to it.
# ---------------------------------------------------------------------------
PHASH_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("phash", T.StringType()),
    ]
)


def _ahash(img: np.ndarray) -> tuple[str, int]:
    """The 64-char aHash bit string of a (16, 24, 3) image (channel-sum
    grayscale, 3x2-pixel blocks) and its exact total luminance."""
    g = img.astype(np.int64).sum(axis=2)  # grayscale = r+g+b, exact
    blocks = g.reshape(8, 2, 8, 3).sum(axis=(1, 3))  # (by, bx) sums
    total = int(g.sum())
    bits = (blocks * 64 > total).reshape(-1)  # b = by*8 + bx
    return "".join("1" if b else "0" for b in bits), total


def phash_images(kind: str, payload: bytes) -> list[tuple]:
    """Image payload → its aHash bit string via the real decoder."""
    return [_ahash(decode_payload(kind, payload))[:1]]


@query(
    "mm_phash_dedup",
    f"""
    WITH px AS (SELECT doc_id, repeat(md5(text), 36) AS p FROM documents),
    tot AS (
      SELECT doc_id, p,
             list_sum(list_transform(range(1, {IMG_W * IMG_H * 3 + 1}),
               i -> ascii(substr(p, CAST(i AS INTEGER), 1)))) AS total
      FROM px
    ),
    blk AS (
      SELECT t.doc_id, s.b AS b, t.total,
             list_sum(list_transform(range(0, 18), j ->
               ascii(substr(t.p,
                 CAST(((((s.b // 8) * 2 + (j // 9)) * {IMG_W}
                        + (s.b % 8) * 3 + ((j % 9) // 3)) * 3
                       + (j % 3) + 1) AS INTEGER), 1)))) AS bsum
      FROM tot t, UNNEST(range(0, 64)) AS s(b)
    ),
    h AS (
      SELECT doc_id,
             string_agg(CASE WHEN bsum * 64 > total THEN '1' ELSE '0' END,
                        '' ORDER BY b) AS phash
      FROM blk GROUP BY doc_id
    )
    SELECT phash, CAST(MIN(doc_id) AS BIGINT) AS keep_id,
           COUNT(*) AS n_dups
    FROM h GROUP BY phash ORDER BY phash
    """,
    doc="perceptual-hash image dedup: the real netpbm decoder reduces each "
    "24x16 RGB payload to a 64-bit average hash (8x8 block means vs the "
    "global mean, exact integer comparisons), and duplicate images group "
    "on the hash — keep min doc_id, count copies. The oracle rebuilds "
    "every pixel byte string-side and re-derives each bit. Payload bytes "
    "never cross an exchange; compose with dedup_simhash's pigeonhole "
    "join for hamming-near matching",
    tags=("multimodal", "dedup", "pandas-udf", "image"),
)
def mm_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"]
    hashed = _map_payload_rows(_ppm_payloads(docs), phash_images, PHASH_SCHEMA)
    return (
        hashed.groupBy("phash")
        .agg(
            F.min("doc_id").cast("long").alias("keep_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
        .orderBy("phash")
    )


# ---------------------------------------------------------------------------
# Composed multimodal curation pipeline — the image twin of
# pipeline_pretrain: decode → perceptual-hash dedup (keep min doc per
# hash) → integer brightness quality gate → per-source attrition. One
# mapInPandas pass computes BOTH signals (the 64-bit aHash and the exact
# total-luminance int) from one decode, payloads never cross an exchange,
# and the funnel is two keyed aggregates — the plan shape a 100 TB image
# crawl curation actually runs, with a model-scored quality column
# swapping in for the brightness gate without touching the plan.
# ---------------------------------------------------------------------------
MM_BRIGHTNESS_MIN = 80000  # exact int threshold on the 1,152-byte sum

PHASH_QC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("phash", T.StringType()),
        T.StructField("brightness", T.LongType()),
    ]
)


def phash_and_brightness(kind: str, payload: bytes) -> list[tuple]:
    """One decode yields the aHash AND the exact integer total luminance
    (the two curation signals)."""
    return [_ahash(decode_payload(kind, payload))]


@query(
    "pipeline_multimodal",
    f"""
    WITH px AS (SELECT doc_id, repeat(md5(text), 36) AS p FROM documents),
    tot AS (
      SELECT doc_id, p,
             list_sum(list_transform(range(1, {IMG_W * IMG_H * 3 + 1}),
               i -> ascii(substr(p, CAST(i AS INTEGER), 1)))) AS total
      FROM px
    ),
    blk AS (
      SELECT t.doc_id, s.b AS b, t.total,
             list_sum(list_transform(range(0, 18), j ->
               ascii(substr(t.p,
                 CAST(((((s.b // 8) * 2 + (j // 9)) * {IMG_W}
                        + (s.b % 8) * 3 + ((j % 9) // 3)) * 3
                       + (j % 3) + 1) AS INTEGER), 1)))) AS bsum
      FROM tot t, UNNEST(range(0, 64)) AS s(b)
    ),
    h AS (
      SELECT doc_id, ANY_VALUE(total) AS brightness,
             string_agg(CASE WHEN bsum * 64 > total THEN '1' ELSE '0' END,
                        '' ORDER BY b) AS phash
      FROM blk GROUP BY doc_id
    ),
    keep AS (
      SELECT h.doc_id, h.brightness, d.source,
             ROW_NUMBER() OVER (PARTITION BY h.phash ORDER BY h.doc_id)
                 AS rk
      FROM h JOIN documents d USING (doc_id)
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(*) FILTER (rk = 1) AS BIGINT) AS n_after_dedup,
           CAST(COUNT(*) FILTER (rk = 1 AND brightness >= {MM_BRIGHTNESS_MIN})
                AS BIGINT) AS n_kept
    FROM keep GROUP BY source ORDER BY source
    """,
    doc="composed multimodal curation: one decode pass yields the aHash "
    "and exact integer brightness, perceptual dedup keeps the min doc "
    "per hash, the brightness gate drops dim images, and the per-source "
    "attrition funnel reports docs → after-dedup → kept. Payloads stay "
    "in the scan stage; the funnel is keyed aggregates over 64-bit "
    "hashes and int64 signals",
    tags=("multimodal", "pipeline", "pandas-udf", "image"),
)
def pipeline_multimodal(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"]
    sig = _map_payload_rows(_ppm_payloads(docs), phash_and_brightness, PHASH_QC_SCHEMA)
    w = Window.partitionBy("phash").orderBy("doc_id")
    keep = (
        sig.join(docs.select("doc_id", "source"), "doc_id")
        .withColumn("rk", F.row_number().over(w))
    )
    return (
        keep.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("rk") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_after_dedup"),
            F.sum(
                F.when(
                    (F.col("rk") == 1)
                    & (F.col("brightness") >= MM_BRIGHTNESS_MIN),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_kept"),
        )
        .orderBy("source")
    )


# BMP twin of mm_image_decode: the third native image format. Unlike
# netpbm (where decode is the identity on the sample bytes), BMP decode
# is a PERMUTATION — bottom-up row order, per-pixel BGR, 4-byte row
# padding — so the payload is constructed by applying the inverse
# permutation to known RGB content string-side, and only a decoder that
# gets all three quirks exactly right reproduces the content md5 the
# oracle computes directly. Width 8 ⇒ 24-byte rows ⇒ zero padding, so
# the constructed payload needs no filler bytes (the parser still
# computes the stride, and a stride bug breaks any other width in the
# unit tests).
BMP_W, BMP_H = 8, 6
_BMP_CONTENT_LEN = BMP_W * BMP_H * 3  # 144 content bytes


def _bmp_header() -> bytes:
    return (
        b"BM"
        + struct.pack("<IHHI", 54 + _BMP_CONTENT_LEN, 0, 0, 54)
        + struct.pack(
            "<IiiHHIIiiII",
            40, BMP_W, BMP_H, 1, 24, 0, _BMP_CONTENT_LEN, 2835, 2835, 0, 0,
        )
    )


@query(
    "mm_bmp_decode",
    f"""
    SELECT doc_id,
           {BMP_W} AS width, {BMP_H} AS height, 3 AS channels,
           md5(substr(repeat(md5(text), 5), 1, {_BMP_CONTENT_LEN}))
               AS pixel_md5
    FROM documents
    ORDER BY doc_id
    """,
    doc="REAL BMP decode: docs become 24-bit BI_RGB BMP payloads whose "
    "pixel array is the known RGB content run through BMP's storage "
    "permutation (bottom-up rows, BGR byte order) string-side; the "
    "native numpy parser must invert the permutation exactly — flip, "
    "swizzle, or stride bugs all change pixel_md5 and fail the oracle, "
    "which computes the content hash directly. Third native image "
    "format next to P6/P5; payload bytes never shuffle",
    tags=("multimodal", "pandas-udf", "image"),
)
def mm_bmp_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"]
    content = F.substring(_md5_repeat(5), 1, _BMP_CONTENT_LEN)
    # inverse permutation: BMP row r holds content row (H-1-r); each
    # pixel's 3 bytes reverse to B,G,R — generated as explicit substrings
    parts = []
    for bmp_row in range(BMP_H):
        src_row = BMP_H - 1 - bmp_row
        for px in range(BMP_W):
            base = src_row * BMP_W * 3 + px * 3 + 1  # 1-indexed
            parts.append(F.substring(content, base + 2, 1))
            parts.append(F.substring(content, base + 1, 1))
            parts.append(F.substring(content, base, 1))
    pixels = F.encode(F.concat(*parts), "UTF-8")
    payloads = _payload_table(docs, "image/bmp", F.concat(F.lit(_bmp_header()), pixels))
    return _map_payload_rows(
        payloads, decode_image_features, IMG_DECODE_SCHEMA
    ).orderBy("doc_id")


# Resize roundtrip: the registered gate for resize_image. The source is
# the same 24x16 P6 construction as mm_image_decode; nearest-neighbor
# downsample to 12x8 picks source pixel (2r, 2c) for output cell (r, c)
# — ys = (arange(8)*16)//8 and xs = (arange(12)*24)//12 are exactly the
# even indices — so the oracle can rebuild the resized pixel bytes
# string-side with substr arithmetic and md5-compare. The output payload
# is re-DECODED through the netpbm parser before hashing, so the
# re-encode header (magic, dims, maxval) is part of the proof.
RS_W, RS_H = 12, 8


def _resize_roundtrip(kind: str, payload: bytes) -> list[tuple]:
    """resize_image → re-decode → (dims, pixel md5)."""
    return [_pixel_row(decode_payload(kind, resize_image(kind, payload, RS_W, RS_H)))]


@query(
    "mm_resize_roundtrip",
    f"""
    WITH p AS (
      SELECT doc_id, repeat(md5(text), 36) AS s FROM documents
    ),
    cells AS (
      SELECT doc_id,
             string_agg(
               substr(s, CAST((2 * r.y) * {IMG_W * 3} + (2 * c.x) * 3 + 1 AS BIGINT), 3),
               '' ORDER BY r.y, c.x
             ) AS rbytes
      FROM p,
           UNNEST(range(0, {RS_H})) AS r(y),
           UNNEST(range(0, {RS_W})) AS c(x)
      GROUP BY doc_id
    )
    SELECT doc_id, {RS_W} AS width, {RS_H} AS height, 3 AS channels,
           md5(rbytes) AS pixel_md5
    FROM cells ORDER BY doc_id
    """,
    doc="REAL image resize in the pipeline: 24x16 P6 payloads run "
    "through nearest-neighbor resize_image to 12x8, the output payload "
    "is re-decoded by the native netpbm parser (so the re-encoded "
    "header is verified, not just the sample bytes), and the oracle "
    "rebuilds the expected resized pixels string-side from the "
    "(2r, 2c) source-index arithmetic — md5 parity pins the index "
    "mapping, channel order, and re-encode exactly. Payload bytes stay "
    "inside mapInPandas; only 32-char hashes cross the exchange",
    tags=("multimodal", "pandas-udf", "image", "resize"),
)
def mm_resize_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"]
    return _map_payload_rows(
        _ppm_payloads(docs), _resize_roundtrip, IMG_DECODE_SCHEMA
    ).orderBy("doc_id")
