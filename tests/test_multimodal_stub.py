"""Multimodal decoders and the row worker: native uncompressed formats
decode, compressed media kinds raise until a codec is plugged in, and
`_map_payload_rows`'s batch function builds typed frames without Spark."""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
import pytest

from compass_query_optimizer_spark.operators.multimodal import (
    FRAME_SCHEMA,
    _payload_rows_worker,
    decode_payload,
    resize_image,
    sample_frames,
)


def _text_batch(doc_ids, texts):
    return pd.DataFrame(
        {
            "doc_id": pd.array(doc_ids, dtype="int64"),
            "kind": ["text/utf-8"] * len(texts),
            "payload": [t.encode("utf-8") for t in texts],
        }
    )


def test_payload_rows_worker_puts_doc_id_in_front():
    """Two payloads → one row per sampled 64-character frame, doc_id
    first."""
    a, b = "x" * 200, "y" * 10  # frames 0..3 (keep 0, 2) and frame 0
    worker = _payload_rows_worker(sample_frames, FRAME_SCHEMA)
    (out,) = worker(iter([_text_batch([7, 9], [a, b])]))

    def md5(s):
        return hashlib.md5(s.encode()).hexdigest()

    assert list(out.itertuples(index=False, name=None)) == [
        (7, 0, md5(a[:64])),
        (7, 2, md5(a[128:192])),
        (9, 0, md5(b)),
    ]
    assert worker.__name__ == "sample_frames"


def test_payload_rows_worker_types_an_empty_batch():
    """A payload with no rows (empty text → 0 frames) yields an empty
    frame that still carries the schema's names and pandas dtypes."""
    worker = _payload_rows_worker(sample_frames, FRAME_SCHEMA)
    (out,) = worker(iter([_text_batch([3], [""])]))
    assert out.empty
    assert list(out.columns) == FRAME_SCHEMA.fieldNames()
    assert [str(t) for t in out.dtypes] == ["int64", "int32", "object"]


def test_real_media_kinds_raise():
    with pytest.raises(NotImplementedError):
        resize_image("image/png", b"\x89PNG...", 2, 2)
    with pytest.raises(NotImplementedError):
        decode_payload("video/mp4", b"...")
    assert decode_payload("text/utf-8", b"abc") == "abc"


# ------------------------------------------ round-6: native format decoders
def test_ppm_decode_with_comments():
    """P6 parser: header comments, multi-whitespace, exact reshape."""
    import numpy as np

    from compass_query_optimizer_spark.operators.multimodal import decode_payload

    pixels = bytes(range(2 * 3 * 3))  # 3x2 RGB, distinct byte per sample
    payload = b"P6\n# a comment\n3 2\n# another\n255\n" + pixels
    img = decode_payload("image/ppm", payload)
    assert img.shape == (2, 3, 3) and img.dtype == np.uint8
    assert img.tobytes() == pixels
    assert tuple(img[1, 2]) == (15, 16, 17)  # row-major: last pixel


def test_pgm_decode_grayscale():
    from compass_query_optimizer_spark.operators.multimodal import decode_payload

    payload = b"P5 4 2 255 " + bytes(range(8))
    img = decode_payload("image/pgm", payload)
    assert img.shape == (2, 4) and img[1, 3] == 7


def test_wav_pcm16_roundtrip():
    """RIFF walker: LIST chunk skipped, stereo int16 samples recovered."""
    import struct

    import numpy as np

    from compass_query_optimizer_spark.operators.multimodal import decode_payload

    samples = np.array([[0, 1], [-2, 3], [32767, -32768]], dtype="<i2")
    data = samples.tobytes()
    fmt = struct.pack("<HHIIHH", 1, 2, 8000, 8000 * 4, 4, 16)
    body = (
        b"WAVE"
        + b"LIST" + struct.pack("<I", 4) + b"INFO"   # skipped chunk
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    payload = b"RIFF" + struct.pack("<I", len(body)) + body
    rate, got = decode_payload("audio/wav", payload)
    assert rate == 8000
    assert np.array_equal(got, samples)


def test_media_gates_still_honest():
    """Compressed formats and non-PCM audio must still raise — the decode
    surface is real ONLY where the public spec needs no external codec."""
    import struct

    import pytest

    from compass_query_optimizer_spark.operators.multimodal import decode_payload

    with pytest.raises(NotImplementedError):
        decode_payload("image/jpeg", b"\xff\xd8\xff")
    fmt = struct.pack("<HHIIHH", 85, 1, 8000, 1000, 1, 16)  # tag 85 = mp3
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    with pytest.raises(NotImplementedError):
        decode_payload("audio/wav", b"RIFF" + struct.pack("<I", len(body)) + body)


def test_resize_real_ppm():
    """Resize decodes the real PPM, nearest-neighbor samples, re-encodes:
    output must itself decode to the expected dims and corner pixels."""
    import numpy as np

    from compass_query_optimizer_spark.operators.multimodal import (
        decode_payload,
        resize_image,
    )

    src = np.arange(4 * 4 * 3, dtype=np.uint8).reshape(4, 4, 3)
    payload = b"P6\n4 4\n255\n" + src.tobytes()
    out = decode_payload("image/ppm", resize_image("image/ppm", payload, 2, 2))
    assert out.shape == (2, 2, 3)
    assert np.array_equal(out[0, 0], src[0, 0])
    assert np.array_equal(out[1, 1], src[2, 2])


def test_y4m_decode_frames_and_gate():
    """Y4M parser: header tokens in any order, FRAME params skipped to the
    newline, planes reshaped (3, h, w); non-C444 colorspaces gate."""
    import numpy as np
    import pytest

    from compass_query_optimizer_spark.operators.multimodal import decode_payload

    f0 = bytes(range(2 * 1 * 3))  # 2x1 C444: 6 bytes per frame
    f1 = bytes(range(100, 106))
    payload = (
        b"YUV4MPEG2 F25:1 W2 H1 C444\n"
        + b"FRAME\n" + f0
        + b"FRAME Xparam\n" + f1   # per-frame params must be skipped
    )
    w, h, frames = decode_payload("video/y4m", payload)
    assert (w, h) == (2, 1) and frames.shape == (2, 3, 1, 2)
    assert frames[0].tobytes() == f0 and frames[1].tobytes() == f1
    assert frames.dtype == np.uint8

    with pytest.raises(NotImplementedError, match="C420"):
        decode_payload("video/y4m", b"YUV4MPEG2 W2 H2 C420jpeg\nFRAME\n" + bytes(6))


def test_bmp_roundtrip_inverts_storage_permutation():
    """The BMP parser must invert bottom-up row order, BGR byte order, and
    4-byte row padding — including widths that actually need pad bytes
    (the registered entry uses a pad-free width, so the stride logic is
    pinned here)."""
    import struct

    import numpy as np

    from compass_query_optimizer_spark.operators.multimodal import _decode_bmp

    def encode(img):
        h, w, _ = img.shape
        stride = ((w * 3 + 3) // 4) * 4
        rows = []
        for r in range(h - 1, -1, -1):
            row = img[r][:, ::-1].tobytes()
            rows.append(row + b"\0" * (stride - len(row)))
        content = b"".join(rows)
        return (
            b"BM"
            + struct.pack("<IHHI", 54 + len(content), 0, 0, 54)
            + struct.pack(
                "<IiiHHIIiiII",
                40, w, h, 1, 24, 0, len(content), 2835, 2835, 0, 0,
            )
            + content
        )

    rng = np.random.RandomState(7)
    for w, h in [(8, 6), (5, 4), (7, 3), (1, 1)]:
        img = rng.randint(0, 256, (h, w, 3), dtype=np.uint8)
        assert (_decode_bmp(encode(img)) == img).all(), (w, h)


def test_bmp_gates_stay_honest():
    """Non-24-bit / compressed BMP variants raise the explicit gate."""
    import struct

    import pytest

    from compass_query_optimizer_spark.operators.multimodal import _decode_bmp

    hdr = (
        b"BM" + struct.pack("<IHHI", 54, 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, 1, 1, 1, 8, 0, 4, 0, 0, 0, 0)
    )
    with pytest.raises(NotImplementedError):
        _decode_bmp(hdr + b"\0" * 4)

    # top-down BMPs carry a NEGATIVE height (BITMAPINFOHEADER is signed);
    # the parser must gate cleanly instead of misreading h as ~4 billion
    topdown = (
        b"BM" + struct.pack("<IHHI", 54 + 4, 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, 1, -1, 1, 24, 0, 4, 0, 0, 0, 0)
    )
    with pytest.raises(NotImplementedError, match="top-down"):
        _decode_bmp(topdown + b"\0" * 4)
