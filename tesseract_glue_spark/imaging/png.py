"""Minimal, dependency-free PNG codec for 8-bit grayscale images.

The reference loads page images through Leptonica's ``pixRead``
(``ImageLoaderStrategies.cpp:12-18``) and exposes width/height
(``Image.cpp:15-27``). Our pipeline keeps images as a lossless-encoded
``binary`` column and decodes them to ``numpy.ndarray`` *inside* pandas
UDF workers only (never as a Spark-side raster type). PNG is the
container; this module implements exactly the subset we emit
(8-bit grayscale, non-interlaced) plus enough of the spec to be robust
(filters 0-4 on decode).

An unreadable buffer raises :class:`~tesseract_glue_spark.errors.ImageDecodeError`,
mirroring the reference's ``TesseractGlueException`` → ``RuntimeError``
channel (``glueExceptions.h:9-13``, ``tesseractwrap.cpp:34``,
``tests/test_load_image.py:10-14``).
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

from tesseract_glue_spark.errors import ImageDecodeError

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _chunk(tag: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + tag
        + data
        + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
    )


def encode_png(img: np.ndarray) -> bytes:
    """Encode a 2-D uint8 array as an 8-bit grayscale PNG."""
    if img.ndim != 2 or img.dtype != np.uint8:
        raise ValueError("encode_png expects a 2-D uint8 array")
    h, w = img.shape
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)  # gray, no interlace
    # filter byte 0 (None) per scanline
    raw = b"".join(b"\x00" + img[y].tobytes() for y in range(h))
    idat = zlib.compress(raw, 6)
    return _PNG_SIG + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", idat) + _chunk(b"IEND", b"")


def _unfilter(raw: np.ndarray, w: int, h: int) -> np.ndarray:
    """Undo PNG scanline filters for 1-byte-per-pixel grayscale.

    Fast path: when every scanline uses filter 0 (None) — which is what
    our encoder always emits — the image is a pure reshape+slice, no
    per-row Python loop (this sits in the OCR hot path)."""
    stride = w + 1
    mat = raw.reshape(h, stride)
    if not mat[:, 0].any():  # all filter bytes 0
        return mat[:, 1:].copy()
    out = np.zeros((h, w), dtype=np.uint8)
    for y in range(h):
        ftype = raw[y * stride]
        line = raw[y * stride + 1 : (y + 1) * stride].astype(np.int32)
        prev = out[y - 1].astype(np.int32) if y > 0 else np.zeros(w, dtype=np.int32)
        if ftype == 0:
            out[y] = line.astype(np.uint8)
        elif ftype == 2:  # Up
            out[y] = ((line + prev) & 0xFF).astype(np.uint8)
        elif ftype in (1, 3, 4):  # Sub / Average / Paeth need left-neighbor scans
            cur = np.zeros(w, dtype=np.int32)
            for x in range(w):
                a = cur[x - 1] if x > 0 else 0
                b = prev[x]
                if ftype == 1:
                    cur[x] = (line[x] + a) & 0xFF
                elif ftype == 3:
                    cur[x] = (line[x] + (a + b) // 2) & 0xFF
                else:
                    c = int(out[y - 1, x - 1]) if (x > 0 and y > 0) else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    cur[x] = (line[x] + pred) & 0xFF
            out[y] = cur.astype(np.uint8)
        else:
            raise ImageDecodeError(f"unsupported PNG filter type {ftype}")
    return out


def decode_png(data: bytes) -> np.ndarray:
    """Decode an 8-bit grayscale PNG into a 2-D uint8 array.

    Raises :class:`ImageDecodeError` on any malformed input — the
    pipeline converts this into an error-status row rather than a task
    failure (degrade-don't-die, ``reader2.cpp:19-23``).
    """
    if not isinstance(data, (bytes, bytearray)) or len(data) < 8 or bytes(data[:8]) != _PNG_SIG:
        raise ImageDecodeError("not a PNG buffer")
    data = bytes(data)
    pos = 8
    w = h = -1
    idat = bytearray()
    try:
        while pos + 8 <= len(data):
            (length,) = struct.unpack(">I", data[pos : pos + 4])
            tag = data[pos + 4 : pos + 8]
            body = data[pos + 8 : pos + 8 + length]
            if len(body) != length:
                raise ImageDecodeError("truncated PNG chunk")
            # IHDR is the first chunk and only there (the spec's order):
            # the header-only pixel cap of codecs.decode_image reads the
            # dims from that position, so no later chunk may redefine them
            if (pos == 8) != (tag == b"IHDR"):
                raise ImageDecodeError("PNG IHDR is not the first and only header chunk")
            if tag == b"IHDR":
                w, h, depth, ctype, _, _, interlace = struct.unpack(">IIBBBBB", body)
                if depth != 8 or ctype != 0 or interlace != 0:
                    raise ImageDecodeError(
                        f"unsupported PNG variant depth={depth} color={ctype} interlace={interlace}"
                    )
            elif tag == b"IDAT":
                idat += body
            elif tag == b"IEND":
                break
            pos += 12 + length
        if w <= 0 or h <= 0:
            raise ImageDecodeError("missing IHDR")
        # inflate at most one byte past the declared size: a deflate
        # bomb stops there instead of filling memory
        inflater = zlib.decompressobj()
        raw = inflater.decompress(bytes(idat), h * (w + 1) + 1)
        if len(raw) != h * (w + 1) or not inflater.eof:
            raise ImageDecodeError("IDAT size mismatch")
        return _unfilter(np.frombuffer(raw, dtype=np.uint8), w, h)
    except ImageDecodeError:
        raise
    except Exception as exc:  # zlib/struct errors → decode error taxonomy
        raise ImageDecodeError(f"malformed PNG: {exc}") from exc


def image_dims(data: bytes) -> tuple[int, int]:
    """(width, height) of a PNG without full decode; (0, 0) if unreadable.

    Mirrors the reference's null-image semantics: ``Image.w``/``Image.h``
    return 0 for a null image (``Image.cpp:15-27``, ``tests/test_basic.cpp:45-58``).
    """
    try:
        # the dims are read from IHDR as the first chunk, the only place
        # decode_png accepts it
        if bytes(data[:8]) != _PNG_SIG or bytes(data[12:16]) != b"IHDR":
            return (0, 0)
        w, h = struct.unpack(">II", bytes(data[16:24]))
        return (int(w), int(h))
    except Exception:
        return (0, 0)
