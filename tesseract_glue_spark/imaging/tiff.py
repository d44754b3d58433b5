"""Minimal, dependency-free TIFF codec for 8-bit grayscale pages.

The reference's entire test corpus is TIFF (``tests/CMakeLists.txt:3-7``
lists only ``.tif`` fixtures) and its capability test requires libtiff
linked into Leptonica (``tests/test_capabilties.py:11-12``) — TIFF is
the archival standard for scanned pages, so a pipeline limited to PNG
hits :class:`ImageDecodeError` on every real page. This module decodes
the subset that matters for OCR page stores:

* baseline TIFF, both byte orders (``II`` little / ``MM`` big endian)
* 8-bit single-sample grayscale (``BitsPerSample=8``,
  ``SamplesPerPixel=1``)
* uncompressed strips (``Compression=1``), any ``RowsPerStrip``
* both photometric interpretations (``WhiteIsZero`` is inverted to the
  standard black-is-zero orientation, like Leptonica's pixRead)

Anything else (LZW/JPEG compression, tiles, palettes, multi-sample)
raises :class:`ImageDecodeError` with a precise reason — the pipeline
converts that into an error-status row, never a task failure. When
Pillow is installed the dispatch seam in
:mod:`tesseract_glue_spark.imaging.codecs` prefers it for the formats
this module doesn't cover.
"""

from __future__ import annotations

import struct
from typing import Callable

import numpy as np

from tesseract_glue_spark.errors import ImageDecodeError

TIFF_SIG_LE = b"II*\x00"
TIFF_SIG_BE = b"MM\x00*"

# tag ids (TIFF 6.0 baseline)
_T_WIDTH = 256
_T_HEIGHT = 257
_T_BITS = 258
_T_COMPRESSION = 259
_T_PHOTOMETRIC = 262
_T_STRIP_OFFSETS = 273
_T_SAMPLES_PER_PIXEL = 277
_T_ROWS_PER_STRIP = 278
_T_STRIP_BYTE_COUNTS = 279

_TYPE_SIZES = {1: 1, 2: 1, 3: 2, 4: 4, 6: 1, 7: 1, 8: 2, 9: 4, 11: 4, 12: 8}
_TYPE_FMT = {1: "B", 3: "H", 4: "I", 8: "h", 9: "i"}


def encode_tiff(
    img: np.ndarray,
    *,
    big_endian: bool = False,
    rows_per_strip: int | None = None,
    photometric: int = 1,
) -> bytes:
    """Encode a 2-D uint8 array as an uncompressed grayscale TIFF.

    Single IFD, strip layout (``rows_per_strip`` rows per strip;
    default = whole image in one strip). ``photometric=1`` stores the
    array as-is (BlackIsZero); ``photometric=0`` stores the inverted
    samples (WhiteIsZero) so a spec-conformant decoder recovers the
    same logical image either way."""
    if img.ndim != 2 or img.dtype != np.uint8:
        raise ValueError("encode_tiff expects a 2-D uint8 array")
    if photometric not in (0, 1):
        raise ValueError("photometric must be 0 (WhiteIsZero) or 1 (BlackIsZero)")
    if photometric == 0:
        img = 255 - img
    h, w = img.shape
    bo = ">" if big_endian else "<"
    rps = h if rows_per_strip is None else max(1, int(rows_per_strip))
    n_strips = max(1, -(-h // rps))
    strips = [img[i * rps : min((i + 1) * rps, h)].tobytes() for i in range(n_strips)]

    header = struct.pack(f"{bo}2sHI", b"MM" if big_endian else b"II", 42, 8)
    tags = [
        (_T_WIDTH, 4, 1, w),
        (_T_HEIGHT, 4, 1, h),
        (_T_BITS, 3, 1, 8),
        (_T_COMPRESSION, 3, 1, 1),
        (_T_PHOTOMETRIC, 3, 1, photometric),
        (_T_STRIP_OFFSETS, 4, n_strips, None),      # patched below
        (_T_SAMPLES_PER_PIXEL, 3, 1, 1),
        (_T_ROWS_PER_STRIP, 4, 1, rps),
        (_T_STRIP_BYTE_COUNTS, 4, n_strips, None),  # patched below
    ]
    ifd_size = 2 + len(tags) * 12 + 4
    # layout: header | IFD | offsets array | bytecounts array | strip data
    arrays_at = 8 + ifd_size
    off_arr_at = arrays_at
    cnt_arr_at = arrays_at + (4 * n_strips if n_strips > 1 else 0)
    data_at = cnt_arr_at + (4 * n_strips if n_strips > 1 else 0)
    strip_offsets = []
    pos = data_at
    for s in strips:
        strip_offsets.append(pos)
        pos += len(s)

    def tag_bytes(tid: int, ttype: int, count: int, value) -> bytes:
        if tid == _T_STRIP_OFFSETS:
            inline = strip_offsets[0] if n_strips == 1 else off_arr_at
        elif tid == _T_STRIP_BYTE_COUNTS:
            inline = len(strips[0]) if n_strips == 1 else cnt_arr_at
        else:
            inline = value
        if ttype == 3:  # SHORT packs left-justified in the 4-byte value slot
            return struct.pack(f"{bo}HHIHH", tid, ttype, count, inline, 0)
        return struct.pack(f"{bo}HHII", tid, ttype, count, inline)

    ifd = struct.pack(f"{bo}H", len(tags))
    for t in tags:
        ifd += tag_bytes(*t)
    ifd += struct.pack(f"{bo}I", 0)  # no next IFD
    out = header + ifd
    if n_strips > 1:
        out += struct.pack(f"{bo}{n_strips}I", *strip_offsets)
        out += struct.pack(f"{bo}{n_strips}I", *[len(s) for s in strips])
    return out + b"".join(strips)


def _read_ifd(data: bytes, bo: str) -> dict[int, tuple[int, int, bytes]]:
    """First IFD → {tag: (type, count, value_or_offset_bytes)}."""
    (ifd_off,) = struct.unpack_from(f"{bo}I", data, 4)
    if ifd_off + 2 > len(data):
        raise ImageDecodeError("truncated TIFF: IFD offset out of range")
    (n_tags,) = struct.unpack_from(f"{bo}H", data, ifd_off)
    entries: dict[int, tuple[int, int, bytes]] = {}
    for i in range(n_tags):
        at = ifd_off + 2 + i * 12
        if at + 12 > len(data):
            raise ImageDecodeError("truncated TIFF: IFD entry out of range")
        tid, ttype, count = struct.unpack_from(f"{bo}HHI", data, at)
        entries[tid] = (ttype, count, data[at + 8 : at + 12])
    return entries


def _tag_values(data: bytes, bo: str, entry: tuple[int, int, bytes]) -> list[int]:
    ttype, count, raw = entry
    if ttype not in _TYPE_FMT:
        raise ImageDecodeError(f"unsupported TIFF tag type {ttype}")
    size = _TYPE_SIZES[ttype] * count
    if size <= 4:
        buf = raw[:size]
    else:
        (off,) = struct.unpack(f"{bo}I", raw)
        buf = data[off : off + size]
        if len(buf) != size:
            raise ImageDecodeError("truncated TIFF: tag values out of range")
    return list(struct.unpack(f"{bo}{count}{_TYPE_FMT[ttype]}", buf))


def _tag_scalar(data: bytes, bo: str, entries, tid: int, default: int | None = None) -> int:
    if tid not in entries:
        if default is None:
            raise ImageDecodeError(f"TIFF missing required tag {tid}")
        return default
    return _tag_values(data, bo, entries[tid])[0]


def decode_tiff(data: bytes, check_dims: Callable[[int, int], None] | None = None) -> np.ndarray:
    """Decode an uncompressed 8-bit grayscale TIFF into a 2-D uint8
    array (black-is-zero orientation; WhiteIsZero input is inverted).

    ``check_dims(width, height)``, when given, runs on the tags before
    any strip is read and may raise to reject the page (the pixel cap
    of :func:`~tesseract_glue_spark.imaging.codecs.decode_image`, which
    so parses the IFD once). Raises :class:`ImageDecodeError` on any
    unsupported variant or malformed structure."""
    if not isinstance(data, (bytes, bytearray)) or len(data) < 8:
        raise ImageDecodeError("not a TIFF buffer")
    data = bytes(data)
    sig = data[:4]
    if sig == TIFF_SIG_LE:
        bo = "<"
    elif sig == TIFF_SIG_BE:
        bo = ">"
    else:
        raise ImageDecodeError("not a TIFF buffer")
    try:
        entries = _read_ifd(data, bo)
        w = _tag_scalar(data, bo, entries, _T_WIDTH)
        h = _tag_scalar(data, bo, entries, _T_HEIGHT)
        if check_dims is not None:
            check_dims(w, h)
        bits = _tag_scalar(data, bo, entries, _T_BITS, default=1)
        comp = _tag_scalar(data, bo, entries, _T_COMPRESSION, default=1)
        photo = _tag_scalar(data, bo, entries, _T_PHOTOMETRIC, default=1)
        spp = _tag_scalar(data, bo, entries, _T_SAMPLES_PER_PIXEL, default=1)
        if comp != 1:
            raise ImageDecodeError(f"unsupported TIFF compression {comp}")
        if bits != 8 or spp != 1:
            raise ImageDecodeError(
                f"unsupported TIFF variant bits={bits} samples={spp}"
            )
        if photo not in (0, 1):
            raise ImageDecodeError(f"unsupported TIFF photometric {photo}")
        if w <= 0 or h <= 0:
            raise ImageDecodeError("invalid TIFF dimensions")
        if _T_STRIP_OFFSETS not in entries:
            raise ImageDecodeError("TIFF missing strip offsets (tiled TIFF?)")
        offsets = _tag_values(data, bo, entries[_T_STRIP_OFFSETS])
        if _T_STRIP_BYTE_COUNTS in entries:
            counts = _tag_values(data, bo, entries[_T_STRIP_BYTE_COUNTS])
        else:
            # tolerated only for a single strip of known size
            if len(offsets) != 1:
                raise ImageDecodeError("TIFF missing strip byte counts")
            counts = [w * h]
        # strips are copied into the page buffer and reading stops once
        # it is full: strip offsets may repeat, so the strips' total
        # bears no bound of its own
        img = np.empty(w * h, dtype=np.uint8)
        pos = 0
        for off, cnt in zip(offsets, counts):
            if off < 0 or cnt < 0 or off + cnt > len(data):
                raise ImageDecodeError("truncated TIFF strip")
            n = min(cnt, img.size - pos)
            img[pos : pos + n] = np.frombuffer(data, dtype=np.uint8, count=n, offset=off)
            pos += n
            if pos == img.size:
                break
        if pos < img.size:
            raise ImageDecodeError("TIFF strip data shorter than image")
        img = img.reshape(h, w)
        if photo == 0:  # WhiteIsZero → standard orientation
            np.invert(img, out=img)
        return img
    except ImageDecodeError:
        raise
    except Exception as exc:  # struct errors etc → decode taxonomy
        raise ImageDecodeError(f"malformed TIFF: {exc}") from exc


def tiff_dims(data: bytes) -> tuple[int, int]:
    """(width, height) from the IFD without touching pixel data;
    (0, 0) if unreadable — the reference's null-image convention."""
    try:
        data = bytes(data)
        sig = data[:4]
        bo = "<" if sig == TIFF_SIG_LE else ">" if sig == TIFF_SIG_BE else None
        if bo is None:
            return (0, 0)
        entries = _read_ifd(data, bo)
        return (
            int(_tag_scalar(data, bo, entries, _T_WIDTH)),
            int(_tag_scalar(data, bo, entries, _T_HEIGHT)),
        )
    except Exception:
        return (0, 0)
