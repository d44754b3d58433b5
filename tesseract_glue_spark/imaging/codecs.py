"""Format-sniffing image decode seam.

The reference loads pages through Leptonica's ``pixRead``, which
dispatches on the container's magic bytes and reports its linked codecs
(``ImageLoaderStrategies.cpp:12-18``, ``capabilities.py:7-19``; its
test corpus is TIFF, ``tests/CMakeLists.txt:3-7``). This module is that
dispatch: built-in dependency-free PNG and TIFF gray8 codecs, with
Pillow (import-gated, absent in this sandbox) as the fallback for
anything they don't cover. Every operator that touches pixel bytes
decodes through :func:`decode_image` / :func:`image_dims_any`, so a
new container is one dispatch entry, not N call-site edits.
"""

from __future__ import annotations

import numpy as np

from tesseract_glue_spark.errors import ImageDecodeError
from tesseract_glue_spark.imaging.jp2 import decode_jp2, is_jp2, jp2_dims
from tesseract_glue_spark.imaging.png import _PNG_SIG, decode_png, image_dims
from tesseract_glue_spark.imaging.tiff import (
    TIFF_SIG_BE,
    TIFF_SIG_LE,
    decode_tiff,
    tiff_dims,
)

try:  # optional: widens format coverage when installed (not in sandbox)
    import PIL  # noqa: F401
    from PIL import Image as _PILImage

    _HAVE_PIL = True
except ImportError:
    _HAVE_PIL = False

MAX_PIXELS = 72_000_000
"""Largest ``width * height`` a page may declare in its header (PNG
IHDR, TIFF tags, JP2 ihdr/SIZ, or Pillow's header); :func:`decode_image`
rejects a larger page before any pixel data is read: from the header
before it dispatches, or for TIFF from the tags before any strip. It
admits a 600-dpi A3 scan (7016 x 9922 = 69.6 Mpx) with a little margin.

On the default path ``ocr_one_page`` holds 2 bytes per pixel at once
(the inflated scanlines and the decoded page; its ``tracemalloc`` peak
on a 6 Mpx all-ink page is 2.0 B/px), so about 145 MB at the cap in
one Python worker. The opt-in layout analysis (``preprocess=True``)
adds nothing on that page, which Otsu finds uniform. On a 6 Mpx page of
sheared text lines it peaks at 3.0 B/px (the page, the deskewed copy
and that copy's mask; the pre-deskew mask is dropped first and the Otsu
histogram is built in bounded blocks), about 216 MB at the cap. Without
the cap, a 16000 x 16000 page would need 0.5 GB on the default path and
0.8 GB with layout analysis, and a few hundred KB of deflate stream can
declare one."""


def _pil_decode(data: bytes) -> np.ndarray:
    import io

    try:
        with _PILImage.open(io.BytesIO(data)) as im:
            return np.asarray(im.convert("L"), dtype=np.uint8)
    except Exception as exc:
        raise ImageDecodeError(f"Pillow failed to decode: {exc}") from exc


def _check_pixel_cap(w: int, h: int) -> None:
    if w * h > MAX_PIXELS:
        raise ImageDecodeError(f"page {w}x{h} exceeds the {MAX_PIXELS}-pixel cap")


def decode_image(data: bytes) -> np.ndarray:
    """Decode PNG or TIFF page bytes to a 2-D uint8 grayscale array,
    dispatching on magic bytes; unknown containers go to Pillow when
    installed, else raise :class:`ImageDecodeError` (degrade-don't-die:
    callers map this to an error-status row). A page declaring more
    than :data:`MAX_PIXELS` pixels in its header raises before any
    pixel data is read."""
    if not isinstance(data, (bytes, bytearray, memoryview)) or len(data) < 4:
        raise ImageDecodeError("not an image buffer")
    data = bytes(data)
    head = data[:8]
    if head[:4] in (TIFF_SIG_LE, TIFF_SIG_BE):
        # the codec checks the cap between its tags and its strips, so
        # the IFD is parsed once
        return decode_tiff(data, check_dims=_check_pixel_cap)
    _check_pixel_cap(*image_dims_any(data))
    if head == _PNG_SIG:
        return decode_png(data)
    if is_jp2(data[:12]):
        # header parse is built-in; the entropy decode inside needs a
        # JPEG-2000-capable Pillow and degrades to the typed error
        return decode_jp2(data)
    if _HAVE_PIL:
        return _pil_decode(data)
    raise ImageDecodeError(f"unrecognized image container (magic {head[:4]!r})")


def image_dims_any(data: bytes) -> tuple[int, int]:
    """(width, height) without full decode; (0, 0) if unreadable —
    the reference's null-image convention (``Image.cpp:15-27``)."""
    try:
        head = bytes(data[:8])
    except Exception:
        return (0, 0)
    if head == _PNG_SIG:
        return image_dims(bytes(data))
    if head[:4] in (TIFF_SIG_LE, TIFF_SIG_BE):
        return tiff_dims(bytes(data))
    if is_jp2(bytes(data[:12])):
        return jp2_dims(bytes(data))
    if _HAVE_PIL:
        try:
            import io

            with _PILImage.open(io.BytesIO(bytes(data))) as im:
                return (int(im.width), int(im.height))
        except Exception:
            return (0, 0)
    return (0, 0)


def sniff_mime(data: bytes) -> str:
    """Container mime from magic bytes (pixRead-style dispatch)."""
    head = bytes(data[:8])
    if head == _PNG_SIG:
        return "image/png"
    if head[:4] in (TIFF_SIG_LE, TIFF_SIG_BE):
        return "image/tiff"
    if is_jp2(bytes(data[:12])):
        return "image/jp2"
    return "application/octet-stream"


def codec_versions() -> dict[str, str]:
    """Linked-codec report, the shape of the reference's
    ``image_lib_versions`` (``capabilities.py:7-19``)."""
    import zlib

    out = {
        "zlib": zlib.ZLIB_VERSION,
        "numpy": np.__version__,
        "png-gray8": "builtin",
        "tiff-gray8": "builtin",
        # header/dims parsing is built-in; pixel decode needs openjpeg
        "jp2-header": "builtin",
    }
    if _HAVE_PIL:
        out["pillow"] = PIL.__version__
        try:
            from PIL import features as _feat

            out["jp2-decode"] = "pillow" if _feat.check("jpg_2000") else "unavailable"
        except Exception:
            out["jp2-decode"] = "unavailable"
    else:
        out["jp2-decode"] = "unavailable"
    return out
