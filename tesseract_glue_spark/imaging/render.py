"""Deterministic synthetic page generator + the shared truth contract.

The reference's test corpus is 5 TIFF pages with golden dimensions and
emptiness expectations (``tests/CMakeLists.txt:3-7``,
``tests/test_basic.cpp:10-22,60-84``). We mirror that corpus with
*procedurally generated* pages whose text is recoverable byte-for-byte
by the stub OCR backend (FIXTURES.md §2 determinism contract), so
span-sequence equality can be asserted without real Tesseract.

THE CONTRACT (keep in sync with :mod:`tesseract_glue_spark.functions.truth`,
which renders the same rules as Spark SQL and DuckDB SQL expressions):

for media id ``n`` (``media_ref = 'img_%08d' % n``):

* ``n % 7 == 0``  → **blank page** (OCR → ``''``; half of these embed a
  whitespace-only payload to exercise the whitespace-normalization
  invariant, ``reader2.cpp:45-51``)
* ``n % 13 == 0 and n % 7 != 0`` → **dangling** (no page exists; the
  resolver misses → error-status path, ``tests/test_load_image.py:10-14``)
* otherwise → ``truth_text(n) = 'page {n} glyph {(n*2654435761) % 9973} lorem ipsum dolor'``

Page classes (structure for the opt-in layout kernels to chew on):

* ``n % 5 == 0`` → skewed body (sheared 1-4 "degrees") — deskew stage
* ``n % 3 == 0`` → embedded picture block — layout segmentation
* otherwise     → headings + glyph bars — happy path

Payload encoding (reversible; the "stub codec" of FIXTURES.md): the
top ``PAYLOAD_ROWS`` rows carry, row-major from (0,0), the bytes
``b'TG' + len(utf8).to_bytes(4,'big') + utf8`` as pixel intensities.
PNG is lossless so the roundtrip is exact.
"""

from __future__ import annotations

import numpy as np

from tesseract_glue_spark.imaging.png import encode_png

MEDIA_POOL = 6000          # distinct media ids in the synthetic corpus
                           # (≈4× ref sharing at sf0.1's ~24k media spans —
                           # enough to exercise dedup-before-OCR without
                           # capping OCR work at bench scale)
PAYLOAD_ROWS = 8
PAYLOAD_MAGIC = b"TG"
_GLYPH_MULT = 2654435761   # Knuth multiplicative constant (public domain)
_GLYPH_MOD = 9973


def ref_to_num(media_ref: str) -> int:
    """'img_00000042' → 42; raises ValueError on malformed refs."""
    if not media_ref.startswith("img_"):
        raise ValueError(f"malformed media_ref: {media_ref!r}")
    return int(media_ref[4:])


def num_to_ref(n: int) -> str:
    return f"img_{n:08d}"


def is_blank(n: int) -> bool:
    return n % 7 == 0


def is_dangling(n: int) -> bool:
    return n % 13 == 0 and n % 7 != 0


def truth_text(n: int) -> str:
    """Expected OCR output for page n (post whitespace-normalization)."""
    if is_blank(n):
        return ""
    return f"page {n} glyph {(n * _GLYPH_MULT) % _GLYPH_MOD} lorem ipsum dolor"


def raw_payload_text(n: int) -> str:
    """Text physically embedded in the pixels (pre-normalization).

    Half the blank pages embed whitespace so the pipeline must apply the
    whitespace→'' rule (``reader2.cpp:49-51``) rather than merely pass
    through an empty payload.
    """
    if is_blank(n):
        return "" if n % 14 == 0 else " \t  "
    return truth_text(n)


def page_dims(n: int) -> tuple[int, int]:
    """(width, height) — deterministic, varied like the reference's
    dimension golden table (``tests/test_basic.cpp:60-84``)."""
    payload = raw_payload_text(n).encode("utf-8")
    w = max(240, len(payload) + 16)
    h = 160 + (n % 4) * 40
    return w, h


def render_page(n: int) -> tuple[bytes, int, int, str]:
    """Render page ``n`` → (png_bytes, width, height, truth_text)."""
    w, h = page_dims(n)
    img = np.full((h, w), 255, dtype=np.uint8)

    # --- payload (reversible text encoding) ---
    payload = raw_payload_text(n).encode("utf-8")
    stream = PAYLOAD_MAGIC + len(payload).to_bytes(4, "big") + payload
    flat = img.reshape(-1)
    flat[: len(stream)] = np.frombuffer(stream, dtype=np.uint8)

    if is_blank(n):
        return encode_png(img), w, h, truth_text(n)

    # --- visible body: glyph bars derived from the text ---
    body_top = PAYLOAD_ROWS + 8
    text = raw_payload_text(n)
    rng_bits = [(ord(c) * 37 + i) & 0xFF for i, c in enumerate(text)]
    for i, bits in enumerate(rng_bits):
        x0 = 10 + (i * 6) % max(1, w - 20)
        for b in range(5):
            if (bits >> b) & 1:
                y0 = body_top + b * 6
                img[y0 : y0 + 4, x0 : x0 + 3] = 20

    if n % 3 == 0:  # picture block (layout-segmentation fodder)
        ph, pw = h // 4, w // 4
        img[h - ph - 10 : h - 10, w - pw - 10 : w - 10] = 60

    # headings band
    img[body_top - 6 : body_top - 2, 10 : min(w - 10, 10 + 8 * len(text))] = 0

    if n % 5 == 0:  # shear the body region (skewed page)
        shear = 0.02 + 0.01 * (n % 4)  # ~1-2.3 degrees
        body = img[PAYLOAD_ROWS:].copy()
        sheared = np.full_like(body, 255)
        bh = body.shape[0]
        for x in range(w):
            dy = int(round(shear * x))
            if dy == 0:
                sheared[:, x] = body[:, x]
            elif dy < bh:
                sheared[dy:, x] = body[: bh - dy, x]
        img[PAYLOAD_ROWS:] = sheared

    return encode_png(img), w, h, truth_text(n)
