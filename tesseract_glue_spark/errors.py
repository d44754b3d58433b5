"""Error taxonomy for the extraction pipeline.

The reference has a single C++ exception ``TesseractGlueException``
registered as Python ``RuntimeError`` (``glueExceptions.h:9-13``,
``glueExceptions.cpp:8``, ``tesseractwrap.cpp:34``) plus
``FileNotFoundError`` for asset validation (``reader.py:19-32``).

At 10^12-document scale an exception must never kill a job: extraction
errors become *status columns* (``status``/``error``), and only
configuration errors (bad assets, bad language) fail fast driver-side.
"""

from __future__ import annotations


class ExtractionError(RuntimeError):
    """Base for recoverable per-row extraction failures (→ status columns)."""


class ImageDecodeError(ExtractionError):
    """Unreadable image buffer.

    Analogue of the reference's load failure: ``pixRead`` returning null
    → ``TesseractGlueException`` (``ImageLoaderStrategies.cpp:14-16``,
    ``tests/test_load_image.py:10-14``).
    """


class MediaResolveError(ExtractionError):
    """A ``media_ref`` has no backing page (dangling reference)."""


class EngineInitError(ExtractionError):
    """OCR engine failed to initialize.

    The reference sets ``good=false`` and degrades to empty output
    rather than raising (``reader2.cpp:19-23,40-42``); we keep the same
    degrade-don't-die behavior and use this type only for *forced*
    strict modes.
    """


# Per-span status values carried in the `ocr_status` column.
STATUS_OK = "ok"
STATUS_EMPTY = "empty"          # recognized, whitespace-normalized to ""
STATUS_DANGLING = "dangling"    # media_ref not resolvable
STATUS_DECODE_ERROR = "decode_error"  # page bytes unreadable or over the pixel cap
STATUS_RECOGNIZE_ERROR = "recognize_error"  # page decoded; the recognizer raised
STATUS_ENGINE_BAD = "engine_bad"
