"""OCR engine backends with per-worker-process lifecycle.

The single most important semantic in the reference is **engine-init
amortization**: ``TessBaseAPI::Init`` runs once in the Reader ctor and
the Reader is reused across many images (``reader2.cpp:15-27``,
``reader2.h:9``). On Spark, the analogue is a module-global engine
cache inside each Python UDF worker: initialized lazily on the first
Arrow batch, reused across all batches the worker processes
(``spark.python.worker.reuse`` keeps workers alive across tasks).
NEVER construct an engine per row or per batch.

Backends:

* :class:`StubBackend` — deterministic; decodes the reversible text
  payload embedded by the fixture renderer (FIXTURES.md §2). Used for
  span-sequence-equality testing and benchmarks.
* :class:`TesseractBackend` — real OCR via ``pytesseract`` when
  installed (not in this sandbox); import-gated, same invariants.

Both enforce the reference's per-row invariants:

* whitespace-only recognition output → ``""`` (``reader2.cpp:45-51``,
  golden: ``tests/test_basic.cpp:17-22``)
* unhealthy engine → ``""`` results + ``good=False``, never a task
  failure (``reader2.cpp:19-23,40-42``, ``tests/test_basic.cpp:31-42``)
"""

from __future__ import annotations

import numpy as np

from tesseract_glue_spark.config import ExtractionConfig
from tesseract_glue_spark.errors import ExtractionError
from tesseract_glue_spark.imaging.render import PAYLOAD_MAGIC


def normalize_text(text: str | None) -> str:
    """Whitespace-only or null OCR output → empty string
    (``reader2.cpp:49-51``)."""
    if not text or text.isspace():
        return ""
    return text


class StubBackend:
    """Reads the fixture payload codec: ``b'TG' + len(4B BE) + utf8``
    from the top-left pixel stream of the grayscale page."""

    def __init__(self, config: ExtractionConfig):
        self.config = config
        self.good = not config.force_unhealthy

    def recognize(self, gray: np.ndarray) -> str:
        if not self.good:
            return ""  # degrade, don't die (reader2.cpp:40-42)
        flat = gray.reshape(-1)
        if flat.size < 6 or bytes(flat[:2].tobytes()) != PAYLOAD_MAGIC:
            raise ExtractionError("no recognizable payload (not a fixture page)")
        length = int.from_bytes(flat[2:6].tobytes(), "big")
        if length < 0 or 6 + length > flat.size:
            raise ExtractionError("corrupt payload length")
        text = flat[6 : 6 + length].tobytes().decode("utf-8", errors="replace")
        return normalize_text(text)

    def version(self) -> str:
        return "stub-1.0.0"


class TesseractBackend:
    """Real Tesseract via pytesseract; import-gated (absent in sandbox)."""

    def __init__(self, config: ExtractionConfig):
        try:
            import pytesseract  # noqa: F401  (optional dependency)
        except ImportError as exc:
            raise ImportError(
                "backend='tesseract' requires pytesseract; install it or use backend='stub'"
            ) from exc
        self._pytesseract = pytesseract
        self.config = config
        self.good = not config.force_unhealthy

    def recognize(self, gray: np.ndarray) -> str:
        if not self.good:
            return ""
        # PSM 1 = automatic page segmentation with OSD, matching the
        # reference's PSM_AUTO_OSD (reader2.cpp:24); the traineddata
        # come from the tessdata path validated() checked.
        flags = "--psm 1"
        if self.config.tessdata_path:
            flags += f' --tessdata-dir "{self.config.tessdata_path}"'
        text = self._pytesseract.image_to_string(gray, lang=self.config.lang, config=flags)
        return normalize_text(text)

    def version(self) -> str:
        return f"tesseract-{self._pytesseract.get_tesseract_version()}"


# ---------------------------------------------------------------------------
# Per-worker-process engine cache (the Reader-reuse analogue).
# ---------------------------------------------------------------------------
_ENGINE_CACHE: dict[ExtractionConfig, object] = {}


def get_engine(config: ExtractionConfig):
    """Executor-local memoized engine factory (``engine.py:47-60``'s
    ``get_reader`` analogue, keyed by the full config)."""
    eng = _ENGINE_CACHE.get(config)
    if eng is None:
        if config.backend == "tesseract":
            eng = TesseractBackend(config)
        else:
            eng = StubBackend(config)
        _ENGINE_CACHE[config] = eng
    return eng


def image_lib_versions() -> dict[str, str]:
    """Imaging libraries and their versions, as a mapping — the exact
    API shape of the reference's ``capabilities.image_lib_versions``
    (``capabilities.py:7-19``, which parses Leptonica's linked-lib
    report; its test requires libtiff linked,
    ``tests/test_capabilties.py:11-12``). Our codec stack: zlib (PNG
    inflate/deflate), numpy (pixel kernels), built-in PNG and TIFF
    gray8 codecs, plus Pillow when installed."""
    from tesseract_glue_spark.imaging.codecs import codec_versions

    return codec_versions()


def engine_info(config: ExtractionConfig | None = None) -> dict[str, str]:
    """Diagnostic capability report for lineage manifests — the analogue
    of ``tesseract_version`` + ``image_lib_versions``
    (``utils.cpp:5-7``, ``capabilities.py:7-19``)."""
    import zlib

    cfg = config or ExtractionConfig()
    eng = get_engine(cfg)
    return {
        "engine": type(eng).__name__,
        "engine_version": eng.version(),
        "codec": f"png-gray8+tiff-gray8 (zlib {zlib.ZLIB_VERSION})",
        "numpy": np.__version__,
    }
