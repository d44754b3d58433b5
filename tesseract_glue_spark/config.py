"""Extraction configuration — the Spark-side analogue of Engine/Reader.

The reference's ``Engine`` stores a tessdata path and builds
language-bound ``Reader`` objects (``engine.py:44-68``); ``Reader``
validates assets fail-fast (``reader.py:19-32``). On Spark, the same
contract becomes a small frozen dataclass captured by UDF closures
(cheap to pickle; no driver-global capture) plus driver-side preflight
validation, with the expensive engine construction happening lazily
*once per Python worker* (see :mod:`tesseract_glue_spark.engine`).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, replace

from tesseract_glue_spark.languages import validate_language


@dataclass(frozen=True)
class ExtractionConfig:
    """Everything an OCR worker needs, hashable so it can key the
    per-process engine cache."""

    backend: str = "stub"            # 'stub' | 'tesseract'
    lang: str = "eng"
    tessdata_path: str | None = None  # required for backend='tesseract'
    # opt-in layout analysis (Otsu → deskew → XY-cut) before recognize;
    # its products (n_zones, shear) reach only the OCR result rows, so
    # the default path recognizes the raw grayscale page, as both
    # backends and the reference's PSM_AUTO_OSD expect
    preprocess: bool = False
    force_unhealthy: bool = False     # simulate bad engine init (reader2.cpp:19-23)
    # scale knobs
    ocr_partitions: int | None = None     # OCR stage tasks; None → 1 per core (extract.fan_out)
    # >1 → two-phase range-chunked doc reassembly (chunk = offset DIV
    # max(value, 1024) spans): hot many-page docs split across reducers,
    # pre-sorted chunks concatenated in order (no serial re-sort)
    salt_reassembly: int = 0
    # The pages store contract is one row per media_ref. If an upstream
    # resolver can emit duplicates, enable this guard — it costs a full
    # shuffle of image bytes, so it's opt-in rather than always-on.
    dedup_pages: bool = False

    def validated(self) -> "ExtractionConfig":
        """Driver-side preflight: fail fast before submitting a job.

        Mirrors ``Reader.__init__`` (``reader.py:19-32``), which checks
        ONLY that ``{lang}.traineddata`` and ``osd.traineddata`` exist in
        the tessdata path — the language string itself is free-form, so
        custom-trained models (``my_model.traineddata``) work. We do the
        same when a tessdata path is available to check against
        (tesseract backend) → ``FileNotFoundError`` on missing assets
        (osd is required by the PSM_AUTO_OSD mode, ``reader2.cpp:24``).
        For the stub backend there are no files to check, so the known-
        code registry is the only typo guard → ``ValueError``.
        """
        if self.backend == "tesseract":
            if not self.tessdata_path or not os.path.isdir(self.tessdata_path):
                raise FileNotFoundError(
                    f"tessdata path does not exist: {self.tessdata_path!r}"
                )
            for code in (self.lang, "osd"):
                p = os.path.join(self.tessdata_path, f"{code}.traineddata")
                if not os.path.exists(p):
                    raise FileNotFoundError(f"missing traineddata: {p}")
        elif self.backend == "stub":
            validate_language(self.lang)
        else:
            raise ValueError(f"unknown backend: {self.backend!r}")
        return self

    def with_(self, **kwargs) -> "ExtractionConfig":
        return replace(self, **kwargs)


def spark_session(builder):
    """``builder`` (the caller's master, memory, shuffle width) with the
    extraction confs: AQE with skew-join splitting for heavy-tail docs,
    and Arrow batches of 256 rows so page-image batches stay small."""
    return (
        builder.config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "256")
        .getOrCreate()
    )
