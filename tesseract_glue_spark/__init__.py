"""tesseract_glue_spark — PySpark-native interleaved-document extraction.

A from-scratch Spark-first engine with the capabilities of
UIUCLibrary/Tesseract_Glue (``uiucprescon.ocr``): per-page OCR semantics
(engine lifecycle, whitespace normalization, degrade-don't-die error
taxonomy — ``reader2.cpp``, ``reader.py``) re-expressed as a vectorized
DataFrame pipeline over tables of interleaved text+media documents.

Public surface (the analogue of the reference's ``__init__.py:19-32``
export set):
"""

from tesseract_glue_spark.config import ExtractionConfig, spark_session
from tesseract_glue_spark.engine import (
    engine_info,
    get_engine,
    image_lib_versions,
    normalize_text,
)
from tesseract_glue_spark.errors import (
    EngineInitError,
    ExtractionError,
    ImageDecodeError,
    MediaResolveError,
)
from tesseract_glue_spark.languages import LANGUAGE_CODES, validate_language
from tesseract_glue_spark.operators.extract import (
    explode_spans,
    extract_documents,
    extract_flat,
)

__all__ = [
    "ExtractionConfig",
    "LANGUAGE_CODES",
    "EngineInitError",
    "ExtractionError",
    "ImageDecodeError",
    "MediaResolveError",
    "engine_info",
    "image_lib_versions",
    "explode_spans",
    "extract_documents",
    "extract_flat",
    "get_engine",
    "normalize_text",
    "spark_session",
    "validate_language",
]

__version__ = "0.1.0"
