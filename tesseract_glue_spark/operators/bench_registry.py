"""Operator benchmarks picked up by bench.py (name -> zero-arg thunk).

Covers the non-extraction operators: text quality + language id.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import SparkSession

from tesseract_glue_spark.operators.registry import spark_runner
from tesseract_glue_spark.operators.text import langid_sql, quality_sql


def langid_quality_sql(d: str, table: str = "documents") -> str:
    return (
        f"SELECT q.doc_id, q.quality_score, l.lang_pred "
        f"FROM ({quality_sql(d)}) q JOIN ({langid_sql(d)}) l ON q.doc_id = l.doc_id"
    )


def register(spark: SparkSession, sf_dir: str) -> dict[str, Callable[[], int]]:
    langid_quality = spark_runner(langid_quality_sql)
    return {
        "text_langid_quality": lambda: langid_quality(spark, sf_dir).count(),
    }
