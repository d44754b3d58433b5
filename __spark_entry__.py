"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship extraction pipeline at sf0.001.
``queries()`` / ``oracle_sql()`` pair each of the 21 implemented
operators with a DuckDB-checkable oracle at sf0.01 (driver compares
row-count + schema + order-insensitive value-hash). The driver contract
checks at most 50 queries, so every entry is inside that window and the
order of ``queries()`` carries no meaning;
``tests/test_entry.py::test_queries_match_oracles`` keeps it that way.

The interleaved corpus (BASELINE.json input_hint schema) is derived
deterministically from the driver's flat ``documents`` parquet via the
truth contract in ``tesseract_glue_spark/functions/truth.py`` — the
same rules are emitted as DuckDB SQL for the oracles, so even the OCR
stage (real PNG render → decode → grayscale → stub recognize) is
value-checked end-to-end.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SF_SMOKE = "/root/testdata/sf0.001"


def _extracted_flat(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tesseract_glue_spark import ExtractionConfig, extract_flat
    from tesseract_glue_spark.fixtures import interleaved_documents, pages_for

    docs = interleaved_documents(spark, sf_dir)
    pages = pages_for(docs)
    return extract_flat(docs, pages, ExtractionConfig())


def _extract_doc_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tesseract_glue_spark import ExtractionConfig, extract_documents
    from tesseract_glue_spark.fixtures import interleaved_documents, pages_for

    docs = interleaved_documents(spark, sf_dir)
    pages = pages_for(docs)
    out = extract_documents(docs, pages, ExtractionConfig())
    return out.select(
        "doc_id",
        F.col("ocr_pages").cast("long").alias("ocr_pages"),
        F.col("ocr_empty_pages").cast("long").alias("ocr_empty_pages"),
        "status",
    )


def _explode_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tesseract_glue_spark import explode_spans
    from tesseract_glue_spark.fixtures import interleaved_documents

    flat = explode_spans(interleaved_documents(spark, sf_dir))
    return flat.select(
        "doc_id", F.col("offset").cast("long").alias("offset"), "kind", "text", "media_ref"
    )


def _media_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tesseract_glue_spark import explode_spans
    from tesseract_glue_spark.fixtures import interleaved_documents

    spans = explode_spans(interleaved_documents(spark, sf_dir))
    return (
        spans.where((F.col("kind") == "media") & (F.col("media_ref") != ""))
        .groupBy("media_ref")
        .agg(F.count("*").alias("n_refs"), F.countDistinct("doc_id").alias("n_docs"))
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full interleaved-document extraction at sf0.001 —
    nested output (doc_id, spans, ocr_pages, ocr_empty_pages, status)."""
    from tesseract_glue_spark import ExtractionConfig, extract_documents
    from tesseract_glue_spark.fixtures import interleaved_documents, pages_for

    docs = interleaved_documents(spark, SF_SMOKE)
    pages = pages_for(docs)
    return extract_documents(docs, pages, ExtractionConfig())


def _sql_ops() -> dict[str, tuple]:
    """All dual-dialect SQL operators: name -> (builder, tables)."""
    from tesseract_glue_spark.operators.text import TEXT_OPS

    return {name: (b, ("documents",)) for name, b in TEXT_OPS.items()}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from tesseract_glue_spark.operators.registry import spark_runner

    from tesseract_glue_spark.operators.pages_meta import (
        image_features_blank_spark,
        image_pixel_stats_spark,
        image_resize_dims_spark,
        pages_metadata_spark,
    )

    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {
        "extract_full_flat": _extracted_flat,
        "extract_doc_metrics": _extract_doc_metrics,
        "explode_spans": _explode_spans,
        "media_dedup": _media_dedup,
        "pages_metadata": pages_metadata_spark,
        "image_resize_dims": image_resize_dims_spark,
        "image_pixel_stats": image_pixel_stats_spark,
        "image_features_blank": image_features_blank_spark,
    }
    from tesseract_glue_spark.operators.pipeline_report import (
        extract_quality_report_spark,
    )

    # composed pipeline: extraction → quality scoring of extracted text
    q["extract_quality_report"] = extract_quality_report_spark
    from tesseract_glue_spark.operators.web import extract_web_flat_spark

    # composed flagship variant: interleaved web docs — text spans are
    # HTML pages (DOM-stripped), media spans are page images (OCR'd)
    q["extract_web_flat"] = extract_web_flat_spark

    for name, (builder, tables) in _sql_ops().items():
        q[name] = spark_runner(builder, tables=tables)
    return q


def oracle_sql() -> dict[str, str]:
    from tesseract_glue_spark.functions import truth
    from tesseract_glue_spark.operators.registry import oracle

    flat = truth.flat_spans_sql("duckdb")
    o = {
        "extract_full_flat": truth.extracted_flat_sql("duckdb"),
        "extract_doc_metrics": truth.doc_metrics_sql("duckdb"),
        "explode_spans": flat,
        "media_dedup": (
            f"SELECT media_ref, CAST(COUNT(*) AS BIGINT) AS n_refs, "
            f"CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs "
            f"FROM ({flat}) WHERE kind = 'media' AND media_ref <> '' GROUP BY media_ref"
        ),
    }
    from tesseract_glue_spark.operators.pages_meta import (
        image_features_blank_oracle_sql,
        image_pixel_stats_oracle_sql,
        image_resize_dims_oracle_sql,
        pages_metadata_oracle_sql,
    )

    from tesseract_glue_spark.operators.pipeline_report import (
        extract_quality_report_oracle_sql,
    )

    o["pages_metadata"] = pages_metadata_oracle_sql()
    o["image_resize_dims"] = image_resize_dims_oracle_sql()
    o["image_pixel_stats"] = image_pixel_stats_oracle_sql()
    o["image_features_blank"] = image_features_blank_oracle_sql()
    o["extract_quality_report"] = extract_quality_report_oracle_sql()
    from tesseract_glue_spark.operators.web import extract_web_flat_oracle_sql

    o["extract_web_flat"] = extract_web_flat_oracle_sql()
    for name, (builder, _tables) in _sql_ops().items():
        o[name] = oracle(builder)
    return o
