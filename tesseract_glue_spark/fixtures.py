"""Fixture builders: interleaved documents + rendered page tables.

Spark-side builders derive everything from the driver's flat
``documents`` parquet (TESTDATA.md) through the deterministic contract
in :mod:`tesseract_glue_spark.functions.truth`, so the corpus is
identical no matter which engine (Spark or DuckDB) materializes it.
Pure-Python builders mirror the same rules for Spark-free unit tests.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tesseract_glue_spark.functions import truth
from tesseract_glue_spark.imaging import render

PAGES_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType()),
        T.StructField("image", T.BinaryType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("truth_text", T.StringType()),
    ]
)

SPAN_STRUCT = T.StructType(
    [
        T.StructField("kind", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("media_ref", T.StringType()),
        T.StructField("offset", T.IntegerType()),
    ]
)

DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("spans", T.ArrayType(SPAN_STRUCT)),
    ]
)


def interleaved_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The primary input table per BASELINE.json input_hint:
    ``(doc_id, spans:array<struct<kind,text,media_ref,offset>>)``,
    built entirely JVM-side (transform/sequence — no Python UDF)."""
    flat = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    return flat.select("doc_id", F.expr(truth.spans_array_expr()).alias("spans"))


def _render_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        rows = []
        for ref in pdf["media_ref"]:
            n = render.ref_to_num(ref)
            if render.is_dangling(n):
                continue  # dangling refs have no backing page by contract
            png, w, h, t = render.render_page(n)
            rows.append((ref, png, w, h, t))
        yield pd.DataFrame(rows, columns=[f.name for f in PAGES_SCHEMA.fields])


def pages_for(docs: DataFrame) -> DataFrame:
    """Render the backing page store for every resolvable media_ref in
    ``docs`` — the fixture MediaResolver backing table (FIXTURES.md §2).

    Distinct-first so each page renders once; rendering happens in
    Arrow-batched ``mapInPandas`` workers, never on the driver.
    """
    from tesseract_glue_spark.sources.shipping import ensure_shipped

    ensure_shipped(docs.sparkSession)
    refs = (
        docs.select(F.explode("spans").alias("s"))
        .where((F.col("s.kind") == "media") & (F.col("s.media_ref") != ""))
        .select(F.col("s.media_ref").alias("media_ref"))
        .distinct()
    )
    return refs.mapInPandas(_render_batches, schema=PAGES_SCHEMA)


def materialize_corpus(
    spark: SparkSession, docs: DataFrame, out_dir: str, partitions: int | None = None
) -> tuple[DataFrame, DataFrame]:
    """Write (docs, pages) to parquet once and read back — benchmarks and
    scaling runs must scan a *materialized* table (the Iceberg stand-in),
    not recompute the span-derivation expression inside every plan
    branch. Returns (docs_df, pages_df) backed by parquet."""
    import os

    docs_path = os.path.join(out_dir, "documents_spans")
    pages_path = os.path.join(out_dir, "pages")
    if not os.path.exists(os.path.join(docs_path, "_SUCCESS")):
        d = docs.repartition(partitions) if partitions else docs
        d.write.mode("overwrite").parquet(docs_path)
    if not os.path.exists(os.path.join(pages_path, "_SUCCESS")):
        pages_for(spark.read.parquet(docs_path)).write.mode("overwrite").parquet(pages_path)
    return spark.read.parquet(docs_path), spark.read.parquet(pages_path)


def scaling_corpus(spark: SparkSession, n_docs: int, pages_per_doc: int = 4) -> DataFrame:
    """Synthetic corpus for throughput-scaling evidence: every media ref
    is distinct (media n = doc_id * pages_per_doc + j), so OCR work
    grows linearly with n_docs instead of being capped by
    dedup-before-OCR at the MEDIA_POOL size. Deterministic; text spans
    are short fixed strings. Used only by scaling_bench.py — correctness
    queries use :func:`interleaved_documents` (oracle-checkable)."""
    docs = spark.range(n_docs).withColumnRenamed("id", "doc_id")
    p = int(pages_per_doc)
    spans = F.expr(
        f"""
        transform(sequence(0, 2 * {p}), o -> struct(
            CASE WHEN o % 2 = 0 THEN 'text' ELSE 'media' END AS kind,
            CASE WHEN o % 2 = 0 THEN concat('chunk ', CAST(doc_id AS STRING), ' ', CAST(o AS STRING)) ELSE '' END AS text,
            CASE WHEN o % 2 = 1 THEN format_string('img_%08d', doc_id * {p} + (o DIV 2)) ELSE '' END AS media_ref,
            CAST(o AS INT) AS offset))
        """.strip()
    )
    return docs.select("doc_id", spans.alias("spans"))


# ---------------------------------------------------------------------------
# Pure-Python mirrors (unit tests without Spark)
# ---------------------------------------------------------------------------

def py_n_media(doc_id: int) -> int:
    return truth.SKEW_DOC_MEDIA if doc_id % truth.SKEW_DOC_MOD == 0 else 1 + doc_id % 3


def py_spans(doc_id: int, text: str) -> list[dict]:
    """Python mirror of truth.spans_array_expr() for one document."""
    spans = []
    for o in range(2 * py_n_media(doc_id) + 1):
        if o % 2 == 0:
            j = o // 2
            chunk = text[j * truth.CHUNK : (j + 1) * truth.CHUNK]
            spans.append({"kind": "text", "text": chunk, "media_ref": "", "offset": o})
        else:
            j = o // 2
            n = (doc_id * truth.REF_A + j * truth.REF_B) % render.MEDIA_POOL
            spans.append(
                {"kind": "media", "text": "", "media_ref": render.num_to_ref(n), "offset": o}
            )
    return spans


def py_expected_extracted(doc_id: int, text: str) -> dict:
    """Expected extracted row of one doc (the oracle of FIXTURES.md §3):
    ``spans`` with each media span's text replaced by its page's truth
    ('' when dangling), ``ocr_pages`` (resolvable pages), their blank
    share ``ocr_empty_pages``, and ``status`` 'partial' iff some page
    is dangling."""
    spans, pages, empty, dangling = [], 0, 0, False
    for s in py_spans(doc_id, text):
        if s["kind"] == "media":
            n = render.ref_to_num(s["media_ref"])
            if render.is_dangling(n):
                dangling = True
                spans.append({**s, "text": ""})
            else:
                pages += 1
                empty += render.is_blank(n)
                spans.append({**s, "text": render.truth_text(n)})
        else:
            spans.append(dict(s))
    return {"spans": spans, "ocr_pages": pages, "ocr_empty_pages": empty,
            "status": "partial" if dangling else "ok"}
