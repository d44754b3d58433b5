"""Composed pipeline query: OCR extraction → document reassembly →
quality scoring of the EXTRACTED text.

This is the end-to-end shape of a training-data pipeline (extract, then
filter on quality), value-checked all the way: the Spark side runs the
physical pipeline (render → decode → grayscale → stub OCR → stitch →
reassemble → score); the DuckDB oracle computes the same report from
the truth contract arithmetic without touching a pixel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tesseract_glue_spark.functions import dialect as D
from tesseract_glue_spark.functions import truth
from tesseract_glue_spark.operators.text import EN_STOPWORDS, PUNCT_CLASS


def _quality_cols(d: str, col: str) -> str:
    """The shared quality-metric projection over a full-document text
    column (same fragments as operators/text.py::quality_sql)."""
    n_words = D.ws_token_count(d, col)
    n_punct = D.regexp_count(d, col, PUNCT_CLASS)
    n_stop = D.word_set_count(d, col, EN_STOPWORDS)
    punct_x10k = D.scaled_ratio(d, n_punct, f"length({col})")
    stop_x10k = D.scaled_ratio(d, n_stop, n_words)
    return f"""
           CAST(length({col}) AS BIGINT) AS n_chars,
           CAST({n_words} AS BIGINT) AS n_words,
           {punct_x10k} AS punct_x10k,
           {stop_x10k} AS stop_x10k
    """.strip()


def extract_quality_report_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the REAL pipeline, then score the extracted full-document
    text (span texts joined in offset order)."""
    from tesseract_glue_spark import ExtractionConfig, extract_documents
    from tesseract_glue_spark.fixtures import interleaved_documents, pages_for

    docs = interleaved_documents(spark, sf_dir)
    pages = pages_for(docs)
    out = extract_documents(docs, pages, ExtractionConfig())
    # spans are already offset-ordered by reassembly; join their texts
    joined = out.select(
        "doc_id",
        "status",
        F.array_join(F.expr("transform(spans, s -> s.text)"), " ").alias("full_text"),
    )
    joined.createOrReplaceTempView("_extracted_docs")
    return spark.sql(
        f"""
        SELECT doc_id, status,
           {_quality_cols(D.SPARK, "full_text")}
        FROM _extracted_docs
        """
    )


def extract_quality_report_oracle_sql(table: str = "documents") -> str:
    """DuckDB oracle: reconstruct the extracted full text per doc from
    the truth contract (ordered string_agg over the expected span
    texts), then apply the same quality projection."""
    d = D.DUCKDB
    flat = truth.extracted_flat_sql(d, table)
    dangling = (
        f"CASE WHEN o % 2 = 1 AND {truth.media_num_expr(d)} % 7 <> 0 "
        f"AND {truth.media_num_expr(d)} % 13 = 0 THEN 1 ELSE 0 END"
    )
    status_src = (
        f"SELECT doc_id, CASE WHEN SUM({dangling}) > 0 THEN 'partial' ELSE 'ok' END AS status "
        f"FROM {table}, unnest(generate_series(0, 2 * {truth.N_MEDIA})) AS _t(o) GROUP BY doc_id"
    )
    return f"""
    WITH flat AS ({flat}),
    agg AS (
        SELECT doc_id, string_agg(text, ' ' ORDER BY "offset") AS full_text
        FROM flat GROUP BY doc_id
    ),
    st AS ({status_src})
    SELECT agg.doc_id, st.status,
           {_quality_cols(d, "full_text")}
    FROM agg JOIN st ON agg.doc_id = st.doc_id
    """.strip()
