"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship extraction pipeline at sf0.001.
``queries()`` / ``oracle_sql()`` pair each implemented operator with a
DuckDB-checkable oracle at sf0.01 (driver compares row-count + schema +
order-insensitive value-hash).

The interleaved corpus (BASELINE.json input_hint schema) is derived
deterministically from the driver's flat ``documents`` parquet via the
truth contract in ``tesseract_glue_spark/functions/truth.py`` — the
same rules are emitted as DuckDB SQL for the oracles, so even the OCR
stage (real PNG render → decode → preprocess → stub recognize) is
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
    from tesseract_glue_spark.operators.dedup import DEDUP_OPS
    from tesseract_glue_spark.operators.relational import RELATIONAL_OPS
    from tesseract_glue_spark.operators.similarity import SIMILARITY_OPS
    from tesseract_glue_spark.operators.text import TEXT_OPS
    from tesseract_glue_spark.operators.crawl import WEB_SQL_OPS

    ops: dict[str, tuple] = {}
    for name, b in TEXT_OPS.items():
        ops[name] = (b, ("documents",))
    for name, b in WEB_SQL_OPS.items():
        ops[name] = (b, ("documents",))
    for name, b in DEDUP_OPS.items():
        ops[name] = (b, ("documents",))
    for name, b in SIMILARITY_OPS.items():
        ops[name] = (b, ("embeddings",))
    for name, (b, tabs) in RELATIONAL_OPS.items():
        ops[name] = (b, tabs)
    return ops


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
    from tesseract_glue_spark.operators.multimodal import (
        audio_features_fake_spark,
        video_frames_fake_spark,
    )

    q["audio_features_fake"] = audio_features_fake_spark
    q["video_frames_fake"] = video_frames_fake_spark
    from tesseract_glue_spark.operators.registry import cached_shingles_runner
    from tesseract_glue_spark.operators.similarity import ann_topk_ivf

    from tesseract_glue_spark.operators.pipeline_report import (
        extract_quality_report_spark,
    )

    # IVF k-means coarse quantizer: Spark side runs the shared SQL
    # templates stepwise (materialized centroid steps); the oracle is
    # the same templates unrolled into one DuckDB statement
    q["emb_ann_topk_ivf"] = ann_topk_ivf
    # connected components of the near-dup pair graph: stepwise label
    # propagation on the Spark side, same templates unrolled for DuckDB
    from tesseract_glue_spark.operators.dedup import dedup_components

    q["dedup_components"] = dedup_components
    # composed pipeline: extraction → quality scoring of extracted text
    q["extract_quality_report"] = extract_quality_report_spark
    # crawl-input gate queries over the synthetic page corpus: HTML main
    # content, robots/sitemap crawl control, WARC and PDF archives
    from tesseract_glue_spark.operators.crawl import (
        html_main_content_spark,
        pdf_spans_spark,
        pdf_text_extract_spark,
        warc_ingest_spark,
        warc_main_content_spark,
        web_robots_filter_spark,
        web_sitemap_discover_spark,
        web_sitemap_parse_spark,
    )

    q["html_main_content"] = html_main_content_spark
    q["web_robots_filter"] = web_robots_filter_spark
    q["warc_ingest"] = warc_ingest_spark
    q["warc_main_content"] = warc_main_content_spark
    q["web_sitemap_parse"] = web_sitemap_parse_spark
    q["web_sitemap_discover"] = web_sitemap_discover_spark
    q["pdf_text_extract"] = pdf_text_extract_spark
    q["pdf_spans"] = pdf_spans_spark
    from tesseract_glue_spark.operators.web import extract_web_flat_spark

    # composed flagship variant: interleaved web docs — text spans are
    # HTML pages (DOM-stripped), media spans are page images (OCR'd)
    q["extract_web_flat"] = extract_web_flat_spark

    for name, (builder, tables) in _sql_ops().items():
        if name in ("dedup_ngram_jaccard", "dedup_minhash_lsh", "dedup_simhash_pairs"):
            q[name] = cached_shingles_runner(builder, tables=tables)
        else:
            q[name] = spark_runner(builder, tables=tables)
    # r6: the brute-force ANN recall oracle runs as one numpy kernel
    # over the stride-capped set (same contract, bit-equal output; the
    # DuckDB oracle stays the SQL template) — see
    # similarity.ann_topk_bruteforce for the measured rationale
    from tesseract_glue_spark.operators.similarity import ann_topk_bruteforce

    q["emb_ann_topk_brute"] = ann_topk_bruteforce
    return _verification_rotation(q)


# Entries whose code is untouched since their last green driver check —
# safe to sit past the driver's 50-query cap for ONE round (they rotate
# back in next round; nothing may go two rounds unverified). Round-6
# tail: the r6 optimization round left the text family, the four
# round-5 rel_* additions, the two round-5 dedup snapshot/decon ops,
# and the host-politeness SQL untouched (rendered Spark SQL AND oracle
# byte-identical to their r05-green state, pin-checked); everything
# the optimization touched — the dedup pair family, the whole
# emb_*/similarity family, the mapInPandas web operators, and the
# extraction pipeline — sits in the verified window, behind the 26
# formerly-tail entries that are at the one-round staleness limit and
# lead queries() (round-5 verdict ask #1). All 18 are dual-dialect SQL
# builders whose rendered SQL is hash-pinned by
# tests/test_rotation_guard.py — any edit to a tail operator fails CI
# until it is rotated back into the verified window.
_ROTATION_TAIL = (
    "text_token_stats",
    "text_quality",
    "text_langid",
    "text_fingerprint",
    "text_boilerplate_strip",
    "text_pii_scrub",
    "text_sample_stratified",
    "text_pack_sequences",
    "text_dup_spans",
    "text_gopher_repetition",
    "text_filter_chain",
    "rel_retained_users",
    "rel_events_asof_join",
    "rel_events_range_join",
    "rel_events_funnel",
    "dedup_incremental",
    "dedup_decontaminate",
    "web_host_politeness",
)

# Second tail class: NON-SQL (DataFrame-function) entries allowed past
# the cap for one round, pinned by rendered DuckDB oracle + the source
# bytes of every module in the declared dependency closure. EMPTY for
# round 6: the optimization touched the extraction/imaging/web
# mapInPandas machinery, so every DataFrame-function entry (including
# the six formerly-tail image/pages/audio/video entries, one round
# stale after r05) is in the verified window.
_ROTATION_TAIL_FN: dict[str, tuple[str, ...]] = {}

# Round-5's 26 tail entries — ALL missed the r05 driver check (green
# r04, pins verified unchanged through r05) and are at the one-round
# staleness limit: they MUST lead queries() this round (round-5
# verdict ask #1).
_ROTATION_LEAD = (
    "rel_pricing_summary",
    "rel_top_customers",
    "rel_order_rank_window",
    "rel_events_hourly",
    "rel_nation_rollup",
    "rel_user_sessions",
    "rel_value_quantiles",
    "rel_top_parts",
    "rel_supplier_nations",
    "rel_pricing_rollup",
    "rel_events_pivot",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_minhash_signatures",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_simhash_pairs",
    "dedup_minhash_survivors",
    "web_url_normalize",
    "web_frontier_dedup",
    "image_resize_dims",
    "image_pixel_stats",
    "image_features_blank",
    "pages_metadata",
    "audio_features_fake",
    "video_frames_fake",
)


def _verification_rotation(q: dict) -> dict:
    """Least-recently-verified entries lead ``queries()``: with 67
    registered and a driver window that has historically covered the
    first 50, insertion order decides coverage. Round 6: the 26 entries
    that sat out the r05 check lead; every operator the optimization
    round touched stays in the window; only the 18 pure-SQL entries
    whose rendered SQL is byte-identical to their r05-green state
    (hash-pinned in ``rotation_tail_pins.json``) trail past the cap."""
    lead = [n for n in _ROTATION_LEAD if n in q]
    tail = [n for n in (*_ROTATION_TAIL, *_ROTATION_TAIL_FN) if n in q]
    mid = [n for n in q if n not in set(lead) | set(tail)]
    return {n: q[n] for n in (*lead, *mid, *tail)}


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
    from tesseract_glue_spark.operators.multimodal import (
        audio_features_fake_oracle_sql,
        video_frames_fake_oracle_sql,
    )

    o["audio_features_fake"] = audio_features_fake_oracle_sql()
    o["video_frames_fake"] = video_frames_fake_oracle_sql()
    o["extract_quality_report"] = extract_quality_report_oracle_sql()
    from tesseract_glue_spark.operators.similarity import ann_topk_ivf_oracle_sql

    o["emb_ann_topk_ivf"] = ann_topk_ivf_oracle_sql()
    from tesseract_glue_spark.operators.dedup import dedup_components_oracle_sql

    o["dedup_components"] = dedup_components_oracle_sql()
    from tesseract_glue_spark.operators.crawl import (
        html_main_content_oracle_sql,
        pdf_spans_oracle_sql,
        pdf_text_extract_oracle_sql,
        warc_ingest_oracle_sql,
        warc_main_content_oracle_sql,
        web_robots_filter_oracle_sql,
        web_sitemap_discover_oracle_sql,
        web_sitemap_parse_oracle_sql,
    )

    o["html_main_content"] = html_main_content_oracle_sql()
    o["web_robots_filter"] = web_robots_filter_oracle_sql()
    o["warc_ingest"] = warc_ingest_oracle_sql()
    o["warc_main_content"] = warc_main_content_oracle_sql()
    o["web_sitemap_parse"] = web_sitemap_parse_oracle_sql()
    o["web_sitemap_discover"] = web_sitemap_discover_oracle_sql()
    o["pdf_text_extract"] = pdf_text_extract_oracle_sql()
    o["pdf_spans"] = pdf_spans_oracle_sql()
    from tesseract_glue_spark.operators.web import extract_web_flat_oracle_sql

    o["extract_web_flat"] = extract_web_flat_oracle_sql()
    for name, (builder, _tables) in _sql_ops().items():
        o[name] = oracle(builder)
    return o
