"""Operator benchmarks picked up by bench.py (name -> zero-arg thunk).

Covers the heavy non-extraction families: MinHash-LSH dedup, n-gram
Jaccard, SimHash pairs, text quality + language id, and crawl-input
HTML main content.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import SparkSession

from tesseract_glue_spark.operators.dedup import (
    minhash_lsh_pairs_sql,
    ngram_jaccard_pairs_sql,
    simhash_pairs_sql,
)
from tesseract_glue_spark.operators.registry import cached_shingles_runner, spark_runner
from tesseract_glue_spark.operators.text import langid_sql, quality_sql


def register(spark: SparkSession, sf_dir: str) -> dict[str, Callable[[], int]]:
    specs = {
        "dedup_minhash_lsh": (minhash_lsh_pairs_sql, ("documents",)),
        "dedup_ngram_jaccard": (ngram_jaccard_pairs_sql, ("documents",)),
        "dedup_simhash_pairs": (simhash_pairs_sql, ("documents",)),
        "text_langid_quality": (
            lambda d, table="documents": f"SELECT q.doc_id, q.quality_score, l.lang_pred "
            f"FROM ({quality_sql(d)}) q JOIN ({langid_sql(d)}) l ON q.doc_id = l.doc_id",
            ("documents",),
        ),
    }
    out: dict[str, Callable[[], int]] = {}
    for name, (builder, tables) in specs.items():
        if name in ("dedup_minhash_lsh", "dedup_ngram_jaccard", "dedup_simhash_pairs"):
            runner = cached_shingles_runner(builder, tables=tables)
        else:
            runner = spark_runner(builder, tables=tables)
        out[name] = (lambda r=runner: r(spark, sf_dir).count())
    from tesseract_glue_spark.operators.crawl import html_main_content_spark

    out["html_main_content"] = lambda: html_main_content_spark(spark, sf_dir).count()
    return out
