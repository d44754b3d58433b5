"""Table IO: the documents and pages sources.

Sandbox tests read parquet paths; on a cluster with the Iceberg runtime
jar and a catalog configured, an ``iceberg:<table>`` source reads the
table instead, and the pipeline is the same. Output is written by
:func:`tesseract_glue_spark.sources.manifests.write_extracted`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def read_documents(spark: SparkSession, source: str) -> DataFrame:
    """Read the interleaved documents table. ``source`` is a parquet
    path (sandbox) or an ``iceberg:`` table identifier (cluster)."""
    if source.startswith("iceberg:"):
        return spark.read.format("iceberg").load(source[len("iceberg:"):])
    return spark.read.parquet(source)


def read_pages(spark: SparkSession, source: str) -> DataFrame:
    if source.startswith("iceberg:"):
        return spark.read.format("iceberg").load(source[len("iceberg:"):])
    return spark.read.parquet(source)
