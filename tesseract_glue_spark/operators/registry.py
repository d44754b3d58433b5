"""Registry gluing dual-dialect SQL operators to the driver contract.

Each operator is a ``builder(dialect, table) -> sql`` function; the
Spark side registers parquet-backed temp views and runs the Spark-SQL
rendering, the oracle side is the DuckDB rendering of the same template.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from tesseract_glue_spark.functions import dialect as D

SqlBuilder = Callable[..., str]


def _register(spark: SparkSession, sf_dir: str, tables: tuple[str, ...]) -> None:
    for t in tables:
        spark.read.parquet(f"{sf_dir}/{t}.parquet").createOrReplaceTempView(t)


def spark_runner(
    builder: SqlBuilder, tables: tuple[str, ...] = ("documents",)
) -> Callable[[SparkSession, str], DataFrame]:
    """→ a (spark, sf_dir) -> DataFrame callable for ``queries()``."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        _register(spark, sf_dir, tables)
        return spark.sql(builder(D.SPARK))

    return run


def oracle(builder: SqlBuilder) -> str:
    """→ the DuckDB SQL string for ``oracle_sql()``."""
    return builder(D.DUCKDB)
