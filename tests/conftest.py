import pytest
from pyspark.sql import SparkSession

SF_DIR = "/root/testdata/sf0.001"


def canonical_csv(pdf):
    """Dtype-SENSITIVE canonical rendering (sorted columns, sorted rows,
    CSV). The driver's correctness gate hashes rendered values, so a
    DuckDB ``SUM(BIGINT)`` → HUGEINT → float64 drift ('5' vs '5.0')
    fails it even when values are numerically equal —
    ``assert_frame_equal(check_dtype=False)`` HIDES exactly that, so
    parity tests must assert this rendering too (round-1 advice)."""
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    pdf = pdf.sort_values(by=list(pdf.columns)).reset_index(drop=True)
    return pdf.to_csv(index=False)


def drain_stream(query, timeout_s=420):
    """Wait until a started ``trigger(availableNow=True)`` query has
    consumed all of its input, then stop it; a query that failed
    re-raises its error here.

    A stateful query with a processing-time timeout never ends by
    itself under availableNow: its operator asks for a no-data batch on
    every trigger to check timeouts, so ``awaitTermination`` would wait
    out its whole timeout and leave the query running through the tests
    that follow. A batch that moves no source offset is such a no-data
    batch, and availableNow runs one only after every available offset
    is committed — so its progress report marks the drained point."""
    import time

    def drained(p):
        return p["sources"] and all(s["startOffset"] == s["endOffset"] for s in p["sources"])

    deadline = time.monotonic() + timeout_s
    try:
        while query.isActive and time.monotonic() < deadline:
            if any(drained(p) for p in query.recentProgress):
                break
            time.sleep(0.2)
    finally:
        query.stop()
    err = query.exception()
    if err is not None:
        raise err


@pytest.fixture(scope="session")
def spark():
    spark = (
        SparkSession.builder.master("local[4]")
        .appName("tesseract_glue_spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "256")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    yield spark
    spark.stop()
