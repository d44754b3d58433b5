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


def streamed_png(w, h, raw_chunks):
    """An 8-bit grayscale PNG declaring ``w`` x ``h`` whose IDAT is the
    deflate of ``raw_chunks`` (filtered scanline bytes, chunk by chunk).
    A chunked ``compressobj`` never holds the raw image, so a test can
    build a page far larger than it could afford to render — or one
    whose IDAT inflates to more than its header declares."""
    import struct
    import zlib

    from tesseract_glue_spark.imaging.png import _PNG_SIG, _chunk

    deflater = zlib.compressobj(9)
    idat = b"".join(deflater.compress(c) for c in raw_chunks) + deflater.flush()
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    return _PNG_SIG + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", idat) + _chunk(b"IEND", b"")


def strip_bomb_tiff(w, h, block, first=b""):
    """A little-endian 8-bit grayscale TIFF declaring ``w`` x ``h`` whose
    strips, after an optional distinct ``first`` strip, all point at one
    shared ``block``. Strip offsets may repeat, so a few KB of offsets
    and one block declare and fill a page of any size."""
    import struct

    n_rest = -(-(w * h - len(first)) // len(block))
    counts = ([len(first)] if first else []) + [len(block)] * n_rest
    n = len(counts)
    assert n > 1, "offsets and counts are written as arrays"
    tags = [(256, 4, 1, w), (257, 4, 1, h), (258, 3, 1, 8), (259, 3, 1, 1),
            (262, 3, 1, 1), (273, 4, n, None), (277, 3, 1, 1), (279, 4, n, None)]
    off_at = 8 + 2 + 12 * len(tags) + 4
    cnt_at = off_at + 4 * n
    first_at = cnt_at + 4 * n
    block_at = first_at + len(first)
    offsets = ([first_at] if first else []) + [block_at] * n_rest
    ifd = struct.pack("<H", len(tags))
    for tid, ttype, count, value in tags:
        if tid == 273:
            value = off_at
        elif tid == 279:
            value = cnt_at
        if ttype == 3:
            ifd += struct.pack("<HHIHH", tid, ttype, count, value, 0)
        else:
            ifd += struct.pack("<HHII", tid, ttype, count, value)
    ifd += struct.pack("<I", 0)
    return (
        struct.pack("<2sHI", b"II", 42, 8) + ifd
        + struct.pack(f"<{n}I", *offsets) + struct.pack(f"<{n}I", *counts)
        + first + block
    )


@pytest.fixture(scope="session")
def spark():
    from tesseract_glue_spark import spark_session

    spark = spark_session(
        SparkSession.builder.master("local[4]")
        .appName("tesseract_glue_spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
    )
    yield spark
    spark.stop()
