"""Image column operators: opaque ``binary`` page images + typed metadata.

Page images are decoded by ``imaging.codecs.decode_image`` inside
Arrow-batched workers.

Scale notes: all operators are ``mapInPandas`` over a round-robin
repartitioned input (``extract.fan_out``: same AQE-coalescing trap and
1-task-per-core policy as the OCR stage), with only (ref, bytes)
projected into the UDF.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from tesseract_glue_spark.imaging import kernels
from tesseract_glue_spark.imaging.codecs import decode_image, image_dims_any, sniff_mime
from tesseract_glue_spark.imaging.png import encode_png
from tesseract_glue_spark.operators.extract import fan_out

IMAGE_META_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("status", T.StringType()),
    ]
)

IMAGE_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType()),
        T.StructField("features", T.ArrayType(T.FloatType())),
        T.StructField("ink_ratio_x10k", T.LongType()),
        T.StructField("mean_intensity", T.IntegerType()),
    ]
)

IMAGE_RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType()),
        T.StructField("image", T.BinaryType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
    ]
)

def image_metadata(pages: DataFrame) -> DataFrame:
    """Header-only metadata scan: dims come from the container header
    (PNG IHDR / TIFF IFD) without a full pixel decode (``Image.w/h``
    analogue, ``Image.cpp:15-27``; null/undecodable → 0×0 per
    ``tests/test_basic.cpp:45-58``); the media type is sniffed from the
    magic bytes like Leptonica's pixRead dispatch."""

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for ref, img in zip(pdf["media_ref"], pdf["image"]):
                if img is None:
                    rows.append((ref, "missing", 0, 0, 0, "missing"))
                    continue
                b = bytes(img)
                w, h = image_dims_any(b)
                status = "ok" if w > 0 else "unreadable"
                rows.append((ref, sniff_mime(b), w, h, len(b), status))
            yield pd.DataFrame(rows, columns=[f.name for f in IMAGE_META_SCHEMA.fields])

    return fan_out(pages.select("media_ref", "image")).mapInPandas(
        scan, schema=IMAGE_META_SCHEMA
    )


def image_features(pages: DataFrame, bins: int = 8) -> DataFrame:
    """Real feature extraction: intensity histogram (normalized), ink
    ratio, mean intensity — the embedding-ish per-page vector."""

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for ref, img in zip(pdf["media_ref"], pdf["image"]):
                try:
                    gray = kernels.to_grayscale(decode_image(bytes(img)))
                except Exception:
                    rows.append((ref, [0.0] * bins, 0, 0))
                    continue
                hist, _ = np.histogram(gray, bins=bins, range=(0, 256))
                total = max(1, gray.size)
                ink = int(kernels.otsu_binarize(gray).sum())
                rows.append(
                    (
                        ref,
                        [float(x) / total for x in hist],
                        int(10000 * ink // total),
                        int(gray.mean()),
                    )
                )
            yield pd.DataFrame(rows, columns=[f.name for f in IMAGE_FEATURES_SCHEMA.fields])

    return fan_out(pages.select("media_ref", "image")).mapInPandas(
        feats, schema=IMAGE_FEATURES_SCHEMA
    )


def image_resize(pages: DataFrame, max_side: int = 64) -> DataFrame:
    """Downsample (nearest-neighbor stride) + re-encode — the thumbnail
    stage of a multimodal training pipeline."""

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for ref, img in zip(pdf["media_ref"], pdf["image"]):
                try:
                    gray = kernels.to_grayscale(decode_image(bytes(img)))
                except Exception:
                    # placeholder row, not a silent drop: in a corpus
                    # screen the undecodable pages are exactly the ones
                    # that must stay countable (round-2 advisor finding)
                    rows.append((ref, None, 0, 0))
                    continue
                h, w = gray.shape
                step = max(1, (max(h, w) + max_side - 1) // max_side)
                small = np.ascontiguousarray(gray[::step, ::step])
                rows.append((ref, encode_png(small), small.shape[1], small.shape[0]))
            yield pd.DataFrame(rows, columns=[f.name for f in IMAGE_RESIZED_SCHEMA.fields])

    return fan_out(pages.select("media_ref", "image")).mapInPandas(
        resize, schema=IMAGE_RESIZED_SCHEMA
    )


IMAGE_PIXEL_STATS_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType()),
        T.StructField("width", T.LongType()),
        T.StructField("height", T.LongType()),
        T.StructField("n_nonwhite", T.LongType()),
        T.StructField("px_sum", T.LongType()),
    ]
)


def image_pixel_stats(pages: DataFrame) -> DataFrame:
    """Full-decode pixel statistics per page: dims, non-white pixel
    count, intensity sum — the cheap corpus-corruption screen (a page
    whose stats drift from expectation was mis-rendered or bit-rotted).

    Unlike :func:`image_metadata` (header-only) this decodes every
    pixel, so it value-checks the renderer + PNG codec end-to-end: on
    the blank-page subset the expected stats are closed-form derivable
    from the fixture contract (see ``pages_meta.image_pixel_stats_*``)."""

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for ref, img in zip(pdf["media_ref"], pdf["image"]):
                try:
                    gray = kernels.to_grayscale(decode_image(bytes(img)))
                except Exception:
                    # corruption screen: undecodable pages are the most
                    # corrupted of all — count them (n_nonwhite=-1 marks
                    # the error row), never drop them
                    rows.append((ref, 0, 0, -1, -1))
                    continue
                h, w = gray.shape
                rows.append(
                    (
                        ref,
                        int(w),
                        int(h),
                        int((gray != 255).sum()),
                        int(gray.astype(np.int64).sum()),
                    )
                )
            yield pd.DataFrame(
                rows, columns=[f.name for f in IMAGE_PIXEL_STATS_SCHEMA.fields]
            )

    return fan_out(pages.select("media_ref", "image")).mapInPandas(
        stats, schema=IMAGE_PIXEL_STATS_SCHEMA
    )
