"""Multimodal column operators: opaque ``binary`` media + typed metadata.

Images are REAL end-to-end here (our own PNG codec decodes them inside
Arrow-batched workers). Audio/video decode needs external codecs that
are not in this environment, so those kernels are STUBBED behind a
deterministic fake (``backend='fake'``) or ``NotImplementedError``
(``backend='real'``) — the Spark-side plumbing (schemas, batch shapes,
partitioning, UDF signatures) is real and tested either way.

Scale notes: all operators are ``mapInPandas`` over a round-robin
repartitioned input (``extract.fan_out``: same AQE-coalescing trap and
1-task-per-core policy as the OCR stage), with only (ref, bytes)
projected into the UDF.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
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

AUDIO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("rms_x10k", T.LongType()),
        T.StructField("mfcc", T.ArrayType(T.FloatType())),
    ]
)

VIDEO_FRAMES_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType()),
        T.StructField("frame_no", T.IntegerType()),
        T.StructField("frame", T.BinaryType()),
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


def _fake_floats(seed: str, n: int, scale: float = 1.0) -> list[float]:
    out = []
    h = seed.encode()
    while len(out) < n:
        h = hashlib.md5(h).digest()
        out.extend((b / 255.0 - 0.5) * 2 * scale for b in h)
    return [float(round(x, 6)) for x in out[:n]]


def synthetic_media_blobs(spark, sf_dir: str, prefix: str = "med") -> DataFrame:
    """Deterministic opaque-binary media column derived from the
    ``documents`` table (blob = UTF-8 bytes of the text) — the stand-in
    corpus for the codec-less audio/video operators. Because the blob is
    SQL-derivable, the md5-keyed fake features downstream get a real
    DuckDB oracle (md5 of a string hashes its UTF-8 bytes in both
    engines), so the distributed mapInPandas plumbing is value-checked
    even while the decode step is stubbed."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select(
        F.concat(F.lit(prefix + "_"), F.col("doc_id").cast("string")).alias("media_ref"),
        F.col("text").cast("binary").alias("image"),
    )


def audio_features_fake_spark(spark, sf_dir: str) -> DataFrame:
    """Driver-gate query: fake-backend audio features over synthetic
    blobs. mfcc (float array) is excluded from the oracled projection —
    floats are banned from value-hash-compared outputs."""
    media = synthetic_media_blobs(spark, sf_dir, prefix="aud")
    return audio_features(media, backend="fake").select(
        "media_ref", "duration_ms", "rms_x10k"
    )


def audio_features_fake_oracle_sql(table: str = "documents") -> str:
    """dur = 1000 + int(md5_hex[:4], 16); rms = int(md5_hex[4:8], 16)
    % 10000 — closed-form from the fake-backend contract."""
    h = "md5(text)"
    h1 = f"CAST(concat('0x', substr({h}, 1, 4)) AS BIGINT)"
    h2 = f"CAST(concat('0x', substr({h}, 5, 4)) AS BIGINT)"
    return f"""
    SELECT concat('aud_', CAST(doc_id AS VARCHAR)) AS media_ref,
           CAST(1000 + {h1} AS BIGINT) AS duration_ms,
           CAST({h2} % 10000 AS BIGINT) AS rms_x10k
    FROM {table}
    """.strip()


def video_frames_fake_spark(spark, sf_dir: str) -> DataFrame:
    """Driver-gate query: fake-backend frame sampling over synthetic
    blobs — checks the 1-row-in → k-rows-out fan-out shape end to end
    (frame binaries excluded from the oracled projection)."""
    media = synthetic_media_blobs(spark, sf_dir, prefix="vid")
    return video_frame_sample(media, every_n=10, backend="fake").select(
        "media_ref", F.col("frame_no").cast("long").alias("frame_no")
    )


def video_frames_fake_oracle_sql(table: str = "documents") -> str:
    """n_frames = 1 + first_md5_byte % 3; frame_no = i*10 for
    i < n_frames — the fan-out count is contract-derivable."""
    b0 = "CAST(concat('0x', substr(md5(text), 1, 2)) AS BIGINT)"
    return f"""
    SELECT concat('vid_', CAST(doc_id AS VARCHAR)) AS media_ref,
           CAST(i * 10 AS BIGINT) AS frame_no
    FROM (SELECT doc_id, 1 + {b0} % 3 AS n_frames FROM {table}) t,
         unnest(generate_series(0, 2)) AS _f(i)
    WHERE i < n_frames
    """.strip()


def audio_features(media: DataFrame, backend: str = "fake") -> DataFrame:
    """Audio decode/feature stage. ``backend='real'`` requires external
    audio codecs (librosa/ffmpeg) — NOT available in this environment —
    and raises ``NotImplementedError`` inside the worker by design;
    ``backend='fake'`` produces deterministic pseudo-features keyed by
    content hash so the distributed plumbing is fully exercisable."""

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for ref, blob in zip(pdf["media_ref"], pdf["image"]):
                if backend != "fake":
                    raise NotImplementedError(
                        "audio decode requires external codecs (librosa/ffmpeg); "
                        "use backend='fake' in this environment"
                    )
                key = hashlib.md5(bytes(blob or b"")).hexdigest()
                dur = 1000 + int(key[:4], 16)
                rms = int(key[4:8], 16) % 10000
                rows.append((ref, dur, rms, _fake_floats(key, 13)))
            yield pd.DataFrame(rows, columns=[f.name for f in AUDIO_FEATURES_SCHEMA.fields])

    return fan_out(media.select("media_ref", "image")).mapInPandas(
        feats, schema=AUDIO_FEATURES_SCHEMA
    )


def video_frame_sample(media: DataFrame, every_n: int = 10, backend: str = "fake") -> DataFrame:
    """Frame sampling stage (1 row in → k frame rows out — note the
    fan-out shape). Fake backend emits tiny deterministic PNG frames."""

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for ref, blob in zip(pdf["media_ref"], pdf["image"]):
                if backend != "fake":
                    raise NotImplementedError(
                        "video decode requires external codecs (ffmpeg); "
                        "use backend='fake' in this environment"
                    )
                key = hashlib.md5(bytes(blob or b"")).digest()
                n_frames = 1 + key[0] % 3
                for i in range(n_frames):
                    arr = np.full((8, 8), (key[i + 1] + i * every_n) % 256, dtype=np.uint8)
                    rows.append((ref, i * every_n, encode_png(arr)))
            yield pd.DataFrame(rows, columns=[f.name for f in VIDEO_FRAMES_SCHEMA.fields])

    return fan_out(media.select("media_ref", "image")).mapInPandas(
        sample, schema=VIDEO_FRAMES_SCHEMA
    )
