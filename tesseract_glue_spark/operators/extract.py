"""The extraction pipeline: interleaved docs + page store → OCR'd docs.

This is the Spark-first re-expression of the reference's whole workflow
(``Engine → Reader → read`` per page, ``reader.py:66-77`` →
``reader2.cpp:39-51``) over a table of 10^12 interleaved documents:

    scan documents ──explode──► spans ──filter media──► distinct refs
        ──left join pages──► OCR (mapInPandas: decode → grayscale →
            recognize, engine cached per worker)
        ──join back to media spans──► union text spans
        ──groupBy(doc_id) order-preserving reassembly──► output docs

Scale design notes (the part that must survive 1000 executors / 100 TB):

* **Dedup before OCR**: OCR cost dominates, so each distinct
  ``media_ref`` is recognized exactly once no matter how many spans
  reference it (SURVEY §2B "media dedup").
* **Shuffle inventory**: (1) distinct refs, (2) refs⋈pages join,
  (3) ocr⋈media-spans join, (4) doc reassembly groupBy. 1 and 3 move
  only (ref, small-text) rows; the heavy pixel bytes move exactly once
  (into the OCR stage) and never through a groupBy. The reassembly
  shuffles only text — never image bytes.
* **Join strategy**: OCR results are |distinct refs| rows of short
  text; with AQE on, Spark converts the stitch join to broadcast when
  it fits.
* **Order preservation**: never rely on row order through a shuffle —
  ordering is reconstructed from the carried ``offset`` field via
  ``sort_array`` / ``array_sort`` inside the aggregation (SURVEY §7
  hard-point (a)).
* **Skew**: with `salt_reassembly=S`, documents longer than one chunk
  (``n_spans`` > max(S, 1024), the heavy tail) take a two-phase
  RANGE-CHUNKED reassembly (partial collect+sort per
  (doc_id, offset DIV block), then an O(n) ordered concat of the
  pre-sorted chunks); every other doc stays single-phase. The chunk
  key preserves contiguous offset ranges, so order preservation needs
  no second sort (SURVEY §7 hard-point (b); skew_bench.py for the
  measured comparison against modulo salting, which re-sorted
  serially).
* **Degrade, don't die**: dangling refs / undecodable pages become
  status values, never task failures (``reader2.cpp:19-23``,
  ``ImageLoaderStrategies.cpp:14-16``).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tesseract_glue_spark import errors
from tesseract_glue_spark.config import ExtractionConfig
from tesseract_glue_spark.engine import get_engine
from tesseract_glue_spark.imaging import kernels
from tesseract_glue_spark.imaging.codecs import decode_image
from tesseract_glue_spark.imaging.render import PAYLOAD_ROWS

OCR_RESULT_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType()),
        T.StructField("ocr_text", T.StringType()),
        T.StructField("ocr_status", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_zones", T.IntegerType()),
        T.StructField("shear", T.DoubleType()),
        T.StructField("partition_id", T.IntegerType()),
        T.StructField("confidence_x10k", T.IntegerType()),
        T.StructField("proc_us", T.LongType()),
    ]
)

EXTRACTED_SCHEMA_COLS = ["doc_id", "spans", "ocr_pages", "ocr_empty_pages", "status"]


def explode_spans(docs: DataFrame) -> DataFrame:
    """documents → flat span table (doc_id, offset, kind, text, media_ref).

    ``posexplode_outer`` so a document with zero spans (or NULL spans)
    still yields one row (null kind) and therefore still appears in the
    output — at 10^12 docs, resume/lineage accounting requires every
    input doc to survive the pipeline."""
    return (
        docs.select(
            "doc_id",
            # carried doc size: free (projection of the source array),
            # lets reassemble() route heavy-tail docs to the chunked
            # two-phase plan without a counting shuffle
            F.coalesce(F.size("spans"), F.lit(0)).alias("n_spans"),
            F.posexplode_outer("spans").alias("pos", "s"),
        )
        .select(
            "doc_id",
            "n_spans",
            F.col("s.offset").alias("offset"),
            F.col("s.kind").alias("kind"),
            F.col("s.text").alias("text"),
            F.col("s.media_ref").alias("media_ref"),
        )
    )


def distinct_media_refs(spans: DataFrame) -> DataFrame:
    """Media spans → distinct refs (OCR each page once; SURVEY §2B)."""
    return (
        spans.where((F.col("kind") == "media") & (F.col("media_ref") != ""))
        .select("media_ref")
        .distinct()
    )


def ocr_one_page(engine, config: ExtractionConfig, img_bytes):
    """OCR one page inside a worker: decode → grayscale → recognize,
    with the degrade-don't-die status mapping. Both backends take the
    raw grayscale page and segment it themselves (the reference's
    PSM_AUTO_OSD, ``reader2.cpp:24``). ``config.preprocess`` opts in to
    layout analysis first (Otsu, shear estimate and deskew, XY-cut
    zones); it fills ``n_zones`` and ``shear``, which are 0 and 0.0
    otherwise, and never changes the text. Returns ``(text, status, w,
    h, n_zones, shear, confidence_x10k, proc_us)``. ONE implementation
    of the per-page contract; :func:`ocr_batch` runs it over a batch."""
    import time as _time

    _t0 = _time.perf_counter()
    if img_bytes is None:
        return ("", errors.STATUS_DANGLING, 0, 0, 0, 0.0, 0,
                int(1e6 * (_time.perf_counter() - _t0)))
    try:
        gray = kernels.to_grayscale(decode_image(bytes(img_bytes)))
        h, w = gray.shape
        n_zones, shear = 0, 0.0
        if config.preprocess:
            body = gray[PAYLOAD_ROWS:]
            ink, t = kernels.otsu_binarize_with_threshold(body)
            if ink.any():
                shear = kernels.estimate_shear(ink)
                if abs(shear) > 1e-3:
                    # deskew preserves pixel values → the Otsu
                    # threshold is unchanged; re-binarize by
                    # compare only (no second histogram pass). The
                    # old mask goes first, so the page, its deskewed
                    # copy and the new mask are all that is held.
                    del ink
                    body = kernels.deskew(body, shear)
                    ink = body <= t
                n_zones = len(kernels.xy_cut(ink))
        text = engine.recognize(gray)
        status = errors.STATUS_EMPTY if text == "" else errors.STATUS_OK
        if not engine.good:
            status = errors.STATUS_ENGINE_BAD
        # confidence: backends expose [0,1]-scaled certainty (the
        # stub's payload decode is exact → 1.0; a real Tesseract
        # backend maps mean word confidence here)
        conf = 0 if not engine.good else 10000
        return (text, status, w, h, n_zones, float(shear), conf,
                int(1e6 * (_time.perf_counter() - _t0)))
    except errors.ImageDecodeError:
        status = errors.STATUS_DECODE_ERROR
    except errors.ExtractionError:  # the page decoded; the recognizer failed
        status = errors.STATUS_RECOGNIZE_ERROR
    return ("", status, 0, 0, 0, 0.0, 0, int(1e6 * (_time.perf_counter() - _t0)))


def fan_out(df: DataFrame, n_parts: int | None = None) -> DataFrame:
    """Ship the package, then round-robin repartition ahead of a Python
    kernel — the one task-count policy of every mapInPandas stage.

    Shipping first: kernels reference module globals, so cloudpickle
    serializes them BY REFERENCE and the worker must import
    tesseract_glue_spark — which only works from a repo-root cwd unless
    the zip is added (reproduces only when the driver cwd ≠ repo root).

    Round-robin, never hash or AQE-sized. Two traps:
    (a) AQE sizes partitions by bytes and coalesces a "small" batch onto
        one task — but per-row kernel cost (OCR above all) is huge
        relative to row size, so byte-based coalescing serializes the
        stage;
    (b) repartition(N, 'media_ref') is ELIDED by Catalyst as redundant
        (an upstream distinct already hash-partitions on media_ref),
        after which AQE collapses that shuffle to 1 partition.
    Round-robin repartition(N) avoids both: it is never elided (it's a
    different partitioning), AQE never coalesces a user-specified N,
    and it load-balances rows evenly regardless of key-hash skew.

    1 task per core by default (r6, measured): every mapInPandas task
    pays a fixed cost (identity kernel: 32 tasks 0.46 s, 64 tasks
    0.63 s, 128 tasks 1.09 s, 256 tasks 2.04 s on idle local[32];
    mapInArrow measured the same). Most of it was not the task
    protocol: Spark's worker calls ``importlib.invalidate_caches()``
    before every task, and on CPython 3.11 each of the ~21
    zipimporters on its path re-read its archive, 204 ms of worker
    time per task. The kernels install
    :func:`~tesseract_glue_spark.sources.shipping.guard_zip_reloads`,
    so a worker pays that once; an identity kernel with it costs
    about 15 ms of wall per further task on local[4], 4-core VM
    (64 → 128 tasks: 1.25 → 2.20 s; 4.54 → 8.94 s without it).
    Round-robin keeps per-task ROW COUNTS exactly even — per-row cost
    variance (page size, and with ``preprocess`` on, deskew and picture
    blocks) averages out over the ~100+ rows each task holds.
    Interleaved A/B at sf0.1: extract_full med 2.14 s at 1× vs 2.29 s
    at 2× vs 2.82 s at the old 4×. The straggler question was also
    settled by measurement, not assumption: 4→16 scaling_bench pairs at
    1× vs 2× medianed 0.742 vs 0.715 — the multiplier is NOT what moves
    pair efficiency (window noise is; see BENCH.md §-2), so 1× stands.
    It scales with cluster parallelism; ``n_parts`` (the OCR stage's
    ``config.ocr_partitions``) overrides it for inputs with genuinely
    heavy-tailed per-row cost, where one task's rows no longer average
    out."""
    from tesseract_glue_spark.sources.shipping import ensure_shipped

    spark = df.sparkSession
    ensure_shipped(spark)
    return df.repartition(n_parts or spark.sparkContext.defaultParallelism)


def resolve_pages(spans: DataFrame, pages: DataFrame, config: ExtractionConfig) -> DataFrame:
    """distinct media refs ⋈ pages → (media_ref, image), fanned out for
    the OCR kernel.

    Left join keeps dangling refs (null image → STATUS_DANGLING inside
    the kernel) so error accounting needs no second pass."""
    page_side = pages.select("media_ref", "image")
    if config.dedup_pages:
        # duplicate page rows would multiply through the left join and
        # duplicate spans after stitch — guard when the resolver can't
        # guarantee uniqueness (costs a pages shuffle; see config)
        page_side = page_side.dropDuplicates(["media_ref"])
    resolved = distinct_media_refs(spans).join(page_side, "media_ref", "left")
    return fan_out(resolved, config.ocr_partitions)


def ocr_batch(engine, config: ExtractionConfig, pdf: pd.DataFrame) -> pd.DataFrame:
    """(media_ref, image) rows → one OCR result row each
    (``OCR_RESULT_SCHEMA``) — the per-page row loop of every OCR stage."""
    from pyspark import TaskContext

    ctx = TaskContext.get()
    pid = ctx.partitionId() if ctx is not None else -1
    rows = [
        (ref, *ocr_one_page(engine, config, img))
        for ref, img in zip(pdf["media_ref"], pdf["image"])
    ]
    cols = ["media_ref", "ocr_text", "ocr_status", "width", "height", "n_zones",
            "shear", "confidence_x10k", "proc_us"]
    return pd.DataFrame(rows, columns=cols).assign(partition_id=pid)[OCR_RESULT_SCHEMA.names]


def strip_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    """HTML text-span rows → the same rows with ``text`` replaced by its
    DOM-stripped main content — the per-span row loop of every strip
    stage."""
    from tesseract_glue_spark.web.html_main import extract_main

    return pdf.assign(text=[extract_main(html) for html in pdf["text"]])


def _ocr_kernel(config: ExtractionConfig):
    """The OCR mapInPandas kernel. The engine is constructed at most
    once per Python worker process via the module-global cache in
    :mod:`tesseract_glue_spark.engine` (the Reader-reuse analogue,
    ``reader2.cpp:15-27``) — NOT per batch, NOT per row. Likewise the
    worker's per-task zip re-reads are skipped from its second task on
    (:func:`~tesseract_glue_spark.sources.shipping.guard_zip_reloads`)."""

    def ocr_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from tesseract_glue_spark.sources.shipping import guard_zip_reloads

        guard_zip_reloads()
        engine = get_engine(config)  # lazy init, cached for the worker's lifetime
        for pdf in batches:
            yield ocr_batch(engine, config, pdf)

    return ocr_batches


def ocr_media(spans: DataFrame, pages: DataFrame, config: ExtractionConfig) -> DataFrame:
    """distinct media refs ⋈ pages → per-ref OCR results."""
    return resolve_pages(spans, pages, config).mapInPandas(
        _ocr_kernel(config), schema=OCR_RESULT_SCHEMA
    )


def ocr_partition_metrics(ocr: DataFrame) -> DataFrame:
    """Per-partition OCR metrics (lineage side-channel, SURVEY §7
    Stage 3): page/status counts and zone totals per physical partition
    of the OCR stage. Feed into run-level manifests; at scale, persist
    the ocr frame first so metrics don't recompute the stage."""
    return ocr.groupBy("partition_id").agg(
        F.count("*").alias("n_pages"),
        F.sum(F.when(F.col("ocr_status") == errors.STATUS_EMPTY, 1).otherwise(0)).alias("n_empty"),
        F.sum(F.when(F.col("ocr_status") == errors.STATUS_DANGLING, 1).otherwise(0)).alias("n_dangling"),
        F.sum(
            F.when(F.col("ocr_status") == errors.STATUS_DECODE_ERROR, 1).otherwise(0)
        ).alias("n_decode_errors"),
        F.sum(
            F.when(F.col("ocr_status") == errors.STATUS_RECOGNIZE_ERROR, 1).otherwise(0)
        ).alias("n_recognize_errors"),
        F.sum("n_zones").alias("n_zones_total"),
        F.avg(F.abs("shear")).alias("avg_abs_shear"),
        F.avg("confidence_x10k").alias("avg_confidence_x10k"),
        F.sum("proc_us").alias("proc_us_total"),
    )


def stitch(spans: DataFrame, ocr: DataFrame, config: ExtractionConfig) -> DataFrame:
    """Attach OCR text to media spans; pass text spans through. The
    span frame's ``n_spans`` doc size flows through so reassembly can
    route heavy-tail docs."""
    media = spans.where(F.col("kind") == "media")
    # null-kind rows are empty-doc placeholders from posexplode_outer —
    # keep them so the doc survives reassembly, drop them from the array
    text_spans = spans.where(
        (F.col("kind") != "media") | F.col("kind").isNull()
    ).withColumn("ocr_status", F.lit(None).cast("string"))
    ocr_small = ocr.select("media_ref", "ocr_text", "ocr_status")
    stitched_media = media.join(ocr_small, "media_ref", "left").select(
        "doc_id",
        "n_spans",
        "offset",
        "kind",
        F.coalesce("ocr_text", F.lit("")).alias("text"),
        "media_ref",
        F.coalesce("ocr_status", F.lit(errors.STATUS_DANGLING)).alias("ocr_status"),
    )
    return text_spans.select(
        "doc_id", "n_spans", "offset", "kind", "text", "media_ref", "ocr_status"
    ).unionByName(stitched_media)


_SPAN_STRUCT_EXPR = (
    "transform(filter({src}, s -> s.kind IS NOT NULL), "
    "s -> struct(s.kind AS kind, s.text AS text, s.media_ref AS media_ref, s.offset AS offset))"
)

def _metric_aggs() -> list:
    return [
        F.sum(
            F.when(
                (F.col("kind") == "media")
                & F.col("ocr_status").isin(errors.STATUS_OK, errors.STATUS_EMPTY, errors.STATUS_ENGINE_BAD),
                1,
            ).otherwise(0)
        )
        .cast("int")
        .alias("ocr_pages"),
        F.sum(
            F.when(
                (F.col("kind") == "media")
                & (F.col("text") == "")
                & F.col("ocr_status").isin(errors.STATUS_EMPTY, errors.STATUS_ENGINE_BAD),
                1,
            ).otherwise(0)
        )
        .cast("int")
        .alias("ocr_empty_pages"),
        F.max(
            F.when(
                F.col("ocr_status").isin(
                    errors.STATUS_DANGLING, errors.STATUS_DECODE_ERROR, errors.STATUS_RECOGNIZE_ERROR
                )
                & (F.col("kind") == "media"),
                1,
            ).otherwise(0)
        ).alias("_any_err"),
    ]


def reassemble(stitched: DataFrame, config: ExtractionConfig) -> DataFrame:
    """Order-preserving reconstruction of the span array per document.

    Never relies on shuffle order: the sort key is the carried
    ``offset``, applied *inside* the aggregation via ``sort_array`` on
    offset-first structs. With ``salt_reassembly=S`` the collect runs in
    two phases so a single hot doc_id cannot overload one reducer.

    The salt is a RANGE CHUNK, not a modulo: phase 1 groups on
    (doc_id, offset DIV B) with chunk size ``B = max(S, 1024)`` spans,
    so each chunk covers a contiguous offset range and is sorted in
    parallel; phase 2 concatenates the pre-sorted chunks in chunk
    order — an O(n) serial merge. The earlier modulo salt
    (offset % S) interleaved ranges across salts, forcing phase 2 to
    re-sort the ENTIRE hot document serially (array_sort after
    flatten) — measured SLOWER than unsalted at every corpus shape
    (skew_bench.py, r5): it paid the same serial O(n log n) plus a
    second shuffle.

    Salting routes on the doc size ``n_spans``, which the stitched
    frame must carry (free from ``size(spans)`` at explode time — no
    counting shuffle): documents that fit one chunk take the
    SINGLE-PHASE plan and only heavy-tail docs pay the two-phase
    gather (two-phase for every doc cost uniform corpora 26%,
    skew_bench.py r5). Both branches read the same stitched subtree;
    its exchanges are planned once and reused (ReusedExchange / AQE
    stage reuse), so the OCR stage never re-executes.
    """
    ordered_struct = F.struct("offset", "kind", "text", "media_ref")

    def single_phase(side: DataFrame) -> DataFrame:
        return side.groupBy("doc_id").agg(
            F.sort_array(F.collect_list(ordered_struct)).alias("_sorted"),
            *_metric_aggs(),
        )

    def two_phase(side: DataFrame, block: int) -> DataFrame:
        partial = (
            side.withColumn("_salt", F.expr(f"offset DIV {block}"))
            .groupBy("doc_id", "_salt")
            .agg(
                F.sort_array(F.collect_list(ordered_struct)).alias("_part"),
                *_metric_aggs(),
            )
        )
        return partial.groupBy("doc_id").agg(
            F.expr(
                "flatten(transform(sort_array(collect_list(struct(_salt, _part))), "
                "x -> x._part))"
            ).alias("_sorted"),
            F.sum("ocr_pages").cast("int").alias("ocr_pages"),
            F.sum("ocr_empty_pages").cast("int").alias("ocr_empty_pages"),
            F.max("_any_err").alias("_any_err"),
        )

    if config.salt_reassembly and config.salt_reassembly > 1:
        block = max(int(config.salt_reassembly), 1024)
        small = stitched.where(F.col("n_spans") <= block)
        big = stitched.where(F.col("n_spans") > block)
        doc = single_phase(small).unionByName(two_phase(big, block))
    else:
        doc = single_phase(stitched)
    return doc.select(
        "doc_id",
        F.expr(_SPAN_STRUCT_EXPR.format(src="_sorted")).alias("spans"),
        "ocr_pages",
        "ocr_empty_pages",
        F.when(F.col("_any_err") > 0, "partial").otherwise("ok").alias("status"),
    )


def extract_documents(
    docs: DataFrame, pages: DataFrame, config: ExtractionConfig | None = None
) -> DataFrame:
    """Full pipeline: documents + page store → OCR'd documents.

    Output schema: input schema with media-span text filled in, plus
    per-doc metrics (FIXTURES.md §3): ocr_pages, ocr_empty_pages, status.
    """
    cfg = (config or ExtractionConfig()).validated()
    spans = explode_spans(docs)
    ocr = ocr_media(spans, pages, cfg)
    return reassemble(stitch(spans, ocr, cfg), cfg)


def extract_flat(
    docs: DataFrame, pages: DataFrame, config: ExtractionConfig | None = None
) -> DataFrame:
    """Flattened extraction output (one row per span) — the
    oracle-comparable projection of :func:`extract_documents`.

    ``posexplode_outer`` so a document whose extracted span array is
    empty/NULL still yields one placeholder row (NULL kind/offset) —
    the flat projection upholds the same every-doc-survives guarantee
    as :func:`explode_spans`; a plain explode silently drops such docs
    from lineage accounting."""
    out = extract_documents(docs, pages, config)
    return out.select("doc_id", F.posexplode_outer("spans").alias("_p", "s")).select(
        "doc_id",
        F.col("s.offset").cast("long").alias("offset"),
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
    )
