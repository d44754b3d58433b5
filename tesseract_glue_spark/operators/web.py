"""Web-document extraction: interleaved documents whose text spans are
HTML pages and whose media spans are page images.

:func:`extract_web_documents` DOM-strips every text span to its main
content (:mod:`tesseract_glue_spark.web.html_main`) and OCRs every media
page in ONE fused ``mapInPandas`` stage, then stitches and reassembles
exactly like :func:`extract.extract_documents` — same output schema, so
lineage manifests, bucketed writes and resume apply unchanged
(``run_extract --web``, ``extract_stream(..., extractor=...)``).

The gate corpus follows the repo's synthetic-truth pattern
(``functions/truth.py``): :func:`wrap_text_spans_html` wraps each text
span of the interleaved truth corpus in a fixed chrome page, so the
REAL strip and OCR kernels run end-to-end in Spark while DuckDB computes
the expected output in closed form (:func:`extract_web_flat_oracle_sql`).
The segmenter's DOM edge cases (malformed nesting, entities, link
density) are covered by handwritten fixtures in ``tests/test_web.py`` so
generator and parser cannot mirror each other's bugs.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tesseract_glue_spark.engine import get_engine
from tesseract_glue_spark.functions import dialect as D
from tesseract_glue_spark.operators.extract import (
    OCR_RESULT_SCHEMA,
    explode_spans,
    ocr_batch,
    reassemble,
    resolve_pages,
    stitch,
    strip_batch,
)

# Boilerplate fragments of the wrapper page: chrome the segmenter must
# reject (invisible head, nav and footer link lists)
_NAV = '<nav><a href="/">home</a> <a href="/about">about</a> <a href="/contact">contact</a></nav>'
_FOOTER = '<footer><a href="/terms">terms</a> <a href="/privacy">privacy</a></footer>'
_HEAD = (
    "<html><head><title>synthetic</title><style>body{margin:0}</style>"
    "<script>var x = 1;</script></head><body>"
)


def safe_text_expr(d: str, col: str = "text") -> str:
    """Corpus-template text normalization (dual-dialect, shared by the
    wrapper AND the oracle): HTML metachars and ASCII whitespace
    controls → space, remaining non-printable-ASCII → ``?``, space runs
    collapsed, trimmed.

    Raw ``text`` interpolated into markup would break Spark/oracle
    equality on a ``&``, ``<``, ``"`` or double space — this is the
    gate-corpus contract, not a production kernel: the real HTML
    extractor handles arbitrary unicode input (covered by the
    differential/fuzz tests); the synthetic corpus pins its own input
    down so the oracle stays closed-form."""
    x = D.regexp_replace_all(d, col, r'[&<>"\t\n\r\f\x0b]', " ")
    x = D.regexp_replace_all(d, x, r"[^ -~]", "?")
    x = D.regexp_replace_all(d, x, r"  +", " ")
    return f"trim({x})"


# ------------------------------------------- composed web-doc extraction

# Per-span HTML wrapper for the web-interleaved corpus: every TEXT span
# of the interleaved documents carries a full page (chrome + article)
# whose only content is the span's chunk, held in an <h1> (chunks are
# CHUNK=24 chars — under the paragraph length floor; the heading
# exemption is the designed path for title-sized fragments).
_SPAN_PREFIX = _HEAD + _NAV + "<article><h1>"
_SPAN_SUFFIX = "</h1></article>" + _FOOTER + "</body></html>"


def wrap_text_spans_html(docs: DataFrame) -> DataFrame:
    """Any interleaved (doc_id, spans) frame with every text span's
    payload replaced by its HTML-wrapped page (media spans untouched) —
    pure JVM-side transform(), no UDF."""
    wrap = (
        "transform(spans, s -> named_struct("
        "'kind', s.kind, "
        # text chunks are normalized (safe_text_expr) before being
        # embedded in markup — raw '&'/'<'/'"'/double-space payloads
        # would otherwise diverge from the closed-form oracle
        f"'text', CASE WHEN s.kind = 'text' THEN concat('{_SPAN_PREFIX}', {safe_text_expr(D.SPARK, 's.text')}, '{_SPAN_SUFFIX}') ELSE s.text END, "
        "'media_ref', s.media_ref, "
        "'offset', s.offset))"
    )
    return docs.select("doc_id", F.expr(wrap).alias("spans"))


def web_interleaved_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The interleaved truth corpus in web form — the web-document
    variant of ``fixtures.interleaved_documents``."""
    from tesseract_glue_spark.fixtures import interleaved_documents

    return wrap_text_spans_html(interleaved_documents(spark, sf_dir))


STRIPPED_SPAN_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("offset", T.LongType()),
        T.StructField("text", T.StringType()),
    ]
)


def strip_text_spans(spans: DataFrame) -> DataFrame:
    """(doc_id, offset, text=html) → main content per text span.

    MAP-ONLY over the input's own splits: at crawl scale the input
    splits provide the parallelism and the kernel needs no shuffle —
    unconditional round-robin fan-out here was measured a 1.5× wall
    regression on the full web pipeline at local[16] (41.4 s → 26.7 s
    without it): it shuffles every HTML payload AND adds a stage that
    interleaves with the OCR stage. A caller whose input is under-split
    (a single small file, say) should repartition it first — the kernel
    then runs on as many tasks as the caller chose."""
    from tesseract_glue_spark.sources.shipping import ensure_shipped

    ensure_shipped(spans.sparkSession)

    def strip_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from tesseract_glue_spark.sources.shipping import guard_zip_reloads

        guard_zip_reloads()
        return map(strip_batch, batches)

    return spans.select("doc_id", "offset", "text").mapInPandas(
        strip_batches, schema=STRIPPED_SPAN_SCHEMA
    )


# the fused stage's rows: OCR result columns for media rows, the
# stripped text span (with its carried doc size) for text rows
WEB_FUSED_SCHEMA = T.StructType(
    OCR_RESULT_SCHEMA.fields
    + [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_spans", T.IntegerType()),
        T.StructField("offset", T.LongType()),
        T.StructField("text", T.StringType()),
    ]
)


def _fused_web_kernel(config):
    """One worker pass for BOTH web work kinds: each batch is split by
    ``media_ref IS NULL`` — media rows are OCR'd pages
    (:func:`extract.ocr_batch`), the rest are HTML text spans,
    DOM-stripped in place (:func:`extract.strip_batch`). Running the two
    Python kernels as ONE stage keeps exactly one Python worker per core
    — the previous two-stage shape ran the strip and OCR stages
    concurrently, and the doubled Python-process pressure was the web
    pipeline's measured scaling ceiling (BENCH.md §2: composite
    0.75-0.79 vs the OCR kernel's own 0.90)."""
    cols = WEB_FUSED_SCHEMA.names

    def pad(part: pd.DataFrame) -> pd.DataFrame:
        # the other kind's columns as all-null columns
        return pd.DataFrame({c: part[c] if c in part.columns else None for c in cols})

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from tesseract_glue_spark.sources.shipping import guard_zip_reloads

        guard_zip_reloads()  # before the lazy engine: strip-only tasks too
        engine = None
        for pdf in batches:
            is_media = pdf["media_ref"].notna()
            if is_media.any():
                if engine is None:  # lazy: strip-only tasks skip init
                    engine = get_engine(config)
                yield pad(ocr_batch(engine, config, pdf[is_media]))
            if not is_media.all():
                yield pad(strip_batch(pdf[~is_media]))

    return run


def _fused_web_input(spans: DataFrame, pages: DataFrame, cfg) -> DataFrame:
    """The fused stage's input: media pages ∪ HTML text spans, each side
    partitioned BEFORE the union — a union concatenates its children's
    partitions without an exchange, so the media side gets the
    round-robin fan-out of :func:`extract.resolve_pages` while the text
    side stays MAP-ONLY (see :func:`strip_text_spans`). Repartitioning
    the union instead pushed every HTML payload through a shuffle — the
    exact regression round 3 measured and removed from the strip stage
    (re-measured here as 4→16 scaling 0.855 → 0.457); the plan shape is
    locked by ``tests/test_plans.py::test_fused_web_input_no_html_shuffle``."""
    media_in = resolve_pages(spans, pages, cfg).select(
        "media_ref",
        "image",
        F.lit(None).cast("long").alias("doc_id"),
        F.lit(None).cast("int").alias("n_spans"),
        F.lit(None).cast("long").alias("offset"),
        F.lit(None).cast("string").alias("text"),
    )
    text_in = spans.where(F.col("kind") == "text").select(
        F.lit(None).cast("string").alias("media_ref"),
        F.lit(None).cast("binary").alias("image"),
        "doc_id",
        "n_spans",
        F.col("offset").cast("long").alias("offset"),
        "text",
    )
    return media_in.unionByName(text_in)


def extract_web_documents(docs: DataFrame, pages: DataFrame, config=None) -> DataFrame:
    """Nested-form web extraction — the production job surface: same
    output schema as ``extract_documents`` (doc_id, spans, ocr_pages,
    ocr_empty_pages, status), so lineage manifests, bucketed writes, and
    bucket-/doc-granular resume apply unchanged (`run_extract --web`).
    Text spans are DOM-stripped and media spans OCR'd in ONE fused
    mapInPandas stage: exactly one Python worker per core, one
    round-robin fan-out carrying pages, and one eager materialization of
    the (small, text-only) kernel output, which both the OCR-stitch
    branch and the text-span branch then read. Every span row carries
    its doc's ``n_spans``, so salted reassembly routes small docs to
    the single-phase plan exactly as :func:`extract.extract_documents`
    does."""
    from tesseract_glue_spark import ExtractionConfig

    cfg = (config or ExtractionConfig()).validated()
    spans = explode_spans(docs)
    out = _fused_web_input(spans, pages, cfg).mapInPandas(
        _fused_web_kernel(cfg), schema=WEB_FUSED_SCHEMA
    )
    # the kernel output (stripped text + OCR text, no page bytes) feeds
    # TWO branches below; materialize once so neither recomputes the
    # expensive stage — the cost is one write of what the reassembly
    # shuffle moves anyway
    out = out.localCheckpoint(eager=True)
    ocr = out.where(F.col("media_ref").isNotNull()).select(*OCR_RESULT_SCHEMA.names)
    stripped = out.where(F.col("media_ref").isNull()).select(
        "doc_id",
        "n_spans",
        "offset",
        F.lit("text").alias("kind"),
        F.coalesce("text", F.lit("")).alias("text"),
        F.lit("").alias("media_ref"),
    )
    others = spans.where((F.col("kind") != "text") | F.col("kind").isNull()).select(
        "doc_id",
        "n_spans",
        F.col("offset").cast("long").alias("offset"),
        "kind",
        "text",
        "media_ref",
    )
    return reassemble(stitch(others.unionByName(stripped), ocr, cfg), cfg)


def extract_web_flat_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed north_rule flagship: interleaved web documents (text
    spans = HTML pages, media spans = scanned page images) → per-span
    main content, flattened — span-sequence equality is the oracle's
    whole projection."""
    from tesseract_glue_spark.fixtures import pages_for

    docs = web_interleaved_documents(spark, sf_dir)
    pages = pages_for(docs)
    out = extract_web_documents(docs, pages)
    return out.select("doc_id", F.posexplode_outer("spans").alias("_p", "s")).select(
        "doc_id",
        F.col("s.offset").cast("long").alias("offset"),
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
    )


def extract_web_flat_oracle_sql(table: str = "documents") -> str:
    """Closed-form oracle: the flat extraction truth with the text-span
    branch mapped through the wrapper contract — the main content of
    ``chrome + <h1>chunk</h1> + chrome`` is the whitespace-normalized
    chunk (single-spaced input ⇒ trim), '' when the chunk is blank."""
    from tesseract_glue_spark.functions import truth

    j = "(o // 2)"
    n = truth.media_num_expr(D.DUCKDB)
    ref = truth.media_ref_expr(D.DUCKDB)
    ocr = truth.truth_text_expr(n, D.DUCKDB)
    chunk = f"substr(text, 1 + {j} * {truth.CHUNK}, {truth.CHUNK})"
    # the wrapper normalizes each chunk (safe_text_expr) before HTML
    # embedding; the kernel's whitespace collapse is then the identity,
    # so expected main content = the normalized chunk itself
    safe_chunk = safe_text_expr(D.DUCKDB, chunk)
    return f"""
    SELECT doc_id,
           CAST(o AS BIGINT) AS "offset",
           CASE WHEN o % 2 = 0 THEN 'text' ELSE 'media' END AS kind,
           CASE WHEN o % 2 = 0 THEN {safe_chunk} ELSE {ocr} END AS text,
           CASE WHEN o % 2 = 1 THEN {ref} ELSE '' END AS media_ref
    FROM {table}, unnest(generate_series(0, 2 * {truth.N_MEDIA})) AS _t(o)
    """.strip()

