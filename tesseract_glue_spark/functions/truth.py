"""Shared deterministic-contract expressions, emitted for BOTH dialects.

The synthetic interleaved corpus is derived *deterministically* from the
driver's flat ``documents`` table (doc_id, text, ...) so that the entire
extraction pipeline — including the OCR stage — has a DuckDB-checkable
oracle: the Spark side physically renders PNG pages, decodes and
stub-recognizes them; the oracle side computes the same
expected text directly from ``media_ref`` arithmetic
(:mod:`tesseract_glue_spark.imaging.render` truth contract).

Every expression here is generated from one set of Python constants and
emitted as BOTH a Spark-SQL string and a DuckDB-SQL string, so the two
sides can never drift.

Corpus-construction rules (doc with id ``d``, text ``t``):

* ``n_media(d) = 24 if d % 97 == 0 else 1 + d % 3``  — the ``% 97``
  branch is the deliberate heavy tail (many-page docs) that exercises
  skew handling (FIXTURES.md §1).
* spans alternate text/media: offsets ``0..2*n_media``; even offsets are
  text chunks ``substr(t, 1 + (o/2)*CHUNK, CHUNK)``; odd offsets are
  media spans with ``media_ref = 'img_%08d' % ((d*31 + (o/2)*17) % MEDIA_POOL)``.
  The small ref pool makes refs shared across docs (dedup-before-OCR path).
"""

from __future__ import annotations

from tesseract_glue_spark.imaging.render import _GLYPH_MOD, _GLYPH_MULT, MEDIA_POOL

CHUNK = 24
SKEW_DOC_MOD = 97      # doc_id % 97 == 0 → heavy-tail doc
SKEW_DOC_MEDIA = 24    # media spans in a heavy-tail doc
REF_A, REF_B = 31, 17  # media id mix: (d*REF_A + j*REF_B) % MEDIA_POOL

N_MEDIA = f"(CASE WHEN doc_id % {SKEW_DOC_MOD} = 0 THEN {SKEW_DOC_MEDIA} ELSE 1 + doc_id % 3 END)"


def _j(dialect: str) -> str:
    """span index j = o div 2 (integer division, per dialect)."""
    return "(o DIV 2)" if dialect == "spark" else "(o // 2)"


def _off_alias(dialect: str) -> str:
    """``offset`` is a reserved word in DuckDB — quote it there; the
    resulting column name is still ``offset`` on both sides."""
    return "offset" if dialect == "spark" else '"offset"'


def media_num_expr(dialect: str) -> str:
    """media id n for odd offset o of doc doc_id."""
    return f"((doc_id * {REF_A} + {_j(dialect)} * {REF_B}) % {MEDIA_POOL})"


def media_ref_expr(dialect: str) -> str:
    n = media_num_expr(dialect)
    if dialect == "spark":
        return f"format_string('img_%08d', {n})"
    return f"printf('img_%08d', {n})"


def truth_text_expr(n: str, dialect: str) -> str:
    """Expected OCR output for media id ``n`` (an SQL int expression).

    Mirrors :func:`tesseract_glue_spark.imaging.render.truth_text`:
    blank (n%7=0) and dangling (n%13=0) both yield '' in the output —
    blank because the page is empty (whitespace rule, reader2.cpp:49-51),
    dangling because the resolver misses and the span keeps its input
    text ('').
    """
    cast = "STRING" if dialect == "spark" else "VARCHAR"
    glyph = f"CAST(({n} * {_GLYPH_MULT}) % {_GLYPH_MOD} AS {cast})"
    return (
        f"(CASE WHEN {n} % 7 = 0 THEN '' WHEN {n} % 13 = 0 THEN '' "
        f"ELSE concat('page ', CAST({n} AS {cast}), ' glyph ', {glyph}, ' lorem ipsum dolor') END)"
    )


def spans_array_expr() -> str:
    """Spark-only: build the interleaved ``spans`` array<struct> column
    from the flat documents table (matches BASELINE.json input_hint)."""
    ref = media_ref_expr("spark")
    return f"""
    transform(sequence(0, 2 * {N_MEDIA}), o -> struct(
        CASE WHEN o % 2 = 0 THEN 'text' ELSE 'media' END AS kind,
        CASE WHEN o % 2 = 0 THEN substring(text, 1 + (o DIV 2) * {CHUNK}, {CHUNK}) ELSE '' END AS text,
        CASE WHEN o % 2 = 1 THEN {ref} ELSE '' END AS media_ref,
        CAST(o AS INT) AS offset))
    """.strip()


def flat_spans_sql(dialect: str, table: str = "documents") -> str:
    """Flattened span relation (doc_id, offset, kind, text, media_ref)
    of the *input* corpus, per dialect. Used as oracle scaffolding and
    as a directly-checkable query."""
    ref = media_ref_expr(dialect)
    j = _j(dialect)
    substr_fn = "substring" if dialect == "spark" else "substr"
    off_alias = _off_alias(dialect)
    if dialect == "spark":
        frm = (
            f"FROM {table} "
            f"LATERAL VIEW explode(sequence(0, 2 * {N_MEDIA})) _t AS o"
        )
    else:
        frm = f"FROM {table}, unnest(generate_series(0, 2 * {N_MEDIA})) AS _t(o)"
    return f"""
    SELECT doc_id,
           CAST(o AS BIGINT) AS {off_alias},
           CASE WHEN o % 2 = 0 THEN 'text' ELSE 'media' END AS kind,
           CASE WHEN o % 2 = 0 THEN {substr_fn}(text, 1 + {j} * {CHUNK}, {CHUNK}) ELSE '' END AS text,
           CASE WHEN o % 2 = 1 THEN {ref} ELSE '' END AS media_ref
    {frm}
    """.strip()


def extracted_flat_sql(dialect: str, table: str = "documents") -> str:
    """Oracle for the FULL extraction pipeline, flattened: same relation
    as :func:`flat_spans_sql` but with media-span text replaced by the
    expected OCR output."""
    n = media_num_expr(dialect)
    j = _j(dialect)
    ref = media_ref_expr(dialect)
    substr_fn = "substring" if dialect == "spark" else "substr"
    off_alias = _off_alias(dialect)
    truth = truth_text_expr(n, dialect)
    if dialect == "spark":
        frm = f"FROM {table} LATERAL VIEW explode(sequence(0, 2 * {N_MEDIA})) _t AS o"
    else:
        frm = f"FROM {table}, unnest(generate_series(0, 2 * {N_MEDIA})) AS _t(o)"
    return f"""
    SELECT doc_id,
           CAST(o AS BIGINT) AS {off_alias},
           CASE WHEN o % 2 = 0 THEN 'text' ELSE 'media' END AS kind,
           CASE WHEN o % 2 = 0 THEN {substr_fn}(text, 1 + {j} * {CHUNK}, {CHUNK})
                ELSE {truth} END AS text,
           CASE WHEN o % 2 = 1 THEN {ref} ELSE '' END AS media_ref
    {frm}
    """.strip()


def doc_metrics_sql(dialect: str, table: str = "documents") -> str:
    """Oracle for per-document extraction metrics: ocr_pages (media
    spans OCR-attempted, i.e. resolvable), ocr_empty_pages (resolvable
    spans yielding ''), status ('partial' iff any ref dangles)."""
    n = media_num_expr(dialect)
    if dialect == "spark":
        frm = f"FROM {table} LATERAL VIEW explode(sequence(0, 2 * {N_MEDIA})) _t AS o"
    else:
        frm = f"FROM {table}, unnest(generate_series(0, 2 * {N_MEDIA})) AS _t(o)"
    dangling = f"CASE WHEN o % 2 = 1 AND {n} % 7 <> 0 AND {n} % 13 = 0 THEN 1 ELSE 0 END"
    resolvable = f"CASE WHEN o % 2 = 1 AND ({n} % 7 = 0 OR {n} % 13 <> 0) THEN 1 ELSE 0 END"
    empty = f"CASE WHEN o % 2 = 1 AND {n} % 7 = 0 THEN 1 ELSE 0 END"
    return f"""
    SELECT doc_id,
           CAST(SUM({resolvable}) AS BIGINT) AS ocr_pages,
           CAST(SUM({empty}) AS BIGINT) AS ocr_empty_pages,
           CASE WHEN SUM({dangling}) > 0 THEN 'partial' ELSE 'ok' END AS status
    {frm}
    GROUP BY doc_id
    """.strip()
