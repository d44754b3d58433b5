"""Crawl-input operators over a synthetic page corpus: HTML main
content, the URL frontier (canonicalize, dedup, politeness waves) and
robots.txt and sitemap crawl control.

None of these is an extraction entry point: ``run_extract``,
``extract_stream`` and ``entry()`` reach only
:mod:`tesseract_glue_spark.operators.web`. They are gate queries of
``queries()``, each with a closed-form DuckDB oracle.

Gate design follows the repo's synthetic-truth pattern (``functions/
truth.py``): the corpus is derived *deterministically from the
``documents`` table* — an HTML page or sitemap fragment is synthesized
around each doc's text by a shared dual-dialect SQL template — so the
REAL parsers run end-to-end in Spark while DuckDB computes the expected
output in closed form. The parsers' edge cases (malformed nesting,
entities, comments) are covered by handwritten adversarial fixtures in
``tests/test_web.py`` so generator and parser cannot mirror each
other's bugs.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tesseract_glue_spark.functions import dialect as D
from tesseract_glue_spark.operators.extract import fan_out
from tesseract_glue_spark.operators.web import (
    _FOOTER,
    _HEAD_OPEN,
    _HEAD_REST,
    _NAV,
    safe_text_expr,
)

# ------------------------------------------------------------------ HTML

# Boilerplate fragments of the synthetic page beyond the wrapper chrome
# shared with operators/web.py (nav, footer, head): an aside promo and a
# share bar the segmenter must reject.
_ASIDE = "<aside>limited time offer click here</aside>"
_SHARE = '<div><a href="#">tw</a> <a href="#">fb</a> <a href="#">rss</a></div>'
_CANONICAL_EXPR = "'https://example.org/doc/' || CAST(doc_id AS STRING)"


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


# inline link href is doc-dependent (doc_id % 50), like a real page's
# references
_REF_HREF = "'/ref/' || CAST(doc_id % 50 AS STRING)"
# pager widget: two doc→doc links per page that the density rule must
# reject. Targets are contract arithmetic over a fixed 1000-slot id
# space — at small SF some targets are dangling (no such doc).
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
