"""Web extraction (HTML DOM-heuristic main content, alone and fused
with OCR in ``extract_web_documents``) and the crawl-input readers of
``operators/crawl.py`` (robots/sitemap parsing, URL frontier).

Kernel tests use handwritten adversarial fixtures (NOT the synthetic
gate corpus) so the corpus generators and the parsers cannot mirror
each other's bugs; the Spark tests drive the distributed path
end-to-end against the DuckDB oracles at sf0.001.
"""

from __future__ import annotations

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from tesseract_glue_spark.web.html_main import (
    LABEL_CHROME,
    LABEL_CONTENT,
    LABEL_LINKY,
    LABEL_SHORT,
    extract_main,
    segment_blocks,
)
from tests.conftest import SF_DIR, canonical_csv

LONG = "this paragraph easily clears the twenty five char floor"


class TestHtmlBlocks:
    def test_script_style_head_invisible(self):
        html = (
            "<html><head><title>t</title><style>p{x:1}</style></head><body>"
            f"<script>if(1<2) document.write('<p>fake</p>');</script><p>{LONG}</p>"
        )
        blocks = segment_blocks(html)
        assert [b.text for b in blocks] == [LONG]

    def test_entities_decoded(self):
        blocks = segment_blocks(f"<p>{LONG} &amp; more &#8212; d&eacute;j&agrave;</p>")
        assert blocks[0].text == f"{LONG} & more — déjà"

    def test_chrome_sections_are_boilerplate(self):
        html = (
            f"<nav>{LONG}</nav><header>{LONG}</header><p>{LONG}</p>"
            f"<aside>{LONG}</aside><footer>{LONG}</footer>"
        )
        labels = [b.label for b in segment_blocks(html)]
        assert labels == [LABEL_CHROME, LABEL_CHROME, LABEL_CONTENT, LABEL_CHROME, LABEL_CHROME]

    def test_link_density_rejects_menus_keeps_inline_links(self):
        menu = '<div><a href="/a">alpha</a> <a href="/b">beta</a> <a href="/c">gamma</a></div>'
        para = f'<p>{LONG} with one <a href="/r">link</a> inline</p>'
        blocks = segment_blocks(menu + para)
        assert blocks[0].label == LABEL_LINKY
        assert blocks[1].label == LABEL_CONTENT
        assert blocks[1].text.endswith("with one link inline")

    def test_heading_exemption_and_sandwich(self):
        html = f"<h2>short headline</h2><p>{LONG}</p><p>tiny caption</p><p>{LONG}</p><p>tail note</p>"
        labels = [b.label for b in segment_blocks(html)]
        # heading exempt from length; caption sandwiched between content
        # is promoted; the trailing short block (no content after) is not
        assert labels == [LABEL_CONTENT, LABEL_CONTENT, LABEL_CONTENT, LABEL_CONTENT, LABEL_SHORT]

    def test_malformed_markup_survives(self):
        html = f"<div><p>{LONG}</div></p></footer><p>{LONG}"
        r = extract_main(html)
        assert r["n_content_blocks"] == 2
        assert r["main_text"].count(LONG) == 2

    def test_empty_and_none(self):
        assert extract_main("")["n_blocks"] == 0
        assert extract_main(None)["main_text"] == ""

    def test_full_page_main_text_exact(self):
        """Every segmenter rule on one page: the invisible meta head,
        nav/aside/footer chrome, the heading exemption, an inline link
        kept by its plain-text tail (density 14/59 < 1/3), and the
        share bar and pager rejected by link density. The quoted ``>``
        in the inline link's title must not end its tag."""
        html = (
            "<html><head><title>doc 6: quarterly notes</title>"
            '<meta name="description" content="about quarterly notes">'
            '<link rel="canonical" href="https://example.org/doc/6">'
            "<style>body{margin:0}</style><script>var x = 1;</script></head><body>"
            '<nav><a href="/">home</a> <a href="/about">about</a> <a href="/contact">contact</a></nav>'
            "<aside>limited time offer click here</aside>"
            "<article><h1>quarterly notes</h1>"
            '<p>tide log see also <a href="/ref/6" title="a > b">reference docs</a>'
            " for background and details</p>"
            "<p>the harbour froze early and the ferries stopped running</p>"
            '<div><a href="#">tw</a> <a href="#">fb</a> <a href="#">rss</a></div>'
            '<div><a href="/doc/55">prev</a> <a href="/doc/59">next</a></div>'
            "</article>"
            '<footer><a href="/terms">terms</a> <a href="/privacy">privacy</a></footer>'
            "</body></html>"
        )
        r = extract_main(html)
        assert r["main_text"] == (
            "quarterly notes\n"
            "tide log see also reference docs for background and details\n"
            "the harbour froze early and the ferries stopped running"
        )
        assert (r["n_blocks"], r["n_content_blocks"]) == (8, 3)

    def test_robots_rules_first_match_and_agent_section(self):
        from tesseract_glue_spark.operators.crawl import ROBOTS_AGENT, ROBOTS_TXT
        from urllib.robotparser import RobotFileParser

        rp = RobotFileParser()
        rp.parse(ROBOTS_TXT.splitlines())
        assert rp.can_fetch(ROBOTS_AGENT, "https://example.org/doc/5/view")
        assert not rp.can_fetch(ROBOTS_AGENT, "https://example.org/private/5")
        assert not rp.can_fetch(ROBOTS_AGENT, "https://example.org/doc/archive/5")
        assert not rp.can_fetch("otherbot", "https://example.org/doc/5/view")

    def test_robots_crawl_delay_and_sitemap_discovery(self):
        from urllib.robotparser import RobotFileParser

        from tesseract_glue_spark.operators.crawl import (
            ROBOTS_AGENT,
            ROBOTS_CRAWL_DELAY_MS,
            ROBOTS_TXT,
        )

        rp = RobotFileParser()
        rp.parse(ROBOTS_TXT.splitlines())
        assert int(1000 * rp.crawl_delay(ROBOTS_AGENT)) == ROBOTS_CRAWL_DELAY_MS
        assert rp.site_maps() == ["https://example.org/sitemap.xml"]

    def test_sitemap_index_entries_parsed(self):
        from tesseract_glue_spark.operators.crawl import parse_sitemap_xml

        idx = (
            '<?xml version="1.0"?>'
            '<sitemapindex xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
            "<sitemap><loc>https://x.org/sitemap-1.xml</loc>"
            "<lastmod>2026-01-01</lastmod></sitemap>"
            "<!-- <sitemap><loc>https://x.org/ghost.xml</loc></sitemap> -->"
            "<sitemap><loc>https://x.org/sitemap-2.xml</loc></sitemap>"
            "</sitemapindex>"
        )
        got = parse_sitemap_xml(idx)
        assert [(e["kind"], e["loc"], e["lastmod"]) for e in got] == [
            ("sitemap", "https://x.org/sitemap-1.xml", "2026-01-01"),
            ("sitemap", "https://x.org/sitemap-2.xml", ""),
        ]
        assert parse_sitemap_xml("<not-xml") == []

    def test_link_density_x10k_exact(self):
        # raw chars: 'abcde'(link,5) + ' tail'(5) => 10 raw, 5 link
        html = '<p><a href="/">abcde</a> tail</p>'
        assert extract_main(html)["link_density_x10k"] == 5000


class TestFastParserDifferential:
    """The regex tokenizer must observe exactly what stdlib html.parser
    observes — every block's (text, raw_chars, link_chars, tag, chrome)
    — on realistic markup."""

    CASES = [
        f"<html><head><style>p{{x:1}}</style><script>if(1<2){{}}</script></head><body><p>{LONG}</p>",
        f"<nav><a href='/x'>x</a></nav><article><h1>t</h1><p>{LONG} &amp; &#8212; d&eacute;j&agrave;</p></article>",
        f'<div CLASS="a" href=nope><A HREF = "/q?a=1&amp;b=2" rel=x>{LONG}</a><br/><br>tail</div>',
        f"<p>{LONG}<!-- comment <p>fake</p> --><p>{LONG}</p><![CDATA[<p>no</p>]]>",
        f"<ul><li>{LONG}<li>{LONG}</ul><table><tr><td>{LONG}</td></tr></table>",
        f"<p>{LONG}</div></p></footer><p>{LONG}",
        f"<p>a < b and c > d</p><p>{LONG}</p>",
        f"<P >{LONG}</ P><a href='/u'><b>bold {LONG}</b></a>",
        "<!DOCTYPE html><?pi x?><p>short</p><aside><a href=/f>f</a></aside>",
        f"<script>var s = '</div>';</script><p>{LONG}</p><style>.a{{content:'</p>'}}</style>",
    ]

    def _observe(self, html, reference):
        from tesseract_glue_spark.web.html_main import _parse

        p = _parse(html, reference=reference)
        return [(b.text, b.raw_chars, b.link_chars, b.tag, b.chrome) for b in p.blocks]

    def test_handwritten_cases_identical(self):
        for html in self.CASES:
            assert self._observe(html, False) == self._observe(html, True), html

    @given(
        parts=st.lists(
            st.one_of(
                st.sampled_from(
                    [
                        "<p>", "</p>", "<div>", "</div>", "<nav>", "</nav>",
                        '<a href="/x">', "</a>", "<br>", "<br/>", "<h2>", "</h2>",
                        "<footer>", "</footer>", "<script>x<y</script>",
                        "<!-- c -->", "<li>", "</li>",
                        # malformed nesting / attribute soup / entities
                        "<a href=/u rel=nofollow>", "<a href='/q?a=1&b=2' x>",
                        "<p class='a b' data-x=\"1\">", "</ p>", "<P >",
                        "&amp;", "&#8212;", "&eacute;", "&bogus;", "&#xZZ;", "&",
                        "<em>", "</em>", "<span>", "</span>",
                        "<!DOCTYPE html>", "<?pi x?>", "<![CDATA[<p>n]]>",
                    ]
                ),
                st.text(
                    st.characters(min_codepoint=32, max_codepoint=126, exclude_characters="<"),
                    min_size=0,
                    max_size=40,
                ),
            ),
            min_size=0,
            max_size=25,
        )
    )
    @settings(max_examples=250, deadline=None)
    def test_generated_markup_identical(self, parts):
        html = "".join(parts)
        assert self._observe(html, False) == self._observe(html, True), html


@pytest.mark.usefixtures("spark")
class TestWebSpark:
    def _oracle(self, sql: str):
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM '{SF_DIR}/documents.parquet'"
        )
        return con.execute(sql).df()

    def test_html_main_content_matches_oracle(self, spark):
        from tesseract_glue_spark.operators.crawl import (
            html_main_content_oracle_sql,
            html_main_content_spark,
        )

        got = html_main_content_spark(spark, SF_DIR).toPandas()
        exp = self._oracle(html_main_content_oracle_sql())
        assert canonical_csv(got) == canonical_csv(exp)

    def test_web_sitemap_parse_matches_oracle(self, spark):
        from tesseract_glue_spark.operators.crawl import (
            web_sitemap_parse_oracle_sql,
            web_sitemap_parse_spark,
        )

        got = web_sitemap_parse_spark(spark, SF_DIR).toPandas()
        exp = self._oracle(web_sitemap_parse_oracle_sql())
        assert canonical_csv(got) == canonical_csv(exp)
        # commented-out entries must be honored as comments, not scraped
        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        n_live = docs.where("doc_id % 7 <> 0").count()
        assert len(got) == n_live < docs.count()

    def test_web_url_normalize_matches_oracle(self, spark):
        from tesseract_glue_spark.operators.registry import oracle, spark_runner
        from tesseract_glue_spark.operators.crawl import url_normalize_sql

        got = spark_runner(url_normalize_sql)(spark, SF_DIR).toPandas()
        exp = self._oracle(oracle(url_normalize_sql))
        assert canonical_csv(got) == canonical_csv(exp)
        row = got[got.doc_id == 0].iloc[0]
        assert row.url_norm == "https://example.com/Doc/0?q=1"  # case/port/fragment rules

    def test_web_sitemap_discover_matches_oracle(self, spark):
        """Two-level discovery: sitemapindex parse → child resolution →
        urlset parse; oracle = closed-form hosts×fanout equi-join. The
        commented index reference (host % 20 == 0, k=2) must be honored
        at the INDEX level, and commented url entries at the leaf
        level."""
        from tesseract_glue_spark.operators.crawl import (
            SM_IDX_COMMENTED_MOD,
            SM_IDX_MOD,
            web_sitemap_discover_oracle_sql,
            web_sitemap_discover_spark,
        )

        got = web_sitemap_discover_spark(spark, SF_DIR).toPandas()
        exp = self._oracle(web_sitemap_discover_oracle_sql())
        assert canonical_csv(got) == canonical_csv(exp)
        # index-level comment honoring: commented hosts reference child
        # host+2 only inside a comment → that child must be absent
        commented_hosts = got[got.index_doc_id % SM_IDX_COMMENTED_MOD == 0]
        assert len(commented_hosts) > 0
        assert not (
            commented_hosts.child_doc_id == commented_hosts.index_doc_id + 2
        ).any()
        live_hosts = got[got.index_doc_id % SM_IDX_COMMENTED_MOD != 0]
        assert (live_hosts.child_doc_id == live_hosts.index_doc_id + 2).any()
        assert (got.index_doc_id % SM_IDX_MOD == 0).all()

    def test_web_frontier_dedup_collapses_variants(self, spark):
        """Frontier dedup: canonicalization must COLLAPSE the colliding
        raw-URL variants (case/port/fragment/www over a shared id
        space) — n_fetches > 1 groups must exist, and totals must add
        back up to one row per document."""
        from tesseract_glue_spark.functions import dialect as D
        from tesseract_glue_spark.operators.crawl import url_frontier_dedup_sql

        spark.read.parquet(f"{SF_DIR}/documents.parquet").createOrReplaceTempView(
            "documents"
        )
        got = spark.sql(url_frontier_dedup_sql(D.SPARK)).toPandas()
        exp = self._oracle(url_frontier_dedup_sql(D.DUCKDB))
        assert canonical_csv(got) == canonical_csv(exp)
        assert (got["n_fetches"] > 1).any()
        n_docs = spark.table("documents").count()
        assert int(got["n_fetches"].sum()) == n_docs

    def test_extract_web_flat_matches_oracle(self, spark):
        """Composed flagship: HTML-wrapped text spans + OCR'd media
        spans, span-sequence equality against the closed-form oracle."""
        from tesseract_glue_spark.operators.web import (
            extract_web_flat_oracle_sql,
            extract_web_flat_spark,
        )

        got = extract_web_flat_spark(spark, SF_DIR).toPandas()
        exp = self._oracle(extract_web_flat_oracle_sql())
        assert canonical_csv(got) == canonical_csv(exp)

    def test_web_extraction_streams_like_batch(self, spark, tmp_path):
        """Web pipeline as a structured stream (foreachBatch, extractor
        swap): drained stream output == batch extract_web_documents."""
        import glob as globmod
        from functools import reduce

        from pyspark.sql import DataFrame as _DF

        from tesseract_glue_spark import ExtractionConfig
        from tesseract_glue_spark.fixtures import pages_for
        from tesseract_glue_spark.operators.web import (
            extract_web_documents,
            web_interleaved_documents,
        )
        from tesseract_glue_spark.streaming.extract_stream import (
            extract_stream,
            read_documents_stream,
        )

        docs = web_interleaved_documents(spark, SF_DIR)
        pages = pages_for(docs).cache()
        src = str(tmp_path / "web_docs_in")
        docs.repartition(2).write.parquet(src)
        out = str(tmp_path / "web_stream_out")
        q = extract_stream(
            read_documents_stream(spark, src),
            pages,
            out,
            ExtractionConfig(),
            n_buckets=4,
            extractor=extract_web_documents,
        )
        q.awaitTermination(420)
        got = reduce(
            _DF.unionByName,
            [spark.read.parquet(p) for p in sorted(globmod.glob(f"{out}/batch=*/data"))],
        )
        want = extract_web_documents(docs, pages, ExtractionConfig())
        assert got.count() == want.count() == docs.count()
        g = {r["doc_id"]: [s["text"] for s in r["spans"]] for r in got.collect()}
        w = {r["doc_id"]: [s["text"] for s in r["spans"]] for r in want.collect()}
        assert g == w  # span-sequence equality incl. stripped text

    def test_run_extract_web_cli_writes_manifests(self, spark, tmp_path):
        """Production job surface: `run_extract --web` over a
        materialized web corpus completes, writes bucketed parquet +
        one valid manifest per bucket, and the written span text is the
        STRIPPED main content (no markup survives)."""
        import glob
        import json

        from tesseract_glue_spark.fixtures import pages_for
        from tesseract_glue_spark.operators.web import web_interleaved_documents
        from tesseract_glue_spark.run_extract import main

        docs = web_interleaved_documents(spark, SF_DIR)
        in_dir, pages_dir, out_dir = (
            str(tmp_path / "docs"),
            str(tmp_path / "pages"),
            str(tmp_path / "out"),
        )
        docs.write.parquet(in_dir)
        pages_for(docs).write.parquet(pages_dir)
        rc = main(
            ["--input", in_dir, "--pages", pages_dir, "--output", out_dir, "--buckets", "4"]
            + ["--web"]
        )
        assert rc == 0
        manifests = sorted(glob.glob(f"{out_dir}/_manifests/*.json"))
        assert len(manifests) == 4
        total = sum(json.load(open(m))["n_docs"] for m in manifests)
        assert total == docs.count()
        written = spark.read.parquet(f"{out_dir}/data")
        texts = written.selectExpr(
            "explode(spans) AS s"
        ).where("s.kind = 'text'").selectExpr("s.text AS t")
        assert texts.where("t LIKE '%<%'").count() == 0  # markup stripped
        assert texts.where("t <> ''").count() > 0
