"""Web extraction: HTML DOM-heuristic main content, alone and fused
with OCR in ``extract_web_documents``, and the tokenizer's time on
hostile markup.

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
        blocks = segment_blocks(html)
        assert sum(b.label == LABEL_CONTENT for b in blocks) == 2
        assert extract_main(html).count(LONG) == 2

    def test_empty_and_none(self):
        assert segment_blocks("") == []
        assert extract_main(None) == ""

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
        assert extract_main(html) == (
            "quarterly notes\n"
            "tide log see also reference docs for background and details\n"
            "the harbour froze early and the ferries stopped running"
        )
        blocks = segment_blocks(html)
        assert (len(blocks), sum(b.label == LABEL_CONTENT for b in blocks)) == (8, 3)

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


# Markup that opens what it never closes, about 1 MB per family. The
# tokenizer once read ahead to the end of the input at every '<' of most
# of them and was super-quadratic: 24 KB of "<a " took 10 s.
HOSTILE_HTML = {
    "open_tags_no_gt": "<a " * 350_000,
    "comment_openers_no_close": "<!--x" * 210_000,
    "tag_then_spaces": "<a" + " " * 1_050_000,
    "text_lt_no_gt": "ab x<y " * 150_000,
    "plain_text": "lorem ipsum " * 87_000,
    "deep_div_nesting": "<div>" * 210_000,
    "comment_openers_with_gt": "<!--x>" * 175_000,
    "cdata_openers_with_gt": "<![CDATA[x>" * 95_000,
    "open_tags_unclosed_quote": "<a " * 350_000 + '">',
    "long_name_unclosed_quote": "<" + "a" * 1_050_000 + '">',
    "script_close_no_gt": "<script>" + "</script " * 116_000,
}
# the slowest family (deep nesting) takes 0.35 s, one thread of a 4-core VM
HOSTILE_BUDGET_S = 2.0


class TestTokenizerTime:
    @pytest.mark.parametrize("family", sorted(HOSTILE_HTML))
    def test_hostile_megabyte_within_budget(self, family):
        """A 1 MB hostile span strips within the budget; SIGALRM stops a
        scan that would run far longer, so the test fails in seconds."""
        import signal

        def expire(signum, frame):
            raise TimeoutError(f"{family}: over {HOSTILE_BUDGET_S} s")

        previous = signal.signal(signal.SIGALRM, expire)
        signal.setitimer(signal.ITIMER_REAL, HOSTILE_BUDGET_S)
        try:
            extract_main(HOSTILE_HTML[family])
        finally:
            signal.setitimer(signal.ITIMER_REAL, 0)
            signal.signal(signal.SIGALRM, previous)


@pytest.mark.usefixtures("spark")
class TestWebSpark:
    def _oracle(self, sql: str):
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM '{SF_DIR}/documents.parquet'"
        )
        return con.execute(sql).df()

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

    def test_hostile_span_leaves_its_doc_intact(self, spark):
        """One doc carries a 1 MB text span of "<a " with no '>' between
        wrapped pages and a page image: the job finishes within its
        budget (cancelled past it), the doc is present, its other spans
        strip and OCR as usual, and the hostile span, which closes no
        tag, comes back as its own text."""
        import threading

        from tesseract_glue_spark import ExtractionConfig
        from tesseract_glue_spark.fixtures import DOCUMENTS_SCHEMA, PAGES_SCHEMA
        from tesseract_glue_spark.imaging.render import num_to_ref, render_page, truth_text
        from tesseract_glue_spark.operators.web import (
            _SPAN_PREFIX,
            _SPAN_SUFFIX,
            extract_web_documents,
        )

        hostile = HOSTILE_HTML["open_tags_no_gt"]
        page = num_to_ref(1)
        docs = [
            (1, [
                ("text", f"{_SPAN_PREFIX}first chunk{_SPAN_SUFFIX}", "", 0),
                ("media", "", page, 1),
                ("text", hostile, "", 2),
                ("text", f"{_SPAN_PREFIX}last chunk{_SPAN_SUFFIX}", "", 3),
            ]),
            (2, [("text", f"{_SPAN_PREFIX}other doc{_SPAN_SUFFIX}", "", 0)]),
        ]
        # the builder runs the strip stage (eager checkpoint), so the
        # budget covers it too
        timer = threading.Timer(120, spark.sparkContext.cancelAllJobs)
        timer.start()
        try:
            out = extract_web_documents(
                spark.createDataFrame(docs, schema=DOCUMENTS_SCHEMA),
                spark.createDataFrame([(page, render_page(1)[0], 0, 0, "")], schema=PAGES_SCHEMA),
                ExtractionConfig(),
            )
            got = {r["doc_id"]: r for r in out.collect()}
        finally:
            timer.cancel()
        assert [s["text"] for s in got[1]["spans"]] == [
            "first chunk", truth_text(1), hostile.strip(), "last chunk"
        ]
        assert (got[1]["ocr_pages"], got[1]["status"]) == (1, "ok")
        assert [s["text"] for s in got[2]["spans"]] == ["other doc"]

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
