"""Web extraction (HTML DOM-heuristic main content, alone and fused
with OCR in ``extract_web_documents``) and the crawl-input readers of
``operators/crawl.py`` (PDF and WARC codecs, robots/sitemap parsing,
URL frontier).

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
from tesseract_glue_spark.web.pdf import (
    PdfDecodeError,
    encode_pdf,
    extract_pdf_spans,
    reading_order_text,
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


class TestPdfCodec:
    def test_roundtrip_compressed_and_uncompressed(self):
        pages = [[(72.0, 720.0, "hello (world)"), (72.0, 700.0, "line \\ two")]]
        for compress in (True, False):
            spans = extract_pdf_spans(encode_pdf(pages, compress=compress))
            assert spans == [(1, 72.0, 720.0, "hello (world)"), (1, 72.0, 700.0, "line \\ two")]

    def test_multipage_order_follows_kids(self):
        pdf = encode_pdf([[(72, 700, "first")], [(72, 700, "second")]])
        assert [(p, t) for p, _, _, t in extract_pdf_spans(pdf)] == [
            (1, "first"),
            (2, "second"),
        ]

    def test_handwritten_tj_tm_tstar_escapes_no_xref(self):
        raw = (
            b"%PDF-1.4\n"
            b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
            b"2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n"
            b"3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R >> endobj\n"
            b"4 0 obj << >>\nstream\n"
            b"BT 1 0 0 1 100 650 Tm (oct\\141l \\(ok\\)) Tj ET\n"
            b"BT 14 TL 72 700 Td [(Hel)-20(lo )(world)] TJ T* (below) Tj ET\n"
            b"endstream\nendobj\n"
        )
        spans = extract_pdf_spans(raw)
        assert (1, 100.0, 650.0, "octal (ok)") in spans
        assert (1, 72.0, 700.0, "Hello world") in spans
        assert (1, 72.0, 686.0, "below") in spans

    def test_reading_order_xy(self):
        spans = [(1, 300.0, 720.0, "right"), (1, 72.0, 700.0, "lower"), (1, 72.0, 721.0, "left")]
        assert reading_order_text(spans) == [(1, "left right\nlower")]

    def test_typed_errors(self):
        with pytest.raises(PdfDecodeError):
            extract_pdf_spans(b"GIF89a not a pdf")
        with pytest.raises(PdfDecodeError):
            extract_pdf_spans(b"%PDF-1.4\nno pages here")
        # corrupt Flate payload inside a valid skeleton
        good = bytearray(encode_pdf([[(72, 700, "x" * 50)]]))
        i = good.index(b"stream\n") + len(b"stream\n")
        good[i + 5 : i + 15] = b"\x00" * 10
        with pytest.raises(PdfDecodeError):
            extract_pdf_spans(bytes(good))

    def test_balanced_unescaped_parens_in_literal_string(self):
        # PDF spec 7.3.4.2: literal strings may contain BALANCED pairs of
        # unescaped parentheses — "(a(b)c)" is one string, not two tokens
        raw = (
            b"%PDF-1.4\n"
            b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
            b"2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n"
            b"3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R >> endobj\n"
            b"4 0 obj << >>\nstream\n"
            b"BT 72 700 Td (a(b)c) Tj ET\n"
            b"BT 72 680 Td [(x(y(z))w)] TJ ET\n"
            b"endstream\nendobj\n"
        )
        spans = extract_pdf_spans(raw)
        assert (1, 72.0, 700.0, "a(b)c") in spans
        assert (1, 72.0, 680.0, "x(y(z))w") in spans

    @staticmethod
    def _pdf_with_xref(objs: list[bytes]) -> bytes:
        buf = bytearray(b"%PDF-1.4\n")
        offsets = []
        for n, body in enumerate(objs, start=1):
            offsets.append(len(buf))
            buf += b"%d 0 obj\n%s\nendobj\n" % (n, body)
        xref_at = len(buf)
        buf += b"xref\n0 %d\n0000000000 65535 f \n" % (len(objs) + 1)
        for off in offsets:
            buf += b"%010d 00000 n \n" % off
        buf += b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n" % (
            len(objs) + 1,
            xref_at,
        )
        return bytes(buf)

    def test_streamless_objects_bounded_at_endobj(self):
        # xref path, NO /Kids array: page classification must rely on
        # correctly-bounded per-object bodies. An unbounded stream-keyword
        # search from the stream-less Catalog/Font objects would latch
        # onto object 4's stream, pulling the /Type /Page dict of object
        # 3 into their bodies and triplicating the page text.
        content = b"BT 72 700 Td (once) Tj ET\n"
        pdf = self._pdf_with_xref(
            [
                b"<< /Type /Catalog >>",
                b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
                b"<< /Type /Page /Contents 4 0 R >>",
                b"<< /Length %d >>\nstream\n%s\nendstream" % (len(content), content),
            ]
        )
        assert extract_pdf_spans(pdf) == [(1, 72.0, 700.0, "once")]

    def test_stream_payload_containing_keywords(self):
        # adversarial: the DRAWN TEXT contains PDF structural keywords;
        # xref + /Length slicing must not be confused by them once they
        # appear (uncompressed) inside the stream payload
        evil = "endstream endobj 5 0 obj stream"
        spans = extract_pdf_spans(encode_pdf([[(72, 700, evil)]], compress=False))
        assert spans == [(1, 72.0, 700.0, evil)]


class TestPdfFuzz:
    """Volume fuzz for the PDF reader: writer↔parser differential on
    arbitrary printable-ASCII payloads (the two sides share no code —
    the writer escapes, the scanner unescapes), plus byte-mutation
    robustness (any structural damage must surface as PdfDecodeError or
    a successful tolerant parse, never an untyped exception)."""

    @given(
        texts=st.lists(
            st.text(
                st.characters(min_codepoint=32, max_codepoint=126),
                min_size=0,
                max_size=60,
            ),
            min_size=1,
            max_size=6,
        ),
        compress=st.booleans(),
    )
    @settings(max_examples=250, deadline=None)
    def test_roundtrip_arbitrary_ascii(self, texts, compress):
        pages = [
            [(72.0 + 10 * i, 720.0 - 14 * i, t) for i, t in enumerate(texts)]
        ]
        spans = extract_pdf_spans(encode_pdf(pages, compress=compress))
        assert spans == [
            (1, 72.0 + 10 * i, 720.0 - 14 * i, t) for i, t in enumerate(texts)
        ]

    @given(pos=st.integers(min_value=0), byte=st.integers(min_value=0, max_value=255))
    @settings(max_examples=250, deadline=None)
    def test_single_byte_mutation_typed_or_parsed(self, pos, byte):
        base = encode_pdf(
            [[(72, 700, "stable payload (with) escapes \\ here")],
             [(72, 700, "page two")]],
            compress=True,
        )
        mutated = bytearray(base)
        mutated[pos % len(base)] = byte
        try:
            extract_pdf_spans(bytes(mutated))
        except PdfDecodeError:
            pass  # typed degrade is the contract


class TestWarcFuzz:
    @given(pos=st.integers(min_value=0), byte=st.integers(min_value=0, max_value=255))
    @settings(max_examples=250, deadline=None)
    def test_single_byte_mutation_typed_or_parsed(self, pos, byte):
        from tesseract_glue_spark.web.warc import (
            WarcDecodeError,
            encode_http_response,
            encode_warc,
            warc_responses,
        )

        base = encode_warc(
            [
                ("warcinfo", "", {}, b"software: fuzz"),
                (
                    "response",
                    "https://x.org/1",
                    {},
                    encode_http_response(200, "OK", "text/html", b"<p>body</p>"),
                ),
            ],
            compress=True,
        )
        mutated = bytearray(base)
        mutated[pos % len(base)] = byte
        try:
            warc_responses(bytes(mutated))
        except WarcDecodeError:
            pass  # typed degrade is the contract


class TestWarcCodec:
    def _recs(self):
        from tesseract_glue_spark.web.warc import encode_http_response

        return [
            ("warcinfo", "", {}, b"software: test"),
            ("request", "https://x.org/1", {}, b"GET /1 HTTP/1.1\r\n\r\n"),
            (
                "response",
                "https://x.org/1",
                {},
                encode_http_response(200, "OK", "text/html", b"<p>hello</p>"),
            ),
            (
                "response",
                "https://x.org/2",
                {},
                encode_http_response(404, "Not Found", "text/plain", b"nope"),
            ),
        ]

    def test_roundtrip_plain_and_gzip_members(self):
        from tesseract_glue_spark.web.warc import encode_warc, warc_responses

        for compress in (False, True):
            got = warc_responses(encode_warc(self._recs(), compress=compress))
            assert [(r["url"], r["http_status"], r["body"]) for r in got] == [
                ("https://x.org/1", 200, b"<p>hello</p>"),
                ("https://x.org/2", 404, b"nope"),
            ]

    def test_handwritten_record_case_insensitive_headers(self):
        from tesseract_glue_spark.web.warc import warc_responses

        block = b"HTTP/1.1 200 OK\r\ncontent-TYPE: text/html\r\nCONTENT-length: 4\r\n\r\nbodyEXTRA"
        raw = (
            b"WARC/1.0\r\nwarc-type: response\r\nWarc-Target-Uri: https://y.org\r\n"
            b"content-length: %d\r\n\r\n%s\r\n\r\n" % (len(block), block)
        )
        (r,) = warc_responses(raw)
        # HTTP Content-Length slices the body even when bytes trail it
        assert (r["url"], r["content_type"], r["body"]) == ("https://y.org", "text/html", b"body")

    def test_reserved_header_names_do_not_clobber_payload(self):
        # a crafted record with headers literally named "Block" /
        # "WARC-Type" must not displace the parsed payload keys
        from tesseract_glue_spark.web.warc import encode_http_response, warc_responses

        http = encode_http_response(200, "OK", "text/html", b"<p>ok</p>")
        raw = (
            b"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: https://z.org\r\n"
            b"Block: evil\r\nWarc_Type: evil\r\n"
            b"Content-Length: %d\r\n\r\n%s\r\n\r\n" % (len(http), http)
        )
        (r,) = warc_responses(raw)
        assert (r["url"], r["http_status"], r["body"]) == ("https://z.org", 200, b"<p>ok</p>")

    def test_charset_aware_body_decode(self):
        from tesseract_glue_spark.web.warc import decode_http_body

        assert decode_http_body(b"caf\xe9", "text/html; charset=latin-1") == "caf\xe9"
        assert decode_http_body(b"caf\xc3\xa9", "text/html; charset=utf-8") == "caf\xe9"
        # invalid utf-8 with no charset: degrade via replacement, never raise
        assert "�" in decode_http_body(b"caf\xe9", "text/html")
        # garbage codec label: fall back to utf-8+replace, never raise
        assert decode_http_body(b"ok", 'text/html; charset="no-such-enc"') == "ok"

    def test_typed_errors(self):
        from tesseract_glue_spark.web.warc import WarcDecodeError, encode_warc, warc_responses

        with pytest.raises(WarcDecodeError):
            warc_responses(b"not a warc")
        with pytest.raises(WarcDecodeError):
            warc_responses(encode_warc(self._recs(), compress=True)[:-8])  # truncated member
        with pytest.raises(WarcDecodeError):
            warc_responses(b"WARC/1.0\r\nWARC-Type: response\r\n\r\nx")  # no Content-Length


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

    def test_pdf_text_extract_matches_oracle(self, spark):
        from tesseract_glue_spark.operators.crawl import (
            pdf_text_extract_oracle_sql,
            pdf_text_extract_spark,
        )

        got = pdf_text_extract_spark(spark, SF_DIR).toPandas()
        exp = self._oracle(pdf_text_extract_oracle_sql())
        assert canonical_csv(got) == canonical_csv(exp)

    def test_pdf_spans_matches_oracle(self, spark):
        from tesseract_glue_spark.operators.crawl import (
            pdf_spans_oracle_sql,
            pdf_spans_spark,
        )

        got = pdf_spans_spark(spark, SF_DIR).toPandas()
        exp = self._oracle(pdf_spans_oracle_sql())
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

    def test_warc_queries_match_oracle(self, spark):
        from tesseract_glue_spark.operators.crawl import (
            warc_ingest_oracle_sql,
            warc_ingest_spark,
            warc_main_content_oracle_sql,
            warc_main_content_spark,
        )

        got = warc_ingest_spark(spark, SF_DIR).toPandas()
        exp = self._oracle(warc_ingest_oracle_sql())
        assert canonical_csv(got) == canonical_csv(exp)
        got = warc_main_content_spark(spark, SF_DIR).toPandas()
        exp = self._oracle(warc_main_content_oracle_sql())
        assert canonical_csv(got) == canonical_csv(exp)

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

    def test_pdf_decode_error_yields_placeholder_row(self, spark):
        from tesseract_glue_spark.operators.crawl import pdf_extract_text

        docs = spark.createDataFrame(
            [(1, bytearray(b"not a pdf")), (2, bytearray(encode_pdf([[(72, 700, "fine")]])))],
            schema="doc_id LONG, pdf BINARY",
        )
        rows = {r["doc_id"]: r for r in pdf_extract_text(docs).collect()}
        assert rows[1]["status"] == "decode_error" and rows[1]["page_no"] == 0
        assert rows[2]["status"] == "ok" and rows[2]["page_text"] == "fine"
