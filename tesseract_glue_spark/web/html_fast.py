"""Fast HTML tokenizer for the block segmenter — one compiled-regex
scan instead of stdlib ``html.parser``'s char-by-char ``goahead`` loop
(measured ~5× on the synthetic page corpus; the stdlib machinery was
95% of the strip kernel's 209 µs/parse profile).

Semantics match :class:`tesseract_glue_spark.web.html_main._BlockParser`
for everything the segmenter state machine observes — tag names
lowercased, self-closing flag, character references decoded in data,
script/style contents skipped as CDATA; no attribute is parsed, since
the segmenter reads none — and a differential test in
``tests/test_web.py`` asserts block equality against the stdlib
implementation on handwritten and hypothesis-generated markup. EOF
recovery on TRUNCATED constructs (unclosed tag or comment at end of
input) is tolerant but may split data differently from the stdlib
parser; neither raises.

Linear in the input length, hostile markup included
(``tests/test_web.py::TestTokenizerTime``): no failed match attempt
reads far ahead again at every '<'.
"""

from __future__ import annotations

import re
from bisect import bisect_left
from html import unescape
from string import ascii_letters

# One token per scan step after a '<' that opens no comment or CDATA
# section (feed_tokens finds those with str.find): doctype/PI | close
# tag | open tag (quoted attrs may contain '>'). Tags REQUIRE '>' — a
# '<' that never closes is emitted as literal data, one char at a time.
# Repeats are possessive: a failed attempt does not retry the runs its
# parts overlap on (whitespace, name chars).
_TAG_RE = re.compile(
    r"<[!?][^>]*+>"
    # whitespace is legal after '</' but NOT between '<' and a tag name
    # (stdlib treats '< b' as text) — keep that asymmetry exactly
    r"|</\s*+([a-zA-Z][a-zA-Z0-9:_.-]*+)[^>]*+>"
    r"|<([a-zA-Z][a-zA-Z0-9:_.-]*+)"
    r"(?:\"[^\"]*+\"|'[^']*+'|[^>\"'/]++|/(?!\s*+>))*+(/?)\s*+>",
    re.DOTALL,
)
_LETTERS = frozenset(ascii_letters)
_ATTR_STOP = re.compile(r"[>\"']")
_CDATA_CLOSE = {
    "script": re.compile(r"</\s*script[^>]*>", re.IGNORECASE | re.DOTALL),
    "style": re.compile(r"</\s*style[^>]*>", re.IGNORECASE | re.DOTALL),
}


def _open_tag_closes(html: str, end: int) -> tuple[list[int], list[bool]]:
    """The positions of '>', '"' and "'" before ``end`` (where an open
    tag's attribute scan stops), and for each whether a scan reaching it
    ends at a '>' (True) or at a quote that never closes (False:
    ``_TAG_RE`` fails). An open tag at ``lt`` matches iff the entry of
    the first of them at or after ``lt`` is True. A quote's scan goes on
    after its closing quote, itself a stop; the last stop is a '>'."""
    stops = [m.start() for m in _ATTR_STOP.finditer(html, 0, end)]
    closes = [True] * len(stops)
    next_quote = {'"': -1, "'": -1}
    for k in range(len(stops) - 1, -1, -1):
        c = html[stops[k]]
        if c != ">":
            j = next_quote[c]
            closes[k] = j >= 0 and closes[j + 1]
            next_quote[c] = k
    return stops, closes


def feed_tokens(sink, html: str) -> None:
    """Drive a segmenter-state sink (handle_starttag / handle_endtag /
    handle_startendtag / handle_data) over ``html`` with one regex scan.

    Tags are delivered with no attributes (the segmenter reads none) —
    attr parsing for every tag is what makes the stdlib path slow.
    Every token ends in '>', so the rest past the last '>' is data; a
    comment or CDATA section opens only if its closer follows; after an
    open tag fails, :func:`_open_tag_closes` tells which others would."""
    n = len(html)
    end = html.rfind(">") + 1
    last_comment = html.rfind("-->", 0, end)
    last_cdata = html.rfind("]]>", 0, end)
    stops = closes = None
    pos = 0
    while pos < n:
        lt = html.find("<", pos, end)
        if lt < 0:
            data = html[pos:]
            sink.handle_data(unescape(data) if "&" in data else data)
            break
        if lt > pos:
            data = html[pos:lt]
            sink.handle_data(unescape(data) if "&" in data else data)
        # lt < end - 1: the char after '<' exists
        if html[lt + 1] == "!":
            if html.startswith("<!--", lt) and lt + 4 <= last_comment:
                pos = html.find("-->", lt + 4) + 3
                continue
            if html.startswith("<![CDATA[", lt) and lt + 9 <= last_cdata:
                pos = html.find("]]>", lt + 9) + 3
                continue
        if closes is None:
            m = _TAG_RE.match(html, lt, end)
            if m is None and html[lt + 1] in _LETTERS:
                stops, closes = _open_tag_closes(html, end)
        elif html[lt + 1] in _LETTERS and not closes[bisect_left(stops, lt)]:
            m = None
        else:
            m = _TAG_RE.match(html, lt, end)
        if m is None:
            sink.handle_data("<")
            pos = lt + 1
            continue
        pos = m.end()
        close, name, selfclose = m.groups()
        if close is not None:
            sink.handle_endtag(close.lower())
            continue
        if name is None:
            continue  # doctype / PI
        tag = name.lower()
        if selfclose:
            sink.handle_startendtag(tag, ())
            continue
        sink.handle_starttag(tag, ())
        cdata = _CDATA_CLOSE.get(tag)
        if cdata is not None:
            # script/style: raw text until the matching close tag (or
            # EOF); contents are never delivered — the segmenter skips
            # them anyway, so skipping here is both faster and safe
            cm = cdata.search(html, pos, end)
            if cm is None:
                sink.handle_endtag(tag)
                break
            pos = cm.end()
            sink.handle_endtag(tag)
