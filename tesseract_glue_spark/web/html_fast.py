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
"""

from __future__ import annotations

import re
from html import unescape

# One token per scan step: comment | CDATA | doctype/PI | close tag |
# open tag (quoted attrs may contain '>'). Tags REQUIRE '>' — a '<'
# that never closes is emitted as literal data, one char at a time.
_TAG_RE = re.compile(
    r"<!--.*?-->"
    r"|<!\[CDATA\[.*?\]\]>"
    r"|<[!?][^>]*>"
    # whitespace is legal after '</' but NOT between '<' and a tag name
    # (stdlib treats '< b' as text) — keep that asymmetry exactly
    r"|</\s*([a-zA-Z][a-zA-Z0-9:_.-]*)[^>]*>"
    r"|<([a-zA-Z][a-zA-Z0-9:_.-]*)(?:\"[^\"]*\"|'[^']*'|[^>\"'])*?(/?)\s*>",
    re.DOTALL,
)
_CDATA_CLOSE = {
    "script": re.compile(r"</\s*script[^>]*>", re.IGNORECASE | re.DOTALL),
    "style": re.compile(r"</\s*style[^>]*>", re.IGNORECASE | re.DOTALL),
}


def feed_tokens(sink, html: str) -> None:
    """Drive a segmenter-state sink (handle_starttag / handle_endtag /
    handle_startendtag / handle_data) over ``html`` with one regex scan.

    Tags are delivered with no attributes (the segmenter reads none) —
    attr parsing for every tag is what makes the stdlib path slow."""
    pos = 0
    n = len(html)
    while pos < n:
        lt = html.find("<", pos)
        if lt < 0:
            data = html[pos:]
            sink.handle_data(unescape(data) if "&" in data else data)
            break
        if lt > pos:
            data = html[pos:lt]
            sink.handle_data(unescape(data) if "&" in data else data)
        m = _TAG_RE.match(html, lt)
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
            continue  # comment / CDATA / doctype / PI
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
            cm = cdata.search(html, pos)
            if cm is None:
                sink.handle_endtag(tag)
                break
            pos = cm.end()
            sink.handle_endtag(tag)

