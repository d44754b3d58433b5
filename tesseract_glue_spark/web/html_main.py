"""DOM-heuristic main-content extraction (boilerpipe/Readability-style).

One tokenizer pass (``web/html_fast.py``) segments the document into
text *blocks* at block-level tag boundaries, collecting per-block
features (raw char count, chars inside ``<a>``, owning tag, whether the
block sits inside semantic chrome like ``<nav>``/``<footer>``). A
deterministic classifier then labels each block content vs boilerplate:

* blocks inside ``nav/header/footer/aside`` are boilerplate (semantic
  chrome — the DOM told us);
* blocks whose link density (``link_chars / chars``) exceeds
  ``MAX_LINK_DENSITY`` are boilerplate (link lists: menus, share bars,
  related-article widgets);
* heading blocks (``h1``–``h6``) that survive both rules are content
  regardless of length (headlines are short by nature);
* other blocks need ``>= MIN_CONTENT_CHARS`` normalized chars;
* one *sandwich* pass promotes a short low-link block wedged between
  two content blocks (caption / pull-quote between paragraphs — the
  classic boilerpipe neighbour rule).

``script``/``style``/``noscript``/``template``/``head``/``svg``/
``iframe`` subtrees contribute no text; character references are
decoded; whitespace is collapsed per block. The classifier is
rule-based and deterministic, so ``extract_web_flat``'s expected output
is SQL-derivable (see ``operators/web.py``).

Reference parity note: the reference tool (Tesseract_Glue) has no HTML
path — this module is the round-3 ``north_rule`` surface ("HTML
boilerplate strip, DOM heuristics") built Spark-first from scratch.
"""

from __future__ import annotations

from dataclasses import dataclass
from html.parser import HTMLParser

# Tags that OPEN/CLOSE a text block. (Inline tags — a, span, b, i, em,
# strong, code, … — flow into the enclosing block.)
BLOCK_TAGS = frozenset(
    {
        "p", "div", "h1", "h2", "h3", "h4", "h5", "h6", "li", "td", "th",
        "tr", "ul", "ol", "table", "pre", "blockquote", "article",
        "section", "main", "figcaption", "figure", "dd", "dt", "dl",
        "body", "form", "fieldset",
    }
)
HEADING_TAGS = frozenset({"h1", "h2", "h3", "h4", "h5", "h6"})
# Semantic chrome: everything inside is boilerplate by construction.
CHROME_TAGS = frozenset({"nav", "header", "footer", "aside"})
# Subtrees that contribute no visible text at all.
SKIP_TAGS = frozenset({"script", "style", "noscript", "template", "head", "svg", "iframe"})

MIN_CONTENT_CHARS = 25
MAX_LINK_DENSITY = 1.0 / 3.0

LABEL_CONTENT = "content"
LABEL_CHROME = "chrome"
LABEL_LINKY = "linky"
LABEL_SHORT = "short"


@dataclass
class Block:
    text: str          # whitespace-collapsed visible text
    raw_chars: int     # pre-collapse char count (density denominator)
    link_chars: int    # pre-collapse chars inside <a> subtrees
    tag: str           # owning block tag at flush time
    chrome: bool       # inside nav/header/footer/aside
    label: str = ""

    @property
    def link_density(self) -> float:
        return self.link_chars / self.raw_chars if self.raw_chars else 0.0


class _SegmenterMixin:
    """The block state machine, parser-agnostic: driven either by
    stdlib ``html.parser`` (reference) or the fast regex tokenizer
    (production — ``web/html_fast.py``). Tolerant of malformed markup;
    depth counters are clamped at zero so stray close tags cannot
    corrupt state."""

    def _init_state(self) -> None:
        self.blocks: list[Block] = []
        self._parts: list[str] = []
        self._raw = 0
        self._link = 0
        self._skip = 0
        self._chrome = 0
        self._a = 0
        self._tag = "body"

    def _flush(self) -> None:
        text = " ".join("".join(self._parts).split())
        if text:
            self.blocks.append(
                Block(
                    text=text,
                    raw_chars=self._raw,
                    link_chars=self._link,
                    tag=self._tag,
                    chrome=self._chrome > 0,
                )
            )
        self._parts, self._raw, self._link = [], 0, 0

    def handle_starttag(self, tag: str, attrs) -> None:
        if tag in SKIP_TAGS:
            self._skip += 1
        elif tag in CHROME_TAGS:
            self._flush()
            self._chrome += 1
        elif tag in BLOCK_TAGS:
            self._flush()
            self._tag = tag
        elif tag == "a":
            self._a += 1
        elif tag == "br":
            self._parts.append(" ")

    def handle_startendtag(self, tag: str, attrs) -> None:
        if tag == "br":
            self._parts.append(" ")
        elif tag in BLOCK_TAGS or tag in CHROME_TAGS:
            self._flush()

    def handle_endtag(self, tag: str) -> None:
        if tag in SKIP_TAGS:
            self._skip = max(0, self._skip - 1)
        elif tag in CHROME_TAGS:
            self._flush()
            self._chrome = max(0, self._chrome - 1)
        elif tag in BLOCK_TAGS:
            self._flush()
            self._tag = "div"  # heading identity does not outlive its close tag
        elif tag == "a":
            self._a = max(0, self._a - 1)

    def handle_data(self, data: str) -> None:
        if self._skip or not data:
            return
        self._parts.append(data)
        self._raw += len(data)
        if self._a:
            self._link += len(data)


class _BlockParser(_SegmenterMixin, HTMLParser):
    """Reference implementation on stdlib html.parser — kept for the
    differential test that pins the fast tokenizer's semantics."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self._init_state()


class _FastBlockParser(_SegmenterMixin):
    """Production implementation: same state machine, fed by the
    single-regex-scan tokenizer (~5× the stdlib path — BENCH.md §3)."""

    def __init__(self) -> None:
        self._init_state()


def _parse(html: str, reference: bool = False):
    from tesseract_glue_spark.web.html_fast import feed_tokens

    if reference:
        p = _BlockParser()
        p.feed(html or "")
        p.close()
    else:
        p = _FastBlockParser()
        feed_tokens(p, html or "")
    p._flush()
    return p


def segment_blocks(html: str) -> list[Block]:
    """Parse HTML into classified text blocks (document order)."""
    blocks = _parse(html).blocks
    for b in blocks:
        if b.chrome:
            b.label = LABEL_CHROME
        elif b.link_density > MAX_LINK_DENSITY:
            b.label = LABEL_LINKY
        elif b.tag in HEADING_TAGS or len(b.text) >= MIN_CONTENT_CHARS:
            b.label = LABEL_CONTENT
        else:
            b.label = LABEL_SHORT
    # sandwich promotion: short low-link block between two content blocks
    for i in range(1, len(blocks) - 1):
        if (
            blocks[i].label == LABEL_SHORT
            and blocks[i - 1].label == LABEL_CONTENT
            and blocks[i + 1].label == LABEL_CONTENT
        ):
            blocks[i].label = LABEL_CONTENT
    return blocks


def extract_main(html: str) -> str:
    """Main text of one document: its content blocks joined by ``\\n``
    ('' for an empty or null page)."""
    return "\n".join(b.text for b in segment_blocks(html) if b.label == LABEL_CONTENT)
