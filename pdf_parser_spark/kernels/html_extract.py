"""HTML main-content extraction — the north-rule HTML path
(BASELINE.json north_star: "DOM-tree text-density boilerplate stripping and
link-density heuristics"). From scratch on stdlib ``html.parser`` (no
lxml/bs4 in the sandbox, SURVEY.md §7.0).

Algorithm (deterministic, pinned by tests):
1. Parse the byte stream as UTF-8 (errors -> error row upstream).
2. Segment character data into BLOCKS at block-level tag boundaries.
3. Drop text inside non-content containers (script/style/noscript/
   template/nav/header/footer/aside/form/button/select).
4. Per block track total chars and anchor chars (text inside <a>).
5. A block is MAIN CONTENT iff it is outside all non-content containers,
   its link density (anchor_chars / chars) <= LINK_DENSITY_MAX, and its
   normalized length >= MIN_BLOCK_CHARS (text-density floor).
6. Output: content blocks, whitespace-normalized, joined by "\\n\\n".

This is the same family of heuristics as the text-density/link-density
line of boilerplate-removal literature (CETR / boilerpipe-style), chosen
because it is expressible as one pure function per document and therefore
vectorizes batch-wise under Arrow.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from html.parser import HTMLParser

LINK_DENSITY_MAX = 0.35
MIN_BLOCK_CHARS = 25

BLOCK_TAGS = {
    "address", "article", "blockquote", "div", "dl", "dd", "dt", "fieldset",
    "figure", "figcaption", "h1", "h2", "h3", "h4", "h5", "h6", "hr", "li",
    "main", "ol", "p", "pre", "section", "table", "tbody", "td", "th", "tr",
    "ul", "body",
}
NON_CONTENT_TAGS = {
    "script", "style", "noscript", "template", "nav", "header", "footer",
    "aside", "form", "button", "select", "iframe", "svg", "head",
}
VOID_TAGS = {
    "area", "base", "br", "col", "embed", "hr", "img", "input", "link",
    "meta", "param", "source", "track", "wbr",
}

_WS = re.compile(r"\s+")


def _norm(s: str) -> str:
    return _WS.sub(" ", s).strip()


@dataclass
class Block:
    chars: list[str] = field(default_factory=list)
    anchor_len: int = 0
    boiler: bool = False

    @property
    def text(self) -> str:
        return "".join(self.chars)


@dataclass
class HtmlResult:
    text: str
    title: str


class _Extractor(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.blocks: list[Block] = [Block()]
        self.boiler_depth = 0
        self.anchor_depth = 0
        self.in_title = False
        self.title_parts: list[str] = []

    def _break_block(self) -> None:
        if self.blocks[-1].chars:
            self.blocks.append(Block())
        else:
            # reuse the empty trailing block but refresh its boiler flag
            self.blocks[-1].boiler = self.boiler_depth > 0
            self.blocks[-1].anchor_len = 0

    def handle_starttag(self, tag: str, attrs) -> None:
        if tag == "title":
            self.in_title = True
        if tag in NON_CONTENT_TAGS:
            self.boiler_depth += 1
            self._break_block()
        elif tag in BLOCK_TAGS:
            self._break_block()
        if tag == "a":
            self.anchor_depth += 1

    def handle_endtag(self, tag: str) -> None:
        if tag == "title":
            self.in_title = False
        if tag in NON_CONTENT_TAGS:
            # tolerate stray close tags (malformed HTML hazard)
            self.boiler_depth = max(0, self.boiler_depth - 1)
            self._break_block()
        elif tag in BLOCK_TAGS:
            self._break_block()
        if tag == "a":
            self.anchor_depth = max(0, self.anchor_depth - 1)

    def handle_data(self, data: str) -> None:
        if self.in_title:
            self.title_parts.append(data)
            return
        blk = self.blocks[-1]
        if not blk.chars:
            blk.boiler = self.boiler_depth > 0
        blk.chars.append(data)
        if self.anchor_depth > 0:
            blk.anchor_len += len(data)


def extract_html(blob: bytes) -> HtmlResult:
    """Per-document extraction. Raises UnicodeDecodeError on non-UTF-8
    input — the caller maps it to an error row (never a job failure)."""
    text = blob.decode("utf-8")
    p = _Extractor()
    p.feed(text)
    p.close()

    content: list[str] = []
    for blk in p.blocks:
        if blk.boiler:
            continue
        raw = blk.text
        density = blk.anchor_len / max(1, len(raw.strip()))
        if density > LINK_DENSITY_MAX:
            continue
        norm = _norm(raw)
        if len(norm) < MIN_BLOCK_CHARS:
            continue
        content.append(norm)

    return HtmlResult(
        text="\n\n".join(content),
        title=_norm("".join(p.title_parts)),
    )
