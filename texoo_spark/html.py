"""HTML boilerplate stripping and main-content extraction.

Net-new vs the reference (which has no HTML parser — SURVEY.md §2.7);
built from the published text-density / link-density literature
(Boilerpipe: Kohlschütter et al., WSDM 2011; CETD: Sun et al., SIGIR 2011):

1. regex-tokenize HTML into tags and text nodes (no external parser),
2. segment into blocks at block-level tags, tracking container context
   (nav/header/footer/aside/form => boilerplate containers),
3. score each block: word count, link density (chars inside <a> / chars),
   tag density (tags per word),
4. keep content blocks: not inside a boilerplate container, link density
   <= 0.33, and either >= 10 words or a low-tag-density continuation of an
   accepted neighbor (Boilerpipe NumWords/LinkDensity classifier shape).

Output main text joins kept blocks with '\n' so the downstream sentence
detector (textops) treats block boundaries as sentence breaks — spans stay
offset-faithful to the extracted text.

Pure Python, deterministic; the extraction kernel (arrow_extract.py)
calls it per turn, and udfs.strip_html_text_udf wraps it for SQL use.
"""

from __future__ import annotations

import html as _html
import re
from dataclasses import dataclass, field

_TAG = re.compile(r"<[^>]+>")
# same token boundaries as _TAG but with (closing-slash, name) captured, so
# the hot loop never re-parses the tag string (_tag_name kept for API use).
# The lookahead requires at least one non-'>' char, so a literal '<>' in
# body text stays text exactly as under _TAG ('<[^>]+>').
_TAG_NAMED = re.compile(r"<(?=[^>])\s*(/?)\s*([a-zA-Z][a-zA-Z0-9-]*)?[^>]*>")
_SCRIPT = re.compile(r"<(script|style|noscript|svg|template)\b.*?</\1\s*>",
                     re.IGNORECASE | re.DOTALL)
_COMMENT = re.compile(r"<!--.*?-->", re.DOTALL)
_DOCTYPE = re.compile(r"<!DOCTYPE[^>]*>", re.IGNORECASE)
_WS = re.compile(r"\s+")

BLOCK_TAGS = frozenset([
    "p", "div", "h1", "h2", "h3", "h4", "h5", "h6", "li", "ul", "ol",
    "table", "tr", "td", "th", "br", "hr", "section", "article", "main",
    "header", "footer", "nav", "aside", "blockquote", "pre", "title",
    "figure", "figcaption", "form", "body", "html", "head", "dd", "dt", "dl",
])

# containers whose entire subtree is boilerplate
BOILERPLATE_CONTAINERS = frozenset([
    "nav", "header", "footer", "aside", "form", "head",
])

MAX_LINK_DENSITY = 0.33
MIN_WORDS = 10
MIN_WORDS_CONTINUATION = 3


@dataclass
class Block:
    words: int = 0
    chars: int = 0
    link_chars: int = 0
    tags: int = 0
    in_boiler: bool = False
    parts: list = field(default_factory=list)

    @property
    def text(self) -> str:
        return " ".join(self.parts)

    @property
    def link_density(self) -> float:
        return self.link_chars / self.chars if self.chars else 0.0

    @property
    def tag_density(self) -> float:
        return self.tags / self.words if self.words else float(self.tags)


def _tag_name(tag: str) -> tuple[str, bool]:
    """(name, is_closing) for a raw '<...>' string."""
    inner = tag[1:-1].strip()
    closing = inner.startswith("/")
    if closing:
        inner = inner[1:]
    name = re.split(r"[\s/>]", inner, 1)[0].lower()
    return name, closing


def segment_blocks(html_text: str) -> list[Block]:
    """Tokenize HTML and segment into scored text blocks."""
    html_text = _SCRIPT.sub(" ", html_text)
    html_text = _COMMENT.sub(" ", html_text)
    html_text = _DOCTYPE.sub(" ", html_text)

    blocks: list[Block] = []
    cur = Block()
    link_depth = 0
    boiler_depth = 0
    pos = 0

    def flush():
        nonlocal cur
        if cur.parts:
            blocks.append(cur)
        cur = Block(in_boiler=boiler_depth > 0)

    for m in _TAG_NAMED.finditer(html_text):
        text = html_text[pos:m.start()]
        pos = m.end()
        if text and not text.isspace():
            clean = _WS.sub(" ", _html.unescape(text)).strip()
            if clean:
                cur.parts.append(clean)
                n = len(clean)
                cur.chars += n
                cur.words += clean.count(" ") + 1
                if link_depth > 0:
                    cur.link_chars += n
                if boiler_depth > 0:
                    cur.in_boiler = True
        closing = m.group(1) == "/"
        name = (m.group(2) or "").lower()
        if name == "a":
            link_depth = max(0, link_depth - 1) if closing else link_depth + 1
            cur.tags += 1
        elif name in BLOCK_TAGS:
            flush()
            if name in BOILERPLATE_CONTAINERS:
                boiler_depth = max(0, boiler_depth - 1) if closing \
                    else boiler_depth + 1
                cur.in_boiler = boiler_depth > 0
        else:
            cur.tags += 1
    tail = html_text[pos:]
    if tail and not tail.isspace():
        clean = _WS.sub(" ", _html.unescape(tail)).strip()
        if clean:
            cur.parts.append(clean)
            cur.chars += len(clean)
            cur.words += clean.count(" ") + 1
    flush()
    return blocks


def classify_blocks(blocks: list[Block]) -> list[bool]:
    """Content/boilerplate decision per block."""
    keep = [False] * len(blocks)
    for i, b in enumerate(blocks):
        if b.in_boiler or b.link_density > MAX_LINK_DENSITY:
            continue
        if b.words >= MIN_WORDS:
            keep[i] = True
    # continuation pass: short low-link blocks adjacent to kept content
    changed = True
    while changed:
        changed = False
        for i, b in enumerate(blocks):
            if keep[i] or b.in_boiler or b.link_density > MAX_LINK_DENSITY:
                continue
            if b.words >= MIN_WORDS_CONTINUATION and (
                    (i > 0 and keep[i - 1]) or
                    (i + 1 < len(blocks) and keep[i + 1])):
                keep[i] = True
                changed = True
    return keep


def strip_html(html_text: str) -> dict:
    """Main-content extraction; returns text + provenance counters."""
    if "<" not in (html_text or ""):
        t = (html_text or "").strip()
        return {"main_text": t, "n_blocks": 1 if t else 0,
                "kept_blocks": 1 if t else 0,
                "link_chars": 0, "total_chars": len(t)}
    blocks = segment_blocks(html_text)
    keep = classify_blocks(blocks)
    kept = [b.text for b, k in zip(blocks, keep) if k]
    return {
        "main_text": "\n".join(kept),
        "n_blocks": len(blocks),
        "kept_blocks": sum(keep),
        "link_chars": sum(b.link_chars for b in blocks),
        "total_chars": sum(b.chars for b in blocks),
    }


def looks_like_html(text: str) -> bool:
    return bool(text) and "<" in text and bool(
        re.search(r"<(html|body|div|p|a|ul|li|table|h[1-6])\b", text,
                  re.IGNORECASE))
