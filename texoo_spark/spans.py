"""Span operators: gazetteer matching, BIO2/BIOES tag algebra, range queries.

Pure Python/numpy; wrapped by pandas UDFs in udfs.py. References:
- MatchingAnnotator: texoo-entity-recognition/.../ner/MatchingAnnotator.java
- BIO2 decode: texoo-entity-recognition/.../ner/MentionAnnotation.java:226-272
- BIO2<->BIOES: texoo-core/.../model/tag/BIO2Tag.java:225-253,
  BIOESTag.java:286-326, validity BIOESTag.java:173-203
- span predicates: texoo-core/.../model/Annotation.java:111-158
- range queries: texoo-core/.../model/Document.java:156-174
"""

from __future__ import annotations

import re
from bisect import bisect_left, bisect_right

# ---------------------------------------------------------------------------
# Gazetteer matching (MatchingAnnotator)
# ---------------------------------------------------------------------------

_WORD4 = re.compile(r"\b\w{4,}\b", re.ASCII)
_UPPER = re.compile(r"^[A-Z0-9]+$")


def convert_to_lowercase(text: str) -> str:
    """Selective lowercasing: words of >=4 chars are lowered; all-caps words
    only when >=8 chars (so "UPS" never matches "ups").
    Mirrors MatchingAnnotator.convertToLowercase (java:169-183)."""
    def repl(m: re.Match) -> str:
        w = m.group()
        if _UPPER.match(w):
            return w.lower() if len(w) >= 8 else w
        return w.lower()
    return _WORD4.sub(repl, text)


class GazetteerMatcher:
    """Multi-term string matcher with the reference's exact semantics.

    Term preparation (MatchingAnnotator.convertTerms, java:80-106):
    - CASE_SENSITIVE: distinct terms in insertion order (no length filter)
    - LOWERCASE: filter len >= min_word_length, selective-lowercase each term,
      distinct, sorted by length descending (stable)

    Matching (java:200-230): scan the (possibly selectively-lowercased) text
    left-to-right; at each position emit the FIRST term in list order that
    matches, then skip past its end (non-overlap). This reproduces the
    reference finder's behavior including its documented "invalid
    LONGEST_MATCH" (insertion order wins in CASE_SENSITIVE; the length-desc
    sort makes LOWERCASE effectively longest-match). A match is kept only if
    it aligns exactly with token boundaries (java:235-239).
    """

    def __init__(self, terms: list[str], case_strategy: str = "CASE_SENSITIVE",
                 min_word_length: int = 3, label: str = "GENERIC"):
        self.case_strategy = case_strategy
        self.label = label
        if case_strategy == "LOWERCASE":
            seen, prepared = set(), []
            for t in terms:
                if len(t) >= min_word_length:
                    c = convert_to_lowercase(t)
                    if c not in seen:
                        seen.add(c)
                        prepared.append(c)
            prepared.sort(key=len, reverse=True)  # stable
        else:
            seen, prepared = set(), []
            for t in terms:
                if t not in seen:
                    seen.add(t)
                    prepared.append(t)
        self.terms = prepared
        # index terms by first char for fast candidate lookup, preserving
        # list order within each bucket
        self._by_first: dict[str, list[str]] = {}
        for t in self.terms:
            if t:
                self._by_first.setdefault(t[0], []).append(t)

    def find_raw(self, text: str) -> list[tuple[int, int, str]]:
        """Non-overlapping matches (begin, end, term) before boundary check."""
        if self.case_strategy == "LOWERCASE":
            text = convert_to_lowercase(text)
        out: list[tuple[int, int, str]] = []
        i, n = 0, len(text)
        by_first = self._by_first
        while i < n:
            cands = by_first.get(text[i])
            if cands:
                hit = None
                for t in cands:
                    if text.startswith(t, i):
                        hit = t
                        break
                if hit is not None:
                    out.append((i, i + len(hit), hit))
                    i += len(hit)
                    continue
            i += 1
        return out

    def match(self, text: str, tok_begins: list[int],
              tok_ends: list[int]) -> list[tuple[int, int, str]]:
        """Boundary-aligned matches (begin, end, label).

        Token-boundary rule (java:235-239): the tokens fully enclosed in
        [begin, end) must be non-empty, start exactly at begin and end
        exactly at end."""
        out = []
        for b, e, _term in self.find_raw(text):
            lo = bisect_left(tok_begins, b)
            hi = bisect_right(tok_ends, e)
            # tokens with begin>=b and end<=e: indices lo..hi-1 (offsets sorted)
            if lo < hi and tok_begins[lo] == b and tok_ends[hi - 1] == e:
                out.append((b, e, self.label))
        return out


# ---------------------------------------------------------------------------
# BIO2 / BIOES tag algebra
# ---------------------------------------------------------------------------

def decode_bio2(tags: list[str], types: list[str] | None,
                confidences: list[float] | None,
                sent_bounds: list[int] | None = None,
                default_type: str = "GENERIC"
                ) -> list[tuple[int, int, str, float]]:
    """BIO2 token tags -> mention spans (tok_start, tok_end, type, confidence).

    I-after-O is treated as B; open spans flush at sentence ends; confidence
    is the mean of member-token confidences
    (MentionAnnotation.createFromBIO2Tags, java:226-272).

    sent_bounds: token indices where sentences end (exclusive); defaults to
    one sentence covering all tokens.
    """
    n = len(tags)
    types = types or [""] * n
    confidences = confidences or [0.0] * n
    bounds = set(sent_bounds or [n])
    spans: list[tuple[int, int, str, float]] = []
    start = -1
    conf = 0.0
    typ = default_type
    for i in range(n):
        tag = (tags[i] or "O")[0].upper()
        if start < 0:
            if tag in ("B", "I"):  # I after O treated as B
                start = i
                conf = confidences[i]
                typ = types[i] if types[i] else default_type
        else:
            if tag == "B":
                spans.append((start, i, typ, conf / (i - start)))
                start = i
                conf = confidences[i]
                typ = types[i] if types[i] else default_type
            elif tag == "I":
                conf += confidences[i]
            else:
                spans.append((start, i, typ, conf / (i - start)))
                start, conf, typ = -1, 0.0, default_type
        if i + 1 in bounds and start >= 0:
            spans.append((start, i + 1, typ, conf / (i + 1 - start)))
            start, conf, typ = -1, 0.0, default_type
    return spans


def bio2_to_bioes(tags: list[str]) -> list[str]:
    """Pairwise conversion over one sentence (BIO2Tag.convertToBIOES,
    java:225-253): decided from (current, next) pairs."""
    n = len(tags)
    out = []
    for i in range(n):
        cur = (tags[i] or "O")[0].upper()
        nxt = (tags[i + 1] or "O")[0].upper() if i + 1 < n else "O"
        if cur == "B":
            out.append("S" if nxt in ("B", "O") else "B")
        elif cur == "I":
            out.append("I" if nxt == "I" else "E")
        else:
            out.append("O")
    return out


def bioes_to_bio2(tags: list[str]) -> list[str]:
    """BIOESTag.convertToBIO2 (java:309-326): S,B->B; I,E->I; else O."""
    out = []
    for t in tags:
        c = (t or "O")[0].upper()
        out.append("B" if c in ("S", "B") else "I" if c in ("I", "E") else "O")
    return out


_BIOES_FORBIDDEN = {
    ("S", "E"), ("S", "I"), ("B", "B"), ("B", "O"), ("B", "S"),
    ("I", "B"), ("I", "O"), ("I", "S"), ("E", "E"), ("E", "I"),
    ("O", "I"), ("O", "E"),
}


def bioes_is_correct(tags: list[str]) -> bool:
    """Sequence validity with O-padded boundaries (BIOESTag.isCorrect,
    java:173-203)."""
    padded = ["O"] + [(t or "O")[0].upper() for t in tags] + ["O"]
    return all((a, b) not in _BIOES_FORBIDDEN
               for a, b in zip(padded, padded[1:]))


def spans_to_bioes(n_tokens: int,
                   spans: list[tuple[int, int]]) -> list[str]:
    """Token-range spans -> BIOES tags (createBIOESTagsFromAnnotations,
    MentionAnnotation.java:285-299)."""
    tags = ["O"] * n_tokens
    for s, e in spans:
        if e - s <= 0:
            continue
        if e - s == 1:
            tags[s] = "S"
        else:
            tags[s] = "B"
            for i in range(s + 1, e - 1):
                tags[i] = "I"
            tags[e - 1] = "E"
    return tags


# ---------------------------------------------------------------------------
# Span predicates & range queries
# ---------------------------------------------------------------------------

def intersects(a_begin: int, a_end: int, b_begin: int, b_end: int) -> bool:
    """Annotation.intersects (java:111-115)."""
    return a_begin < b_end and a_end > b_begin


def contains(a_begin: int, a_end: int, b_begin: int, b_end: int) -> bool:
    """Annotation.contains (java:122-125)."""
    return a_begin <= b_begin and a_end >= b_end


def matches(a_begin: int, a_end: int, b_begin: int, b_end: int,
            match: str = "STRONG") -> bool:
    """Annotation.matches (java:143-158): STRONG = same begin and length;
    WEAK = any overlap (after Cornolti et al. 2013)."""
    if match == "STRONG":
        return a_begin == b_begin and a_end == b_end
    return intersects(a_begin, a_end, b_begin, b_end)


def spans_in_range(begins: list[int], ends: list[int], b: int, e: int,
                   enclosed: bool = True) -> list[int]:
    """Indices of spans in [b, e) with enclosed or boundary-expanding
    semantics (Document.streamSpansInRange, java:156-174)."""
    out = []
    for i, (sb, se) in enumerate(zip(begins, ends)):
        if enclosed:
            if sb >= b and se <= e:
                out.append(i)
        else:
            if ((sb <= b and se > b)
                    or (sb >= b and se <= e and b != e)
                    or (sb < e and se >= e)):
                out.append(i)
    return out
