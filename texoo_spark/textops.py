"""Deterministic text segmentation core (no Spark imports).

Reimplements the reference engine's extraction semantics as plain Python /
regex routines designed to run inside Arrow-batched Python UDFs:

- whitespace pre-tokenization with forced single-char tokens
  (ref: texoo-core/.../preprocess/TokenizerMENL.java:89-129)
- rule-based token refinement replacing the OpenNLP MaxEnt char-split model,
  gated on alphanumeric-only tokens and the abbreviation lists
  (ref: TokenizerMENL.java:131-179); the rules are chosen to reproduce the
  reference's JUnit fixtures exactly (DocumentFactoryTest, DocumentModelTest)
- newline-aware sentence boundary detection with the exact candidate-skip,
  break-acceptability, span-trim and position rules of
  texoo-core/.../preprocess/SentenceDetectorMENL.java:65-233
- document assembly with Newlines.KEEP / DISCARD offset algebra
  (ref: texoo-core/.../preprocess/DocumentFactory.java:228-267)
- offset-faithful text reconstruction
  (ref: texoo-core/.../common/WordHelpers.java:113-137)

Every function here is pure and deterministic. ``extract_arrays_lean`` is
the one segmentation core: the Arrow-batched kernel (arrow_extract.py) and
the fused gazetteer count UDF call it for every text. ``extract_arrays``
(and its object form ``extract_document``) is the independent reference
twin the tests compare the core against; the maxent lane runs it with the
real OpenNLP models.
"""

from __future__ import annotations

import re
from typing import NamedTuple

from texoo_spark.abbrev import ABBREVIATIONS, ends_with_abbreviation


class Token(NamedTuple):
    text: str
    begin: int
    end: int


class SentenceSpan(NamedTuple):
    begin: int       # char offset of first token
    end: int         # char offset end of last token (end-exclusive)
    tok_start: int   # index range into the flat token list
    tok_end: int     # end-exclusive


class ExtractedDoc(NamedTuple):
    tokens: list[Token]
    sentences: list[SentenceSpan]
    text: str        # offset-faithful reconstruction


# ---------------------------------------------------------------------------
# Stage (a): whitespace pre-tokenizer with forced single-char tokens
# ---------------------------------------------------------------------------

# Runs of non-whitespace excluding forced singles, OR one forced single.
# \n is whitespace to \s but must become its own token; " ( ) [ ] { } are
# always single-char tokens (TokenizerMENL.java:99).
_PRETOK = re.compile(r'[^\s"()\[\]{}]+|[\n"()\[\]{}]')

# alphanumeric-only tokens bypass refinement (OpenNLP useAlphaNumericOptimization
# with the default ASCII pattern, TokenizerMENL.java:146)
_ALNUM = re.compile(r"[A-Za-z0-9]+\Z")

# English clitics split off by the trained tokenizer ("Python's" -> Python 's)
_CLITICS = ("'s", "'S", "'re", "'RE", "'ve", "'VE", "'ll", "'LL",
            "'d", "'D", "'m", "'M", "n't", "N'T")

# punctuation peeled one char at a time from token edges
_PEEL_TRAILING = set(",.;:!?'\"%")
_PEEL_LEADING = set("'\"")


def pre_tokenize(text: str) -> list[tuple[int, int]]:
    """Whitespace tokenization returning (begin, end) spans.

    Newlines and each of "()[]{}  become single-char tokens; all other
    whitespace separates tokens (TokenizerMENL.java:89-129). NBSP and other
    unicode space separators count as whitespace, matching OpenNLP's
    StringUtil.isWhitespace.
    """
    return [m.span() for m in _PRETOK.finditer(text)]


def _refine_token(tok: str, begin: int, out: list[tuple[int, int]]) -> None:
    """Split one pre-token into final tokens, appending (begin, end) spans.

    Replaces the MaxEnt char-split model with deterministic rules:
    - length-1, alphanumeric-only, and known abbreviations stay whole
      (TokenizerMENL.java:139-151)
    - clitic suffixes ('s 're n't ...) split off
    - punctuation at token edges peels one char at a time, stopping when the
      remainder is a known abbreviation (keeps "etc." whole in "etc.,")
    - interior hyphens/slashes/digit-group separators never split
      ("Jones-Davies", "km/h", "1,007", "29.7" remain single tokens)

    Fast path: str.isalnum() (C speed) — anything alphanumeric-only has no
    peelable punctuation or clitics, so the outcome is identical to the
    reference's alphanumeric bypass for our rule set.
    """
    if len(tok) < 2 or tok.isalnum() or tok in ABBREVIATIONS:
        out.append((begin, begin + len(tok)))
        return
    # peel leading quote chars
    if tok[0] in _PEEL_LEADING:
        out.append((begin, begin + 1))
        _refine_token(tok[1:], begin + 1, out)
        return
    # clitics
    for suf in _CLITICS:
        if tok.endswith(suf) and len(tok) > len(suf):
            _refine_token(tok[:-len(suf)], begin, out)
            out.append((begin + len(tok) - len(suf), begin + len(tok)))
            return
    # trailing punctuation: find the longest peelable suffix such that each
    # intermediate remainder is not an abbreviation
    cut = len(tok)
    while cut > 1 and tok[cut - 1] in _PEEL_TRAILING:
        head = tok[:cut - 1]
        if head in ABBREVIATIONS or _is_decimal_edge(tok, cut - 1):
            break
        cut -= 1
    if cut == len(tok):
        out.append((begin, begin + len(tok)))
        return
    head = tok[:cut]
    if len(head) >= 2 and not _ALNUM.match(head) and head not in ABBREVIATIONS:
        # recurse for clitic+punct combinations like "Python's,"
        _refine_token(head, begin, out)
    else:
        out.append((begin, begin + cut))
    for i in range(cut, len(tok)):
        out.append((begin + i, begin + i + 1))


def _is_decimal_edge(tok: str, dot: int) -> bool:
    """True if tok[dot] is a separator between digits ("29.7", "1,007")."""
    return (tok[dot] in ".," and dot > 0 and dot + 1 < len(tok)
            and tok[dot - 1].isdigit() and tok[dot + 1].isdigit())


# Single-pass scanner fast path: alternative 1 is an ASCII-alnum run that is
# a COMPLETE pre-token (the boundary lookahead prevents matching a prefix of
# a mixed run like "don't"; no possessive group needed — the run class and
# the lookahead class are disjoint, so backtracking a shorter run can never
# satisfy the lookahead, keeping the alternative semantically atomic on any
# Python version), alternative 2 a forced single-char token, alternative 3
# (captured) any other pre-token run, which goes through _refine_token.
# Semantically identical to pre_tokenize + refine, but the dominant
# all-alphanumeric case allocates no substring and makes no call.
_TOKSCAN = re.compile(
    r'[A-Za-z0-9]+(?=[\s"()\[\]{}]|\Z)'
    r'|[\n"()\[\]{}]'
    r'|([^\s"()\[\]{}]+)')


def tokenize_pos(text: str) -> list[tuple[int, int]]:
    """Full tokenization of a sentence string -> (begin, end) spans.

    Mirrors TokenizerMENL.tokenizePosWithNewline (stage a + refinement).
    """
    begins: list[int] = []
    ends: list[int] = []
    tokenize_pos_range(text, 0, len(text), begins, ends)
    return list(zip(begins, ends))


def tokenize_pos_range(text: str, sb: int, se: int,
                       begins: list[int], ends: list[int]) -> None:
    """Tokenize text[sb:se], appending spans in DOC coordinates to begins/
    ends, without allocating the sentence substring (re pos/endpos
    scanning: lookaheads and \\Z see text[sb:se] alone)."""
    abbrevs = ABBREVIATIONS
    ba = begins.append
    ea = ends.append
    for m in _TOKSCAN.finditer(text, sb, se):
        if m.lastindex is None:
            b, e = m.span()
            ba(b)
            ea(e)
        else:
            tok = m[1]
            if len(tok) < 2 or tok.isalnum() or tok in abbrevs:
                b, e = m.span()
                ba(b)
                ea(e)
            else:
                out: list[tuple[int, int]] = []
                _refine_token(tok, m.start(), out)
                for b, e in out:
                    ba(b)
                    ea(e)


# ---------------------------------------------------------------------------
# Sentence boundary detection
# ---------------------------------------------------------------------------

_EOS = ".!?\n"
_EOS_RE = re.compile(r"[.!?\n]")
_OPENERS = set("\"'([{" + "“‘")


def _first_ws(s: str, pos: int) -> int:
    n = len(s)
    while pos < n and not s[pos].isspace():
        pos += 1
    return pos


def _first_non_ws(s: str, pos: int) -> int:
    n = len(s)
    while pos < n and s[pos].isspace():
        pos += 1
    return pos


def _split_decision(s: str, cint: int) -> bool:
    """Deterministic stand-in for the sentence MaxEnt model at candidate cint.

    Decisions reproduce the reference model's behavior on the bundled
    fixtures (DocumentFactoryTest.java:38-127):
    - multi-dot runs ("...", "....") never split, even before capitals
    - decimals/intra-word dots never split ("29.7", "example.com")
    - short digit-only enumerations never split ("1. Adaptive stage.")
    - otherwise split iff the next non-whitespace char opens a new sentence
      (uppercase letter or opening quote/bracket)
    """
    c = s[cint]
    n = len(s)
    if c == ".":
        if cint > 0 and s[cint - 1] == ".":
            return False
        if cint + 1 < n and (s[cint + 1].isalnum()):
            return False
        # enumeration: preceding word is 1-2 digits
        w = cint - 1
        while w >= 0 and not s[w].isspace():
            w -= 1
        word = s[w + 1:cint]
        if word.isdigit() and len(word) <= 2:
            return False
    k = _first_non_ws(s, cint + 1)
    if k >= n:
        return True
    ch = s[k]
    return ch.isupper() or ch in _OPENERS


def _is_acceptable_break(s: str, from_index: int, cint: int) -> bool:
    """Reject breaks whose running segment ends with an abbreviation.

    Mirrors SentenceDetectorMENL.isAcceptableBreak (java:214-221).
    """
    if len(s) < cint - 1:
        return True
    return not ends_with_abbreviation(s[from_index:cint + 1])


def _trim_span(s: str, start: int, end: int) -> tuple[int, int]:
    """Trim whitespace but keep trailing newlines
    (SentenceDetectorMENL.trimSpan, java:178-198)."""
    ns = start
    while ns < end and s[ns].isspace():
        ns += 1
    ne = end
    while ne > start and s[ne - 1].isspace() and s[ne - 1] != "\n":
        ne -= 1
    if ns == start and ne == end:
        return start, end
    if ns > ne:
        return start, start
    return ns, ne


def sent_pos_detect(s: str,
                    decision=None) -> list[tuple[int, int]]:
    """Sentence spans of ``s`` (begin, end-exclusive), whitespace-trimmed but
    keeping trailing newlines.

    Control flow mirrors SentenceDetectorMENL.sentPosDetect (java:65-175):
    candidate enumeration over . ! ? \\n, skip of non-token-final delimiters,
    newline => forced split, useTokenEnd position advance, leftover span.

    ``decision(s, cint) -> bool`` replaces the rule-based stand-in for the
    sentence model when given (maxent.maxent_split_decision plugs in the
    reference's real OpenNLP model); the newline overrides of the
    reference (java:86-88) apply either way.
    """
    decide = decision or _split_decision
    enders = [m.start() for m in _EOS_RE.finditer(s)]
    positions: list[int] = []
    index = 0
    n_enders = len(enders)
    for i, cint in enumerate(enders):
        fws = _first_ws(s, cint + 1)
        # skip leading parts of non-token-final delimiter runs ("e.g" dots)
        if s[cint] != "\n" and i + 1 < n_enders and enders[i + 1] < fws:
            continue
        if positions and cint < positions[-1]:
            continue
        outcome = decide(s, cint)
        if decision is not None:
            # model-lane newline override (java:86-88): a candidate whose
            # next non-WS char is a newline never splits here
            nint = _first_non_ws(s, cint + 1)
            if nint < len(s) and s[nint] == "\n":
                outcome = False
        if s[cint] == "\n":
            outcome = True
        if outcome and _is_acceptable_break(s, index, cint):
            if index != cint:
                if s[cint] != "\n":
                    positions.append(_first_non_ws(s, _first_ws(s, cint + 1)))
                else:
                    positions.append(_first_non_ws(s, cint + 1))
            index = cint + 1

    if not positions:
        start, end = 0, len(s)
        while start < len(s) and s[start].isspace():
            start += 1
        while end > 0 and s[end - 1].isspace():
            end -= 1
        if end - start > 0:
            return [(start, end)]
        return []

    spans: list[tuple[int, int]] = []
    prev = 0
    for p in positions:
        b, e = _trim_span(s, prev, p)
        if e - b > 0:
            spans.append((b, e))
        prev = p
    if positions[-1] != len(s):
        b, e = _trim_span(s, positions[-1], len(s))
        if e - b > 0:
            spans.append((b, e))
    return spans


# ---------------------------------------------------------------------------
# Document assembly (Newlines.KEEP / DISCARD)
# ---------------------------------------------------------------------------

KEEP = "KEEP"
DISCARD = "DISCARD"

# any whitespace char that is not a plain ASCII space (incl. NBSP,  ...)
_NONSPACE_WS = re.compile(r"[^\S ]")


def extract_arrays_lean(text: str, newlines: str = DISCARD):
    """The segmentation core, the one routine production extraction calls.
    Returns (None, tok_begins, tok_ends, sentence_spans, extracted_text).

    Mirrors DocumentFactory.addToDocumentFromText (java:228-267) in position
    space: newline tokens are kept (KEEP) or dropped, shifting later offsets
    left by one per extra newline of a run that may span sentences (DISCARD,
    java:249-259). Plain-space text has no newline token, so its
    reconstruction is the input slice [first begin, last end) and no token
    surface is allocated; other text goes through _arrays_to_text."""
    ws = _NONSPACE_WS.search(text) is not None
    keep = newlines == KEEP
    texts: list[str] = []    # token surfaces, collected only when ws
    begins: list[int] = []
    ends: list[int] = []
    sentences: list[tuple[int, int, int, int]] = []
    count_newlines = 0
    nl_offset = 0
    for sb, se in sent_pos_detect(text):
        tok_start = len(begins)
        tokenize_pos_range(text, sb, se, begins, ends)
        if ws:
            # KEEP/DISCARD algebra over this sentence's tokens, in place
            w = tok_start
            for r in range(tok_start, len(begins)):
                b = begins[r]
                e = ends[r]
                if text[b] == "\n":
                    count_newlines += 1
                    if not keep:
                        if count_newlines > 1:
                            nl_offset += 1
                        continue
                else:
                    count_newlines = 0
                texts.append(text[b:e])
                begins[w] = b - nl_offset
                ends[w] = e - nl_offset
                w += 1
            del begins[w:]
            del ends[w:]
        n = len(begins)
        if n > tok_start:
            sentences.append((begins[tok_start], ends[-1], tok_start, n))
        else:
            sentences.append((0, 0, tok_start, tok_start))
    if ws:
        extracted = _arrays_to_text(texts, begins, ends,
                                    begins[0] if begins else 0)
    else:
        extracted = text[begins[0]:ends[-1]] if begins else ""
    return None, begins, ends, sentences, extracted


def extract_arrays(text: str, newlines: str = DISCARD,
                   tokenize=tokenize_pos, decision=None):
    """Reference twin of extract_arrays_lean for differential tests and
    the object form: the same algebra over sliced sentence and token
    surfaces, always reconstructed by _arrays_to_text. Returns (tok_texts,
    tok_begins, tok_ends, sentence_spans, extracted_text). ``tokenize``
    (sentence -> spans) and ``decision`` (see sent_pos_detect) swap in other
    models, as the maxent lane does with the OpenNLP ones."""
    keep = newlines == KEEP
    texts: list[str] = []
    begins: list[int] = []
    ends: list[int] = []
    sentences: list[tuple[int, int, int, int]] = []
    count_newlines = 0
    nl_offset = 0
    for sb, se in sent_pos_detect(text, decision):
        sent_text = text[sb:se]
        tok_start = len(texts)
        for tb, te in tokenize(sent_text):
            tok_text = sent_text[tb:te]
            if tok_text == "\n":
                count_newlines += 1
                if keep:
                    texts.append(tok_text)
                    begins.append(sb - nl_offset + tb)
                    ends.append(sb - nl_offset + te)
                elif count_newlines > 1:
                    nl_offset += 1
            else:
                texts.append(tok_text)
                begins.append(sb - nl_offset + tb)
                ends.append(sb - nl_offset + te)
                count_newlines = 0
        n = len(texts)
        if n > tok_start:
            sentences.append((begins[tok_start], ends[-1], tok_start, n))
        else:
            sentences.append((0, 0, tok_start, tok_start))
    extracted = _arrays_to_text(texts, begins, ends,
                                begins[0] if begins else 0)
    return texts, begins, ends, sentences, extracted


def _arrays_to_text(texts: list[str], begins: list[int], ends: list[int],
                    begin_offset: int) -> str:
    """tokens_to_text over parallel arrays (WordHelpers.java:113-137).
    Every caller passes surfaces with len(word) == end-begin, so the
    reference's truncate/pad branches are dropped; the gap/resync logic is
    kept in full."""
    parts: list[str] = []
    cursor = begin_offset
    for word, b, e in zip(texts, begins, ends):
        if cursor > b:
            parts.append(" ")
        elif cursor < b:
            parts.append(" " * (b - cursor))
        parts.append(word)
        cursor = e
    return "".join(parts)


def extract_document(text: str, newlines: str = DISCARD) -> ExtractedDoc:
    """Segment raw text into sentences and tokens with char offsets
    (object-form wrapper over the reference twin extract_arrays)."""
    texts, begins, ends, sents, extracted = extract_arrays(text, newlines)
    tokens = [Token(t, b, e) for t, b, e in zip(texts, begins, ends)]
    sentences = [SentenceSpan(*s) for s in sents]
    return ExtractedDoc(tokens, sentences, extracted)


# ---------------------------------------------------------------------------
# Text reconstruction (the correctness contract)
# ---------------------------------------------------------------------------

def tokens_to_text(tokens: list[Token], begin_offset: int) -> str:
    """Offset-faithful reconstruction (WordHelpers.tokensToText, java:113-137).

    Pads gaps with spaces; on offset conflicts emits one space and resyncs;
    token text is truncated or space-padded to exactly end-begin chars.
    """
    parts: list[str] = []
    cursor = begin_offset
    for t in tokens:
        if not t.text:
            continue
        if cursor > t.begin:
            parts.append(" ")
            cursor = t.begin
        if cursor < t.begin:
            parts.append(" " * (t.begin - cursor))
            cursor = t.begin
        length = t.end - t.begin
        word = t.text
        if length == len(word):
            parts.append(word)
        elif length < len(word):
            parts.append(word[:length])
        else:
            parts.append(word + " " * (length - len(word)))
        cursor = t.end
    return "".join(parts)


SKIP_SPACE_BEFORE = frozenset([",", ".", ":", ";", "?", "!", ")", "]",
                               "'m", "'s", "'re", "'ve", "'d", "'ll", "n't"])
SKIP_SPACE_AFTER = frozenset(["(", "[", "", "\n"])


def words_to_text(words: list[str]) -> str:
    """Rule-based spacing join (WordHelpers.wordsToText, java:96-105)."""
    parts: list[str] = []
    last = ""
    for w in words:
        if last not in SKIP_SPACE_AFTER and w not in SKIP_SPACE_BEFORE:
            parts.append(" ")
        parts.append(w)
        last = w
    return "".join(parts).strip()


_SPACES = re.compile(r"\s+")


def tokens_from_tokenized_text(text: str, offset: int = 0) -> list[Token]:
    """Rebuild offsets for pre-tokenized (space-separated) input.

    Mirrors DocumentFactory.createTokensFromTokenizedText (java:349-364)
    including Java split semantics (leading empty token preserved).
    """
    tokens: list[Token] = []
    last = ""
    for word in _SPACES.split(text):
        length = len(word)
        b, e = offset, offset + length
        if last not in SKIP_SPACE_AFTER and word not in SKIP_SPACE_BEFORE:
            b += 1
            e += 1
        offset = e
        tokens.append(Token(word, b, e))
        last = word
    return tokens


def sentences_from_tokens(tokens: list[Token]) -> list[list[Token]]:
    """Re-split an existing token stream into sentences by running sentence
    detection over the reconstructed text
    (DocumentFactory.createSentencesFromTokens, java:295-321).
    Newline tokens are dropped from the output sentences."""
    result: list[list[Token]] = []
    text = tokens_to_text(tokens, 0)
    live = [t for t in tokens if t.text]
    if not live:
        return result
    i = 0
    exhausted = False
    for sb, se in sent_pos_detect(text):
        sent: list[Token] = []
        while not exhausted and live[i].begin < se:
            if live[i].text != "\n":
                sent.append(live[i])
            if i + 1 >= len(live):
                exhausted = True
                break
            i += 1
        result.append(sent)
    return result


def document_from_tokenized_text(text: str) -> ExtractedDoc:
    """DocumentFactory.fromTokenizedText equivalent (java:143-146)."""
    return document_from_tokens(tokens_from_tokenized_text(text, 0))


def document_from_tokens(tokens: list[Token]) -> ExtractedDoc:
    """DocumentFactory.fromTokens equivalent (java:278-287)."""
    flat: list[Token] = []
    sentences: list[SentenceSpan] = []
    for sent in sentences_from_tokens(tokens):
        sent = [t for t in sent if t.text]
        tok_start = len(flat)
        flat.extend(sent)
        if sent:
            sentences.append(SentenceSpan(sent[0].begin, sent[-1].end,
                                          tok_start, len(flat)))
        else:
            sentences.append(SentenceSpan(0, 0, tok_start, tok_start))
    begin = flat[0].begin if flat else 0
    return ExtractedDoc(flat, sentences, tokens_to_text(flat, begin))


# ---------------------------------------------------------------------------
# String normalizers (WordHelpers.java:171-203)
# ---------------------------------------------------------------------------

_UMLAUTS = [("Ä", "Ae"), ("Ü", "Ue"), ("Ö", "Oe"), ("ä", "ae"), ("ü", "ue"),
            ("ö", "oe"), ("ß", "ss"), ("–", "-")]
_DASH = re.compile(r"[\-_/]+")
_PUNCT = re.compile(r"[^\w\s\-_]+")
_NUM = re.compile(r"\d+")


def replace_accents(s: str) -> str:
    import unicodedata
    return unicodedata.normalize("NFD", s)


def replace_umlauts(s: str) -> str:
    for a, b in _UMLAUTS:
        s = s.replace(a, b)
    return s


def replace_dashes(s: str, rep: str) -> str:
    return _DASH.sub(rep, s)


def replace_punctuation(s: str, rep: str) -> str:
    return _PUNCT.sub(rep, s)


def replace_numbers(s: str, rep: str) -> str:
    return _NUM.sub(rep, s)


def replace_spaces(s: str, rep: str) -> str:
    return _SPACES.sub(rep, s)


def minimal_lowercase(token: str, newline_marker: bool = False) -> str:
    """Token key normalization for lookups (T9, ref:
    texoo-core/.../preprocess/MinimalLowercaseNewlinePreprocessor.java):
    umlauts -> ascii pairs, NFD accents, punctuation stripped, digit runs
    -> '#', space runs -> '_', lowercase; optionally '\\n' -> '*NL*'."""
    if token is None:
        return None
    if newline_marker and token == "\n":
        return "*NL*"
    token = replace_umlauts(token)
    token = replace_accents(token)
    token = replace_punctuation(token, "")
    token = replace_numbers(token, "#")
    token = replace_spaces(token, "_")
    return token.lower()
