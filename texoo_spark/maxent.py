"""MaxEnt (GIS) model evaluation for reference-model tokenization parity.

The reference's statistical stage is OpenNLP 1.5's pre-trained English
tokenizer model evaluated inside its vendored TokenizerMENL
(texoo-core/src/main/java/de/datexis/preprocess/TokenizerMENL.java:131-179;
model resource texoo-core/src/main/resources/openNLP/en-token.bin).

This module reimplements, from the PUBLIC OpenNLP formats and algorithms:
- the binary GIS model format (Java DataOutputStream serialization:
  UTF "GIS", correction constant/param, outcomes, outcome patterns,
  predicate names grouped by pattern, then per-predicate parameters),
- GIS evaluation p(o|ctx) ~ exp(sum of active predicate params * 1/C),
- OpenNLP's DefaultTokenContextGenerator feature strings (prefix/suffix,
  p1/p2/f1/f2 char-class predicates, bigram combinations, "cc" entity
  feature),
- the TokenizerMENL candidate-split loop (whitespace+forced-single
  pre-tokens; length-1 / ASCII-alphanumeric / abbreviation bypasses; the
  model decides every interior split position; SPLIT outcome "T").

The bundled model files in texoo_spark/resources/ are the Apache-2.0
OpenNLP 1.5 distribution models (public data, not reference-authored
code); the reference ships the identical bytes.

The deterministic rule tokenizer (textops.tokenize_pos) remains the
default hot path — it is fixture-exact and ~50x faster. This lane exists
for model-faithful parity runs and as the arbiter for strings the rules
were never designed for; it brings only the two models (the tokenizer and
the sentence decision) and runs them through textops' reference twin
extract_arrays, which owns the KEEP/DISCARD assembly and reconstruction.
tests/test_maxent.py pins golden behaviors and the reference JUnit
fixtures through this lane.
"""

from __future__ import annotations

import math
import os
import struct
import zipfile
from functools import lru_cache

from texoo_spark.abbrev import ABBREVIATIONS

_RES_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "resources")


def resource_path(name: str) -> str:
    """Filesystem path of a bundled model resource. When the package is
    imported from texoo_spark.zip (spark-submit --py-files), the resource
    is materialized once per machine into the temp dir via
    importlib.resources (zipimport's resource reader) — zipfile.ZipFile
    needs a real file. Atomic rename keeps concurrent executor workers
    safe; the temp filename carries a content hash so an updated resource
    (new app version on a shared host) materializes fresh instead of
    silently reusing stale bytes."""
    p = os.path.join(_RES_DIR, name)
    if os.path.exists(p):
        return p
    cached = _MATERIALIZED.get(name)
    if cached is not None and os.path.exists(cached):
        return cached
    import hashlib
    import importlib.resources as ir
    import tempfile
    ref = ir.files("texoo_spark").joinpath("resources", name)
    data = ref.read_bytes()
    tag = hashlib.sha256(data).hexdigest()[:12]
    tmp = os.path.join(tempfile.gettempdir(), f"texoo_res_{tag}_{name}")
    if not os.path.exists(tmp):
        part = f"{tmp}.{os.getpid()}.part"
        with open(part, "wb") as f:
            f.write(data)
        os.replace(part, tmp)
    _MATERIALIZED[name] = tmp   # read+hash once per process, not per call
    return tmp


_MATERIALIZED: dict[str, str] = {}


def bundled_path(name: str) -> str | None:
    """resource_path, but None when the resource isn't bundled (used for
    optional pre-trained weight caches)."""
    try:
        return resource_path(name)
    except (FileNotFoundError, OSError, ModuleNotFoundError):
        return None


class _JavaDataInput:
    __slots__ = ("d", "p")

    def __init__(self, data: bytes):
        self.d = data
        self.p = 0

    def read_int(self) -> int:
        v = struct.unpack_from(">i", self.d, self.p)[0]
        self.p += 4
        return v

    def read_double(self) -> float:
        v = struct.unpack_from(">d", self.d, self.p)[0]
        self.p += 8
        return v

    def read_utf(self) -> str:
        n = struct.unpack_from(">H", self.d, self.p)[0]
        self.p += 2
        s = self.d[self.p:self.p + n].decode("utf-8")
        self.p += n
        return s


class GISModel:
    """OpenNLP GIS maxent model: binary reader + evaluation."""

    def __init__(self, zip_path: str, entry: str):
        r = _JavaDataInput(zipfile.ZipFile(zip_path).read(entry))
        if r.read_utf() != "GIS":
            raise ValueError("not a GIS model")
        self.correction_constant = r.read_int()
        self.correction_param = r.read_double()
        self.outcomes = [r.read_utf() for _ in range(r.read_int())]
        patterns = []
        for _ in range(r.read_int()):
            parts = [int(x) for x in r.read_utf().split(" ")]
            patterns.append((parts[0], parts[1:]))
        n_pred = r.read_int()
        preds = [r.read_utf() for _ in range(n_pred)]
        self.params: dict[str, tuple[list[int], list[float]]] = {}
        pi = 0
        for cnt, outs in patterns:
            for _ in range(cnt):
                self.params[preds[pi]] = (
                    outs, [r.read_double() for _ in outs])
                pi += 1
        if pi != n_pred or r.p != len(r.d):
            raise ValueError("GIS model parse mismatch")
        self._inv = 1.0 / self.correction_constant

    def eval(self, context: list[str]) -> list[float]:
        s = [0.0] * len(self.outcomes)
        nf = [0] * len(self.outcomes)
        get = self.params.get
        for c in context:
            e = get(c)
            if e is not None:
                for oid, p in zip(e[0], e[1]):
                    s[oid] += p
                    nf[oid] += 1
        # correction_param is 0.0 in the four shipped models (test-asserted);
        # the nonzero branch follows OpenNLP GISModel.eval exactly: each
        # outcome gets (1 - numfeats[oid]/C) * correctionParam added to its
        # normalized score before exponentiation.
        cp = self.correction_param
        if cp:
            probs = [math.exp(v * self._inv + (1.0 - n * self._inv) * cp)
                     for v, n in zip(s, nf)]
        else:
            probs = [math.exp(v * self._inv) for v in s]
        z = sum(probs)
        return [v / z for v in probs]

    def best_outcome(self, context: list[str]) -> str:
        probs = self.eval(context)
        return self.outcomes[max(range(len(probs)),
                                 key=probs.__getitem__)]


def _is_ws(c: str) -> bool:
    return c.isspace()


def _add_char_preds(key: str, c: str, preds: list[str]) -> None:
    """DefaultTokenContextGenerator.addCharPreds feature strings."""
    preds.append(key + "=" + c)
    if c.isalpha():
        preds.append(key + "_alpha")
        if c.isupper():
            preds.append(key + "_caps")
    elif c.isdigit():
        preds.append(key + "_num")
    elif _is_ws(c):
        preds.append(key + "_ws")
    else:
        if c in ".?!":
            preds.append(key + "_eos")
        elif c in "`\"'":
            preds.append(key + "_quote")
        elif c in "[{(":
            preds.append(key + "_lp")
        elif c in "]})":
            preds.append(key + "_rp")


def token_context(tok: str, i: int) -> list[str]:
    """DefaultTokenContextGenerator.getContext(tok, i)."""
    preds = ["p=" + tok[:i], "s=" + tok[i:]]
    if i > 0:
        _add_char_preds("p1", tok[i - 1], preds)
        if i > 1:
            _add_char_preds("p2", tok[i - 2], preds)
            preds.append("p21=" + tok[i - 2] + tok[i - 1])
        else:
            preds.append("p2=bok")
        preds.append("p1f1=" + tok[i - 1] + tok[i])
    else:
        preds.append("p1=bok")
    _add_char_preds("f1", tok[i], preds)
    if i + 1 < len(tok):
        _add_char_preds("f2", tok[i + 1], preds)
        preds.append("f12=" + tok[i] + tok[i + 1])
    else:
        preds.append("f2=bok")
    if tok and tok[0] == "&" and tok[-1] == ";":
        preds.append("cc")
    return preds


@lru_cache(maxsize=2)
def token_model(path: str | None = None) -> GISModel:
    """Lazy per-process singleton (one instance per executor worker,
    mirroring the reference's synchronized shared model)."""
    return GISModel(path or resource_path("en-token.bin"),
                    "token.model")


@lru_cache(maxsize=2)
def sent_model(path: str | None = None) -> GISModel:
    return GISModel(path or resource_path("en-sent.bin"),
                    "sent.model")


# ---------------------------------------------------------------------------
# Sentence model (SentenceDetectorMENL's MaxEnt stage)
# ---------------------------------------------------------------------------

_SD_EOS = ".!?"


def _previous_space_index(sb: str, seek: int) -> int:
    seek -= 1
    while seek > 0 and not _is_ws(sb[seek]):
        seek -= 1
    if seek > 0 and _is_ws(sb[seek]):
        while seek > 0 and _is_ws(sb[seek - 1]):
            seek -= 1
        return seek
    return 0


def _next_space_index(sb: str, seek: int, last_index: int) -> int:
    seek += 1
    while seek < last_index:
        if _is_ws(sb[seek]):
            while len(sb) > seek + 1 and _is_ws(sb[seek + 1]):
                seek += 1
            return seek
        seek += 1
    return last_index


def _first_upper(s: str) -> bool:
    return bool(s) and s[0].isupper()


def sd_context(sb: str, position: int) -> list[str]:
    """DefaultSDContextGenerator.getContext feature strings: sp/sn space
    flags, eos char, prefix/previous/suffix/next tokens (prefix and suffix
    scans STOP at eos characters — the '....' discriminator), prefix
    length, and first-upper flags. The template set is confirmed against
    the model's own predicate vocabulary (x=/v=/s=/n=/eos=/len/sp/sn/
    xcap/vcap/scap/ncap; no abbreviation features present)."""
    feats: list[str] = []
    last_index = len(sb) - 1
    if position > 0 and _is_ws(sb[position - 1]):
        feats.append("sp")
    if position < last_index and _is_ws(sb[position + 1]):
        feats.append("sn")
    feats.append("eos=" + sb[position])
    prefix_start = _previous_space_index(sb, position)
    c = position - 1
    while c > prefix_start:
        if sb[c] in _SD_EOS:
            prefix_start = c
            break
        c -= 1
    prefix = sb[prefix_start:position].strip()
    prev_start = _previous_space_index(sb, prefix_start)
    previous = sb[prev_start:prefix_start].strip()
    suffix_end = _next_space_index(sb, position, last_index)
    c = position + 1
    while c < suffix_end:
        if sb[c] in _SD_EOS:
            suffix_end = c
            break
        c += 1
    suffix = sb[position + 1:suffix_end + 1].strip()
    next_end = _next_space_index(sb, suffix_end, last_index)
    nxt = sb[suffix_end:next_end + 1].strip()
    feats.append("x=" + prefix)
    if prefix:
        feats.append(str(len(prefix)))
        if _first_upper(prefix):
            feats.append("xcap")
    feats.append("v=" + previous)
    if previous and _first_upper(previous):
        feats.append("vcap")
    feats.append("s=" + suffix)
    if suffix and _first_upper(suffix):
        feats.append("scap")
    feats.append("n=" + nxt)
    if nxt and _first_upper(nxt):
        feats.append("ncap")
    return feats


def maxent_split_decision(s: str, cint: int) -> bool:
    """Model verdict at candidate cint ('s' = split); plugs into
    textops.sent_pos_detect(decision=...) whose loop applies the
    reference's newline overrides around it."""
    m = sent_model()
    probs = m.eval(sd_context(s, cint))
    return m.outcomes[max(range(len(probs)),
                          key=probs.__getitem__)] == "s"


def maxent_sent_pos_detect(s: str) -> list[tuple[int, int]]:
    """sentPosDetect with the reference's REAL sentence model."""
    from texoo_spark.textops import sent_pos_detect
    return sent_pos_detect(s, decision=maxent_split_decision)


def maxent_extract_document(text: str, newlines: str | None = None):
    """Full extraction (sentences + tokens + reconstruction) through BOTH
    real OpenNLP models — the model-faithful parity lane mirroring
    DocumentFactory.fromText end to end: the reference twin
    textops.extract_arrays with the model tokenizer and sentence decision."""
    from texoo_spark import textops
    texts, begins, ends, sents, extracted = textops.extract_arrays(
        text, newlines or textops.DISCARD, maxent_tokenize_pos,
        maxent_split_decision)
    return textops.ExtractedDoc(
        [textops.Token(*t) for t in zip(texts, begins, ends)],
        [textops.SentenceSpan(*sp) for sp in sents], extracted)


def maxent_tokenize_pos(text: str,
                        model: GISModel | None = None
                        ) -> list[tuple[int, int]]:
    """TokenizerMENL.tokenizePosWithNewline with the real MaxEnt stage:
    whitespace+forced-single pre-tokens, then the GIS model decides every
    interior split (TokenizerMENL.java:131-179). Bypasses: length < 2,
    ASCII-alphanumeric (useAlphaNumericOptimization), abbreviation list.
    """
    from texoo_spark.textops import _ALNUM, pre_tokenize
    m = model or token_model()
    split_idx = m.outcomes.index("T")
    out: list[tuple[int, int]] = []
    for b, e in pre_tokenize(text):
        tok = text[b:e]
        if len(tok) < 2 or _ALNUM.match(tok) or tok in ABBREVIATIONS:
            out.append((b, e))
            continue
        start = b
        for j in range(1, len(tok)):
            probs = m.eval(token_context(tok, j))
            best = max(range(len(probs)), key=probs.__getitem__)
            if best == split_idx:
                out.append((start, b + j))
                start = b + j
        out.append((start, e))
    return out
