"""Text analysis for training-data pipelines (net-new, BASELINE scope):
quality scoring and document fingerprinting.

Pure deterministic functions; Spark-side these run as built-in SQL
expressions where possible (see __spark_entry__.py oracles) and pandas UDFs
otherwise.
"""

from __future__ import annotations

import re

_WS_TOKEN = re.compile(r"\S+")
_PUNCT = re.compile(r"[^\w\s]", re.UNICODE)
_DIGIT = re.compile(r"\d")
_WORD = re.compile(r"[a-z']+")

_EN_STOPWORDS = frozenset(
    "the of and to in a is that it was for on are as with his they at be "
    "this have from or had by but not what were when can said there an "
    "which their if will each about how up out them then she many some so "
    "these would other into has more her two like him see time could no "
    "make than first been its who now people my made over did down only "
    "way find use may water long little very after words called just where "
    "most know".split())


def quality_scores(text: str) -> dict:
    """Heuristic document-quality features (length / punctuation / stopword
    ratios), Gopher/C4-style rules from the public literature."""
    text = text or ""
    n_chars = len(text)
    words = _WS_TOKEN.findall(text)
    n_words = len(words)
    mean_word_len = sum(len(w) for w in words) / n_words if n_words else 0.0
    n_punct = len(_PUNCT.findall(text))
    n_digit = len(_DIGIT.findall(text))
    lw = _WORD.findall(text.lower())
    stop_hits = sum(1 for w in lw if w in _EN_STOPWORDS)
    stop_ratio = stop_hits / len(lw) if lw else 0.0
    punct_ratio = n_punct / n_chars if n_chars else 0.0
    digit_ratio = n_digit / n_chars if n_chars else 0.0
    # composite: 1 point each for passing published-style thresholds
    passes = [
        5 <= n_words,
        2.0 <= mean_word_len <= 12.0,
        punct_ratio < 0.25,
        digit_ratio < 0.3,
        stop_ratio >= 0.01 or not lw,
    ]
    return {
        "n_chars": n_chars,
        "n_words": n_words,
        "mean_word_len": mean_word_len,
        "punct_ratio": punct_ratio,
        "digit_ratio": digit_ratio,
        "stopword_ratio": stop_ratio,
        "quality_score": sum(passes) / len(passes),
    }


_FNV_OFFSET = 0xCBF29CE484222325
_FNV_PRIME = 0x100000001B3
_MASK64 = (1 << 64) - 1


def fnv1a64(data: str) -> int:
    """Deterministic 64-bit FNV-1a hash (stable across workers/sessions)."""
    h = _FNV_OFFSET
    for b in data.encode("utf-8"):
        h ^= b
        h = (h * _FNV_PRIME) & _MASK64
    return h


def document_fingerprint(text: str, window: int = 8) -> int:
    """Rolling-hash document fingerprint: min FNV hash over word windows
    (winnowing-style, Schleimer et al. 2003)."""
    words = _WS_TOKEN.findall((text or "").lower())
    if not words:
        return 0
    if len(words) <= window:
        return fnv1a64(" ".join(words))
    return min(fnv1a64(" ".join(words[i:i + window]))
               for i in range(len(words) - window + 1))


def document_fingerprints_batch(texts, window: int = 8):
    """document_fingerprint for a batch of texts in vectorized numpy
    (bit-identical to the scalar path, property-tested).

    Every word window's string is a CONTIGUOUS substring of the
    single-space-joined word list, so the batch packs each text's joined
    bytes once and evaluates FNV-1a over all windows simultaneously:
    one numpy pass per byte POSITION (~window x mean-word-len passes)
    instead of one Python-level loop per byte (~50x fewer interpreter
    iterations; the UDF hot path for the quality-profile scan)."""
    import numpy as np
    prime = np.uint64(_FNV_PRIME)
    starts_all, ends_all, bufs, owner, n_win = [], [], [], [], []
    offset = 0
    for ti, text in enumerate(texts):
        words = _WS_TOKEN.findall((text or "").lower())
        if not words:
            n_win.append(0)
            continue
        joined = " ".join(words).encode("utf-8")
        # byte offset of each word in `joined`
        wlens = np.fromiter((len(w.encode("utf-8")) for w in words),
                            dtype=np.int64, count=len(words))
        wstarts = np.zeros(len(words), dtype=np.int64)
        np.cumsum(wlens[:-1] + 1, out=wstarts[1:])
        wends = wstarts + wlens
        if len(words) <= window:
            s = np.array([0], dtype=np.int64)
            e = np.array([len(joined)], dtype=np.int64)
        else:
            k = len(words) - window + 1
            s = wstarts[:k]
            e = wends[window - 1:]
        bufs.append(np.frombuffer(joined, dtype=np.uint8))
        starts_all.append(s + offset)
        ends_all.append(e + offset)
        owner.extend([ti] * len(s))
        n_win.append(len(s))
        offset += len(joined)
    out = [0] * len(list(n_win))
    if not bufs:
        return out
    buf = np.concatenate(bufs)
    starts = np.concatenate(starts_all)
    ends = np.concatenate(ends_all)
    lens = ends - starts
    h = np.full(len(starts), np.uint64(_FNV_OFFSET), dtype=np.uint64)
    for j in range(int(lens.max())):
        active = np.nonzero(lens > j)[0]
        b = buf[starts[active] + j].astype(np.uint64)
        h[active] = (h[active] ^ b) * prime      # wraps mod 2^64
    # per-text min over its windows
    pos = 0
    for ti, k in enumerate(n_win):
        if k:
            out[ti] = int(h[pos:pos + k].min())
            pos += k
    return out
