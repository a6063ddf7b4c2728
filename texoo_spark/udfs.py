"""Additional Arrow-batched pandas UDFs (HTML, spans, quality)."""

from __future__ import annotations

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import LongType, StringType

from texoo_spark.schema import MATCH_SCHEMA


def _signed64(v: int) -> int:
    return v - (1 << 64) if v >= (1 << 63) else v


@pandas_udf(LongType())
def fingerprint_udf(texts: pd.Series) -> pd.Series:
    """Rolling-hash document fingerprint (winnowing-style), as signed
    int64 — vectorized batch FNV (bit-identical to the scalar path)."""
    from texoo_spark.textquality import document_fingerprints_batch
    return pd.Series([_signed64(v)
                      for v in document_fingerprints_batch(texts)])


@pandas_udf(StringType())
def strip_html_text_udf(texts: pd.Series) -> pd.Series:
    from texoo_spark.html import strip_html
    return pd.Series([strip_html(t or "")["main_text"] for t in texts],
                     dtype="object")


def make_gazetteer_count_udf(terms: list[str],
                             case_strategy: str = "LOWERCASE"):
    """Fused extract+match: segments the raw text AND counts boundary-
    aligned gazetteer matches in ONE Python hop (one ArrowEvalPython node
    instead of extract-then-match)."""
    from texoo_spark.spans import GazetteerMatcher
    from texoo_spark.textops import DISCARD, extract_arrays_lean
    matcher = GazetteerMatcher(terms, case_strategy)

    @pandas_udf(LongType())
    def gazetteer_count_udf(texts: pd.Series) -> pd.Series:
        out = []
        for text in texts:
            _, begins, ends, _sents, ext = extract_arrays_lean(
                text or "", DISCARD)
            out.append(len(matcher.match(ext, begins, ends)))
        return pd.Series(out)

    return gazetteer_count_udf


def make_gazetteer_udf(terms: list[str], case_strategy: str = "LOWERCASE"):
    """Gazetteer matcher UDF factory: the term automaton is built once per
    executor (broadcast-equivalent closure), applied per Arrow batch.

    Matches the reference MatchingAnnotator semantics (longest match,
    non-overlapping, token-boundary aligned); see spans.py.
    """
    from texoo_spark.spans import GazetteerMatcher
    matcher = GazetteerMatcher(terms, case_strategy)

    @pandas_udf(MATCH_SCHEMA)
    def gazetteer_udf(texts: pd.Series, tok_begins: pd.Series,
                      tok_ends: pd.Series) -> pd.DataFrame:
        rows = {"m_begin": [], "m_end": [], "m_label": []}
        for text, tbs, tes in zip(texts, tok_begins, tok_ends):
            matches = matcher.match(
                text or "",
                list(tbs) if tbs is not None else [],
                list(tes) if tes is not None else [])
            rows["m_begin"].append([m[0] for m in matches])
            rows["m_end"].append([m[1] for m in matches])
            rows["m_label"].append([m[2] for m in matches])
        return pd.DataFrame(rows)

    return gazetteer_udf
