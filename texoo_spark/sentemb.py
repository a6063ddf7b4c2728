"""Deterministic sentence-embedding producer for the segmentation lanes.

The reference computes sentence vectors with its trained SECTOR BLSTM
(texoo-sector/.../tagger/SectorTagger.java:344-390 feeds them into the
EMD/BEMD segmentation post-processing). The neural model itself stays out
of scope here (no DL runtime in this container, SURVEY §2.4), but the
segmentation lane needs SOME distributed sentence-vector producer to run
end-to-end; this module provides the deterministic stand-in: per-word
padded letter-trigram hash counts (the vocabulary-free sibling of the E2
LetterNGramEncoder) bucketed by FNV-1a mod dim and L2-normalized.
Stable across executors/retries, fully SQL-expressible (DuckDB-oracled),
and topical enough that vocabulary shifts move the vectors — which is all
EMD/BEMD consumes (cosine deviations between adjacent sentences).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import ArrayType, DoubleType

from texoo_spark.textquality import fnv1a64


def _word_buckets(word: str, dim: int) -> np.ndarray:
    w = "#" + word.lower() + "#"
    if len(w) < 3:
        grams = [w]
    else:
        grams = [w[i:i + 3] for i in range(len(w) - 2)]
    return np.fromiter((fnv1a64(g) % dim for g in grams),
                       dtype=np.int64, count=len(grams))


def sentence_embedding_batch(texts, dim: int = 64) -> np.ndarray:
    """[len(texts) x dim] float64 normalized trigram-count vectors; the
    zero vector for empty sentences. Unique words are bucketed once per
    batch."""
    cache: dict[str, np.ndarray] = {}
    out = np.zeros((len(texts), dim), dtype=np.float64)
    for r, t in enumerate(texts):
        words = (t or "").split()
        for w in words:
            bk = cache.get(w)
            if bk is None:
                bk = cache.setdefault(w, _word_buckets(w, dim))
            np.add.at(out[r], bk, 1.0)
    norms = np.linalg.norm(out, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    return out / norms


def embed_sentences(df: DataFrame, text_col: str = "sentence",
                    dim: int = 64) -> DataFrame:
    """Adds an `embedding` array<double> column — a narrow Arrow-batched
    projection, no shuffle; the scale-correct shape for feeding
    applyInPandas segmentation groups."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(ArrayType(DoubleType()))
    def emb_udf(texts: pd.Series) -> pd.Series:
        mat = sentence_embedding_batch(list(texts), dim)
        return pd.Series(list(mat))

    return df.withColumn("embedding", emb_udf(F.col(text_col)))
