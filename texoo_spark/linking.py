"""Entity linking: mention -> knowledge-base candidates -> disambiguation.

Spark-first reimplementation of the reference's linking pipeline
(texoo-entity-linking/.../nel/NamedEntityAnnotator.java:59-110): NER spans
are looked up in an alias index (reference: Lucene ArticleIndex) and
disambiguated by cosine similarity between mention context and entity
description vectors (reference kNN: normalized matrix dot product,
texoo-retrieval/.../index/InMemoryIndex.java:106-118).

Spark mapping: alias table is a broadcast join (small dim), rerank is a
numpy matmul inside a pandas UDF over Arrow batches.
"""

from __future__ import annotations

import numpy as np
import pandas as pd  # noqa: F401 (resolves pandas_udf type hints)
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window


def normalize_alias(alias: str) -> str:
    """Alias key normalization (lowercase + squeezed whitespace), after the
    reference's WikipediaUrlPreprocessor/MinimalLowercase key handling."""
    return " ".join((alias or "").lower().split())


def normalize_alias_col(col: "F.Column") -> "F.Column":
    """normalize_alias as a JVM expression (lower + unicode-whitespace
    squeeze + trim) — the A13 hot path stays whole-stage-codegen'd with
    no Python worker; parity with the Python twin is test-pinned
    (tests/test_spark_ops.py::test_normalize_alias_jvm_parity). Python's
    str.split also splits on the U+001C-U+001F separators, which Java's
    \\s does not match, so the class names them explicitly."""
    return F.trim(F.regexp_replace(F.lower(col), r"(?U)[\s\x1c-\x1f]+",
                                   " "))


def link_mentions(mentions: DataFrame, aliases: DataFrame,
                  top_k: int = 3) -> DataFrame:
    """mentions(conv_id, turn_idx, begin, end, surface) x
    aliases(alias, entity_id, prior) -> candidate links.

    Broadcast hash join on the normalized surface (aliases are the small
    side by construction); keeps the top_k candidates by prior. Fully
    JVM-side: key normalization is a Catalyst expression (a pandas UDF
    here cost two Python-worker jobs per call for a lower+squeeze —
    the classic UDF-for-what-SQL-already-does trap)."""
    m = mentions.withColumn("alias_key",
                            normalize_alias_col(F.col("surface")))
    a = (aliases
         .withColumn("alias_key", normalize_alias_col(F.col("alias")))
         .select("alias_key", "entity_id", "prior"))
    w = Window.partitionBy("conv_id", "turn_idx", "begin", "end") \
        .orderBy(F.desc("prior"), F.col("entity_id"))
    return (m.join(F.broadcast(a), "alias_key", "left")
            .withColumn("cand_rank", F.row_number().over(w))
            .filter(F.col("cand_rank") <= top_k))


def rerank_by_context(candidates: DataFrame,
                      entity_vectors: dict[str, np.ndarray],
                      context_col: str = "context_vec") -> DataFrame:
    """Disambiguate candidates by cosine(context vector, entity vector);
    entity matrix is broadcast and normalized once per executor."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import DoubleType

    ids = sorted(entity_vectors)
    mat = np.array([entity_vectors[i] for i in ids], dtype=np.float32)
    mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
    index = {e: i for i, e in enumerate(ids)}
    spark = candidates.sparkSession
    bc = spark.sparkContext.broadcast((index, mat))

    @pandas_udf(DoubleType())
    def cos_udf(entity_ids: pd.Series, contexts: pd.Series) -> pd.Series:
        idx, m = bc.value
        out = []
        for eid, ctx in zip(entity_ids, contexts):
            if eid is None or ctx is None or eid not in idx:
                out.append(0.0)
                continue
            v = np.asarray(ctx, dtype=np.float32)
            n = np.linalg.norm(v)
            out.append(float(m[idx[eid]] @ (v / n)) if n > 0 else 0.0)
        return pd.Series(out)

    w = Window.partitionBy("conv_id", "turn_idx", "begin", "end") \
        .orderBy(F.desc("link_score"), F.col("entity_id"))
    return (candidates
            .withColumn("link_score",
                        cos_udf(F.col("entity_id"), F.col(context_col)))
            .withColumn("link_rank", F.row_number().over(w))
            .filter(F.col("link_rank") == 1))
