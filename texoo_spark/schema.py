"""Table and UDF result schemas.

Data model mapping (see SURVEY.md §1): the reference's Document/Sentence/
Token/Annotation object tree becomes per-turn rows with parallel offset
arrays (Arrow-efficient), plus exploded long-format spans tables.
Span semantics: char offsets, end-exclusive
(ref: texoo-core/src/main/java/de/datexis/model/Span.java:37-39).
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType, DoubleType, IntegerType, LongType, StringType, StructField,
    StructType, TimestampType,
)

# Primary input (BASELINE input_hint): multi-turn transcripts.
TRANSCRIPT_SCHEMA = StructType([
    StructField("conv_id", StringType()),
    StructField("turn_idx", IntegerType()),
    StructField("role", StringType()),
    StructField("text", StringType()),
    StructField("tool", StringType()),
    StructField("ts", TimestampType()),
])

# Extraction kernel result (arrow_extract.extract_batch): tokens/sentences
# as parallel offset arrays (SURVEY.md §1.2-1.3; array-of-struct
# equivalent, chosen for Arrow speed). Token texts are NOT shipped:
# extracted_text begins at offset tok_begin[0], so tok_text[i] ==
# extracted_text[tok_begin[i] - tok_begin[0]:tok_end[i] - tok_begin[0]]
# (the reconstruction invariant, WordHelpers.java:113-137);
# pipeline.extract_turns derives it JVM-side.
EXTRACT_LEAN_SCHEMA = StructType([
    StructField("extracted_text", StringType()),
    StructField("n_sentences", IntegerType()),
    StructField("n_tokens", IntegerType()),
    StructField("tok_begin", ArrayType(IntegerType())),
    StructField("tok_end", ArrayType(IntegerType())),
    StructField("sent_begin", ArrayType(IntegerType())),
    StructField("sent_end", ArrayType(IntegerType())),
    StructField("sent_tok_start", ArrayType(IntegerType())),
    StructField("sent_tok_end", ArrayType(IntegerType())),
])

# Long-format typed spans per turn (Annotation + subtypes; SURVEY.md §1.5).
SPAN_SCHEMA = StructType([
    StructField("conv_id", StringType()),
    StructField("turn_idx", IntegerType()),
    StructField("span_seq", IntegerType()),
    StructField("ann_type", StringType()),
    StructField("source", StringType()),
    StructField("begin", IntegerType()),
    StructField("end", IntegerType()),
    StructField("label", StringType()),
    StructField("ref_id", StringType()),
    StructField("confidence", DoubleType()),
])

# Gazetteer matcher UDF result (per-turn arrays; exploded into SPAN_SCHEMA).
MATCH_SCHEMA = StructType([
    StructField("m_begin", ArrayType(IntegerType())),
    StructField("m_end", ArrayType(IntegerType())),
    StructField("m_label", ArrayType(StringType())),
])

# Per-partition manifest for checkpoint/resume (BASELINE north_rule).
MANIFEST_SCHEMA = StructType([
    StructField("part_id", IntegerType()),
    StructField("status", StringType()),
    StructField("n_turns", LongType()),
    StructField("n_tokens", LongType()),
    StructField("n_sentences", LongType()),
    StructField("input_path", StringType()),
    StructField("code_version", StringType()),
    StructField("written_at", TimestampType()),
])
