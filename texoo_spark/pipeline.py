"""End-to-end extraction pipeline over transcript tables.

Scale design (BASELINE north_rule):
- partition by hash(conv_id) into a fixed bucket count (part_id); skewed
  long conversations are salted by turn block so one conversation cannot
  pin a partition (extraction is per-turn, so salting is always safe);
- stable turn ordering via sortWithinPartitions(conv_id, turn_idx);
- per-partition manifests make the job resumable: completed part_ids are
  anti-joined away on restart; each manifest row carries lineage (input
  path, code version) and metrics (turn/token/sentence counts);
- all text work happens in one Arrow-batched kernel
  (arrow_extract.extract_batch); everything else is built-in Catalyst
  operators (filters push down to the parquet scan).
"""

from __future__ import annotations

import datetime
import os

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.functions import arrow_udf

from texoo_spark import textops
from texoo_spark.arrow_extract import (EXTRACT_COLUMNS, extract_batch,
                                       extract_turns_arrow)
from texoo_spark.schema import EXTRACT_LEAN_SCHEMA, MANIFEST_SCHEMA

CODE_VERSION = "texoo-spark-0.1"


def with_part_id(df: DataFrame, n_buckets: int,
                 salt_buckets: int = 0) -> DataFrame:
    """Assign a deterministic partition bucket from hash(conv_id).

    With salt_buckets > 0, long conversations are spread over salt_buckets
    adjacent buckets using turn_idx blocks (64 turns per block), which keeps
    per-conversation turn order intact within a block while bounding skew.
    """
    base = F.pmod(F.hash(F.col("conv_id")), F.lit(n_buckets))
    if salt_buckets > 1:
        salt = F.pmod(F.floor(F.col("turn_idx") / 64), F.lit(salt_buckets))
        part = F.pmod(base + salt, F.lit(n_buckets))
    else:
        part = base
    return df.withColumn("part_id", part.cast("int"))


def extract_turns(df: DataFrame, newlines: str = textops.DISCARD,
                  strip_html_first: bool = True) -> DataFrame:
    """text -> (extracted_text, token/sentence offset arrays) per turn.

    One scalar arrow_udf over ``text`` runs the extraction kernel
    (arrow_extract.extract_batch), so only ``text`` crosses into Python
    and the plan has exactly one ArrowEvalPython node. When
    strip_html_first is set, HTML-looking turns are boilerplate-stripped
    inside that same call; offsets are relative to the cleaned text, which
    IS the extracted-text contract.

    Output: the input columns plus EXTRACT_COLUMNS, with ``tok_text``
    after n_tokens. tok_text is derived on the JVM from the offsets
    (extracted_text[b - tok_begin[0]:e - tok_begin[0]]), so Catalyst
    prunes it — and its cost — when no consumer reads it."""

    @arrow_udf(EXTRACT_LEAN_SCHEMA)
    def extract(texts: pa.Array) -> pa.Array:
        return pa.StructArray.from_arrays(
            extract_batch(texts, newlines, strip_html_first),
            names=EXTRACT_COLUMNS)

    cols = [F.col(f"_x.{c}").alias(c) for c in EXTRACT_COLUMNS]
    first = F.col("_x.tok_begin")[0]
    tok_text = F.transform(
        F.arrays_zip("_x.tok_begin", "_x.tok_end"),
        lambda t: F.col("_x.extracted_text").substr(
            t["tok_begin"] - first + 1, t["tok_end"] - t["tok_begin"]))
    cols.insert(EXTRACT_COLUMNS.index("tok_begin"), tok_text.alias("tok_text"))
    return (df.withColumn("_x", extract(F.col("text")))
            .select(*df.columns, *cols))


def run_extraction(spark: SparkSession, input_path: str, output_dir: str,
                   n_buckets: int = 64, salt_buckets: int = 4,
                   newlines: str = textops.DISCARD,
                   resume: bool = True,
                   write_spans: bool = True,
                   use_arrow: bool = False,
                   table_log: bool = False) -> dict:
    """Batch extraction with checkpointed partition manifests.

    Outputs (BASELINE north_rule): <out>/turns (extracted text + offset
    arrays), <out>/spans (long-format typed spans per turn), and
    <out>/_manifest (per-partition lineage + metrics; resume anti-joins it).
    Returns a summary dict {processed_parts, skipped_parts, n_turns}.

    ``table_log=True`` commits every output through
    texoo_spark.tablelog.TableLog instead of plain parquet-dir appends:
    each run is ONE atomic versioned snapshot per table (a crashed run
    leaves unreferenced files, never a torn table), history/time travel
    record lineage per run, and resume reads the manifest from its
    committed snapshot. On a cluster with an Iceberg catalog this is the
    seam where df.writeTo(table).append() slots in (tablelog.py module
    docstring); the default plain-parquet mode is the bench hot lane and
    is byte-identical to before.
    """
    manifest_path = os.path.join(output_dir, "_manifest")
    data_path = os.path.join(output_dir, "turns")
    spans_path = os.path.join(output_dir, "spans")
    if table_log:
        from texoo_spark.tablelog import TableLog
        turns_t = TableLog(data_path)
        spans_t = TableLog(spans_path)
        manifest_t = TableLog(manifest_path)

    df = spark.read.parquet(input_path)
    df = with_part_id(df, n_buckets, salt_buckets)

    done: set[int] = set()
    if resume:
        try:
            prev_manifest = (manifest_t.read(spark) if table_log
                             else spark.read.parquet(manifest_path))
            done = {r.part_id for r in
                    prev_manifest
                    .filter(F.col("status") == "done")
                    .select("part_id").distinct().collect()}
        except Exception:
            done = set()
    if done:
        df = df.filter(~F.col("part_id").isin(list(done)))

    pending = df.select("part_id").distinct()
    pending_ids = sorted(r.part_id for r in pending.collect())
    if not pending_ids:
        return {"processed_parts": 0, "skipped_parts": len(done), "n_turns": 0}

    clustered = df.repartition(max(len(pending_ids), 1), "part_id")
    if use_arrow:
        # hot lane: order established on slim rows, mapInArrow preserves it;
        # token surfaces not stored (see schema.EXTRACT_LEAN_SCHEMA)
        extracted = extract_turns_arrow(
            clustered.sortWithinPartitions("conv_id", "turn_idx"),
            newlines=newlines)
    else:
        extracted = (extract_turns(clustered, newlines=newlines)
                     .sortWithinPartitions("conv_id", "turn_idx"))

    # clustered plain write: rows arrive grouped by part_id (repartition
    # above), so parquet row-group stats prune part_id predicates on read
    # without the dynamic-partition writer's sort/fanout overhead
    if table_log:
        turns_t.append(extracted)
        read_turns = turns_t.read(spark)
    else:
        (extracted.write.mode("append")
         .parquet(data_path))
        read_turns = spark.read.parquet(data_path)

    if write_spans:
        new_spans = spans_long(
            read_turns.filter(F.col("part_id").isin(pending_ids)))
        if table_log:
            spans_t.append(new_spans)
        else:
            new_spans.write.mode("append").parquet(spans_path)

    # metrics from the written files (metadata-cheap column-pruned scan)
    stats = (read_turns
             .filter(F.col("part_id").isin(pending_ids))
             .groupBy("part_id")
             .agg(F.count("*").alias("n_turns"),
                  F.sum("n_tokens").alias("n_tokens"),
                  F.sum("n_sentences").alias("n_sentences")))
    now = datetime.datetime.now(datetime.timezone.utc).replace(tzinfo=None)
    manifest = (stats
                .withColumn("status", F.lit("done"))
                .withColumn("input_path", F.lit(input_path))
                .withColumn("code_version", F.lit(CODE_VERSION))
                .withColumn("written_at", F.lit(now))
                .select([f.name for f in MANIFEST_SCHEMA.fields]))
    if table_log:
        manifest_t.append(manifest)
    else:
        manifest.write.mode("append").parquet(manifest_path)

    n_turns = sum(r.n_turns for r in stats.select("part_id", "n_turns").collect())
    return {"processed_parts": len(pending_ids),
            "skipped_parts": len(done),
            "n_turns": int(n_turns)}


def spans_long(extracted: DataFrame) -> DataFrame:
    """Explode per-turn sentence arrays into a long-format spans table
    (SENTENCE annotations; SURVEY.md §1.5 output contract)."""
    return (extracted
            .select("conv_id", "turn_idx",
                    F.posexplode(F.arrays_zip("sent_begin", "sent_end"))
                    .alias("span_seq", "s"))
            .select("conv_id", "turn_idx", "span_seq",
                    F.lit("SENTENCE").alias("ann_type"),
                    F.lit("PRED").alias("source"),
                    F.col("s.sent_begin").alias("begin"),
                    F.col("s.sent_end").alias("end"),
                    F.lit(None).cast("string").alias("label"),
                    F.lit(None).cast("string").alias("ref_id"),
                    F.lit(1.0).alias("confidence")))
