"""Structured Streaming variants of the extraction pipeline.

The BASELINE job is batch-with-resume (partition manifests), but the same
extraction kernel composes with readStream for incremental ingest: new
transcript files land, each micro-batch extracts and appends.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from texoo_spark.schema import TRANSCRIPT_SCHEMA


def stream_extract(spark: SparkSession, input_dir: str,
                   newlines: str = "DISCARD") -> DataFrame:
    """File-source stream of transcript parquet -> extracted turns."""
    from texoo_spark.pipeline import extract_turns
    stream = (spark.readStream
              .schema(TRANSCRIPT_SCHEMA)
              .parquet(input_dir))
    return extract_turns(stream, newlines=newlines)


def run_stream_once(spark: SparkSession, input_dir: str, output_dir: str,
                    checkpoint_dir: str) -> None:
    """Process everything currently available, then stop (Trigger.AvailableNow)
    — the streaming equivalent of the batch resume contract: the checkpoint
    records consumed files, so reruns pick up only new data."""
    extracted = stream_extract(spark, input_dir)
    q = (extracted.writeStream
         .format("parquet")
         .option("path", output_dir)
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True)
         .outputMode("append")
         .start())
    q.awaitTermination()
