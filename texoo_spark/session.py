"""SparkSession factory with scale-oriented defaults.

Designed for multi-executor clusters; tested on local[N]. Extraction runs
in Python one Arrow batch at a time (``arrow_extract.extract_batch`` behind
mapInArrow or a scalar arrow_udf; the other Python operators are pandas
UDFs or mapInPandas), so the Arrow batch settings matter.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "texoo-spark",
              master: str | None = None,
              shuffle_partitions: int | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or max(cpus, 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # deterministic timestamp semantics on any host: naive<->aware
        # conversions, pandas UDF timestamp localization and streaming
        # event-time timeouts all key off the session timezone
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 40k-row Arrow batches amortize per-batch Python dispatch; still
        # ~15MB/batch at our row sizes, well inside executor memory.
        # Giant-turn protection comes from Spark's companion byte cap,
        # spark.sql.execution.arrow.maxBytesPerBatch (64MB default): a
        # batch closes at whichever limit hits first, so pathological rows
        # cannot blow up worker memory at 100TB scale.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "40000")
        # zstd: smaller AND faster end-to-end than snappy for this output
        # (134 vs 219 MiB per 1M turns; write overlaps the Python stage)
        .config("spark.sql.parquet.compression.codec", "zstd")
        # turn texts are small; keep scan partitions sized for executor memory
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.autoBroadcastJoinThreshold", "33554432")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
