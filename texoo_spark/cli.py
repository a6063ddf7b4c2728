"""spark-submit entry point.

Usage (cluster):
    spark-submit --py-files texoo_spark.zip -m texoo_spark.cli \\
        --input s3://bucket/transcripts --output s3://bucket/extracted \\
        --buckets 4096 --salt-buckets 64

Build the zip with: python tools/build_pyfiles.py
Resume is automatic: completed part_ids recorded in <output>/_manifest are
anti-joined away on restart.
"""

from __future__ import annotations

import argparse
import json


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(description="texoo-spark extraction job")
    p.add_argument("--input", required=True, help="transcript table path")
    p.add_argument("--output", required=True, help="output directory")
    p.add_argument("--buckets", type=int, default=256,
                   help="hash(conv_id) bucket count (scale with data size)")
    p.add_argument("--salt-buckets", type=int, default=16,
                   help="turn-block salt spread for skewed conversations")
    p.add_argument("--newlines", choices=["KEEP", "DISCARD"],
                   default="DISCARD")
    p.add_argument("--no-resume", action="store_true",
                   help="reprocess all partitions even if manifested")
    p.add_argument("--arrow", action="store_true",
                   help="mapInArrow hot lane: no token surfaces stored "
                        "(token i is extracted_text[tok_begin[i] - "
                        "tok_begin[0]:tok_end[i] - tok_begin[0]])")
    p.add_argument("--master", default=None,
                   help="override master (defaults to spark-submit's)")
    args = p.parse_args(argv)

    from texoo_spark.pipeline import run_extraction
    if args.master:
        from texoo_spark.session import get_spark
        spark = get_spark("texoo-extract", master=args.master)
    else:
        from pyspark.sql import SparkSession
        spark = SparkSession.builder.appName("texoo-extract").getOrCreate()

    summary = run_extraction(
        spark, args.input, args.output,
        n_buckets=args.buckets, salt_buckets=args.salt_buckets,
        newlines=args.newlines, resume=not args.no_resume,
        use_arrow=args.arrow)
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
