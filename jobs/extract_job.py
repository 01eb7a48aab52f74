#!/usr/bin/env python3
"""spark-submit entry point for the extraction pipeline.

    spark-submit --py-files oxidizepdf_spark.zip jobs/extract_job.py \
        --input  <docs_raw table/path> \
        --output <docs_spans table/path> \
        --metrics <run_metrics table/path> \
        --run-id r42 [--resume] [--partitions 0,1,7] [--include-artifacts]

Cluster semantics (north_rule): reads the Iceberg (or partitioned-parquet)
corpus table, optionally prunes to an explicit partition list, skips
partitions already recorded in the metrics table for this run-id
(checkpoint resume), salts by document size, extracts, and writes spans +
per-partition lineage metrics. Executor counts come from spark-submit
(--num-executors); nothing here assumes local mode.

Each document goes through the kernel once: the extraction result is
persisted, both writes read it, and it is released when the job ends
(also when a write fails).

Commit order: spans first, then metrics. A metrics row for
(run_id, part_id) is the resume marker, so a part only counts as done once
its spans are on disk. A ``--resume`` re-extracts every part without a
marker and replaces those spans partitions rather than appending to them,
so a part whose spans landed before a crash is rewritten, not duplicated:
re-running the same resume any number of times leaves one spans row per
document.
"""

from __future__ import annotations

import argparse
import sys


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--metrics", required=True)
    ap.add_argument("--run-id", required=True)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--partitions", default=None, help="comma-separated part_ids")
    ap.add_argument("--include-artifacts", action="store_true")
    ap.add_argument(
        "--reading-order",
        choices=("emission", "simple", "xycut", "structure"),
        default="emission",
        help="fragment reading-order strategy (xycut for multi-column "
        "docs; structure follows the tagged-PDF /StructTreeRoot MCID "
        "order where present, simple fallback)",
    )
    ap.add_argument(
        "--error-mode",
        choices=("strict", "tolerant", "skip"),
        default="tolerant",
    )
    ap.add_argument(
        "--password",
        default=None,
        help="decryption password tried as user OR owner on every "
        "encrypted document; a per-document `password` column on the "
        "input table overrides it row by row",
    )
    args = ap.parse_args()

    from pyspark.errors import AnalysisException
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from oxidizepdf_spark.kernel.textstate import ExtractionOptions
    from oxidizepdf_spark.pipeline import (
        extract_spans,
        metrics_from_results,
        resume_filter,
    )
    from oxidizepdf_spark.table_io import prune_partitions, read_table, write_table

    spark = SparkSession.builder.appName(
        f"oxidizepdf-extract-{args.run_id}"
    ).getOrCreate()

    docs = read_table(spark, args.input)
    if args.partitions:
        docs = prune_partitions(
            docs, [int(p) for p in args.partitions.split(",")]
        )
    done = None
    if args.resume:
        try:
            done = read_table(spark, args.metrics).where(
                F.col("run_id") == args.run_id
            )
        except AnalysisException as e:
            if e.getCondition() not in ("PATH_NOT_FOUND", "TABLE_OR_VIEW_NOT_FOUND"):
                raise
            done = None  # first run: no metrics table yet

    options = ExtractionOptions(
        include_artifacts=args.include_artifacts,
        reading_order=args.reading_order,
        error_mode=args.error_mode,
        password=args.password,
    )
    results = extract_spans(resume_filter(docs, done), options).persist()
    try:
        write_table(
            results.select("doc_id", "part_id", "spans"),
            args.output,
            partition_by=("part_id",),
            mode="overwrite_partitions" if args.resume else "overwrite",
        )
        write_table(
            metrics_from_results(results, args.run_id),
            args.metrics,
            partition_by=(),
            mode="append",
        )
    finally:
        results.unpersist()
    print(f"run {args.run_id} complete", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
