"""Production entry point: spark-submit extraction job.

Cluster usage (north rule deployment shape)::

    zip -r engine.zip paperoni_spark
    spark-submit --py-files engine.zip jobs/extract_job.py \
        --input  <iceberg-table-or-parquet-path> \
        --output <parquet-or-iceberg-out> \
        --metrics <lineage/metrics table path> \
        --resume-from <previous output to anti-join against>

Local smoke (synthesizes the corpus when --input is 'synthetic:N')::

    spark-submit --master 'local[8]' --py-files engine.zip \
        jobs/extract_job.py --input synthetic:1000 --output /tmp/out
"""

from __future__ import annotations

import argparse
import sys
import uuid


def main(argv: list[str] | None = None) -> None:
    parser = argparse.ArgumentParser()
    parser.add_argument("--input", required=True)
    parser.add_argument("--output", required=True)
    parser.add_argument("--metrics", default=None)
    parser.add_argument("--resume-from", default=None)
    parser.add_argument("--base-url", default="http://example.com/")
    parser.add_argument("--run-id", default=None)
    args = parser.parse_args(argv)

    from pyspark.sql import SparkSession

    from paperoni_spark.contract import DOCUMENTS_SPANS_SCHEMA
    from paperoni_spark.pipeline.job import extract_pipeline, write_output
    from paperoni_spark.pipeline.session import apply_engine_confs

    spark = apply_engine_confs(
        SparkSession.builder.appName("paperoni-extract").getOrCreate()
    )

    if args.input.startswith("synthetic:"):
        from paperoni_spark.pipeline.synth_input import synthetic_documents

        documents = synthetic_documents(spark, args.input)
    elif args.input.startswith("jsonl:"):
        # newline-delimited JSON — the crawl-dump interchange format.  The
        # span schema is ENFORCED, not inferred: inference scans the data
        # an extra time and silently widens types on dirty crawls; a
        # malformed line surfaces as nulls in the pipeline's status
        # channel instead of poisoning the schema.
        documents = spark.read.schema(DOCUMENTS_SPANS_SCHEMA).json(
            args.input.split(":", 1)[1]
        )
    else:
        documents = spark.read.parquet(args.input)

    done = None
    if args.resume_from:
        # A missing checkpoint means "first run" — probe existence explicitly
        # through the Hadoop FileSystem (works for any scheme the cluster
        # mounts: hdfs://, s3a://, file://) rather than sniffing exception
        # wording, which shifts across Spark versions/locales and would turn
        # a corrupt checkpoint back into a silent full re-extract.  Any read
        # error on an EXISTING path (corrupt/partial checkpoint) propagates
        # loudly: silently ignoring it would re-extract everything and, in
        # append mode, write duplicate rows for completed doc_ids.
        # --resume-from may be a glob pattern, hence a glob match (an
        # exists() probe would re-extract everything for a glob)
        from paperoni_spark.fsio import glob_matches

        if glob_matches(spark, args.resume_from):
            done = spark.read.parquet(args.resume_from)

    extracted = extract_pipeline(documents, base_url=args.base_url, done=done)
    run_id = args.run_id or uuid.uuid4().hex
    write_output(extracted, args.output, metrics_path=args.metrics, run_id=run_id)
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
