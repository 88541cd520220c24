#!/usr/bin/env python
"""spark-submit entry point: build the inverted index on a cluster.

Usage (cluster):
    zip -r veloci_spark.zip veloci_spark
    spark-submit --py-files veloci_spark.zip \
        jobs/build_index_job.py \
        --input  s3://bucket/corpus/            # or any Parquet/Iceberg path
        --output s3://bucket/index/v1/ \
        --fields content,path \
        --format parquet                         # or iceberg table name via --table

The job is resumable: re-submitting with the same --output skips every
stage whose _SUCCESS marker exists (per-partition lineage + metrics in
<output>/_lineage.jsonl). Sizing guidance for the 10^12-file regime is
in the module docstring of veloci_spark.build.
"""

from __future__ import annotations

import os
import sys

# local runs: make the repo root importable (on a cluster the package
# arrives via spark-submit --py-files instead)
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import argparse

from pyspark.sql import SparkSession

from veloci_spark.build import build_index
from veloci_spark.config import FieldConfig, IndexConfig


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="corpus path (parquet/json dir)")
    ap.add_argument("--table", help="catalog table name (e.g. Iceberg)")
    ap.add_argument("--format", default="parquet", choices=["parquet", "json", "csv"])
    ap.add_argument("--output", required=True)
    ap.add_argument("--fields", default="content", help="comma-separated text fields")
    ap.add_argument("--path-fields", default="", help="fields tokenized on '/' and '\\\\'")
    ap.add_argument(
        "--bm25-fields",
        default="",
        help="fields that additionally bake BM25 posting blocks (bm25.py)",
    )
    ap.add_argument(
        "--bm25-only-fields",
        default="",
        help="fields queried ONLY through the BM25 engine: implies "
        "--bm25-fields membership and skips their native posting build "
        "(the most expensive stage; native Request search on them then "
        "raises)",
    )
    ap.add_argument("--key-cols", default="", help="doc identity columns if no doc_id")
    ap.add_argument("--block-docs", type=int, default=65536)
    ap.add_argument("--phrase", action="store_true", help="build phrase-pair index")
    ap.add_argument("--no-resume", action="store_true")
    args = ap.parse_args()

    spark = SparkSession.builder.appName("veloci-spark-build").getOrCreate()

    if args.table:
        corpus = spark.read.table(args.table)
    elif args.format == "json":
        from veloci_spark.sources import load_ndjson

        corpus = load_ndjson(spark, args.input)
    elif args.format == "csv":
        from veloci_spark.sources import load_csv

        corpus = load_csv(spark, args.input)
    else:
        corpus = spark.read.parquet(args.input)

    path_fields = {f for f in args.path_fields.split(",") if f}
    bm25_only = {f for f in args.bm25_only_fields.split(",") if f}
    bm25_fields = {f for f in args.bm25_fields.split(",") if f} | bm25_only
    base_fields = [f for f in args.fields.split(",") if f]
    # a field named only via --path-fields / --bm25-fields /
    # --bm25-only-fields is still a field to index — silently dropping
    # it would build an index where every BM25 query on it fails
    all_fields = base_fields + sorted(
        (path_fields | bm25_fields) - set(base_fields)
    )
    fields = tuple(
        FieldConfig(
            name=f,
            tokenize_on_chars=("/", "\\") if f in path_fields else None,
            phrase_pairs=args.phrase and f not in path_fields,
            bm25=f in bm25_fields,
            native_postings=f not in bm25_only,
        )
        for f in all_fields
    )

    cfg = IndexConfig(
        fields=fields,
        key_cols=tuple(c for c in args.key_cols.split(",") if c),
        block_docs=args.block_docs,
    )
    build_index(spark, corpus, cfg, args.output, resume=not args.no_resume)
    spark.stop()


if __name__ == "__main__":
    main()
