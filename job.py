"""spark-submit entry point for the extraction pipeline.

Usage:
    # package the engine
    python job.py --make-pyfiles /tmp/engine.zip
    # run (cluster or local), resumable
    spark-submit --py-files /tmp/engine.zip job.py \
        --input /path/to/transcripts_parquet \
        --output /path/to/out --groups 64

    # synthetic corpus instead of an input path
    spark-submit --py-files /tmp/engine.zip job.py \
        --synthetic-sf 0.01 --output /tmp/out --groups 8

A re-run with the same --output resumes: bucket groups with committed
manifests under <output>/_manifests/ are skipped (exact resume with
per-partition lineage + row-count/checksum metrics).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")


def make_pyfiles(dest: str) -> None:
    import zipfile

    root = os.path.dirname(os.path.abspath(__file__))
    pkg = os.path.join(root, "universal_pdf_extractor_spark")
    with zipfile.ZipFile(dest, "w", zipfile.ZIP_DEFLATED) as zf:
        for dirpath, _dirnames, filenames in os.walk(pkg):
            for fn in filenames:
                if fn.endswith(".py"):
                    full = os.path.join(dirpath, fn)
                    zf.write(full, os.path.relpath(full, root))
    print(f"wrote {dest}")


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="transcripts parquet path")
    ap.add_argument("--synthetic-sf", type=float,
                    help="generate the deterministic synthetic corpus at this sf")
    ap.add_argument("--output", help="output root directory")
    ap.add_argument("--groups", type=int, default=8,
                    help="resume granularity (hash bucket groups)")
    ap.add_argument("--split-segments", action="store_true",
                    help="skew escape hatch: repartition the extraction "
                         "kernel's input on (conv_id, segment_index), one "
                         "extra shuffle, so pathological conversations "
                         "split at statement boundaries — the "
                         "semantically-valid form of salting the conv_id "
                         "repartition (results identical)")
    ap.add_argument("--master", default=os.environ.get("SPARK_MASTER", "local[32]"))
    ap.add_argument("--make-pyfiles", help="write engine zip and exit")
    args = ap.parse_args(argv)

    if args.make_pyfiles:
        make_pyfiles(args.make_pyfiles)
        return 0
    if not args.output or not (args.input or args.synthetic_sf):
        ap.error("--output and one of --input/--synthetic-sf are required")

    from pyspark.sql import SparkSession

    from universal_pdf_extractor_spark.io.fixtures import (
        n_convs_for_sf,
        transcripts_sdf,
    )
    from universal_pdf_extractor_spark.io.manifest import run_with_resume

    spark = (
        SparkSession.builder.master(args.master)
        .appName("universal_pdf_extractor_spark-job")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    try:
        if args.input:
            transcripts = spark.read.parquet(args.input)
        else:
            transcripts = transcripts_sdf(spark, n_convs_for_sf(args.synthetic_sf))
        pipeline_fn = None
        if args.split_segments:
            from universal_pdf_extractor_spark.stages.pipeline import run_pipeline

            def pipeline_fn(df, **kw):
                return run_pipeline(df, split_segments=True, **kw)
        summary = run_with_resume(transcripts, args.output,
                                  n_groups=args.groups,
                                  run_pipeline_fn=pipeline_fn)
        print(json.dumps(summary))
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
