"""Optimization-round instrumentation (guide §1): noop-sink isolation
of pipeline phases and dedup sub-phases.  NOT the frozen bench —
numbers here guide optimization; bench.py stays the measured surface.

Usage:
  SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
      python bench_extra.py [phase ...]
Phases: pipeline, dedup, queries (default: all).
"""

from __future__ import annotations

import json
import os
import sys
import time

os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")

from pyspark import StorageLevel
from pyspark.sql import SparkSession
from pyspark.sql import functions as F  # noqa: N812

from universal_pdf_extractor_spark import entry_queries
from universal_pdf_extractor_spark.io.fixtures import n_convs_for_sf, transcripts_sdf

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def build_spark() -> SparkSession:
    return (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName("updx-bench-extra")
        .config("spark.sql.shuffle.partitions", str(max(CPUS, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def timed(spark, label: str, fn, n: int = 2) -> float:
    best = float("inf")
    for _ in range(n):
        spark.sparkContext.setJobDescription(label)
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    spark.sparkContext.setJobDescription(None)
    print(f"  {label:<44} {best:8.3f}s", flush=True)
    return round(best, 3)


def main() -> None:
    phases = set(sys.argv[1:]) or {"pipeline", "dedup", "queries"}
    sf = entry_queries.sf_from_dir(SF_DIR)
    n_convs = n_convs_for_sf(sf)
    spark = build_spark()
    spark.sparkContext.setLogLevel("ERROR")
    results: dict[str, float] = {}

    corpus_path = f"/tmp/updf_spark_bench/transcripts_sf{sf}"
    if not os.path.exists(os.path.join(corpus_path, "_SUCCESS")):
        transcripts_sdf(spark, n_convs, partitions=max(CPUS * 4, 64)) \
            .write.mode("overwrite").parquet(corpus_path)
    transcripts = spark.read.parquet(corpus_path)

    if "pipeline" in phases:
        from universal_pdf_extractor_spark.stages.classify import classify_stage
        from universal_pdf_extractor_spark.stages.extract import extract_stage
        from universal_pdf_extractor_spark.stages.pipeline import run_pipeline
        from universal_pdf_extractor_spark.stages.segment import segment_stage
        from universal_pdf_extractor_spark.stages.tokenize import tokenize_stage

        print("== pipeline phases (noop-isolated) ==", flush=True)
        # warm-up python workers
        noop(tokenize_stage(transcripts.where("conv_id like '%00'")))

        turns = tokenize_stage(transcripts)
        results["p1_tokenize"] = timed(spark, "p1 tokenize only", lambda: noop(turns))
        turns_seg = segment_stage(turns).drop("top_text")
        results["p2_tok_seg"] = timed(spark, "p2 tokenize+segment", lambda: noop(turns_seg))
        comb = extract_stage(turns_seg)
        results["p3_extract"] = timed(spark, "p3 tok+seg+extract", lambda: noop(comb))
        cls = classify_stage(turns_seg)
        results["p4_classify"] = timed(spark, "p4 tok+seg+classify", lambda: noop(cls))

        def full(persist=True):
            import shutil
            out_dir = f"/tmp/updf_extra/out_sf{sf}"
            shutil.rmtree(out_dir, ignore_errors=True)
            outputs = run_pipeline(transcripts, persist=persist)
            cached = [outputs.pop(k) for k in list(outputs) if k.startswith("_")]
            for name, df in outputs.items():
                df.write.mode("overwrite").parquet(os.path.join(out_dir, name))
            for c in cached:
                c.unpersist()

        results["p5_full_persist"] = timed(spark, "p5 full pipeline (persist+write)", full)

        # p5 sub-breakdown: force each output of ONE persisted assembly
        import shutil
        out_dir = f"/tmp/updf_extra/out2_sf{sf}"
        shutil.rmtree(out_dir, ignore_errors=True)
        outputs = run_pipeline(transcripts, persist=True)
        cached = [outputs.pop(k) for k in list(outputs) if k.startswith("_")]
        for name, df in outputs.items():
            results[f"p5_{name}"] = timed(
                spark, f"p5.write {name}",
                lambda name=name, df=df: df.write.mode("overwrite")
                    .parquet(os.path.join(out_dir, name)), n=1)
        for c in cached:
            c.unpersist()

        results["p6_full_nopersist"] = timed(
            spark, "p6 full pipeline (no persist)", lambda: full(False), n=1)

    if "dedup" in phases:
        from universal_pdf_extractor_spark.datapipe import dedup

        print("== dedup sub-phases ==", flush=True)
        docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
        noop(docs)  # warm file scan

        shingled = docs.select(
            F.col("doc_id"),
            dedup.word_shingles(F.col("text"), 3).alias("shingles"))
        results["d1_shingles"] = timed(spark, "d1 shingle arrays only", lambda: noop(shingled))
        results["d2_ngram_full"] = timed(
            spark, "d2 ngram_jaccard full",
            lambda: noop(dedup.ngram_jaccard_pairs(docs, threshold=0.5)))
        sigs = dedup.minhash_signatures(docs)
        results["d3_minhash_sigs"] = timed(spark, "d3 minhash signatures only", lambda: noop(sigs))
        results["d4_minhash_full"] = timed(
            spark, "d4 minhash_lsh full",
            lambda: noop(dedup.minhash_lsh_pairs(docs, threshold=0.5)))
        fps = dedup.simhash_fingerprints(docs)
        results["d5_simhash_fps"] = timed(spark, "d5 simhash fingerprints only", lambda: noop(fps))
        results["d6_simhash_full"] = timed(
            spark, "d6 simhash full",
            lambda: noop(dedup.simhash_near_dups(docs, max_hamming=3)))

    if "queries" in phases:
        print("== remaining bench queries ==", flush=True)
        registry = entry_queries.queries()
        for name in ("amount_parse_roundtrip", "ann_ivf_topk",
                     "text_repetition_scores", "text_pii_scan",
                     "boilerplate_strip_docs", "cumsum_segmentation"):
            fn = registry[name]
            results[f"q_{name}"] = timed(
                spark, f"q {name}", lambda fn=fn: noop(fn(spark, SF_DIR)))

    print(json.dumps(results))
    spark.stop()


if __name__ == "__main__":
    main()
