"""Physical-plan guarantees the 100TB design depends on.

These assertions pin the scale-critical plan shapes so a refactor
cannot silently regress them:
- tokenize is shuffle-free (pipelines inside the scan stage);
- the whole tokenize -> segment -> extract chain introduces exactly
  ONE exchange (hash on conv_id), reused by both windows and the
  streamed mapInPandas extraction kernel;
- column pruning reaches the parquet scan (a narrow projection reads
  only the needed transcript columns — `text` excluded when unused).
"""

from __future__ import annotations

import pytest

from universal_pdf_extractor_spark.io.fixtures import generate_transcripts
from universal_pdf_extractor_spark.schemas import TRANSCRIPTS_SCHEMA
from universal_pdf_extractor_spark.stages.extract import extract_stage
from universal_pdf_extractor_spark.stages.segment import segment_stage
from universal_pdf_extractor_spark.stages.tokenize import tokenize_stage


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def transcripts(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("plans") / "corpus")
    pdf = generate_transcripts(10)
    spark.createDataFrame(pdf, schema=TRANSCRIPTS_SCHEMA) \
         .write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def test_tokenize_is_shuffle_free(transcripts):
    plan = _plan(tokenize_stage(transcripts))
    assert plan.count("Exchange") == 0


def test_single_exchange_feeds_windows_and_extract(transcripts):
    rec = extract_stage(segment_stage(tokenize_stage(transcripts)))
    plan = _plan(rec)
    assert plan.count("Exchange") == 1
    assert "hashpartitioning(conv_id" in plan
    assert "MapInPandas" in plan  # streamed, not per-group, Python I/O


def test_column_pruning_reaches_scan(transcripts):
    narrow = transcripts.select("conv_id", "turn_idx")
    plan = _plan(narrow)
    scan_lines = [l for l in plan.splitlines() if "FileScan" in l]
    assert scan_lines and "text" not in scan_lines[0]


def test_split_segments_grouping_is_equivalent(transcripts):
    """Skew escape hatch: (conv_id, segment_index) grouping must yield
    byte-identical records and diagnostics to conv_id grouping."""
    seg = segment_stage(tokenize_stage(transcripts))
    keys = ["conv_id", "segment_index", "row_type", "row_index"]
    a = extract_stage(seg, split_segments=False).toPandas() \
        .sort_values(keys).reset_index(drop=True)
    b = extract_stage(seg, split_segments=True).toPandas() \
        .sort_values(keys).reset_index(drop=True)
    assert a.equals(b)
    # and the split variant pays exactly one extra exchange
    plan = _plan(extract_stage(seg, split_segments=True))
    assert plan.count("Exchange") == 2


def test_ngram_candidate_phase_hashed_and_reused(spark, tmp_path_factory):
    """The jaccard candidate phase must shuffle 8-byte shingle hashes
    (xxhash64), and at runtime AQE must reuse the repartition barrier's
    exchange instead of recomputing the shingle arrays per branch."""
    import pandas as pd

    from universal_pdf_extractor_spark.datapipe.dedup import ngram_jaccard_pairs

    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [f"d{i}" for i in range(40)],
        "text": [f"alpha beta gamma delta epsilon zeta {i % 7}"
                 for i in range(40)],
    }))
    pairs = ngram_jaccard_pairs(docs, threshold=0.5)
    pairs.collect()
    plan = _plan(pairs)
    assert "xxhash64" in plan
    assert plan.count("ReusedExchange") >= 1


def test_filter_pushdown_reaches_scan(transcripts):
    filtered = transcripts.where("turn_idx = 0").select("conv_id")
    plan = _plan(filtered)
    assert "PushedFilters: [" in plan
    assert "EqualTo(turn_idx,0)" in plan or "turn_idx" in plan.split("PushedFilters")[1][:120]


def test_raster_stages_single_exchange_and_pruned(spark, tmp_path_factory):
    """The raster path is embarrassingly parallel: exactly ONE
    exchange (the deliberate post-limit repartition that undoes the
    GlobalLimit single-partition collapse), and the preprocess stage
    reads only (doc_id, payload, conf_micros) from the page snapshot —
    ground-truth parameter columns never reach Python."""
    import pandas as pd

    from universal_pdf_extractor_spark.datapipe.raster import (
        preprocess_pages,
        render_pages,
    )

    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [f"d{i}" for i in range(8)]}))
    pages = render_pages(docs)
    assert _plan(pages).count("Exchange") == 1

    path = str(tmp_path_factory.mktemp("raster") / "pages")
    pages.write.mode("overwrite").parquet(path)
    out = preprocess_pages(spark.read.parquet(path))
    plan = _plan(out)
    assert plan.count("Exchange") == 0          # shuffle-free
    scan = [l for l in plan.splitlines() if "FileScan" in l][0]
    assert "payload" in scan and "conf_micros" in scan
    assert "rot_deg" not in scan and "skew_milli" not in scan


def test_table_extract_shuffle_free_and_pruned(spark, tmp_path_factory):
    import pandas as pd

    from universal_pdf_extractor_spark.datapipe.raster import (
        extract_tables,
        render_table_pages,
    )

    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [f"d{i}" for i in range(8)]}))
    path = str(tmp_path_factory.mktemp("rtables") / "pages")
    render_table_pages(docs).write.mode("overwrite").parquet(path)
    plan = _plan(extract_tables(spark.read.parquet(path)))
    assert plan.count("Exchange") == 0
    scan = [l for l in plan.splitlines() if "FileScan" in l][0]
    assert "payload" in scan and "gt_mode" not in scan


def test_review_stats_single_partial_agg_exchange(spark):
    """The queue rollup is one partial-aggregate shuffle (map-side
    combine before the exchange)."""
    import pandas as pd

    from universal_pdf_extractor_spark.io.review import (
        review_queue_stats,
        route_to_review,
    )

    conv = spark.createDataFrame(pd.DataFrame({
        "conv_id": ["a", "b"], "validation_status": ["FAIL", "NEEDS_REVIEW"],
        "final_status": ["NEEDS_REVIEW", "NEEDS_REVIEW"],
        "hard_gate_failures": [["G"], []]}))
    plan = _plan(review_queue_stats(route_to_review(conv)))
    assert plan.count("Exchange") == 1
    assert plan.count("HashAggregate") >= 2      # partial + final
