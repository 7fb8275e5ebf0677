"""End-to-end pipeline assembly.

    transcripts
      -> tokenize_stage      (no shuffle; Arrow-batched layout kernel)
      -> segment_stage       (native rlike + window; shuffle #1 on conv_id)
      -> extract_stage       (mapInPandas over whole conversations:
                              records and detected_tables diagnostics
                              from one pass; REUSES the conv_id
                              exchange - no new shuffle)
      -> classify_stage      (groupBy conv_id; reuses the exchange)
      -> conversations_table (agg over the small records frame)

Outputs: turns (north-rule per-turn main content), records
(transactions analogue), segments, conversations, detected_tables.

Scale notes (10^12 turns):
- the fat `text` column is shuffled exactly once (the conv_id
  exchange); all conversation-level stages hang off that one exchange;
- AQE handles skewed conversations at the exchange; for corpora with
  unbounded conversation lengths split_segments=True regroups the
  extraction kernel's input on (conv_id, segment_index) — one extra
  shuffle of the slim payload columns, and boundaries split giant
  documents the same way the reference segments multi-statement PDFs;
- outputs are written partitioned by bucket(conv_id) with
  (conv_id, turn_idx) sort order; see io/manifest.py for resumable
  per-bucket writes.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F  # noqa: N812

from .classify import classify_stage
from .extract import DIAG_COLUMNS, RECORD_COLUMNS, extract_stage, segments_table
from .score import conversations_table
from .segment import segment_stage
from .tokenize import tokenize_stage


def run_pipeline(transcripts: DataFrame, persist: bool = False,
                 split_segments: bool = False) -> dict[str, DataFrame]:
    """Assemble all output tables (lazily).

    persist=True caches the post-segmentation frame (the single
    conv_id exchange) and the extraction stage's row_type-discriminated
    frame, so forcing all five outputs does not recompute
    tokenize+window or the extraction kernel per sink; callers
    unpersist both via their ``.unpersist()`` (exposed as keys
    "_turns_seg" and "_records_stage").

    split_segments=True regroups the extraction kernel's input on
    (conv_id, segment_index) instead of reusing the conv_id exchange:
    one extra shuffle that lets a giant conversation spread over tasks
    at its statement boundaries.  Every output is identical either way.
    """
    # NOTE: an exchange-before-tokenize layout (shuffling only raw
    # transcript columns) was tried and rejected: ArrowEvalPython does
    # not propagate its child's outputPartitioning, so the windows
    # would re-shuffle the (fatter) tokenized frame anyway — costing
    # two exchanges instead of one.
    turns = tokenize_stage(transcripts)
    turns_seg = segment_stage(turns)
    # top_text is only consumed by the boundary score above — keep the
    # cached/downstream frame free of it
    turns_seg = turns_seg.drop("top_text")
    if persist:
        turns_seg = turns_seg.persist(StorageLevel.MEMORY_AND_DISK)

    # ONE analyse_segment pass yields records AND per-segment
    # diagnostics (row_type-discriminated): segments, conversations
    # and detected_tables all read this frame
    combined = extract_stage(turns_seg, split_segments)
    if persist:
        combined = combined.persist(StorageLevel.MEMORY_AND_DISK)
    records_stage = combined.where(F.col("row_type") == "record") \
                            .select(*RECORD_COLUMNS)
    records = records_stage.drop("segment_opening_balance",
                                 "segment_closing_balance",
                                 "segment_closing_distinct")
    segments = segments_table(turns_seg, records_stage)

    # n_segments folds into classify's per-conversation aggregation:
    # one pass over the cached turns frame instead of two plus a join
    # (same groupBy keys, identical values)
    conv_meta = classify_stage(
        turns_seg,
        extra_aggs=((F.max("segment_index") + 1).cast("int")
                    .alias("n_segments"),),
        extra_cols=("n_segments",))
    conversations = conversations_table(conv_meta, records_stage)

    # spans ride internally as parallel int arrays; zip them into the
    # contract's (field, start, end) structs natively at output time
    spans = F.transform(
        F.arrays_zip("span_starts", "span_ends"),
        lambda z: F.struct(F.lit("content").alias("field"),
                           z["span_starts"].alias("start"),
                           z["span_ends"].alias("end")))
    turns_out = turns_seg.withColumn("spans", spans).select(
        "conv_id", "turn_idx", "role", "ts", "extraction_path",
        "raw_text", "clean_text", "spans",
        "n_lines", "n_tokens", "mean_token_confidence", "segment_index",
        "boundary_score", "is_boundary", "boundary_confidence",
    )
    detected = combined.where(F.col("row_type") == "diag") \
                       .select(*DIAG_COLUMNS)
    out = {
        "turns": turns_out,
        "records": records,
        "segments": segments,
        "conversations": conversations,
        "detected_tables": detected,
    }
    if persist:
        out["_turns_seg"] = turns_seg
        out["_records_stage"] = combined
    return out
