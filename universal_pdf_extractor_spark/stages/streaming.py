"""Structured Streaming surface.

The reference is batch-per-document (SURVEY.md §2.11: RQ queue ≈
micro-batch trigger), but the per-turn half of this engine — tokenize,
reading-order rebuild, boilerplate strip, span offsets, boundary
scoring — is stateless per row, so the SAME stage functions run
unchanged under ``readStream``:

    stream_turns: file-stream of transcript parquet -> per-turn
        main-content rows, append mode (exactly the batch tokenize
        stage + native boundary score; no state store needed).
    stream_conversation_activity: watermarked session windows over
        turn timestamps -> turns-per-conversation-session counts
        (late data beyond the watermark is dropped, the streaming
        analogue of the run/partition state machine).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F  # noqa: N812
from pyspark.sql.types import (
    BooleanType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..schemas import TRANSCRIPTS_SCHEMA
from .segment import boundary_score_col
from .tokenize import tokenize_stage


def stream_turns(spark: SparkSession, input_path: str,
                 max_files_per_trigger: int = 16) -> DataFrame:
    """Streaming per-turn extraction (append-mode safe: stateless)."""
    stream = (spark.readStream.schema(TRANSCRIPTS_SCHEMA)
              .option("maxFilesPerTrigger", max_files_per_trigger)
              .parquet(input_path))
    turns = tokenize_stage(stream)
    return turns.withColumn("boundary_score", boundary_score_col(F.col("top_text"))) \
                .drop("payload")


SEG_STATE_SCHEMA = StructType([
    StructField("n_boundaries", IntegerType(), False),
    StructField("last_turn_idx", IntegerType(), False),
])

SEG_OUT_SCHEMA = StructType([
    StructField("conv_id", StringType(), False),
    StructField("turn_idx", IntegerType(), False),
    StructField("is_boundary", BooleanType(), False),
    StructField("segment_index", IntegerType(), False),
])


def _assign_segments_stateful(key, pdfs, state):
    """applyInPandasWithState body: running boundary count per conv.

    State carries (boundary count so far, last processed turn_idx) so
    segment indices stay correct across micro-batches.  Rows within a
    batch are sorted by turn_idx; cross-batch order is the file
    source's responsibility (turn-ordered input files — the streaming
    analogue of the batch window's sort).
    """
    import numpy as np
    import pandas as pd

    conv_id = key[0]
    first_seen = not state.exists
    n_bound, last_turn = (state.get if state.exists else (0, -1))
    frames = []
    for pdf in pdfs:
        pdf = pdf.sort_values("turn_idx")
        if len(pdf) and int(pdf["turn_idx"].iloc[0]) <= last_turn:
            # the file source orders batches by modification time, not
            # filename: out-of-order arrival would silently mis-number
            # every later segment, so fail loudly instead
            raise ValueError(
                f"out-of-order turns for {conv_id}: got turn_idx "
                f"{int(pdf['turn_idx'].iloc[0])} after {last_turn}; "
                "stream input files must arrive in turn order")
        flags = pdf["strong_signal"].to_numpy().copy()
        if first_seen and len(pdf):
            # the conversation's very first row is always a boundary —
            # tracked via state existence, matching the batch window's
            # row_number()==1 rule even when turn indices don't start
            # at 0
            flags[0] = True
            first_seen = False
        segs = n_bound + np.cumsum(flags) - 1
        n_bound += int(flags.sum())
        if len(pdf):
            last_turn = int(pdf["turn_idx"].iloc[-1])
        frames.append(pd.DataFrame({
            "conv_id": conv_id,
            "turn_idx": pdf["turn_idx"].to_numpy(),
            "is_boundary": flags,
            "segment_index": segs.astype("int32"),
        }))
    state.update((int(n_bound), int(last_turn)))
    yield from frames


def stream_segment_assignment(spark: SparkSession, input_path: str,
                              max_files_per_trigger: int = 1) -> DataFrame:
    """Custom stateful streaming operator: incremental segment-index
    assignment (the batch cumsum window re-expressed over GroupState).

    Boundary semantics match segment_stage exactly: first turn of a
    conversation, or any strong signal group matching in the top band
    (score >= 0.8 <=> >= one 1.0 group).
    """
    from ..kernels.layout import TOP_REGION_LINES
    from ..kernels.patterns import (
        ACCOUNT_HEADER_RLIKE,
        OPENING_BALANCE_RLIKE,
        STATEMENT_PERIOD_RLIKE,
    )
    strong = (f"(?:{STATEMENT_PERIOD_RLIKE})|(?:{OPENING_BALANCE_RLIKE})"
              f"|(?:{ACCOUNT_HEADER_RLIKE})")
    stream = (spark.readStream.schema(TRANSCRIPTS_SCHEMA)
              .option("maxFilesPerTrigger", max_files_per_trigger)
              .parquet(input_path))
    # native top-band probe: only the boolean strong-signal matters
    # here, so skip the full Arrow view UDF (raw/clean text, spans)
    # and build top_text with column expressions — the same
    # construction as layout.turn_view: whitespace-normalized
    # non-empty lines among the first TOP_REGION_LINES original
    # lines, ' '-joined, lowered; equality with the UDF path is pinned
    # by tests/test_streaming.py.  Python's str.split() whitespace is
    # Java's Unicode \s plus the \x1c-\x1f separators; a bare \s is
    # ASCII-only in Java and would miss NBSP, \u2003 and the like
    text_ok = F.col("text").isNotNull() & (F.col("text") != "")
    tool_ok = F.col("tool").isNotNull() & (F.col("tool") != "")
    payload = F.when(text_ok, F.col("text")) \
               .when(tool_ok, F.col("tool")).otherwise(F.lit(""))
    top_text = F.lower(F.array_join(F.filter(
        F.transform(F.slice(F.split(payload, "\n"), 1, TOP_REGION_LINES),
                    lambda l: F.trim(F.regexp_replace(l, r"(?U)[\s\x1c-\x1f]+", " "))),
        lambda l: l != ""), " "))
    turns = stream.select(
        "conv_id", "turn_idx",
        top_text.rlike(strong).alias("strong_signal"))
    return turns.groupBy("conv_id").applyInPandasWithState(
        _assign_segments_stateful,
        outputStructType=SEG_OUT_SCHEMA,
        stateStructType=SEG_STATE_SCHEMA,
        outputMode="append",
        timeoutConf="NoTimeout",
    )


def stream_conversation_activity(spark: SparkSession, input_path: str,
                                 gap: str = "30 minutes",
                                 watermark: str = "2 hours") -> DataFrame:
    """Watermarked session-window rollup of turn activity."""
    stream = (spark.readStream.schema(TRANSCRIPTS_SCHEMA)
              .parquet(input_path))
    return (stream.withWatermark("ts", watermark)
            .groupBy(F.session_window("ts", gap), F.col("conv_id"))
            .agg(F.count(F.lit(1)).alias("n_turns"),
                 F.sum(F.length(F.coalesce(F.col("text"), F.lit("")))).alias("n_chars"))
            .select(F.col("session_window.start").alias("session_start"),
                    F.col("session_window.end").alias("session_end"),
                    "conv_id", "n_turns", "n_chars"))
