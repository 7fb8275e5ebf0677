"""Stage 4 — per-segment record extraction (one mapInPandas kernel).

The sequential parts of the reference pipeline — row reconstruction
(table_extractor.py:243-321), role assignment ordering
(semantic_mapper.py:167-281) and the balance-chain walks
(balance_solver.py:172-245,390-430) — carry genuine running state, so
they execute inside ONE ``mapInPandas`` pass that walks each
conversation's segments in order.  Everything upstream (tokenize,
boundary scoring, segment ids) and downstream (scoring, joins,
ordering) is native.

Each segment is analysed once and yields both its records and its
detection diagnostics, as one ``row_type``-discriminated frame.  By
default the kernel runs straight over the segment stage's output,
which the window has already hash-partitioned by conv_id and sorted
by (conv_id, turn_idx): it reuses that exchange — the plan shows a
single Exchange feeding both — and one Arrow batch carries many whole
conversations.  Conversations are bounded by MAX_TURNS in this corpus;
for corpora with pathological conversation lengths,
``split_segments=True`` puts a (conv_id, segment_index) repartition
and sort in front of the same kernel (one extra shuffle, finer skew
splitting) — see stages/pipeline.py.

Output carries the reference `transactions` row shape
(tables.py:298-382) plus per-segment opening/closing balances used to
assemble the segments table without a second pass.
"""

from __future__ import annotations

from decimal import Decimal

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F  # noqa: N812
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DateType,
    DecimalType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..kernels.layout import tokenize_turn_lines
from ..kernels.segment_extract import analyse_segment

# per-field provenance (transaction_evidence analogue, tables.py:388-420)
EVIDENCE_TYPE = StructType([
    StructField("field", StringType(), False),
    StructField("turn_idx", IntegerType(), False),
    StructField("start", IntegerType(), False),
    StructField("end", IntegerType(), False),
])

RECORDS_STAGE_SCHEMA = StructType([
    StructField("conv_id", StringType(), False),
    StructField("segment_index", IntegerType(), False),
    StructField("row_index", IntegerType(), False),
    StructField("turn_idx", IntegerType(), False),
    StructField("posted_date", DateType(), True),
    StructField("description_raw", StringType(), True),
    StructField("description_clean", StringType(), True),
    StructField("amount", DecimalType(15, 2), True),
    StructField("direction", StringType(), False),
    StructField("direction_source", StringType(), True),
    StructField("running_balance", DecimalType(15, 2), True),
    StructField("balance_confirmed", BooleanType(), False),
    StructField("balance_tolerance_used", DecimalType(6, 4), True),
    StructField("confidence_amount", DecimalType(5, 4), True),
    StructField("confidence_date", DecimalType(5, 4), True),
    StructField("confidence_direction", DecimalType(5, 4), True),
    StructField("fallback_used", BooleanType(), False),
    StructField("evidence", ArrayType(EVIDENCE_TYPE), False),
    StructField("segment_opening_balance", DecimalType(15, 2), True),
    StructField("segment_closing_balance", DecimalType(15, 2), True),
    StructField("segment_closing_distinct", BooleanType(), False),
])

RECORD_COLUMNS = [f.name for f in RECORDS_STAGE_SCHEMA.fields]

# the stage's output: ONE analyse_segment pass per segment emits its
# records AND its detected_tables diagnostics (discriminated by
# row_type), so materializing detected_tables costs no extra Python
# work
_DIAG_FIELDS = [
    StructField("engine", StringType(), True),
    StructField("table_type", StringType(), True),
    StructField("row_count", IntegerType(), True),
    StructField("column_count", IntegerType(), True),
    StructField("bbox_json", StringType(), True),
    StructField("header_json", StringType(), True),
    StructField("column_mapping_json", StringType(), True),
]

COMBINED_STAGE_SCHEMA = StructType(
    [StructField("row_type", StringType(), False)]
    + [StructField(f.name, f.dataType, True) if f.name not in
       ("conv_id", "segment_index") else f
       for f in RECORDS_STAGE_SCHEMA.fields]
    + _DIAG_FIELDS)

_COMBINED_COLUMNS = [f.name for f in COMBINED_STAGE_SCHEMA.fields]
DIAG_COLUMNS = ["conv_id", "segment_index"] + [f.name for f in _DIAG_FIELDS]


_CONF_MEMO: dict[float, Decimal] = {}


def _conf(x: float) -> Decimal:
    # reference persists Decimal(str(round(x, 4))) (orchestrator.py:676-678);
    # confidences take a handful of distinct values, so memoize
    d = _CONF_MEMO.get(x)
    if d is None:
        if len(_CONF_MEMO) >= 4096:
            _CONF_MEMO.clear()
        d = _CONF_MEMO[x] = Decimal(str(round(x, 4)))
    return d


def _segment_lines(seg: pd.DataFrame) -> list[dict]:
    lines: list[dict] = []
    for turn_idx, payload in zip(seg["turn_idx"], seg["payload"]):
        turn_lines = tokenize_turn_lines(payload)
        for ln in turn_lines:
            ln["turn_idx"] = int(turn_idx)
            lines.append(ln)
    return lines


def _diag_row(conv_id: str, seg_idx: int, d: dict) -> dict:
    import json

    return {
        "conv_id": conv_id,
        "segment_index": int(seg_idx),
        "engine": d["engine"],
        "table_type": d["table_type"],
        "row_count": int(d["row_count"]),
        "column_count": (int(d["column_count"])
                         if d.get("column_count") is not None else None),
        "bbox_json": (json.dumps(d["bbox"], sort_keys=True)
                      if d.get("bbox") is not None else None),
        "header_json": (json.dumps(d["header"], sort_keys=True)
                        if d.get("header") is not None else None),
        "column_mapping_json": (json.dumps(d["column_mapping"], sort_keys=True)
                                if d.get("column_mapping") is not None else None),
    }


def _analyse_combined_into(pdf: pd.DataFrame, conv_id: str,
                           out_rows: list[dict]) -> None:
    """Records AND diagnostics from one analyse_segment call per
    segment (row_type-discriminated)."""
    for seg_idx, seg in pdf.groupby("segment_index", sort=True):
        result = analyse_segment(_segment_lines(seg))
        seg_idx = int(seg_idx)
        fallback_used = result["fallback_used"]
        opening = result["opening_balance"]
        closing = result["closing_balance"]
        closing_distinct = result["closing_balance_distinct"]
        for rec in result["records"]:
            # one dict literal covering every combined column, explicit
            # None for the diag-only ones: pandas fills missing keys
            # with float NaN, which Arrow cannot place in Decimal /
            # struct-typed columns
            out_rows.append({
                "row_type": "record",
                "conv_id": conv_id,
                "segment_index": seg_idx,
                "row_index": rec["row_index"],
                "turn_idx": rec["turn_idx"],
                "posted_date": rec["posted_date"],
                "description_raw": rec["description_raw"],
                "description_clean": rec["description_clean"],
                "amount": rec["amount"],
                "direction": rec["direction"],
                "direction_source": rec["direction_source"],
                "running_balance": rec["running_balance"],
                "balance_confirmed": rec["balance_confirmed"],
                "balance_tolerance_used": rec["balance_tolerance_used"],
                "confidence_amount": _conf(rec["confidence_amount"]),
                "confidence_date": _conf(rec["confidence_date"]),
                "confidence_direction": _conf(rec["confidence_direction"]),
                "fallback_used": fallback_used,
                "evidence": [(e["field"], e["turn_idx"], e["start"], e["end"])
                             for e in rec["evidence"]],
                "segment_opening_balance": opening,
                "segment_closing_balance": closing,
                "segment_closing_distinct": closing_distinct,
                "engine": None,
                "table_type": None,
                "row_count": None,
                "column_count": None,
                "bbox_json": None,
                "header_json": None,
                "column_mapping_json": None,
            })
        out_rows.append(dict(dict.fromkeys(_COMBINED_COLUMNS),
                             **_diag_row(conv_id, seg_idx,
                                         result["diagnostics"]),
                             row_type="diag", evidence=[]))


def _whole_conversations(batches):
    """Re-cut a sorted partition's Arrow batches at conv_id boundaries,
    buffering the trailing (possibly incomplete) conversation across
    batch boundaries."""
    leftover: pd.DataFrame | None = None
    for pdf in batches:
        if leftover is not None:
            pdf = pd.concat([leftover, pdf], ignore_index=True)
        if not len(pdf):
            continue
        # conv_ids are contiguous in a sorted partition, so the last
        # conversation is a suffix run; hold it back for the next batch
        last_conv = pdf["conv_id"].iloc[-1]
        split_at = len(pdf) - int((pdf["conv_id"] == last_conv).sum())
        yield pdf.iloc[:split_at]
        leftover = pdf.iloc[split_at:]
    if leftover is not None:
        yield leftover


def _extract_batches(batches):
    for pdf in _whole_conversations(batches):
        if len(pdf):
            out_rows: list[dict] = []
            for conv_id, grp in pdf.groupby("conv_id", sort=False):
                _analyse_combined_into(grp, conv_id, out_rows)
            yield pd.DataFrame(out_rows, columns=_COMBINED_COLUMNS)


def extract_stage(turns_seg: DataFrame, split_segments: bool = False) -> DataFrame:
    """turns(+segment_index) -> row_type-discriminated union of
    extracted records ("record", one per reconstructed transaction
    row) and per-segment diagnostics ("diag"), from ONE pass.

    Default grouping: mapInPandas over the segment stage's output,
    which the window has already hash-partitioned by conv_id AND
    sorted by (conv_id, turn_idx) within partitions (WindowExec's
    required sort covers partition keys then order keys).  That layout
    lets one Arrow batch carry MANY whole conversations — versus
    groupBy().applyInPandas, which pays one Python round trip per
    conversation (tiny ~30-row batches dominated by overhead).  The
    plan-shape test pins the no-extra-exchange property; the e2e
    oracle test pins value equality.

    split_segments=True is the skew escape hatch: an explicit
    repartition on (conv_id, segment_index) plus a sort in front of
    the same kernel, so giant documents split at statement boundaries.
    Results are identical — analysis state never crosses a segment
    boundary.
    """
    slim = turns_seg.select("conv_id", "turn_idx", "segment_index", "payload")
    if split_segments:
        slim = slim.repartition("conv_id", "segment_index") \
                   .sortWithinPartitions("conv_id", "segment_index", "turn_idx")
    return slim.mapInPandas(_extract_batches, schema=COMBINED_STAGE_SCHEMA)


def segments_table(turns_seg: DataFrame, records: DataFrame) -> DataFrame:
    """Per-segment ranges + balances (document_segments analogue)."""
    ranges = turns_seg.groupBy("conv_id", "segment_index").agg(
        F.min("turn_idx").cast("int").alias("start_turn"),
        F.max("turn_idx").cast("int").alias("end_turn"),
    )
    # the segment markers are constant across a segment's records, but
    # the pick is made order-explicit (min_by row_index) rather than
    # relying on F.first()'s undefined choice
    rec_agg = records.groupBy("conv_id", "segment_index").agg(
        F.min_by("segment_opening_balance", "row_index").alias("opening_balance"),
        F.min_by("segment_closing_balance", "row_index").alias("closing_balance"),
        F.count(F.lit(1)).cast("int").alias("n_records"),
    )
    return (
        ranges.join(rec_agg, ["conv_id", "segment_index"], "left")
        .withColumn("n_records", F.coalesce(F.col("n_records"), F.lit(0)).cast("int"))
        .select("conv_id", "segment_index", "start_turn", "end_turn",
                "opening_balance", "closing_balance", "n_records")
    )
