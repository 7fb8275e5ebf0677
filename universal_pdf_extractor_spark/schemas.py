"""Declared schemas for every engine table (nothing is inferred).

Mirrors the reference's fixed-contract discipline
(app/schemas/contracts.py:13-107 enforces shapes via Pydantic;
app/models/tables.py pins the at-rest DDL): pandas-UDF output schemas
are the enforcement point — a mismatch is a hard error.

Decimal columns follow the reference DDL: Numeric(15,2) for money,
Numeric(6,4) for tolerances, Numeric(5,4) for confidences
(tables.py:323-363).
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DateType,
    DecimalType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# primary input (BASELINE.json input_hint)
TRANSCRIPTS_SCHEMA = StructType([
    StructField("conv_id", StringType(), False),
    StructField("turn_idx", IntegerType(), False),
    StructField("role", StringType(), True),
    StructField("text", StringType(), True),
    StructField("tool", StringType(), True),
    StructField("ts", TimestampType(), True),
])

SPAN_TYPE = StructType([
    StructField("field", StringType(), False),
    StructField("start", IntegerType(), False),
    StructField("end", IntegerType(), False),
])

# per-turn main-content output (north-rule primary surface;
# FIXTURES.md §4 `expected_turns`)
TURNS_SCHEMA = StructType([
    StructField("conv_id", StringType(), False),
    StructField("turn_idx", IntegerType(), False),
    StructField("role", StringType(), True),
    StructField("ts", TimestampType(), True),
    StructField("extraction_path", StringType(), False),  # TEXT | TOOL | EMPTY
    StructField("raw_text", StringType(), False),
    StructField("clean_text", StringType(), False),
    StructField("spans", ArrayType(SPAN_TYPE), False),
    StructField("top_text", StringType(), False),
    StructField("n_lines", IntegerType(), False),
    StructField("n_tokens", IntegerType(), False),
])

# every value of turns.extraction_path (stages/tokenize.py)
EXTRACTION_PATHS = ("TEXT", "TOOL", "EMPTY")

# records.direction_source of every fallback tier
# (kernels/segment_extract.py); the "_rescue" variants mark cascade
# rescues on segments where neither majority routing rule fired
FALLBACK_TIERS = ("text_grid_table", "delim_table", "row_pattern",
                  "delim_table_rescue", "row_pattern_rescue")

# the manifest's parser key for main-path (non-fallback) records
COLUMN_PATH = "column_path"

# token IR (contracts.py:20-34), exposed for diagnostics / reuse
TOKEN_TYPE = StructType([
    StructField("text", StringType(), False),
    StructField("x0", DoubleType(), False),
    StructField("y0", DoubleType(), False),
    StructField("x1", DoubleType(), False),
    StructField("y1", DoubleType(), False),
    StructField("confidence", DoubleType(), False),
    StructField("start", IntegerType(), False),
    StructField("end", IntegerType(), False),
])

# extracted records (reference `transactions` DDL, tables.py:298-382)
RECORDS_SCHEMA = StructType([
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
    # True when the text-grid fallback parser produced this row
    # (orchestrator.py:793-930 analogue; direction_source is then
    # 'text_grid_table')
    StructField("fallback_used", BooleanType(), False),
    # per-field provenance spans (transaction_evidence analogue,
    # tables.py:388-420): char offsets into the source turn's text
    StructField("evidence", ArrayType(StructType([
        StructField("field", StringType(), False),
        StructField("turn_idx", IntegerType(), False),
        StructField("start", IntegerType(), False),
        StructField("end", IntegerType(), False),
    ])), False),
])

# per-segment metadata (reference `document_segments`, tables.py:95-127)
SEGMENTS_SCHEMA = StructType([
    StructField("conv_id", StringType(), False),
    StructField("segment_index", IntegerType(), False),
    StructField("start_turn", IntegerType(), False),
    StructField("end_turn", IntegerType(), False),
    StructField("opening_balance", DecimalType(15, 2), True),
    StructField("closing_balance", DecimalType(15, 2), True),
    StructField("n_records", IntegerType(), False),
])

# conversation-level rollup (reference `documents` + `extraction_runs`)
CONVERSATIONS_SCHEMA = StructType([
    StructField("conv_id", StringType(), False),
    StructField("doc_family", StringType(), False),
    StructField("doc_family_confidence", DecimalType(5, 4), False),
    StructField("provider", StringType(), True),
    StructField("provider_confidence", DecimalType(5, 4), True),
    # documents.currency char(3) analogue (tables.py:57-59), detected
    # from marker frequency with the reference's GBP default
    StructField("currency", StringType(), False),
    StructField("account_holder_name", StringType(), True),
    StructField("account_holder_address", StringType(), True),
    StructField("account_holder_postcode", StringType(), True),
    StructField("document_confidence", DecimalType(5, 4), False),
    StructField("reconciliation_rate", DecimalType(5, 4), False),
    StructField("validation_status", StringType(), False),
    StructField("final_status", StringType(), False),
    # full-scorer surfaces (confidence_scorer.py:72-133)
    StructField("hard_gate_failures", ArrayType(StringType()), False),
    StructField("warnings", ArrayType(StringType()), False),
    StructField("row_count", IntegerType(), False),
    StructField("n_segments", IntegerType(), False),
])
