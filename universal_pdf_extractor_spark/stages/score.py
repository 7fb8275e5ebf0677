"""Stage 5 — conversation rollup: confidence scoring, hard gates,
warnings, statuses.

Native aggregations only.  Parity with the reference scorer
(confidence_scorer.py:26-148) applied at conversation level:

  document_confidence = round(0.35*recon + 0.25*mean_balance_conf
                            + 0.20*mean_direction + 0.10*mean_amount
                            + 0.10*mean_date, 4)
  with confidence_balance := 0.8 if balance_confirmed else 0.0
  (orchestrator.py:398).

Hard gates (confidence_scorer.py:72-110, Decision D-006) and warnings
(:112-121) are evaluated as native CASE/sum() aggregates and emitted
as array<string> columns; gate-driven status overrides follow
confidence_scorer.py:123-133 exactly (BALANCE_MISMATCH -> NEEDS_REVIEW,
any other gate -> FAIL, else thresholds with PASS requiring zero
warnings).  Note the reference *orchestrator* integration
(orchestrator.py:391-417) drops the scorer's gates by passing
transaction dicts without direction/amount/balances and re-deriving
status from thresholds alone; this engine feeds the scorer its full
inputs, as the scorer API specifies — the stricter, safer contract.

final_status: COMPLETED iff validation_status is PASS or
PASS_WITH_WARNINGS (orchestrator.py:406-417 collapsed over the gate-
aware statuses).

``conversations_table``'s aggregates, score, gates, warnings and
status ladder are SQL text built at import time: in PySpark 4.1 every
Column method call makes ~20 py4j round trips (origin tracking), one
``F.expr`` or ``selectExpr`` string about 6, and the stage is rebuilt
for every resume group.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F  # noqa: N812

from ..kernels.classify import (
    CONFIDENCE_FAIL_THRESHOLD,
    CONFIDENCE_PASS_THRESHOLD,
    CONFIDENCE_WARN_THRESHOLD,
    DOCUMENT_WEIGHTS,
)
from ..kernels.patterns import sql_double


_AGGS = (
    "CAST(count(1) AS INT) AS row_count",
    "avg(CAST(confidence_amount AS DOUBLE)) AS _mean_amount",
    "avg(CAST(confidence_direction AS DOUBLE)) AS _mean_direction",
    "avg(CAST(confidence_date AS DOUBLE)) AS _mean_date",
    "avg(CASE WHEN balance_confirmed THEN 0.8D ELSE 0.0D END) AS _mean_balance",
    "avg(CAST(balance_confirmed AS DOUBLE)) AS _recon_rate",
    "CAST(sum(CASE WHEN direction = 'UNKNOWN' THEN 1 ELSE 0 END) AS INT) AS _unknown_count",
    *(f"coalesce(sum(CASE WHEN direction = '{d}' AND amount IS NOT NULL THEN abs(amount) END),"
      f" CAST(0 AS DECIMAL(15,2))) AS {name}"
      for d, name in (("DEBIT", "_total_debits"), ("CREDIT", "_total_credits"))),
    "CAST(max(segment_index) + 1 AS INT) AS _n_rec_segments",
)
_BALANCE_AGGS = (
    "min_by(segment_opening_balance, segment_index) AS _opening",
    "CASE WHEN max_by(segment_closing_distinct, segment_index)"
    " THEN max_by(segment_closing_balance, segment_index) END AS _closing",
)
# scorer called without balances: the mismatch gate never fires
_NO_BALANCE_AGGS = ("CAST(NULL AS DECIMAL(15,2)) AS _opening",
                    "CAST(NULL AS DECIMAL(15,2)) AS _closing")

_WEIGHTED = " + ".join(
    f"{sql_double(DOCUMENT_WEIGHTS[w])} * {c}" for w, c in (
        ("reconciliation_rate", "_recon_rate"),
        ("mean_balance_confidence", "_mean_balance"),
        ("mean_direction_confidence", "_mean_direction"),
        ("mean_amount_confidence", "_mean_amount"),
        ("mean_date_confidence", "_mean_date")))
# expected closing = opening + credits - debits (confidence_scorer.py:95-110)
_BALANCE_DIFF = "abs(_opening + _total_credits - _total_debits - _closing)"
_GATES = f"""filter(array(
    CASE WHEN NOT row_count > 0 THEN 'NO_TRANSACTIONS' END,
    CASE WHEN row_count > 0 AND _unknown_count = row_count
         THEN 'HARD_GATE_ALL_DIRECTIONS_UNKNOWN' END,
    CASE WHEN row_count > 0 AND _recon_rate < 0.5D AND row_count > 5
         THEN 'HARD_GATE_LOW_RECONCILIATION' END,
    CASE WHEN row_count > 0 AND _mean_amount < 0.5D
         THEN 'HARD_GATE_LOW_AMOUNT_CONFIDENCE' END,
    CASE WHEN row_count > 0 AND _opening IS NOT NULL AND _closing IS NOT NULL
              AND {_BALANCE_DIFF} > CAST('5.00' AS DECIMAL(15,2))
         THEN concat('HARD_GATE_BALANCE_MISMATCH_',
                     CAST(CAST({_BALANCE_DIFF} AS DECIMAL(15,2)) AS STRING)) END
), x -> x IS NOT NULL)"""
_WARNINGS = """filter(array(
    CASE WHEN row_count > 0 AND _unknown_count > 0 AND _unknown_count < row_count
         THEN concat('WARN_', CAST(_unknown_count AS STRING), '_UNKNOWN_DIRECTIONS') END,
    CASE WHEN row_count > 0 AND _mean_date < 0.7D THEN 'WARN_LOW_DATE_CONFIDENCE' END,
    CASE WHEN row_count > 0 AND _recon_rate >= 0.5D AND _recon_rate < 0.8D
         THEN 'WARN_MODERATE_RECONCILIATION' END
), x -> x IS NOT NULL)"""
# thresholds compare the UNROUNDED score (confidence_scorer.py:123-133
# uses `weighted`, not the rounded output value)
_STATUS = f"""CASE
    WHEN size(hard_gate_failures) > 0
         AND exists(hard_gate_failures, g -> contains(g, 'BALANCE_MISMATCH')) THEN 'NEEDS_REVIEW'
    WHEN size(hard_gate_failures) > 0 THEN 'FAIL'
    WHEN _weighted >= {sql_double(CONFIDENCE_PASS_THRESHOLD)} AND size(warnings) = 0 THEN 'PASS'
    WHEN _weighted >= {sql_double(CONFIDENCE_WARN_THRESHOLD)} THEN 'PASS_WITH_WARNINGS'
    WHEN _weighted >= {sql_double(CONFIDENCE_FAIL_THRESHOLD)} THEN 'NEEDS_REVIEW'
    ELSE 'FAIL' END"""
_FINAL_STATUS = ("CASE WHEN validation_status IN ('PASS', 'PASS_WITH_WARNINGS')"
                 " THEN 'COMPLETED' ELSE 'NEEDS_REVIEW' END")


def conversations_table(conv_meta: DataFrame, records: DataFrame) -> DataFrame:
    """classification rollup x record aggregates -> conversations.

    ``records`` is the records-stage frame (extract.py), whose rows
    carry their segment's opening/closing markers: the mismatch gate's
    conversation balances are the first record-bearing segment's
    opening and the last record-bearing segment's closing — the latter
    only when flagged distinct (a first==last single-marker segment is
    not independent closing evidence).  When those stage columns are
    absent the gate never fires (scorer called without balances).
    """
    has_balances = "segment_opening_balance" in records.columns
    aggs = _AGGS + (_BALANCE_AGGS if has_balances else _NO_BALANCE_AGGS)
    agg = records.groupBy("conv_id").agg(*(F.expr(a) for a in aggs))

    df = conv_meta.join(agg, "conv_id", "left")
    df = df.fillna({"row_count": 0, "_mean_amount": 0.0, "_mean_direction": 0.0,
                    "_mean_date": 0.0, "_mean_balance": 0.0, "_recon_rate": 0.0,
                    "_unknown_count": 0})
    df = df.selectExpr("*", f"{_WEIGHTED} AS _weighted",
                       f"{_GATES} AS hard_gate_failures", f"{_WARNINGS} AS warnings")
    df = df.selectExpr("*", f"{_STATUS} AS validation_status")
    passthrough = [c for c in ("n_segments",) if c in conv_meta.columns]
    return df.selectExpr(
        "conv_id", "doc_family", "doc_family_confidence",
        "provider", "provider_confidence", "currency",
        "account_holder_name", "account_holder_address", "account_holder_postcode",
        "round(_weighted, 4) AS document_confidence",
        "round(_recon_rate, 4) AS reconciliation_rate",
        "validation_status", f"{_FINAL_STATUS} AS final_status",
        "hard_gate_failures", "warnings", "row_count",
        *passthrough,
    )


def score_records_exact(records: DataFrame) -> DataFrame:
    """The same scoring ladder as ``conversations_table`` re-expressed
    in EXACT BIGINT arithmetic, for oracle-checked surfaces (the
    review queue): per-record confidences become basis points, the
    weighted document score becomes floor-micros

        confidence_micros = (550000*n_reconciled + 10*M) DIV n,
        M = sum(2*dir_bp + amt_bp + date_bp)

    (0.35*recon + 0.25*mean_balance with mean_balance = 0.8*recon
    collapses to 0.55*recon, orchestrator.py:398; the 0.20/0.10/0.10
    weights scale the bp sums by 2/1/1), and every gate / warning /
    threshold test is an integer comparison — floor preserves ``>=``
    against the integer thresholds 850000/700000/500000.  Intended for
    fallback-tier record slices, where confidences are exact
    hundredths (tier constants, segment_extract.py:497-602) so the bp
    conversion is lossless; convs absent from ``records`` (the
    NO_TRANSACTIONS gate) and the balance-mismatch gate (needs segment
    balances) are out of scope here by construction.  Agreement with
    the double ladder is pytest-gated (tests/test_review.py)."""
    def bp(c: str):
        return F.round(F.col(c) * 10000).cast("long")

    per = records.select(
        "conv_id",
        (2 * bp("confidence_direction") + bp("confidence_amount")
         + bp("confidence_date")).alias("m_bp"),
        bp("confidence_amount").alias("amt_bp"),
        bp("confidence_date").alias("date_bp"),
        (F.col("direction") == "UNKNOWN").cast("long").alias("unk"),
        F.col("balance_confirmed").cast("long").alias("recon"))
    agg = per.groupBy("conv_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_records"),
        F.sum("unk").alias("n_unknown"),
        F.sum("recon").alias("_n_recon"),
        F.sum("m_bp").alias("_m"),
        F.sum("amt_bp").alias("_s_amt"),
        F.sum("date_bp").alias("_s_date"))
    n, unk, nr = F.col("n_records"), F.col("n_unknown"), F.col("_n_recon")
    scored = agg.withColumn(
        "confidence_micros",
        F.expr("(550000 * _n_recon + 10 * _m) DIV n_records").cast("long"))
    gates = F.filter(F.array(
        F.when(unk == n, F.lit("HARD_GATE_ALL_DIRECTIONS_UNKNOWN")),
        F.when((2 * nr < n) & (n > 5), F.lit("HARD_GATE_LOW_RECONCILIATION")),
        F.when(F.col("_s_amt") < 5000 * n,
               F.lit("HARD_GATE_LOW_AMOUNT_CONFIDENCE")),
    ), lambda x: x.isNotNull())
    scored = scored.withColumn("hard_gate_failures", gates)
    has_warn = (((unk > 0) & (unk < n))
                | (F.col("_s_date") < 7000 * n)
                | ((2 * nr >= n) & (5 * nr < 4 * n)))
    c = F.col("confidence_micros")
    scored = scored.withColumn(
        "validation_status",
        F.when(F.size("hard_gate_failures") > 0, "FAIL")
         .when((c >= 850000) & ~has_warn, "PASS")
         .when(c >= 700000, "PASS_WITH_WARNINGS")
         .when(c >= 500000, "NEEDS_REVIEW")
         .otherwise("FAIL"))
    scored = scored.withColumn(
        "final_status",
        F.when(F.col("validation_status").isin("PASS", "PASS_WITH_WARNINGS"),
               "COMPLETED").otherwise("NEEDS_REVIEW"))
    return scored.select("conv_id", "n_records", "n_unknown",
                         "confidence_micros", "hard_gate_failures",
                         "validation_status", "final_status")
