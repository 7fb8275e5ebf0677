"""Stage 3 — conversation-level classification (native regex folds).

Parity with the integrated reference path (orchestrator.py:316-345):
classification, provider detection and customer-info extraction all
run over ONE combined string — '\\n'.join of the non-empty per-turn
raw_texts in turn order.

- doc classifier (doc_classifier.py:62-105): per-keyword weighted
  additions chained in pattern order (fp-order parity), capped at
  1.0, argmax with a 0.3 floor;
- provider detector (provider_detector.py:99-127): per-provider match
  counts * 0.4 capped at 1.0; best score wins, first-seen provider
  wins ties (greatest over (score, -order, name) structs);
- customer info (orchestrator.py:79-146): postcode anchor + walk-back
  block — a sequential scan, so it stays in a small pandas UDF over
  the one-row-per-conversation frame.

The groupBy(conv_id) reuses the segment stage's hash exchange when
chained after it; classification itself adds no UDF over turn rows.

The scores, argmaxes and labels are SQL text built from the pattern
tables at import time, not composed Column by Column: in PySpark 4.1
every Column method call makes ~20 py4j round trips (origin tracking),
so the ~130-term expression tree cost ~0.5 s of driver time per build.
As text it is one ``F.expr`` per output column, which the JVM parses
into the same tree (same guards, same left-to-right additions, DOUBLE
literals).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F  # noqa: N812
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType, StructField, StructType

from ..kernels.classify import (
    BANK_STATEMENT_WEIGHT,
    CLASSIFY_FLOOR,
    CURRENCY_PATTERN_STRINGS,
    MOTOR_FINANCE_WEIGHT,
    PROVIDER_MATCH_WEIGHT,
)
from ..kernels.customer import extract_customer_info
from ..kernels.patterns import (
    BANK_STATEMENT_KEYWORDS,
    MOTOR_FINANCE_KEYWORDS,
    PROVIDER_PATTERNS,
    _noncapturing,
    pattern_literal,
    sql_double,
    sql_string,
)

_CUSTOMER_TYPE = StructType([
    StructField("account_holder_name", StringType(), True),
    StructField("account_holder_address", StringType(), True),
    StructField("account_holder_postcode", StringType(), True),
])


@pandas_udf(_CUSTOMER_TYPE)
def _customer_udf(conv_text: pd.Series) -> pd.DataFrame:
    rows = [extract_customer_info(t or "") for t in conv_text]
    return pd.DataFrame(rows, index=conv_text.index)


def _guarded_match(pattern: str) -> str:
    """rlike guarded by a cheap mandatory-literal contains() prefilter.

    Semantically identical to a bare rlike: the literal is required by
    every alternative of the pattern, so contains()==false implies the
    regex cannot match; contains() is a fast JVM indexOf over text the
    regex engine would otherwise scan position-by-position."""
    lit = pattern_literal(pattern)
    probe = f"(_lowered RLIKE {sql_string(_noncapturing(pattern))})"
    if lit is None:
        return probe
    return f"(contains(_lowered, {sql_string(lit)}) AND {probe})"


def _keyword_score(patterns: list[str], weight: float) -> str:
    """Chained weighted additions in pattern order, capped at 1.0."""
    terms = "".join(f" + CASE WHEN {_guarded_match(p)} THEN {sql_double(weight)} ELSE 0.0D END"
                    for p in patterns)
    return f"least(0.0D{terms}, 1.0D)"


def _provider_best() -> str:
    """greatest((score, -order, name)) -> first-seen wins ties."""
    candidates = []
    for order, (provider, patterns) in enumerate(PROVIDER_PATTERNS.items()):
        matches = "".join(f" + CASE WHEN {_guarded_match(p)} THEN 1 ELSE 0 END"
                          for p in patterns)
        score = f"least(CAST(0{matches} AS DOUBLE) * {sql_double(PROVIDER_MATCH_WEIGHT)}, 1.0D)"
        candidates.append(f"named_struct('score', {score}, 'neg_order', {-order}, "
                          f"'name', {sql_string(provider)})")
    return f"greatest({', '.join(candidates)})"


def _currency_best() -> str:
    """greatest((count, -order, name)): the kernel's first-max rule."""
    candidates = [f"named_struct('n', regexp_count(_lowered, {sql_string(pat)}), "
                  f"'neg_order', {-order}, 'name', {sql_string(ccy)})"
                  for order, (ccy, pat) in enumerate(CURRENCY_PATTERN_STRINGS)]
    return f"greatest({', '.join(candidates)})"


_FLOOR = sql_double(CLASSIFY_FLOOR)
_BS_WINS = f"_bs > _mf AND _bs >= {_FLOOR}"
_MF_WINS = f"_mf > _bs AND _mf >= {_FLOOR}"
_SCORES = (
    f"{_keyword_score(MOTOR_FINANCE_KEYWORDS, MOTOR_FINANCE_WEIGHT)} AS _mf",
    f"{_keyword_score(BANK_STATEMENT_KEYWORDS, BANK_STATEMENT_WEIGHT)} AS _bs",
    f"{_provider_best()} AS _best",
    f"{_currency_best()} AS _ccy",
)
_LABELS = (
    f"CASE WHEN {_BS_WINS} THEN 'BANK_STATEMENT' WHEN {_MF_WINS} THEN 'MOTOR_FINANCE' "
    "ELSE 'UNKNOWN' END AS doc_family",
    f"CASE WHEN {_BS_WINS} THEN _bs WHEN {_MF_WINS} THEN _mf "
    "ELSE greatest(_bs, _mf) END AS doc_family_confidence",
    "CASE WHEN _best.score > 0 THEN _best.name END AS provider",
    "CASE WHEN _best.score > 0 THEN _best.score END AS provider_confidence",
    # currency = most frequent marker, GBP default (detect_currency)
    "CASE WHEN _ccy.n > 0 THEN _ccy.name ELSE 'GBP' END AS currency",
)


# Bounded classification scan: the reference classifies over a whole
# document's text, which is fine for <=50-page statements but unbounded
# for transcripts.  Conversations beyond this many characters classify
# on their prefix — the same bounded-scan rule the reference applies
# elsewhere (10-line header scan, 50-line customer scan, 3-page
# provider scan; SURVEY §2.9 O2-O5).  Far above any fixture
# conversation (~0.25 MB max), so parity is unaffected; at 10^12-turn
# scale it bounds the collect_list row size.
CLASSIFY_CHAR_CAP = 2_000_000


def conversation_text(turns: DataFrame,
                      char_cap: int = CLASSIFY_CHAR_CAP,
                      extra_aggs: tuple = ()) -> DataFrame:
    """conv_id -> combined '\\n'-joined non-empty raw_texts in order
    (prefix-capped at ``char_cap`` cumulative characters).

    ``extra_aggs``: additional aggregate expressions computed in the
    SAME groupBy — callers that need other per-conversation aggregates
    (e.g. the pipeline's n_segments) fold them into this pass instead
    of paying a second full aggregation over the turns frame."""
    from pyspark.sql import Window
    w = (Window.partitionBy("conv_id").orderBy("turn_idx")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = F.sum(F.length(F.col("raw_text")) + F.lit(1)).over(w)
    # the first turn is ALWAYS included even when it alone exceeds the
    # cap — otherwise an oversized opening turn yields conv_text='' and
    # a silent UNKNOWN classification instead of classifying on a
    # truncated-to-one-turn prefix (same window spec, so no new sort)
    rn = F.row_number().over(Window.partitionBy("conv_id").orderBy("turn_idx"))
    # collect_list drops the when()'s nulls -> over-cap turns excluded
    # without a second aggregation or join; the window reuses the
    # segment stage's exchange + sort
    in_cap = F.when((rn == 1) | (cum <= char_cap),
                    F.struct("turn_idx", "raw_text"))
    return turns.withColumn("_in_cap", in_cap).groupBy("conv_id").agg(
        F.array_join(F.filter(
            F.transform(F.array_sort(F.collect_list("_in_cap")),
                        lambda x: x["raw_text"]),
            lambda t: t != ""), "\n").alias("conv_text"),
        F.count(F.lit(1)).cast("int").alias("n_turns"),
        *extra_aggs,
    )


def classify_stage(turns: DataFrame, extra_aggs: tuple = (),
                   extra_cols: tuple = ()) -> DataFrame:
    """turns -> one row per conversation with family/provider/customer
    (+ any ``extra_aggs`` passed through as ``extra_cols``)."""
    # materialize the lowered text in its own projection: every probe
    # below reads it
    conv = conversation_text(turns, extra_aggs=extra_aggs) \
        .selectExpr("*", "lower(conv_text) AS _lowered")
    # customer info only reads the first 50 lines (orchestrator.py:94-99);
    # slice JVM-side so the UDF ships ~2KB per conversation, not the
    # whole text — the kernel re-slices identically, so parity holds
    head_text = F.expr("array_join(slice(split(conv_text, '\\n'), 1, 50), '\\n')")
    conv = conv.select("conv_id", "n_turns", *extra_cols,
                       *(F.expr(e) for e in _SCORES),
                       _customer_udf(head_text).alias("_cust"))
    return conv.selectExpr(
        "conv_id", "n_turns", *_LABELS,
        "_cust.account_holder_name AS account_holder_name",
        "_cust.account_holder_address AS account_holder_address",
        "_cust.account_holder_postcode AS account_holder_postcode",
        *extra_cols,
    )
