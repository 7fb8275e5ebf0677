"""Adversarial-input robustness: nasty payloads must neither crash
any stage nor break pipeline==oracle equality."""

from __future__ import annotations

from datetime import datetime

import pandas as pd
import pytest

from universal_pdf_extractor_spark.kernels.oracle import process_conversation
from universal_pdf_extractor_spark.schemas import TRANSCRIPTS_SCHEMA
from universal_pdf_extractor_spark.stages.pipeline import run_pipeline

NASTY = [
    "",                                   # empty turn
    None,                                 # null text (tool also null)
    "\r\n\r\n\t\t",                       # whitespace soup
    "£1,234.56 DR — ligature ﬁ émojis 🙂🙂 −42.00",
    "a" * 5000,                           # one huge token
    ("word " * 400).strip(),              # huge single line
    "\n".join("line %d  nbsp" % i for i in range(300)),  # 300 lines
    "05/06/2024  05/06/2024  05/06/2024",  # ambiguous dates
    "()  (()  ())  (1,2) (NaN)",
    "Sort Code: 12-34-56 IBAN GB29 NWBK 6016 1331 9268 19",
    "баланс 1000.00 türkçe ĞÜŞİÖÇ 中文转账 ¥5,000",
    "B/F\nC/F\nB/F\nC/F",                  # marker storm
    "01/01/2024 \t desc \x00with null byte \t 5.00",
    # Unicode and control whitespace: Python's str.split() separates on
    # each; Java's \s matches only \x0b of them and RE2's none
    "Opening\xa0Balance 1,000.00",
    "Statement\u2003Period 01/01/2024",
    "opening\x0bbalance\x1c 5.00",
]


@pytest.fixture(scope="module")
def nasty_df(spark):
    rows = []
    for i, text in enumerate(NASTY):
        rows.append({"conv_id": "nasty_000", "turn_idx": i, "role": "user",
                     "text": text, "tool": None,
                     "ts": datetime(2024, 1, 1, 0, i)})
    pdf = pd.DataFrame(rows)
    return spark.createDataFrame(pdf, schema=TRANSCRIPTS_SCHEMA)


def test_pipeline_survives_and_matches_oracle(spark, nasty_df):
    out = run_pipeline(nasty_df)
    turns = out["turns"].toPandas().sort_values("turn_idx")
    oracle = process_conversation(
        [(i, t if isinstance(t, str) else "") for i, t in enumerate(NASTY)])
    exp = {t["turn_idx"]: t for t in oracle["turns"]}
    assert len(turns) == len(NASTY)
    for row in turns.itertuples():
        e = exp[row.turn_idx]
        assert row.clean_text == e["clean_text"], row.turn_idx
        assert row.segment_index == e["segment_index"], row.turn_idx
        got_spans = [(s["start"], s["end"]) for s in row.spans]
        exp_spans = [(s["start"], s["end"]) for s in e["spans"]]
        assert got_spans == exp_spans, row.turn_idx
    # records/conversations also computable without error
    assert out["records"].count() == len(oracle["records"])
    assert out["conversations"].count() == 1


GRID_NASTY = [
    # header keywords but garbage rows (fallback must not crash)
    "Date  Description  Amount\n\x00\x00  \t  ???  NaN\n01/01/2024  ok  1.00",
    # header-only, no data rows
    "Date  Description  Paid In  Paid Out",
    # ragged rows: more cells than header / fewer cells than header
    "Date  Description  Amount\n"
    "01/01/2024  A  B  C  D  E  9.99\n"
    "9.99",
    # unicode + huge gap runs
    "Date  Description  Amount\n"
    "01/01/2024  中文转账 émojis 🙂" + " " * 200 + "1,000.00",
    # amounts that overflow/parse weird
    "Date  Description  Amount\n"
    "01/01/2024  big  99,999,999,999.99\n"
    "01/01/2024  zero  0.00\n"
    "01/01/2024  neg  (42.00)",
]


def test_fallback_grid_survives_adversarial_tables(spark):
    """The text-grid fallback parser must neither crash nor diverge
    from the oracle on malformed pseudo-tables."""
    from datetime import datetime

    rows = []
    for i, text in enumerate(GRID_NASTY):
        rows.append({"conv_id": f"grid_{i:03d}", "turn_idx": 0, "role": "user",
                     "text": text, "tool": None, "ts": datetime(2024, 1, 1)})
    pdf = pd.DataFrame(rows)
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    sdf = spark.createDataFrame(pdf, schema=TRANSCRIPTS_SCHEMA)
    out = run_pipeline(sdf)
    recs = out["records"].toPandas().sort_values(
        ["conv_id", "segment_index", "row_index"]).reset_index(drop=True)

    # oracle agreement per conversation
    for i, text in enumerate(GRID_NASTY):
        o = process_conversation([(0, text)])["records"]
        g = recs[recs["conv_id"] == f"grid_{i:03d}"]
        assert len(g) == len(o), (i, len(g), len(o))
        for gr, er in zip(g.itertuples(), o):
            assert str(gr.amount) == str(er["amount"])
            assert gr.direction == er["direction"]

    # the unicode row and the signed rows must actually have parsed
    uni = recs[recs["conv_id"] == "grid_003"]
    assert len(uni) == 1 and str(uni.iloc[0]["amount"]) == "1000.00"
    signed = recs[recs["conv_id"] == "grid_004"]
    assert "DEBIT" in set(signed["direction"])
