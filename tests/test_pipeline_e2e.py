"""North-rule gate: distributed pipeline == single-process oracle.

Generates the deterministic synthetic transcripts corpus, runs the
full Spark pipeline, and compares every output surface against
kernels/oracle.py per (conv_id, turn_idx) — text, spans, segment ids,
records (dates, Decimal amounts, directions, confirmations,
confidences), classification, provider, customer info and scores.
"""

from __future__ import annotations

import math

import pandas as pd
import pytest

from universal_pdf_extractor_spark.io.fixtures import generate_transcripts
from universal_pdf_extractor_spark.kernels.oracle import process_conversation
from universal_pdf_extractor_spark.schemas import TRANSCRIPTS_SCHEMA
from universal_pdf_extractor_spark.stages.pipeline import run_pipeline

N_CONVS = 60  # covers all 4 layout variants, all kinds, multi-segment convs


def _pipeline_outputs(spark, **kw):
    pdf = generate_transcripts(N_CONVS)
    sdf = spark.createDataFrame(pdf, schema=TRANSCRIPTS_SCHEMA)
    out = run_pipeline(sdf, **kw)
    return {name: df.toPandas() for name, df in out.items()}


@pytest.fixture(scope="module")
def outputs(spark):
    return _pipeline_outputs(spark)


@pytest.fixture(scope="module")
def split_outputs(spark):
    return _pipeline_outputs(spark, split_segments=True)


@pytest.fixture(scope="module")
def oracle():
    pdf = generate_transcripts(N_CONVS)
    result = {}
    for conv_id, grp in pdf.groupby("conv_id"):
        grp = grp.sort_values("turn_idx")
        payloads = [
            (int(t), (x if isinstance(x, str) and x else
                      (tl if isinstance(tl, str) and tl else "")))
            for t, x, tl in zip(grp["turn_idx"], grp["text"], grp["tool"])
        ]
        result[conv_id] = process_conversation(payloads)
    return result


def test_turns_equality(outputs, oracle):
    turns = outputs["turns"].sort_values(["conv_id", "turn_idx"])
    n_checked = 0
    for conv_id, grp in turns.groupby("conv_id"):
        exp = {t["turn_idx"]: t for t in oracle[conv_id]["turns"]}
        for row in grp.itertuples():
            e = exp[row.turn_idx]
            assert row.clean_text == e["clean_text"], (conv_id, row.turn_idx)
            assert row.raw_text == e["raw_text"], (conv_id, row.turn_idx)
            got_spans = [(s["field"], s["start"], s["end"]) for s in row.spans]
            exp_spans = [(s["field"], s["start"], s["end"]) for s in e["spans"]]
            assert got_spans == exp_spans, (conv_id, row.turn_idx)
            assert row.segment_index == e["segment_index"], (conv_id, row.turn_idx)
            assert row.n_lines == e["n_lines"] and row.n_tokens == e["n_tokens"]
            n_checked += 1
    assert n_checked == sum(len(o["turns"]) for o in oracle.values())


def test_records_equality(outputs, oracle):
    records = outputs["records"].sort_values(["conv_id", "segment_index", "row_index"])
    total_expected = sum(len(o["records"]) for o in oracle.values())
    assert len(records) == total_expected
    for conv_id, grp in records.groupby("conv_id"):
        exp = oracle[conv_id]["records"]
        got = list(grp.itertuples())
        assert len(got) == len(exp), conv_id
        for g, e in zip(got, exp):
            key = (conv_id, e["segment_index"], e["row_index"])
            assert (g.segment_index, g.row_index) == (e["segment_index"], e["row_index"]), key
            assert g.turn_idx == e["turn_idx"], key
            assert g.posted_date == e["posted_date"], key
            assert g.description_clean == e["description_clean"], key
            assert g.amount == e["amount"], key
            assert g.direction == e["direction"], key
            assert g.direction_source == e["direction_source"], key
            assert g.running_balance == e["running_balance"], key
            assert bool(g.balance_confirmed) == e["balance_confirmed"], key
            assert float(g.confidence_direction) == round(e["confidence_direction"], 4), key
            assert float(g.confidence_amount) == round(e["confidence_amount"], 4), key
            assert float(g.confidence_date) == round(e["confidence_date"], 4), key
            got_ev = [(v["field"], v["turn_idx"], v["start"], v["end"])
                      for v in g.evidence]
            exp_ev = [(v["field"], v["turn_idx"], v["start"], v["end"])
                      for v in e["evidence"]]
            assert got_ev == exp_ev, key
            # spans must slice real field text out of the source turn
            assert all(v["end"] > v["start"] for v in e["evidence"]), key


def test_conversations_equality(outputs, oracle):
    conv = outputs["conversations"].set_index("conv_id")
    assert len(conv) == len(oracle)
    for conv_id, o in oracle.items():
        e = o["conversation"]
        g = conv.loc[conv_id]
        assert g["doc_family"] == e["doc_family"], conv_id
        assert math.isclose(float(g["doc_family_confidence"]),
                            e["doc_family_confidence"], abs_tol=1e-4), conv_id
        assert (g["provider"] if pd.notna(g["provider"]) else None) == e["provider"], conv_id
        assert g["currency"] == e["currency"], conv_id
        got_name = g["account_holder_name"] if pd.notna(g["account_holder_name"]) else None
        assert got_name == e["account_holder_name"], conv_id
        got_pc = g["account_holder_postcode"] if pd.notna(g["account_holder_postcode"]) else None
        assert got_pc == e["account_holder_postcode"], conv_id
        assert math.isclose(float(g["document_confidence"]),
                            e["document_confidence"], abs_tol=1e-4), conv_id
        assert g["validation_status"] == e["validation_status"], conv_id
        assert g["final_status"] == e["final_status"], conv_id
        assert list(g["hard_gate_failures"]) == e["hard_gate_failures"], conv_id
        assert list(g["warnings"]) == e["warnings"], conv_id
        assert g["row_count"] == e["row_count"], conv_id
        assert g["n_segments"] == e["n_segments"], conv_id


def test_segments_equality(outputs, oracle):
    segs = outputs["segments"].sort_values(["conv_id", "segment_index"])
    for conv_id, grp in segs.groupby("conv_id"):
        exp = oracle[conv_id]["segments"]
        got = list(grp.itertuples())
        assert len(got) == len(exp), conv_id
        for g, e in zip(got, exp):
            assert g.segment_index == e["segment_index"]
            assert (g.opening_balance if pd.notna(g.opening_balance) else None) == e["opening_balance"]
            assert g.n_records == e["n_records"]


_OUTPUT_KEYS = {
    "turns": ["conv_id", "turn_idx"],
    "records": ["conv_id", "segment_index", "row_index"],
    "segments": ["conv_id", "segment_index"],
    "conversations": ["conv_id"],
    "detected_tables": ["conv_id", "segment_index"],
}


def test_split_segments_outputs_match_default(outputs, split_outputs):
    """split_segments=True only regroups the extraction kernel's input,
    so every output table equals the default grouping's, and every
    oracle assertion above holds on the split path too."""
    assert outputs.keys() == split_outputs.keys() == _OUTPUT_KEYS.keys()
    for name, keys in _OUTPUT_KEYS.items():
        a, b = (o[name].sort_values(keys).reset_index(drop=True)
                for o in (outputs, split_outputs))
        assert len(a) > 0, name
        pd.testing.assert_frame_equal(a, b, obj=name)


def _run_single_conv(spark, lines: list[str], conv_id: str = "conv_gated"):
    import numpy as np

    pdf = pd.DataFrame([{
        "conv_id": conv_id, "turn_idx": 0, "role": "user",
        "text": "\n".join(lines), "tool": None,
        "ts": pd.Timestamp("2024-01-01"),
    }])
    pdf["turn_idx"] = pdf["turn_idx"].astype(np.int32)
    sdf = spark.createDataFrame(pdf, schema=TRANSCRIPTS_SCHEMA)
    out = run_pipeline(sdf)
    return out["conversations"].toPandas().iloc[0], "\n".join(lines)


def test_hard_gate_all_unknown_fails(spark):
    """Scorer gate 2 (confidence_scorer.py:81-84): zero amounts give no
    sign evidence (single_amount_zero, orchestrator.py:775-778) and no
    balance/keyword rescue exists -> every direction UNKNOWN ->
    validation FAIL, both in Spark output and the kernel oracle."""
    lines = [f"{'Date':<13} {'Description':<40}{'Amount':>13}"]
    for i in range(8):
        lines.append(f"{'01/02/2024':<13} {'TESCO STORES':<40}{'0.00':>13}")
    conv, text = _run_single_conv(spark, lines)
    assert conv["validation_status"] == "FAIL"
    assert "HARD_GATE_ALL_DIRECTIONS_UNKNOWN" in list(conv["hard_gate_failures"])
    assert conv["final_status"] == "NEEDS_REVIEW"
    # oracle agreement
    o = process_conversation([(0, text)])["conversation"]
    assert o["validation_status"] == "FAIL"
    assert list(conv["hard_gate_failures"]) == o["hard_gate_failures"]
    assert list(conv["warnings"]) == o["warnings"]


def test_hard_gate_balance_mismatch(spark):
    """Scorer gate 5 (confidence_scorer.py:95-110): distinct opening and
    closing markers whose difference exceeds the summed directions by
    > £5 -> HARD_GATE_BALANCE_MISMATCH_* and NEEDS_REVIEW (the one gate
    that softens rather than FAILs)."""
    lines = [
        f"{'Date':<13} {'Description':<40}{'Amount':>13}{'Balance':>14}",
        f"{'':<13} {'Opening balance':<40}{'':>13}{'1000.00':>14}",
    ]
    bal = 1000
    for i in range(8):
        bal -= 10
        lines.append(f"{'01/02/2024':<13} {'TESCO STORES':<40}"
                     f"{'10.00':>13}{f'{bal}.00':>14}")
    lines.append(f"{'':<13} {'Closing balance':<40}{'':>13}{'500.00':>14}")
    conv, text = _run_single_conv(spark, lines, "conv_balgate")
    gates = list(conv["hard_gate_failures"])
    assert any(g.startswith("HARD_GATE_BALANCE_MISMATCH_") for g in gates), gates
    assert conv["validation_status"] == "NEEDS_REVIEW"
    o = process_conversation([(0, text)])["conversation"]
    assert gates == o["hard_gate_failures"]
    assert conv["validation_status"] == o["validation_status"]


def test_text_grid_fallback_rescues_segment(spark):
    """Histogram-defeating layout (3 rows, too sparse for column
    detection) -> text-grid fallback produces records flagged
    fallback_used / direction_source='text_grid_table'
    (orchestrator.py:793-930 analogue), identically in Spark output
    and the kernel oracle."""
    # ragged per-row indentation: no x-position repeats often enough
    # to form a histogram peak, but >=2-space gaps still delimit the
    # grid cells — the layout class the text-grid tier exists for
    lines = [
        "Barclays Bank PLC",
        f"{'Date':<13} {'Description':<30}{'Paid In':>12}{'Paid Out':>12}",
        f" {'01/02/2024':<13} {'SALARY ACME LTD':<29}{'1500.00':>12}{'':>12}",
        f"   {'02/02/2024':<13} {'TESCO STORES':<27}{'':>12}{'42.17':>12}",
        f"     {'':<13} {'COSTA COFFEE':<25}{'':>12}{'3.40':>12}",
    ]
    import numpy as np
    pdf = pd.DataFrame([{
        "conv_id": "conv_fb", "turn_idx": 0, "role": "user",
        "text": "\n".join(lines), "tool": None,
        "ts": pd.Timestamp("2024-01-01"),
    }])
    pdf["turn_idx"] = pdf["turn_idx"].astype(np.int32)
    sdf = spark.createDataFrame(pdf, schema=TRANSCRIPTS_SCHEMA)
    recs = run_pipeline(sdf)["records"].toPandas() \
        .sort_values("row_index").reset_index(drop=True)
    assert len(recs) == 3
    assert recs["fallback_used"].all()
    assert (recs["direction_source"] == "text_grid_table").all()
    assert list(recs["direction"]) == ["CREDIT", "DEBIT", "DEBIT"]
    # dateless third row carries the previous row's date
    assert recs["posted_date"].iloc[2] == recs["posted_date"].iloc[1]
    o = process_conversation([(0, "\n".join(lines))])["records"]
    assert len(o) == len(recs)
    for g, e in zip(recs.itertuples(), o):
        assert str(g.amount) == str(e["amount"])
        assert g.direction == e["direction"]
        assert g.posted_date == e["posted_date"]
        assert bool(g.fallback_used) == e["fallback_used"]


def test_tool_path_confidence_tier(outputs):
    """S6: the TOOL (OCR-analogue) path reports a distinct sub-0.95
    confidence tier; TEXT stays at the pdfplumber fixed 0.95
    (tesseract_engine.py:195-212 vs pdfplumber_engine.py:125)."""
    turns = outputs["turns"]
    with_tokens = turns[turns["n_tokens"] > 0]
    text_confs = set(with_tokens[with_tokens["extraction_path"] == "TEXT"]
                     ["mean_token_confidence"])
    tool_confs = set(with_tokens[with_tokens["extraction_path"] == "TOOL"]
                     ["mean_token_confidence"])
    assert text_confs == {0.95}
    assert tool_confs == {0.88}
    empty = turns[turns["n_tokens"] == 0]
    assert set(empty["mean_token_confidence"]) <= {0.0}


def test_hard_gate_balance_mismatch_integer_markers(spark):
    """Gate-5 parity when markers parse at scale 0 ('1500', no decimal
    places): the oracle quantizes to the at-rest DecimalType(15,2)
    scale, so the gate name renders identically on both paths."""
    lines = [
        f"{'Date':<13} {'Description':<40}{'Amount':>13}{'Balance':>14}",
        f"{'':<13} {'Opening balance':<40}{'':>13}{'1500':>14}",
    ]
    bal = 1500
    for i in range(8):
        bal -= 10
        lines.append(f"{'01/02/2024':<13} {'TESCO STORES':<40}"
                     f"{'10.00':>13}{f'{bal}.00':>14}")
    lines.append(f"{'':<13} {'Closing balance':<40}{'':>13}{'1200':>14}")
    conv, text = _run_single_conv(spark, lines, "conv_intmarkers")
    gates = list(conv["hard_gate_failures"])
    o = process_conversation([(0, text)])["conversation"]
    assert gates == o["hard_gate_failures"], (gates, o["hard_gate_failures"])
    assert any(g.startswith("HARD_GATE_BALANCE_MISMATCH_") for g in gates)


def test_corpus_exercises_all_paths(oracle):
    """The fixture corpus must cover every branch we claim to test."""
    families = {o["conversation"]["doc_family"] for o in oracle.values()}
    assert {"BANK_STATEMENT", "MOTOR_FINANCE", "UNKNOWN"} <= families
    n_multi_segment = sum(1 for o in oracle.values() if o["conversation"]["n_segments"] > 1)
    assert n_multi_segment >= 2
    n_records = sum(o["conversation"]["row_count"] for o in oracle.values())
    assert n_records > 200
    directions = {r["direction"] for o in oracle.values() for r in o["records"]}
    assert {"DEBIT", "CREDIT"} <= directions
    confirmed = sum(1 for o in oracle.values() for r in o["records"] if r["balance_confirmed"])
    assert confirmed > 50
    providers = {o["conversation"]["provider"] for o in oracle.values()}
    assert len(providers) >= 3


def test_detect_currency_kernel():
    from universal_pdf_extractor_spark.kernels.classify import detect_currency
    assert detect_currency("no markers at all") == "GBP"
    assert detect_currency("Paid $10 then $20 and 5 usd") == "USD"
    assert detect_currency("Betrag: 10€ plus 20 EUR") == "EUR"
    assert detect_currency("£5 and $5") == "GBP"  # tie -> first-seen priority
    assert detect_currency("GBP 100.00 balance") == "GBP"


def test_classify_char_cap_bounds_conversation_text(spark):
    """Unbounded conversations classify on a bounded prefix (the
    reference's bounded-scan rule generalized); within the cap the
    text is byte-identical to the uncapped join."""
    import numpy as np

    from universal_pdf_extractor_spark.stages.classify import conversation_text
    from universal_pdf_extractor_spark.stages.tokenize import tokenize_stage

    rows = [{"conv_id": "c", "turn_idx": i, "role": "user",
             "text": f"turn {i} " + ("x" * 50), "tool": None,
             "ts": pd.Timestamp("2024-01-01")} for i in range(10)]
    pdf = pd.DataFrame(rows)
    pdf["turn_idx"] = pdf["turn_idx"].astype(np.int32)
    turns = tokenize_stage(spark.createDataFrame(pdf, schema=TRANSCRIPTS_SCHEMA))

    full = conversation_text(turns).first()["conv_text"]
    capped = conversation_text(turns, char_cap=200).first()["conv_text"]
    assert full.startswith(capped) and len(capped) < len(full)
    assert capped.endswith("x" * 50)      # whole turns only, in order
    assert capped.count("turn") == 3      # 3 x ~59 chars fit under 200
