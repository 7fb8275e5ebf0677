"""Correctness checks on what a run wrote.

Each check returns a list of mismatch descriptions; an empty list means
the run's outputs are correct.  The statements checks compare the
fields ``tests/test_pipeline_e2e.py`` compares; the dedup checks run the
entry queries' DuckDB oracles over the same ``documents`` table.
"""

from __future__ import annotations

import glob
import json
import math
import os
import random

import pyarrow.dataset as ds

from universal_pdf_extractor_spark.kernels.oracle import process_conversation

from corpus import payload_of

ORACLE_SAMPLE = 8


def oracle_sample(convs: list[list[dict]], seed: int) -> dict[str, dict]:
    """The oracle's answer for a seeded sample of conversations."""
    picked = random.Random(seed).sample(convs, min(ORACLE_SAMPLE, len(convs)))
    return {turns[0]["conv_id"]: process_conversation(
                [(t["turn_idx"], payload_of(t)) for t in turns])
            for turns in picked}


def read_table(path, columns=None, filter=None):
    """A written output read back with pyarrow (hive partition dirs too)."""
    return ds.dataset(str(path), format="parquet", partitioning="hive") \
        .to_table(columns=columns, filter=filter)


def _rows(out_dir: str, table: str, conv_ids: list[str]) -> dict[str, list[dict]]:
    got: dict[str, list[dict]] = {c: [] for c in conv_ids}
    rows = read_table(os.path.join(out_dir, table),
                      filter=ds.field("conv_id").isin(conv_ids)).to_pylist()
    for row in rows:
        got[row["conv_id"]].append(row)
    return got


def _none(v):
    return None if v is None or (isinstance(v, float) and math.isnan(v)) else v


def statements_vs_oracle(out_dir: str, expected: dict[str, dict]) -> list[str]:
    ids = sorted(expected)
    bad: list[str] = []
    turns = _rows(out_dir, "turns", ids)
    records = _rows(out_dir, "records", ids)
    segments = _rows(out_dir, "segments", ids)
    convs = _rows(out_dir, "conversations", ids)
    for cid in ids:
        exp = expected[cid]
        got_t = sorted(turns[cid], key=lambda r: r["turn_idx"])
        if len(got_t) != len(exp["turns"]):
            bad.append(f"{cid}: {len(got_t)} turns, oracle {len(exp['turns'])}")
        for g, e in zip(got_t, sorted(exp["turns"], key=lambda r: r["turn_idx"])):
            spans_g = [(s["field"], s["start"], s["end"]) for s in g["spans"]]
            spans_e = [(s["field"], s["start"], s["end"]) for s in e["spans"]]
            if (g["turn_idx"], g["clean_text"], g["raw_text"], spans_g,
                    g["segment_index"], g["n_lines"], g["n_tokens"]) != (
                    e["turn_idx"], e["clean_text"], e["raw_text"], spans_e,
                    e["segment_index"], e["n_lines"], e["n_tokens"]):
                bad.append(f"{cid} turn {e['turn_idx']}: differs from oracle")
        got_r = sorted(records[cid], key=lambda r: (r["segment_index"], r["row_index"]))
        if len(got_r) != len(exp["records"]):
            bad.append(f"{cid}: {len(got_r)} records, oracle {len(exp['records'])}")
        for g, e in zip(got_r, exp["records"]):
            same = all(g[k] == e[k] for k in (
                "segment_index", "row_index", "turn_idx", "posted_date",
                "description_clean", "amount", "direction", "direction_source",
                "running_balance", "balance_confirmed"))
            same = same and all(float(g[k]) == round(e[k], 4) for k in (
                "confidence_direction", "confidence_amount", "confidence_date"))
            same = same and [(v["field"], v["turn_idx"], v["start"], v["end"])
                             for v in g["evidence"]] == \
                [(v["field"], v["turn_idx"], v["start"], v["end"]) for v in e["evidence"]]
            if not same:
                bad.append(f"{cid} record {e['segment_index']}/{e['row_index']}: differs")
        got_s = sorted(segments[cid], key=lambda r: r["segment_index"])
        if [(s["segment_index"], _none(s["opening_balance"]), s["n_records"]) for s in got_s] != \
                [(s["segment_index"], s["opening_balance"], s["n_records"]) for s in exp["segments"]]:
            bad.append(f"{cid}: segments differ from oracle")
        if len(convs[cid]) != 1:
            bad.append(f"{cid}: {len(convs[cid])} conversation rows")
            continue
        g, e = convs[cid][0], exp["conversation"]
        same = all(_none(g[k]) == e[k] for k in (
            "doc_family", "provider", "currency", "account_holder_name",
            "account_holder_postcode", "validation_status", "final_status",
            "row_count", "n_segments"))
        same = same and list(g["hard_gate_failures"]) == e["hard_gate_failures"]
        same = same and list(g["warnings"]) == e["warnings"]
        same = same and all(math.isclose(float(g[k]), e[k], abs_tol=1e-4) for k in (
            "doc_family_confidence", "document_confidence"))
        if not same:
            bad.append(f"{cid}: conversation row differs from oracle")
    return bad


def manifests(out_dir: str) -> list[dict]:
    paths = sorted(glob.glob(os.path.join(out_dir, "_manifests", "group_*.json")))
    out = []
    for p in paths:
        with open(p) as fh:
            out.append(json.load(fh))
    return out


def manifests_vs_parquet(spark, out_dir: str) -> list[str]:
    """Each manifest's rows/xor64 against the parquet read back."""
    from universal_pdf_extractor_spark.io.manifest import count_and_checksum

    bad = []
    committed = manifests(out_dir)
    if not committed:
        bad.append("no group manifest committed")
    for m in committed:
        for table, want in m["outputs"].items():
            path = os.path.join(out_dir, table, f"bucket_group={m['group']}")
            rows, xor64 = count_and_checksum(spark.read.parquet(path))
            if (rows, xor64) != (want["rows"], want["xor64"]):
                bad.append(f"group {m['group']} {table}: parquet has {rows}/{xor64}, "
                           f"manifest {want['rows']}/{want['xor64']}")
    return bad


# ── dedup ──

DEDUP_QUERIES = ("dedup_ngram_jaccard", "dedup_minhash_lsh", "dedup_simhash",
                 "text_quality_scores")


def _canon(rel) -> list[tuple]:
    """The relation's rows as tuples, columns in name order, sorted."""
    cols = sorted(rel.columns)
    return sorted(tuple(r[rel.columns.index(c)] for c in cols) for r in rel.fetchall())


def _same_rows(a: list[tuple], b: list[tuple]) -> bool:
    if len(a) != len(b):
        return False
    for ra, rb in zip(a, b):
        for x, y in zip(ra, rb):
            if isinstance(x, float) or isinstance(y, float):
                if not math.isclose(float(x), float(y), rel_tol=0, abs_tol=1e-9):
                    return False
            elif x != y:
                return False
    return True


def dedup_oracle(sf_dir: str) -> dict[str, list[tuple]]:
    import duckdb

    from universal_pdf_extractor_spark import entry_queries

    sql = entry_queries.oracle_sql()
    con = duckdb.connect()
    try:
        con.execute("CREATE VIEW documents AS SELECT * FROM read_parquet("
                    f"'{os.path.join(sf_dir, 'documents.parquet')}')")
        return {q: _canon(con.sql(sql[q])) for q in DEDUP_QUERIES}
    finally:
        con.close()


def union_find_components(pairs) -> dict[int, tuple[int, int]]:
    """doc_id -> (min doc_id of its component, component size)."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    members: dict[int, list[int]] = {}
    for x in parent:
        members.setdefault(find(x), []).append(x)
    return {x: (min(m), len(m)) for m in members.values() for x in m}


def dedup_vs_oracle(out_dir: str, expected: dict[str, list[tuple]]) -> list[str]:
    import duckdb

    bad = []
    con = duckdb.connect()
    try:
        for q in DEDUP_QUERIES:
            got = _canon(con.sql("SELECT * FROM read_parquet("
                                 f"'{os.path.join(out_dir, q, '*.parquet')}')"))
            if not _same_rows(got, expected[q]):
                bad.append(f"{q}: {len(got)} rows differ from the DuckDB oracle "
                           f"({len(expected[q])} rows)")
    finally:
        con.close()
    pairs = read_table(os.path.join(out_dir, "dedup_ngram_jaccard"), ["a", "b"])
    want = union_find_components(zip(pairs.column("a").to_pylist(),
                                     pairs.column("b").to_pylist()))
    comps = read_table(os.path.join(out_dir, "components")).to_pylist()
    got = {r["doc_id"]: (r["keep_id"], r["component_size"], r["is_keeper"]) for r in comps}
    if len(got) != len(comps) or got != {d: (k, n, d == k) for d, (k, n) in want.items()}:
        bad.append(f"components: {len(comps)} rows differ from union-find "
                   f"over the n-gram pairs ({len(want)} docs)")
    return bad
