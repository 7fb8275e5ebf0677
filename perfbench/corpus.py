"""Seeded benchmark inputs, built from ``io.fixtures.conversation_payload``.

Both workloads draw a fixed number of conversations of the generator's
default mix: each kind of conversation (bank statements, motor finance,
chatter) at its share of the mix, and within each kind the generator's
own heavy-tailed turn-count distribution, long conversations included.

The turn counts to match are fixed once for every seed: the quantile
midpoints of each kind's turn counts over the first POOL conversations
at the generator's default seed.  For the benchmark seed, each target is
met by the conversation of that kind, among its first POOL, whose turn
count is closest (the lowest index on a tie).  Every seed therefore
yields the same conversation count per kind, the same length profile
(one 200-turn statement conversation, the generator's cap, among them)
and, to within about 1%, the same turn total.  That keeps throughput,
output size, per-conversation skew and the near-duplicate structure
(chatter conversations are near-duplicates of each other) comparable
across seeds.

The program only ever sees the files written here.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

# the generator's vocabulary, read to tell the kinds of conversation apart
from universal_pdf_extractor_spark.io.fixtures import (
    _CREDIT_MERCHANTS,
    _MERCHANTS,
    _MOTOR_FINANCE_LINES,
    SEED,
    conversation_payload,
)

from harness import dir_bytes

STATEMENTS_CONVERSATIONS = 48
DEDUP_DOCUMENTS = 40
KIND_SHARES = {"statement": 0.8, "motor": 0.1, "chatter": 0.1}  # the default mix
POOL = 1_500                    # conversations drawn per seed to choose from
TRANSCRIPT_FILES = 8

TRANSCRIPTS_ARROW = pa.schema([
    ("conv_id", pa.string()),
    ("turn_idx", pa.int32()),
    ("role", pa.string()),
    ("text", pa.string()),
    ("tool", pa.string()),
    ("ts", pa.timestamp("us", tz="UTC")),
])


@dataclass
class Corpus:
    path: str                      # transcripts dir, or the sf dir holding documents.parquet
    conversations: list[list[dict]]
    turns: int
    documents: int
    bytes: int


def payload_of(turn: dict) -> str:
    """The turn's extraction payload: text, else tool, else empty."""
    for key in ("text", "tool"):
        v = turn[key]
        if isinstance(v, str) and v:
            return v
    return ""


def kind_of(turns: list[dict]) -> str:
    text = "\n".join(map(payload_of, turns))
    if any(m in text for m in _MERCHANTS + _CREDIT_MERCHANTS):
        return "statement"
    if any(line in text for line in _MOTOR_FINANCE_LINES):
        return "motor"
    return "chatter"


def _split(total: int) -> dict[str, int]:
    out = {k: round(total * share) for k, share in KIND_SHARES.items()}
    out["statement"] += total - sum(out.values())
    return out


def _pool(seed: int) -> dict[str, list[tuple[int, int]]]:
    """(turn count, index) of the first POOL conversations, by kind."""
    out: dict[str, list[tuple[int, int]]] = {k: [] for k in KIND_SHARES}
    for i in range(POOL):
        conv = conversation_payload(i, seed)
        out[kind_of(conv)].append((len(conv), i))
    return out


def pick_conversations(seed: int, n: int) -> list[list[dict]]:
    reference, pool = _pool(SEED), _pool(seed)
    picked: list[int] = []
    for kind, count in _split(n).items():
        ref = sorted(reference[kind])
        targets = [ref[int((j + 0.5) * len(ref) / count)][0] for j in range(count)]
        left = list(pool[kind])
        for target in sorted(targets, reverse=True):
            best = min(left, key=lambda c: (abs(c[0] - target), c[1]))
            left.remove(best)
            picked.append(best[1])
    return [conversation_payload(i, seed) for i in sorted(picked)]


def transcripts(seed: int, out_dir: str) -> Corpus:
    """The ``statements`` input: a transcripts table in several files,
    so the scan is split across tasks as a real corpus would be."""
    convs = pick_conversations(seed, STATEMENTS_CONVERSATIONS)
    os.makedirs(out_dir)
    per_file = -(-len(convs) // TRANSCRIPT_FILES)
    for f in range(TRANSCRIPT_FILES):
        rows = [t for c in convs[f * per_file:(f + 1) * per_file] for t in c]
        if rows:
            pq.write_table(pa.Table.from_pylist(rows, schema=TRANSCRIPTS_ARROW),
                           os.path.join(out_dir, f"part-{f:05d}.parquet"))
    return Corpus(out_dir, convs, sum(map(len, convs)), 0, dir_bytes(out_dir))


def documents(seed: int, sf_dir: str) -> Corpus:
    """The ``dedup`` input: one document per conversation (payloads
    joined in turn order) as ``<sf_dir>/documents.parquet``, the table
    the registered entry queries read."""
    convs = pick_conversations(seed, DEDUP_DOCUMENTS)
    os.makedirs(sf_dir)
    rows = []
    for turns in convs:
        text = "\n".join(p for p in map(payload_of, turns) if p)
        rows.append({"doc_id": int(turns[0]["conv_id"][len("conv_"):]),
                     "text": text, "n_chars": len(text)})
    path = os.path.join(sf_dir, "documents.parquet")
    pq.write_table(pa.Table.from_pylist(rows), path)
    return Corpus(sf_dir, convs, sum(map(len, convs)), len(rows), dir_bytes(sf_dir))
