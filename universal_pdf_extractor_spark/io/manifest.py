"""Per-partition lineage manifests + exact resume.

The job splits the conversation key space into ``n_groups`` hash
buckets (pmod(xxhash64(conv_id), n)) and processes one bucket group
at a time: filter -> pipeline -> write outputs under
``<out>/<table>/bucket_group=<g>/`` -> commit a manifest JSON with
input/output row counts and an order-insensitive XOR checksum per
output table.  A re-run skips every group whose manifest is already
committed — exact resume, mirroring the reference's
delete-before-rewrite idempotency + per-document status machine
(orchestrator.py:184-205, models/enums.py:15-25) at dataset scale.

Every manifest metric is computed by the writes themselves: each
output table is written through ``DataFrame.observe``, whose
aggregates (row count, checksum, extraction-path and parser counts)
ride along in the write's own jobs, and the group's input rows are
observed on the input frame, which the first write scans.  A group
therefore costs only its five writes' jobs, each described as
``write <table> group=<g>``.  ``count_and_checksum`` computes the same
(count, checksum) pair over any frame, e.g. the parquet read back, to
verify a manifest.

The manifest is committed AFTER the data writes succeed (write to a
temp name, atomic rename), so a crash mid-group leaves no manifest
and the group is redone idempotently (mode=overwrite per group dir).

Run identity (extraction_runs analogue, tables.py:184-246): every
invocation carries a run_id + pipeline_version + engine versions;
group manifests record which run committed them, output rows carry a
run_id column, and ``runs.jsonl`` is the append-only run registry —
``latest_run`` reconstructs the reference's is_latest flag (J4).
"""

from __future__ import annotations

import contextlib
import json
import os
import time
import uuid
from typing import Optional

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F  # noqa: N812

from ..kernels.patterns import sql_string
from ..schemas import COLUMN_PATH, EXTRACTION_PATHS, FALLBACK_TIERS

MANIFEST_DIR = "_manifests"
RUNS_LOG = "runs.jsonl"
PIPELINE_VERSION = "0.2.0"


def engine_versions() -> dict:
    import pyspark
    return {"engine": PIPELINE_VERSION, "pyspark": pyspark.__version__}


def bucket_of(conv_id_col, n_groups: int):
    return F.pmod(F.xxhash64(conv_id_col), F.lit(n_groups))


def _ident(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def _count_and_checksum_aggs(columns: list[str]) -> list:
    """(rows, xor64) aggregates: row count and an order-insensitive
    64-bit checksum over every column, shared by the observed writes
    and ``count_and_checksum`` so the two cannot drift apart.

    Built as SQL text: one expression string costs a few py4j round
    trips, where a Column cast per output column costs ~20 each."""
    h = ", ".join(f"CAST({_ident(c)} AS STRING)" for c in columns)
    return [F.expr("count(1) AS `rows`"),
            F.expr(f"coalesce(bit_xor(xxhash64({h})), 0) AS xor64")]


def count_and_checksum(df: DataFrame) -> tuple[int, int]:
    """(row count, order-insensitive 64-bit checksum) in ONE job.

    The manifest's writes observe the same pair while they write; this
    is the verifier that recomputes it over any frame, e.g. a table's
    parquet read back."""
    row = df.agg(*_count_and_checksum_aggs(df.columns)).first()
    return int(row["rows"]), int(row["xor64"])


# cost/usage events analogue (cost_tracker.py, cost_events DDL
# tables.py:576-603): per-"engine" row counts, observed on the write of
# the table they describe; duration_sec is the latency dimension
_ENGINE_EVENTS = {"turns": "turns_by_path", "records": "records_by_parser"}


def _write_aggs(table: str, columns: list[str]) -> list:
    """Aggregates observed on ``table``'s write: (rows, xor64), plus
    the TEXT/TOOL/EMPTY extraction paths on turns and the record
    parsers on records (fallback rows count under their tier's
    direction_source, main-path rows roll up as column_path)."""
    aggs = _count_and_checksum_aggs(columns)
    if table == "turns":
        aggs += [F.expr(f"count_if(extraction_path = {sql_string(p)}) AS {_ident(p)}")
                 for p in EXTRACTION_PATHS]
    elif table == "records":
        aggs.append(F.expr(f"count_if(NOT fallback_used) AS {_ident(COLUMN_PATH)}"))
        aggs += [F.expr(f"count_if(fallback_used AND direction_source = {sql_string(t)})"
                        f" AS {_ident(t)}") for t in FALLBACK_TIERS]
    return aggs


@contextlib.contextmanager
def _job_description(sc, description: str):
    """Describe every Spark job started in the block; the caller's
    description (e.g. its job group's) is restored afterwards."""
    previous = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(description)
    try:
        yield
    finally:
        sc.setJobDescription(previous)


def manifest_path(out_dir: str, group: int) -> str:
    return os.path.join(out_dir, MANIFEST_DIR, f"group_{group:05d}.json")


def committed_groups(out_dir: str) -> set[int]:
    mdir = os.path.join(out_dir, MANIFEST_DIR)
    if not os.path.isdir(mdir):
        return set()
    out = set()
    for name in os.listdir(mdir):
        if name.startswith("group_") and name.endswith(".json"):
            out.add(int(name[len("group_"):-len(".json")]))
    return out


def commit_manifest(out_dir: str, group: int, payload: dict) -> None:
    path = manifest_path(out_dir, group)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(payload, fh, sort_keys=True)
    os.replace(tmp, path)  # atomic commit


def record_run(out_dir: str, entry: dict) -> None:
    """Append one run to the registry (extraction_runs analogue)."""
    path = os.path.join(out_dir, MANIFEST_DIR, RUNS_LOG)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "a") as fh:
        fh.write(json.dumps(entry, sort_keys=True) + "\n")


def run_history(out_dir: str) -> list[dict]:
    path = os.path.join(out_dir, MANIFEST_DIR, RUNS_LOG)
    if not os.path.exists(path):
        return []
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def latest_run(out_dir: str) -> Optional[dict]:
    """The newest registry entry that actually WROTE data — outputs
    whose run_id column equals latest_run()['run_id'] are the
    is_latest rows (tables.py:184-246).  No-op resumes (all groups
    already committed) are recorded in the registry but skipped here:
    their run_id appears on no output row, so treating them as latest
    would make the is_latest set empty."""
    hist = run_history(out_dir)
    for entry in reversed(hist):
        if entry.get("groups_processed"):
            return entry
    # registry holds only no-op runs (e.g. runs.jsonl created after the
    # data was committed): no run_id matches any output row, so there
    # is no latest run — callers must handle None rather than receive
    # an entry that selects an empty is_latest set
    return None


def _input_rows(seen: Observation, outputs: dict, group: int) -> int:
    """The group's input rows, observed on its input frame.

    When a group is empty, adaptive execution replaces the plan above
    its first (empty) exchange with an empty relation, the input's
    observer included, and the observation completes with an empty
    row that ``Observation.get`` cannot convert: that is zero rows.
    """
    if seen._jo.getRow().length():
        return seen.get["rows"]
    if any(o["rows"] for o in outputs.values()):
        raise RuntimeError(f"group {group}: the input rows were not observed")
    return 0


def run_with_resume(transcripts: DataFrame,
                    out_dir: str,
                    n_groups: int = 8,
                    run_pipeline_fn=None,
                    tables: Optional[list[str]] = None,
                    run_id: Optional[str] = None) -> dict:
    """Process bucket groups not yet committed; return a run summary.

    Each group is an independent, idempotent unit of work: outputs are
    overwritten per group directory and the manifest is the commit
    marker.  n_groups controls both resume granularity and how much of
    the corpus a single failure costs.

    Output rows carry a ``run_id`` column; group manifests and the
    runs.jsonl registry record which run committed what, so
    reprocessing history is reconstructable from the tables alone.
    """
    if run_pipeline_fn is None:
        from ..stages.pipeline import run_pipeline as run_pipeline_fn
    # detected_tables rides along by default: the combined extraction
    # pass already computes the diagnostics rows, so persisting them
    # costs only the write (reference parity: detected_tables is a
    # persisted table, tables.py:252-292)
    tables = tables or ["turns", "records", "segments", "conversations",
                        "detected_tables"]
    run_id = run_id or f"run-{uuid.uuid4().hex[:12]}"
    sc = transcripts.sparkSession.sparkContext

    done = committed_groups(out_dir)
    summary = {"n_groups": n_groups, "skipped": sorted(done),
               "processed": [], "run_id": run_id}

    bucketed = transcripts.withColumn("_grp", bucket_of(F.col("conv_id"), n_groups))

    for g in range(n_groups):
        if g in done:
            continue
        t0 = time.perf_counter()
        seen = Observation()
        part = bucketed.where(F.col("_grp") == g).drop("_grp") \
                       .observe(seen, F.count(F.lit(1)).alias("rows"))
        outputs = run_pipeline_fn(part, persist=True)
        cached = [outputs.pop(k) for k in list(outputs) if k.startswith("_")]
        observed = {}
        for name in tables:
            df = outputs[name].withColumn("run_id", F.lit(run_id))
            observed[name] = Observation()
            path = os.path.join(out_dir, name, f"bucket_group={g}")
            with _job_description(sc, f"write {name} group={g}"):
                df.observe(observed[name], *_write_aggs(name, df.columns)) \
                  .write.mode("overwrite").parquet(path)
        # every observation is complete once the writes have returned
        meta: dict = {"group": g, "outputs": {}, "run_id": run_id,
                      "pipeline_version": PIPELINE_VERSION}
        for name, obs in observed.items():
            counts = obs.get
            meta["outputs"][name] = {"rows": counts.pop("rows"),
                                     "xor64": counts.pop("xor64")}
            if name in _ENGINE_EVENTS:
                # list only the engines that produced rows
                meta.setdefault("engine_events", {})[_ENGINE_EVENTS[name]] = {
                    k: n for k, n in counts.items() if n}
        meta["input_rows"] = _input_rows(seen, meta["outputs"], g)
        for c in cached:
            c.unpersist()
        meta["duration_sec"] = round(time.perf_counter() - t0, 3)
        commit_manifest(out_dir, g, meta)
        summary["processed"].append(g)

    record_run(out_dir, {
        "run_id": run_id,
        "pipeline_version": PIPELINE_VERSION,
        "engine_versions": engine_versions(),
        "n_groups": n_groups,
        "groups_processed": summary["processed"],
        "groups_skipped": summary["skipped"],
        "ts": time.time(),
    })
    return summary
