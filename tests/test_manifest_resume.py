"""Checkpoint/lineage manifests + exact resume (io/manifest.py)."""

from __future__ import annotations

import json
import os
import re
import shutil

import pytest

from universal_pdf_extractor_spark.io.fixtures import generate_transcripts
from universal_pdf_extractor_spark.io.manifest import (
    PIPELINE_VERSION,
    bucket_of,
    committed_groups,
    count_and_checksum,
    latest_run,
    manifest_path,
    run_history,
    run_with_resume,
)
from universal_pdf_extractor_spark.schemas import (
    COLUMN_PATH,
    EXTRACTION_PATHS,
    FALLBACK_TIERS,
    TRANSCRIPTS_SCHEMA,
)

N_GROUPS = 4
TABLES = ("turns", "records", "segments", "conversations", "detected_tables")


@pytest.fixture(scope="module")
def corpus(spark):
    pdf = generate_transcripts(24)
    return spark.createDataFrame(pdf, schema=TRANSCRIPTS_SCHEMA)


def test_full_run_then_exact_resume(spark, corpus, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("resume_out"))

    s1 = run_with_resume(corpus, out, n_groups=N_GROUPS)
    assert s1["processed"] == list(range(N_GROUPS))
    assert committed_groups(out) == set(range(N_GROUPS))

    turns_all = spark.read.parquet(os.path.join(out, "turns")).count()
    assert turns_all == corpus.count()

    # manifests carry lineage metrics + run identity
    with open(manifest_path(out, 0)) as fh:
        m = json.load(fh)
    assert m["input_rows"] > 0
    assert set(m["outputs"]) == set(TABLES)
    assert all("rows" in v and "xor64" in v for v in m["outputs"].values())
    assert m["run_id"] == s1["run_id"]
    assert m["pipeline_version"] == PIPELINE_VERSION
    # usage/cost events analogue: per-engine row counts + duration
    assert sum(m["engine_events"]["turns_by_path"].values()) == m["input_rows"]
    assert set(m["engine_events"]["turns_by_path"]) <= set(EXTRACTION_PATHS)
    assert set(m["engine_events"]["records_by_parser"]) <= \
        {COLUMN_PATH, *FALLBACK_TIERS}
    assert m["duration_sec"] > 0

    # outputs carry the run_id column; registry reconstructs is_latest
    turns_df = spark.read.parquet(os.path.join(out, "turns"))
    assert set(turns_df.select("run_id").distinct().toPandas()["run_id"]) \
        == {s1["run_id"]}
    reg = latest_run(out)
    assert reg["run_id"] == s1["run_id"]
    assert reg["engine_versions"]["engine"] == PIPELINE_VERSION

    # simulate a crash that lost group 2: drop its manifest + outputs
    os.remove(manifest_path(out, 2))
    for table in TABLES:
        shutil.rmtree(os.path.join(out, table, "bucket_group=2"), ignore_errors=True)

    s2 = run_with_resume(corpus, out, n_groups=N_GROUPS)
    assert s2["processed"] == [2]
    assert sorted(s2["skipped"]) == [0, 1, 3]

    # after resume the dataset is whole again and group 2 carries the
    # NEW run's identity (reprocessing history reconstructable)
    assert spark.read.parquet(os.path.join(out, "turns")).count() == turns_all
    with open(manifest_path(out, 2)) as fh:
        m2 = json.load(fh)
    assert m2["outputs"]["turns"]["rows"] > 0
    assert m2["run_id"] == s2["run_id"] != s1["run_id"]
    assert [r["run_id"] for r in run_history(out)] == [s1["run_id"], s2["run_id"]]
    assert latest_run(out)["run_id"] == s2["run_id"]


def test_noop_when_all_committed(spark, corpus, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("resume_out2"))
    run_with_resume(corpus, out, n_groups=2)
    s = run_with_resume(corpus, out, n_groups=2)
    assert s["processed"] == []
    assert sorted(s["skipped"]) == [0, 1]


def test_noop_resume_keeps_writing_run_latest(spark, corpus, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("resume_out3"))
    s1 = run_with_resume(corpus, out, n_groups=2)
    s2 = run_with_resume(corpus, out, n_groups=2)  # no-op resume
    assert s2["processed"] == []
    # both runs are in the registry, but is_latest reconstruction must
    # point at the run whose run_id actually appears on output rows
    assert [r["run_id"] for r in run_history(out)] == [s1["run_id"], s2["run_id"]]
    assert latest_run(out)["run_id"] == s1["run_id"]


@pytest.fixture(scope="module")
def small_run(spark, tmp_path_factory):
    """Two conversations over three groups, so at least one bucket group
    is empty, run under a job group of its own."""
    pdf = generate_transcripts(2)
    corpus = spark.createDataFrame(pdf, schema=TRANSCRIPTS_SCHEMA)
    out = str(tmp_path_factory.mktemp("resume_small"))
    sc = spark.sparkContext
    sc.setJobGroup("manifest-jobs", "run_with_resume")
    try:
        summary = run_with_resume(corpus, out, n_groups=3)
        # the status tracker learns of jobs from the asynchronous
        # listener bus: drain it, or the last jobs may be missed
        sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
        job_ids = sc.statusTracker().getJobIdsForGroup("manifest-jobs")
    finally:
        sc._jsc.clearJobGroup()
    store = sc._jsc.sc().statusStore()
    descriptions = []
    for jid in job_ids:
        desc = store.job(jid).description()
        descriptions.append(desc.get() if desc.isDefined() else None)
    manifests = {}
    for g in summary["processed"]:
        with open(manifest_path(out, g)) as fh:
            manifests[g] = json.load(fh)
    return corpus, out, manifests, descriptions


def test_manifest_metrics_match_parquet_read_back(spark, small_run):
    corpus, out, manifests, _ = small_run
    assert sorted(manifests) == [0, 1, 2]
    for g, m in manifests.items():
        # input rows are observed on the input, not copied from an output
        assert m["input_rows"] == corpus.where(bucket_of(corpus.conv_id, 3) == g).count()
        for table in TABLES:
            back = spark.read.parquet(os.path.join(out, table, f"bucket_group={g}"))
            assert (m["outputs"][table]["rows"], m["outputs"][table]["xor64"]) \
                == count_and_checksum(back), (g, table)
        events = m["engine_events"]
        assert sum(events["turns_by_path"].values()) == m["outputs"]["turns"]["rows"]
        # every fallback tier is counted: the parsers cover all records
        assert sum(events["records_by_parser"].values()) \
            == m["outputs"]["records"]["rows"]


def test_empty_bucket_group_commits_zero_metrics(small_run):
    _, _, manifests, _ = small_run
    empty = [m for m in manifests.values() if m["input_rows"] == 0]
    assert empty, "two conversations over three groups leave one empty"
    for m in empty:
        assert m["outputs"] == {t: {"rows": 0, "xor64": 0} for t in TABLES}
        assert m["engine_events"] == {"turns_by_path": {}, "records_by_parser": {}}


def test_every_group_job_is_a_described_write(small_run):
    _, _, manifests, descriptions = small_run
    assert descriptions
    pattern = re.compile(r"write (\w+) group=(\d+)")
    written = set()
    for desc in descriptions:
        match = pattern.fullmatch(desc or "")
        assert match, f"a job outside the writes: {desc!r}"
        written.add((match[1], int(match[2])))
    assert written == {(t, g) for t in TABLES for g in manifests}
