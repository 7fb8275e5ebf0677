"""The two workloads: one timed run, its correctness check, and the
traced run that yields the per-layer numbers.

``statements`` runs the production path, ``io.manifest.run_with_resume``,
over a statement-heavy corpus, so every ``stages.*`` layer, the parquet
writes and the manifest's per-group checksums run in it.  ``dedup`` runs
the registered dedup and text-quality entry queries and the component
closure; no ``stages.*`` or ``io.manifest`` code runs there, which makes
it the bypass workload for pipeline and manifest changes (and the other
way round).
"""

from __future__ import annotations

import statistics
import time
from contextlib import nullcontext
from pathlib import Path
from unittest import mock

import checks
import tracing
from harness import dir_bytes, fresh_dir, parquet_data_bytes

N_GROUPS = 1  # one resumable group per run; see README.md for why not 8


def _phase_jobs(spark, group: str) -> int:
    sc = spark.sparkContext
    # the status tracker learns of jobs from the listener bus, which is
    # asynchronous: drain it, or the last jobs of a run may be missed
    sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
    return len(sc.statusTracker().getJobIdsForGroup(group))


class Statements:
    name = "statements"

    def __init__(self, spark, corpus, work: Path, seed: int):
        from universal_pdf_extractor_spark.io.manifest import run_with_resume

        self.spark, self.corpus, self.seed = spark, corpus, seed
        self.out = work / "out"
        self.src = spark.read.parquet(corpus.path)
        self.run_id = f"perfbench-{seed}"   # fixed, so checksums repeat across runs
        self._run_with_resume = run_with_resume
        self._expected = None
        self._first_outputs = None

    def run(self, tag: str, pipeline_fn=None) -> dict:
        fresh_dir(self.out)
        self.spark.sparkContext.setJobGroup(tag, tag)
        t0 = time.perf_counter()
        self._run_with_resume(self.src, str(self.out), n_groups=N_GROUPS,
                              run_id=self.run_id, run_pipeline_fn=pipeline_fn)
        wall = time.perf_counter() - t0
        jobs = _phase_jobs(self.spark, tag)
        self.spark.sparkContext.setJobGroup(f"{tag}:after", "checks")
        return {"wall": wall, "out_bytes": parquet_data_bytes(self.out), "jobs": jobs,
                "manifests": checks.manifests(str(self.out))}

    def check(self, rec: dict) -> list[str]:
        if self._expected is None:
            self._expected = checks.oracle_sample(self.corpus.conversations, self.seed)
        bad = checks.manifests_vs_parquet(self.spark, str(self.out))
        bad += checks.statements_vs_oracle(str(self.out), self._expected)
        outputs = [m["outputs"] for m in rec["manifests"]]
        if self._first_outputs is None:
            self._first_outputs = outputs
        elif outputs != self._first_outputs:
            bad.append("manifest rows/checksums differ from the first checked run")
        return bad

    def traced_run(self, tracer: tracing.Tracer, tag: str) -> dict:
        """One run_with_resume call whose pipeline forces one stage at a
        time, with the writes and checksums it makes timed as spans.

        Each stage's input is cached and forced before the stage itself,
        so every span is that stage's own time.  The tokenize and
        classify frames are rebuilt here to be cached, and run_pipeline's
        own frames pick those caches up by plan equality; the run fails
        if a stage's plan does not read the cache of the stage before,
        since its span would then hold that stage's time too."""
        from pyspark import StorageLevel
        from pyspark.sql import functions as F  # noqa: N812
        from pyspark.sql.readwriter import DataFrameWriter

        from universal_pdf_extractor_spark.io import manifest
        from universal_pdf_extractor_spark.stages.classify import classify_stage
        from universal_pdf_extractor_spark.stages.pipeline import run_pipeline
        from universal_pdf_extractor_spark.stages.tokenize import tokenize_stage

        stages: dict[str, list] = {}
        level = StorageLevel.MEMORY_AND_DISK

        def stage(name: str, frames: list, reads: tuple = ()) -> None:
            with tracer.span(name):
                for df in frames:
                    tracing.force(df)
            for cached in reads:
                if not any(tracing.scans_cache(df, cached) for df in frames):
                    raise RuntimeError(f"the traced {name} stage does not read the "
                                       "cache of the stage before it")
            stages[name] = frames

        def traced_pipeline(part, persist=True):
            with tracer.span("pipeline"):
                tok = tokenize_stage(part).persist(level)
                stage("tokenize", [tok])
                out = run_pipeline(part, persist=True)
                turns_seg, records = out["_turns_seg"], out["_records_stage"]
                stage("segment", [turns_seg], reads=(tok,))
                stage("extract", [records], reads=(turns_seg,))
                conv_meta = classify_stage(
                    turns_seg,
                    extra_aggs=((F.max("segment_index") + 1).cast("int")
                                .alias("n_segments"),),
                    extra_cols=("n_segments",)).persist(level)
                stage("classify", [conv_meta], reads=(turns_seg,))
                out["conversations"] = out["conversations"].persist(level)
                out["segments"] = out["segments"].persist(level)
                stage("score", [out["conversations"], out["segments"]],
                      reads=(conv_meta, records, turns_seg))
            out.update({"_tok": tok, "_conv_meta": conv_meta,
                        "_conversations": out["conversations"],
                        "_segments": out["segments"]})
            return out

        parquet = DataFrameWriter.parquet

        def write(writer, path, *args, **kwargs):
            with tracer.span("write") as rec:
                parquet(writer, path, *args, **kwargs)
            rec["bytes"] = dir_bytes(path)

        checksum = tracer.wrap("checksum", manifest.count_and_checksum)
        with mock.patch.object(DataFrameWriter, "parquet", write), \
                mock.patch.object(manifest, "count_and_checksum", checksum), \
                tracer.span("run"):
            rec = self.run(tag, traced_pipeline)
        # read after the run, so the plan walks stay out of its wall time
        rec["ops"] = {name: [op for df in frames for op in tracing.operators(df)]
                      for name, frames in stages.items()}
        return rec

    def layers(self, base: dict, traced: dict, tracer: tracing.Tracer) -> dict:
        s = {k: tracing.summarize(v) for k, v in traced["ops"].items()}
        rec = checks.read_table(str(self.out / "records"), ["fallback_used", "balance_confirmed"])
        n_rec = rec.num_rows
        fallback = sum(rec.column("fallback_used").to_pylist())
        confirmed = sum(rec.column("balance_confirmed").to_pylist())
        out = {
            "segment.shuffle_mb": s["segment"]["shuffle_mb"],
            "segment.partitions": s["segment"]["partitions"],
            "extract.records": n_rec,
            "extract.fallback_share": fallback / n_rec if n_rec else 0.0,
            "extract.balance_confirmed_share": confirmed / n_rec if n_rec else 0.0,
            "classify.conversations": checks.read_table(str(self.out / "conversations"),
                                            ["conv_id"]).num_rows,
            "score.s": tracer.total("score"),
            "write.s": tracer.total("write"),
            "write.mb": sum(sp.get("bytes", 0) for sp in tracer.spans
                            if sp["name"] == "write") / 1e6,
            "manifest.checksum_s": tracer.total("checksum"),
            "manifest.jobs_per_group": base["jobs"] / max(1, len(base["manifests"])),
            "manifest.group_s": statistics.median(m["duration_sec"] for m in base["manifests"]),
            "spark.jobs": base["jobs"],
        }
        for name in ("tokenize", "segment", "extract", "classify"):
            out[f"{name}.s"] = tracer.total(name)
        for name in ("tokenize", "extract", "classify"):
            out[f"{name}.python_s"] = s[name]["python_s"]
        for name in ("tokenize", "extract"):
            for k in ("python_init_s", "arrow_in_mb", "arrow_out_mb"):
                out[f"{name}.{k}"] = s[name][k]
        return out


DEDUP_SPANS = {
    "dedup_ngram_jaccard": "dedup.ngram_s",
    "dedup_minhash_lsh": "dedup.minhash_s",
    "dedup_simhash": "dedup.simhash_s",
    "text_quality_scores": "textstats.quality_s",
    "components": "dedup.components_s",
}


class Dedup:
    name = "dedup"

    def __init__(self, spark, corpus, work: Path, seed: int):
        from universal_pdf_extractor_spark import entry_queries
        from universal_pdf_extractor_spark.datapipe.dedup import dedup_components

        self.spark, self.corpus = spark, corpus
        self.out = work / "out"
        self._queries = entry_queries.queries()
        self._components = dedup_components
        self._expected = None

    def run(self, tag: str, tracer: tracing.Tracer | None = None) -> dict:
        fresh_dir(self.out)
        sc = self.spark.sparkContext
        span = tracer.span if tracer else (lambda _name: nullcontext())
        t0 = time.perf_counter()
        for q in checks.DEDUP_QUERIES:
            sc.setJobGroup(f"{tag}:{q}", q)
            with span(q):
                self._queries[q](self.spark, self.corpus.path) \
                    .write.parquet(str(self.out / q))
        sc.setJobGroup(f"{tag}:components", "components")
        with span("components"):
            pairs = self.spark.read.parquet(str(self.out / "dedup_ngram_jaccard"))
            self._components(pairs).write.parquet(str(self.out / "components"))
        wall = time.perf_counter() - t0
        jobs = {p: _phase_jobs(self.spark, f"{tag}:{p}") for p in DEDUP_SPANS}
        sc.setJobGroup(f"{tag}:after", "checks")
        return {"wall": wall, "out_bytes": parquet_data_bytes(self.out), "jobs": sum(jobs.values()),
                "components_jobs": jobs["components"], "phase_jobs": jobs}

    def check(self, rec: dict) -> list[str]:
        if self._expected is None:
            self._expected = checks.dedup_oracle(self.corpus.path)
        return checks.dedup_vs_oracle(str(self.out), self._expected)

    def traced_run(self, tracer: tracing.Tracer, tag: str) -> dict:
        with tracer.span("run"):
            return self.run(tag, tracer)

    def layers(self, base: dict, traced: dict, tracer: tracing.Tracer) -> dict:
        def pairs(q):
            t = checks.read_table(str(self.out / q), ["a", "b"])
            return set(zip(t.column("a").to_pylist(), t.column("b").to_pylist()))

        exact, minhash = pairs("dedup_ngram_jaccard"), pairs("dedup_minhash_lsh")
        hit = len(exact & minhash)
        out = {metric: tracer.total(span) for span, metric in DEDUP_SPANS.items()}
        out.update({
            "dedup.components_jobs": base["components_jobs"],
            "dedup.ngram_pairs": len(exact),
            "dedup.minhash_pairs": len(minhash),
            "dedup.simhash_pairs": len(pairs("dedup_simhash")),
            "dedup.minhash_precision": hit / len(minhash) if minhash else 1.0,
            "dedup.minhash_recall": hit / len(exact) if exact else 1.0,
            "spark.jobs": base["jobs"],
        })
        return out


WORKLOADS = {w.name: w for w in (Statements, Dedup)}
