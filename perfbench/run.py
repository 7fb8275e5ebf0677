"""Benchmark command: one workload, one seed, one result line.

    python3 perfbench/run.py --workload statements --seed 1 --seconds 4 --trace 0

Generates the workload's inputs from the seed, starts one local[nproc]
Spark session, warms up with full-size runs until two in a row agree,
then times closed-loop runs (one client, one run at a time) for
``--seconds``.  Every run's outputs are checked for correctness.

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` makes one
untraced run and one traced run instead and reports the per-layer
metrics plus the tracing overhead; the spans and the per-stage operator
ledger are written to ``.perfbench_work/results/``.

The last line of standard output is the result:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
See README.md for every metric's definition.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

from harness import (PACKAGE, WORK, RssSampler, Warmup, context, cpu_ticks,
                     fresh_dir, prepare_env, start_session, stop_session,
                     write_result)

E2E_UNITS = {
    "turns_per_s": "1/s",
    "out_bytes_per_turn": "B",
    "peak_rss_mb": "MB",
    "setup_s": "s",
}

LAYER_UNITS = {
    "tokenize.s": "s", "tokenize.python_s": "s", "tokenize.python_init_s": "s",
    "tokenize.arrow_in_mb": "MB", "tokenize.arrow_out_mb": "MB",
    "segment.s": "s", "segment.shuffle_mb": "MB", "segment.partitions": "count",
    "extract.s": "s", "extract.python_s": "s", "extract.python_init_s": "s",
    "extract.arrow_in_mb": "MB", "extract.arrow_out_mb": "MB",
    "extract.records": "count", "extract.fallback_share": "ratio",
    "extract.balance_confirmed_share": "ratio",
    "classify.s": "s", "classify.python_s": "s", "classify.conversations": "count",
    "score.s": "s",
    "write.s": "s", "write.mb": "MB",
    "manifest.checksum_s": "s", "manifest.jobs_per_group": "count",
    "manifest.group_s": "s",
    "spark.jobs": "count",
    "dedup.ngram_s": "s", "dedup.minhash_s": "s", "dedup.simhash_s": "s",
    "dedup.components_s": "s", "dedup.components_jobs": "count",
    "dedup.ngram_pairs": "count", "dedup.minhash_pairs": "count",
    "dedup.simhash_pairs": "count", "dedup.minhash_precision": "ratio",
    "dedup.minhash_recall": "ratio",
    "textstats.quality_s": "s",
    "trace.overhead_s": "s",
}


def _run(fn, tag: str, log: list) -> dict | None:
    """One run, with its peak memory; None if it raised (it then counts
    as failed)."""
    try:
        with RssSampler() as mem:
            rec = fn()
        rec["peak_mem"] = mem.peak["total"]
        rec["peak_breakdown"] = mem.peak
        return rec
    except Exception:  # a failed run counts in fail_ratio; keep measuring
        traceback.print_exc()
        log.append({"run": tag, "error": traceback.format_exc(limit=3)})
        return None


def _check(wl, rec: dict, tag: str, log: list) -> bool:
    t0 = time.perf_counter()
    try:
        bad = wl.check(rec)
    except Exception:
        traceback.print_exc()
        bad = ["the check raised: " + traceback.format_exc(limit=1)]
    log.append({"run": tag, "wall_s": rec["wall"], "peak_mem": rec["peak_breakdown"],
                "jobs": rec.get("phase_jobs", rec["jobs"]),
                "check_s": time.perf_counter() - t0, "mismatches": bad})
    if bad:
        print(f"perfbench: {tag} failed its correctness check:", *bad[:10],
              sep="\n  ", file=sys.stderr)
    return not bad


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=("statements", "dedup"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not PACKAGE.is_dir():
        print(f"perfbench: {PACKAGE.name}/ is not in this checkout", file=sys.stderr)
        return 2

    t_start = time.perf_counter()
    label = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = fresh_dir(WORK / label)
    prepare_env(work)
    load_before = os.getloadavg()
    steal_before = cpu_ticks()

    import corpus  # needs the checkout on sys.path, set just above

    make = {"statements": corpus.transcripts, "dedup": corpus.documents}
    data = make[args.workload](args.seed, str(work / "input"))

    # set-up: imports, session start and full-size warm-up runs until
    # steady; the corpus above is excluded
    t_setup = time.perf_counter()
    from workloads import WORKLOADS  # imports the package: part of set-up

    spark = start_session(work)
    warm = Warmup(t_setup)
    log: list[dict] = []
    runs: list[dict] = []   # measured runs that passed their check
    attempted = 0
    try:
        wl = WORKLOADS[args.workload](spark, data, work, args.seed)

        def first_measured(tag: str) -> dict | None:
            while True:
                t_run = time.perf_counter()
                group = f"{tag}.{len(warm.times)}"   # one Spark job group per run
                rec = _run(lambda: wl.run(group), tag, log)
                if warm.settled(rec["wall"] if rec else None, t_run):
                    return rec

        if args.trace == 0:
            measured = 0.0
            while attempted == 0 or measured < args.seconds:
                tag = f"run{attempted}"
                t0 = time.perf_counter()
                rec = (first_measured(tag) if attempted == 0
                       else _run(lambda: wl.run(tag), tag, log))
                attempted += 1
                measured += rec["wall"] if rec else time.perf_counter() - t0
                if rec is not None and _check(wl, rec, tag, log):
                    runs.append(rec)
            timed = runs or [dict.fromkeys(("wall", "out_bytes", "peak_mem"), float("nan"))]
            metrics = {
                "turns_per_s": data.turns / statistics.median(r["wall"] for r in timed),
                "out_bytes_per_turn": statistics.median(r["out_bytes"] for r in timed)
                / data.turns,
                "peak_rss_mb": max(r["peak_mem"] for r in timed) / 1e6,
                "setup_s": warm.setup_s,
            }
            units = E2E_UNITS
            spans: list[dict] = []
            ledger: dict = {}
        else:
            import tracing

            base = first_measured("untraced")
            ok_base = base is not None and _check(wl, base, "untraced", log)
            tracer = tracing.Tracer(run_id=label)
            traced = _run(lambda: wl.traced_run(tracer, "traced"), "traced", log)
            ok_traced = traced is not None and _check(wl, traced, "traced", log)
            attempted = 2
            runs = [r for r, ok in ((base, ok_base), (traced, ok_traced)) if ok]
            if base is None or traced is None:
                raise RuntimeError("the untraced or the traced run raised")
            metrics = dict.fromkeys(LAYER_UNITS, 0)
            metrics.update(wl.layers(base, traced, tracer))
            metrics["trace.overhead_s"] = traced["wall"] - base["wall"]
            units = LAYER_UNITS
            spans = tracer.spans
            ledger = traced.get("ops", {})
    finally:
        t_end = time.perf_counter()
        ctx = context(args.seed, data, load_before, warm.times)
        stop_session(spark)
        fresh_dir(work)
    steal, total = (b - a for a, b in zip(steal_before, cpu_ticks()))
    # CPU time the hypervisor gave to other guests: a noisy host shows here
    ctx["steal_share"] = steal / total if total else 0.0
    ctx["phases"] = {"corpus_s": t_setup - t_start, "setup_s": warm.setup_s,
                     "measure_and_check_s": t_end - t_setup - warm.setup_s,
                     "teardown_s": time.perf_counter() - t_end}

    failed = attempted - len(runs)
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}
    write_result(label, {"result": result, "context": ctx, "runs": log,
                         "timed_runs_s": [r["wall"] for r in runs],
                         "spans": spans, "operators": ledger})
    print("context " + json.dumps(ctx, sort_keys=True))
    print(f"fail_ratio = {failed / attempted} ({failed} of {attempted} runs)")
    for k, m in result["metrics"].items():
        print(f"{k} = {m['value']} {m['unit']}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
