"""Spans, call wrappers and executed-plan metrics for the traced run.

Spans are recorded around calls into the program's public functions
from the benchmark's own files, kept in memory, and written out with
the result.  Operator metrics come from each forced DataFrame's executed
plan: the walk goes through AQE and query-stage wrappers and into the
cached plan of the frame's own InMemoryTableScan, but not into caches
built by earlier stages, so each stage reports only its own operators.
``scans_cache`` checks that a stage did read an earlier stage's cache.
"""

from __future__ import annotations

import contextlib
import time
from collections import defaultdict


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {"id": len(self.spans), "name": name, "run_id": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def wrap(self, name: str, fn):
        """``fn`` with every call recorded as a span named ``name``."""
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return traced


def force(df) -> int:
    """Execute the DataFrame's own plan so that plan records the metrics
    (a ``noop`` write would plan and execute a separate query)."""
    return df._jdf.queryExecution().toRdd().count()


def _node_metrics(plan) -> dict:
    out = {}
    it = plan.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        metric = kv._2()
        value, kind = metric.value(), metric.metricType()
        if kind == "timing":
            value = value / 1e3          # ms -> s
        elif kind == "nsTiming":
            value = value / 1e9          # ns -> s
        out[kv._1()] = value
    return out


def _children(plan) -> list:
    kids = plan.children()
    return [kids.apply(i) for i in range(kids.size())]


def _walk(df, on_operator, on_cache_scan) -> None:
    """Visit ``df``'s executed operators, its own cache's included; a
    scan of an earlier cache is reported to ``on_cache_scan`` instead of
    walked into."""
    def walk(plan, into_cache: bool) -> None:
        cls = plan.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            return walk(plan.executedPlan(), into_cache)
        if cls.endswith("QueryStageExec"):
            return walk(plan.plan(), into_cache)
        if cls == "ReusedExchangeExec":
            return None  # its metrics belong to the exchange it reuses
        if cls == "InMemoryTableScanExec":
            if into_cache:
                walk(plan.relation().cachedPlan(), False)
            else:
                on_cache_scan(plan.relation())
            return None
        on_operator(plan)
        for child in _children(plan):
            walk(child, into_cache)
        return None

    walk(df._jdf.queryExecution().executedPlan(), True)


def operators(df) -> list[dict]:
    """One row per executed operator of ``df``: name plus metrics."""
    rows: list[dict] = []
    _walk(df, lambda p: rows.append({"op": p.nodeName(), **_node_metrics(p)}),
          lambda _relation: None)
    return rows


def _cache_key(relation) -> int:
    # every InMemoryRelation over one cache shares its CachedRDDBuilder
    return relation.cacheBuilder().hashCode()


def scans_cache(df, cached) -> bool:
    """Whether ``df``'s executed plan reads ``cached`` (a persisted and
    forced frame) from the cache rather than recomputing it."""
    relation = cached._jdf.queryExecution().withCachedData()
    if relation.getClass().getSimpleName() != "InMemoryRelation":
        return False
    keys: set[int] = set()
    _walk(df, lambda _plan: None, lambda r: keys.add(_cache_key(r)))
    return _cache_key(relation) in keys


def summarize(ops: list[dict]) -> dict:
    """Python-UDF, Arrow and exchange totals over a stage's operators."""
    s = defaultdict(float)
    reads = 0
    for op in ops:
        s["python_s"] += op.get("pythonTotalTime", 0.0)
        s["python_init_s"] += op.get("pythonInitTime", 0.0)
        s["arrow_in_mb"] += op.get("pythonDataSent", 0) / 1e6
        s["arrow_out_mb"] += op.get("pythonDataReceived", 0) / 1e6
        if op["op"] == "Exchange":
            s["shuffle_mb"] += op.get("shuffleBytesWritten", 0) / 1e6
            s["exchange_partitions"] += op.get("numPartitions", 0)
        if op["op"] == "AQEShuffleRead" and "numPartitions" in op:
            reads += 1
            s["read_partitions"] += op["numPartitions"]
    s["partitions"] = s["read_partitions"] if reads else s["exchange_partitions"]
    return dict(s)
