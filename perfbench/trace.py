"""Spans recorded by the benchmark around the engine's public calls.

A span has a name, a layer, start and end times, its parent span (the span
open on the same thread when it began) and a batch id. Spans stay in memory
and are written out once, at the end of the run. While tracing is on, every
span also sets the Spark job description of its thread to ``layer:name``, so
the offline event-log parser can attribute stages to layers.

Calls the engine makes internally (``replay_batch`` → ``apply_batch`` →
``LakeTable.write_data_files`` ...) are reached by wrapping the public
functions in this process only; the package's files are not modified.
"""

from __future__ import annotations

import functools
import itertools
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

JOB_DESC = "spark.job.description"

# Public engine calls wrapped while tracing, with the layer each belongs to.
TABLE_METHODS = ("write_data_files", "commit_with_retry", "write_dlq", "read",
                 "read_keys", "compact", "vacuum")


class Tracer:
    def __init__(self, enabled: bool, spark=None):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._sc = spark.sparkContext if (enabled and spark is not None) else None
        self._local = threading.local()
        self._lock = threading.Lock()
        self._ids = itertools.count(1)

    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, layer: str, name: str, batch=None):
        """Time the enclosed block. With tracing off this only yields a
        record carrying ``start``/``end`` so callers can read the duration."""
        rec = {"layer": layer, "name": name, "start": time.time()}
        if not self.enabled:
            try:
                yield rec
            finally:
                rec["end"] = time.time()
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        rec["id"] = next(self._ids)
        rec["parent"] = parent["id"] if parent else None
        rec["batch"] = batch if batch is not None else (parent or {}).get("batch")
        rec["thread"] = threading.current_thread().name
        prev = None
        if self._sc is not None:
            prev = self._sc.getLocalProperty(JOB_DESC)
            self._sc.setLocalProperty(JOB_DESC, f"{layer}:{name}")
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            if self._sc is not None:
                self._sc.setLocalProperty(JOB_DESC, prev)
            with self._lock:
                self.spans.append(rec)

    # ------------------------------------------------------------ wrappers
    def install(self) -> None:
        """Wrap the engine's public calls so that calls made inside the
        engine are traced too. Only used for the traced run."""
        from concept_catalog_etl_spark.lakehouse.table import LakeTable
        from concept_catalog_etl_spark.operators import merge
        from concept_catalog_etl_spark.streaming import replay

        tracer = self
        apply_batch = merge.apply_batch

        @functools.wraps(apply_batch)
        def traced_apply_batch(spark, table, raw, batch_id, cfg=None):
            # the batch id comes from the enclosing replay span: the
            # benchmark's batch index, which keys the fixture's counts
            with tracer.span("operators.merge", "apply_batch") as s:
                out = apply_batch(spark, table, raw, batch_id, cfg)
            s["result"] = {k: v for k, v in out.items()
                           if k in ("events_total", "rows_written",
                                    "buckets_rewritten", "dlq_count",
                                    "phase_sec", "skipped")}
            return out

        replay.apply_batch = traced_apply_batch

        def wrap(name, fn):
            @functools.wraps(fn)
            def traced(table, *a, **kw):
                with tracer.span("lakehouse.table", name) as s:
                    out = fn(table, *a, **kw)
                if name == "write_data_files":
                    s["files"] = len(out)
                    s["bytes"] = sum(
                        os.path.getsize(os.path.join(table.root, e["path"]))
                        for e in out
                    )
                elif name == "compact":
                    s["buckets_compacted"] = out.get("buckets_compacted", 0)
                return out
            return traced

        for name in TABLE_METHODS:
            setattr(LakeTable, name, wrap(name, getattr(LakeTable, name)))

    # ------------------------------------------------------------ analysis
    def self_times(self) -> dict[int, float]:
        """Span id → self time: its duration minus the union of the
        intervals its children (same thread) cover."""
        kids: dict[int, list[dict]] = defaultdict(list)
        for s in self.spans:
            if s.get("parent") is not None:
                kids[s["parent"]].append(s)
        out = {}
        for s in self.spans:
            covered, cur_lo, cur_hi = 0.0, None, None
            for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], s["start"]), min(c["end"], s["end"])
                if hi <= lo:
                    continue
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out[s["id"]] = max(0.0, (s["end"] - s["start"]) - covered)
        return out
