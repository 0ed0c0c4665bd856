"""Per-layer metrics of a traced run, from the spans and the event log.

Every traced run reports every name in ``names()``, zero where the layer
did no work, so all workloads share one key set. Totals cover the timed
phase, the consumers' last round and the reader's last requests after it
(spans that started inside);
``*.s`` is inclusive span time and ``*.self_s`` span time minus the time
covered by child spans.
"""

from __future__ import annotations

from collections import defaultdict

from . import eventlog, stats

LAYERS = ("streaming.replay", "operators.merge", "lakehouse.table",
          "operators.token_index", "operators.neardup_index")
PHASES = ("summary_agg", "dedup_and_affected", "merge_write", "observe_metrics",
          "dlq", "commit")
SPARK_KEYS = ("jobs", "task_s", "gc_s", "shuffle_write_bytes", "spill_bytes",
              "task_skew")


def names() -> list[str]:
    out = [
        "streaming.replay.replay_batch.calls",
        "streaming.replay.replay_batch.self_s",
        "operators.merge.apply_batch.calls",
        "operators.merge.apply_batch.self_s",
        "operators.merge.events_total",
        "operators.merge.rows_written",
        "operators.merge.buckets_rewritten",
        "operators.merge.dlq_count",
        *[f"operators.merge.phase_sec.{p}" for p in PHASES],
        "operators.merge.rewrite_amp",
        "lakehouse.table.write_data_files.calls",
        "lakehouse.table.write_data_files.s",
        "lakehouse.table.write_data_files.files",
        "lakehouse.table.write_data_files.bytes",
        "lakehouse.table.commit_with_retry.calls",
        "lakehouse.table.commit_with_retry.s",
        "lakehouse.table.write_dlq.calls",
        "lakehouse.table.write_dlq.s",
        "lakehouse.table.read_keys.calls",
        "lakehouse.table.read_keys.s",
        "lakehouse.table.read.calls",
        "lakehouse.table.read.s",
        "lakehouse.table.read.rows_scanned_per_row",
        "lakehouse.table.compact.calls",
        "lakehouse.table.compact.s",
        "lakehouse.table.compact.bytes_rewritten",
        "lakehouse.table.vacuum.calls",
        "lakehouse.table.vacuum.s",
        "lakehouse.table.data_files",
        "lakehouse.table.delta_files",
        "lakehouse.table.stored_bytes",
        "operators.token_index.sync_token_index.calls",
        "operators.token_index.sync_token_index.s",
        "operators.neardup_index.sync_index.calls",
        "operators.neardup_index.sync_index.s",
        "operators.neardup_index.changed_docs",
        "sources.scan.input_bytes",
        "sources.scan.input_records",
        "sources.scan.task_s",
        "spark.cpu_busy_frac",
        "spark.driver_only_s",
        *[f"{layer}.spark.{k}" for layer in LAYERS for k in SPARK_KEYS],
        "bench.batch.wall_s",
        "bench.batch.unattributed_s",
        "bench.batch.unattributed_frac",
        "trace.overhead_frac",
    ]
    return out


def compute(run, tracer, event_log: str, source_location: str,
            untraced_p50: float | None) -> dict[str, float]:
    lo, hi = run.trace_window
    selfs = tracer.self_times()
    spans = [s for s in tracer.spans if lo <= s["start"] <= hi]
    m: dict[str, float] = {k: 0.0 for k in names()}

    by_name: dict[tuple, list[dict]] = defaultdict(list)
    for s in spans:
        by_name[(s["layer"], s["name"])].append(s)

    def reader_only(name: str) -> list[dict]:
        # the reader's own requests; reads the engine plans internally are
        # accounted inside their callers
        return [s for s in by_name[("lakehouse.table", name)]
                if s["thread"].startswith("reader") and s["parent"] is None]

    for (layer, name), group in by_name.items():
        if layer == "bench":
            continue
        if name in ("read", "read_keys"):
            group = reader_only(name)
        base = f"{layer}.{name}"
        if f"{base}.calls" in m:
            m[f"{base}.calls"] = float(len(group))
        if f"{base}.s" in m:
            m[f"{base}.s"] = sum(s["end"] - s["start"] for s in group)
        if f"{base}.self_s" in m:
            m[f"{base}.self_s"] = sum(selfs[s["id"]] for s in group)

    wdf = by_name[("lakehouse.table", "write_data_files")]
    m["lakehouse.table.write_data_files.files"] = float(sum(s.get("files", 0) for s in wdf))
    m["lakehouse.table.write_data_files.bytes"] = float(sum(s.get("bytes", 0) for s in wdf))
    # compaction rewrites land through write_data_files under the compact span
    compact_ids = {s["id"] for s in by_name[("lakehouse.table", "compact")]}
    m["lakehouse.table.compact.bytes_rewritten"] = float(sum(
        s.get("bytes", 0) for s in wdf if s.get("parent") in compact_ids))

    applies = [s for s in by_name[("operators.merge", "apply_batch")] if "result" in s]
    for k in ("events_total", "rows_written", "buckets_rewritten", "dlq_count"):
        m[f"operators.merge.{k}"] = float(sum(s["result"].get(k, 0) for s in applies))
    for p in PHASES:
        m[f"operators.merge.phase_sec.{p}"] = float(sum(
            s["result"].get("phase_sec", {}).get(p, 0.0) for s in applies))
    distinct = sum(run.distinct[b] for b in {s["batch"] for s in applies})
    m["operators.merge.rewrite_amp"] = (
        m["operators.merge.rows_written"] / distinct if distinct else 0.0)

    m["operators.neardup_index.changed_docs"] = float(sum(
        s.get("changed_docs", 0) for s in by_name[("operators.neardup_index", "sync_index")]))

    samples = run.details.get("layout_samples", [])
    if samples:
        m["lakehouse.table.data_files"] = stats.median([s[0] for s in samples])
        m["lakehouse.table.delta_files"] = stats.median([s[1] for s in samples])
        m["lakehouse.table.stored_bytes"] = stats.median([s[2] for s in samples])

    batches = by_name[("bench", "batch")]
    wall = sum(s["end"] - s["start"] for s in batches)
    unattributed = sum(selfs[s["id"]] for s in batches)
    m["bench.batch.wall_s"] = wall
    m["bench.batch.unattributed_s"] = unattributed
    m["bench.batch.unattributed_frac"] = unattributed / wall if wall else 0.0

    spark = eventlog.parse(event_log, run.trace_window, run.cores,
                           source_location, list(LAYERS))
    reader_records = spark.pop("reader_input_records")
    m.update(spark)
    # rows returned: a lookup's collected rows, a scan's live table rows
    rows_read = sum(n if kind == "lookup" else run.details.get("live_rows", 0)
                    for kind, _, _, ok, n in run.reads if ok)
    if rows_read:
        m["lakehouse.table.read.rows_scanned_per_row"] = reader_records / rows_read
    if untraced_p50:
        m["trace.overhead_frac"] = (
            stats.median(run.applies) / untraced_p50 - 1.0 if run.applies else 0.0)
    return m
