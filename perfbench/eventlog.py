"""Offline parser for the Spark event log of a traced run.

Every stage is attributed to the layer named in its job description
(``layer:name``, set by the benchmark's spans); stages run with no
description count as ``unattributed``. Stages that read the change log are
found from the SQL plans: a scan node whose ``Location`` lies under the
change-log directory owns some SQL metric accumulators, and a stage that
updated one of them read the change log.

Only tasks inside the measured window count. Times in the event log are
epoch milliseconds, the same clock as Python's ``time.time()``.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_AQE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"


def _events(path: str):
    files = [path]
    if os.path.isdir(path):  # rolling layout: eventlog_v2_*/events_N_*
        files = sorted(
            os.path.join(path, f) for f in os.listdir(path) if f.startswith("events_")
        )
    for fp in files:
        with open(fp) as f:
            for line in f:
                line = line.strip()
                if line:
                    yield json.loads(line)


def find_log(event_dir: str) -> str:
    entries = [e for e in os.listdir(event_dir) if not e.startswith(".")]
    if len(entries) != 1:
        raise RuntimeError(f"expected one event log in {event_dir}, found {entries}")
    return os.path.join(event_dir, entries[0])


def _scan_accumulators(plan: dict, location_prefix: str, out: set) -> None:
    if plan.get("nodeName", "").startswith("Scan"):
        loc = (plan.get("metadata") or {}).get("Location", "")
        if location_prefix in loc:
            out.update(m["accumulatorId"] for m in plan.get("metrics", []))
    for c in plan.get("children", []):
        _scan_accumulators(c, location_prefix, out)


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, hi_end = 0.0, None
    for lo, hi in sorted(intervals):
        if hi_end is None or lo > hi_end:
            total += hi - lo
            hi_end = hi
        elif hi > hi_end:
            total += hi - hi_end
            hi_end = hi
    return total


def _desc(ev: dict) -> str:
    return (ev.get("Properties") or {}).get("spark.job.description") or ""


def _layer(desc: str) -> str:
    return desc.split(":", 1)[0] if ":" in desc else "unattributed"


def parse(path: str, window: tuple[float, float], cores: int,
          source_location: str, layers: list[str]) -> dict[str, float]:
    """→ flat per-layer metrics for tasks inside ``window`` (epoch seconds).

    ``source_location`` is the directory holding the change log; ``layers``
    the layer names to report (each gets every key, zero if it ran nothing).
    ``reader_input_records`` counts the input records of stages run for the
    reader's requests (descriptions ``lakehouse.table:read``/``read_keys``).
    """
    lo_ms, hi_ms = window[0] * 1000.0, window[1] * 1000.0
    stage_desc: dict[int, str] = {}
    job_layer: dict[int, tuple[str, float]] = {}  # job → (layer, submitted)
    source_accs: set = set()
    stage_accs: dict[int, set] = defaultdict(set)
    tasks: list[tuple] = []  # (stage, launch_ms, finish_ms, metrics)

    for ev in _events(path):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            desc = _desc(ev)
            job_layer[ev["Job ID"]] = (_layer(desc), ev.get("Submission Time", 0))
            for sid in ev.get("Stage IDs", []):
                stage_desc.setdefault(sid, desc)
        elif kind == "SparkListenerStageSubmitted":
            if _desc(ev):
                stage_desc[ev["Stage Info"]["Stage ID"]] = _desc(ev)
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            stage_accs[info["Stage ID"]].update(
                a["ID"] for a in info.get("Accumulables", [])
            )
        elif kind == "SparkListenerTaskEnd":
            ti, tm = ev.get("Task Info") or {}, ev.get("Task Metrics") or {}
            tasks.append((ev["Stage ID"], ti.get("Launch Time", 0),
                          ti.get("Finish Time", 0), tm))
        elif kind in (SQL_START, SQL_AQE):
            _scan_accumulators(ev.get("sparkPlanInfo") or {}, source_location,
                               source_accs)

    source_stages = {s for s, accs in stage_accs.items() if accs & source_accs}
    per = {
        layer: {"task_s": 0.0, "gc_s": 0.0, "shuffle_write_bytes": 0.0,
                "spill_bytes": 0.0}
        for layer in layers
    }
    stage_durs: dict[int, list[float]] = defaultdict(list)
    busy: list[tuple[float, float]] = []
    src = {"input_bytes": 0.0, "input_records": 0.0, "task_s": 0.0}
    task_total = reader_records = 0.0
    for sid, launch, finish, tm in tasks:
        a, b = max(launch, lo_ms), min(finish, hi_ms)
        if b <= a:
            continue
        dur = (b - a) / 1000.0
        busy.append((a, b))
        task_total += dur
        desc = stage_desc.get(sid, "")
        layer = _layer(desc)
        stage_durs[sid].append((finish - launch) / 1000.0)
        inp = tm.get("Input Metrics") or {}
        if layer in per:
            p = per[layer]
            p["task_s"] += dur
            p["gc_s"] += tm.get("JVM GC Time", 0) / 1000.0
            p["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            p["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
        if sid in source_stages:
            src["input_bytes"] += inp.get("Bytes Read", 0)
            src["input_records"] += inp.get("Records Read", 0)
            src["task_s"] += dur
        if desc in ("lakehouse.table:read", "lakehouse.table:read_keys"):
            reader_records += inp.get("Records Read", 0)

    # task skew per layer: slowest task over mean task, summed over the
    # layer's multi-task stages (a value of 1 means perfectly even stages)
    skew_num: dict[str, float] = defaultdict(float)
    skew_den: dict[str, float] = defaultdict(float)
    for sid, durs in stage_durs.items():
        if len(durs) < 2:
            continue
        layer = _layer(stage_desc.get(sid, ""))
        skew_num[layer] += max(durs)
        skew_den[layer] += sum(durs) / len(durs)

    wall = max(window[1] - window[0], 1e-9)
    out = {
        "spark.cpu_busy_frac": task_total / (wall * cores),
        "spark.driver_only_s": wall - _union_s(busy) / 1000.0,
        "reader_input_records": reader_records,
    }
    for layer in layers:
        out[f"{layer}.spark.jobs"] = float(sum(
            1 for lay, t in job_layer.values() if lay == layer and lo_ms <= t <= hi_ms
        ))
        for k, v in per[layer].items():
            out[f"{layer}.spark.{k}"] = v
        out[f"{layer}.spark.task_skew"] = (
            skew_num[layer] / skew_den[layer] if skew_den[layer] > 0 else 1.0
        )
    for k, v in src.items():
        out[f"sources.scan.{k}"] = v
    return out
