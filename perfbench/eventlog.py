"""Fold a Spark event log into per-group counters.

Spark writes one JSON object per line. Spark 4 writes a rolling directory
(``eventlog_v2_<app>/events_<n>_<app>``); older layouts write one file.
Jobs of a streaming micro-batch (``streaming.sql.batchId``) form the group
``stream`` and are also counted per trigger, keyed ``<queryId>:<batchId>``
as in ``StreamingQueryProgress``; Spark sets their job group to the run
id, so the batch id is checked first. Other jobs are grouped by the job
group the benchmark sets (``spark.jobGroup.id``), else as ``other``.

For each group the fold sums task metrics and measures the time at least
one of the group's tasks was running (the union of task intervals). The
wall time of a group minus that busy time is time spent on the Spark driver:
planning, scheduling and Python.
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict

COUNTERS = (
    "jobs",
    "tasks",
    "executor_run_ms",
    "executor_cpu_ms",
    "gc_ms",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "records_written",
)


def event_files(log_dir: str) -> list[str]:
    files = []
    for p in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if os.path.isdir(p):
            files += sorted(
                glob.glob(os.path.join(p, "events_*")),
                key=lambda f: int(os.path.basename(f).split("_")[1]),
            )
        else:
            files.append(p)
    return files


def read_events(log_dir: str):
    for path in event_files(log_dir):
        with open(path) as f:
            for line in f:
                line = line.strip()
                if line:
                    yield json.loads(line)


def _union_ms(intervals: list[tuple[int, int]]) -> int:
    total, end = 0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def group_of(props: dict) -> tuple[str, str | None]:
    if props.get("streaming.sql.batchId") is not None:
        return "stream", f"{props.get('sql.streaming.queryId')}:{props['streaming.sql.batchId']}"
    if props.get("spark.jobGroup.id"):
        return props["spark.jobGroup.id"], None
    return "other", None


def fold(events) -> dict:
    """Returns ``{"groups": {group: counters}, "batches": {trigger:
    counters}}``; counters hold every name in COUNTERS plus ``busy_ms``."""
    stage_owner: dict[int, tuple[str, str | None]] = {}
    groups: dict[str, dict] = defaultdict(lambda: dict.fromkeys(COUNTERS, 0))
    batches: dict[str, dict] = defaultdict(lambda: dict.fromkeys(COUNTERS, 0))
    intervals: dict[str, list] = defaultdict(list)
    batch_intervals: dict[str, list] = defaultdict(list)
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            owner = group_of(ev.get("Properties") or {})
            for sid in ev.get("Stage IDs", []):
                stage_owner[sid] = owner
            groups[owner[0]]["jobs"] += 1
            if owner[1] is not None:
                batches[owner[1]]["jobs"] += 1
        elif kind == "SparkListenerTaskEnd":
            owner = stage_owner.get(ev.get("Stage ID"), ("other", None))
            m = ev.get("Task Metrics") or {}
            info = ev.get("Task Info") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            out = m.get("Output Metrics") or {}
            add = {
                "tasks": 1,
                "executor_run_ms": m.get("Executor Run Time", 0),
                "executor_cpu_ms": m.get("Executor CPU Time", 0) / 1e6,
                "gc_ms": m.get("JVM GC Time", 0),
                "shuffle_read_bytes": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
                "spill_bytes": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                "records_written": out.get("Records Written", 0),
            }
            targets = [groups[owner[0]]] + ([batches[owner[1]]] if owner[1] is not None else [])
            for t in targets:
                for k, v in add.items():
                    t[k] += v
            span = (info.get("Launch Time", 0), info.get("Finish Time", 0))
            intervals[owner[0]].append(span)
            if owner[1] is not None:
                batch_intervals[owner[1]].append(span)
    for g, c in groups.items():
        c["busy_ms"] = _union_ms(intervals[g])
    for b, c in batches.items():
        c["busy_ms"] = _union_ms(batch_intervals[b])
    return {"groups": dict(groups), "batches": dict(batches)}


def fold_dir(log_dir: str) -> dict:
    return fold(read_events(log_dir))


LAYER_COUNTERS = (
    "jobs",
    "tasks",
    "driver_ms",
    "executor_run_ms",
    "executor_cpu_ms",
    "gc_ms",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
)


def layer_metrics(group: str, counters: dict, wall_ms: float, n: int) -> dict[str, float]:
    """``spark.<group>.*`` per operation, from the counters folded over
    ``n`` operations that took ``wall_ms`` together. Driver time is wall
    time minus the time any of the group's tasks was running."""
    if not counters or n == 0:
        return {f"spark.{group}.{k}": 0.0 for k in LAYER_COUNTERS}
    out = {f"spark.{group}.{k}": counters[k] / n for k in LAYER_COUNTERS if k != "driver_ms"}
    out[f"spark.{group}.driver_ms"] = max(0.0, wall_ms - counters["busy_ms"]) / n
    return out
