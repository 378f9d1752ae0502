"""Fold a Spark event log into per-span counters.

The child runs each traced call under its own Spark job group. A stage
carries the job group of the call that submitted it in its
``SparkListenerStageSubmitted`` properties, so every
``SparkListenerTaskEnd`` can be attributed to one span.

Counters per span:

- ``jobs``, ``tasks``: jobs started and tasks finished under the span.
- ``empty_task_share``: share of tasks that read no input records and no
  shuffle records, i.e. scheduled work that had nothing to do.
- ``shuffle_write_mb``, ``spill_mb``: shuffle bytes written and bytes
  spilled to disk, in MiB.
- ``core_busy_share``: executor run time over the span's wall time times
  the cores, i.e. how much of the machine the span kept busy.
"""

from __future__ import annotations

import json
import os

MIB = 1024 * 1024


def read_events(log_dir: str):
    """Yield the events of every uncompressed event log under ``log_dir``,
    single-file or rolling (``eventlog_v2_*/events_<n>_*``)."""
    for dirpath, _, names in sorted(os.walk(log_dir)):
        for name in sorted(names, key=_roll_index):
            if name.startswith(".") or name.startswith("appstatus"):
                continue
            with open(os.path.join(dirpath, name)) as f:
                for line in f:
                    if line.strip():
                        yield json.loads(line)


def _roll_index(name: str) -> int:
    parts = name.split("_")
    return int(parts[1]) if name.startswith("events_") and parts[1].isdigit() else 0


def fold(log_dir: str, spans: list[dict], cores: int) -> dict[str, dict]:
    """Counters for each span in ``spans`` (keyed by its job group)."""
    by_group = {s["group"]: s for s in spans}
    acc = {
        s["group"]: {"jobs": 0, "tasks": 0, "empty": 0, "shuffle_write": 0,
                     "spill": 0, "run_ms": 0}
        for s in spans
    }
    stage_group: dict[int, str] = {}
    for ev in read_events(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group in acc:
                acc[group]["jobs"] += 1
        elif kind == "SparkListenerStageSubmitted":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group in acc:
                stage_group[ev["Stage Info"]["Stage ID"]] = group
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev["Stage ID"])
            metrics = ev.get("Task Metrics")
            if group is None or not metrics:
                continue
            a = acc[group]
            a["tasks"] += 1
            read = metrics["Input Metrics"]["Records Read"]
            read += metrics["Shuffle Read Metrics"]["Total Records Read"]
            a["empty"] += read == 0
            a["shuffle_write"] += metrics["Shuffle Write Metrics"]["Shuffle Bytes Written"]
            a["spill"] += metrics["Disk Bytes Spilled"]
            a["run_ms"] += metrics["Executor Run Time"]

    out = {}
    for group, a in acc.items():
        span = by_group[group]
        out[span["span"]] = {
            "s": span["s"],
            "jobs": a["jobs"],
            "tasks": a["tasks"],
            "empty_task_share": a["empty"] / a["tasks"] if a["tasks"] else 0.0,
            "shuffle_write_mb": a["shuffle_write"] / MIB,
            "spill_mb": a["spill"] / MIB,
            "core_busy_share": a["run_ms"] / (1000 * span["s"] * cores),
            **{k: span[k] for k in ("rows", "files_written") if k in span},
        }
    return out
