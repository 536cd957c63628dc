"""Fold a Spark event log into per-job-group counters.

Spark writes one JSON object per line (``spark.eventLog.compress=false``),
either as a single file or, with rolling logs, as ``events_*`` files in an
``eventlog_v2_<app>`` directory. Jobs carry their job group in the
``spark.jobGroup.id`` property; tasks are attributed to the group of the
first job that listed their stage.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

MB = 1e6


def _lines(log_dir: str):
    files = []
    for base, _dirs, names in os.walk(log_dir):
        files += [os.path.join(base, n) for n in names if not n.startswith(".")]
    # rolling logs are numbered events_<i>_<app>; sort by that index
    def key(path: str):
        parts = os.path.basename(path).split("_")
        return (os.path.dirname(path), int(parts[1]) if parts[0] == "events" else 0)

    for path in sorted(files, key=key):
        with open(path) as fh:
            yield from fh


def fold(lines) -> dict[str, dict[str, float]]:
    """``{group: {n_jobs, task_cpu_s, shuffle_mb, spill_mb}}`` from event
    log lines. ``shuffle_mb`` is bytes written to shuffle files,
    ``spill_mb`` bytes spilled to disk, ``task_cpu_s`` executor CPU time
    of the JVM task threads (Python worker time is not part of it)."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(
        lambda: {"n_jobs": 0, "task_cpu_s": 0.0, "shuffle_mb": 0.0, "spill_mb": 0.0}
    )
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group is None:
                continue
            out[group]["n_jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev.get("Stage ID"))
            tm = ev.get("Task Metrics")
            if group is None or not tm:
                continue
            m = out[group]
            m["task_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            m["shuffle_mb"] += (
                tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / MB
            )
            m["spill_mb"] += tm.get("Disk Bytes Spilled", 0) / MB
    return dict(out)


def fold_dir(log_dir: str) -> dict[str, dict[str, float]]:
    return fold(_lines(log_dir))
