"""Sum Spark event-log task metrics per job group.

The traced run starts its session with ``spark.eventLog.enabled=true`` and
``spark.eventLog.compress=false``; Spark then writes JSON lines to
``<dir>/eventlog_v2_<app>/events_<n>_<app>`` (rolling layout). Read it
only after the SparkContext stopped, so every event is flushed.

Python-worker task metrics (``time to run Python workers`` and friends)
are declared in the plan but never reach the log as task updates, so
nothing here relies on them: the Python share of a layer shows as the gap
between executor run time and JVM CPU time.
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict


def _event_files(log_dir: str) -> "list[str]":
    files = glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))
    # events_<n>_<app>: read the rolled files in order
    return sorted(files, key=lambda p: int(os.path.basename(p).split("_")[1]))


def harvest(log_dir: str) -> "dict[str, dict]":
    """Per job group: jobs, tasks, task_s (executor run time), cpu_s
    (executor JVM CPU time), shuffle_mb (shuffle bytes written)."""
    stage_group: dict = {}
    out: dict = defaultdict(
        lambda: {"jobs": 0, "tasks": 0, "task_s": 0.0, "cpu_s": 0.0, "shuffle_mb": 0.0}
    )
    files = _event_files(log_dir)
    if not files:
        raise RuntimeError(f"no Spark event log under {log_dir}")
    for path in files:
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group is None:
                        continue
                    out[group]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if group is None or not m:
                        continue
                    rec = out[group]
                    rec["tasks"] += 1
                    rec["task_s"] += m.get("Executor Run Time", 0) / 1e3
                    rec["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    sw = m.get("Shuffle Write Metrics") or {}
                    rec["shuffle_mb"] += sw.get("Shuffle Bytes Written", 0) / 1e6
    return dict(out)
