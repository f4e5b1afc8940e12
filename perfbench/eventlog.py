"""Offline parser for Spark's JSON event log: per-job-group counters.

The benchmark labels every Spark job it triggers with a job group (one
group per layer call), enables ``spark.eventLog`` uncompressed into a
local directory, and after the session stops reads the log back here.
Task metrics are summed per group through the stage -> group mapping that
each ``StageSubmitted`` event carries in its properties.
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict

#: SQL accumulables the Python-UDF exec nodes report per task
#: (ms for the times, bytes for the data)
PYTHON_ACCUMS = {
    "time to start Python workers": "python_start_s",
    "time to initialize Python workers": "python_init_s",
    "time to run Python workers": "python_run_s",
    "data sent to Python workers": "python_bytes_sent",
    "data returned from Python workers": "python_bytes_returned",
}
_MS = ("python_start_s", "python_init_s", "python_run_s")

COUNTERS = (
    "jobs", "stages", "tasks", "task_s", "shuffle_write_bytes", "spill_bytes",
    "bytes_written", *PYTHON_ACCUMS.values(),
)


def read_events(log_dir: str) -> list:
    """Every event of every application log under ``log_dir`` (Spark 4
    writes ``eventlog_v2_<app>/events_<n>_<app>``; rolled files sort by
    their index)."""
    def order(path):
        name = os.path.basename(path)
        return os.path.dirname(path), int(name.split("_")[1])

    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*")),
                       key=order):
        with open(path, encoding="utf-8") as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


def by_group(events) -> dict:
    """{job group id: {counter: value}} over the given events. Jobs with
    no group are collected under ``None``."""
    stage_group: dict = {}
    out: dict = defaultdict(lambda: dict.fromkeys(COUNTERS, 0))
    for ev in events:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            out[group]["jobs"] += 1
            for sid in ev["Stage IDs"]:
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerStageSubmitted":
            sid = ev["Stage Info"]["Stage ID"]
            group = (ev.get("Properties") or {}).get(
                "spark.jobGroup.id", stage_group.get(sid))
            stage_group[sid] = group
            out[group]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            agg = out[stage_group.get(ev["Stage ID"])]
            _add_task(agg, ev)
    return {g: dict(v) for g, v in out.items()}


def _add_task(agg: dict, ev: dict) -> None:
    agg["tasks"] += 1
    tm = ev.get("Task Metrics") or {}
    agg["task_s"] += tm.get("Executor Run Time", 0) / 1000.0
    agg["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
    agg["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
        "Shuffle Bytes Written", 0)
    agg["bytes_written"] += (tm.get("Output Metrics") or {}).get("Bytes Written", 0)
    for acc in (ev.get("Task Info") or {}).get("Accumulables", ()):
        key = PYTHON_ACCUMS.get(acc.get("Name"))
        if key is not None and acc.get("Update") is not None:
            v = int(acc["Update"])
            agg[key] += v / 1000.0 if key in _MS else v
