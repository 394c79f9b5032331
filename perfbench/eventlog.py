"""Fold a Spark event log by job group.

The traced run launches Spark with ``spark.eventLog.enabled=true`` and
``spark.eventLog.compress=false`` and gives every span its own job group,
so each job in the log names the span that submitted it. Folding maps
task -> stage -> job -> job group and sums, per group:

* ``jobs``, ``tasks``, ``failed_tasks``;
* ``cpu_s`` (Executor CPU Time), ``gc_s`` (JVM GC Time);
* ``shuffle_bytes`` (shuffle bytes written), ``spill_bytes`` (memory +
  disk bytes spilled);
* ``python_rows``: rows out of the Python-evaluation plan nodes
  (ArrowEvalPython, MapInPandas, ...), read from the SQL metrics.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

PYTHON_NODES = frozenset(
    {
        "ArrowEvalPython",
        "BatchEvalPython",
        "MapInPandas",
        "MapInArrow",
        "FlatMapGroupsInPandas",
        "FlatMapCoGroupsInPandas",
        "AggregateInPandas",
        "WindowInPandas",
        "ArrowEvalPythonUDTF",
    }
)
FIELDS = ("jobs", "tasks", "failed_tasks", "cpu_s", "gc_s", "shuffle_bytes", "spill_bytes",
          "python_rows")


def event_files(log_dir: str) -> list[str]:
    """The event files under log_dir: rolling `eventlog_v2_*` directories
    (events_<n>_* parts in order) or single-file logs."""
    out = []
    for name in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, name)
        if os.path.isdir(path):
            parts = [p for p in os.listdir(path) if p.startswith("events_")]
            parts.sort(key=lambda p: int(p.split("_")[1]))
            out += [os.path.join(path, p) for p in parts]
        elif not name.endswith(".inprogress"):
            out.append(path)
    return out


def read_events(log_dir: str):
    for path in event_files(log_dir):
        with open(path) as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


def _python_row_accumulators(plan: dict, into: set[int]) -> None:
    if plan.get("nodeName") in PYTHON_NODES:
        for m in plan.get("metrics", []):
            if m.get("name") == "number of output rows":
                into.add(int(m["accumulatorId"]))
    for child in plan.get("children", []):
        _python_row_accumulators(child, into)


def fold(events) -> dict[str, dict[str, float]]:
    """{job group: {field: total}} over an event stream. Jobs without a
    group fold under ''."""
    stage_group: dict[int, str] = {}
    python_accs: set[int] = set()
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(FIELDS, 0))
    tasks = []
    for ev in events:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            out[group]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group[int(sid)] = group
        elif kind == "SparkListenerTaskEnd":
            tasks.append(ev)
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            _python_row_accumulators(ev.get("sparkPlanInfo") or {}, python_accs)
    # tasks are folded after the pass: an AQE plan update can name a python
    # node's accumulators after some of its tasks were logged
    for ev in tasks:
        group = stage_group.get(int(ev.get("Stage ID", -1)), "")
        acc = out[group]
        acc["tasks"] += 1
        if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
            acc["failed_tasks"] += 1
        m = ev.get("Task Metrics") or {}
        acc["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
        acc["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        acc["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        for a in (ev.get("Task Info") or {}).get("Accumulables", []):
            if int(a.get("ID", -1)) in python_accs:
                acc["python_rows"] += int(a.get("Update", 0) or 0)
    return dict(out)
