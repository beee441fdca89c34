"""Fold a Spark JSON event log into per-job-group task and SQL metrics.

The benchmark turns the event log on through `get_spark(extra_conf=...)`
(it needs no UI and no extra dependency) and runs every layer under
`setJobGroup(<layer>)`. After the session stops, `fold()` reads the log
and sums, per job group:

* task metrics from `SparkListenerTaskEnd`: executor CPU, GC, run time,
  shuffle bytes, spill bytes;
* the driver JVM's peak heap use from `SparkListenerStageExecutorMetrics`
  (logged with `spark.eventLog.logStageExecutorMetrics`): the largest
  `JVMHeapMemory` of any stage of the group;
* the SQL metrics of Python nodes (any plan node that carries a
  "data sent to Python workers" metric): bytes sent to and returned from
  Python workers, rows returned, and rows sent. Spark keeps no
  rows-sent metric, so rows sent are read from the node feeding the
  Python node: the first node down its single-child chain that counts
  its output rows (or, for an exchange, the records it read).

A stage belongs to the job group in the properties it was submitted with.
"""

from __future__ import annotations

import json
from collections import defaultdict
from dataclasses import dataclass, fields
from pathlib import Path

PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"
ROWS_OUT = "number of output rows"
RECORDS_READ = "records read"
GROUP_KEY = "spark.jobGroup.id"
NO_GROUP = ""
MB = 1e6


@dataclass
class GroupMetrics:
    jobs: int = 0
    tasks: int = 0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    run_s: float = 0.0
    # bytes are summed as integers, so the totals do not depend on the
    # order in which tasks ended
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    py_mb: float = 0.0
    py_rows_in: int = 0
    py_rows_out: int = 0
    peak_heap_mb: float = 0.0

    @property
    def shuffle_mb(self) -> float:
        return self.shuffle_bytes / MB

    @property
    def spill_mb(self) -> float:
        return self.spill_bytes / MB

    def as_dict(self) -> dict:
        return {f.name: getattr(self, f.name) for f in fields(self)}


def read_events(log_dir: str | Path):
    """Events of the one uncompressed, non-rolling application log that a
    session wrote into the fresh directory `log_dir`."""
    app = next(p for p in Path(log_dir).iterdir() if not p.name.startswith("."))
    with open(app, encoding="utf-8") as fh:
        for line in fh:
            if line.strip():
                yield json.loads(line)


def _metric_ids(node: dict) -> dict[str, int]:
    return {m["name"]: m["accumulatorId"] for m in node.get("metrics", ())}


def _rows_into(child: dict | None) -> int | None:
    """Accumulator counting the rows `child` hands to its parent."""
    while child is not None:
        ids = _metric_ids(child)
        for name in (ROWS_OUT, RECORDS_READ):
            if name in ids:
                return ids[name]
        kids = child.get("children", ())
        child = kids[0] if len(kids) == 1 else None
    return None


def _python_nodes(plan: dict, out: dict[int, tuple]) -> None:
    """Collect {sent id: (returned id, rows-out id, rows-in id)} for every
    Python node in a plan tree."""
    ids = _metric_ids(plan)
    kids = plan.get("children", ())
    if PY_SENT in ids:
        rows_in = _rows_into(kids[0]) if len(kids) == 1 else None
        out[ids[PY_SENT]] = (ids.get(PY_RETURNED), ids.get(ROWS_OUT), rows_in)
    for kid in kids:
        _python_nodes(kid, out)


def fold(events) -> dict[str, GroupMetrics]:
    """Per-job-group metrics of one application's events."""
    events = list(events)
    py_nodes: dict[int, tuple] = {}
    stage_group: dict[int, str] = {}
    groups: dict[str, GroupMetrics] = defaultdict(GroupMetrics)
    heaps: list[tuple[int, float]] = []
    for ev in events:
        kind = ev["Event"]
        if kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            _python_nodes(ev["sparkPlanInfo"], py_nodes)
        elif kind == "SparkListenerStageSubmitted":
            props = ev.get("Properties") or {}
            stage_group[ev["Stage Info"]["Stage ID"]] = props.get(GROUP_KEY) or NO_GROUP
        elif kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            group = props.get(GROUP_KEY) or NO_GROUP
            groups[group].jobs += 1
            for sid in ev.get("Stage IDs", ()):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerStageExecutorMetrics":
            heap = (ev.get("Executor Metrics") or {}).get("JVMHeapMemory", 0) / MB
            heaps.append((ev["Stage ID"], heap))

    for sid, heap in heaps:
        if sid in stage_group:
            g = groups[stage_group[sid]]
            g.peak_heap_mb = max(g.peak_heap_mb, heap)

    watched = {i for ids in py_nodes.values() for i in ids if i is not None}
    watched.update(py_nodes)
    acc: dict[str, dict[int, int]] = defaultdict(lambda: defaultdict(int))
    for ev in events:
        if ev["Event"] != "SparkListenerTaskEnd":
            continue
        group = stage_group.get(ev["Stage ID"], NO_GROUP)
        g = groups[group]
        tm = ev.get("Task Metrics") or {}
        g.tasks += 1
        g.cpu_s += tm.get("Executor CPU Time", 0) / 1e9
        g.gc_s += tm.get("JVM GC Time", 0) / 1e3
        g.run_s += tm.get("Executor Run Time", 0) / 1e3
        g.shuffle_bytes += tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
        g.spill_bytes += tm.get("Disk Bytes Spilled", 0)
        for a in ev["Task Info"].get("Accumulables", ()):
            if a.get("ID") in watched and a.get("Update") is not None:
                acc[group][a["ID"]] += int(a["Update"])

    for group, upd in acc.items():
        # an adaptive re-plan gives a Python node new metric ids but can
        # keep its child's, so count each executed node and each row
        # counter once
        ran = [ids for sent, ids in py_nodes.items() if sent in upd]
        g = groups[group]
        g.py_mb = sum(upd[s] + upd.get(ids[0], 0) for s, ids in py_nodes.items() if s in upd) / MB
        g.py_rows_out = sum(upd.get(i, 0) for i in {ids[1] for ids in ran})
        g.py_rows_in = sum(upd.get(i, 0) for i in {ids[2] for ids in ran})
    return dict(groups)
