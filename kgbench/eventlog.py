"""Per-job-group task figures from Spark's local JSON event log.

Spark writes one JSON event per line when `spark.eventLog.enabled` is set
(uncompressed, not rolling). A job carries the `spark.jobGroup.id` that was
set on the submitting thread; SQL propagates it to the threads that run
broadcast and subquery jobs. Each task end carries its run time, GC time,
shuffle and spill bytes, and the SQL metrics of the Python operators it ran
(as accumulator updates).
"""

from __future__ import annotations

import json
from collections import defaultdict
from dataclasses import dataclass, field
from pathlib import Path

# SQL metric names of the Arrow-UDF operators (MapInPandas, ArrowEvalPython).
PY_RUN = "time to run Python workers"
PY_TO = "data sent to Python workers"
PY_FROM = "data returned from Python workers"


@dataclass
class GroupStats:
    jobs: int = 0
    task_ms: float = 0.0
    gc_ms: float = 0.0
    python_ms: float = 0.0
    to_python_bytes: float = 0.0
    from_python_bytes: float = 0.0
    shuffle_write_bytes: float = 0.0
    spill_bytes: float = 0.0
    # stage id -> run time (ms) of each of its tasks
    stage_tasks: dict = field(default_factory=lambda: defaultdict(list))

    def add(self, other: "GroupStats") -> None:
        for name in ("jobs", "task_ms", "gc_ms", "python_ms", "to_python_bytes",
                     "from_python_bytes", "shuffle_write_bytes", "spill_bytes"):
            setattr(self, name, getattr(self, name) + getattr(other, name))
        self.stage_tasks.update(other.stage_tasks)

    def task_skew(self) -> float:
        """max / median task run time in the group's heaviest stage."""
        if not self.stage_tasks:
            return 0.0
        times = max(self.stage_tasks.values(), key=sum)
        ordered = sorted(times)
        median = ordered[len(ordered) // 2]
        return ordered[-1] / median if median > 0 else 0.0


def event_log_file(log_dir: Path) -> Path:
    """The single finished application log in log_dir."""
    logs = [p for p in Path(log_dir).iterdir()
            if p.is_file() and not p.name.endswith(".inprogress")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, "
                           f"found {sorted(p.name for p in logs)}")
    return logs[0]


def parse(path: Path) -> dict[str | None, GroupStats]:
    """job group id (None for jobs without one) -> GroupStats."""
    stage_group: dict[int, str | None] = {}
    groups: dict[str | None, GroupStats] = defaultdict(GroupStats)
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                groups[group].jobs += 1
                for sid in ev["Stage IDs"]:
                    # a stage reused by a later job is skipped there and
                    # runs no tasks, so the first job that lists it owns it
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerTaskEnd":
                metrics = ev.get("Task Metrics")
                if not metrics:
                    continue
                sid = ev["Stage ID"]
                g = groups[stage_group.get(sid)]
                run_ms = metrics["Executor Run Time"]
                g.task_ms += run_ms
                g.stage_tasks[sid].append(run_ms)
                g.gc_ms += metrics["JVM GC Time"]
                g.spill_bytes += metrics["Disk Bytes Spilled"]
                g.shuffle_write_bytes += (
                    metrics["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                )
                for acc in ev["Task Info"].get("Accumulables", []):
                    name = acc.get("Name")
                    if name == PY_RUN:
                        g.python_ms += float(acc.get("Update", 0))
                    elif name == PY_TO:
                        g.to_python_bytes += float(acc.get("Update", 0))
                    elif name == PY_FROM:
                        g.from_python_bytes += float(acc.get("Update", 0))
    return dict(groups)
