"""Parser for Spark's JSON event log, attributing work to job groups.

The traced run starts its session with ``spark.eventLog.enabled`` and sets
the job group to the enclosing span's id around every call (see
``spans.Tracer``).  Each stage carries the job group it was submitted
under (``SparkListenerStageSubmitted.Properties``), and each task its
stage, so every task's metrics can be summed per span subtree.
"""

from __future__ import annotations

import glob
import json
import os
from dataclasses import dataclass, field

from spans import covered

GROUP = "spark.jobGroup.id"


@dataclass
class Task:
    stage: int
    launch_ms: int
    finish_ms: int
    failed: bool
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    fetch_wait_ms: int = 0
    spill_bytes: int = 0


@dataclass
class EventLog:
    job_group: dict[int, str | None] = field(default_factory=dict)
    stage_group: dict[int, str | None] = field(default_factory=dict)
    stages_run: list[int] = field(default_factory=list)
    tasks: list[Task] = field(default_factory=list)

    def summarize(self, groups: set[str], intervals: list[tuple[float, float]],
                  cores: int) -> dict:
        """Substrate metrics for the jobs in ``groups``, over the wall-clock
        ``intervals`` (epoch seconds) that the spans covered."""
        tasks = [t for t in self.tasks if self.stage_group.get(t.stage) in groups]
        wall = sum(b - a for a, b in intervals)
        busy = [(t.launch_ms / 1000.0, t.finish_ms / 1000.0) for t in tasks]
        idle = sum(b - a - covered(busy, a, b) for a, b in intervals)
        run_s = sum(t.run_ms for t in tasks) / 1000.0
        return {
            "jobs": sum(g in groups for g in self.job_group.values()),
            "stages": sum(self.stage_group.get(s) in groups for s in self.stages_run),
            "tasks": len(tasks),
            "tasks_failed": sum(t.failed for t in tasks),
            "executor_run_s": run_s,
            "executor_cpu_s": sum(t.cpu_ns for t in tasks) / 1e9,
            "gc_s": sum(t.gc_ms for t in tasks) / 1000.0,
            "shuffle_write_bytes": sum(t.shuffle_write_bytes for t in tasks),
            "shuffle_read_bytes": sum(t.shuffle_read_bytes for t in tasks),
            "shuffle_fetch_wait_s": sum(t.fetch_wait_ms for t in tasks) / 1000.0,
            "spill_bytes": sum(t.spill_bytes for t in tasks),
            "driver_gap_s": idle,
            "core_busy_frac": run_s / (wall * cores) if wall > 0 else 0.0,
        }


def _task(ev: dict) -> Task:
    info = ev.get("Task Info", {})
    m = ev.get("Task Metrics") or {}
    rd = m.get("Shuffle Read Metrics") or {}
    wr = m.get("Shuffle Write Metrics") or {}
    reason = (ev.get("Task End Reason") or {}).get("Reason", "Success")
    return Task(
        stage=ev["Stage ID"],
        launch_ms=info.get("Launch Time", 0),
        finish_ms=info.get("Finish Time", 0),
        failed=bool(info.get("Failed") or info.get("Killed")) or reason != "Success",
        run_ms=m.get("Executor Run Time", 0),
        cpu_ns=m.get("Executor CPU Time", 0),
        gc_ms=m.get("JVM GC Time", 0),
        shuffle_write_bytes=wr.get("Shuffle Bytes Written", 0),
        shuffle_read_bytes=rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0),
        fetch_wait_ms=rd.get("Fetch Wait Time", 0),
        spill_bytes=m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
    )


def parse_lines(lines) -> EventLog:
    log = EventLog()
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            log.job_group[ev["Job ID"]] = (ev.get("Properties") or {}).get(GROUP)
        elif kind == "SparkListenerStageSubmitted":
            sid = ev["Stage Info"]["Stage ID"]
            log.stage_group[sid] = (ev.get("Properties") or {}).get(GROUP)
        elif kind == "SparkListenerStageCompleted":
            log.stages_run.append(ev["Stage Info"]["Stage ID"])
        elif kind == "SparkListenerTaskEnd":
            log.tasks.append(_task(ev))
    return log


def parse_dir(directory: str) -> EventLog:
    """Parse the single application log Spark wrote under ``directory``."""
    paths = [p for p in glob.glob(os.path.join(directory, "*")) if os.path.isfile(p)]
    if len(paths) != 1:
        raise ValueError(f"expected one event log in {directory}, found {len(paths)}")
    with open(paths[0]) as f:
        return parse_lines(f)
