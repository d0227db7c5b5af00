"""Stdlib fold of an uncompressed Spark event log, per job group.

Spark writes one JSON object per line. The fold keeps what the
benchmark's per-layer metrics need:

* jobs, with their group, description, submission and completion time;
* stages that ran (skipped stages never produce a completion event);
* per-task executor time, CPU, GC, shuffle bytes, spill bytes, input
  bytes (file scans and cached-block reads) and the task's launch/finish
  interval;
* per-task SQL metric updates, summed by metric name (this is where the
  Python-worker metrics of ``*InPandas``/Arrow nodes appear).

Jobs are tagged with ``SparkContext.setJobGroup(group, description)``;
Spark copies both into every job's and stage's properties.
"""

from __future__ import annotations

import json
import os
import re
from collections import defaultdict
from dataclasses import dataclass, field

GROUP_KEY = "spark.jobGroup.id"
DESC_KEY = "spark.job.description"

# SQL metric names Spark's Python execution nodes report.
PY_RUN = "time to run Python workers"
PY_START = "time to start Python workers"
PY_BYTES_OUT = "data sent to Python workers"
PY_BYTES_IN = "data returned from Python workers"


@dataclass
class Job:
    job_id: int
    group: str | None
    desc: str | None
    submit_ms: int
    end_ms: int | None = None
    stage_ids: list[int] = field(default_factory=list)


@dataclass
class Totals:
    """Task-level sums for one set of jobs."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_write: int = 0
    shuffle_read: int = 0
    spill: int = 0
    bytes_read: int = 0
    sql: dict[str, int] = field(default_factory=lambda: defaultdict(int))
    intervals: list[tuple[int, int]] = field(default_factory=list)


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    stage_job: dict[int, int] = field(default_factory=dict)
    completed_stages: set[int] = field(default_factory=set)
    # stage id -> list of per-task dicts (see _task_row)
    tasks: dict[int, list[dict]] = field(default_factory=lambda: defaultdict(list))

    def jobs_in(self, group: str, desc: str | None = None) -> list[Job]:
        return sorted(
            (
                j
                for j in self.jobs.values()
                if j.group == group and (desc is None or j.desc == desc)
            ),
            key=lambda j: j.job_id,
        )

    def totals(self, jobs: list[Job]) -> Totals:
        t = Totals(jobs=len(jobs))
        for job in jobs:
            for sid in job.stage_ids:
                if sid not in self.completed_stages or self.stage_job.get(sid) != job.job_id:
                    continue
                t.stages += 1
                for row in self.tasks.get(sid, ()):
                    t.tasks += 1
                    t.run_ms += row["run_ms"]
                    t.cpu_ns += row["cpu_ns"]
                    t.gc_ms += row["gc_ms"]
                    t.shuffle_write += row["shuffle_write"]
                    t.shuffle_read += row["shuffle_read"]
                    t.spill += row["spill"]
                    t.bytes_read += row["bytes_read"]
                    for name, v in row["sql"].items():
                        t.sql[name] += v
                    t.intervals.append((row["launch_ms"], row["finish_ms"]))
        return t


def _num(v) -> int:
    try:
        return int(float(v))
    except (TypeError, ValueError):
        return 0


def _task_row(ev: dict) -> dict:
    info = ev.get("Task Info", {})
    m = ev.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics", {})
    sw = m.get("Shuffle Write Metrics", {})
    sql: dict[str, int] = defaultdict(int)
    for acc in info.get("Accumulables", ()):
        name = acc.get("Name")
        if name and not name.startswith("internal.") and "Update" in acc:
            sql[name] += _num(acc["Update"])
    return {
        "launch_ms": _num(info.get("Launch Time")),
        "finish_ms": _num(info.get("Finish Time")),
        "run_ms": _num(m.get("Executor Run Time")),
        "cpu_ns": _num(m.get("Executor CPU Time")),
        "gc_ms": _num(m.get("JVM GC Time")),
        "shuffle_write": _num(sw.get("Shuffle Bytes Written")),
        "shuffle_read": _num(sr.get("Remote Bytes Read")) + _num(sr.get("Local Bytes Read")),
        "spill": _num(m.get("Memory Bytes Spilled")) + _num(m.get("Disk Bytes Spilled")),
        "bytes_read": _num(m.get("Input Metrics", {}).get("Bytes Read")),
        "sql": dict(sql),
    }


def fold_lines(lines) -> EventLog:
    log = EventLog()
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            job = Job(
                job_id=ev["Job ID"],
                group=props.get(GROUP_KEY),
                desc=props.get(DESC_KEY),
                submit_ms=_num(ev.get("Submission Time")),
                stage_ids=list(ev.get("Stage IDs", ())),
            )
            log.jobs[job.job_id] = job
            for sid in job.stage_ids:
                # a stage shared with an earlier job (reused shuffle) stays
                # attributed to the job that first listed it
                log.stage_job.setdefault(sid, job.job_id)
        elif kind == "SparkListenerJobEnd":
            job = log.jobs.get(ev["Job ID"])
            if job is not None:
                job.end_ms = _num(ev.get("Completion Time"))
        elif kind == "SparkListenerStageCompleted":
            info = ev.get("Stage Info", {})
            if "Failure Reason" not in info:
                log.completed_stages.add(info.get("Stage ID"))
        elif kind == "SparkListenerTaskEnd":
            log.tasks[ev["Stage ID"]].append(_task_row(ev))
    return log


def _log_files(event_dir: str) -> list[str]:
    """Event-log files under ``event_dir``: plain single-file logs, and
    rolling logs (``eventlog_v2_<app>/events_<n>_<app>``) in ``n`` order."""

    def key(path: str) -> tuple:
        m = re.match(r"events_(\d+)_", os.path.basename(path))
        return (os.path.dirname(path), int(m.group(1)) if m else 0, path)

    out = []
    for dirpath, _, names in os.walk(event_dir):
        for name in names:
            if name.startswith(".") or name.startswith("appstatus_"):
                continue
            out.append(os.path.join(dirpath, name))
    return sorted(out, key=key)


def fold_dir(event_dir: str) -> EventLog:
    """Fold every event log under ``event_dir``."""
    lines: list[str] = []
    for path in _log_files(event_dir):
        with open(path) as fh:
            lines.extend(fh)
    return fold_lines(lines)


def union_ms(intervals: list[tuple[int, int]], lo: int, hi: int) -> int:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total = 0
    cur_a = cur_b = None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total
