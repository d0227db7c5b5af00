"""Pins the event-log fold.

    python3 -m pytest perfbench/test_eventlog.py -q

The first tests fold a hand-written log whose totals are known exactly;
the last one generates a tiny event log with a local Spark session and
checks that the fields the benchmark reads are present and attributed to
the right job group.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import eventlog  # noqa: E402


def _job_start(job_id, stages, group, desc, t):
    return {
        "Event": "SparkListenerJobStart", "Job ID": job_id, "Submission Time": t,
        "Stage IDs": stages,
        "Properties": {eventlog.GROUP_KEY: group, eventlog.DESC_KEY: desc},
    }


def _task_end(stage, launch, finish, run, cpu_ns, sw=0, sr=0, acc=()):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {
            "Launch Time": launch, "Finish Time": finish,
            "Accumulables": [{"ID": i, "Name": n, "Update": u, "Value": u} for i, (n, u) in enumerate(acc)],
        },
        "Task Metrics": {
            "Executor Run Time": run, "Executor CPU Time": cpu_ns, "JVM GC Time": 1,
            "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 5,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": sr},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": sw},
            "Input Metrics": {"Bytes Read": 100, "Records Read": 10},
        },
    }


def _stage_done(stage):
    return {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": stage}}


EVENTS = [
    {"Event": "SparkListenerLogStart", "Spark Version": "4.1.2"},
    _job_start(0, [0], "wl:q#1", "build", 1000),
    _task_end(0, 1000, 1010, 9, 2_000_000),
    _stage_done(0),
    {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1020},
    _job_start(1, [1, 2], "wl:q#1", "run", 1030),
    _task_end(1, 1030, 1060, 25, 20_000_000, sw=400),
    _task_end(1, 1040, 1070, 25, 20_000_000, sw=600,
              acc=[(eventlog.PY_RUN, 7), (eventlog.PY_BYTES_OUT, 64)]),
    _stage_done(1),
    _task_end(2, 1080, 1090, 8, 1_000_000, sr=1000, acc=[(eventlog.PY_RUN, 3)]),
    _stage_done(2),
    {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1100},
    # a later job lists stage 1 again (its shuffle output is reused): the
    # stage stays with job 1 and its tasks are not counted twice
    _job_start(2, [1, 3], "wl:other#1", "run", 1200),
    _task_end(3, 1200, 1210, 9, 1_000_000),
    _stage_done(3),
    {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 1215},
]


def test_fold_totals_per_group_and_description():
    log = eventlog.fold_lines(json.dumps(e) for e in EVENTS)
    assert [j.job_id for j in log.jobs_in("wl:q#1")] == [0, 1]
    assert [j.job_id for j in log.jobs_in("wl:q#1", "build")] == [0]
    t = log.totals(log.jobs_in("wl:q#1"))
    assert (t.jobs, t.stages, t.tasks) == (2, 3, 4)
    assert t.run_ms == 67 and t.cpu_ns == 43_000_000 and t.gc_ms == 4
    assert (t.shuffle_write, t.shuffle_read, t.spill) == (1000, 1000, 20)
    assert t.bytes_read == 400
    assert t.sql[eventlog.PY_RUN] == 10 and t.sql[eventlog.PY_BYTES_OUT] == 64
    other = log.totals(log.jobs_in("wl:other#1"))
    assert (other.jobs, other.stages, other.tasks) == (1, 1, 1)
    job = log.jobs[1]
    assert job.end_ms - job.submit_ms == 70


def test_union_of_task_intervals():
    assert eventlog.union_ms([(0, 10), (5, 20), (30, 40)], 0, 100) == 30
    assert eventlog.union_ms([(0, 10), (5, 20), (30, 40)], 8, 35) == 17
    assert eventlog.union_ms([], 0, 10) == 0


def test_failed_stage_is_not_counted():
    events = [
        _job_start(0, [0], "g", "run", 0),
        _task_end(0, 0, 5, 5, 1),
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 0, "Failure Reason": "boom"}},
    ]
    t = eventlog.fold_lines(json.dumps(e) for e in events).totals([eventlog.Job(0, "g", "run", 0, stage_ids=[0])])
    assert (t.stages, t.tasks) == (0, 0)


def test_rolling_log_files_are_read_in_order(tmp_path):
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    lines = [json.dumps(e) for e in EVENTS]
    # events_10 must come after events_2 although it sorts first as text
    (app / "events_1_local-1").write_text("\n".join(lines[:5]) + "\n")
    (app / "events_2_local-1").write_text("\n".join(lines[5:9]) + "\n")
    (app / "events_10_local-1").write_text("\n".join(lines[9:]) + "\n")
    (app / "appstatus_local-1").write_text("")
    log = eventlog.fold_dir(str(tmp_path))
    t = log.totals(log.jobs_in("wl:q#1"))
    assert (t.jobs, t.stages, t.tasks) == (2, 3, 4)


def test_fold_of_a_log_written_by_spark(tmp_path):
    pytest.importorskip("pyspark")
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    events = tmp_path / "events"
    events.mkdir()
    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.sql.shuffle.partitions", "3")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.dir", str(events))
        .getOrCreate()
    )
    try:
        sc = spark.sparkContext
        sc.setJobGroup("t:agg#0", "run")
        rows = (
            spark.range(0, 1000, numPartitions=4)
            .groupBy((F.col("id") % 7).alias("k")).count().collect()
        )
        assert len(rows) == 7

        def double(batches):
            for b in batches:
                yield b * 2

        sc.setJobGroup("t:py#0", "run")
        assert spark.range(0, 100, numPartitions=2).mapInPandas(double, "id long").count() == 100
    finally:
        spark.stop()

    log = eventlog.fold_dir(str(events))
    agg = log.totals(log.jobs_in("t:agg#0"))
    # one map stage of 4 tasks, one reduce stage of 3
    assert (agg.jobs, agg.stages, agg.tasks) == (1, 2, 7)
    assert agg.shuffle_write > 0 and agg.shuffle_write == agg.shuffle_read
    assert agg.run_ms >= 0 and agg.cpu_ns > 0
    assert len(agg.intervals) == 7
    py = log.totals(log.jobs_in("t:py#0"))
    assert py.jobs >= 1
    assert py.sql[eventlog.PY_BYTES_OUT] > 0 and py.sql[eventlog.PY_BYTES_IN] > 0
    assert eventlog.PY_RUN in py.sql and eventlog.PY_START in py.sql
    assert agg.sql.get(eventlog.PY_BYTES_OUT, 0) == 0
