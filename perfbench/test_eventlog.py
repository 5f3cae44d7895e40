"""Tests of the event-log roll-up (eventlog.py).

    python3 -m pytest perfbench/test_eventlog.py -q

The fixture is a real Spark event log, recorded from the known jobs in
:func:`record` and trimmed to the events and fields the roll-up reads.
Re-record it from a checkout root with

    python3 perfbench/test_eventlog.py --record
"""

from __future__ import annotations

import json
import os
import shutil
import sys

if __package__ in (None, ""):
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.eventlog import EventLogRollup  # noqa: E402

FIXTURE = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "fixtures", "known_jobs.eventlog"
)
_KEEP_TASK_INFO = ("Launch Time", "Finish Time", "Failed", "Killed")
_KEEP_METRICS = (
    "Executor Run Time", "Executor CPU Time",
    "Disk Bytes Spilled", "Shuffle Read Metrics", "Shuffle Write Metrics",
)


def _trim(ev: dict) -> dict | None:
    kind = ev.get("Event")
    if kind == "SparkListenerJobStart":
        group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
        return {
            "Event": kind, "Job ID": ev["Job ID"], "Stage IDs": ev["Stage IDs"],
            "Properties": {"spark.jobGroup.id": group} if group else {},
        }
    if kind == "SparkListenerTaskEnd":
        info = ev.get("Task Info", {})
        metrics = ev.get("Task Metrics") or {}
        return {
            "Event": kind, "Stage ID": ev["Stage ID"],
            "Task Info": {k: info[k] for k in _KEEP_TASK_INFO if k in info},
            "Task Metrics": {k: metrics[k] for k in _KEEP_METRICS if k in metrics},
        }
    return None


def record() -> None:
    """Run the known jobs under an event log and write the trimmed log."""
    import tempfile

    from pyspark.sql import SparkSession, functions as F

    log_dir = tempfile.mkdtemp(prefix="perfbench_evlog_")
    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.sql.shuffle.partitions", "3")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.dir", "file://" + log_dir)
        .getOrCreate()
    )
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    # scan: one job, one stage, 4 tasks, no shuffle
    sc.setJobGroup("scan", "scan")
    noop(spark.range(0, 1000, 1, 4))
    # agg: a 4-task map stage writing shuffle + a 3-task reduce stage
    sc.setJobGroup("agg", "agg")
    noop(spark.range(0, 1000, 1, 4).groupBy((F.col("id") % 10).alias("k")).count())

    @F.udf("long")
    def boom(x):
        if x == 7:
            raise ValueError("known failure")
        return x

    # fail: one of the two tasks raises; local mode does not retry
    sc.setJobGroup("fail", "fail")
    try:
        noop(spark.range(0, 10, 1, 2).select(boom("id")))
    except Exception:  # noqa: BLE001 - the failure is the point
        pass
    spark.stop()

    events = []
    for d, _, files in os.walk(log_dir):
        for f in sorted(f for f in files if not f.startswith(".")):
            with open(os.path.join(d, f)) as fh:
                events += [t for line in fh if line.strip() and (t := _trim(json.loads(line)))]
    shutil.rmtree(log_dir, ignore_errors=True)
    os.makedirs(os.path.dirname(FIXTURE), exist_ok=True)
    with open(FIXTURE, "w") as fh:
        fh.writelines(json.dumps(e) + "\n" for e in events)


def _rolled_copy(tmp_path, parts: int = 2) -> str:
    """The fixture split into rolled files, as Spark's rolling log writes."""
    with open(FIXTURE) as fh:
        lines = fh.readlines()
    app = tmp_path / "log" / "eventlog_v2_local-1"
    app.mkdir(parents=True)
    step = -(-len(lines) // parts)
    for i in range(parts):
        (app / f"events_{i + 1}_local-1").write_text("".join(lines[i * step:(i + 1) * step]))
    (app / "appstatus_local-1.inprogress").write_text("")
    return str(tmp_path / "log")


def test_known_jobs_roll_up_per_group(tmp_path):
    r = EventLogRollup(_rolled_copy(tmp_path))
    r.close()
    scan, agg, fail = r.groups["scan"], r.groups["agg"], r.groups["fail"]
    assert (scan.jobs, len(scan.stages), scan.tasks) == (1, 1, 4)
    assert scan.shuffle_write_bytes == 0 and scan.failed_tasks == 0
    assert agg.jobs == 1 and len(agg.stages) == 2 and agg.tasks == 4 + 3
    assert agg.shuffle_write_bytes > 0
    assert agg.shuffle_read_bytes == agg.shuffle_write_bytes
    assert fail.failed_tasks >= 1
    for g in (scan, agg):
        assert g.run_ms >= 0 and g.cpu_ns > 0 and g.task_skew() >= 1.0


def test_rolled_files_are_deleted_once_read(tmp_path):
    log = _rolled_copy(tmp_path, parts=3)
    app = os.path.join(log, "eventlog_v2_local-1")
    r = EventLogRollup(log)
    r.poll()
    # the two older rolls are complete: read and deleted; the newest stays
    assert sorted(f for f in os.listdir(app) if f.startswith("events_")) == [
        "events_3_local-1"
    ]
    r.close()
    assert not os.path.exists(log)
    whole = EventLogRollup(_rolled_copy(tmp_path / "again", parts=1))
    whole.close()
    assert {k: (g.jobs, g.tasks, g.run_ms) for k, g in r.groups.items()} == {
        k: (g.jobs, g.tasks, g.run_ms) for k, g in whole.groups.items()
    }


def test_partial_trailing_line_is_read_on_next_poll(tmp_path):
    with open(FIXTURE, "rb") as fh:
        data = fh.read()
    path = tmp_path / "app.inprogress"
    cut = len(data) // 2
    path.write_bytes(data[:cut])
    r = EventLogRollup(str(tmp_path))
    r.poll()
    with open(path, "ab") as fh:
        fh.write(data[cut:])
    path.rename(tmp_path / "app")  # as Spark renames it when the app ends
    r.close()
    full = EventLogRollup(str(tmp_path / "none"))
    for line in data.splitlines():
        full._feed(json.loads(line))
    assert {k: g.tasks for k, g in r.groups.items()} == {
        k: g.tasks for k, g in full.groups.items()
    }


def test_task_skew_uses_the_stage_with_most_task_time():
    r = EventLogRollup("unused")
    r._feed({"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
             "Properties": {"spark.jobGroup.id": "g"}})
    for sid, ms in ((0, 10), (0, 10), (0, 50), (1, 1), (1, 9)):
        r._feed({"Event": "SparkListenerTaskEnd", "Stage ID": sid, "Task Info": {},
                 "Task Metrics": {"Executor Run Time": ms}})
    g = r.total("g")
    assert g.tasks == 5 and g.run_ms == 80
    assert g.task_skew() == 50 / 10


if __name__ == "__main__":
    if sys.argv[1:] == ["--record"]:
        record()
    else:
        raise SystemExit("usage: test_eventlog.py --record")
