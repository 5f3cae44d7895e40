"""Offline roll-up of a Spark event log, keyed by job group.

The benchmark tags every call it wants measured with
``SparkContext.setJobGroup(<key>, ...)`` and runs the session with a rolling,
uncompressed event log. :class:`EventLogRollup` reads the log files as they
grow, folds every task into the group of the job that first submitted its
stage, and deletes each rolled file once it has been read, so the log never
holds more than one roll on disk.

Per group it keeps: jobs, stages, tasks, failed tasks, summed executor run
time and CPU time, shuffle read and write bytes, bytes spilled to disk, and
the run times of the tasks of each stage (for max/median task skew).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import statistics
from dataclasses import dataclass, field

_ROLLED = re.compile(r"^events_(\d+)_")


@dataclass
class GroupStats:
    jobs: int = 0
    stages: set[int] = field(default_factory=set)
    tasks: int = 0
    failed_tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    disk_spill_bytes: int = 0
    stage_run_ms: dict[int, list[int]] = field(default_factory=dict)

    def task_skew(self) -> float:
        """max/median task run time in the stage with the most summed task
        time; 0.0 when the group ran no task."""
        if not self.stage_run_ms:
            return 0.0
        times = max(self.stage_run_ms.values(), key=sum)
        return max(times) / max(statistics.median(times), 1.0)

    def merge(self, other: GroupStats) -> None:
        self.jobs += other.jobs
        self.stages |= other.stages
        self.tasks += other.tasks
        self.failed_tasks += other.failed_tasks
        self.run_ms += other.run_ms
        self.cpu_ns += other.cpu_ns
        self.shuffle_read_bytes += other.shuffle_read_bytes
        self.shuffle_write_bytes += other.shuffle_write_bytes
        self.disk_spill_bytes += other.disk_spill_bytes
        for sid, times in other.stage_run_ms.items():
            self.stage_run_ms.setdefault(sid, []).extend(times)


class EventLogRollup:
    """Incremental reader of the event logs under ``log_dir``.

    Handles both layouts Spark writes: a single ``<app>`` / ``<app>.inprogress``
    file, and the rolling ``eventlog_v2_<app>/events_<n>_<app>`` directory.
    Only complete lines are consumed; a partial trailing line is re-read on
    the next :meth:`poll`.
    """

    def __init__(self, log_dir: str) -> None:
        self.log_dir = log_dir
        self.groups: dict[str, GroupStats] = {}
        self._stage_group: dict[int, str] = {}
        self._offsets: dict[str, int] = {}
        self.bytes_read = 0

    def group(self, key: str) -> GroupStats:
        return self.groups.setdefault(key, GroupStats())

    def poll(self, final: bool = False) -> None:
        """Consume whatever the log holds now. Rolled files older than the
        newest one are complete: they are read to the end and deleted. With
        ``final`` (after the session stopped) every file is complete."""
        if not os.path.isdir(self.log_dir):
            return
        for entry in sorted(os.listdir(self.log_dir)):
            if entry.startswith("."):  # Hadoop's .crc checksum files
                continue
            path = os.path.join(self.log_dir, entry)
            if os.path.isdir(path):
                rolled = sorted(
                    (int(m.group(1)), f)
                    for f in os.listdir(path)
                    if (m := _ROLLED.match(f))
                )
                for i, (_, f) in enumerate(rolled):
                    done = final or i < len(rolled) - 1
                    self._read(os.path.join(path, f), delete=done)
            else:
                self._read(path, delete=final)

    def close(self) -> None:
        """Read the rest of the log and remove it."""
        self.poll(final=True)
        shutil.rmtree(self.log_dir, ignore_errors=True)

    def _read(self, path: str, delete: bool) -> None:
        # Spark drops the suffix when the application ends; the offset
        # carries over to the renamed file
        key = path.removesuffix(".inprogress")
        start = self._offsets.get(key, 0)
        with open(path, "rb") as f:
            f.seek(start)
            data = f.read()
        end = data.rfind(b"\n") + 1
        for line in data[:end].splitlines():
            if line.strip():
                self._feed(json.loads(line))
        self.bytes_read += end
        if delete:
            os.remove(path)
            self._offsets.pop(key, None)
        else:
            self._offsets[key] = start + end

    def _feed(self, ev: dict) -> None:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            key = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            self.group(key).jobs += 1
            for sid in ev.get("Stage IDs", []):
                self._stage_group.setdefault(sid, key)
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            g = self.group(self._stage_group.get(sid, ""))
            g.stages.add(sid)
            g.tasks += 1
            info = ev.get("Task Info", {})
            if info.get("Failed") or info.get("Killed"):
                g.failed_tasks += 1
            m = ev.get("Task Metrics") or {}
            run_ms = int(m.get("Executor Run Time", 0))
            g.run_ms += run_ms
            g.cpu_ns += int(m.get("Executor CPU Time", 0))
            sr = m.get("Shuffle Read Metrics") or {}
            g.shuffle_read_bytes += int(sr.get("Remote Bytes Read", 0)) + int(
                sr.get("Local Bytes Read", 0)
            )
            sw = m.get("Shuffle Write Metrics") or {}
            g.shuffle_write_bytes += int(sw.get("Shuffle Bytes Written", 0))
            g.disk_spill_bytes += int(m.get("Disk Bytes Spilled", 0))
            g.stage_run_ms.setdefault(sid, []).append(run_ms)

    def total(self, prefix: str) -> GroupStats:
        """Sum of every group whose key equals ``prefix`` or starts with
        ``prefix + '/'``."""
        out = GroupStats()
        for key, g in self.groups.items():
            if key == prefix or key.startswith(prefix + "/"):
                out.merge(g)
        return out
