"""Stdlib parser for Spark's JSON event log, summed per job group.

Spark writes one JSON object per line. With rolling enabled (the default in
Spark 4) a session's log is a directory ``eventlog_v2_<app>/`` holding
``events_<n>_<app>`` files that are read in ``<n>`` order; without it, one
file. The log must be written uncompressed (``spark.eventLog.compress=false``)
because decoding Spark's default zstd codec needs a module this parser does
not use.

A job belongs to the group in ``Properties["spark.jobGroup.id"]`` of its
``SparkListenerJobStart`` event (``""`` when none was set). A stage belongs to
the first job that lists it, and a task to its stage.
"""

from __future__ import annotations

import json
import os
import re
from collections.abc import Iterable, Iterator
from dataclasses import dataclass, field, fields

_ROLLING_FILE = re.compile(r"^events_(\d+)_")


@dataclass
class GroupStats:
    """Totals of one job group; times in milliseconds, sizes in bytes."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    task_ms: int = 0
    gc_ms: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    #: (submission, completion) epoch-ms interval of every job.
    job_spans: list[tuple[int, int]] = field(default_factory=list)

    def add(self, other: GroupStats) -> None:
        for f in fields(self):
            setattr(self, f.name, getattr(self, f.name) + getattr(other, f.name))


def log_files(log_dir: str) -> list[str]:
    """Every event-log file under ``log_dir``, in write order."""
    files: list[str] = []
    for entry in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, entry)
        if os.path.isdir(path) and entry.startswith("eventlog_v2_"):
            parts = [
                (int(m.group(1)), name)
                for name in os.listdir(path)
                if (m := _ROLLING_FILE.match(name))
            ]
            files.extend(os.path.join(path, name) for _, name in sorted(parts))
        elif os.path.isfile(path) and not entry.startswith("."):
            files.append(path)
    return files


def read_events(log_dir: str) -> Iterator[dict]:
    for path in log_files(log_dir):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


def covered_ms(spans: Iterable[tuple[int, int]], start: int, end: int) -> int:
    """Milliseconds of ``[start, end)`` covered by the union of ``spans``."""
    total, cursor = 0, start
    for lo, hi in sorted(spans):
        lo, hi = max(lo, cursor), min(hi, end)
        if hi > lo:
            total += hi - lo
            cursor = hi
    return total


def summarize(
    events: Iterable[dict], since_ms: int = 0, until_ms: int | None = None
) -> dict[str, GroupStats]:
    """Per-group totals of the jobs submitted in ``[since_ms, until_ms)``."""
    until_ms = until_ms if until_ms is not None else 2**63
    job_group: dict[int, str] = {}
    job_start: dict[int, int] = {}
    stage_group: dict[int, str] = {}
    groups: dict[str, GroupStats] = {}

    def stats_of(stage_id: int) -> GroupStats | None:
        group = stage_group.get(stage_id)
        return None if group is None else groups.setdefault(group, GroupStats())

    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            submitted = ev.get("Submission Time", 0)
            if not since_ms <= submitted < until_ms:
                continue
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            job_group[ev["Job ID"]] = group
            job_start[ev["Job ID"]] = submitted
            groups.setdefault(group, GroupStats()).jobs += 1
            for stage_id in ev.get("Stage IDs", []):
                stage_group.setdefault(stage_id, group)
        elif kind == "SparkListenerJobEnd":
            job = ev["Job ID"]
            if job in job_group:
                groups[job_group[job]].job_spans.append(
                    (job_start[job], ev.get("Completion Time", job_start[job]))
                )
        elif kind == "SparkListenerStageCompleted":
            stats = stats_of(ev["Stage Info"]["Stage ID"])
            if stats is not None:
                stats.stages += 1
        elif kind == "SparkListenerTaskEnd":
            stats = stats_of(ev["Stage ID"])
            if stats is None:
                continue
            stats.tasks += 1
            reason = (ev.get("Task End Reason") or {}).get("Reason", "Success")
            if reason != "Success" or (ev.get("Task Info") or {}).get("Failed"):
                stats.failed_tasks += 1
            metrics = ev.get("Task Metrics") or {}
            read = metrics.get("Shuffle Read Metrics") or {}
            write = metrics.get("Shuffle Write Metrics") or {}
            stats.task_ms += metrics.get("Executor Run Time", 0)
            stats.gc_ms += metrics.get("JVM GC Time", 0)
            stats.shuffle_read_bytes += read.get("Remote Bytes Read", 0) + read.get(
                "Local Bytes Read", 0
            )
            stats.shuffle_write_bytes += write.get("Shuffle Bytes Written", 0)
            stats.spill_bytes += metrics.get("Disk Bytes Spilled", 0)
    return groups
