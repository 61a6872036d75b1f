"""Tests of the event-log parser; run from the repository root:

    python3 -m pytest perfbench/test_eventlog.py -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import eventlog  # noqa: E402


def test_covered_ms_merges_overlaps_and_clips():
    spans = [(0, 10), (5, 20), (30, 40), (95, 120)]
    assert eventlog.covered_ms(spans, 0, 100) == 20 + 10 + 5
    assert eventlog.covered_ms(spans, 8, 35) == 12 + 5
    assert eventlog.covered_ms([], 0, 100) == 0


def test_rolling_files_are_read_in_index_order(tmp_path):
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    (app / "appstatus_local-1").write_text("")
    for index in (10, 2, 1):
        line = {"Event": "SparkListenerJobStart", "Job ID": index, "Submission Time": index}
        (app / f"events_{index}_local-1").write_text(json.dumps(line) + "\n")
    assert [e["Job ID"] for e in eventlog.read_events(str(tmp_path))] == [1, 2, 10]


def test_two_query_session_sums_per_job_group(tmp_path):
    """Two queries under their own job groups in a real session: each group
    gets its own jobs, tasks and run time, and only the grouped query with a
    shuffle reports shuffle bytes."""
    pytest.importorskip("pyspark")
    from pyspark.sql import SparkSession

    log_dir = tmp_path / "log"
    log_dir.mkdir()
    spark = (
        SparkSession.builder.master("local[2]")
        .appName("eventlog-test")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", str(log_dir))
        .config("spark.eventLog.compress", "false")
        .config("spark.local.dir", str(tmp_path / "local"))
        .getOrCreate()
    )
    try:
        sc = spark.sparkContext
        sc.setJobGroup("q:scan:exec", "scan")
        assert spark.range(1000, numPartitions=2).filter("id % 7 = 0").count() == 143
        sc.setJobGroup("q:agg:exec", "agg")
        rows = spark.range(10_000, numPartitions=4).selectExpr("id % 10 AS k").groupBy("k").count()
        assert len(rows.collect()) == 10
    finally:
        spark.stop()

    groups = eventlog.summarize(eventlog.read_events(str(log_dir)))
    scan, agg = groups["q:scan:exec"], groups["q:agg:exec"]
    for stats in (scan, agg):
        assert stats.jobs >= 1
        assert stats.stages >= 1
        assert stats.tasks >= 2
        assert stats.failed_tasks == 0
        assert len(stats.job_spans) == stats.jobs
        assert all(end >= start for start, end in stats.job_spans)
    assert agg.tasks > scan.tasks
    assert agg.shuffle_write_bytes > 0
    assert agg.shuffle_read_bytes == agg.shuffle_write_bytes
    # A window that starts after the last job keeps nothing.
    last_end = max(end for g in groups.values() for _, end in g.job_spans)
    assert eventlog.summarize(eventlog.read_events(str(log_dir)), since_ms=last_end + 1) == {}
