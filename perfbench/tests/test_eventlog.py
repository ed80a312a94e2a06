"""The event-log parser and job attribution on a known two-stage query.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import os
import sys
import time

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import tracing  # noqa: E402


@pytest.fixture(scope="module")
def event_log(tmp_path_factory):
    from pyspark.sql import SparkSession

    log_dir = tmp_path_factory.mktemp("eventlog")
    spark = (SparkSession.builder.master("local[4]").appName("eventlog-test")
             .config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.dir", f"file://{log_dir}")
             .config("spark.sql.shuffle.partitions", "4")
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.ui.enabled", "false")
             .getOrCreate())
    sc = spark.sparkContext
    windows = []
    for group, action in (
        ("two-stage", lambda: spark.range(0, 100_000, 1, 4).selectExpr("id % 7 AS k")
         .groupBy("k").count().write.format("noop").mode("overwrite").save()),
        ("one-stage", lambda: spark.range(0, 1_000, 1, 2).selectExpr("sum(id)").collect()),
    ):
        sc.setJobGroup(group, group)
        start = time.time()
        action()
        windows.append(tracing.Window(group, start * 1e3, time.time() * 1e3))
    sc.setJobGroup("idle", "idle")
    app_id = sc.applicationId
    spark.stop()
    return tracing.parse_event_log(tracing.find_event_log(str(log_dir), app_id)), windows


def test_two_stage_counts(event_log):
    log, windows = event_log
    jobs = [j for j in log.jobs.values() if j.group == "two-stage"]
    # adaptive execution runs the shuffle map stage and the result stage as
    # two jobs: 4 map tasks, then one reduce task after coalescing
    assert len(jobs) == 2
    stages = [log.stages[s] for j in jobs for s in j.stages if s in log.stages]
    assert len(stages) == 2
    assert sorted(len(s.tasks) for s in stages) == [1, 4]
    per = tracing.attribute(log, windows)["two-stage"]
    assert per["jobs"] == 2 and per["tasks"] == 5
    assert per["shuffle_write_bytes"] > 0 and per["shuffle_read_bytes"] > 0
    assert per["input_rows"] == 100_000
    assert per["sql_execs"] == 1 and per["exchanges"] >= 1


def test_every_job_in_its_group(event_log):
    log, windows = event_log
    groups = {w.group for w in windows}
    assert {j.group for j in log.jobs.values()} <= groups
    per = tracing.attribute(log, windows)
    assert sum(p["jobs"] for p in per.values()) == len(log.jobs)
    assert all(j.ok and j.end_ms >= j.submit_ms for j in log.jobs.values())
