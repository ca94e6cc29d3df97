"""Pins the benchmark's event-log reader.

    python3 -m pytest perfbench/test_eventlog.py -q

One test runs a tiny tagged job on a local session with the event log
on and reads the log back; the others feed hand-written events to the
reader.
"""

from __future__ import annotations

import json

import pytest

from eventlog import SPAN_PROP, log_parts, read_event_log


def _write_events(path, events):
    path.write_text("".join(json.dumps(e) + "\n" for e in events))


def test_rolling_parts_are_read_in_numeric_order(tmp_path):
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    for n in (10, 2, 1):
        (app / f"events_{n}_local-1").write_text("")
    (app / "appstatus_local-1").write_text("")
    assert [p.name for p in log_parts(tmp_path)] == [
        "events_1_local-1", "events_2_local-1", "events_10_local-1"]


def test_single_file_log_and_task_accounting(tmp_path):
    def task(stage, attempt, reason, py_bytes):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task End Reason": {"Reason": reason},
                "Task Info": {"Attempt": attempt, "Speculative": False,
                              "Accumulables": [
                                  {"Name": "data sent to Python workers",
                                   "Update": str(py_bytes)},
                                  {"Name": "number of output rows",
                                   "Update": "7"}]},
                "Task Metrics": {
                    "Executor Run Time": 1500, "JVM GC Time": 100,
                    "Disk Bytes Spilled": 2_000_000,
                    "Shuffle Read Metrics": {"Fetch Wait Time": 30},
                    "Shuffle Write Metrics": {
                        "Shuffle Bytes Written": 4096}}}

    _write_events(tmp_path / "local-2", [
        {"Event": "SparkListenerJobStart", "Job ID": 0,
         "Submission Time": 1000, "Stage IDs": [0, 1],
         "Properties": {SPAN_PROP: "s1",
                        "spark.job.description": "layer"}},
        # stage 0 carries the property itself; stage 1 inherits the job's
        {"Event": "SparkListenerStageSubmitted",
         "Stage Info": {"Stage ID": 0, "Stage Name": "map at x",
                        "Submission Time": 1000},
         "Properties": {SPAN_PROP: "s1"}},
        {"Event": "SparkListenerStageSubmitted",
         "Stage Info": {"Stage ID": 1, "Stage Name": "collect at y",
                        "Submission Time": 1500}},
        task(0, 0, "Success", 100),
        task(0, 1, "Success", 50),
        task(1, 0, "ExceptionFailure", 0),
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 0, "Submission Time": 1000,
                        "Completion Time": 3000}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0,
         "Completion Time": 4000,
         "Job Result": {"Result": "JobSucceeded"}},
    ])
    log = read_event_log(tmp_path)
    job = log.jobs[0]
    assert (job.span, job.description, job.succeeded) == ("s1", "layer",
                                                          True)
    assert [log.stages[i].span for i in (0, 1)] == ["s1", "s1"]
    assert log.stages[0].wall_s == 2.0
    t0, t1 = log.stages[0].tasks
    assert (t0.run_s, t0.gc_s, t0.fetch_wait_s) == (1.5, 0.1, 0.03)
    assert (t0.shuffle_write_bytes, t0.spill_bytes) == (4096, 2_000_000)
    assert (t0.python_in_bytes, t1.python_in_bytes) == (100, 50)
    assert (t0.retry, t1.retry) == (False, True)
    assert log.stages[1].tasks[0].failed


def test_reader_on_a_local_tagged_job(tmp_path):
    pytest.importorskip("pyspark")
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    ev = tmp_path / "ev"
    ev.mkdir()
    spark = (SparkSession.builder.master("local[2]")
             .appName("eventlog-test")
             .config("spark.ui.enabled", "false")
             .config("spark.driver.memory", "512m")
             .config("spark.sql.shuffle.partitions", "2")
             .config("spark.local.dir", str(tmp_path / "local"))
             .config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", str(ev))
             .config("spark.eventLog.compress", "false")
             .getOrCreate())
    try:
        sc = spark.sparkContext

        def double(batches):
            for pdf in batches:
                yield pdf.assign(y=pdf["id"] * 2)

        sc.setLocalProperty(SPAN_PROP, "span-a")
        (spark.range(1000, numPartitions=2)
         .mapInPandas(double, "id long, y long")
         .groupBy(F.col("y") % 3).count()
         .write.format("noop").mode("overwrite").save())
        sc.setLocalProperty(SPAN_PROP, None)
        spark.range(10).count()
    finally:
        spark.stop()

    log = read_event_log(ev)
    assert log.jobs and all(j.succeeded for j in log.jobs.values())
    tagged = [s for s in log.stages.values() if s.span == "span-a"]
    untagged = [s for s in log.stages.values() if s.span is None]
    assert tagged and untagged
    tasks = [t for s in tagged for t in s.tasks]
    # 1000 longs cross into the Python workers: at least 8 kB
    assert sum(t.python_in_bytes for t in tasks) >= 8000
    assert sum(t.shuffle_write_bytes for t in tasks) > 0
    assert sum(t.run_s for t in tasks) > 0
    assert not any(t.failed or t.retry for s in log.stages.values()
                   for t in s.tasks)
