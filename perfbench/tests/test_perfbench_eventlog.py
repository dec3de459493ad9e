"""Event-log accounting: synthetic events, then a tiny real job."""

import json

import pytest

from sparkmeter import EventLog, SparkMeter, event_log_file, scheduler_delay_ms


def _task_end(stage, launch, finish, run_ms, sent=0, shuffle=0):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {
            "Launch Time": launch, "Finish Time": finish, "Getting Result Time": 0,
            "Accumulables": [{"Name": "data sent to Python workers", "Update": str(sent)}] if sent else [],
        },
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor Deserialize Time": 5, "Result Serialization Time": 1,
            "Disk Bytes Spilled": 0, "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
        },
    }


def test_scheduler_delay_is_wall_less_busy_time():
    info = {"Launch Time": 1000, "Finish Time": 1100, "Getting Result Time": 1090}
    metrics = {"Executor Run Time": 60, "Executor Deserialize Time": 5, "Result Serialization Time": 5}
    assert scheduler_delay_ms(info, metrics) == 100 - 60 - 5 - 5 - 10


def test_feed_attributes_tasks_to_job_groups(tmp_path):
    path = tmp_path / "app.inprogress"
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "a#1"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2], "Properties": {"spark.jobGroup.id": "b#2"}},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [3], "Properties": {}},
        _task_end(0, 0, 100, 50, shuffle=10),
        _task_end(1, 0, 100, 70, sent=300),
        _task_end(2, 0, 10, 4),
        _task_end(3, 0, 10, 4),
    ]
    path.write_text("\n".join(json.dumps(e) for e in events) + "\n" + '{"Event": "SparkListener')
    log = EventLog(str(path))
    log.poll()
    a, b = log.totals["a#1"], log.totals["b#2"]
    assert (a["jobs"], a["stages"], a["tasks"]) == (1, 2, 2)
    assert a["shuffle_write_bytes"] == 10 and a["python_bytes_sent"] == 300
    assert a["executor_run_s"] == pytest.approx(0.12)
    assert a["scheduler_delay_s"] == pytest.approx((100 - 56 + 100 - 76) / 1000)
    assert (b["jobs"], b["tasks"]) == (1, 1)
    assert set(log.totals) == {"a#1", "b#2"}
    with open(path, "a") as f:  # the partial last line completes later
        f.write('JobEnd", "Job ID": 0}\n')
    log.poll()
    assert log.totals["a#1"]["jobs"] == 1


def test_tiny_job_is_metered(tmp_path):
    import pandas as pd
    from pyspark.sql import functions as F

    from run import start_session, stop_session

    spark = start_session(str(tmp_path), trace=True)
    try:
        sc = spark.sparkContext
        meter = SparkMeter(spark, event_log_file(str(tmp_path / "events"), sc.applicationId))

        @F.pandas_udf("double")
        def plus_one(s: pd.Series) -> pd.Series:
            return s + 1

        first, second = [], []
        with meter.op("udf_agg", first):
            spark.range(1000).select(plus_one("id").alias("v")).groupBy(F.col("v") % 3).count().collect()
        with meter.op("plain", second):
            spark.range(10).count()
    finally:
        stop_session(spark)
    (t,) = first
    assert t["jobs"] >= 1 and t["tasks"] >= t["stages"] >= 1
    assert t["python_bytes_sent"] > 0
    assert t["shuffle_write_bytes"] > 0
    (p,) = second
    assert p["jobs"] >= 1 and p["python_bytes_sent"] == 0
