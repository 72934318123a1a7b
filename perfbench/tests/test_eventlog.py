"""The event-log parser, on a tiny in-process run of the declared query."""

from __future__ import annotations

import os

import pytest

import __spark_entry__ as entry_mod
from perfbench import eventlog
from perfbench.run import FIXTURE_DIR, QUERY_PROP
from sparklda.io import read_table
from sparklda.session import get_spark

EVENT_LOG_PROPS = ("spark.eventLog.enabled", "spark.eventLog.dir", "spark.eventLog.compress")


@pytest.fixture(scope="module")
def traced(tmp_path_factory):
    """Run the fixture query twice in a session whose event log is on."""
    log_root = tmp_path_factory.mktemp("eventlog")
    spark = get_spark("perfbench-eventlog-test")
    spark.stop()
    system = spark._jvm.java.lang.System
    # A new SparkContext reads spark.* JVM system properties into its conf.
    for key, value in zip(EVENT_LOG_PROPS, ("true", f"file://{log_root}", "false")):
        system.setProperty(key, value)
    try:
        spark = get_spark("perfbench-eventlog-test")
        spark.sparkContext.setLogLevel("ERROR")
        app_id = spark.sparkContext.applicationId
        for qid in ("q0", "q1"):
            spark.sparkContext.setLocalProperty(QUERY_PROP, qid)
            df = entry_mod.vocab_from_docs(read_table(spark, "documents", FIXTURE_DIR))
            df.write.format("noop").mode("overwrite").save()
        spark.sparkContext.setLocalProperty(QUERY_PROP, None)
        spark.stop()  # flushes and closes the log
    finally:
        for key in EVENT_LOG_PROPS:
            system.clearProperty(key)
    log_dir = os.path.join(str(log_root), f"eventlog_v2_{app_id}")
    return eventlog.per_query(eventlog.read_events(log_dir), QUERY_PROP)


def test_every_tagged_query_is_found(traced):
    assert sorted(traced) == ["q0", "q1"]


def test_map_and_reduce_stages(traced):
    for q in traced.values():
        # One file with one row group: one scan task reads all 5 000 rows.
        assert q["map.tasks"] == q["io.scan_tasks"] == 1
        assert q["io.input_records"] == 5_000
        assert q["reduce.tasks"] >= 1
        assert q["driver.stages"] == len(q["stage_intervals"]) == 2
        assert q["map.run_s"] > 0


def test_plan_from_sql_execution_start(traced):
    for q in traced.values():
        # One shuffle between the partial and the final count; no Python UDF.
        assert q["plan.exchanges"] == 1
        assert q["plan.python_eval_nodes"] == 0
        assert 0 < q["driver.plan_s"] < 60


def test_shuffle_records_balance(traced):
    for q in traced.values():
        # The map-side combine leaves one row per distinct word per map task.
        assert q["map.shuffle_write_records"] == 31
        assert q["reduce.shuffle_read_records"] == q["map.shuffle_write_records"]
        assert q["reduce.shuffle_read_bytes"] == q["map.shuffle_write_bytes"]


def test_union_length_merges_overlaps_and_clips():
    intervals = [(0.0, 2.0), (1.0, 3.0), (5.0, 6.0), (9.0, 12.0)]
    assert eventlog.union_length(intervals, 0.5, 10.0) == pytest.approx(2.5 + 1.0 + 1.0)
