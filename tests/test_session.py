"""Tests for the SparkSession bootstrap's checks on its environment."""

from __future__ import annotations

import pytest

from sparklda.session import get_spark


@pytest.mark.parametrize("cpus", ["abc", "0", ""])
def test_get_spark_rejects_bad_cpus_before_spark_starts(monkeypatch, cpus):
    """These values used to start the JVM and fail inside it, with an error
    naming the master URL (``local[abc]``, ``local[]``) or a thread count,
    not the variable. The check runs before the builder, so no JVM starts."""
    monkeypatch.setenv("SPARK_GRAFT_CPUS", cpus)
    with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
        get_spark()


def test_get_spark_rejects_cpus_unlike_the_running_master(spark, monkeypatch):
    """``getOrCreate`` used to hand back the running session whatever
    ``SPARK_GRAFT_CPUS`` asked for, so the core count was ignored silently."""
    running = spark.sparkContext.master
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "2" if running == "local[1]" else "1")
    with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
        get_spark()
    assert spark.sparkContext.master == running
    assert spark.range(3).count() == 3
