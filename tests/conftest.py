"""Fixtures shared by every test file: one SparkSession and a plan printer."""

from __future__ import annotations

import pytest

from sparklda.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("sparklda-tests")
    s.sparkContext.setLogLevel("ERROR")
    return s


@pytest.fixture(scope="session")
def formatted_plan(spark):
    """Function returning a DataFrame's physical plan as ``explain("formatted")`` prints it."""
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return lambda df: df._jdf.queryExecution().explainString(mode)
