"""SparkSession bootstrap: ``local[$SPARK_GRAFT_CPUS]``, Spark's defaults otherwise."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "sparklda") -> SparkSession:
    """Build (or fetch) the engine's local SparkSession.

    ``spark.driver.memory`` is set explicitly: in local mode it is the heap
    every task runs in, and reading the key back raises ``SQL_CONF_NOT_FOUND``
    when it was never set. The UI is off; nothing serves it.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    return (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.driver.memory", "8g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
