"""SparkSession bootstrap: ``local[$SPARK_GRAFT_CPUS]`` and the serialized shuffle writer."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "sparklda") -> SparkSession:
    """Build the engine's local SparkSession, or return the running one.

    An unset ``SPARK_GRAFT_CPUS`` means ``local[*]``, one task slot per core.
    Otherwise it must be ``*`` or a decimal int >= 1; any other value raises
    ``ValueError`` before the JVM starts. A JVM has one master, so when a
    session is already running on another master than
    ``local[$SPARK_GRAFT_CPUS]``, ``ValueError`` is raised and that session
    keeps running; stop it first to change the core count. Spark logs only
    errors.

    ``spark.driver.memory`` is set explicitly: in local mode it is the heap
    every task runs in, and reading the key back raises ``SQL_CONF_NOT_FOUND``
    when it was never set. The UI is off; nothing serves it.

    ``spark.shuffle.sort.bypassMergeThreshold`` is 0 so every exchange takes
    the serialized shuffle writer. Spark otherwise picks the bypass-merge
    writer whenever an exchange has at most 200 reduce partitions, which is
    the case for the 200-way ``hashpartitioning(word)`` exchange (SQL
    exchanges never combine inside the shuffle; ``partial_count`` runs
    before it): each map task then opens one file writer per reduce
    partition. AQE coalesces those 200 partitions on the read side only, so
    the map side still pays for all of them. On a 4-vCPU host, the
    300k-token Zipf corpus with ~110k distinct words (4 map tasks,
    137 337 shuffle records) took 1.31-1.39 CPU s per query with
    bypass-merge and 0.47-0.60 CPU s with the serialized writer (one JVM,
    25 warm-up and 25 timed queries); over 10 paired benchmark runs, 1 MB
    pages included, the medians were 1.28 and 0.62 CPU s. The fixture query
    (31 shuffle records) did not move. The physical plan is unchanged.

    ``spark.buffer.pageSize`` is 1 MB because the serialized writer buffers
    each map task's records in pages of that size. The default page is
    16-64 MB (at 32 down to 4 cores), and on the 8 GB heap G1 (4 MB regions) allocates anything
    over 2 MB as a humongous object, each one able to start a concurrent
    mark cycle. With the default page, 61 queries of the Zipf corpus caused
    68 such cycles, and some JVMs spent about 0.3 CPU s per query in G1
    threads; with 1 MB pages there was 1.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    # Checked before the builder runs: the JVM's error for a bad master names
    # the URL, not the variable, and its master pattern takes only ASCII digits.
    if cpus != "*" and not (cpus.isascii() and cpus.isdecimal() and int(cpus) >= 1):
        raise ValueError(f"SPARK_GRAFT_CPUS must be * or an int >= 1, got {cpus!r}")
    spark = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.driver.memory", "8g")
        .config("spark.ui.enabled", "false")
        .config("spark.shuffle.sort.bypassMergeThreshold", "0")
        .config("spark.buffer.pageSize", "1m")
        .getOrCreate()
    )
    master = spark.sparkContext.master
    if master != f"local[{cpus}]":
        raise ValueError(f"SPARK_GRAFT_CPUS asks for local[{cpus}], but a session is running on {master}")
    spark.sparkContext.setLogLevel("ERROR")
    return spark
