"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash -> CORRECTNESS_r{N}.json).

A declared query brings three things: its ``queries()`` entry, its
``oracle_sql()`` entry, and ``plans/<name>.txt``, written by
``python -m sparklda.plan SF_DIR``. ``tests/test_vocab.py`` derives the
query's checks from these three, by name: its rows, column names and types
against DuckDB on the sf0.001 and sf0.01 fixtures, and its plan against the
snapshot. A ``queries()`` entry that lacks either of the other two, or a
snapshot with no ``queries()`` entry, fails a test.

The query code lives in ``sparklda.text``. ``VOCAB_SIZE`` is imported for
``oracle_sql``. ``vocab_from_docs`` stays importable from here because the
paired benchmark (``perfbench/run.py`` and its event-log test) imports it
from this module.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from sparklda.io import read_table
from sparklda.text import VOCAB_SIZE, vocab_from_docs, vocab_oracle_sql


def _vocab_topv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared query: top-V vocabulary over the fixture documents table."""
    return vocab_from_docs(read_table(spark, "documents", sf_dir))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query; driver checks rows>0. Data dir overridable via env."""
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    return _vocab_topv(spark, sf_dir)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {
        "vocab_topv": _vocab_topv,
    }


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL for each queries() entry."""
    return {"vocab_topv": vocab_oracle_sql(VOCAB_SIZE)}
