"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash -> CORRECTNESS_r{N}.json).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sparklda.io import read_table

VOCAB_SIZE = 10_000


def vocab_from_docs(docs: DataFrame, vocab_size: int = VOCAB_SIZE) -> DataFrame:
    """Top-V vocabulary with deterministic dictionary ids, from a `text` column.

    Spark-first rewrite of the reference wordcount/dictionary spine
    (/root/reference/src/LDATopicModelingWithGibbs.py:34-68): tokenize ->
    explode -> hash-agg count -> rank. The global row_number is a single
    narrow window at V rows (post-agg), not over the corpus.

    Shared by the declared query (fixture parquet), the bench's synthetic
    parallelism probe, and the vocab-boundary tests, so every surface times
    and checks the exact same physical plan.
    """
    if isinstance(vocab_size, bool) or not isinstance(vocab_size, int) or vocab_size < 1:
        raise ValueError(f"vocab_size must be an int >= 1, got {vocab_size!r}")
    words = docs.select(F.explode(F.split(F.col("text"), " ")).alias("word"))
    # The partial_count HashAggregate below this groupBy (visible in the
    # committed plans) is the skew insurance for the hashpartitioning(word)
    # Exchange: each map task emits at most one row per distinct word, so the
    # Zipfian-head word contributes <= #map-tasks shuffle rows, never
    # corpus-frequency rows. Guarded by tests/test_vocab.py.
    wc = words.filter(F.col("word") != "").groupBy("word").agg(F.count("*").alias("count"))
    # Distributed top-V FIRST (TakeOrderedAndProject: per-partition top-V, then
    # a merge bounded by V x partitions) so the rank below never sees more than
    # V rows. Ranking before limiting would drag the entire corpus vocabulary
    # through one SinglePartition sort — the 100 TB scale-killer. (count, word)
    # is a total order (word is unique post-groupBy), so top-V-then-rank is
    # row-for-row identical to rank-then-take-first-V.
    topv = wc.orderBy(F.desc("count"), F.asc("word")).limit(vocab_size)
    win = Window.orderBy(F.desc("count"), F.asc("word"))
    return (
        topv.withColumn("id", (F.row_number().over(win) - F.lit(1)).cast("long"))
        .select("word", "count", "id")
    )


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


def vocab_oracle_sql(vocab_size: int) -> str:
    """DuckDB SQL for ``vocab_from_docs`` over a ``documents`` view: it ranks
    the whole vocabulary and then limits, the order the Spark plan reverses."""
    return f"""
        WITH toks AS (
            SELECT unnest(string_split(text, ' ')) AS word FROM documents
        ), wc AS (
            SELECT word, COUNT(*) AS count FROM toks WHERE word <> '' GROUP BY word
        )
        SELECT word, count, ROW_NUMBER() OVER (ORDER BY count DESC, word ASC) - 1 AS id
        FROM wc ORDER BY id LIMIT {vocab_size}
    """


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL for each queries() entry."""
    return {"vocab_topv": vocab_oracle_sql(VOCAB_SIZE)}
