"""Tokenization and the top-V dictionary, in Spark and in DuckDB.

The rule: a document's ``text`` is split on a single space. Tabs and case
are kept, so ``"a\\tb"`` is one token and ``"A"`` and ``"a"`` are two. Empty
tokens (``''``, from double, leading or trailing spaces) are dropped, and
null text yields no tokens. Dictionary ids rank the words by (count desc,
word asc), starting at 0.

``word_counts`` and ``vocab_from_docs`` are the Spark form; ``vocab_oracle_sql``
is the DuckDB form the tests check them against.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

VOCAB_SIZE = 10_000


def word_counts(docs: DataFrame) -> DataFrame:
    """``(word, count)`` for every distinct token of ``docs.text``."""
    words = docs.select(F.explode(F.split(F.col("text"), " ")).alias("word"))
    # The partial_count HashAggregate below this groupBy (visible in the
    # committed plans) is the skew insurance for the hashpartitioning(word)
    # Exchange: each map task emits at most one row per distinct word, so the
    # Zipfian-head word contributes <= #map-tasks shuffle rows, never
    # corpus-frequency rows. Guarded by tests/test_vocab.py.
    return words.filter(F.col("word") != "").groupBy("word").agg(F.count("*").alias("count"))


def vocab_from_docs(docs: DataFrame, vocab_size: int = VOCAB_SIZE) -> DataFrame:
    """Top-V vocabulary ``(word, count, id)`` of ``docs.text``.

    The global row_number is a single narrow window at V rows (post-agg),
    not over the corpus. Shared by the declared query, the bench's synthetic
    probe and the tests, so every surface times and checks the same plan.
    """
    # From this many rows up, Spark plans limit(V) as a sort of the whole
    # vocabulary on one partition instead of TakeOrderedAndProject.
    bound = int(docs.sparkSession.conf.get("spark.sql.execution.topKSortFallbackThreshold"))
    if isinstance(vocab_size, bool) or not isinstance(vocab_size, int) or not 1 <= vocab_size < bound:
        raise ValueError(f"vocab_size must be an int >= 1 and < {bound}, got {vocab_size!r}")
    # Distributed top-V FIRST (TakeOrderedAndProject: per-partition top-V, then
    # a merge bounded by V x partitions) so the rank below never sees more than
    # V rows. Ranking before limiting would drag the entire corpus vocabulary
    # through one SinglePartition sort. (count, word) is a total order (word is
    # unique post-groupBy), so top-V-then-rank is row-for-row identical to
    # rank-then-take-first-V.
    order = (F.desc("count"), F.asc("word"))
    topv = word_counts(docs).orderBy(*order).limit(vocab_size)
    return (
        topv.withColumn("id", (F.row_number().over(Window.orderBy(*order)) - F.lit(1)).cast("long"))
        .select("word", "count", "id")
    )


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
