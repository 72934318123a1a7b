"""Tokenization and the top-V dictionary, in Spark and in DuckDB.

The rule: a document's ``text`` is split on a single space. Tabs and case
are kept, so ``"a\\tb"`` is one token and ``"A"`` and ``"a"`` are two. Empty
tokens (``''``, from double, leading or trailing spaces) are dropped, and
null text yields no tokens. Dictionary ids rank the words by (count desc,
word asc), starting at 0.

``vocab_from_docs`` is the Spark form, one Spark SQL statement;
``vocab_oracle_sql`` is the DuckDB form the tests check it against.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

VOCAB_SIZE = 10_000


def vocab_from_docs(docs: DataFrame, vocab_size: int = VOCAB_SIZE) -> DataFrame:
    """Top-V vocabulary ``(word, count, id)`` of ``docs.text``.

    One SQL statement, so Spark parses and analyzes the query once, where a
    chain of DataFrame calls is analyzed call by call. The global row_number
    is a single narrow window at V rows (post-agg), not over the corpus.
    Shared by the declared query, the bench's synthetic probe and the tests,
    so every surface times and checks the same plan.
    """
    # From this many rows up, Spark plans limit(V) as a sort of the whole
    # vocabulary on one partition instead of TakeOrderedAndProject.
    bound = int(docs.sparkSession.conf.get("spark.sql.execution.topKSortFallbackThreshold"))
    # This check is also what keeps anything but an int out of the SQL text.
    if isinstance(vocab_size, bool) or not isinstance(vocab_size, int) or not 1 <= vocab_size < bound:
        raise ValueError(f"vocab_size must be an int >= 1 and < {bound}, got {vocab_size!r}")
    # spark.sql formats the statement with str.format: no braces but the fields.
    return docs.sparkSession.sql(
        """
        SELECT word, count,
               CAST(row_number() OVER (ORDER BY count DESC, word ASC) - 1 AS BIGINT) AS id
        FROM (
            SELECT word, count(*) AS count
            FROM (SELECT explode(split(text, ' ')) AS word FROM {docs})
            WHERE word <> ''
            -- The partial_count HashAggregate below this GROUP BY (visible in
            -- the committed plans) is the skew insurance for the
            -- hashpartitioning(word) Exchange: each map task emits at most one
            -- row per distinct word, so the Zipfian-head word contributes
            -- <= #map-tasks shuffle rows, never corpus-frequency rows.
            -- Guarded by tests/test_vocab.py.
            GROUP BY word
            ORDER BY count DESC, word ASC
            -- Distributed top-V FIRST (TakeOrderedAndProject: per-partition
            -- top-V, then a merge bounded by V x partitions), so the rank
            -- above never sees more than V rows. Ranking before limiting
            -- would drag the entire corpus vocabulary through one
            -- SinglePartition sort. (count, word) is a total order (word is
            -- unique after GROUP BY), so top-V-then-rank is row-for-row
            -- identical to rank-then-take-first-V.
            LIMIT {v}
        )
        """,
        docs=docs,
        v=vocab_size,
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
