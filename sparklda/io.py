"""Fixture reader and the synthetic corpus the bench and tests share.

The reference "parses" CSV with ``line.split(',')``, correct only because an
upstream cleaner stripped every comma. This engine reads Parquet with an
explicit StructType schema instead, with no inference pass. The schema
catches a changed type only in a column a query reads, and never a lost
column: a column stored with another type fails the scan that reads it
(today's query reads only ``text``; ``lang`` stored as int32 passes
``vocab_from_docs`` and fails ``collect()`` of the whole table), a declared
column the file lacks (missing or renamed) reads as null without an error,
and a column the schema does not name is ignored.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Explicit schemas: the reader never pays an inference pass (what they catch
# is in the module docstring). Names/types match the fixtures described in
# TESTDATA.md.
SCHEMAS: dict[str, T.StructType] = {
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
}


def read_table(spark: SparkSession, name: str, sf_dir: str) -> DataFrame:
    """Read one fixture table as a DataFrame with its declared schema."""
    if name not in SCHEMAS:
        raise KeyError(f"unknown table {name!r}; known: {sorted(SCHEMAS)}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    return spark.read.schema(SCHEMAS[name]).parquet(path)


def synth_docs(
    spark: SparkSession, n_docs: int, words_per_doc: int, n_distinct: int, parts: int
) -> DataFrame:
    """Deterministic synthetic corpus with a `text` column.

    Built from ``spark.range`` + expressions only (no fixture, no files, no
    rand()): word j of doc i is ``w<pmod(xxhash64(i*W+j), n_distinct)>``,
    so the corpus is reproducible across runs, core counts and retries,
    which rand()-derived words would not be.
    """
    cols = [
        F.concat(
            F.lit("w"),
            F.pmod(
                F.xxhash64(F.col("id") * words_per_doc + j), F.lit(n_distinct)
            ).cast("string"),
        )
        for j in range(words_per_doc)
    ]
    return spark.range(0, n_docs, 1, parts).select(F.concat_ws(" ", *cols).alias("text"))
