"""sparklda — a PySpark-native rewrite of the reference LDA-TopicModeling-using-PySpark
job, DataFrame-first.

Today the engine computes one declared query, ``vocab_topv`` (corpus ->
tokens -> word counts -> deterministic top-V dictionary), declared in
``__spark_entry__.py`` and checked against a DuckDB oracle.

Modules
-------
session     SparkSession bootstrap (``local[$SPARK_GRAFT_CPUS]``) and the driver
            JVM's cached class-data archive
io          fixture reader and synthetic corpus
text        the tokenization rule and the top-V dictionary, in Spark
            (``vocab_from_docs``, one SQL statement) and in DuckDB SQL
            (``vocab_oracle_sql``)
plan        normalized plan text, plan operator nodes, and the snapshot
            tool ``python -m sparklda.plan SF_DIR`` (imported only by tests)
"""
