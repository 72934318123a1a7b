"""Tests for the declared queries and the vocabulary they build.

Every ``__spark_entry__.queries()`` entry gets, by name, the checks that its
``oracle_sql()`` entry and its ``plans/<name>.txt`` define: its rows, column
names and types against DuckDB on the sf0.001 and sf0.01 fixtures, and its
plan against the snapshot. The rest covers ``vocab_topv`` and
``vocab_from_docs``: the DuckDB oracle on generated corpora and on odd text,
and the plan shape that keeps the query scale-safe — top-V is taken *before*
any single-partition rank, so the window never sees more than VOCAB_SIZE rows.
"""

from __future__ import annotations

import os

import duckdb
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.testing import assertDataFrameEqual

import __spark_entry__ as entry_mod
from sparklda.io import read_table, synth_docs
from sparklda.plan import PLANS_DIR, exchanges, plan_nodes, plan_text
from sparklda.text import vocab_from_docs, vocab_oracle_sql

SF_DIR = "/root/testdata/sf0.001"
# the scale the DuckDB oracle check runs at (TESTDATA.md)
ORACLE_SF_DIR = os.path.join(os.path.dirname(SF_DIR), "sf0.01")


def _vocab_topv(spark):
    return entry_mod.queries()["vocab_topv"](spark, SF_DIR)


def _duckdb(documents, sql):
    """DuckDB's rows for ``sql`` over ``documents``, an Arrow table."""
    con = duckdb.connect()
    con.register("documents", documents)
    return con.execute(sql).fetchall()


def _fixture_oracle(spark, sf_dir, name):
    """DuckDB's result for ``oracle_sql()[name]`` on a fixture, as a DataFrame,
    so that ``assertDataFrameEqual`` compares column names and types as well
    as rows (it skips the schema when either side is a list of rows)."""
    con = duckdb.connect()
    # pyarrow reads the fixture, so the oracle does not depend on Spark's reader
    con.register("documents", pq.read_table(f"{sf_dir}/documents.parquet"))
    return spark.createDataFrame(con.sql(entry_mod.oracle_sql()[name]).arrow())


@pytest.mark.parametrize("sf_dir", [SF_DIR, ORACLE_SF_DIR], ids=os.path.basename)
@pytest.mark.parametrize("name", entry_mod.queries())
def test_declared_query_matches_duckdb_oracle(spark, name, sf_dir):
    """Each declared query against the oracle SQL the contract declares for
    it, at sf0.01 too, the scale the driver grades."""
    assertDataFrameEqual(entry_mod.queries()[name](spark, sf_dir), _fixture_oracle(spark, sf_dir, name))


def test_entry_reads_sf_dir_from_env(spark, monkeypatch):
    """``entry`` is the smoke query; it reads ``$SPARK_GRAFT_SF_DIR``. Its
    rows at sf0.01 differ from those at the default sf0.001 in their counts."""
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", ORACLE_SF_DIR)
    oracle = _fixture_oracle(spark, ORACLE_SF_DIR, "vocab_topv")
    assert sorted(oracle.collect()) != sorted(_fixture_oracle(spark, SF_DIR, "vocab_topv").collect())
    assertDataFrameEqual(entry_mod.entry(spark), oracle)


@pytest.mark.parametrize("vocab_size", [0, -1, 2.5, True, "10", 2**31 - 16, 2**31])
def test_vocab_from_docs_rejects_bad_vocab_size(spark, vocab_size):
    """0 used to return no rows silently, -1 to fail inside Spark's analyzer,
    2.5, True and 2**31 to fail inside ``limit`` as a Py4JError, and "10" with
    a bare TypeError from ``<``. 2**31 - 16, the session's
    ``topKSortFallbackThreshold``, planned the whole vocabulary's sort on one
    partition."""
    docs = read_table(spark, "documents", SF_DIR)
    with pytest.raises(ValueError, match="vocab_size"):
        vocab_from_docs(docs, vocab_size)


def test_vocab_from_docs_leaves_no_temp_view(spark):
    """``spark.sql`` registers ``docs`` as a ``_pyspark_<uuid>`` temp view for
    the statement; it must be gone after the call, also when analysis fails
    on a DataFrame with no ``text`` column."""

    def views():
        return [t.name for t in spark.catalog.listTables() if t.name.startswith("_pyspark_")]

    vocab_from_docs(read_table(spark, "documents", SF_DIR))
    assert views() == []
    with pytest.raises(AnalysisException, match="text"):
        vocab_from_docs(spark.createDataFrame([("a b",)], "body string"))
    assert views() == []


@pytest.mark.parametrize("name", entry_mod.queries())
def test_declared_query_plan_matches_snapshot(spark, name):
    """The whole physical plan, including what the operator guards below do
    not pin, such as the width of a hashpartitioning Exchange.
    Every declared query has an oracle and a snapshot, and every snapshot a
    declared query. Regenerate the snapshots with
    ``python -m sparklda.plan SF_DIR``."""
    queries = entry_mod.queries()
    assert {p.stem for p in PLANS_DIR.glob("*.txt")} == queries.keys() == entry_mod.oracle_sql().keys()
    assert plan_text(queries[name](spark, SF_DIR)) == (PLANS_DIR / f"{name}.txt").read_text()


def test_vocab_topv_plan_is_scale_safe(spark):
    """One shuffle total, the groupBy's hash exchange, so no SinglePartition
    exchange drags the full vocabulary through one task; and a distributed
    TakeOrderedAndProject for top-V, so the rank sees at most V rows."""
    df = _vocab_topv(spark)
    (exchange,) = exchanges(df)
    assert exchange.outputPartitioning().getClass().getSimpleName() == "HashPartitioning"
    assert "TakeOrderedAndProject" in [n.nodeName() for n in plan_nodes(df)]


def test_vocab_topv_shuffle_uses_serialized_writer(spark):
    """The writer choice is not in any plan text: it is the exchange's shuffle
    handle. With Spark's default bypassMergeThreshold the 200-way exchange
    gets a BypassMergeSortShuffleHandle, one file writer per reduce
    partition in every map task."""
    (exchange,) = exchanges(_vocab_topv(spark))
    handle = exchange.shuffleDependency().shuffleHandle()
    assert handle.getClass().getSimpleName() == "SerializedShuffleHandle"


def test_memory_pages_stay_below_g1_humongous_size(spark):
    """The writer buffers records in memory pages; on the 8 GB heap (4 MB G1
    regions) a page of 2 MB or more is a humongous object, which can start a
    concurrent mark cycle per query."""
    assert spark.sparkContext._jsc.sc().env().memoryManager().pageSizeBytes() == 1 << 20


def test_vocab_topv_scan_prunes_to_text(spark):
    """Column pruning must reach the parquet scan: the documents table has 5
    columns, the query needs only `text`. A refactor that widens ReadSchema
    silently quintuples the bytes scanned."""
    # Spark's nodeName for a file scan ends in a space.
    (scan,) = [n for n in plan_nodes(_vocab_topv(spark)) if n.nodeName() == "Scan parquet "]
    assert scan.requiredSchema().simpleString() == "struct<text:string>"


def test_vocab_topv_partial_agg_precedes_shuffle(spark):
    """Skew insurance: the map-side partial_count HashAggregate
    must feed the hashpartitioning(word) Exchange, so each map task ships at
    most one row per distinct word — the Zipfian-head word can contribute
    <= #map-tasks shuffle rows, never its corpus frequency."""
    (exchange,) = exchanges(_vocab_topv(spark))
    agg = exchange.child()
    assert agg.nodeName() == "HashAggregate"
    exprs = agg.aggregateExpressions()
    assert [exprs.apply(i).mode().toString() for i in range(exprs.size())] == ["Partial"]


def test_vocab_independent_of_shuffle_width(spark):
    """Same rows as DuckDB whatever the input partition count (1, 3, 64) and
    exchange width (1, 3 and the default 200 reduce partitions). The corpus
    has 500 distinct words against V = 100, and the cutoff falls inside a
    count tie: the only place where top-V-then-rank could diverge from the
    oracle's rank-then-limit."""
    v = 100

    def docs(parts):
        # the words depend only on the row id, so every partitioning holds the same rows
        return synth_docs(spark, n_docs=300, words_per_doc=10, n_distinct=500, parts=parts)

    table = docs(3).toArrow()
    oracle = _duckdb(table, vocab_oracle_sql(v))
    assert len(oracle) == v
    # the first word past the cutoff ties with the last one kept
    assert _duckdb(table, vocab_oracle_sql(v + 1))[-1][1] == oracle[-1][1]

    key = "spark.sql.shuffle.partitions"
    saved = spark.conf.get(key)
    try:
        # one input partition already groups every word, so Spark plans no
        # shuffle and the width cannot change its plan
        for parts, width in [(1, 200)] + [(p, w) for p in (3, 64) for w in (1, 3, 200)]:
            spark.conf.set(key, str(width))
            df = vocab_from_docs(docs(parts), v)
            partitionings = [e.outputPartitioning() for e in exchanges(df)]
            assert [(p.getClass().getSimpleName(), p.numPartitions()) for p in partitionings] == (
                [("HashPartitioning", width)] if parts > 1 else []
            )
            assertDataFrameEqual(df, oracle)
    finally:
        spark.conf.set(key, saved)


ODD_TEXT = [None, "", "   ", "a  b", " a", "b ", "  a b  ", "a\tb", "\tA", "A a B b"]
# its distinct words: a and b (4 each), A, B, "a\tb" and "\tA" (1 each)
ODD_TEXT_WORDS = 6


@pytest.mark.parametrize(
    ("texts", "v"),
    [([], 10), (ODD_TEXT, 1)] + [(ODD_TEXT, ODD_TEXT_WORDS + k) for k in (1, 0, -1)],
    ids=["empty-corpus", "v=1", "odd-text", "v=d", "v=d-1"],
)
def test_vocab_odd_text_matches_oracle(spark, texts, v):
    """Null, empty and all-space text, double, leading and trailing spaces,
    tabs (not separators) and mixed case (kept apart), and a corpus with no
    documents: Spark's rows are DuckDB's. V is one past the d distinct words,
    exactly d, 1, where the cutoff splits the a/b tie, and d - 1, where it
    falls inside the count-1 tie and keeps "\\tA", "A" and "B" but not
    "a\\tb": the byte order of tab, upper and lower case decides the cut."""
    docs = spark.createDataFrame([(t,) for t in texts], "text string")
    oracle = _duckdb(docs.toArrow(), vocab_oracle_sql(v))
    assert len(oracle) == min(v, ODD_TEXT_WORDS if texts else 0)
    assertDataFrameEqual(vocab_from_docs(docs, v), oracle)
