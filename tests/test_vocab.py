"""Tests for the declared vocab_topv query.

Covers: DuckDB-oracle equivalence (what the driver checks), determinism,
and the r21 plan-shape guarantee — top-V is taken *before* any
single-partition rank, so the window never sees more than VOCAB_SIZE rows.
"""

from __future__ import annotations

import re
from pathlib import Path

import duckdb
import pytest
from pyspark.testing import assertDataFrameEqual

import __spark_entry__ as entry_mod
from sparklda.io import read_table, synth_docs

SF_DIR = "/root/testdata/sf0.001"
PLAN_SNAPSHOT = Path(__file__).resolve().parent.parent / "plans/r22/vocab_topv_after.txt"


def _vocab_topv(spark):
    return entry_mod.queries()["vocab_topv"](spark, SF_DIR)


def _shuffle_exchanges(df):
    """The ShuffleExchangeExec nodes of ``df``'s physical plan before AQE runs it."""

    def walk(node):
        yield node
        children = node.children()
        for i in range(children.size()):
            yield from walk(children.apply(i))

    plan = df._jdf.queryExecution().executedPlan().initialPlan()
    return [n for n in walk(plan) if n.getClass().getSimpleName() == "ShuffleExchangeExec"]


def test_vocab_topv_matches_duckdb_oracle(spark):
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_DIR}/documents.parquet'"
    )
    oracle = con.execute(entry_mod.oracle_sql()["vocab_topv"]).fetchall()
    assertDataFrameEqual(_vocab_topv(spark), oracle)


def test_vocab_topv_deterministic(spark):
    assertDataFrameEqual(_vocab_topv(spark), _vocab_topv(spark))


def test_vocab_topv_schema(spark):
    df = _vocab_topv(spark)
    assert [(f.name, f.dataType.simpleString()) for f in df.schema.fields] == [
        ("word", "string"),
        ("count", "bigint"),
        ("id", "bigint"),
    ]


@pytest.mark.parametrize("vocab_size", [0, -1])
def test_vocab_from_docs_rejects_vocab_size_below_one(spark, vocab_size):
    """0 used to return no rows silently and -1 to fail inside Spark's analyzer."""
    docs = read_table(spark, "documents", SF_DIR)
    with pytest.raises(ValueError, match="vocab_size"):
        entry_mod.vocab_from_docs(docs, vocab_size)


def _normalize_plan(text):
    """Drop what changes between runs and machines: comment headers, the
    scan's file location, expression ids and exchange plan ids."""
    lines = [
        ln
        for ln in text.strip().splitlines()
        if not ln.startswith("--") and not ln.startswith("Location:")
    ]
    return re.sub(r"plan_id=\d+", "plan_id=N", re.sub(r"#\d+", "#N", "\n".join(lines)))


def test_vocab_topv_plan_matches_snapshot(formatted_plan, spark):
    """The whole physical plan, including what the substring guards below do
    not pin, such as the 200-way hashpartitioning(word) Exchange."""
    plan = formatted_plan(_vocab_topv(spark))
    assert _normalize_plan(plan) == _normalize_plan(PLAN_SNAPSHOT.read_text())


def test_vocab_topv_plan_is_scale_safe(formatted_plan, spark):
    """The r21 optimization contract: one shuffle total (the groupBy), a
    distributed TakeOrderedAndProject for top-V, and no SinglePartition
    exchange dragging the full vocabulary through one task."""
    plan = formatted_plan(_vocab_topv(spark))
    assert "TakeOrderedAndProject" in plan
    assert "SinglePartition" not in plan
    n_exchange = sum(
        1
        for ln in plan.splitlines()
        if ln.strip().startswith("(") and "Exchange" in ln
    )
    assert n_exchange == 1, plan


def test_vocab_topv_shuffle_uses_serialized_writer(spark):
    """The writer choice is not in any plan text: it is the exchange's shuffle
    handle. With Spark's default bypassMergeThreshold the 200-way exchange
    gets a BypassMergeSortShuffleHandle, one file writer per reduce
    partition in every map task."""
    (exchange,) = _shuffle_exchanges(_vocab_topv(spark))
    handle = exchange.shuffleDependency().shuffleHandle()
    assert handle.getClass().getSimpleName() == "SerializedShuffleHandle"


def test_memory_pages_stay_below_g1_humongous_size(spark):
    """The writer buffers records in memory pages; on the 8 GB heap (4 MB G1
    regions) a page of 2 MB or more is a humongous object, which can start a
    concurrent mark cycle per query."""
    assert spark.sparkContext._jsc.sc().env().memoryManager().pageSizeBytes() == 1 << 20


def test_vocab_topv_scan_prunes_to_text(formatted_plan, spark):
    """Column pruning must reach the parquet scan (guide §6): the documents
    table has 5 columns, the query needs only `text`. A refactor that widens
    ReadSchema silently quintuples scan bytes at 100 TB."""
    plan = formatted_plan(_vocab_topv(spark))
    assert "ReadSchema: struct<text:string>" in plan, plan


def test_vocab_topv_partial_agg_precedes_shuffle(formatted_plan, spark):
    """Skew insurance (guide §2.5): the map-side partial_count HashAggregate
    must sit below the hashpartitioning(word) Exchange, so each map task
    ships at most one row per distinct word — the Zipfian-head word can
    contribute <= #map-tasks shuffle rows, never its corpus frequency."""
    plan = formatted_plan(_vocab_topv(spark))
    i_partial = plan.index("partial_count")
    i_exchange = plan.index("hashpartitioning(word")
    # In `formatted` output, operator detail blocks appear bottom-up in
    # execution order, so the partial aggregate's block precedes the
    # Exchange's block iff it executes first (feeds the shuffle).
    assert i_partial < i_exchange, plan


def test_vocab_boundary_ties_at_cutoff_match_oracle(spark, tmp_path):
    """ADVICE r21: the fixture corpus has only 31 distinct words, so the
    fixture tests never exercise the top-V cutoff — the only place where
    top-V-then-rank could diverge from the oracle's rank-then-limit. This
    builds a corpus with MORE distinct words than V, including a run of
    count-ties straddling the cutoff, and checks Spark against DuckDB with
    the same parameterized V."""
    v = 10
    counts = {}
    for i in range(5):  # unique head counts: ranks 0..4
        counts[f"hi{i}"] = 100 - i
    for c in "abcdefghij":  # 10-way tie at count 50: ranks 5..14 — the
        counts[f"tie_{c}"] = 50  # cutoff at V=10 falls INSIDE this group
    for i in range(20):  # tail below the cutoff
        counts[f"lo{i:02d}"] = 5
    assert len(counts) == 35 > v
    rows = [(i, " ".join([w] * n)) for i, (w, n) in enumerate(sorted(counts.items()))]
    pq = str(tmp_path / "docs.parquet")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(pq)

    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{pq}/*.parquet'")
    oracle = con.execute(entry_mod.vocab_oracle_sql(v)).fetchall()
    assert len(oracle) == v
    assertDataFrameEqual(entry_mod.vocab_from_docs(spark.read.parquet(pq), v), oracle)
    # the cutoff row really is inside the tie group (tie_a..tie_e kept,
    # tie_f.. dropped by word ASC) — i.e. the boundary was exercised
    kept = {w for w, _, _ in oracle}
    assert "tie_e" in kept and "tie_f" not in kept


def test_vocab_independent_of_shuffle_width(spark, tmp_path):
    """Same rows as DuckDB whatever the exchange width: 1, 3 (the input
    partition count) and 200 (the default) reduce partitions, on a corpus
    with many more distinct words than V and count ties at the cutoff."""
    v = 100
    pq = str(tmp_path / "docs.parquet")
    synth_docs(spark, n_docs=300, words_per_doc=10, n_distinct=500, parts=3).write.parquet(pq)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{pq}/*.parquet'")
    oracle = con.execute(entry_mod.vocab_oracle_sql(v)).fetchall()
    assert len(oracle) == v
    # the first word past the cutoff ties with the last one kept
    assert con.execute(entry_mod.vocab_oracle_sql(v + 1)).fetchall()[-1][1] == oracle[-1][1]

    key = "spark.sql.shuffle.partitions"
    saved = spark.conf.get(key)
    try:
        for width in (1, 3, 200):
            spark.conf.set(key, str(width))
            df = entry_mod.vocab_from_docs(spark.read.parquet(pq), v)
            (exchange,) = _shuffle_exchanges(df)
            assert exchange.outputPartitioning().numPartitions() == width
            assertDataFrameEqual(df, oracle)
    finally:
        spark.conf.set(key, saved)
