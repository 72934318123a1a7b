"""Tests for plan inspection on plans the vocab_topv guards do not cover."""

from __future__ import annotations

from sparklda.plan import plan_nodes


def test_plan_nodes_walks_a_plan_without_exchange(spark):
    """AQE does not wrap a plan with no exchange, so it has no initial plan."""
    assert "Range" in [n.nodeName() for n in plan_nodes(spark.range(5))]
