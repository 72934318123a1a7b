"""The paired-run claim rule, fed synthetic samples for each verdict."""

from __future__ import annotations

import random

from perfbench import compare


def _around(center: float, spread: float, n: int = 10, seed: int = 0) -> list[float]:
    rng = random.Random(seed)
    return [center * (1 + rng.uniform(-spread, spread)) for _ in range(n)]


def test_gain_needs_pair_wins_and_medians_apart():
    parent = _around(1.0, 0.02, seed=1)
    change = _around(0.8, 0.02, seed=2)
    assert compare.verdict(parent, change, "lower", 0.1) == "gain"
    # The same numbers read as throughput are a regression, not a gain.
    assert compare.verdict(parent, change, "higher", 0.1) == "regression"


def test_higher_is_better_gain():
    assert compare.verdict(_around(100, 0.02, seed=1), _around(130, 0.02, seed=2), "higher", 0.1) == "gain"


def test_a_a_is_no_gain():
    parent = _around(1.0, 0.02, seed=3)
    change = _around(1.0, 0.02, seed=4)
    assert compare.verdict(parent, change, "lower", 0.1) == "no gain"


def test_eight_of_ten_wins_is_no_gain():
    parent = [1.0] * 10
    change = [0.9] * 8 + [1.1] * 2
    assert compare.verdict(parent, change, "lower", 0.25) == "no gain"


def test_regression_beyond_bound():
    parent = _around(1.0, 0.01, seed=5)
    change = _around(1.2, 0.01, seed=6)
    assert compare.verdict(parent, change, "lower", 0.1) == "regression"
    assert compare.verdict(parent, change, "lower", 0.25) == "no gain"


def test_spread_wider_than_bound_is_unresolved():
    parent = _around(1.0, 0.5, seed=7)
    change = _around(1.05, 0.5, seed=8)
    assert compare.verdict(parent, change, "lower", 0.1) == "unresolved"


def test_compare_one_row_per_workload():
    spec = {
        "end_to_end": [
            {"name": "query_s_p50", "unit": "s", "better": "lower", "bound": 0.1},
            {"name": "tokens_per_s", "unit": "tokens/s", "better": "higher", "bound": 0.1},
        ]
    }

    def runs(center, seed):
        return [
            {"query_s_p50": t, "tokens_per_s": 1e6 / t} for t in _around(center, 0.02, seed=seed)
        ]

    samples = {
        "a": {"parent": runs(1.0, 1), "change": runs(0.7, 2)},
        "b": {"parent": runs(1.0, 3), "change": runs(1.0, 4)},
    }
    rows = compare.compare(spec, samples)
    assert [r["workload"] for r in rows] == ["a", "b"]
    assert {m: v["verdict"] for m, v in rows[0]["metrics"].items()} == {
        "query_s_p50": "gain",
        "tokens_per_s": "gain",
    }
    assert {m: v["verdict"] for m, v in rows[1]["metrics"].items()} == {
        "query_s_p50": "no gain",
        "tokens_per_s": "no gain",
    }
