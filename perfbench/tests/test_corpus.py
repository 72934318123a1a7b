"""The seeded corpus generator: deterministic per seed, sized as stated."""

from __future__ import annotations

import hashlib
import os

import pytest

from perfbench import corpus


def _digests(table_dir: str) -> dict[str, str]:
    out = {}
    for name in sorted(os.listdir(table_dir)):
        with open(os.path.join(table_dir, name), "rb") as fh:
            out[name] = hashlib.sha256(fh.read()).hexdigest()
    return out


@pytest.mark.parametrize("workload", sorted(corpus.SPECS))
def test_same_seed_same_bytes_other_seed_other_bytes(workload, tmp_path):
    spec = corpus.SPECS[workload]
    a = _digests(corpus.generate(spec, 7, str(tmp_path / "a")))
    b = _digests(corpus.generate(spec, 7, str(tmp_path / "b")))
    c = _digests(corpus.generate(spec, 8, str(tmp_path / "c")))
    assert len(a) == spec.files
    assert a == b
    assert all(a[f] != c[f] for f in a)


def test_zipf_wide_sizes(tmp_path):
    spec = corpus.SPECS["zipf-wide"]
    sizes = corpus.describe(corpus.generate(spec, 3, str(tmp_path)))
    assert abs(sizes["tokens"] / spec.tokens - 1) < 0.02
    assert sizes["files"] == spec.files
    # Document length follows the fixture's 10..99 words (54 on average).
    assert 53 <= sizes["tokens"] / sizes["docs"] <= 56
    # Far more distinct words than V = 10 000, but a bounded share of tokens.
    assert 95_000 <= sizes["distinct"] <= 125_000
    # s = 1 over 4M ranks: rank 1 holds 1 / H(4M) ~ 6.3% of the tokens and the
    # top 10 000 ranks H(10 000) / H(4M) ~ 62%.
    assert 0.055 <= sizes["top_word_share"] <= 0.072
    assert 0.58 <= sizes["head10k_share"] <= 0.67


def test_describe_fixture():
    sizes = corpus.describe(
        os.path.join(os.path.dirname(corpus.__file__), "fixture", "sf0.1", "documents.parquet")
    )
    assert (sizes["docs"], sizes["tokens"], sizes["distinct"]) == (5_000, 270_704, 31)
