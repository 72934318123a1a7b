"""Seeded synthetic corpora for the benchmark's generated workloads.

The corpora are made with NumPy and PyArrow, outside the engine, so the
cost of making them does not depend on the code under test. The engine only
ever sees the parquet files written here, laid out like the fixture's
``documents`` table (``<dir>/documents.parquet/part-*.parquet``).

Words are lowercase ``[a-z]{7}`` strings, so they match the fixture's
``^[a-z ]*$`` text shape. Word rank ``r`` maps to a word through a seeded
bijection of ``[0, 26**7)``, so the alphabetical order of the words, which
breaks count ties at the top-V cutoff, is unrelated to their frequency.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

WORD_LEN = 7
_WORD_SPACE = 26**WORD_LEN
# Documents hold 10..99 words, uniformly, as the fixture's ``documents``
# table does (5 000 documents, 270 704 tokens: 54 words on average). Words
# per document set how much of the scan, split and explode cost is per row.
DOC_WORDS = (10, 100)
MEAN_DOC_WORDS = (DOC_WORDS[0] + DOC_WORDS[1] - 1) / 2


@dataclass(frozen=True)
class CorpusSpec:
    """Shape of one generated corpus: word rank ``k`` (1-based) of
    ``universe`` has probability proportional to ``k**-zipf_s``."""

    tokens: int
    universe: int
    zipf_s: float
    files: int


SPECS: dict[str, CorpusSpec] = {
    # Zipf s = 1 over 4M words: the combine absorbs only the head, so
    # over a hundred thousand distinct words cross the shuffle.
    "zipf-wide": CorpusSpec(tokens=300_000, universe=4_000_000, zipf_s=1.0, files=8),
}


def _words(ranks: np.ndarray, rng: np.random.Generator) -> pa.Array:
    """Map word ranks to distinct ``[a-z]{7}`` strings via ``a*r + b mod 26**7``."""
    # a is odd and not a multiple of 13, hence coprime to 26**7: a bijection.
    a = int(rng.integers(1, _WORD_SPACE // 2)) * 2 + 1
    while a % 13 == 0:
        a += 2
    b = int(rng.integers(0, _WORD_SPACE))
    ids = (ranks.astype(np.int64) * a + b) % _WORD_SPACE  # < 2**63 for ranks < 1e9
    digits = (ids[:, None] // (26 ** np.arange(WORD_LEN, dtype=np.int64))) % 26
    letters = (digits + ord("a")).astype(np.uint8)
    return pa.array(letters.view(f"S{WORD_LEN}").ravel()).cast(pa.string())


def _ranks(spec: CorpusSpec, n: int, rng: np.random.Generator) -> np.ndarray:
    cdf = np.cumsum(np.arange(1, spec.universe + 1, dtype=np.float64) ** -spec.zipf_s)
    return np.searchsorted(cdf, rng.random(n) * cdf[-1], side="right")


def generate(spec: CorpusSpec, seed: int, out_dir: str) -> str:
    """Write the corpus for ``seed`` under ``out_dir``; return the table path.

    The same ``(spec, seed)`` always writes byte-identical files.
    """
    rng = np.random.default_rng(seed)
    lengths = rng.integers(*DOC_WORDS, size=round(spec.tokens / MEAN_DOC_WORDS))
    offsets = np.concatenate([[0], np.cumsum(lengths)]).astype(np.int32)
    n_tokens = int(offsets[-1])
    uniq, inverse = np.unique(_ranks(spec, n_tokens, rng), return_inverse=True)
    tokens = _words(uniq, rng).take(pa.array(inverse.astype(np.int32)))
    text = pc.binary_join(pa.ListArray.from_arrays(pa.array(offsets), tokens), " ")
    n_docs = len(lengths)
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": text,
            "lang": pa.array(["en"] * n_docs),
            "source": pa.array(["synthetic"] * n_docs),
            "n_chars": pc.cast(pc.utf8_length(text), pa.int64()),
        }
    )
    table_dir = os.path.join(out_dir, "documents.parquet")
    os.makedirs(table_dir, exist_ok=True)
    bounds = np.linspace(0, n_docs, spec.files + 1).astype(int)
    for i in range(spec.files):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(part, os.path.join(table_dir, f"part-{i:05d}.parquet"))
    return table_dir


def describe(table_path: str) -> dict:
    """Input sizes of a ``documents`` table (one file or a directory of files)."""
    if os.path.isdir(table_path):
        files = sorted(os.path.join(table_path, f) for f in os.listdir(table_path))
    else:
        files = [table_path]
    text = pq.ParquetDataset(files).read(columns=["text"]).column("text")
    words = pc.list_flatten(pc.split_pattern(text, " "))
    counts = pc.value_counts(pc.filter(words, pc.not_equal(words, ""))).field("counts")
    top = np.sort(counts.to_numpy())[::-1]
    n_tokens = int(top.sum())
    return {
        "docs": len(text),
        "tokens": n_tokens,
        "distinct": len(top),
        "files": len(files),
        "bytes": sum(os.path.getsize(f) for f in files),
        "top_word_share": float(top[0] / n_tokens),
        "head10k_share": float(top[:10_000].sum() / n_tokens),
    }
