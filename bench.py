"""Bench harness (driver contract).

Reads the data directory from ``$SPARK_GRAFT_SF_DIR`` and the core count
from ``$SPARK_GRAFT_CPUS`` (master ``local[$SPARK_GRAFT_CPUS]`` via
``sparklda.session.get_spark``), times every ``__spark_entry__.queries()``
entry, and prints exactly ONE JSON line::

    {"metric": ..., "value": N, "unit": "sec", "queries": {name: sec}, "sf": ...}

Methodology (fixed, so numbers stay comparable round over round):

* the timed action is the noop sink (``format("noop")``): it computes
  every column of every row and discards the result, so we time the
  computation, not an output format;
* per query: 1 untimed warmup run (JVM/codegen warm, file listing cached),
  then ``RUNS`` timed runs, reporting the median;
* ``value`` is the sum of the per-query medians **of the declared queries
  only**, so totals stay comparable when a probe is added to ``queries``.

The synthetic parallelism probe, ``synth_vocab_80m``, is one more key of
``queries``, beside the declared ones, because ``queries`` is diffed
round over round.
The sf0.1 fixture is a single small parquet file — one scan task, 31
distinct words — so the declared query cannot show parallelism at any
SF the contract supplies: added cores give it nothing to share.
The probe generates a deterministic in-process corpus (``spark.range`` +
expressions, 64 partitions, 80M tokens, 100k distinct words), runs the
exact declared transformation (``vocab_from_docs``), and is timed with the
same noop-median methodology, but after 2 warmups instead of 1: the JIT is
still finishing this expression tree after the first. On a 4-vCPU host at
4 cores, the median of runs 2-4 read 1-8 % above that of runs 3-5 in five
of six processes and equal in the sixth; at 2 cores it read 9 % below to
1 % above. Its time is reported in ``queries`` but deliberately NOT
added to ``value``. Nothing is cached or persisted: every run regenerates
the corpus from ``spark.range``.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

from pyspark.sql import DataFrame

import __spark_entry__ as entry_mod
from sparklda.io import synth_docs
from sparklda.session import get_spark
from sparklda.text import vocab_from_docs

# Synthetic probe sizing: a compute-bound map stage (concat/hash-generate +
# split/explode + map-side partial agg of 80M tokens over 64 input
# partitions), so added cores have work to share; 100k distinct words keeps
# the shuffle small, so the time reflects compute, not local-mode shuffle
# bandwidth. On a 4-vCPU host its median ran 7.7-10.5 s at 4 cores and
# 14.1-18.4 s at 2 (six processes each).
# Fixed partition count so the work is identical at every $SPARK_GRAFT_CPUS.
SYNTH = {"n_docs": 4_000_000, "words_per_doc": 20, "n_distinct": 100_000, "parts": 64}
RUNS = 3


def time_noop(df: DataFrame) -> float:
    """Seconds to compute every row of ``df`` into the noop sink, which discards them."""
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def _sf_from_dir(sf_dir: str) -> float | None:
    tail = os.path.basename(sf_dir.rstrip("/"))
    if tail.startswith("sf"):
        try:
            return float(tail[2:])
        except ValueError:
            return None
    return None


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("sparklda-bench")

    def bench_one(build, warmups: int = 1) -> float:
        for _ in range(warmups):  # untimed; a fresh DataFrame every run
            time_noop(build())
        return round(statistics.median(time_noop(build()) for _ in range(RUNS)), 4)

    per_query: dict[str, float] = {}
    for name, fn in entry_mod.queries().items():
        per_query[name] = bench_one(lambda: fn(spark, sf_dir))
    value = round(sum(per_query.values()), 4)  # declared queries only

    # Additive parallelism probe (see module docstring); not part of `value`.
    per_query["synth_vocab_80m"] = bench_one(
        lambda: vocab_from_docs(synth_docs(spark, **SYNTH)),
        warmups=2,
    )

    sf = _sf_from_dir(sf_dir)
    if sf is None:
        print(f"bench: cannot parse scale factor from {sf_dir!r}; "
              'emitting "sf": null', file=sys.stderr)

    out = {
        "metric": "declared_query_suite_noop_median_sec",
        "value": value,
        "unit": "sec",
        "queries": per_query,
        "sf": sf,
    }
    # The ONE contract line goes to stdout; everything else (Spark logs) is stderr.
    print(json.dumps(out), flush=True)
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
