"""Paired parent/change runs of the benchmark, judged by the claim rule.

Usage::

    python3 perfbench/compare.py --parent ../parent-checkout --change .

Both sides run this directory's ``run.py``, so the benchmark code is the
same; each side's own program is imported from its checkout. Every
workload in ``BENCHMARK.json`` runs ``PAIRS`` pairs; pair ``i`` uses seed
``seed_base + i`` on both sides, and alternates which side runs first. The
bounds and the run length come from ``BENCHMARK.json`` next to this
directory.

Per end-to-end metric and workload the verdict is:

* ``gain``: the change wins at least 9 of 10 pairs (ties count for
  neither) and the medians differ by more than the parent's IQR;
* ``unresolved``: either side's IQR is wider than the metric's bound,
  unless every change run reads better than every parent run;
* ``regression``: the change's median is worse than the parent's by more
  than the bound;
* ``no gain``: none of the above.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
SPEC_PATH = os.path.join(os.path.dirname(BENCH_DIR), "BENCHMARK.json")
PAIRS = 10  # the fewest the claim rule allows


def quartiles(values: list[float]) -> tuple[float, float, float]:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def verdict(parent: list[float], change: list[float], better: str, bound: float) -> str:
    """Apply the claim rule to paired samples (``parent[i]`` pairs with ``change[i]``)."""
    sign = 1.0 if better == "higher" else -1.0
    p1, p_med, p3 = quartiles(parent)
    c1, c_med, c3 = quartiles(change)
    wins = sum(1 for p, c in zip(parent, change) if sign * (c - p) > 0)
    all_better = min(sign * c for c in change) > max(sign * p for p in parent)
    if wins >= 0.9 * len(parent) and sign * (c_med - p_med) > p3 - p1:
        return "gain"
    if ((p3 - p1) / p_med > bound or (c3 - c1) / c_med > bound) and not all_better:
        return "unresolved"
    if -sign * (c_med - p_med) > bound * p_med:
        return "regression"
    return "no gain"


def run_once(checkout: str, workload: str, seed: int, seconds: int) -> dict:
    cmd = [
        sys.executable,
        os.path.join(BENCH_DIR, "run.py"),
        "--workload", workload,
        "--seed", str(seed),
        "--seconds", str(seconds),
        "--trace", "0",
    ]
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True, check=False)
    if proc.returncode != 0:
        raise RuntimeError(f"{cmd} in {checkout} exited {proc.returncode}:\n{proc.stderr[-4000:]}")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    if not result["correct"]:
        raise RuntimeError(f"{cmd} in {checkout} reported incorrect output: {result}")
    return {k: m["value"] for k, m in result["metrics"].items()}


def compare(spec: dict, samples: dict) -> list[dict]:
    """One row per workload: each metric's verdict, medians and quartiles."""
    rows = []
    for workload, sides in samples.items():
        row = {"workload": workload, "pairs": len(sides["parent"]), "metrics": {}}
        for m in spec["end_to_end"]:
            parent = [s[m["name"]] for s in sides["parent"]]
            change = [s[m["name"]] for s in sides["change"]]
            row["metrics"][m["name"]] = {
                "verdict": verdict(parent, change, m["better"], m["bound"]),
                "parent_q": quartiles(parent),
                "change_q": quartiles(change),
                "unit": m["unit"],
                "bound": m["bound"],
            }
        rows.append(row)
    return rows


def print_table(rows: list[dict]) -> None:
    names = list(rows[0]["metrics"])
    print("| workload | pairs | " + " | ".join(names) + " |")
    print("|---" * (len(names) + 2) + "|")
    for row in rows:
        cells = []
        for name in names:
            m = row["metrics"][name]
            delta = m["change_q"][1] / m["parent_q"][1] - 1
            cells.append(f"{m['verdict']} ({delta:+.1%})")
        print(f"| {row['workload']} | {row['pairs']} | " + " | ".join(cells) + " |")
    print()
    for row in rows:
        for name, m in row["metrics"].items():
            p, c = m["parent_q"], m["change_q"]
            print(
                f"{row['workload']:<14} {name:<13} parent {p[1]:.6g} [{p[0]:.6g}, {p[2]:.6g}]  "
                f"change {c[1]:.6g} [{c[0]:.6g}, {c[2]:.6g}] {m['unit']}  bound {m['bound']:.0%}"
            )


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description="Paired parent/change benchmark runs.")
    p.add_argument("--parent", required=True, help="checkout of the parent commit")
    p.add_argument("--change", required=True, help="checkout of the change")
    p.add_argument("--seed-base", type=int, default=1000)
    p.add_argument("--out", help="write every sample and verdict to this JSON file")
    args = p.parse_args(argv)
    with open(SPEC_PATH) as fh:
        spec = json.load(fh)
    workloads = [w["name"] for w in spec["workloads"]]
    sides = {"parent": os.path.abspath(args.parent), "change": os.path.abspath(args.change)}
    samples = {w: {"parent": [], "change": []} for w in workloads}
    for w in workloads:
        for i in range(PAIRS):
            order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
            for side in order:
                values = run_once(sides[side], w, args.seed_base + i, spec["run_seconds"])
                samples[w][side].append(values)
                print(f"{w} pair {i} {side}: {values}", file=sys.stderr, flush=True)
    rows = compare(spec, samples)
    print_table(rows)
    if args.out:
        with open(args.out, "w") as fh:
            json.dump({"samples": samples, "rows": rows}, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
