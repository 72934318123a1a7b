"""Plan inspection: the normalized physical plan as text, and its operators as nodes.

Regenerate the committed snapshots, ``plans/<query>.txt`` for every declared
query, with::

    python -m sparklda.plan SF_DIR
"""

from __future__ import annotations

import argparse
import re
from pathlib import Path

from pyspark.sql import DataFrame

import __spark_entry__ as entry_mod
from sparklda.session import get_spark

PLANS_DIR = Path(__file__).resolve().parent.parent / "plans"


def plan_text(df: DataFrame) -> str:
    """``df``'s physical plan as ``explain("formatted")`` prints it, without what
    changes between runs and machines: the scan's ``Location:`` line,
    expression ids (``#123``) and exchange plan ids."""
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    text = df._jdf.queryExecution().explainString(mode)
    lines = [ln for ln in text.splitlines(keepends=True) if not ln.startswith("Location:")]
    return re.sub(r"plan_id=\d+", "plan_id=N", re.sub(r"#\d+", "#N", "".join(lines)))


def plan_nodes(df: DataFrame) -> list:
    """The JVM ``SparkPlan`` operators of ``df``'s physical plan before AQE
    runs it, breadth-first, so every parent comes before its children.

    AQE wraps only plans that need an exchange. A plan it does not wrap is
    walked as executed, so it keeps its ``WholeStageCodegen`` and
    ``InputAdapter`` wrapper nodes."""
    root = df._jdf.queryExecution().executedPlan()
    nodes = [root.initialPlan() if root.nodeName() == "AdaptiveSparkPlan" else root]
    for node in nodes:
        children = node.children()
        nodes.extend(children.apply(i) for i in range(children.size()))
    return nodes


def exchanges(df: DataFrame) -> list:
    """The shuffle exchanges among ``plan_nodes(df)``."""
    return [n for n in plan_nodes(df) if n.nodeName() == "Exchange"]


def main() -> None:
    p = argparse.ArgumentParser(description="Write plans/<query>.txt for every declared query.")
    p.add_argument("sf_dir", help="fixture directory the queries read")
    sf_dir = p.parse_args().sf_dir
    spark = get_spark("sparklda-plan")
    for name, query in entry_mod.queries().items():
        (PLANS_DIR / f"{name}.txt").write_text(plan_text(query(spark, sf_dir)))


if __name__ == "__main__":
    main()
