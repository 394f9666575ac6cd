"""Physical-plan introspection helpers.

The engine has no custom Catalyst rules (SURVEY.md §4.2) — its plan obligations are
properties of the built-in optimizer output: filters pushed to the scan, columns
pruned, dimensions broadcast, Python evaluation only where a kernel is intended.
These helpers make those properties assertable (tests/test_plans.py) and easy to
check interactively while iterating on an operator (`print(explain(df))`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def explain(df: DataFrame, mode: str = "formatted") -> str:
    """`df.explain()` as a string (Spark only prints it)."""
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode)


def python_stage_count(df: DataFrame) -> int:
    """Number of Python-worker nodes in the executed plan: scalar UDF evals
    (ArrowEvalPython/BatchEvalPython) and the map/grouped-map stages
    (MapInArrow/MapInPandas/FlatMapGroupsInPandas).  Relational/dedup
    operators must keep this 0; the extraction kernel is exactly 1."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return sum(plan.count(node) for node in (
        "ArrowEvalPython", "BatchEvalPython", "MapInPandas",
        "FlatMapGroupsInPandas", "MapInArrow"))


def exchange_count(df: DataFrame) -> int:
    """Number of Exchange (shuffle/broadcast-exchange) nodes — the scale currency."""
    return explain(df).count("Exchange")
